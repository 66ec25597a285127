"""Every ``pypdfocr_spark`` module is reachable from a real entry point,
or is named in an allowlist with a reason (COVERAGE.md, "Modules outside
the entry-point import closure").

The closure is computed statically: each file is parsed with ``ast`` and
every ``import`` / ``from ... import`` statement anywhere in it (module
level or inside a function) is followed into the package. So is an
import line inside a string constant: the benchmark scripts ship the code
their child processes run as strings. Nothing is imported, so the walk is
cheap and sees lazy imports too. A new module nothing reachable calls
fails this test, and so does an allowlist entry that something reachable
now imports.

The same holds one level down for every module outside ``REACH_PENDING``:
each top-level function and class must be named by an entry file, by a
module-level statement of the package other than an import, or by the
body of another reached definition. A ``REACH_PENDING`` entry whose module is now fully reached
fails too, so the set can only shrink. Each module-level name such a
module assigns (a constant, a schema, a compiled pattern) must be named
the same way by something other than its own assignment.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "pypdfocr_spark"

# Reached from tests only; each has a one-line reason in COVERAGE.md.
ALLOWED_UNREACHED = {
    "artifact",
    "kernels.merge",
    "sinks",
}

# Modules not yet checked definition by definition: each still holds
# top-level code that only tests name, awaiting a keep-or-delete decision
# (ROADMAP.md §2 and §6).
REACH_PENDING = {
    "artifact": "searchable-PDF writer only tests name; cli writes it or it goes (§2)",
    "kernels.merge": "searchable-PDF text-layer geometry, decided with artifact (§2)",
    "lineage": "lineage_table / lineage_rows, which cli is to read after a commit (§6)",
    "sinks": "DirsSink and original_move_manifest wait for cli's filing switch (§2)",
}


def _entry_files() -> "list[Path]":
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py",
             ROOT / PKG / "cli.py"]
    files += sorted((ROOT / "scripts").glob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))  # perfbench/tests is a subdirectory
    return files


def _package_modules(root: Path = ROOT, pkg: str = PKG) -> "dict[str, Path]":
    """Dotted module name (``pypdfocr_spark.kernels.merge``) → file."""
    mods = {}
    for path in (root / pkg).rglob("*.py"):
        parts = path.relative_to(root).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _import_nodes(tree: ast.AST):
    """The import statements of a parsed file, plus those of the code it
    carries in string constants: each ``;``-separated piece of a string's
    lines that parses on its own as an import."""
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            yield node
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            for line in node.value.splitlines():
                for piece in line.split(";"):
                    piece = piece.strip()
                    if not piece.startswith(("import ", "from ")):
                        continue
                    try:
                        stmt = ast.parse(piece).body[0]
                    except SyntaxError:
                        continue
                    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                        yield stmt


def _imports(path: Path, name: "str | None", mods: "dict[str, Path]") -> "set[str]":
    """Package modules imported by the file; ``name`` is the file's own
    dotted module name when it is inside the package (for relative imports)."""
    is_pkg = path.name == "__init__.py"
    found = set()
    for node in _import_nodes(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            bases = [alias.name for alias in node.names]
            aliases = []
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = name.split(".") if is_pkg else name.split(".")[:-1]
                parent = parent[: len(parent) - (node.level - 1)]
                base = ".".join(parent + ([base] if base else []))
            bases = [base]
            aliases = [f"{base}.{alias.name}" for alias in node.names]
        else:
            continue
        for mod in bases + aliases:
            # importing a.b.c imports a and a.b too
            parts = mod.split(".")
            for i in range(1, len(parts) + 1):
                if ".".join(parts[:i]) in mods:
                    found.add(".".join(parts[:i]))
    return found


def test_unreached_modules_match_allowlist():
    mods = _package_modules()
    names = {path: mod for mod, path in mods.items()}
    todo = [(path, names.get(path)) for path in _entry_files()]
    reached = {name for _, name in todo if name}
    while todo:
        path, name = todo.pop()
        for mod in _imports(path, name, mods) - reached:
            reached.add(mod)
            todo.append((mods[mod], mod))
    unreached = {m[len(PKG) + 1:] for m in set(mods) - reached}
    assert unreached == ALLOWED_UNREACHED, (
        f"newly unreached: {sorted(unreached - ALLOWED_UNREACHED)}; "
        f"stale allowlist entries: {sorted(ALLOWED_UNREACHED - unreached)}"
    )


def _code_names(node: ast.AST) -> "set[str]":
    """Every name the code under ``node`` uses: variables, attributes and
    imported names."""
    found = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            found.add(n.id)
        elif isinstance(n, ast.Attribute):
            found.add(n.attr)
        elif isinstance(n, ast.alias):
            found.add(n.name.split(".")[-1])
    return found


def _top_level_defs(tree: ast.Module) -> "list[ast.AST]":
    return [n for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]


def _module_statements(tree: ast.Module) -> "list[ast.stmt]":
    """Module-level statements other than definitions and imports: an
    import alone uses nothing, so a re-export or an unused import must
    not count as a use."""
    return [stmt for stmt in tree.body
            if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef,
                                     ast.Import, ast.ImportFrom))]


def _entry_names(entry_files: "list[Path]") -> "set[str]":
    """The names entry files use: their code, and any word of their
    strings, which hold the scripts' child-process code."""
    names = set()
    for path in entry_files:
        tree = ast.parse(path.read_text(), str(path))
        names |= _code_names(tree)
        for n in ast.walk(tree):
            if isinstance(n, ast.Constant) and isinstance(n.value, str):
                names.update(re.findall(r"\w+", n.value))
    return names


def _reach_walk(mods: "dict[str, Path]", entry_files: "list[Path]"):
    """Parsed modules (dotted name → tree) and the reached top-level
    definitions, by name. Seeds are the names entry files use and the
    names the package's module-level statements use (an import-time
    call, a constant built by a helper). A seed's body names more.
    Matching is by name, so a same-named definition elsewhere in the
    package counts too."""
    trees = {mod: ast.parse(path.read_text(), str(path)) for mod, path in mods.items()}
    defs: "dict[str, list[ast.AST]]" = {}
    seeds = _entry_names(entry_files)
    for tree in trees.values():
        for node in _top_level_defs(tree):
            defs.setdefault(node.name, []).append(node)
        for stmt in _module_statements(tree):
            seeds |= _code_names(stmt)
    reached: "dict[str, list[ast.AST]]" = {}
    todo = [name for name in seeds if name in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached[name] = defs[name]
        for node in defs[name]:
            todo.extend(_code_names(node) & defs.keys())
    return trees, reached


def _unreached_definitions(
    mods: "dict[str, Path]", entry_files: "list[Path]"
) -> "dict[str, list[str]]":
    """Top-level ``def`` / ``class`` names per module (dotted name → names)
    that nothing reaches."""
    trees, reached = _reach_walk(mods, entry_files)
    return {mod: [n.name for n in _top_level_defs(tree) if n.name not in reached]
            for mod, tree in trees.items()}


def _assigned_names(stmt: ast.stmt) -> "set[str]":
    """The plain names a module-level assignment binds."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
        targets = [stmt.target]
    else:
        return set()
    return {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}


def _unnamed_constants(
    mods: "dict[str, Path]", entry_files: "list[Path]", pending: "set[str]" = frozenset()
) -> "dict[str, list[str]]":
    """Module-level assigned names per module (dotted name → names) that
    nothing names but their own assignment: not an entry file, not
    another module-level statement of the package, not a reached
    definition. The definitions of the ``pending`` modules (dotted names)
    count as reached: they still await their keep-or-delete decision.
    Dunder names (``__version__``) are Python's, not ours."""
    trees, reached = _reach_walk(mods, entry_files)
    named = _entry_names(entry_files)
    for nodes in reached.values():
        for node in nodes:
            named |= _code_names(node)
    for mod in pending:
        for node in _top_level_defs(trees[mod]):
            named |= _code_names(node)
    stmt_names = [(stmt, _code_names(stmt))
                  for tree in trees.values() for stmt in _module_statements(tree)]
    out = {}
    for mod, tree in trees.items():
        unnamed = []
        for stmt in _module_statements(tree):
            for name in sorted(_assigned_names(stmt)):
                if name.startswith("__") or name in named:
                    continue
                if not any(name in names for other, names in stmt_names if other is not stmt):
                    unnamed.append(name)
        out[mod] = unnamed
    return out


def test_definitions_reached_by_name():
    """Every top-level definition of a module outside ``REACH_PENDING`` is
    reached by name, and every ``REACH_PENDING`` module still has a
    definition that is not."""
    unreached = {
        mod[len(PKG) + 1:]: names
        for mod, names in _unreached_definitions(_package_modules(), _entry_files()).items()
    }
    checked = {mod: names for mod, names in unreached.items()
               if names and mod not in REACH_PENDING}
    stale = sorted(mod for mod in REACH_PENDING if not unreached.get(mod))
    assert not checked, f"defined but never named: {checked}"
    assert not stale, f"fully reached or gone, drop from REACH_PENDING: {stale}"


def test_module_constants_named():
    """Every module-level name a module outside ``REACH_PENDING`` assigns
    is named by something other than its own assignment."""
    pending = {f"{PKG}.{mod}" for mod in REACH_PENDING}
    unnamed = {
        mod[len(PKG) + 1:]: names
        for mod, names in _unnamed_constants(_package_modules(), _entry_files(), pending).items()
        if names and mod not in pending
    }
    assert not unnamed, f"assigned but never named: {unnamed}"


def test_reach_walk_seeds_module_level_statements(tmp_path):
    """A definition that only a test names, or that the package only
    re-exports, is flagged; one that only a module-level statement calls
    (an import-time hook, a table built at import) is not."""
    pkg = tmp_path / "toypkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text(
        "from .hooks import install, reexported\n\ninstall()\n")
    (pkg / "hooks.py").write_text(
        "def install():\n    pass\n\n\n"
        "def _image(b):\n    return chr(b)\n\n\n"
        "TABLE = ''.join(_image(b) for b in range(3))\n\n\n"
        "def reexported():\n    return TABLE\n\n\n"
        "def only_tests_call_me():\n    return TABLE\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_hooks.py").write_text(
        "from toypkg.hooks import only_tests_call_me\n\n\n"
        "def test_it():\n    assert only_tests_call_me()\n"
    )
    (tmp_path / "main.py").write_text("import toypkg\n")
    unreached = _unreached_definitions(_package_modules(tmp_path, "toypkg"),
                                       [tmp_path / "main.py"])
    assert unreached == {"toypkg": [], "toypkg.hooks": ["reexported", "only_tests_call_me"]}


def test_constants_walk_flags_unnamed_and_orphaned(tmp_path):
    """A constant named only by its own assignment, or only by a
    definition nothing reaches, is flagged; one a reached definition or
    another module-level statement names is not."""
    pkg = tmp_path / "toypkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "consts.py").write_text(
        "USED = 1\nBASE = 2\nDERIVED = BASE + 1\nUNUSED = 3\nORPHANED = 4\n"
        "__version__ = '0'\n\n\n"
        "def run():\n    return USED + DERIVED\n\n\n"
        "def only_tests_call_me():\n    return ORPHANED\n"
    )
    (tmp_path / "main.py").write_text("from toypkg.consts import run\n\nrun()\n")
    unnamed = _unnamed_constants(_package_modules(tmp_path, "toypkg"), [tmp_path / "main.py"])
    assert unnamed == {"toypkg": [], "toypkg.consts": ["UNUSED", "ORPHANED"]}
    pending = {"toypkg.consts"}
    assert _unnamed_constants(
        _package_modules(tmp_path, "toypkg"), [tmp_path / "main.py"], pending
    )["toypkg.consts"] == ["UNUSED"]
