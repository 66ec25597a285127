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

For the crawl modules (``REACH_CHECKED``) the same holds one level down:
every top-level function and class must be named by an entry file or by
the body of another reached definition.
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

# Modules whose every top-level definition must be reached by name.
REACH_CHECKED = ("webtext", "linkgraph")


def _entry_files() -> "list[Path]":
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py",
             ROOT / PKG / "cli.py"]
    files += sorted((ROOT / "scripts").glob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))  # perfbench/tests is a subdirectory
    return files


def _package_modules() -> "dict[str, Path]":
    """Dotted module name (``pypdfocr_spark.kernels.merge``) → file."""
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
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


def _top_level_defs(path: Path) -> "list[ast.AST]":
    tree = ast.parse(path.read_text(), str(path))
    return [n for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]


def test_crawl_definitions_reached_by_name():
    """Each top-level ``def`` / ``class`` of the crawl modules is named by
    an entry file (its code, or any word of its strings, which hold the
    scripts' child-process code) or by the body of another reached
    definition in the package. Matching is by name, so a same-named
    definition elsewhere in the package counts too."""
    defs: "dict[str, list[ast.AST]]" = {}
    for path in _package_modules().values():
        for node in _top_level_defs(path):
            defs.setdefault(node.name, []).append(node)
    seeds = set()
    for path in _entry_files():
        tree = ast.parse(path.read_text(), str(path))
        seeds |= _code_names(tree)
        for n in ast.walk(tree):
            if isinstance(n, ast.Constant) and isinstance(n.value, str):
                seeds.update(re.findall(r"\w+", n.value))
    reached = set()
    todo = [name for name in seeds if name in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node in defs[name]:
            todo.extend(_code_names(node) & defs.keys())
    unreached = {
        mod: [n.name for n in _top_level_defs(ROOT / PKG / f"{mod}.py")
              if n.name not in reached]
        for mod in REACH_CHECKED
    }
    assert not any(unreached.values()), f"defined but never named: {unreached}"
