"""Every ``pypdfocr_spark`` module is reachable from a real entry point,
or is named in an allowlist with a reason (COVERAGE.md, "Modules outside
the entry-point import closure").

The closure is computed statically: each file is parsed with ``ast`` and
every ``import`` / ``from ... import`` statement anywhere in it (module
level or inside a function) is followed into the package. Nothing is
imported, so the walk is cheap and sees lazy imports too. A new module
nothing reachable calls fails this test, and so does an allowlist entry
that something reachable now imports.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "pypdfocr_spark"

# Reached from tests only; each has a one-line reason in COVERAGE.md.
ALLOWED_UNREACHED = {
    "artifact",
    "kernels.merge",
    "sinks",
}


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


def _imports(path: Path, name: "str | None", mods: "dict[str, Path]") -> "set[str]":
    """Package modules imported by the file; ``name`` is the file's own
    dotted module name when it is inside the package (for relative imports)."""
    is_pkg = path.name == "__init__.py"
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
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
