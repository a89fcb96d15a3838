"""Every tile_grid_spark module has a non-test caller.

Walks the import graph (ast only, no Spark, nothing imported) from the
program roots — the driver contract `__spark_entry__.py` and the batch
jobs under `jobs/` — and asserts that the modules they never reach are
exactly the allow-listed ones below, each kept for a stated reason. A
new module that only its own tests import fails here.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "tile_grid_spark"

# unreached on purpose: module -> why it stays
ALLOWED_UNREACHED = {
    "tile_grid_spark.core.proj": (
        "reference parity: mirrors the reference crate's projtransform "
        "build (src/transform/proj.rs), off by default like its "
        "featureless build"
    ),
    "tile_grid_spark.sources.geojson": (
        "carries the only point-in-polygon hole test "
        "(test_geojson.py::test_donut_excludes_hole_interior)"
    ),
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path, module: str, is_pkg: bool) -> set[str]:
    """Dotted names an import statement anywhere in `path` may load:
    `import a.b` -> a.b; `from a import b` -> a and a.b (b may be a
    submodule); relative forms resolved against `module`'s package."""
    package = module if is_pkg else module.rpartition(".")[0]
    out = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = parts[: len(parts) - (node.level - 1)]
                stem = ".".join(base + ([node.module] if node.module else []))
            else:
                stem = node.module
            out.add(stem)
            out.update(f"{stem}.{a.name}" for a in node.names)
    return out


def _reached(mods: dict[str, Path], roots: list[Path]) -> set[str]:
    seen: set[str] = set()
    todo = [(p, "", False) for p in roots]
    while todo:
        path, module, is_pkg = todo.pop()
        for name in _imported_names(path, module, is_pkg):
            # importing a.b.c also runs the a and a.b package inits
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                dotted = ".".join(parts[:i])
                if dotted in mods and dotted not in seen:
                    seen.add(dotted)
                    p = mods[dotted]
                    todo.append((p, dotted, p.name == "__init__.py"))
    return seen


def test_only_allow_listed_modules_are_unreached():
    mods = _package_modules()
    roots = [ROOT / "__spark_entry__.py", *sorted((ROOT / "jobs").glob("*.py"))]
    unreached = set(mods) - _reached(mods, roots)
    assert unreached == set(ALLOWED_UNREACHED), (
        "modules no program root imports (delete them or give them a "
        f"caller): {sorted(unreached - set(ALLOWED_UNREACHED))}; "
        f"allow-listed but now reached: {sorted(set(ALLOWED_UNREACHED) - unreached)}"
    )
