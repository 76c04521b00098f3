"""Import boundary between the IRStats2 path and the LLM-pipeline extension.

The IRStats2 modules (access-log ingest, filters, ETL, gold storage, the
fact stream, the query plans) must not import ``irstats2_spark.pipeline``
or the ``irstats2_spark.queries_*`` catalogs, not even lazily inside a
function. The extension may import the IRStats2 modules, never the other
way round. And the IRStats2 tree holds only what its entry points reach:
a module that only the extension or a test imports belongs under
``pipeline/``. An import nothing uses does not count as reaching a module,
so no module of the tree, nor the catalog and its two IRStats2-shaped
query modules, keeps one.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "irstats2_spark"
IRSTATS2_DIRS = ("plans", "etl", "sources", "streaming", "operators", "functions")
IRSTATS2_FILES = ("session.py",)
# The nightly, serve and stream entry points, plus the two catalogs of
# IRStats2-shaped queries.
ENTRY_POINTS = (
    "session",
    "etl.pipeline",
    "etl.sets",
    "sources.access_log",
    "sources.storage",
    "sources.export",
    "plans.http",
    "plans.report",
    "plans.registry",
    "plans.views",
    "streaming.ingest",
    "queries_core",
    "queries_irstats",
)


def _irstats2_modules() -> list[pathlib.Path]:
    out = [PKG / f for f in IRSTATS2_FILES]
    for d in IRSTATS2_DIRS:
        out.extend(sorted((PKG / d).rglob("*.py")))
    return out


def _module_name(path: pathlib.Path) -> str:
    parts = path.relative_to(PKG.parent).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _forbidden(name: str) -> bool:
    parts = name.split(".")
    if parts[0] != "irstats2_spark" or len(parts) < 2:
        return False
    return parts[1] == "pipeline" or parts[1].startswith("queries_")


def _imports(path: pathlib.Path):
    """Yield (line, names) for every import statement in ``path``, nested
    ones included; ``names`` holds the absolute module names it may load."""
    package = list(path.relative_to(PKG.parent).parts[:-1])
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield node.lineno, [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                base = package[: len(package) - node.level + 1]
                mod = ".".join(base + ([mod] if mod else []))
            # `from irstats2_spark import pipeline` names the module in the alias
            yield node.lineno, [mod] + [f"{mod}.{alias.name}" for alias in node.names]


# catalog.py imports the query modules only for their registrations
REGISTRATION_IMPORTS = {
    "catalog.py": {"queries_core", "queries_ext", "queries_irstats", "queries_pipeline"}
}


def _unused_imports(path: pathlib.Path):
    """Yield (line, name) for each name an import binds in ``path`` that
    the module never reads, nested imports included."""
    tree = ast.parse(path.read_text(), str(path))
    used = {node.id for node in ast.walk(tree) if isinstance(node, ast.Name)}
    exempt = REGISTRATION_IMPORTS.get(path.name, set())
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [alias.asname or alias.name.split(".")[0] for alias in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            names = [alias.asname or alias.name for alias in node.names]
        else:
            continue
        for name in names:
            if name not in used and name not in exempt:
                yield node.lineno, name


def test_irstats2_path_does_not_import_the_pipeline_extension():
    modules = _irstats2_modules()
    assert len(modules) > 20, "module discovery found too little"
    offenders = [
        f"{path.relative_to(PKG.parent)}:{line}: {names[0]}"
        for path in modules
        for line, names in _imports(path)
        if any(_forbidden(n) for n in names)
    ]
    assert not offenders, "IRStats2 modules import the extension:\n" + "\n".join(
        offenders
    )


def test_every_irstats2_module_is_reachable_from_an_entry_point():
    tree = {_module_name(p): p for p in _irstats2_modules()}
    files = dict(tree)
    todo = []
    for root in ENTRY_POINTS:
        name = f"irstats2_spark.{root}"
        files[name] = PKG.joinpath(*root.split(".")).with_suffix(".py")
        todo.append(name)
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, names in _imports(files[name]):
            todo.extend(n for n in names if n in tree)
    # a package counts as reached when a module inside it is
    reached |= {n.rsplit(".", 1)[0] for n in reached}
    unreached = sorted(set(tree) - reached)
    assert not unreached, "IRStats2 modules no entry point imports:\n" + "\n".join(
        unreached
    )


def test_no_unused_imports_on_the_irstats2_path():
    modules = _irstats2_modules() + [
        PKG / f for f in ("catalog.py", "queries_core.py", "queries_irstats.py")
    ]
    unused = [
        f"{path.relative_to(PKG.parent)}:{line}: {name}"
        for path in modules
        for line, name in _unused_imports(path)
    ]
    assert not unused, "imports nothing uses:\n" + "\n".join(unused)
