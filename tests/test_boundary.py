"""Import boundary between the IRStats2 path and the LLM-pipeline extension.

The IRStats2 modules (access-log ingest, filters, ETL, gold storage, the
fact stream, the query plans) must not import ``irstats2_spark.pipeline``
or the ``irstats2_spark.queries_*`` catalogs, not even lazily inside a
function. The extension may import the IRStats2 modules, never the other
way round.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "irstats2_spark"
IRSTATS2_DIRS = ("plans", "etl", "sources", "streaming", "operators", "functions")
IRSTATS2_FILES = ("session.py", "schemas.py", "parallel.py")


def _irstats2_modules() -> list[pathlib.Path]:
    out = [PKG / f for f in IRSTATS2_FILES]
    for d in IRSTATS2_DIRS:
        out.extend(sorted((PKG / d).rglob("*.py")))
    return out


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
