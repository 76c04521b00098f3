"""irstats2_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of EPrints IRStats2 (reference: eprints/irstats2).

Architecture (SURVEY.md §7): medallion layout over Parquet —
bronze (raw access events), silver (filtered events + conformed dimensions),
gold (daily-grain fact tables) — plus a Context-driven query layer that
compiles the reference's SQL shapes into parameterized Spark SQL, and a set of
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) beyond the reference's own surface.

Everything is declarative DataFrame/SQL so Catalyst supplies predicate
pushdown, column pruning, partition pruning, broadcast joins and AQE.
"""

__version__ = "0.1.0"


def __getattr__(name):
    """Lazy public API: the common entry points without importing pyspark
    at package-import time (keeps `import irstats2_spark` cheap for
    tooling that only wants __version__)."""
    lazy = {
        "get_spark": ("irstats2_spark.session", "get_spark"),
        "Context": ("irstats2_spark.plans.context", "Context"),
        "StatsStore": ("irstats2_spark.plans.builder", "StatsStore"),
        "compile_context": ("irstats2_spark.plans.builder", "compile_context"),
        "default_registry": ("irstats2_spark.plans.registry", "default_registry"),
        "run_report": ("irstats2_spark.plans.report", "run_report"),
    }
    if name in lazy:
        import importlib

        mod, attr = lazy[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module 'irstats2_spark' has no attribute '{name}'")
