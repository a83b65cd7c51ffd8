"""ecommerce_lakehouse_platform_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference lakehouse workload (Parthiv7/ecommerce-lakehouse-platform):
medallion-style cleansing (typed projections, ID normalization,
keep-latest dedupe), gold aggregate models (product metrics, funnel,
session metrics, customer 360), parameterized dashboard queries, a
fail-fast data-quality gate — plus large-scale training-data-pipeline
operators (exact/fuzzy dedup, ANN similarity search, text analysis,
streaming sessionization, multimodal column plumbing).

Design rules (see SURVEY.md §4):
- DataFrame/SQL only; no RDDs; zero Python UDFs on the reference's hot
  path (everything stays in Catalyst / whole-stage codegen).
- Declarative plans: predicate pushdown, column pruning, partition
  pruning, broadcast joins and AQE do the physical work.
- Extensions that need Python use Arrow-batched pandas / mapInPandas,
  isolated in dedicated modules.
"""

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "register_sql_workspace",
    "run_pipeline",
    "run_reference_native",
    "queries",
    "oracles",
]


def __getattr__(name: str):
    """Lazy top-level API — keeps `import ecommerce_lakehouse_platform_spark`
    cheap while exposing the main entry points at the package root."""
    if name == "get_spark":
        from .session import get_spark

        return get_spark
    if name == "register_sql_workspace":
        from .sources.catalog import register_sql_workspace

        return register_sql_workspace
    if name == "run_pipeline":
        from .plans.pipeline import run_pipeline

        return run_pipeline
    if name == "run_reference_native":
        from .plans.reference_native import run_reference_native

        return run_reference_native
    if name in ("queries", "oracles"):
        from . import registry

        return registry.QUERIES if name == "queries" else registry.ORACLES
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
