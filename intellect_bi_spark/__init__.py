"""intellect_bi_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference BI assistant (l8knightz/
intellect-bi), re-designed Spark-first for 100 TB scale.

Layout:
- ``session``    — SparkSession factory / tuning (singleton, AQE, UTC).
- ``catalog``    — fixture tables + the derived reference-shaped ``sales`` view.
- ``functions``  — exact-decimal numeric helpers, text/vector functions.
- ``operators``  — the query library (SURVEY.md §2 inventory), each with a
                   DuckDB oracle.
- ``plans``      — NL-intent → DataFrame compiler + SQL dialect sanitizer.
- ``store``      — the versioned-store protocol every persisted store shares.
- ``sources``    — CSV normalization layer, sinks.
- ``streaming``  — Structured Streaming extensions over the events table.
"""

from .session import get_spark, tune_session

__all__ = ["get_spark", "tune_session"]
