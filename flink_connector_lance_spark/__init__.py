"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference ``fightBoxing/flink-connector-lance`` Flink
connector, re-expressed Spark-first.

Architecture (see SURVEY.md for the full blueprint):

- ``session``    — tuned SparkSession builder (AQE, Arrow, UTC).
- ``io``         — table loading / temp-view registration for the test corpus.
- ``registry``   — query registry powering ``__spark_entry__``'s
                   ``queries()`` / ``oracle_sql()`` contract.
- ``options``    — engine option surface mirroring the reference's
                   ``config/LanceOptions.java`` contract (defaults + validation).
- ``types``      — Arrow <-> Spark type bridge (ref ``converter/LanceTypeConverter.java``).
- ``plans``      — pushdown helpers: expression -> source filter-string compiler
                   (ref ``table/LanceDynamicTableSource.java:177-345``).
- ``sources``    — fragment-parallel dataset reader/writer + catalog
                   (ref ``LanceSource.java`` / ``LanceSink.java`` / ``LanceCatalog.java``);
                   the native ``lance`` package is import-gated, with a
                   parquet-fragment emulation used for tests.
- ``operators``  — KNN vector search, dedup family (+ duplicate
                   resolution), text analysis + PII redaction, ANN,
                   temporal joins, sampling/splits, sequence packing,
                   multimodal column plumbing.
- ``index``/``pq`` — ANN index build + search: native lance when present,
                   else emulated IVF (sampled k-means) and IVF_PQ
                   (per-sub-space codebooks, ADC + refine).
- ``functions``  — column-expression helpers (vector distances, hashing).
- ``streaming``  — Structured Streaming sinks (epoch-idempotent commits).

Everything is built on DataFrame/SQL so Catalyst supplies pushdown, partial
aggregation, join strategy selection, and whole-stage codegen; Python UDFs are
avoided in hot paths.
"""

from . import _pyworker

# Spark's Python workers import this package when they unpickle engine
# code; from then on each worker call skips re-reading pyspark.zip
_pyworker.install()

__version__ = "0.1.0"

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
