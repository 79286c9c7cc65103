"""rtcdb_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference engine
(robbie-c/rtcdb, a single-node columnar store: per-column chunked files,
LZ4 block compression, sparse min/max indexes — see SURVEY.md) on top of
Apache Spark. Storage is Parquet (columnar chunks + compression + min/max
statistics are Parquet row groups / pages / column stats), query execution
is the Spark DataFrame/SQL API so Catalyst and Tungsten handle predicate
pushdown, column pruning, join strategy and whole-stage codegen.

Layout:
- ``session``   — SparkSession construction / tuning for local and cluster.
- ``db``        — the reference-shaped embedded-DB API (init/open/write/scan).
- ``sources``   — table loaders, row ingest, csv/json readers.
- ``operators`` — relational building blocks Spark lacks as one-liners
                  (top-k per group, as-of join, range join, sessionize).
- ``functions`` — text analysis, dedup (exact/minhash/simhash), similarity.
- ``streaming`` — Structured Streaming variants of the event-table operators.
- ``plans``     — plan inspection helpers (explain / pushdown assertions).
- ``queries``   — the named query registry exported via __spark_entry__.
- ``worker_daemon`` — entry point of the local Python workers (see
                  ``session.get_spark``).

Invariant: importing this package imports no pyspark. Spark runs
``rtcdb_spark.worker_daemon`` before pyspark is loaded, and that module
takes ``pyspark.zip`` off ``sys.path`` first; a pyspark import here would
load pyspark from the zip instead (pinned by tests/test_worker_daemon.py).
"""

__version__ = "0.1.0"
