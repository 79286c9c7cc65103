"""SparkSession construction and tuning.

Local test mode runs ``local[N]`` in one JVM; the config below is chosen so
the same code scales to a real cluster: AQE handles runtime re-planning and
skew, shuffle partitions are sized to cores locally (and would be sized to
~2-3x total cores / target 128-256MB per task on a cluster), and the session
timezone is pinned to UTC so timestamp semantics are deterministic and match
the DuckDB correctness oracle.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Runtime-settable confs applied to *any* session (including one handed to us
# by an external driver). Only confs that Spark allows to change at runtime
# belong here.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # pushdown/pruning are on by default; pinned here so a misconfigured
    # parent session can't silently disable the scan-level optimizations.
    "spark.sql.parquet.filterPushdown": "true",
    # Python Data Source filter pushdown (sources.rtcdb_native zone maps)
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: reference semantics are permissive (no overflow errors) and
    # the DuckDB oracle comparison uses plain floating/long arithmetic.
    "spark.sql.ansi.enabled": "false",
    # events.parquet stores ts as timestamp[ns], which Spark's reader rejects;
    # read it as a long and convert in sources.tables.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # INT96 (Spark's default for `timestamp`) carries no footer min/max, so
    # zone maps could never prune an engine-written timestamp column.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Constraint propagation OFF: this Spark build's Union.rewriteConstraints
    # intermittently throws `NoSuchElementException: key not found: <attr>`
    # when a union child's Project carries alias constraints referencing
    # non-output attributes (ExpressionSet iteration order makes it
    # exprId-dependent, i.e. flaky run-to-run). Observed on the
    # connected-components star rounds (self-union of swapped edge
    # orientations) and on capped LSH pair plans (clique ∪ star-overflow).
    # Cost of disabling: only the *inferred* transitive/isnotnull filters —
    # every explicit filter still pushes down; TPC-H keys are non-null so
    # inferred null-pruning buys nothing here. Determinism of the whole
    # query surface beats an optional optimizer inference.
    "spark.sql.constraintPropagation.enabled": "false",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-provided or ours)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build — startup default applies
    return spark


_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "rtcdb-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle partitions
    default to the core count — right for local mode; on a cluster this would
    be set to ~2-3x total executor cores (or left to AQE coalescing from a
    higher initial value).

    Python workers start from ``rtcdb_spark.worker_daemon``
    (``spark.python.daemon.module``), which takes ``pyspark.zip`` and the
    Spark jar off their ``sys.path`` so a task no longer re-reads both
    archives (0.1-0.17 s per Python task on 4 cores). The package's parent
    directory goes on the workers' $PYTHONPATH (``spark.executorEnv``), so
    they import the module whatever the working directory. Limit: a session
    not built here keeps Spark's own ``pyspark.daemon`` (the conf is fixed
    at JVM start).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(4, cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Bucketed tables (write_bucketed) live in the warehouse; keep it out
        # of the repo tree locally. A cluster deployment overrides this.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/rtcdb_spark_warehouse"),
        )
        .config("spark.python.daemon.module", "rtcdb_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())


# Floor of the narrowed width: the loop wins were measured at 8 (sf0.1).
NARROW_MIN_PARTITIONS = 8
# Rows per shuffle partition: a billion-edge loop keeps the full width.
NARROW_ROWS_PER_PARTITION = 250_000

_NARROW_LOCK = threading.RLock()


@contextmanager
def narrow_shuffle(spark: SparkSession, n_rows: int) -> Iterator[None]:
    """Narrow ``spark.sql.shuffle.partitions`` for the body.

    The width is ``min(configured, max(NARROW_MIN_PARTITIONS,
    ceil(n_rows / NARROW_ROWS_PER_PARTITION)))``, where ``configured`` is
    the session's width on entry: small relations get the floor, large ones
    scale up, and the width never exceeds what the user configured.
    Iterative loops (pagerank, LPA, star-CC) pass their edge count and must
    run their action inside the body. Stream starts pass 0 (state size is
    unknown at start) and wrap only ``start()``: the query clones the
    session conf there and pins its state partitioning to it.

    A module-level lock serializes every caller, and the configured width
    is restored on exit, also when the body raises. Limit: the conf is
    session-global, so while a body runs, a query planned OUTSIDE this
    helper on the same session also sees the narrowed width.
    """
    with _NARROW_LOCK:
        configured = spark.conf.get("spark.sql.shuffle.partitions")
        width = min(
            int(configured),
            max(NARROW_MIN_PARTITIONS, -(-int(n_rows) // NARROW_ROWS_PER_PARTITION)),
        )
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", configured)
