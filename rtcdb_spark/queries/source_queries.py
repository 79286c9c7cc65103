"""CSV / JSON source + sink coverage (SURVEY §2 C-I).

The reference's only format is its custom columnar block layout; the Spark
engine's native format is Parquet. These queries prove the text-format edges
of the source surface: write a table slice out as CSV / JSON-lines, read it
back with an explicit schema, and aggregate — the oracle computes the same
aggregate from the original parquet, so any roundtrip loss would mismatch.

Only roundtrip-safe columns go through text formats (strings without
delimiter collisions, integers): floats/timestamps through CSV are a known
precision/format trap and parquet is the engine's real storage (SURVEY §1.3).

Scale notes: CSV/JSON scans parallelize by file split like any Spark source;
an explicit schema avoids the full inference pass (one extra read of every
byte at 100 TB). Writes here coalesce(1) only because the fixture slice is
tiny — a real export keeps default parallelism.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rtcdb_spark.queries.base import dsum, query, sql_dsum
from rtcdb_spark.sources import load_table, write_bucketed

_IO_ROOT = os.path.join(tempfile.gettempdir(), "rtcdb_spark_io")


@query(
    "source_csv_roundtrip",
    """
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    tags=("source", "csv"),
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → CSV (header) → read back with explicit schema → aggregate.
    Matches the oracle's aggregate over the original parquet iff the CSV
    roundtrip is lossless for the selected columns."""
    out = os.path.join(_IO_ROOT, "documents_csv")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    d.coalesce(1).write.mode("overwrite").option("header", True).csv(out)
    back = (
        spark.read.schema("doc_id long, lang string, source string, n_chars long")
        .option("header", True)
        .csv(out)
    )
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang", "source")
    )


@query(
    "source_json_roundtrip",
    """
    SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("source", "json"),
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON-lines → read back with explicit schema → aggregate."""
    out = os.path.join(_IO_ROOT, "events_json")
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    e.coalesce(1).write.mode("overwrite").json(out)
    back = spark.read.schema("event_id long, user_id long, event_type string").json(
        out
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "source_orc_roundtrip",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("source", "orc"),
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ORC → read back → aggregate. ORC is the second columnar
    format (stripe statistics + predicate pushdown like parquet row groups),
    lossless for doubles/longs — the oracle aggregates the original parquet,
    so any roundtrip loss would mismatch."""
    out = os.path.join(_IO_ROOT, "events_orc")
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    e.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "source_indexed_scan",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-03-01 00:00:00'
      AND l_shipdate <= TIMESTAMP '1995-08-31 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("source", "index"),
)
def source_indexed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map-pruned scan (the reference's sparse-index read path,
    README.md:51-56, at file granularity): commit lineitem
    range-partitioned+sorted by l_shipdate as 8 files of a
    ``VersionedTable``, whose commit records each file's footer min/max,
    then answer a date-range aggregate through ``read_pruned`` — only
    files whose [min, max] meets the range are read. The bounds are ISO
    text, which ``zonemap.decode`` parses by the column's recorded type.
    The oracle computes the same aggregate on the original table, so a
    file wrongly skipped (unsound pruning) or double-read would mismatch."""
    import shutil

    from rtcdb_spark.sources.versioned import VersionedTable

    root = os.path.join(_IO_ROOT, "lineitem_by_shipdate")
    shutil.rmtree(root, ignore_errors=True)
    vt = VersionedTable(spark, root)
    vt.commit(
        load_table(spark, sf_dir, "lineitem")
        .repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
    )
    pruned = vt.read_pruned(
        "l_shipdate", "1995-03-01 00:00:00", "1995-08-31 00:00:00"
    )
    return (
        pruned.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "source_schema_evolution",
    """
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM (
        SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 1
    )
    ORDER BY o_orderkey
    """,
    tags=("source", "schema-evolution"),
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift at ingest: an early batch written WITHOUT a column and a
    later batch written WITH it must read back as one table under
    `mergeSchema` — old rows surface the new column as NULL. This is the
    evolution contract every long-lived ingest directory needs (the
    reference's fixed-schema catalog cannot represent it; SURVEY §1.3).
    Footer-only schema merge at planning time; the data files are never
    rewritten. (Production note: pin `mergeSchema` per-table, not globally
    — it reads every footer at listing time, O(files) planning cost.)"""
    out = os.path.join(_IO_ROOT, "orders_evolving")
    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    v1.write.mode("overwrite").parquet(out)
    v2.write.mode("append").parquet(out)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(out)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    )


@query(
    "source_zorder_scan",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 400
      AND o_totalprice BETWEEN 50000 AND 150000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("source", "zorder", "layout"),
)
def source_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional data clustering: rewrite orders sorted along the
    Z-order (Morton) curve of (o_custkey, o_totalprice) — the multi-column
    generalization of the reference's sorted-table contract (reference
    README.md:44 indexes only the leading sort column) — then answer a 2-D
    box predicate through the clustered copy. Because bit-interleaving
    bounds BOTH columns' ranges within every file/row-group, parquet
    min/max stats prune on both dimensions at once; a lexicographic sort
    would prune only on the leading column. The oracle computes the same
    aggregate from the original table, so unsound skipping or double-reads
    mismatch; tests/test_layout.py asserts the clustering property itself
    (per-file span of the SECOND dimension shrinks vs lexicographic)."""
    from rtcdb_spark.sources.layout import write_zordered

    out = os.path.join(_IO_ROOT, "orders_zordered")
    o = load_table(spark, sf_dir, "orders")
    write_zordered(o, out, ["o_custkey", "o_totalprice"], bits=16, n_files=8)
    z = spark.read.parquet(out)
    return (
        z.filter(
            F.col("o_custkey").between(100, 400)
            & F.col("o_totalprice").between(50000, 150000)
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_bucketed_join",
    f"""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_items,
           {sql_dsum('l.l_extendedprice')} AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
    tags=("source", "bucketing", "join"),
)
def source_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join through bucketed tables: lineitem and
    orders are rewritten `bucketBy(16, key)` + sorted, then joined with NO
    exchange on either side — the single biggest shuffle in the star-schema
    workload, removed at write time (tests/test_bucketing.py pins the
    no-exchange plan property; this query makes the path part of the graded
    operator surface). The industrial form of the reference's sorted-table
    contract (reference README.md:44): there sorting enables binary search,
    here bucket+sort enables shuffle-free merge joins and bucket pruning.
    The oracle runs the same join-aggregate on the raw tables, so a bucket
    misroute (row in the wrong bucket → dropped/duplicated match) breaks
    the hash, not just the plan."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("o_key"), "o_orderstatus"
    )
    # Replay-safe across sessions: a previous process may have left the
    # managed-table LOCATION on disk without this session's catalog knowing
    # the table — drop the catalog entry AND the orphan directory first.
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    for name in ("rtcdb_li_bucketed", "rtcdb_o_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        if warehouse:
            shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
    write_bucketed(li, "rtcdb_li_bucketed", "l_orderkey", n_buckets=16)
    write_bucketed(o, "rtcdb_o_bucketed", "o_key", n_buckets=16)
    lb = spark.table("rtcdb_li_bucketed")
    ob = spark.table("rtcdb_o_bucketed")
    return (
        lb.join(ob, lb["l_orderkey"] == ob["o_key"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice", alias="total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_rtcdb_native_roundtrip",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("source", "rtcdb-format", "interchange"),
)
def source_rtcdb_native_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-format interchange end-to-end: write documents into the
    reference's OWN on-disk layout (per-column .data/.index file pairs,
    LZ4 block compression, 40-byte sparse-index entries, metadata.json —
    sources/rtcdb_native.py documents the byte format against reference
    src/storage.rs line by line), then read it back through the pluggable
    `rtcdb` Spark data source (Python Data Source API) and aggregate.
    The oracle computes the same aggregate from the parquet original, so
    any encode/decode defect — value corruption, block mis-addressing,
    dropped or duplicated rows across block boundaries — breaks the hash.
    This is the "switch engines without orphaning existing tables" path:
    a reference user's files load with
    spark.read.format("rtcdb").option("table", name).load(root)."""
    from rtcdb_spark.sources.rtcdb_native import read_rtcdb, write_rtcdb

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    root = os.path.join(_IO_ROOT, "rtcdb_native_docs")
    # append-only format: start fresh per run
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    write_rtcdb(d, root, "documents")
    back = read_rtcdb(spark, root, "documents")
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


@query(
    "source_rtcdb_pruned_scan",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id BETWEEN 50 AND 149
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("source", "rtcdb-format", "index", "pushdown"),
)
def source_rtcdb_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-index block pruning on the reference's own format, through
    Spark's filter-pushdown machinery: the documents table (written sorted
    by doc_id, the reference's sorted-table contract) is read through the
    `rtcdb` data source with a doc_id range predicate; `pushFilters`
    (Python Data Source API, Spark 4.1) folds the comparisons into a
    closed interval and drops every block whose 40-byte index entry's
    [min,max] misses it — the reference's B1/B2 design (sparse index +
    block skipping) finally executing, on its own file format, in a
    distributed engine. Spark still evaluates the filters row-level, so
    pruning can only change the plan, never the result; the oracle
    computes the aggregate from the parquet original."""
    from rtcdb_spark.sources.rtcdb_native import read_rtcdb, write_rtcdb

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).orderBy("doc_id")
    root = os.path.join(_IO_ROOT, "rtcdb_native_docs_sorted")
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    write_rtcdb(d, root, "documents")
    back = read_rtcdb(spark, root, "documents").filter(
        F.col("doc_id").between(50, 149)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


@query(
    "source_rtcdb_string_scan",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang = 'en'
    GROUP BY source
    ORDER BY source
    """,
    tags=("source", "rtcdb-format", "pushdown", "string-index"),
)
def source_rtcdb_string_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String zone maps on the reference's format: documents are rewritten
    sorted by lang (so the 8-byte string index prefixes are selective),
    then an equality predicate runs through the `rtcdb` source's filter
    pushdown — block pruning on STRING min/max prefixes, which is exactly
    the reference's index-key design for strings (first 8 bytes,
    storage.rs:30-37). Prefix truncation understates the max, so the
    pruning rule is deliberately conservative (see
    `sources.rtcdb_native.plan_blocks`); a hypothesis property pins its
    soundness and the oracle pins end-to-end values here."""
    from rtcdb_spark.sources.rtcdb_native import read_rtcdb, write_rtcdb

    d = load_table(spark, sf_dir, "documents").select(
        "lang", "source", "doc_id", "n_chars"
    ).orderBy("lang", "doc_id")
    root = os.path.join(_IO_ROOT, "rtcdb_native_docs_bylang")
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    write_rtcdb(d, root, "documents")
    back = read_rtcdb(spark, root, "documents").filter(F.col("lang") == "en")
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("source")
    )


@query(
    "source_rtcdb_distributed_write",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("source", "rtcdb-format", "interchange", "parallel-write"),
)
def source_rtcdb_distributed_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executor-parallel write into the reference's on-disk format
    (`write_rtcdb_distributed`): every task encodes and LZ4-compresses its
    own partition's 1024-row blocks (`mapInPandas` into a staging dir);
    the driver finalizes with O(1)-memory byte concatenation, rebasing
    each 40-byte index entry's offset — so the encode/compress CPU scales
    with executors while the format's single-file-per-column contract is
    preserved. Written from an 8-partition orders projection so the
    finalize genuinely stitches multiple partition files (short tail
    blocks included); read back through the pluggable `rtcdb` source and
    aggregated. The oracle aggregates the parquet original: any offset
    rebase error, partition-order mixup, or dropped tail block breaks the
    count/sum/min/max hash."""
    from rtcdb_spark.sources.rtcdb_native import (
        read_rtcdb,
        write_rtcdb_distributed,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    root = os.path.join(_IO_ROOT, "rtcdb_native_orders_dist")
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    write_rtcdb_distributed(o.repartition(8, "o_orderkey"), root, "orders")
    back = read_rtcdb(spark, root, "orders")
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "source_csv_malformed",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(n_chars) AS BIGINT) AS char_sum,
           CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 7 = 3)
                AS BIGINT) AS n_bad
    FROM documents
    WHERE doc_id % 7 <> 3
    """,
    tags=("source", "csv", "malformed", "permissive"),
)
def source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant ingestion (the real-world CSV path: some rows are
    garbage and the pipeline must quarantine, not crash): every document
    with doc_id % 7 == 3 is written as a deliberately malformed line
    (non-numeric doc_id, truncated fields), the rest as clean rows. The
    file is read back in PERMISSIVE mode with a `_corrupt_record` capture
    column; clean rows flow through, corrupt lines land in quarantine.
    The query returns the clean-side aggregate PLUS the quarantined-line
    count, and the oracle recomputes both from the original table — so
    the hash match proves the reader dropped exactly the malformed rows,
    kept every good one intact, and counted every bad line (none silently
    vanished, the failure mode permissive readers are notorious for)."""
    import tempfile

    # Per-invocation dir, NOT a fixed _IO_ROOT path: this query caches the
    # read below, and a cached plan over a fixed path would serve stale
    # bytes when the query is re-invoked at a different scale factor in
    # the same session (the plan cache is keyed on the path, not the file
    # contents).
    out = tempfile.mkdtemp(prefix="rtcdb_csv_malformed_")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def write_lines(pdf_iter):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n = 0
        with open(os.path.join(out, f"part-{pid:05d}.csv"), "w") as f:
            for pdf in pdf_iter:
                for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                    if doc_id % 7 == 3:
                        f.write(f"garbage-{doc_id},not_a_number,,trailing\n")
                    else:
                        f.write(f"{doc_id},{n_chars}\n")
                    n += 1
        yield pd.DataFrame({"n": [n]})

    d.mapInPandas(write_lines, "n long").collect()
    back = (
        spark.read.schema("doc_id long, n_chars long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    ).cache()
    good = back.filter(F.col("_corrupt_record").isNull())
    bad_n = back.filter(F.col("_corrupt_record").isNotNull()).count()
    return good.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_good"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
        F.sum("n_chars").cast("bigint").alias("char_sum"),
        F.lit(bad_n).cast("bigint").alias("n_bad"),
    )


@query(
    "source_rtcdb_index_stats",
    """
    SELECT CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST((COUNT(*) + 1023) // 1024 AS BIGINT) AS n_blocks
    FROM documents
    """,
    tags=("source", "rtcdb-format", "index", "aggregate-pushdown"),
)
def source_rtcdb_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-only aggregates on the reference's own format (round 5 — the
    reference's A8 `get_min`/`get_max` finally served the way its index
    was DESIGNED to serve them, README.md:49-56): documents are written
    as a native table, then min/max/count for two Uint64 columns are
    answered from the 40-byte sparse-index entries alone —
    `sources.rtcdb_native.index_stats` reads ZERO data blocks, performs
    zero LZ4 decodes. The oracle computes the same aggregates by scanning
    the parquet original, so a hash match proves the index entries the
    writer emitted are exact over every block (including short tail
    blocks). The aggregate-pushdown analogue of parquet footer stats: at
    a billion rows this is ~40 MB of index I/O vs ~8 GB of data."""
    from rtcdb_spark.sources.rtcdb_native import index_stats, write_rtcdb

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    ).orderBy("doc_id")
    root = os.path.join(_IO_ROOT, "rtcdb_native_index_stats")
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    write_rtcdb(d, root, "documents")
    s_doc = index_stats(root, "documents", "doc_id")
    s_chars = index_stats(root, "documents", "n_chars")
    assert s_doc["n_rows"] == s_chars["n_rows"]
    return spark.createDataFrame(
        [
            (
                s_doc["min"],
                s_doc["max"],
                s_chars["min"],
                s_chars["max"],
                s_doc["n_rows"],
                s_doc["n_blocks"],
            )
        ],
        "min_doc long, max_doc long, min_chars long, max_chars long, "
        "n_rows long, n_blocks long",
    )


@query(
    "source_db_api_roundtrip",
    """
    SELECT CAST(n_regionkey AS BIGINT) AS region_key,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           MIN(n_name) AS first_name
    FROM nation
    WHERE n_nationkey >= 5
    GROUP BY region_key
    ORDER BY region_key
    """,
    tags=("source", "db-api", "catalog"),
)
def source_db_api_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference-shaped embedded API end-to-end: ``Database.init``
    writes the metadata.json catalog (A1, reference src/metadata.rs:62-71),
    ``write_data`` ingests a row LIST with type/width checks (A3, the
    reference's row-oriented append, src/storage.rs:224-297),
    ``Database.open`` re-reads the catalog cold (A2, src/lib.rs:22-29),
    and ``sql`` runs the aggregate over the reopened table — the four
    reference entry points a migrating user touches first, composed in
    one query. The row list is nation (25 rows — catalog-scale by
    construction; bulk ingest is the DataFrame ``append`` path, benched
    separately)."""
    import tempfile

    from rtcdb_spark.db import Database, TableMeta

    rows = [
        [int(r["n_nationkey"]), str(r["n_name"]), int(r["n_regionkey"])]
        for r in load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()  # 25 rows: the reference's row-list ingest shape
    ]
    path = tempfile.mkdtemp(prefix="rtcdb_dbapi_")
    db = Database.init(
        spark,
        path,
        [
            TableMeta(
                "nation",
                [
                    ("n_nationkey", "int64"),
                    ("n_name", "string"),
                    ("n_regionkey", "int64"),
                ],
            )
        ],
    )
    db.write_data("nation", rows)
    reopened = Database.open(spark, path)
    return reopened.sql(
        """
        SELECT n_regionkey AS region_key,
               CAST(COUNT(*) AS BIGINT) AS n_nations,
               MIN(n_name) AS first_name
        FROM nation
        WHERE n_nationkey >= 5
        GROUP BY n_regionkey
        ORDER BY region_key
        """
    )


@query(
    "source_delta_partitioned_roundtrip",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("source", "delta", "interchange", "partitioned"),
)
def source_delta_partitioned_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta Lake transaction-log interop end-to-end (round 6,
    `sources/delta_log.py` — the PUBLIC delta-io protocol, implemented the
    way `rtcdb_native` implements the reference's byte format): orders is
    written as a PARTITIONED Delta table in three commits (create + two
    appends, Hive-layout directories, one `add` action per file with
    `partitionValues`), then read back by REPLAYING the JSON log — schema
    from `metaData.schemaString` (no footer inference), partition column
    re-attached from the log since Delta data files do not store it. The
    aggregate groups BY that re-attached partition column, so one wrong
    partitionValue, missed add action, or mis-parsed directory name moves
    rows between groups and breaks the hash. min/max keys prove both
    appends landed. Round 6 wave 2: after the appends the table is
    CHECKPOINTED (classic single-file parquet checkpoint, spec types —
    partitionValues as map<string,string>) and every JSON commit deleted,
    so the read plans PURELY from checkpoint replay — the long-lived-table
    path where O(all commits ever) JSON folding is no longer possible."""
    import os
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        append_delta,
        checkpoint_delta,
        delta_versions,
        read_delta,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_rt_")
    import shutil

    shutil.rmtree(path)  # write_delta wants to create it
    write_delta(
        o.filter(F.col("o_orderkey") % 3 == 0), path,
        partition_by=["o_orderpriority"],
    )
    append_delta(o.filter(F.col("o_orderkey") % 3 == 1), path)
    append_delta(o.filter(F.col("o_orderkey") % 3 == 2), path)
    checkpoint_delta(path)
    for v in delta_versions(path):  # clean ALL JSON history: checkpoint-only
        os.remove(os.path.join(path, "_delta_log", f"{v:020d}.json"))
    t = read_delta(spark, path)
    return (
        t.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "source_delta_time_travel",
    """
    SELECT 'v0' AS snapshot, doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents WHERE doc_id < 250
    UNION ALL
    SELECT 'latest' AS snapshot, doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents WHERE doc_id >= 250
    ORDER BY snapshot, doc_id
    """,
    tags=("source", "delta", "interchange", "time-travel", "zero-copy"),
)
def source_delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta interop's remove-action + zero-copy surface in one query: a
    VersionedTable (two commits of documents) exports METADATA-ONLY to
    Delta format (`versioned_to_delta`: absolute-path add actions, no
    byte of data copied), then `overwrite_delta` replaces the contents
    (remove actions for every live file + new adds). Reading version 0
    must replay only the export's adds; reading latest must apply the
    removes — the query returns both snapshots tagged, so a reader that
    ignores removes (latest would still see v0 rows) or drops the
    absolute-path adds (v0 would be empty) breaks the row set, not just
    a count."""
    import tempfile

    from rtcdb_spark.sources.delta_log import overwrite_delta, read_delta, versioned_to_delta
    from rtcdb_spark.sources.versioned import VersionedTable

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    vt = VersionedTable(spark, tempfile.mkdtemp(prefix="rtcdb_delta_src_"))
    vt.commit(d.filter(F.col("doc_id") < 100))
    vt.commit(d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 250)))
    dest = tempfile.mkdtemp(prefix="rtcdb_delta_tt_")
    import shutil

    shutil.rmtree(dest)
    versioned_to_delta(vt, dest)
    overwrite_delta(d.filter(F.col("doc_id") >= 250), dest)
    v0 = read_delta(spark, dest, version=0).select(
        F.lit("v0").alias("snapshot"), "doc_id", F.col("n_chars").cast("bigint")
    )
    latest = read_delta(spark, dest).select(
        F.lit("latest").alias("snapshot"), "doc_id", F.col("n_chars").cast("bigint")
    )
    return v0.unionByName(latest).orderBy("snapshot", "doc_id")


@query(
    "source_delta_column_mapping",
    """
    SELECT c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
           MIN(c_custkey) AS min_key,
           MAX(c_custkey) AS max_key
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY segment
    """,
    tags=("source", "delta", "interchange", "column-mapping"),
)
def source_delta_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta column mapping, 'name' mode (round 7, `sources/delta_log.py`
    — the most common modern-Delta feature behind the old
    minReaderVersion>1 gate, and the interchange gap a real user hits
    first per the r6 verdict): customer is laid out exactly as a
    column-mapping writer would produce it — data files carry PHYSICAL
    ``col-<n>`` names, the log's `metaData.schemaString` maps them to the
    logical names via `delta.columnMapping.physicalName` field metadata,
    `configuration.delta.columnMapping.mode = name`, protocol
    minReaderVersion 2, and the partition column's `partitionColumns` /
    `partitionValues` entries are keyed by the PHYSICAL name. `read_delta`
    must build the physical read schema, restore logical names, and
    re-attach the partition column under its LOGICAL name — the aggregate
    groups by that re-attached logical column and sums a mapped value
    column, so a wrong physical→logical mapping, a partition value
    re-attached under the physical key, or a dropped mapped column each
    break the hash, not just a count."""
    import json
    import os
    import tempfile

    from rtcdb_spark.sources.delta_log import read_delta

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("col-1"),
        F.col("c_mktsegment").alias("col-2"),
        F.col("c_acctbal").cast("double").alias("col-3"),
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_cm_")
    import shutil

    shutil.rmtree(path)
    c.write.partitionBy("col-2").parquet(path)
    fields = [
        {"name": "cust_key", "type": "long", "nullable": True, "metadata": {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-1"}},
        {"name": "segment", "type": "string", "nullable": True, "metadata": {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "col-2"}},
        {"name": "balance", "type": "double", "nullable": True, "metadata": {
            "delta.columnMapping.id": 3,
            "delta.columnMapping.physicalName": "col-3"}},
    ]
    adds = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(root, f), path)
            pvals = {}
            for seg in rel.split(os.sep)[:-1]:
                if seg.startswith("col-2="):
                    pvals["col-2"] = seg.split("=", 1)[1]
            adds.append({"add": {
                "path": rel.replace(os.sep, "/"), "partitionValues": pvals,
                "size": os.path.getsize(os.path.join(root, f)),
                "modificationTime": 0, "dataChange": True}})
    os.makedirs(os.path.join(path, "_delta_log"))
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": "cm-demo",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": fields}),
                "partitionColumns": ["col-2"],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "3"},
                "createdTime": 0}},
        ] + adds:
            fh.write(json.dumps(a) + "\n")
    t = read_delta(spark, path)
    return (
        t.groupBy(F.col("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.sum(F.col("balance").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
            F.min("cust_key").alias("min_key"),
            F.max("cust_key").alias("max_key"),
        )
        .orderBy("segment")
    )


@query(
    "source_delta_deletion_vectors",
    """
    SELECT doc_id % 5 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM documents
    WHERE doc_id % 7 <> 0
    GROUP BY doc_id % 5
    ORDER BY bucket
    """,
    tags=("source", "delta", "interchange", "deletion-vectors"),
)
def source_delta_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta DELETION VECTORS end-to-end (round 7, `sources/
    deletion_vectors.py` + `delta_log._scan_snapshot`): documents is written
    as a one-file Delta table, then a DV-writing engine's DELETE is
    reproduced exactly — the row INDEXES of every doc_id divisible by 7
    are found from the parquet file itself, serialized as a
    RoaringBitmapArray (portable format) into a spec-layout DV file
    (version byte, big-endian size, CRC-32), and committed as
    remove+re-add with the `deletionVector` descriptor ('u' storage:
    Z85-encoded UUID file name). `read_delta` must decode the bitmap and
    anti-join those row positions out on `_metadata.row_index`. The
    aggregate buckets the SURVIVORS, so one extra/missing/shifted row
    index breaks the hash — and the oracle states the deletion as the
    predicate the row indexes encode, proving position-based deletion
    reproduces value-based DELETE semantics."""
    import json as _json
    import os
    import tempfile
    import uuid as _uuid

    import pyarrow.parquet as pq

    from rtcdb_spark.sources.delta_log import delta_versions, read_delta, write_delta
    from rtcdb_spark.sources.deletion_vectors import write_dv_file, z85_encode

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    path = tempfile.mkdtemp(prefix="rtcdb_delta_dv_")
    import shutil

    shutil.rmtree(path)
    write_delta(d.coalesce(1), path)
    rel = [f for f in os.listdir(path) if f.endswith(".parquet")][0]
    ids = pq.read_table(os.path.join(path, rel), columns=["doc_id"])
    doomed = [i for i, v in enumerate(ids.column("doc_id").to_pylist()) if v % 7 == 0]
    u = _uuid.uuid4()
    off, size = write_dv_file(
        os.path.join(path, f"deletion_vector_{u}.bin"), doomed
    )
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json")) as fh:
        orig = next(
            a["add"] for a in map(_json.loads, fh) if a.get("add")
        )
    v = delta_versions(path)[-1] + 1
    with open(os.path.join(path, "_delta_log", f"{v:020d}.json"), "w") as fh:
        fh.write(_json.dumps({"remove": {
            "path": orig["path"], "deletionTimestamp": 0, "dataChange": True,
        }}) + "\n")
        fh.write(_json.dumps({"add": {**orig, "deletionVector": {
            "storageType": "u", "pathOrInlineDv": z85_encode(u.bytes),
            "offset": off, "sizeInBytes": size, "cardinality": len(doomed),
        }}}) + "\n")
    t = read_delta(spark, path)
    return (
        t.groupBy((F.col("doc_id") % 5).alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("bucket")
    )


@query(
    "source_delta_optimize_vacuum",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("source", "delta", "interchange", "optimize", "vacuum"),
)
def source_delta_optimize_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta maintenance end-to-end (round 7, `delta_log.optimize_delta`
    / `vacuum_delta`): orders lands as a many-file Delta table across two
    commits, OPTIMIZE rewrites the live set into 2 files as a
    dataChange=false commit, and VACUUM(0) physically reclaims every
    tombstoned pre-optimize file. The query asserts in-flight that the
    live file count shrank, that vacuum deleted exactly the superseded
    files, and that a second vacuum is a no-op — then aggregates the
    post-maintenance table, so any row lost or duplicated by the
    rewrite+reclaim cycle breaks the hash against the pristine fixture."""
    import os
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        _snapshot_state,
        append_delta,
        optimize_delta,
        read_delta,
        vacuum_delta,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_opt_")
    import shutil

    shutil.rmtree(path)
    write_delta(o.filter(F.col("o_orderkey") % 2 == 0).repartition(6), path)
    append_delta(o.filter(F.col("o_orderkey") % 2 == 1).repartition(4), path)
    _, adds_before, _ = _snapshot_state(path)
    optimize_delta(spark, path, target_files=2)
    _, adds_after, _ = _snapshot_state(path)
    assert len(adds_after) < len(adds_before), "optimize did not compact"
    deleted = vacuum_delta(path, retain_ms=0)
    assert len(deleted) == len(adds_before), "vacuum missed tombstoned files"
    assert vacuum_delta(path, retain_ms=0) == [], "vacuum not idempotent"
    live_on_disk = [
        f
        for root, dirs, files in os.walk(path)
        if "_delta_log" not in root
        for f in files
        if f.endswith(".parquet")
    ]
    assert len(live_on_disk) == len(adds_after)
    t = read_delta(spark, path)
    return (
        t.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "source_delta_changes",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_orderkey % 3 = 1
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("source", "delta", "interchange", "incremental", "changes"),
)
def source_delta_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append-feed reads over a Delta log (round 7,
    `delta_log.delta_changes` — the Delta twin of
    `VersionedTable.changes`): orders lands in three append commits
    (keys %3 = 0, 1, 2) with an OPTIMIZE compaction interleaved between
    the second and third; `delta_changes(1, 1)` must return EXACTLY the
    second commit's rows — reading only the data files that commit added
    with dataChange=true, skipping the maintenance commit's
    dataChange=false rewrite, and NOT re-reading the compacted files
    (which now contain all three slices merged). The aggregate runs over
    the change slice, so any leakage from neighboring commits or from
    the compaction breaks the hash against the %3=1 fixture filter."""
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        append_delta,
        delta_changes,
        optimize_delta,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_ch_")
    import shutil

    shutil.rmtree(path)
    write_delta(o.filter(F.col("o_orderkey") % 3 == 0), path)
    append_delta(o.filter(F.col("o_orderkey") % 3 == 1), path)
    optimize_delta(spark, path)  # maintenance noise the feed must skip
    append_delta(o.filter(F.col("o_orderkey") % 3 == 2), path)
    ch = delta_changes(spark, path, 1, 1)
    return (
        ch.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "source_delta_delete_dv",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE NOT (o_orderkey % 10 = 0 OR o_orderpriority = '1-URGENT')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("source", "delta", "interchange", "deletion-vectors", "delete"),
)
def source_delta_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE via deletion-vector WRITES (round 7 wave 2,
    `delta_log.delete_delta`): orders lands as a partitioned Delta table,
    then TWO predicate deletes run — one by a data column (key%10=0,
    marking rows inside files) and one by the PARTITION column
    ('1-URGENT', killing whole files, which per spec drop outright
    instead of carrying full bitmaps) — without rewriting a single
    surviving data file (asserted in-query by file-set identity). The
    second delete must MERGE with the first's vectors. The aggregate runs
    over the survivors, so one wrong row index, an unmerged bitmap, or a
    resurrected dropped file breaks the hash against the fixture's
    NOT-predicate twin."""
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        _snapshot_state,
        delete_delta,
        read_delta,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_del_")
    import shutil

    shutil.rmtree(path)
    write_delta(o, path, partition_by=["o_orderpriority"])
    _m, adds0, _s = _snapshot_state(path)
    delete_delta(spark, path, "o_orderkey % 10 = 0")
    delete_delta(spark, path, "o_orderpriority = '1-URGENT'")
    _m, adds2, _s = _snapshot_state(path)
    # surviving files are a subset of the original writes: nothing rewritten
    assert set(adds2) <= set(adds0), "DELETE rewrote data files"
    # every survivor carries a DV (key%10=0 touches every remaining file),
    # and the partition delete dropped the URGENT files outright
    assert all(
        a.get("deletionVector") for a in adds2.values()
    ), "a surviving file lost its deletion vector"
    assert not any(
        "1-URGENT" in p for p in adds2
    ), "a fully-deleted partition file was resurrected"
    t = read_delta(spark, path)
    return (
        t.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "source_delta_cdf",
    """
    SELECT _change_type, _commit_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM (
        SELECT 'insert' AS _change_type,
               CAST(CASE WHEN o_orderkey % 3 <> 2 THEN 0 ELSE 1 END AS BIGINT)
                   AS _commit_version,
               o_orderkey
        FROM orders
        UNION ALL
        SELECT 'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version,
               o_orderkey
        FROM orders WHERE o_orderkey % 10 < 3
    )
    GROUP BY _change_type, _commit_version
    ORDER BY _change_type, _commit_version
    """,
    tags=("source", "delta", "interchange", "cdf", "changes", "delete"),
)
def source_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta CHANGE DATA FEED end-to-end (round 8,
    `delta_log.delta_changes_cdf` + the CDC writer inside
    `delete_delta`): orders lands with `delta.enableChangeDataFeed=true`
    in two append commits (keys %3 != 2, then %3 = 2), then a DV DELETE
    (%10 < 3) whose commit must carry spec-layout `_change_data/` files
    + `cdc` actions (asserted in-query). Reading the feed across ALL
    commits must yield each append's rows as `_change_type='insert'` at
    its own `_commit_version` (derived from the file actions — the
    protocol's rule for commits without CDC files) and exactly the
    deleted rows as `_change_type='delete'` from the CDC files. The
    aggregate keys on (change type, commit version), so a row leaked
    between commits, a missed CDC file, or a double-derived change
    breaks the hash against the fixture's UNION ALL twin."""
    import json as _json
    import os as _os
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        append_delta,
        delete_delta,
        delta_changes_cdf,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_cdf_")
    shutil.rmtree(path)
    write_delta(
        o.filter(F.col("o_orderkey") % 3 != 2),
        path,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    append_delta(o.filter(F.col("o_orderkey") % 3 == 2), path)
    v = delete_delta(spark, path, "o_orderkey % 10 < 3")
    commit = _os.path.join(path, "_delta_log", f"{v:020d}.json")
    acts = [_json.loads(x) for x in open(commit).read().splitlines()]
    cdcs = [a["cdc"] for a in acts if a.get("cdc")]
    assert cdcs, "CDF-enabled DELETE must write cdc actions"
    assert all(
        c["path"].startswith("_change_data/") and c["dataChange"] is False
        for c in cdcs
    ), "cdc actions must point under _change_data/ with dataChange=false"
    feed = delta_changes_cdf(spark, path, 0)
    return (
        feed.groupBy("_change_type", "_commit_version")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("_change_type", "_commit_version")
    )


@query(
    "source_delta_merge_cdf",
    """
    SELECT _change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key,
    """
    + sql_dsum("p")
    + """ AS total_price
    FROM (
        SELECT 'update_preimage' AS _change_type, o_orderkey,
               o_totalprice AS p
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT 'update_postimage' AS _change_type, o_orderkey,
               o_totalprice * 2 AS p
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT 'insert' AS _change_type, o_orderkey + 10000000,
               o_totalprice AS p
        FROM orders WHERE o_orderkey % 13 = 0
    )
    GROUP BY _change_type
    ORDER BY _change_type
    """,
    tags=("source", "delta", "interchange", "merge", "cdf"),
)
def source_delta_merge_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta MERGE INTO with full Change-Data-Feed vocabulary (round 8,
    `delta_log.merge_delta`): orders lands as a CDF-enabled Delta table;
    a MERGE source carries updates (keys %7=0, price doubled) and
    inserts (keys %13=0 shifted by 10M). The merge rewrites ONLY files
    containing matched rows (file-level pruning asserted in-query) and
    its commit carries CDC files with update_preimage/update_postimage
    pairs + inserts; the aggregate runs over the feed read back by
    `delta_changes_cdf`, keyed by change type, with prices summed via
    the DECIMAL pattern — a missed preimage, a doubled insert, or a
    price computed from the wrong side breaks the hash against the
    fixture's UNION ALL twin."""
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        _snapshot_state,
        delta_changes_cdf,
        merge_delta,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_merge_")
    shutil.rmtree(path)
    write_delta(
        o.repartition(8),
        path,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    _m, adds0, _s = _snapshot_state(path)
    updates = o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    inserts = o.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    v = merge_delta(
        spark, path, updates.unionByName(inserts), on=["o_orderkey"]
    )
    _m, adds1, _s = _snapshot_state(path)
    # file-level pruning: every live pre-merge file either survived
    # as-is or was replaced; at least the update targets were rewritten
    assert set(adds1) - set(adds0), "merge staged no new files"
    feed = delta_changes_cdf(spark, path, v, v)
    return (
        feed.groupBy("_change_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            dsum("o_totalprice", alias="total_price"),
        )
        .orderBy("_change_type")
    )


def _mk_mapped_log(path: str, fields: list, pcols: list, config: dict):
    """Version-0 commit of an EMPTY column-mapped Delta table (the log
    is the table; data arrives via append_delta) — the shape foreign
    writers like delta-rs produce when creating mapped tables."""
    import json as _json
    import os as _os

    _os.makedirs(_os.path.join(path, "_delta_log"))
    with open(
        _os.path.join(path, "_delta_log", f"{0:020d}.json"), "w"
    ) as fh:
        for a in [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 6}},
            {
                "metaData": {
                    "id": "m",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _json.dumps(
                        {"type": "struct", "fields": fields}
                    ),
                    "partitionColumns": pcols,
                    "configuration": config,
                    "createdTime": 0,
                }
            },
        ]:
            fh.write(_json.dumps(a) + "\n")


@query(
    "source_delta_cdf_id_mapped",
    """
    SELECT _change_type, _commit_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM (
        SELECT 'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version,
               o_orderkey
        FROM orders
        UNION ALL
        SELECT 'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version,
               o_orderkey
        FROM orders WHERE o_orderkey % 10 < 3
    )
    GROUP BY _change_type, _commit_version
    ORDER BY _change_type, _commit_version
    """,
    tags=("source", "delta", "interchange", "cdf", "column-mapping", "id"),
)
def source_delta_cdf_id_mapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed on an ID-MODE column-mapped table (round 9 —
    the last CDF writer-matrix cell, `delta_log._write_cdc_files` id
    branch via the `_arrow_stage` executor writer): an empty id-mapped
    table is created the way delta-rs does (physical names col-N +
    field ids in the log), orders appends as v1 (files carry
    `PARQUET:field_id`, asserted in-query), a DV DELETE (%10 < 3)
    writes CDC files that must ALSO carry physical names + field ids
    with `_change_type` stored verbatim and id-less (the protocol's
    change-data-file rule, asserted on a CDC footer). Reading the feed
    across all commits resolves data columns BY FIELD ID; one missing
    id, a logical name leaking into a footer, or a mis-keyed partition
    join breaks the hash against the fixture's UNION ALL twin."""
    import json as _json
    import os as _os
    import shutil
    import tempfile

    import pyarrow.parquet as _pq

    from rtcdb_spark.sources.delta_log import (
        append_delta,
        delete_delta,
        delta_changes_cdf,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_cdf_id_")
    shutil.rmtree(path)
    _mk_mapped_log(
        path,
        [
            {"name": "o_orderkey", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-1"}},
            {"name": "o_orderpriority", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-2"}},
        ],
        [],
        {
            "delta.columnMapping.mode": "id",
            "delta.columnMapping.maxColumnId": "2",
            "delta.enableChangeDataFeed": "true",
        },
    )
    append_delta(o, path)
    v = delete_delta(spark, path, "o_orderkey % 10 < 3")
    commit = _os.path.join(path, "_delta_log", f"{v:020d}.json")
    acts = [_json.loads(x) for x in open(commit).read().splitlines()]
    cdcs = [a["cdc"] for a in acts if a.get("cdc")]
    assert cdcs, "CDF-enabled DELETE must write cdc actions"
    rep = str(
        _pq.ParquetFile(_os.path.join(path, cdcs[0]["path"])).schema
    )
    assert "field_id=1 col-1" in rep and "field_id=2 col-2" in rep, rep
    assert "_change_type" in rep, rep
    feed = delta_changes_cdf(spark, path, 0)
    return (
        feed.groupBy("_change_type", "_commit_version")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("_change_type", "_commit_version")
    )


@query(
    "source_delta_nested_id_partitioned",
    """
    SELECT o_orderstatus AS p,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_a,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM (
        SELECT * FROM orders
        UNION ALL
        SELECT * FROM orders WHERE o_orderkey % 5 = 0
    )
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("source", "delta", "interchange", "column-mapping", "id",
          "nested", "partitioned"),
)
def source_delta_nested_id_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITIONED writes to a NESTED-id-mapped Delta table (round 9 —
    the last writer-matrix cell, `delta_log._arrow_stage`): the table
    maps a struct column's MEMBERS to field ids (what Spark's own
    writer cannot stamp below the top level), partitioned by a mapped
    string column. Two appends land via the executor-side Arrow stage
    writer — hive dirs + partitionValues from descriptors, field ids at
    every nesting level and NO partition column inside the files (both
    asserted in-query on a staged footer). The aggregate reads the
    snapshot back through the field-id scan and keys on the partition
    column, so a mis-routed row, a dropped hive dir, or a partition
    value that leaked into the file breaks the hash against the
    fixture's UNION ALL twin."""
    import json as _json
    import os as _os
    import shutil
    import tempfile

    import pyarrow.parquet as _pq

    from rtcdb_spark.sources.delta_log import append_delta, read_delta

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.struct(
            F.col("o_custkey").alias("a"),
            F.col("o_orderpriority").alias("b"),
        ).alias("s"),
        F.col("o_orderstatus").alias("p"),
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_nidp_")
    shutil.rmtree(path)
    _mk_mapped_log(
        path,
        [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-1"}},
            {"name": "s", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-2"},
             "type": {"type": "struct", "fields": [
                 {"name": "a", "type": "long", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 3,
                               "delta.columnMapping.physicalName": "col-3"}},
                 {"name": "b", "type": "string", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 4,
                               "delta.columnMapping.physicalName": "col-4"}},
             ]}},
            {"name": "p", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 5,
                          "delta.columnMapping.physicalName": "col-5"}},
        ],
        ["col-5"],
        {
            "delta.columnMapping.mode": "id",
            "delta.columnMapping.maxColumnId": "5",
        },
    )
    append_delta(o, path)
    append_delta(o.filter(F.col("k") % 5 == 0), path)
    cpath = _os.path.join(path, "_delta_log", f"{1:020d}.json")
    adds = [
        _json.loads(x)["add"] for x in open(cpath) if '"add"' in x
    ]
    assert adds and all(a["path"].startswith("col-5=") for a in adds)
    rep = str(_pq.ParquetFile(_os.path.join(path, adds[0]["path"])).schema)
    assert "field_id=3 col-3" in rep and "field_id=4 col-4" in rep, rep
    assert "col-5" not in rep, "partition column leaked into a data file"
    t = read_delta(spark, path)
    return (
        t.groupBy(F.col("p"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("s.a")).cast("bigint").alias("sum_a"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
        .orderBy("p")
    )


@query(
    "source_delta_restore",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("source", "delta", "interchange", "restore", "history"),
)
def source_delta_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... TO VERSION AS OF + DESCRIBE HISTORY (round 9,
    `delta_log.restore_delta`/`delta_history`): orders lands as v0, a
    DV DELETE kills every third row (v1), an append injects shifted
    junk keys (v2), then RESTORE to v0 makes the live set — and only
    the live set — the original snapshot in ONE metadata commit:
    nothing is rewritten, the deleted rows come back by re-adding the
    target's DV-free add actions (protocol reconciliation), the junk
    file is removed, and time travel to v2 still sees the junk
    (asserted in-query). The history must read WRITE/DELETE/WRITE/
    RESTORE from the commitInfo trail. The aggregate runs over the
    restored snapshot; the oracle aggregates the original table — a
    resurrected junk row, a still-applied deletion vector, or a
    clobbered history breaks the hash."""
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        append_delta,
        delete_delta,
        delta_history,
        read_delta,
        restore_delta,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_restore_")
    shutil.rmtree(path)
    write_delta(o, path)
    delete_delta(spark, path, "o_orderkey % 3 = 0")
    append_delta(
        o.limit(100).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(90_000_000)
        ),
        path,
    )
    v = restore_delta(spark, path, 0)
    assert v == 3, v
    # pre-restore head still time-travels, junk included
    assert (
        read_delta(spark, path, version=2)
        .filter(F.col("o_orderkey") >= 90_000_000)
        .count()
        == 100
    )
    ops = [h["operation"] for h in delta_history(path)]
    assert ops == ["RESTORE", "WRITE", "DELETE", "WRITE"], ops
    t = read_delta(spark, path)
    return (
        t.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "source_delta_zorder_skipping",
    """
    WITH b AS (
        SELECT MIN(o_custkey) AS mn,
               MAX(o_custkey) - MIN(o_custkey) AS span
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
    FROM orders
    WHERE o_custkey BETWEEN
        (SELECT mn + CAST(FLOOR(span / 5) AS BIGINT) FROM b)
        AND
        (SELECT mn + CAST(FLOOR(span * 2 / 5) AS BIGINT) FROM b)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("source", "delta", "interchange", "zorder", "data-skipping",
          "optimize"),
)
def source_delta_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... ZORDER BY + log-stats data skipping on Delta tables
    (round 9, `delta_log.optimize_delta(zorder_by=...)` +
    `delta_plan_files`/`read_delta_pruned`): orders lands range-
    clustered by o_orderkey (8 files), so a o_custkey range predicate
    prunes NOTHING from the log's per-file minValues/maxValues
    (asserted in-query). One ZORDER rewrite along the Morton curve of
    (o_orderkey, o_custkey) — a dataChange=false commit — makes the
    SECOND dimension prunable: the same predicate now skips files
    (asserted), and the pruned read (which routes through the shared
    one-scan snapshot reader, so DVs/partitions/mapping would still
    apply) must produce exactly the plain filter's rows. The aggregate
    hashes against the fixture's WHERE twin — an unsound skip (a
    dropped boundary file) or stale stats breaks it. At 100 TB this is
    the second-query-dimension lever: prunable without a second copy
    of the data."""
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        delta_plan_files,
        optimize_delta,
        read_delta_pruned,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_z_")
    shutil.rmtree(path)
    write_delta(o.repartitionByRange(8, "o_orderkey"), path)
    # the probed band is the [20%, 40%] slice of the custkey DOMAIN —
    # derived from the data so the fixture scales with sf (a fixed
    # constant range empties at small scale factors)
    mn, mx = o.agg(F.min("o_custkey"), F.max("o_custkey")).collect()[0]
    lo = int(mn) + (int(mx) - int(mn)) // 5
    hi = int(mn) + (int(mx) - int(mn)) * 2 // 5
    keep0, total0 = delta_plan_files(path, "o_custkey", lo, hi)
    assert total0 == 8 and len(keep0) == 8, (len(keep0), total0)
    optimize_delta(
        spark, path, target_files=8,
        zorder_by=["o_orderkey", "o_custkey"],
    )
    keep1, total1 = delta_plan_files(path, "o_custkey", lo, hi)
    assert total1 == 8 and len(keep1) < 8, (len(keep1), total1)
    t = read_delta_pruned(spark, path, "o_custkey", lo, hi)
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.sum("o_custkey").cast("bigint").alias("cust_sum"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_delta_liquid_clustering",
    """
    WITH b AS (
        SELECT MIN(o_custkey) AS mn,
               MAX(o_custkey) - MIN(o_custkey) AS span
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
    FROM orders
    WHERE o_custkey BETWEEN
        (SELECT mn + CAST(FLOOR(span * 3 / 5) AS BIGINT) FROM b)
        AND
        (SELECT mn + CAST(FLOOR(span * 4 / 5) AS BIGINT) FROM b)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("source", "delta", "interchange", "clustering",
          "domain-metadata", "data-skipping", "optimize"),
)
def source_delta_liquid_clustering(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Liquid-clustering metadata via Domain Metadata (round 10,
    `delta_log.set_clustering_columns` + `domainMetadata` actions +
    the `optimize_delta` tie-in): orders lands range-clustered by
    o_orderkey (8 files; a o_custkey band prunes nothing — asserted),
    then CLUSTER BY metadata is recorded in the `delta.clustering`
    system domain — a `domainMetadata` action whose commit upgrades
    the protocol to writer-feature `domainMetadata` with the legacy
    features enumerated (asserted in-query) — and a BARE `OPTIMIZE`
    (no zorder argument) re-clusters along the declared columns, the
    way liquid clustering's maintenance runs. The o_custkey band now
    skips files (asserted); a classic checkpoint is written and every
    JSON commit DELETED, so the final pruned read folds the domain,
    the feature protocol, and the stats purely from checkpoint rows.
    The aggregate hashes against the fixture's WHERE twin. At 100 TB:
    clustering policy travels WITH the table (any engine's OPTIMIZE
    re-clusters the same way), and checkpoint replay is O(live files)
    regardless of history length."""
    import os
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        _snapshot_state,
        checkpoint_delta,
        clustering_columns,
        delta_domain_metadata,
        delta_plan_files,
        optimize_delta,
        read_delta_pruned,
        set_clustering_columns,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_lc_")
    shutil.rmtree(path)
    write_delta(o.repartitionByRange(8, "o_orderkey"), path)
    mn, mx = o.agg(F.min("o_custkey"), F.max("o_custkey")).collect()[0]
    lo = int(mn) + (int(mx) - int(mn)) * 3 // 5
    hi = int(mn) + (int(mx) - int(mn)) * 4 // 5
    keep0, total0 = delta_plan_files(path, "o_custkey", lo, hi)
    assert total0 == 8 and len(keep0) == 8, (len(keep0), total0)
    set_clustering_columns(path, ["o_orderkey", "o_custkey"])
    assert clustering_columns(path) == ["o_orderkey", "o_custkey"]
    proto = _snapshot_state(path)[2]["protocol"]
    assert proto["minWriterVersion"] == 7 and {
        "domainMetadata", "appendOnly", "invariants",
    } <= set(proto["writerFeatures"]), proto
    optimize_delta(spark, path, target_files=8)  # bare OPTIMIZE
    keep1, total1 = delta_plan_files(path, "o_custkey", lo, hi)
    assert total1 == 8 and len(keep1) < 8, (len(keep1), total1)
    checkpoint_delta(path)
    log = os.path.join(path, "_delta_log")
    for f in os.listdir(log):
        if f.endswith(".json") and f[:20].isdigit():
            os.remove(os.path.join(log, f))
    # checkpoint-only table: domain + protocol + stats all from rows
    assert "delta.clustering" in delta_domain_metadata(path)
    keep2, total2 = delta_plan_files(path, "o_custkey", lo, hi)
    assert (len(keep2), total2) == (len(keep1), total1)
    t = read_delta_pruned(spark, path, "o_custkey", lo, hi)
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            F.sum("o_custkey").cast("bigint").alias("cust_sum"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_delta_ict_travel",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
    FROM orders
    WHERE o_orderkey % 4 <> 3
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("source", "delta", "interchange", "ict", "timestamp-travel"),
)
def source_delta_ict_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-Commit Timestamps driving TIMESTAMP AS OF (round 10,
    `delta_log.enable_in_commit_timestamps`): orders lands in three
    commits (v0 pre-ICT, v2-v3 stamped with strictly monotone
    `commitInfo.inCommitTimestamp`, commitInfo FIRST — both asserted
    in-query), then every commit file's mtime is pushed A DAY into the
    future — the backup/copy/retention clock skew ICT exists to
    survive. TIMESTAMP AS OF the v2 stamp must still resolve to v2
    (file mtimes would say "nothing committed yet") and the read at
    that timestamp excludes v3's slice. The aggregate hashes against
    the fixture's 3-of-4 twin, so a travel that trusted mtimes or a
    non-monotone stamp breaks it."""
    import os
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        append_delta,
        delta_version_at,
        enable_in_commit_timestamps,
        read_delta_at_timestamp,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_ict_")
    shutil.rmtree(path)
    write_delta(o.filter(F.col("o_orderkey") % 4 == 0), path)      # v0
    ev = enable_in_commit_timestamps(path)                          # v1
    append_delta(o.filter(F.col("o_orderkey") % 4 == 1), path)      # v2
    append_delta(o.filter(F.col("o_orderkey") % 4 == 2), path)      # v3
    append_delta(o.filter(F.col("o_orderkey") % 4 == 3), path)      # v4
    log = os.path.join(path, "_delta_log")
    icts = {}
    import json as _json

    for f in os.listdir(log):
        if f.endswith(".json") and f[:20].isdigit():
            with open(os.path.join(log, f)) as fh:
                first = _json.loads(fh.readline())
            ci = first.get("commitInfo") or {}
            if "inCommitTimestamp" in ci:
                icts[int(f[:20])] = ci["inCommitTimestamp"]
    assert sorted(icts) == [ev, ev + 1, ev + 2, ev + 3], icts
    vals = [icts[v] for v in sorted(icts)]
    assert all(b > a for a, b in zip(vals, vals[1:])), vals
    # clock sabotage: every commit file's mtime jumps a day ahead
    for f in os.listdir(log):
        if f.endswith(".json"):
            p = os.path.join(log, f)
            os.utime(p, (os.path.getmtime(p) + 86400,) * 2)
    at = icts[ev + 2]  # v3's stamp: includes slices 0,1,2 — not 3
    assert delta_version_at(path, at) == ev + 2
    t = read_delta_at_timestamp(spark, path, at)
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_custkey").cast("bigint").alias("cust_sum"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_delta_alter_columns",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_notes,
           MAX(o_orderkey) AS max_key
    FROM orders
    """,
    tags=("source", "delta", "interchange", "alter", "column-mapping",
          "schema-evolution"),
)
def source_delta_alter_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE surface end-to-end (round 10; nested-member RENAME
    round 11 — `delta_log.enable_column_mapping` +
    `alter_delta_rename_column` / `alter_delta_drop_column` /
    `alter_delta_add_column`): the even half of orders lands unmapped
    with (o_orderkey, s struct<cust>, o_orderpriority); column mapping
    is then ENABLED IN PLACE (physical names pinned recursively, so the
    existing files resolve unchanged), the NESTED member s.cust is
    RENAMED to buyer (dotted-path, metadata-only — the files still say
    cust inside the struct), o_orderpriority is DROPPED, a fresh `note`
    string is ADDED, and the odd half is appended carrying
    (o_orderkey, s{buyer}, note). The final read must stitch both
    generations: old files contribute their renamed nested values and
    NULL notes, new files carry notes — so the count of non-null notes
    equals exactly the appended half. The aggregate hashes against
    plain orders with a CASE twin; a resurrection of the dropped
    column's identity, a nested rename that broke old-file resolution,
    or nulls in the wrong generation all break it."""
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        alter_delta_add_column,
        alter_delta_drop_column,
        alter_delta_rename_column,
        append_delta,
        enable_column_mapping,
        read_delta,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.struct(F.col("o_custkey").alias("cust")).alias("s"),
        "o_orderpriority",
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_alter_")
    shutil.rmtree(path)
    write_delta(o.filter(F.col("o_orderkey") % 2 == 0), path)
    enable_column_mapping(path)
    alter_delta_rename_column(path, "s.cust", "buyer")
    alter_delta_drop_column(path, "o_orderpriority")
    alter_delta_add_column(path, "note", "string")
    append_delta(
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            F.struct(F.col("s.cust").alias("buyer")).alias("s"),
            F.lit("late").alias("note"),
        ),
        path,
    )
    t = read_delta(spark, path)
    assert set(t.columns) == {"o_orderkey", "s", "note"}, t.columns
    assert t.schema["s"].dataType.fieldNames() == ["buyer"], t.schema
    return t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("s.buyer")).cast("bigint").alias("cust_sum"),
        F.count("note").cast("bigint").alias("n_notes"),
        F.max("o_orderkey").alias("max_key"),
    )


@query(
    "source_delta_row_tracking",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_orderkey % 10 >= 2
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("source", "delta", "interchange", "row-tracking",
          "domain-metadata"),
)
def source_delta_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW TRACKING end-to-end (round 10,
    `delta_log.enable_row_tracking` + `read_delta_row_ids`): the even
    half of orders lands, row tracking is enabled (the backfill commit
    re-adds every live file with a baseRowId and records the
    rowIdHighWaterMark in the `delta.rowTracking` system domain), the
    odd half appends with fresh ids above the high-water mark, and a
    DV DELETE drops o_orderkey % 10 < 2. In-query asserts: every
    surviving row's `_row_id` is UNIQUE, the ids assigned before the
    delete are IDENTICAL after it (stability — the DV re-add keeps
    baseRowId, deleted positions just vanish), and the appended half's
    `_row_commit_version` is exactly its commit. The aggregate runs
    over the surviving rows and hashes against the fixture's WHERE
    twin, so a dropped survivor, a resurrected row, or a double-count
    from id collisions breaks it."""
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        append_delta,
        delete_delta,
        enable_row_tracking,
        read_delta_row_ids,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_rt_")
    shutil.rmtree(path)
    write_delta(o.filter(F.col("o_orderkey") % 2 == 0), path)
    ev = enable_row_tracking(spark, path)
    av = append_delta(o.filter(F.col("o_orderkey") % 2 == 1), path)
    pre = read_delta_row_ids(spark, path).select("o_orderkey", "_row_id")
    n_total = o.count()
    stats = read_delta_row_ids(spark, path).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("_row_id").alias("n_ids"),
        F.sum(
            (F.col("_row_commit_version") == av).cast("int")
        ).alias("n_appended"),
    ).collect()[0]
    assert stats["n"] == n_total and stats["n_ids"] == n_total, stats
    n_odd = o.filter(F.col("o_orderkey") % 2 == 1).count()
    assert stats["n_appended"] == n_odd, (stats, n_odd, ev)
    delete_delta(spark, path, "o_orderkey % 10 < 2")
    t = read_delta_row_ids(spark, path)
    # stability: surviving (o_orderkey, _row_id) pairs are a subset of
    # the pre-delete assignment — one distributed anti-join, no collect
    moved = t.select("o_orderkey", "_row_id").exceptAll(pre).count()
    assert moved == 0, f"{moved} row ids changed across the DV delete"
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("o_custkey").cast("bigint").alias("cust_sum"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_delta_multi_skipping",
    """
    WITH b AS (
        SELECT MIN(o_orderkey) AS kmn, MAX(o_orderkey) - MIN(o_orderkey) AS kspan,
               MIN(o_custkey) AS cmn, MAX(o_custkey) - MIN(o_custkey) AS cspan
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
           MAX(o_orderkey) AS max_key
    FROM orders
    WHERE o_orderkey <= (SELECT kmn + CAST(FLOOR(kspan / 4) AS BIGINT) FROM b)
      AND o_custkey  <= (SELECT cmn + CAST(FLOOR(cspan / 4) AS BIGINT) FROM b)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("source", "delta", "interchange", "data-skipping", "zorder",
          "multi-predicate"),
)
def source_delta_multi_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (multi-predicate) data skipping (round 10,
    `delta_log.delta_plan_files_multi`): orders is ZORDER'd on
    (o_orderkey, o_custkey), then a query ANDing ranges on BOTH columns
    plans its file set as the INTERSECTION of each predicate's sound
    keep set — asserted in-query to prune at least as hard as either
    conjunct alone (the multiplicative payoff clustering exists for).
    The pruned read routes through the shared one-scan reader and
    hashes against the fixture's two-clause WHERE twin, so an unsound
    intersection (a file wrongly pruned by the combination) breaks it."""
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        delta_plan_files,
        delta_plan_files_multi,
        optimize_delta,
        read_delta_pruned_multi,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_ms_")
    shutil.rmtree(path)
    write_delta(o.repartition(8), path)  # unclustered on purpose
    optimize_delta(
        spark, path, target_files=8,
        zorder_by=["o_orderkey", "o_custkey"],
    )
    kmn, kmx, cmn, cmx = o.agg(
        F.min("o_orderkey"), F.max("o_orderkey"),
        F.min("o_custkey"), F.max("o_custkey"),
    ).collect()[0]
    khi = int(kmn) + (int(kmx) - int(kmn)) // 4
    chi = int(cmn) + (int(cmx) - int(cmn)) // 4
    preds = [("o_orderkey", None, khi), ("o_custkey", None, chi)]
    ka, _ = delta_plan_files(path, "o_orderkey", None, khi)
    kb, _ = delta_plan_files(path, "o_custkey", None, chi)
    both, total = delta_plan_files_multi(path, preds)
    assert total == 8 and set(both) == set(ka) & set(kb), (
        len(ka), len(kb), len(both),
    )
    assert len(both) <= min(len(ka), len(kb)) and len(both) < 8
    t = read_delta_pruned_multi(spark, path, preds)
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_custkey").cast("bigint").alias("cust_sum"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_delta_row_tracking_idmap",
    """
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 4
                    THEN o_custkey + 1000000 ELSE o_custkey END AS cust,
               o_orderstatus,
               CASE WHEN o_orderkey % 10 = 4 THEN 1 ELSE 0 END AS from_merge
        FROM base
        UNION ALL
        SELECT k.*
        FROM (VALUES ((SELECT MAX(o_orderkey) FROM base) + 2,
                      CAST(1 AS BIGINT), 'X', 1),
                     ((SELECT MAX(o_orderkey) FROM base) + 4,
                      CAST(2 AS BIGINT), 'X', 1),
                     ((SELECT MAX(o_orderkey) FROM base) + 6,
                      CAST(3 AS BIGINT), 'X', 1))
             AS k(o_orderkey, cust, o_orderstatus, from_merge)
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cust) AS BIGINT) AS cust_sum,
           CAST(SUM(from_merge) AS BIGINT) AS n_from_merge,
           MAX(o_orderkey) AS max_key
    FROM merged
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("source", "delta", "interchange", "row-tracking",
          "column-mapping", "id-mode"),
)
def source_delta_row_tracking_idmap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ROW TRACKING on an ID-MAPPED table, through OPTIMIZE and MERGE
    (round 11, VERDICT r10 item 2 — the matrix cell round 10 refused):
    an id-mode table is CREATED empty (field ids + physical `pc-<n>`
    names in the schema metadata), the even half of orders appends
    through the field-id-stamping writer, row tracking backfills, an
    OPTIMIZE rewrite MATERIALIZES every row's id under the reserved
    column names — written field-id-less and name-matched on read,
    while data columns keep field-id matching — and a MERGE then
    updates the %10==4 keys and inserts three fresh ones. In-query
    asserts: ids are unique, every pre-OPTIMIZE (key, id) pair survives
    the rewrite byte-identically (materialized precedence), and every
    pre-MERGE survivor keeps its id. The aggregate counts the rows
    whose `_row_commit_version` equals the MERGE's commit — exactly
    the updated+inserted set, reconstructed arithmetically by the
    DuckDB twin."""
    import shutil
    import tempfile

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from rtcdb_spark.sources.delta_log import (
        append_delta,
        enable_row_tracking,
        merge_delta,
        optimize_delta,
        read_delta_row_ids,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_rtid_")
    shutil.rmtree(path)
    fields = StructType([
        StructField("o_orderkey", LongType(), True, {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "pc-1"}),
        StructField("o_custkey", LongType(), True, {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "pc-2"}),
        StructField("o_orderstatus", StringType(), True, {
            "delta.columnMapping.id": 3,
            "delta.columnMapping.physicalName": "pc-3"}),
    ])
    write_delta(
        spark.createDataFrame([], fields), path,
        configuration={"delta.columnMapping.mode": "id",
                       "delta.columnMapping.maxColumnId": "3"},
    )
    even = o.filter(F.col("o_orderkey") % 2 == 0)
    append_delta(even.repartition(4), path)
    enable_row_tracking(spark, path)
    # the pre-rewrite assignment is diffed against twice (post-OPTIMIZE,
    # post-MERGE); one eager localCheckpoint avoids re-running the
    # row-id scan for each anti-diff
    pre = (
        read_delta_row_ids(spark, path)
        .select("o_orderkey", "_row_id")
        .localCheckpoint(eager=True)
    )
    optimize_delta(spark, path, target_files=2)
    mid = read_delta_row_ids(spark, path)
    n_even = even.count()
    stats = mid.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("_row_id").alias("n_ids"),
    ).collect()[0]
    assert stats["n"] == n_even and stats["n_ids"] == n_even, stats
    moved = mid.select("o_orderkey", "_row_id").exceptAll(pre).count()
    assert moved == 0, f"{moved} ids changed across OPTIMIZE"
    max_key = even.agg(F.max("o_orderkey")).collect()[0][0]
    src = (
        even.filter(F.col("o_orderkey") % 10 == 4)
        .select(
            "o_orderkey",
            (F.col("o_custkey") + 1000000).alias("o_custkey"),
            "o_orderstatus",
        )
        .unionByName(spark.createDataFrame(
            [(max_key + 2, 1, "X"), (max_key + 4, 2, "X"),
             (max_key + 6, 3, "X")],
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string",
        ))
    )
    mv = merge_delta(spark, path, src, on=["o_orderkey"])
    t = read_delta_row_ids(spark, path)
    kept = t.filter(F.col("o_orderkey") <= max_key).select(
        "o_orderkey", "_row_id"
    )
    moved2 = kept.exceptAll(pre).count()
    assert moved2 == 0, f"{moved2} ids changed across MERGE"
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("o_custkey").cast("bigint").alias("cust_sum"),
            F.sum((F.col("_row_commit_version") == mv).cast("int"))
            .cast("bigint").alias("n_from_merge"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_delta_restore_cdf_evolved",
    """
    WITH odd AS (
        SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 1
    ),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(o_custkey) AS BIGINT) AS s
            FROM odd)
    SELECT stage, change_type, n_rows, cust_sum, n_notes
    FROM (
        SELECT 'back' AS stage, 'delete' AS change_type, n AS n_rows,
               s AS cust_sum, CAST(0 AS BIGINT) AS n_notes
        FROM agg
        UNION ALL
        SELECT 'forward', 'insert', n, s, n FROM agg
    )
    ORDER BY stage
    """,
    tags=("source", "delta", "interchange", "restore", "cdf",
          "schema-evolution"),
)
def source_delta_restore_cdf_evolved(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESTORE with Change Data Feed ACROSS an additive schema change
    (round 11, VERDICT r10 item 4 — the composition round 10 refused):
    a CDF table takes the even half of orders, ADD COLUMN `note`, the
    odd half appends carrying notes, then RESTORE back to v0 — the
    schema reverts and the feed records the odd half as row-level
    `delete`s under the TARGET (narrow) schema — and RESTORE forward to
    the wide head, whose feed re-inserts the odd half WITH its notes
    (old files null-fill the added column during the diff). Each
    restore's feed is read back via `delta_changes_cdf` over exactly
    its commit and aggregated; the DuckDB twin reconstructs both stages
    arithmetically from plain orders. In-query asserts pin the schema
    flip-flop; a feed computed under the wrong schema, a lost note, or
    a diff that resurrects the even half breaks the hash."""
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        alter_delta_add_column,
        append_delta,
        delta_changes_cdf,
        read_delta,
        restore_delta,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_rce_")
    shutil.rmtree(path)
    write_delta(
        o.filter(F.col("o_orderkey") % 2 == 0), path,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    alter_delta_add_column(path, "note", "string")
    append_delta(
        o.filter(F.col("o_orderkey") % 2 == 1)
        .withColumn("note", F.lit("late")),
        path,
    )
    v_back = restore_delta(spark, path, 0)
    assert read_delta(spark, path).columns == [
        "o_orderkey", "o_custkey",
    ], "restore must reinstate the narrow schema"
    back = delta_changes_cdf(spark, path, v_back, v_back).agg(
        F.first(F.col("_change_type")).alias("change_type"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("o_custkey").cast("bigint").alias("cust_sum"),
        F.lit(0).cast("bigint").alias("n_notes"),
    ).select(F.lit("back").alias("stage"), "*")
    v_fwd = restore_delta(spark, path, 2)
    assert read_delta(spark, path).columns == [
        "o_orderkey", "o_custkey", "note",
    ], "forward restore must reinstate the wide schema"
    fwd = delta_changes_cdf(spark, path, v_fwd, v_fwd).agg(
        F.first(F.col("_change_type")).alias("change_type"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("o_custkey").cast("bigint").alias("cust_sum"),
        F.count("note").cast("bigint").alias("n_notes"),
    ).select(F.lit("forward").alias("stage"), "*")
    return back.unionByName(fwd).orderBy("stage")


@query(
    "source_delta_type_widening",
    """
    WITH t AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(CAST(o_custkey AS INTEGER) AS BIGINT) AS cust
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
               o_custkey + 10000000000 AS cust
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cust) AS BIGINT) AS cust_sum,
           CAST(MIN(cust) AS BIGINT) AS min_cust,
           CAST(MAX(cust) AS BIGINT) AS max_cust
    FROM t
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("source", "delta", "interchange", "type-widening",
          "schema-evolution"),
)
def source_delta_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE WIDENING end-to-end (round 11, the protocol's Type Widening
    chapter — `alter_delta_widen_column`): the even half of orders lands
    with o_custkey CAST DOWN to int (the narrow generation's parquet
    files physically carry int32), the column is widened int -> bigint
    in a metadata-only commit (typeChanges history recorded, protocol
    upgraded to the typeWidening reader-writer feature), and the odd
    half appends with custkey + 10_000_000_000 — values only the WIDE
    type can hold. The final read scans int32 and int64 files under one
    bigint schema (Spark's native upcast; nothing rewritten). In-query
    asserts pin the protocol upgrade and the recorded change history;
    the aggregate (per-status count/sum/min/max over the stitched
    generations) hashes against the arithmetic DuckDB twin."""
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        _snapshot_state,
        alter_delta_widen_column,
        append_delta,
        read_delta,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_tw_")
    shutil.rmtree(path)
    write_delta(
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey",
            F.col("o_custkey").cast("int").alias("cust"),
            "o_orderstatus",
        ),
        path,
    )
    wv = alter_delta_widen_column(path, "cust", "bigint")
    append_delta(
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            (F.col("o_custkey") + 10_000_000_000).alias("cust"),
            "o_orderstatus",
        ),
        path,
    )
    import json as _json

    meta, _adds, state = _snapshot_state(path)
    proto = state["protocol"]
    assert "typeWidening" in (proto.get("readerFeatures") or []), proto
    cf = next(
        f for f in _json.loads(meta["schemaString"])["fields"]
        if f["name"] == "cust"
    )
    assert cf["metadata"]["delta.typeChanges"] == [
        {"fromType": "int", "toType": "bigint", "tableVersion": wv}
    ], cf
    t = read_delta(spark, path)
    assert t.schema["cust"].dataType.simpleString() == "bigint"
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cust").cast("bigint").alias("cust_sum"),
            F.min("cust").cast("bigint").alias("min_cust"),
            F.max("cust").cast("bigint").alias("max_cust"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_delta_column_defaults",
    """
    WITH t AS (
        SELECT o_orderkey, o_custkey,
               o_orderpriority AS prio
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, 'BACKFILL' AS prio
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT prio,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
           MAX(o_orderkey) AS max_key
    FROM t
    GROUP BY prio
    ORDER BY prio
    """,
    tags=("source", "delta", "interchange", "column-defaults",
          "schema-evolution"),
)
def source_delta_column_defaults(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COLUMN DEFAULTS end-to-end (round 11, the protocol's Default
    Columns chapter — `alter_delta_set_default` / `allowColumnDefaults`):
    the even half of orders lands with a prio column, a DEFAULT
    'BACKFILL' is set, and the odd half appends WITHOUT the column —
    the writer fills it at write time (the spec's INSERT rule; reads
    are untouched, so the even half keeps its real priorities). A
    post-default append carrying the column keeps its values (defaults
    never validate), and DROP DEFAULT makes omission a schema violation
    again — both asserted in-query. The per-priority aggregate hashes
    against the UNION twin."""
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        _snapshot_state,
        alter_delta_drop_default,
        alter_delta_set_default,
        append_delta,
        read_delta,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_cd_")
    shutil.rmtree(path)
    write_delta(
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey",
            F.col("o_orderpriority").alias("prio"),
        ),
        path,
    )
    alter_delta_set_default(path, "prio", "'BACKFILL'")
    proto = _snapshot_state(path)[2]["protocol"]
    assert "allowColumnDefaults" in (proto.get("writerFeatures") or []), proto
    append_delta(
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_custkey"
        ),
        path,
    )
    alter_delta_drop_default(path, "prio")
    try:
        append_delta(
            o.limit(1).select("o_orderkey", "o_custkey"), path
        )
        raise AssertionError("omission must fail after DROP DEFAULT")
    except ValueError:
        pass
    t = read_delta(spark, path)
    return (
        t.groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("o_custkey").cast("bigint").alias("cust_sum"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("prio")
    )


@query(
    "source_delta_merge_identity",
    """
    WITH t AS (
        SELECT c_custkey AS k, c_mktsegment AS seg
        FROM customer WHERE c_custkey <= 100
        UNION ALL
        SELECT c_custkey AS k, 'MERGED' AS seg
        FROM customer WHERE c_custkey BETWEEN 101 AND 300
    )
    SELECT seg,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS k_sum,
           CAST(1 AS INTEGER) AS ids_stable,
           CAST(1 AS INTEGER) AS fresh_ids_valid
    FROM t
    GROUP BY seg
    ORDER BY seg
    """,
    tags=("source", "delta", "interchange", "identity", "merge"),
)
def source_delta_merge_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with an ENGINE-GENERATED identity column (round 12, VERDICT
    r11 item 5 — the protocol's Identity Columns chapter, writer v6): a
    GENERATED ALWAYS id table takes a merge source that OMITS the id —
    the common real-world shape. Matched rows keep their pre-merge ids
    through the copy-on-write rewrite (identity is never updatable);
    inserted rows take fresh interleaved-stride ids past the recorded
    high-water mark; explicit id values stay refused (asserted
    in-query). The hashed payload: per-segment aggregates of the merged
    table plus DERIVED flags — `ids_stable` is 1 iff zero surviving
    rows changed id (distributed pre/post join), `fresh_ids_valid` is 1
    iff every insert id is unique, on the declared start+k*step
    progression, and beyond the pre-merge mark. Scale: the MERGE
    rewrites only touched files; id generation is one map-side
    `mapInPandas` over the insert partition, no extra shuffle."""
    import json as _json
    import os as _os
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        _snapshot_state,
        append_delta,
        merge_delta,
        read_delta,
    )

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("seg")
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_mi_")
    shutil.rmtree(path)
    # GENERATED ALWAYS identity table, start 1000 step 2 (writer v6)
    _os.makedirs(_os.path.join(path, "_delta_log"))
    fields = [
        {"name": "id", "type": "long", "nullable": True, "metadata": {
            "delta.identity.start": 1000, "delta.identity.step": 2,
            "delta.identity.allowExplicitInsert": False}},
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
        {"name": "seg", "type": "string", "nullable": True, "metadata": {}},
    ]
    with open(_os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}},
            {"metaData": {
                "id": "mi", "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {"type": "struct", "fields": fields}),
                "partitionColumns": [], "configuration": {},
                "createdTime": 0}},
        ]:
            fh.write(_json.dumps(a) + "\n")
    append_delta(c.filter(F.col("k") <= 200), path)  # ids generated
    pre = read_delta(spark, path).select("k", F.col("id").alias("pre_id"))
    pre = pre.localCheckpoint()  # pin the pre-merge image
    hw0 = int(
        _json.loads(_snapshot_state(path)[0]["schemaString"])["fields"][0][
            "metadata"
        ]["delta.identity.highWaterMark"]
    )
    # the source OMITS id: k 101..200 update (seg -> MERGED), 201..300
    # insert with engine-generated ids
    src = c.filter((F.col("k") >= 101) & (F.col("k") <= 300)).select(
        "k", F.lit("MERGED").alias("seg")
    )
    merge_delta(spark, path, src, on=["k"])
    # ... while explicit ids stay refused on GENERATED ALWAYS
    try:
        merge_delta(
            spark, path,
            spark.createDataFrame([(1, 101, "X")],
                                  "id long, k long, seg string"),
            on=["k"],
        )
        raise AssertionError("explicit identity values must be refused")
    except ValueError:
        pass
    post = read_delta(spark, path)
    # deletes survivors whose id changed -> ids_stable flag
    changed = (
        post.filter(F.col("k") <= 100)
        .join(pre, "k")
        .filter(F.col("id") != F.col("pre_id"))
        .count()
    )
    upd = (
        post.filter((F.col("k") >= 101) & (F.col("k") <= 200))
        .join(pre, "k")
        .filter(F.col("id") != F.col("pre_id"))
        .count()
    )
    fresh = post.filter(F.col("k") > 200).select("id")
    n_fresh = fresh.count()
    bad_fresh = fresh.filter(
        (F.col("id") <= hw0) | ((F.col("id") - 1000) % 2 != 0)
    ).count()
    n_uniq = fresh.distinct().count()
    ids_stable = F.lit(1 if changed == 0 and upd == 0 else 0).cast("int")
    fresh_ok = F.lit(
        1 if bad_fresh == 0 and n_uniq == n_fresh == 100 else 0
    ).cast("int")
    return (
        post.groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("k").cast("bigint").alias("k_sum"),
        )
        .select(
            "seg", "n_rows", "k_sum",
            ids_stable.alias("ids_stable"),
            fresh_ok.alias("fresh_ids_valid"),
        )
        .orderBy("seg")
    )


@query(
    "source_delta_cdf_mixed_derive",
    """
    WITH base AS (
        SELECT o_orderkey AS k FROM orders WHERE o_orderkey <= 5000
    ),
    feed AS (
        SELECT 'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version,
               k
        FROM base
        UNION ALL
        SELECT 'delete', CAST(1 AS BIGINT), k
        FROM base WHERE k % 7 = 0
        UNION ALL
        SELECT 'delete', CAST(2 AS BIGINT), k
        FROM base WHERE k % 7 <> 0
        UNION ALL
        SELECT 'insert', CAST(2 AS BIGINT), k + 10000000 AS k
        FROM base WHERE k % 2 = 0
    )
    SELECT _change_type, _commit_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_sum
    FROM feed
    GROUP BY _change_type, _commit_version
    ORDER BY _commit_version, _change_type
    """,
    tags=("source", "delta", "interchange", "cdf", "deletion-vectors"),
)
def source_delta_cdf_mixed_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF DERIVATION for mixed add+remove commits WITHOUT CDC files
    (round 12, VERDICT r11 item 6 — `_derive_mixed_commit`): on a table
    where the change feed was never enabled, (v1) a deletion-vector
    DELETE commits remove+re-add of the same file with a grown DV — the
    feed derives the freshly-hidden rows as deletes; (v2) an overwrite
    whose new keys are provably row-disjoint from every removed file
    (numeric min/max footer stats) derives as delete(pre-image live
    rows, prior DVs applied — no double-report of v1's deletes) +
    insert(new rows). delta-spark refuses BOTH shapes. The hashed
    payload: per (change_type, commit) row counts and key sums against
    the predicate-mirrored UNION twin. Scale: the derivation decision
    reads O(files-in-commit) stats; only same-path DV diffs materialize
    row indexes (bounded by DV cardinality)."""
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        delete_delta,
        delta_changes_cdf,
        overwrite_delta,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    ).filter(F.col("k") <= 5000)
    path = tempfile.mkdtemp(prefix="rtcdb_delta_mx_")
    shutil.rmtree(path)
    write_delta(o.repartition(4), path)          # v0: inserts, NO CDF
    delete_delta(spark, path, "k % 7 = 0")       # v1: DV mixed commit
    overwrite_delta(                             # v2: stats-disjoint rewrite
        o.filter(F.col("k") % 2 == 0).select(
            (F.col("k") + F.lit(10_000_000)).alias("k")
        ),
        path,
    )
    feed = delta_changes_cdf(spark, path, 0)
    return (
        feed.groupBy("_change_type", "_commit_version")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("k").cast("bigint").alias("key_sum"),
        )
        .orderBy("_commit_version", "_change_type")
    )


@query(
    "source_delta_restore_cdf_widened",
    """
    WITH odd AS (
        SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 1
    ),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(o_custkey) AS BIGINT) AS s
            FROM odd)
    SELECT stage, change_type, cust_dtype, n_rows, cust_sum
    FROM (
        SELECT 'back' AS stage, 'delete' AS change_type,
               'int' AS cust_dtype, n AS n_rows, s AS cust_sum
        FROM agg
        UNION ALL
        SELECT 'forward', 'insert', 'bigint', n, s FROM agg
    )
    ORDER BY stage
    """,
    tags=("source", "delta", "interchange", "restore", "cdf",
          "type-widening"),
)
def source_delta_restore_cdf_widened(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESTORE with Change Data Feed ACROSS a TYPE WIDENING (round 12 —
    the composition `_restore_widen_gate` derives, previously refused):
    the even half of orders lands with o_custkey cast DOWN to int (the
    narrow generation), `alter_delta_widen_column` widens it to bigint,
    the odd half appends wide. RESTORE back to v0 reinstates the narrow
    schema and derives the feed by diffing under the WIDE schema (the
    narrow target files upcast natively — the same pinned read the
    widening feature uses) then downcasting the feed, lossless because
    the appended files' footer stats prove every value fits int; the
    feed's o_custkey dtype flips to int, asserted in-query and emitted
    as a literal the DuckDB twin must match. RESTORE forward to the wide
    head needs no proof at all (the diff already runs wide) and
    re-inserts the odd half as bigint. O(changed files) metadata plus
    one symmetric-difference diff per restore — at 100 TB the stats
    proof reads zero data bytes and the diff scans only the files the
    restore actually flips."""
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        alter_delta_widen_column,
        append_delta,
        delta_changes_cdf,
        read_delta,
        restore_delta,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_rcw_")
    shutil.rmtree(path)
    write_delta(
        o.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_custkey", F.col("o_custkey").cast("int")),
        path,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    alter_delta_widen_column(path, "o_custkey", "bigint")
    append_delta(o.filter(F.col("o_orderkey") % 2 == 1), path)
    v_back = restore_delta(spark, path, 0)
    assert dict(read_delta(spark, path).dtypes)["o_custkey"] == "int", (
        "restore must reinstate the narrow type"
    )
    back_feed = delta_changes_cdf(spark, path, v_back, v_back)
    back = back_feed.agg(
        F.first(F.col("_change_type")).alias("change_type"),
        F.lit(dict(back_feed.dtypes)["o_custkey"]).alias("cust_dtype"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("o_custkey").cast("bigint").alias("cust_sum"),
    ).select(F.lit("back").alias("stage"), "*")
    v_fwd = restore_delta(spark, path, 2)
    fwd_feed = delta_changes_cdf(spark, path, v_fwd, v_fwd)
    fwd = fwd_feed.agg(
        F.first(F.col("_change_type")).alias("change_type"),
        F.lit(dict(fwd_feed.dtypes)["o_custkey"]).alias("cust_dtype"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("o_custkey").cast("bigint").alias("cust_sum"),
    ).select(F.lit("forward").alias("stage"), "*")
    return back.unionByName(fwd).orderBy("stage")


@query(
    "source_delta_restore_cdf_repartitioned",
    """
    WITH odd AS (
        SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 1
    ),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(o_custkey) AS BIGINT) AS s
            FROM odd)
    SELECT stage, change_type, layout, n_rows, cust_sum
    FROM (
        SELECT 'back' AS stage, 'delete' AS change_type,
               'o_orderstatus' AS layout, n AS n_rows, s AS cust_sum
        FROM agg
        UNION ALL
        SELECT 'forward', 'insert', '', n, s FROM agg
    )
    ORDER BY stage
    """,
    tags=("source", "delta", "interchange", "restore", "cdf",
          "partitioning", "foreign-writer"),
)
def source_delta_restore_cdf_repartitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESTORE with Change Data Feed ACROSS a PARTITIONING change
    (round 12 — previously refused): the even half of orders lands
    partitioned by o_orderstatus, then a FOREIGN REPLACE commit
    (hand-written JSON, the protocol's reconciliation semantics — this
    engine has no repartitioning op on purpose) drops the partitioning
    and rewrites the table as unpartitioned files carrying the full set
    (odd half added). Each diff side scans under its OWN layout — the
    partition column's values come from log metadata on the partitioned
    side and file bytes on the other — so the feed derives both ways:
    back to v0 the odd half deletes, forward the odd half re-inserts.
    The post-restore layout (the metaData's partitionColumns) is
    emitted as a literal the DuckDB twin must match. O(changed files)
    both ways; a conformant REPLACE rewrites every file, so no file
    needs reading under two layouts — at 100 TB the diff touches only
    the replaced generation, never the shared history."""
    import json as _json
    import shutil
    import tempfile

    from rtcdb_spark.sources import delta_log as dl

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    base = o.filter(F.col("o_orderkey") % 2 == 0)
    extra = o.filter(F.col("o_orderkey") % 2 == 1)
    path = tempfile.mkdtemp(prefix="rtcdb_delta_rcp_")
    shutil.rmtree(path)
    dl.write_delta(
        base.repartition("o_orderstatus"),
        path,
        partition_by=["o_orderstatus"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    # the foreign REPLACE: full rows, unpartitioned, staged then moved
    staged = path + "-stage"
    base.unionByName(extra).coalesce(2).write.parquet(staged)
    v, state = dl._next_version(path)
    meta = dict(state["meta"])
    meta["partitionColumns"] = []
    actions = [{"metaData": meta}] + [
        {"remove": {"path": p, "deletionTimestamp": 1,
                    "dataChange": True}}
        for p in sorted(state["adds"])
    ]
    for i, a in enumerate(dl._adds_for_dir(staged, [])):
        rel = f"replaced-{i}.parquet"
        os.rename(
            os.path.join(staged, a["add"]["path"]),
            os.path.join(path, rel),
        )
        actions.append(
            {"add": {**a["add"], "path": rel, "dataChange": True}}
        )
    shutil.rmtree(staged)
    dl._write_commit(path, v, actions, op="REPLACE")
    v_back = dl.restore_delta(spark, path, 0)
    meta_back, _adds, _s = dl._snapshot_state(path, None)
    back = dl.delta_changes_cdf(spark, path, v_back, v_back).agg(
        F.first(F.col("_change_type")).alias("change_type"),
        F.lit(",".join(meta_back.get("partitionColumns") or []))
        .alias("layout"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("o_custkey").cast("bigint").alias("cust_sum"),
    ).select(F.lit("back").alias("stage"), "*")
    v_fwd = dl.restore_delta(spark, path, v)
    meta_fwd, _adds, _s = dl._snapshot_state(path, None)
    fwd = dl.delta_changes_cdf(spark, path, v_fwd, v_fwd).agg(
        F.first(F.col("_change_type")).alias("change_type"),
        F.lit(",".join(meta_fwd.get("partitionColumns") or []))
        .alias("layout"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("o_custkey").cast("bigint").alias("cust_sum"),
    ).select(F.lit("forward").alias("stage"), "*")
    return back.unionByName(fwd).orderBy("stage")


@query(
    "source_delta_variant_json",
    """
    WITH t AS (
        SELECT o_orderstatus AS s, o_custkey AS c FROM orders
    )
    SELECT s, 'variant' AS v_dtype,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c) AS BIGINT) AS cust_sum,
           CAST(MAX(c) AS BIGINT) AS max_cust
    FROM t GROUP BY s ORDER BY s
    """,
    tags=("source", "delta", "interchange", "variant", "json"),
)
def source_delta_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT columns end-to-end (round 12, the protocol's Variant
    Data Type chapter): orders rows become JSON documents, `parse_json`
    turns them into a VARIANT column, `write_delta` persists the table
    with the `variantType` reader-writer feature from version 0 (the
    even half) plus an append (the odd half) — parquet stores the
    VARIANT logical type, which Spark 4.1 writes and reads natively
    under the explicit schema while pyarrow cannot even parse the
    footer (the adds therefore omit stats, asserted in-query along with
    the protocol features and the read-back dtype). The read side
    extracts typed paths with `variant_get` and aggregates per status;
    the DuckDB twin reconstructs the same aggregate from the raw
    columns. Embarrassingly parallel at 100 TB: variant encode/decode
    is per-row inside the scan/write stages, no extra shuffle, and the
    feature gates (streaming/nested-id refusals) fail fast instead of
    mid-job."""
    import json as _json
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import (
        append_delta,
        delta_versions,
        read_delta,
        write_delta,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.parse_json(
            F.to_json(F.struct(
                F.col("o_custkey").alias("c"),
                F.col("o_orderstatus").alias("s"),
            ))
        ).alias("v"),
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_var_")
    shutil.rmtree(path)
    write_delta(o.filter(F.col("o_orderkey") % 2 == 0), path)
    append_delta(o.filter(F.col("o_orderkey") % 2 == 1), path)
    with open(
        os.path.join(path, "_delta_log", f"{0:020d}.json")
    ) as fh:
        acts = [_json.loads(x) for x in fh.read().splitlines()]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert "variantType" in (proto.get("readerFeatures") or []), proto
    assert "variantType" in (proto.get("writerFeatures") or []), proto
    assert all(
        "stats" not in a["add"] for a in acts if "add" in a
    ), "variant adds must omit footer stats (pyarrow-opaque)"
    back = read_delta(spark, path)
    assert dict(back.dtypes)["v"] == "variant", back.dtypes
    return (
        back.select(
            F.variant_get("v", "$.s", "string").alias("s"),
            F.variant_get("v", "$.c", "long").alias("c"),
        )
        .groupBy("s")
        .agg(
            F.lit(dict(back.dtypes)["v"]).alias("v_dtype"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("c").cast("bigint").alias("cust_sum"),
            F.max("c").cast("bigint").alias("max_cust"),
        )
        .orderBy("s")
    )


@query(
    "source_delta_collated_strings",
    """
    SELECT lower(o_orderpriority) AS p,
           'string collate UTF8_LCASE' AS s_dtype,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
    FROM orders GROUP BY p ORDER BY p
    """,
    tags=("source", "delta", "interchange", "collations"),
)
def source_delta_collated_strings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COLLATED strings end-to-end (round 12, the protocol's preview
    Collations chapter): order priorities land in a Delta table as a
    UTF8_LCASE-collated column with deliberately MIXED case (even keys
    upper, odd keys lower), the `__COLLATIONS` field metadata riding
    the schemaString and the `collations-preview` writer feature on the
    protocol (both asserted in-query). The read side broadcast-joins
    the collated column against the lowercase canonical priorities —
    the join key matches case-insensitively purely from the read
    schema's collation, no lower()/upper() normalization anywhere in
    the plan — and aggregates per canonical priority; a row count
    assert pins that EVERY row matched despite the case split. The
    DuckDB twin normalizes explicitly with lower(). At 100 TB the
    collation rides the type system (zero extra expressions in the
    scan), the dim side is a broadcast, and data skipping on collated
    columns is disabled by rule rather than mis-pruning."""
    import json as _json
    import shutil
    import tempfile

    from rtcdb_spark.sources.delta_log import read_delta, write_delta

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    fact = o.select(
        F.when(
            F.col("o_orderkey") % 2 == 0, F.upper("o_orderpriority")
        ).otherwise(F.lower("o_orderpriority"))
        .cast("string collate UTF8_LCASE").alias("s"),
        F.col("o_custkey").alias("c"),
    )
    path = tempfile.mkdtemp(prefix="rtcdb_delta_coll_")
    shutil.rmtree(path)
    write_delta(fact, path)
    with open(
        os.path.join(path, "_delta_log", f"{0:020d}.json")
    ) as fh:
        acts = [_json.loads(x) for x in fh.read().splitlines()]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert "collations-preview" in (
        proto.get("writerFeatures") or []
    ), proto
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    sfield = next(
        f for f in _json.loads(meta["schemaString"])["fields"]
        if f["name"] == "s"
    )
    assert sfield["metadata"].get("__COLLATIONS") == {
        "s": "spark.UTF8_LCASE"
    }, sfield
    back = read_delta(spark, path)
    assert dict(back.dtypes)["s"] == "string collate UTF8_LCASE", (
        back.dtypes
    )
    dim = o.select(
        F.lower("o_orderpriority").alias("p")
    ).distinct()
    joined = back.join(
        F.broadcast(dim),
        back["s"] == dim["p"].cast("string collate UTF8_LCASE"),
    )
    total = back.count()
    res = (
        joined.groupBy("p")
        .agg(
            F.lit(dict(back.dtypes)["s"]).alias("s_dtype"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("c").cast("bigint").alias("cust_sum"),
        )
        .orderBy("p")
    )
    matched = res.agg(F.sum("n_rows")).collect()[0][0]
    assert matched == total, (
        f"collated join matched {matched} of {total} rows"
    )
    return res
