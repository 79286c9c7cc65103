"""Round-13 focused tests: edge cases and plan shapes changed by the
optimization round.

- simhash64_sig: NULL text propagates NULL signatures (expression-twin
  parity) and zero-row batches return empty instead of raising.
- hilbert_value: NULL in a clustering column yields NULL d (instead of
  failing the OPTIMIZE job's task).
- fan_out_small: streaming pass-through.
- map_ordered: the kernel runs exactly once per input row and the output
  is globally ordered, for one-split and already core-parallel input
  alike (counted with an accumulator, also through the winnow query).
- Every map_ordered query plan: no Exchange between the root and the
  kernel (a global sort there re-executes the kernel for range sampling).
"""

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F


def test_simhash_sig_null_text_matches_expression(spark):
    from rtcdb_spark.functions.dedup import simhash64_rowwise, simhash64_rowwise_expr

    df = spark.createDataFrame(
        [(1, "hello world hello"), (2, None), (3, ""), (4, "a b c d")],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.sim_hi, r.sim_lo)
        for r in simhash64_rowwise(df).collect()
    }
    want = {
        r.doc_id: (r.sim_hi, r.sim_lo)
        for r in simhash64_rowwise_expr(df).collect()
    }
    assert got == want
    assert got[2] == (None, None)


def test_simhash_batch_empty_array():
    from rtcdb_spark.functions.simhash_np import simhash64_batch

    hi, lo = simhash64_batch(pa.array([], type=pa.string()))
    assert len(hi) == 0 and len(lo) == 0


def test_simhash_batch_all_empty_strings():
    # data buffer is None for an all-empty-string arrow array
    from rtcdb_spark.functions.simhash_np import simhash64_batch

    hi, lo = simhash64_batch(pa.array(["", ""], type=pa.string()))
    assert len(hi) == 2 and len(lo) == 2


def test_hilbert_value_null_row(spark):
    """NULL in a clustering column must not fail the OPTIMIZE job.

    The norm expression's `least(top, floor(...))` ABSORBS a NULL input
    (Spark's least ignores NULLs), so both curve twins map a NULL value to
    the top cell — the compaction job completes and the two layouts agree.
    The pandas kernel additionally masks genuine NaN/NULL inputs (defense
    in depth for callers that feed it directly)."""
    from rtcdb_spark.sources.layout import hilbert_value, zorder_value

    df = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, None, 5.0), (3, 7.0, None), (4, 0.0, 0.0)],
        "id bigint, a double, b double",
    )
    out = df.select(
        "id",
        hilbert_value(df, ["a", "b"]).alias("h"),
        zorder_value(df, ["a", "b"]).alias("z"),
    ).collect()
    by_id = {r.id: r for r in out}
    for i in (1, 2, 3, 4):
        assert by_id[i].h is not None and by_id[i].z is not None
    # NULL maps to the top cell in both twins: the NULL-a row shares its
    # h/z x-coordinate with an explicit top-cell row would — just pin
    # determinism here: same inputs, same keys, every run.
    again = {
        r.id: (r.h, r.z)
        for r in df.select(
            "id",
            hilbert_value(df, ["a", "b"]).alias("h"),
            zorder_value(df, ["a", "b"]).alias("z"),
        ).collect()
    }
    assert again == {r.id: (r.h, r.z) for r in out}


def test_hilbert_kernel_masks_nan_inputs():
    """Direct-kernel defense: NaN/None coordinates yield NULL d instead of
    raising inside to_numpy(int64)."""
    import numpy as np

    from rtcdb_spark.sources.layout import _hilbert_d_arrays

    xs = pd.Series([1.0, None, 3.0], dtype="float64")
    ys = pd.Series([2.0, 2.0, np.nan], dtype="float64")
    out = _hilbert_d_arrays(xs, ys, bits=16)
    assert out[0] is not None and not pd.isna(out[0])
    assert pd.isna(out[1]) and pd.isna(out[2])


def test_fan_out_small_streaming_passthrough(spark, tmp_path):
    from rtcdb_spark.functions.dedup import fan_out_small

    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    assert fan_out_small(sdf) is sdf


def _one_and_many_partitions(df):
    """The same rows as one partition and as a shuffled 2 x cores-wide
    input: the fixture case and the already core-parallel corpus case."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return {"one_partition": df.coalesce(1), "2x_cores": df.repartition(2 * n)}


def test_map_ordered_runs_kernel_once(spark):
    """N input rows reach the kernel exactly N times (a global sort above
    the kernel would sample its output and run it 2N times) and the rows
    come back globally ordered, whatever the input's partitioning."""
    from rtcdb_spark.functions.dedup import map_ordered

    n_rows = 10_000
    ids = spark.range(0, n_rows).select(F.col("id").alias("doc_id"))
    for label, df in _one_and_many_partitions(ids).items():
        seen = spark.sparkContext.accumulator(0)

        def count(batches):
            for pdf in batches:
                seen.add(len(pdf))
                yield pdf

        out = map_ordered(
            df, "doc_id", lambda d: d.mapInPandas(count, "doc_id long")
        )
        assert [r.doc_id for r in out.collect()] == list(range(n_rows)), label
        assert seen.value == n_rows, (label, seen.value)


def test_winnow_query_runs_kernel_once(spark, sf_smoke, tmp_path, monkeypatch):
    """The same count through text_winnow_fingerprints itself, on the
    one-split fixture and on a 2 x cores-file copy of it."""
    import __spark_entry__ as e
    from rtcdb_spark.functions import winnow_np
    from rtcdb_spark.functions.winnow_np import winnow_stats_batch

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    n_docs = docs.count()
    wide_dir = str(tmp_path)
    _one_and_many_partitions(docs)["2x_cores"].write.parquet(
        f"{wide_dir}/documents.parquet"
    )
    # the copy scans core-parallel (small files may share a split)
    wide_scan = spark.read.parquet(f"{wide_dir}/documents.parquet")
    assert wide_scan.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism

    for sf_dir in (sf_smoke, wide_dir):
        seen = spark.sparkContext.accumulator(0)

        def count(batches):
            for batch in batches:
                seen.add(batch.num_rows)
                yield winnow_stats_batch(batch)

        monkeypatch.setattr(winnow_np, "winnow_stats_batches", count)
        out = e.queries()["text_winnow_fingerprints"](spark, sf_dir)
        got = [r.doc_id for r in out.collect()]
        assert got == sorted(got) and len(got) == n_docs, sf_dir
        assert seen.value == n_docs, (sf_dir, seen.value)


# Every query whose output comes from `map_ordered`, with its kernel node.
MAP_ORDERED_ROWS = [
    *(
        (name, "MapInPandas")
        for name in (
            "multimodal_decode_meta",
            "multimodal_audio_energy",
            "multimodal_image_stats",
            "multimodal_audio_silence_trim",
            "multimodal_png_decode",
            "multimodal_jpeg_decode",
            "multimodal_jpeg_progressive",
            "multimodal_jpeg_420_restart",
            "multimodal_jpeg_progressive_420",
            "multimodal_apng_animate",
            "multimodal_png_layouts",
            "multimodal_mp4_frame_sample",
            "multimodal_image_resize",
            "multimodal_jpeg_arithmetic",
            "multimodal_jpeg_lossless",
            "multimodal_jpeg_hierarchical",
            "multimodal_mp3_bitstream_decode",
        )
    ),
    ("text_winnow_fingerprints", "MapInArrow"),
    ("text_html_extract", "Project"),
]


def test_winnow_plan_no_exchange_above_kernel(spark, sf_smoke):
    """Every ordered map-kernel row must have no Exchange between the
    root and its kernel: walking down from the root, only Sort nodes may
    precede the kernel. A global sort there re-executes the kernel for
    range-boundary sampling (verified with an accumulator in round 13)."""
    import __spark_entry__ as e
    from rtcdb_spark.plans.inspect import formatted_plan

    qs = e.queries()
    for name, kernel in MAP_ORDERED_ROWS:
        plan = formatted_plan(qs[name](spark, sf_smoke))
        body = plan.split("\n\n", 1)[0]  # the tree section
        nodes = [
            ln.lstrip(" :+-*").rsplit(" (", 1)[0].strip()
            for ln in body.splitlines()[1:]  # drop the "== Physical Plan ==" title
        ]
        assert nodes[0] == "AdaptiveSparkPlan", (name, plan)
        first = next(i for i, nd in enumerate(nodes[1:], 1) if nd != "Sort")
        assert first > 1 and nodes[first] == kernel, (name, plan)
