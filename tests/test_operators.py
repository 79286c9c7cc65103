"""Unit tests for custom operators: connected components, salted join."""

from __future__ import annotations

from pyspark.sql import functions as F

from rtcdb_spark.functions.dedup import connected_components
from rtcdb_spark.operators.relational import salted_join
from rtcdb_spark.sources import load_table


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    return {
        (r["node"], r["group_id"]) for r in connected_components(df).collect()
    }


def test_cc_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_cc_path_graph_needs_iterations(spark):
    # A 12-node path: min-label needs ~diameter rounds to flow end to end.
    n = 12
    got = _cc(spark, [(i, i + 1) for i in range(n)])
    assert got == {(i, 0) for i in range(n + 1)}


def test_cc_clique_and_reversed_edges(spark):
    got = _cc(spark, [(5, 3), (3, 9), (9, 5)])  # unordered/cyclic input
    assert got == {(3, 3), (5, 3), (9, 3)}


def test_salted_join_matches_plain_join(spark, sf_smoke):
    e = load_table(spark, sf_smoke, "events")
    c = load_table(spark, sf_smoke, "customer")
    got = (
        salted_join(e, c, "user_id", "c_custkey", n_salts=4)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = (
        e.join(c, e.user_id == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_salted_join_preserves_columns(spark, sf_smoke):
    e = load_table(spark, sf_smoke, "events")
    c = load_table(spark, sf_smoke, "customer")
    out = salted_join(e, c, "user_id", "c_custkey", n_salts=4)
    assert "_salt" not in out.columns
    assert set(e.columns) | set(c.columns) == set(out.columns)


def test_kmeans_centroids_deterministic_and_complete(spark, sf_smoke):
    from rtcdb_spark.functions.similarity import ivf_assign, kmeans_centroids

    emb = load_table(spark, sf_smoke, "embeddings")
    c1 = kmeans_centroids(emb, n_cells=8, n_iter=2)
    c2 = kmeans_centroids(emb, n_cells=8, n_iter=2)
    r1 = sorted((r["cid"], tuple(r["cv"])) for r in c1.collect())
    r2 = sorted((r["cid"], tuple(r["cv"])) for r in c2.collect())
    assert r1 == r2  # deterministic init + deterministic iteration
    assert len(r1) == 8
    dim = len(emb.select("embedding").first()[0])
    assert all(len(cv) == dim for _, cv in r1)

    assign = ivf_assign(emb, c1)
    assert assign.count() == emb.count()  # every vector lands in exactly one cell


def test_kmeans_iterations_reduce_wcss(spark, sf_smoke):
    from pyspark.sql import functions as F
    from rtcdb_spark.functions.similarity import kmeans_centroids

    emb = load_table(spark, sf_smoke, "embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))

    def wcss(cents):
        scored = base.join(F.broadcast(cents)).withColumn(
            "d2",
            F.expr("aggregate(zip_with(v, cv, (x, y) -> (x-y)*(x-y)), 0D, (a, x) -> a + x)"),
        )
        return scored.groupBy("vec_id").agg(F.min("d2").alias("d2")).agg(F.sum("d2")).first()[0]

    w0 = wcss(kmeans_centroids(emb, n_cells=8, n_iter=0))
    w3 = wcss(kmeans_centroids(emb, n_cells=8, n_iter=3))
    assert w3 <= w0  # Lloyd's never increases the objective


def test_merge_upsert_semantics(spark):
    from rtcdb_spark.operators.relational import merge_upsert

    tgt = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, v double"
    )
    src = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "k long, name string, v double"
    )
    got = {r["k"]: (r["name"], r["v"]) for r in merge_upsert(tgt, src, ["k"]).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_upsert_schema_mismatch_raises(spark):
    import pytest as _pytest

    from rtcdb_spark.operators.relational import merge_upsert

    tgt = spark.createDataFrame([(1,)], "k long")
    src = spark.createDataFrame([(1, 2)], "k long, extra long")
    with _pytest.raises(ValueError):
        merge_upsert(tgt, src, ["k"])


def test_database_merge_copy_on_write(spark, tmp_path):
    from rtcdb_spark.db import Database, TableMeta

    db = Database.init(
        spark,
        str(tmp_path / "db"),
        [TableMeta("kv", [("k", "uint64"), ("v", "string")])],
    )
    db.write_data("kv", [[1, "one"], [2, "two"], [3, "three"]])
    src = spark.createDataFrame([(2, "TWO"), (9, "nine")], "k long, v string")
    db.merge("kv", src, ["k"])
    got = {r["k"]: r["v"] for r in db.table("kv").collect()}
    assert got == {1: "one", 2: "TWO", 3: "three", 9: "nine"}
    # merge is idempotent for an identical source
    db.merge("kv", src, ["k"])
    assert db.table("kv").count() == 4


def test_scd2_intervals_chain(spark):
    from rtcdb_spark.operators.relational import scd2_intervals

    log = spark.createDataFrame(
        [(1, 10, "A"), (1, 20, "B"), (1, 30, "C"), (2, 15, "X")],
        "k long, t long, state string",
    )
    rows = {
        (r["k"], r["t"]): (r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_intervals(log, ["k"], "t").collect()
    }
    assert rows[(1, 10)] == (10, 20, False)
    assert rows[(1, 20)] == (20, 30, False)
    assert rows[(1, 30)] == (30, None, True)
    assert rows[(2, 15)] == (15, None, True)


def test_cms_never_undercounts(spark, sf_smoke):
    import pyspark.sql.functions as F

    from rtcdb_spark.functions.sketches import cms_build, cms_estimate
    from rtcdb_spark.sources import load_table

    toks = load_table(spark, sf_smoke, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    cms = cms_build(toks, "tok", 3, 256)
    est = cms_estimate(cms, toks.distinct(), "tok", 3, 256)
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    joined = est.join(exact, "tok").collect()
    assert joined
    assert all(r["est"] >= r["cnt"] for r in joined)  # CMS only over-counts


def test_bloom_no_false_negatives(spark):
    import pyspark.sql.functions as F

    from rtcdb_spark.functions.sketches import bloom_bits, bloom_might_contain

    keys = spark.range(0, 1000, 3).select(F.col("id").cast("string").alias("k"))
    words = bloom_bits(keys, "k", 1 << 12, 5)
    probe = spark.range(0, 1000).select(F.col("id").cast("string").alias("k"))
    kept = {
        r["k"]
        for r in probe.filter(
            bloom_might_contain(words, F.col("k"), 1 << 12, 5)
        ).collect()
    }
    member = {str(i) for i in range(0, 1000, 3)}
    assert member <= kept  # every true member passes
    # and the filter actually rejects most non-members
    assert len(kept - member) < 300


def test_pq_encode_and_adc_recall(spark, sf_smoke):
    import pyspark.sql.functions as F

    from rtcdb_spark.functions.similarity import pq_encode, pq_topk, pq_train

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    books = pq_train(emb, m=8, k=32, n_iter=2)
    assert books.count() == 8 * 32
    codes = pq_encode(emb, books, 8)
    first = codes.first()["codes"]
    assert len(first) == 8 and all(0 <= c < 32 for c in first)

    q = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    pq_ids = [r["vec_id"] for r in pq_topk(codes, books, q, 8, top_k=10).collect()]
    # the query vector itself quantizes to the nearest codewords → rank 1
    assert pq_ids[0] == 0

    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    qlit = F.array(*[F.lit(float(x)) for x in q])
    bf_ids = [
        r["vec_id"]
        for r in base.withColumn("q_", qlit)
        .withColumn(
            "d2",
            F.expr(
                "aggregate(zip_with(v, q_, (x,y)->(x-y)*(x-y)), 0D, (a,x)->a+x)"
            ),
        )
        .orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(10)
        .collect()
    ]
    # near-random fixture embeddings: modest but real recall, deterministic
    assert len(set(pq_ids) & set(bf_ids)) >= 2


def test_skew_diagnostics(spark):
    import pyspark.sql.functions as F

    from rtcdb_spark.operators.diagnostics import (
        key_skew_report,
        partition_histogram,
        skew_factor,
    )

    # 900 rows of key 0 + 100 distinct cold keys
    df = spark.range(1000).select(
        F.when(F.col("id") < 900, 0).otherwise(F.col("id")).alias("k")
    )
    top = key_skew_report(df, "k", top_n=3).collect()
    assert top[0]["value"] == "0" and top[0]["cnt"] == 900
    assert abs(top[0]["share"] - 0.9) < 1e-9

    skewed = df.repartition(8, "k")
    hist = {r["partition_id"]: r["cnt"] for r in partition_histogram(skewed).collect()}
    assert sum(hist.values()) == 1000
    assert skew_factor(skewed) > 4  # hot key dominates one partition
    assert skew_factor(df.repartition(8, "id" if "id" in df.columns else "k")) >= 1.0


def test_pagerank_invariants(spark):
    import pyspark.sql.functions as F

    from rtcdb_spark.functions.graph import degrees, pagerank, symmetrize

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (5, 4), (2, 1)], "src long, dst long"
    )
    und = symmetrize(edges)
    # symmetrize: every edge present both ways, no self-loops, no dupes
    pairs = {(r["src"], r["dst"]) for r in und.collect()}
    assert all((b, a) in pairs for a, b in pairs)
    assert all(a != b for a, b in pairs)

    ranks = pagerank(und, n_iter=8)
    got = {r["node"]: r["rank"] for r in ranks.collect()}
    # undirected graph has no dangling nodes -> total rank mass conserved
    assert abs(sum(got.values()) - 1.0) < 1e-6
    assert all(v > 0 for v in got.values())
    # degree-3 hub (3) must outrank the degree-1 leaf (5)
    assert got[3] > got[5]
    # deterministic under a different partitioning
    again = {
        r["node"]: r["rank"] for r in pagerank(und.repartition(7), n_iter=8).collect()
    }
    assert got == again
    # degrees: undirected degree of node 3 is 3
    degs = {r["node"]: r["deg"] for r in degrees(und).collect()}
    assert degs[3] == 3 and degs[5] == 1


def test_pagerank_keeps_caller_edge_cache(spark):
    """pagerank releases only the caches it created: an edge list the
    caller persisted is still cached afterwards."""
    from rtcdb_spark.functions.graph import pagerank, symmetrize

    edges = symmetrize(
        spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    ).persist()
    try:
        pagerank(edges, n_iter=2).collect()
        assert edges.is_cached
        assert edges.storageLevel.useMemory or edges.storageLevel.useDisk
    finally:
        edges.unpersist()


def test_simhash_probe_finds_planted_near_dups(spark):
    from rtcdb_spark.functions.dedup import simhash64, simhash_hamming_pairs

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup → hamming 0
            (3, base + "tiny extra suffix"),  # near dup → small hamming
            (4, "completely different content about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    sigs = simhash64(docs)
    rows = {r["doc_id"]: (r["sim_hi"], r["sim_lo"]) for r in sigs.collect()}
    assert len(rows) == 4
    for hi, lo in rows.values():  # two 32-bit words, both non-negative
        assert 0 <= hi < 2**32 and 0 <= lo < 2**32
    assert rows[1] == rows[2]

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_hamming_pairs(sigs, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    # near-dup found iff within radius; doc 4 must never pair with 1/2/3
    assert all(4 not in p for p in pairs)
    # exact recall at radius <= 3: brute-force check agrees with the probe
    import itertools

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    brute = {
        (i, j): ham(rows[i], rows[j])
        for i, j in itertools.combinations(sorted(rows), 2)
        if ham(rows[i], rows[j]) <= 3
    }
    assert pairs == brute


def test_bmp_wav_codecs_round_trip():
    from rtcdb_spark.functions import multimodal as mm

    bmp = mm.make_bmp(5, 3, seed=9)
    m = mm.decode_image(bmp)
    assert m == {"width": 5, "height": 3, "bpp": 24, "n_bytes": len(bmp)}
    # stride pads rows to 4 bytes: 5px*3B=15 -> 16
    assert len(bmp) == 54 + 16 * 3

    wav = mm.make_wav(16000, 75, seed=4)
    a = mm.decode_audio(wav)
    assert a == {"channels": 1, "sample_rate": 16000, "bits": 16, "n_samples": 75}
    frames = mm.frame_sample(wav, every_n=10)
    assert len(frames) == 8 and all(len(f) == 2 for f in frames)

    import pytest

    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x89PNG....")
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"ID3\x04....")


def _asof_fixture(spark):
    from datetime import datetime as dt

    left = spark.createDataFrame(
        [
            (1, "k", dt(2024, 1, 1, 10, 0)),   # before any right row
            (2, "k", dt(2024, 1, 1, 12, 0)),   # exactly ON a right row
            (3, "k", dt(2024, 1, 1, 18, 0)),   # between right rows
            (4, "k", dt(2024, 1, 2, 9, 0)),    # after all right rows
            (5, "x", dt(2024, 1, 1, 12, 0)),   # key with no right rows at all
        ],
        ["lid", "key", "lt"],
    )
    right = spark.createDataFrame(
        [
            ("k", dt(2024, 1, 1, 12, 0), 100),
            ("k", dt(2024, 1, 1, 20, 0), 200),
        ],
        ["key", "rt", "val"],
    )
    return left, right


def test_asof_backward_directions(spark):
    from rtcdb_spark.operators.relational import asof_join

    left, right = _asof_fixture(spark)
    got = {
        r["lid"]: r["right_val"]
        for r in asof_join(
            left, right, on="key", left_time="lt", right_time="rt",
            right_cols=["val"], direction="backward",
        ).collect()
    }
    # equal timestamp matches (<=); no earlier row -> null; no rows -> null
    assert got == {1: None, 2: 100, 3: 100, 4: 200, 5: None}


def test_asof_forward_mirrors_backward(spark):
    from rtcdb_spark.operators.relational import asof_join

    left, right = _asof_fixture(spark)
    got = {
        r["lid"]: r["right_val"]
        for r in asof_join(
            left, right, on="key", left_time="lt", right_time="rt",
            right_cols=["val"], direction="forward",
        ).collect()
    }
    # equal timestamp matches (>=); no later row -> null; no rows -> null
    assert got == {1: 100, 2: 100, 3: 200, 4: None, 5: None}


def test_jl_projection_preserves_distances(spark, sf_smoke):
    """JL guarantee, empirically: ±1 random projection to k=16 dims keeps
    pairwise squared distances within a loose distortion band for most
    pairs (E[‖Px−Py‖²] = ‖x−y‖²; k=16 → σ ≈ √(2/k) ≈ 0.35)."""
    from rtcdb_spark.functions.similarity import random_projection

    e = load_table(spark, sf_smoke, "embeddings").limit(20)
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    proj = random_projection(v, "v", 16, 64).collect()
    orig = {r["vec_id"]: r["v"] for r in proj}
    red = {r["vec_id"]: [r[f"p{j:02d}"] for j in range(16)] for r in proj}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    ids = sorted(orig)
    ratios = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            od = d2(orig[ids[i]], orig[ids[j]])
            if od > 1e-12:
                ratios.append(d2(red[ids[i]], red[ids[j]]) / od)
    assert ratios, "fixture produced no distinct pairs"
    within = sum(1 for r in ratios if 0.25 <= r <= 4.0) / len(ratios)
    assert within >= 0.9, f"only {within:.0%} of pairs within 4x distortion"
    med = sorted(ratios)[len(ratios) // 2]
    assert 0.5 <= med <= 2.0, f"median distortion {med:.3f} off unity"


def test_audio_features_known_waveform():
    """audio_features on a hand-built WAV: a square wave alternating
    +1000/-1000 has peak 1000, RMS exactly 1000, and a zero crossing at
    every sample boundary."""
    import struct as _struct

    from rtcdb_spark.functions.multimodal import audio_features

    samples = [1000 if i % 2 == 0 else -1000 for i in range(8)]
    data = b"".join(_struct.pack("<h", s) for s in samples)
    wav = (
        _struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + _struct.pack("<4sI", b"fmt ", 16)
        + _struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        + _struct.pack("<4sI", b"data", len(data))
        + data
    )
    feats = audio_features(wav)
    assert feats["n_samples"] == 8
    assert feats["peak_abs"] == 1000
    assert feats["zero_cross"] == 7
    assert feats["sum_sq"] == 8 * 1000 * 1000
    assert feats["rms"] == 1000.0


def test_triangle_count_known_graphs(spark):
    """Triangle census on hand graphs: K4 → C(4,3)=4 triangles; a 4-cycle
    → 0; K4 with a pendant vertex keeps 4."""
    from rtcdb_spark.functions.dedup import connected_components  # noqa: F401 (module warm)
    from rtcdb_spark.functions.graph import symmetrize, triangle_count

    def census(pairs):
        df = spark.createDataFrame(pairs, ["src", "dst"])
        return triangle_count(symmetrize(df)).first()

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    r = census(k4)
    assert r["n_triangles"] == 4
    assert r["n_wedges"] == 4 * 3  # 4 nodes of degree 3 → C(3,2)=3 each
    assert r["clustering_coeff"] == 1.0

    square = [(0, 1), (1, 2), (2, 3), (3, 0)]
    assert census(square)["n_triangles"] == 0

    k4_pendant = k4 + [(3, 9)]
    assert census(k4_pendant)["n_triangles"] == 4


def test_asof_nearest_direction(spark):
    """nearest: lid1 10:00 → 12:00 row (forward only); lid2 12:00 → exact
    (tie prefers backward, same row); lid3 18:00 → 20:00 (2h forward beats
    6h backward); lid4 next-day → 20:00 backward; lid5 keyless → null."""
    from rtcdb_spark.operators.relational import asof_join

    left, right = _asof_fixture(spark)
    got = {
        r["lid"]: r["right_val"]
        for r in asof_join(
            left, right, on="key", left_time="lt", right_time="rt",
            right_cols=["val"], direction="nearest",
        ).collect()
    }
    assert got == {1: 100, 2: 100, 3: 200, 4: 200, 5: None}


def test_asof_nearest_tie_prefers_backward(spark):
    from datetime import datetime as dt

    from rtcdb_spark.operators.relational import asof_join

    left = spark.createDataFrame([(1, "k", dt(2024, 1, 1, 12, 0))], ["lid", "key", "lt"])
    right = spark.createDataFrame(
        [("k", dt(2024, 1, 1, 11, 0), 7), ("k", dt(2024, 1, 1, 13, 0), 9)],
        ["key", "rt", "val"],
    )
    row = asof_join(
        left, right, on="key", left_time="lt", right_time="rt",
        right_cols=["val"], direction="nearest",
    ).first()
    assert row["right_val"] == 7  # equidistant -> backward candidate


def test_compression_ratio_orders_text_quality(spark, sf_smoke):
    """DEFLATE-ratio invariants: bounded above ~1.1 (header overhead),
    deterministic across runs, and a pathological repeated string scores
    far more compressible than the fixture's varied text."""
    from rtcdb_spark.queries import REGISTRY
    from rtcdb_spark.queries.text_pipeline import compression_detail

    rows = compression_detail(spark, sf_smoke).orderBy("doc_id").collect()
    assert rows, "no documents scored"
    assert all(0 < r["compression_ratio"] <= 1.15 for r in rows)
    again = compression_detail(spark, sf_smoke).orderBy("doc_id").collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]

    # the registry row's derived-oracle envelope must hold on every doc
    gated = REGISTRY["text_compression_ratio"].fn(spark, sf_smoke).collect()
    assert gated and all(r["within_bound"] == 1 for r in gated)

    import zlib

    rep = ("spam " * 200).encode()
    varied = rows[0]["compression_ratio"]
    assert len(zlib.compress(rep, 6)) / len(rep) < 0.05 < varied


class TestDistributedScan:
    """operators.scan two-level primitives must match the single-partition
    global window exactly (unique order keys)."""

    def test_cumsum_matches_global_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from rtcdb_spark.operators.scan import distributed_cumsum

        df = (
            spark.range(0, 999)
            .select(
                (F.col("id") * 37 % 1201).alias("k"),
                (F.col("id") % 7).alias("a"),
                (F.col("id") % 3).alias("b"),
            )
            .dropDuplicates(["k"])
        )
        got = distributed_cumsum(df, "k", ["a", "b"], n_partitions=8)
        w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
        want = df.select(
            "k", F.sum("a").over(w).alias("cum_a"), F.sum("b").over(w).alias("cum_b")
        )
        g = {r.k: (r.cum_a, r.cum_b) for r in got.collect()}
        ww = {r.k: (r.cum_a, r.cum_b) for r in want.collect()}
        assert g == ww

    def test_cumsum_more_partitions_than_rows(self, spark):
        from pyspark.sql import functions as F

        from rtcdb_spark.operators.scan import distributed_cumsum

        df = spark.range(0, 3).select(F.col("id").alias("k"), F.lit(1).alias("v"))
        got = sorted(
            (r.k, r.cum_v)
            for r in distributed_cumsum(df, "k", ["v"], n_partitions=16).collect()
        )
        assert got == [(0, 1), (1, 2), (2, 3)]

    def test_lag_matches_global_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from rtcdb_spark.operators.scan import distributed_lag

        df = (
            spark.range(0, 777)
            .select((F.col("id") * 13 % 2003).alias("k"), (F.col("id") % 5).alias("v"))
            .dropDuplicates(["k"])
        )
        got = distributed_lag(df, "k", "v", "prev", n_partitions=8)
        want = df.withColumn("prev", F.lag("v").over(Window.orderBy("k")))
        g = {r.k: r.prev for r in got.collect()}
        ww = {r.k: r.prev for r in want.collect()}
        assert g == ww
        # the global first row keeps NULL
        first_k = min(g)
        assert g[first_k] is None

    def test_lag_single_row(self, spark):
        from pyspark.sql import functions as F

        from rtcdb_spark.operators.scan import distributed_lag

        df = spark.range(1).select(F.col("id").alias("k"), F.lit(9).alias("v"))
        rows = distributed_lag(df, "k", "v", "prev", n_partitions=4).collect()
        assert len(rows) == 1 and rows[0].prev is None


class TestMatview:
    def test_incremental_equals_full_recompute_at_every_version(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from rtcdb_spark.operators.matview import merge_agg_state
        from rtcdb_spark.sources.versioned import VersionedTable

        src = spark.range(1000).select(
            (F.col("id") % 7).alias("g"),
            (F.col("id") * 3 % 101).cast("double").alias("v"),
        )
        vt = VersionedTable(spark, str(tmp_path / "vt"))
        state, last = None, None
        for i in range(4):
            batch = src.filter(F.col("v") % 4 == i)
            ver = vt.commit(batch)
            delta = vt.read(ver) if last is None else vt.changes(last, ver)
            delta_agg = delta.groupBy("g").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,2)")).alias("s"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
            )
            state = merge_agg_state(
                state, delta_agg, ["g"], {"n": "sum", "s": "sum", "mn": "min", "mx": "max"}
            )
            full = vt.read(ver).groupBy("g").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(18,2)")).alias("s"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
            )
            got = sorted(map(tuple, state.collect()))
            want = sorted(map(tuple, full.collect()))
            assert got == want, f"divergence at version {ver}"
            last = ver

    def test_non_mergeable_aggregate_rejected(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from rtcdb_spark.operators.matview import merge_agg_state

        df = spark.range(5).select((F.col("id") % 2).alias("g"), F.col("id").alias("v"))
        agg = df.groupBy("g").agg(F.avg("v").alias("v"))
        with pytest.raises(ValueError, match="non-mergeable"):
            merge_agg_state(agg, agg, ["g"], {"v": "avg"})


class TestPngCodec:
    """Pure-Python PNG codec (round 4): the decoder must exactly invert the
    encoder across all five scanline filter types, verify CRCs, and gate
    unsupported shapes honestly."""

    def test_roundtrip_all_filters_rgb_and_rgba(self):
        import numpy as np

        from rtcdb_spark.functions.multimodal import decode_png, make_png

        for (w, h, ch, seed) in [(1, 1, 3, 0), (7, 11, 3, 5), (13, 6, 4, 9),
                                 (2, 5, 4, 123), (31, 17, 3, 42)]:
            meta, px = decode_png(make_png(w, h, seed, channels=ch))
            assert (meta["width"], meta["height"], meta["bpp"]) == (w, h, 8 * ch)
            n = w * h * ch
            want = ((seed * 31 + np.arange(n) * 7) % 256).astype(np.uint8)
            assert np.array_equal(px.reshape(-1), want)

    def test_corrupt_crc_rejected(self):
        import pytest

        from rtcdb_spark.functions.multimodal import decode_png, make_png

        p = bytearray(make_png(5, 5, 1))
        p[40] ^= 0xFF
        with pytest.raises(ValueError, match="CRC"):
            decode_png(bytes(p))

    def test_malformed_shapes_rejected(self):
        """16-bit and interlaced PNGs are SUPPORTED as of round 5 (see
        tests/test_png_full.py); truncated streams of those shapes must
        still fail loudly rather than decode garbage."""
        import struct
        import zlib

        import pytest

        from rtcdb_spark.functions.multimodal import _PNG_SIG, decode_png

        def chunk(ctype, data):
            crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
            return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

        # valid headers but NO pixel data: stream-length mismatch
        for depth, interlace in ((16, 0), (8, 1)):
            ihdr = struct.pack(">IIBBBBB", 2, 2, depth, 2, 0, 0, interlace)
            p = (
                _PNG_SIG
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(b""))
                + chunk(b"IEND", b"")
            )
            with pytest.raises(ValueError):
                decode_png(p)
        # bad color type is a hard error, not a gate
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 5, 0, 0, 0)
        p = _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
        with pytest.raises(ValueError):
            decode_png(p)

    def test_dispatch_recognizes_png(self):
        from rtcdb_spark.functions.multimodal import decode_image, make_png

        m = decode_image(make_png(3, 2, 7))
        assert (m["width"], m["height"], m["bpp"]) == (3, 2, 24)


class TestBpe:
    """Exact BPE training/apply (functions.bpe) against hand-computed
    fixtures from the Sennrich et al. formulation."""

    def test_train_merges_known_corpus(self):
        from rtcdb_spark.functions.bpe import train_merges

        # classic toy vocab: low x5, lower x2, newest x6, widest x3
        vocab = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
        merges = train_merges(vocab, 4)
        # pair counts round 1: ('e','s') 9, ('s','t') 9, ('t','</w>') 9 ...
        # tie on 9 → lexicographic smallest pair ('e','s') merges first,
        # then ('es','t') 9, then ('est','</w>') 9, then ('l','o') 7.
        assert merges == [("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o")]

    def test_apply_merges_matches_training_segmentation(self):
        from rtcdb_spark.functions.bpe import apply_merges, train_merges

        vocab = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
        merges = train_merges(vocab, 10)
        # applying the merges reproduces a valid segmentation: tokens
        # concatenate back to word+marker
        for w, _ in vocab:
            toks = apply_merges(w, merges)
            assert "".join(toks) == w + "</w>"
        # an unseen word still tokenizes (falls back to chars/subwords)
        toks = apply_merges("lowest", merges)
        assert "".join(toks) == "lowest</w>"

    def test_determinism_and_bounds_on_fixture(self, spark, sf_smoke):
        from rtcdb_spark.functions.bpe import (
            tokenize_with_merges,
            train_merges,
            word_counts,
        )
        from rtcdb_spark.sources import load_table

        d = load_table(spark, sf_smoke, "documents")
        vocab_df = word_counts(d).orderBy("cnt", ascending=False)
        vocab = [
            (r.word, r.cnt)
            for r in vocab_df.orderBy(
                vocab_df.cnt.desc(), vocab_df.word.asc()
            ).limit(500).collect()
        ]
        m1 = train_merges(vocab, 40)
        m2 = train_merges(list(vocab), 40)
        assert m1 == m2  # fully deterministic training
        out = tokenize_with_merges(d, m1).collect()
        for r in out:
            # subword count bounded by [n_words, n_words + n_word_chars]
            assert r.n_words <= r.n_subword_tokens <= r.n_words + r.n_word_chars
        # merging must actually compress vs character-level
        total_sub = sum(r.n_subword_tokens for r in out)
        total_char_lvl = sum(r.n_word_chars + r.n_words for r in out)
        assert total_sub < total_char_lvl * 0.8

    def test_pinned_merge_table_matches_sf001_training(self, spark, sf_correct):
        """The oracle's literal merge table (_BPE_MERGES_SF001) must equal
        what the query actually trains at sf0.01 — guards fixture drift:
        if the documents fixture ever changes, this fails before the
        driver's hash gate does."""
        from rtcdb_spark.functions.bpe import train_merges, word_counts
        from rtcdb_spark.queries.text_pipeline import _BPE_MERGES_SF001
        from rtcdb_spark.sources import load_table
        from pyspark.sql import functions as F

        d = load_table(spark, sf_correct, "documents")
        vocab_df = (
            word_counts(d).orderBy(F.desc("cnt"), F.asc("word")).limit(2000)
        )
        vocab = [(r.word, r.cnt) for r in vocab_df.collect()]
        assert train_merges(vocab, n_merges=60) == _BPE_MERGES_SF001

    def test_sql_merge_replay_bit_identical_to_greedy(self):
        """The DuckDB replace-chain replay (sql_merge_replay_ctes) is
        bit-identical to the greedy Python apply, including the hard
        cases: a==b self-runs (odd/even lengths), adjacent occurrences
        sharing a boundary, merges touching </w>, and chained multi-char
        symbols."""
        import duckdb

        from rtcdb_spark.functions.bpe import (
            apply_merges,
            sql_merge_replay_ctes,
        )

        merges = [
            ("e", "e"), ("a", "b"), ("ee", "e"), ("ab", "ab"),
            ("s", "</w>"), ("e", "s</w>"), ("ee", "ee"),
        ]
        words = [
            "eeee", "eee", "eeeee", "eeeeee", "eeeeeee", "abab", "ababab",
            "abeee", "sees", "ess", "ssss", "aabb", "es", "seeeees", "abe",
            "aaaa", "ebebe", "x",
        ]
        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE w(word VARCHAR)")
            con.executemany(
                "INSERT INTO w VALUES (?)", [(x,) for x in words]
            )
            ctes, last = sql_merge_replay_ctes(merges, src="w")
            rows = con.execute(
                f"WITH {ctes} SELECT word, s FROM {last}"
            ).fetchall()
        finally:
            con.close()
        assert len(rows) == len(words)
        for w, seg in rows:
            assert seg.strip().split(" ") == apply_merges(w, merges), w


class TestWinnowing:
    """Winnowing fingerprints (SWA SIGMOD'03): the paper's guarantees,
    checked on crafted strings through the actual column expression."""

    def _select(self, spark, texts, k=8, w=4):
        from rtcdb_spark.functions.text import winnow_select_expr
        from pyspark.sql import functions as F

        sel = winnow_select_expr("text", k, w)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        rows = df.select(
            "doc_id", F.expr(sel).alias("wf")
        ).orderBy("doc_id").collect()
        return [
            [(p, r["wf"]["hs"][p - 1]) for p in r["wf"]["picks"]]
            for r in rows
        ]

    def test_every_window_is_covered(self, spark):
        """Correctness core: every w-window of k-gram hashes contains at
        least one selected position (what guarantees shared substrings of
        length >= w + k - 1 share a fingerprint)."""
        texts = [
            "the quick brown fox jumps over the lazy dog and runs away",
            "aaaaaaaaaaaaaaaaaaaaaa",  # constant hashes: tie-breaks everywhere
            "abcabcabcabcabcabcabc",   # periodic
            "short",                   # shorter than k
        ]
        k, w = 8, 4
        for text, picks in zip(texts, self._select(spark, texts, k, w)):
            n_kg = max(len(text) - k + 1, 1)
            pos = sorted(p for p, _fp in picks)
            assert len(set(pos)) == len(pos)
            for i in range(1, max(n_kg - w + 1, 1) + 1):
                lo, hi = i, min(i + w - 1, n_kg)
                assert any(lo <= p <= hi for p in pos), (text, i)

    def test_density_bound_and_shared_substring(self, spark):
        """Density stays near 2/(w+1) on random-ish text, and two docs
        sharing a >= w+k-1 substring share at least one fingerprint."""
        import random

        rng = random.Random(7)
        alpha = "abcdefghijklmnopqrstuvwxyz "
        a = "".join(rng.choice(alpha) for _ in range(400))
        b = "".join(rng.choice(alpha) for _ in range(400))
        shared = "thisexactsharedrun"  # len 18 >= w + k - 1 = 11
        texts = [a[:200] + shared + a[200:], b[:100] + shared + b[100:]]
        picks = self._select(spark, texts)
        fps0 = {fp for _p, fp in picks[0]}
        fps1 = {fp for _p, fp in picks[1]}
        assert fps0 & fps1, "shared substring must share a fingerprint"
        density = len(picks[0]) / max(len(texts[0]) - 7, 1)
        assert 0.25 <= density <= 0.75  # ~2/(w+1) = 0.4 with slack

    def test_rightmost_tie_break(self, spark):
        """On constant text every window's hashes tie; the paper's basic
        rule picks each window's RIGHTMOST occurrence — so every window
        contributes a fresh position (4, 5, 6, ...), the documented
        degenerate density of basic (non-robust) winnowing on runs."""
        picks = self._select(spark, ["b" * 30], k=8, w=4)[0]
        pos = sorted(p for p, _fp in picks)
        n_kg = 30 - 8 + 1  # 23 k-grams -> windows 1..20, rightmost = i+3
        assert pos == list(range(4, n_kg + 1))
        assert len({fp for _p, fp in picks}) == 1  # all the same hash


class TestResize:
    def test_box2_exact_floor_mean(self):
        import numpy as np

        from rtcdb_spark.functions.multimodal import (
            decode_png,
            make_png,
            resize_box2,
        )

        _, px = decode_png(make_png(12, 6, 3, channels=4))
        small = resize_box2(px)
        assert small.shape == (3, 6, 4)
        for y in range(3):
            for x in range(6):
                for c in range(4):
                    blk = px[2 * y : 2 * y + 2, 2 * x : 2 * x + 2, c].astype(int)
                    assert small[y, x, c] == blk.sum() // 4

    def test_odd_dims_rejected(self):
        import numpy as np
        import pytest

        from rtcdb_spark.functions.multimodal import resize_box2

        with pytest.raises(ValueError, match="even"):
            resize_box2(np.zeros((3, 4, 3), dtype=np.uint8))

    def test_pixel_encoder_roundtrip(self):
        import numpy as np

        from rtcdb_spark.functions.multimodal import _png_from_pixels, decode_png

        rng_px = (np.arange(5 * 7 * 3, dtype=np.int64) * 37 % 256).astype(
            np.uint8
        ).reshape(5, 7, 3)
        _, back = decode_png(_png_from_pixels(rng_px))
        assert np.array_equal(back, rng_px)


class TestHtmlToText:
    """functions.text.html_to_text: rule-order traps that silently corrupt
    extraction if the regexp chain is reordered."""

    def _extract(self, spark, html: str) -> str:
        from pyspark.sql import functions as F

        from rtcdb_spark.functions.text import html_to_text

        df = spark.createDataFrame([(html,)], "h string")
        return df.select(html_to_text(F.col("h")).alias("t")).first()["t"]

    def test_script_with_angle_bracket_payload(self, spark):
        # '<' inside the script payload must not survive as a half tag
        got = self._extract(
            spark, '<p>a</p><script>if (1 < 2) { x("</b>"); }</script><p>b</p>'
        )
        assert got == "a b"

    def test_style_and_comments_vanish(self, spark):
        got = self._extract(
            spark, "<style>p { color: red }</style>word<!-- hidden text -->s"
        )
        assert got == "word s"

    def test_entities_decode_after_tags_amp_last(self, spark):
        # '&lt;p&gt;' must decode to a literal '<p>' STRING, never strip;
        # '&amp;lt;' must decode once to '&lt;', never twice to '<'
        got = self._extract(spark, "<b>&lt;p&gt;</b> &amp;lt; &quot;q&quot;")
        assert got == '<p> &lt; "q"'

    def test_whitespace_collapse(self, spark):
        got = self._extract(spark, "<div>\n  a\t\tb \n</div><br>c")
        assert got == "a b c"

    def test_duckdb_twin_is_identical(self, spark):
        import duckdb

        from rtcdb_spark.functions.text import sql_html_to_text

        cases = [
            '<p>a</p><script>if (1 < 2) { x("</b>"); }</script><p>b</p>',
            "<style>p{c:r}</style>word<!-- gone -->s",
            "<b>&lt;p&gt;</b> &amp;amp; &#39;x&#39;",
            "plain no markup",
            "<a href='u?x=1&amp;y=2'>link</a> tail",
        ]
        con = duckdb.connect()
        for h in cases:
            want = self._extract(spark, h)
            got = con.execute(
                f"SELECT {sql_html_to_text('v')} FROM (SELECT ? AS v)", [h]
            ).fetchone()[0]
            assert got == want, h


def test_pq_books_match_pinned(spark, sf_correct):
    """The pinned sf0.01 codebooks (functions/pq_pinned.py — the
    similarity_pq_topk oracle's literal) must equal a fresh training run
    bit-for-bit, including under a different input partitioning: the
    DECIMAL recenter makes training partition-order-independent, which is
    the property the pinned oracle stands on."""
    from rtcdb_spark.functions.pq_pinned import PQ_BOOKS_SF001
    from rtcdb_spark.functions.similarity import pq_train

    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet").repartition(5)
    books = pq_train(emb, m=8, k=32, n_iter=2)
    got = sorted(
        (r["sub"], r["cid"], tuple(r["cv"])) for r in books.collect()
    )
    assert got == [(s, c, tuple(cv)) for s, c, cv in PQ_BOOKS_SF001]


def test_ivf_cents_match_pinned(spark, sf_correct):
    """Same pinning contract as test_pq_books_match_pinned, for the
    trained-IVF oracle's centroid literal."""
    from rtcdb_spark.functions.pq_pinned import IVF_CENTS_SF001
    from rtcdb_spark.functions.similarity import kmeans_centroids

    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet").repartition(9)
    cents = kmeans_centroids(emb, n_cells=16, n_iter=3)
    got = sorted((r["cid"], tuple(r["cv"])) for r in cents.collect())
    assert got == [(c, tuple(cv)) for c, cv in IVF_CENTS_SF001]


def test_sort_within_partitions_violation_detector_fires(spark):
    """The derived oracle column (round 11) must not be vacuous: the
    same lag-over-physical-position construction flags out-of-order rows
    when the sort is OMITTED on adversarially interleaved input."""
    from pyspark.sql.window import Window

    df = (
        spark.createDataFrame(
            [(k, n) for k in (3, 1, 2) for n in (2, 1)], "k long, n long"
        )
        .coalesce(1)  # one partition, rows in insertion order: unsorted
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_pos", F.monotonically_increasing_id())
    )
    w = Window.partitionBy("_pid").orderBy("_pos")
    prev_k, prev_n = F.lag("k").over(w), F.lag("n").over(w)
    viol = (prev_k > F.col("k")) | (
        (prev_k == F.col("k")) & (prev_n > F.col("n"))
    )
    n_bad = (
        df.select(F.coalesce(viol.cast("int"), F.lit(0)).alias("v"))
        .agg(F.sum("v").alias("s")).collect()[0]["s"]
    )
    # (3,2)->(3,1) , (3,1)->(1,2) is k-descent, (1,1)->(2,2) fine, etc.
    assert n_bad >= 2
    # and the real query's column is all-zero (the positive side the
    # driver hashes)
    import __spark_entry__ as e

    out = e.REGISTRY["sort_within_partitions"].fn(
        spark, "/root/testdata/sf0.001"
    )
    assert out.agg(F.sum("n_order_violations")).collect()[0][0] == 0
