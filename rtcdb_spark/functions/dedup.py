"""Deduplication operators (SURVEY §2 C-IX): exact, MinHash+LSH near-dup,
SimHash, and n-gram Jaccard.

All operators are pure DataFrame compositions over the stable md5-based hash
(functions.text) — deterministic, cross-engine reproducible, and free of
Python UDFs. Scale design:

- exact dedup: one hash-groupBy shuffle on the digest — the canonical
  100 TB dedup (digest is uniform, so no skew).
- MinHash: explode shingles → per-doc min over k permutations. The explode
  is the expensive step (~tokens×1 rows); the aggregate is a partial-combine
  min, so the shuffle carries only k values per doc.
- LSH banding: docs shuffle by (band_id, band_signature) — each doc appears
  in exactly `bands` buckets, so candidate generation is linear, never the
  O(n²) all-pairs join. Pair verification joins shingle sets only for
  candidate pairs.
- SimHash: token-bit matrix aggregates to a signature per doc (32-bit cheap
  variant and 64-bit industry-width variant); near-dup lookup is a banded
  Hamming-radius multi-probe — equi-join recall is exact for radius ≤ 3 by
  pigeonhole over 4×16-bit bands.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rtcdb_spark.functions.text import (
    MERSENNE_P,
    shingles,
    stable_hash_mod,
)
from rtcdb_spark.session import narrow_shuffle

# Fixed random-affine permutation constants (seed=42, generated offline):
# minhash_j(S) = min_{s in S} (A[j]*h(s) + B[j]) mod P. Hardcoded so every
# engine, run, and test sees the identical signature space.
MINHASH_AB: list[tuple[int, int]] = [
    (1373158607, 239081663), (53710185, 1592467581), (590620972, 525901256),
    (479341424, 299655412), (1581559893, 220106707), (1453201079, 1590571865),
    (1915941033, 1171165722), (186699714, 1268073012), (906070221, 68252793),
    (63989048, 201209005), (469521478, 499635468), (1085242217, 1292825378),
    (56985562, 1205264595), (427000597, 1537640408), (1395616197, 1506083910),
    (1170252924, 900911954),
]
N_PERM = len(MINHASH_AB)
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content digest: (digest, keep_id, n_dups).
    keep_id is the smallest id in the group — the canonical survivor."""
    return (
        docs.select(F.sha2(F.col(text_col), 256).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def fan_out_small(df: DataFrame) -> DataFrame:
    """Round-robin-rebalance a DataFrame whose scan has fewer partitions
    than the session's parallelism — the small-fixture / unsplittable-file
    case (optimization guide §2.5: repartition immediately after an
    un-parallel read) — so the heavy map stage that follows uses every
    core instead of one task. No-op when the input is already at least
    core-parallel, so at corpus scale (thousands of scan splits) this
    never adds a shuffle. For unordered consumers only: a kernel whose
    output must come back ORDER BY id goes through `map_ordered`.

    Streaming DataFrames pass through untouched: their partitioning is the
    source's per-micro-batch layout, and ``df.rdd`` (the partition-count
    probe below) is illegal on a streaming plan. Note the probe's cost on
    batch plans: ``df.rdd.getNumPartitions()`` forces physical planning of
    ``df`` once — cheap for the scan-rooted inputs this guards, but not
    free on very wide plans, so call it on the raw scan, not downstream."""
    if df.isStreaming:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def map_ordered(
    df: DataFrame, id_col: str, kernel: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """Run a map-only ``kernel`` (any ``DataFrame -> DataFrame`` step: a
    ``mapInPandas``, ``mapInArrow`` or ``select`` that keeps ``id_col``)
    and return its output globally ordered by ``id_col`` — the
    ORDER BY id contract of every per-row kernel query.

    Invariant: range input, local sort, kernel runs once. The input is
    RANGE-partitioned on ``id_col`` into ``defaultParallelism``
    partitions, the kernel runs on each one, and a shuffle-free
    ``sortWithinPartitions`` finishes the job: each partition holds one
    contiguous id range and partitions are collected in range order, so
    the rows are globally ordered. No exchange may be inserted between
    the range exchange and the local sort. A global sort above the
    kernel would run the range partitioner's sampling pass over the
    kernel's output, executing the whole kernel TWICE (2N kernel rows
    for N inputs, counted with an accumulator); here the sampling pass
    reads only the kernel's input. The partition count is explicit so
    AQE can neither coalesce nor rebalance the range exchange, and the
    same plan serves a one-split fixture (which it fans out across
    cores) and an already core-parallel corpus."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return kernel(df.repartitionByRange(n, id_col)).sortWithinPartitions(id_col)


def doc_shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct (id, shingle_hash) pairs — the set representation used by
    MinHash and Jaccard. Hashes are in [0, P).

    The shingle explode + md5 map stage is the expensive part; the input
    is rebalanced first when its scan is narrower than the session's
    parallelism (`fan_out_small`) — before that, every consumer of this
    function ran its whole hash stage on the fixture's single parquet
    split."""
    docs = fan_out_small(docs)
    return (
        docs.select(F.col(id_col), F.explode(shingles(text_col, n)).alias("shingle"))
        .select(id_col, stable_hash_mod("shingle").alias("sh"))
        .distinct()
    )


def minhash_signatures(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """k=16 MinHash values per doc as columns mh0..mh15.

    One aggregation pass: each permutation is an independent `min` aggregate,
    partial-combined map-side, so the shuffle is k longs per doc."""
    aggs = [
        F.min((F.lit(a) * F.col("sh") + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"mh{j}")
        for j, (a, b) in enumerate(MINHASH_AB)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_clique: int = 256,
    connectivity_only: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band.

    Docs are exploded into `N_BANDS` (band_id, signature) keys; within each
    bucket, pairs are expanded in place — ONE shuffle on the bucket key, no
    self-join (a self-join would evaluate the whole upstream minhash
    pipeline once per join side). Linear in corpus size for non-degenerate
    data.

    Degenerate-bucket bound: a pathological hot bucket (e.g. millions of
    byte-identical docs, or the empty-text signature) is inherently
    quadratic under all-pairs expansion. The expansion is capped: only the
    `max_clique` smallest ids form the full pairwise clique; every doc
    beyond the cap emits a single star link to the bucket's min id instead
    — both generated from the same aggregated bucket array in ONE
    expression (no second window pass, no sort, no union: the bucket-key
    groupBy stays the only shuffle). Per-bucket pair output is ≤
    max_clique²/2 + n and every member stays connected to the bucket
    component, so downstream connected-components grouping is unaffected;
    what is lost is only the *direct* pair between two beyond-cap members
    (their Jaccard is then never computed — immaterial for dedup grouping,
    under-reports pair-level similarity inside oversized buckets; raise
    max_clique if that matters). The aggregated id array itself remains
    O(bucket) — 8 bytes/doc, linear and spill-safe; it is the quadratic
    pair blowup that kills at scale, and that is what the cap removes.
    Results are bit-identical to uncapped expansion whenever no bucket
    exceeds max_clique. Dedup across bands keeps each pair once.

    ``connectivity_only=True`` (round 5 — the threshold switch SCALE.md's
    100x rung designed for extreme duplicate multiplicity): every bucket
    emits ONLY star links to its min id — O(bucket) pairs total, never any
    clique. The pair set is no longer the verifiable near-dup pair list,
    but it has the SAME transitive closure (every member stays connected
    through the anchor), so connected-components grouping is unchanged
    while pair emission drops from O(m²) to O(m) per duplicate cluster of
    multiplicity m — the one superlinear path the measured 100x stress
    rung identified. Use it when the goal is dedup GROUPING at extreme
    multiplicity; keep the default for pair-level similarity reporting."""
    bands = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "-",
                            *[
                                F.col(f"mh{b * ROWS_PER_BAND + r}").cast("string")
                                for r in range(ROWS_PER_BAND)
                            ],
                        ).alias("sig"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.sig")
    buckets = (
        bands.groupBy("band_id", "sig")
        .agg(F.collect_set(F.col(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # Clique + star links in one expression. The sort that picks WHICH ids
    # form the clique (and the star anchor) is only needed for oversized
    # buckets, so it sits inside the ELSE branch — lazily evaluated, and
    # bound once via the one-element transform(array(...)) wrapper (SQL has
    # no `let`). Normal buckets expand all pairs straight off the unsorted
    # set; pair orientation is normalized with least/greatest either way.
    if connectivity_only:
        # Star links only: anchor = bucket min id, one link per other
        # member. array_min binds the anchor once; id_a < id_b holds by
        # construction since the anchor is the minimum.
        pair_expr = """
            filter(transform(ids, b -> struct(array_min(ids) AS id_a,
                                              b AS id_b)),
                   p -> p.id_a != p.id_b)
        """
    else:
        pair_expr = f"""
        CASE WHEN size(ids) <= {max_clique} THEN
            flatten(transform(ids, (a, i) ->
                transform(slice(ids, i + 2, size(ids) - i - 1),
                          b -> struct(least(a, b) AS id_a, greatest(a, b) AS id_b))))
        ELSE
            transform(array(array_sort(ids)), s ->
                concat(
                    flatten(transform(slice(s, 1, {max_clique}), (a, i) ->
                        transform(slice(s, i + 2, {max_clique} - i - 1),
                                  b -> struct(a AS id_a, b AS id_b)))),
                    transform(slice(s, {max_clique} + 1, size(s)),
                              b -> struct(s[0] AS id_a, b AS id_b))
                ))[0]
        END
        """
    return (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def jaccard_pairs(sh: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard similarity for the given (id_a, id_b) pairs from the
    shingle-set representation: |A∩B| / (|A|+|B|-|A∩B|), exact rational
    arithmetic until the final double division."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    inter = (
        pairs.join(sh.select(F.col(id_col).alias("id_a"), "sh"), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .filter(F.col("sh") == F.col("sh_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"n_common": 0})
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def containment_pairs(sh: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard AND containment for the given (id_a, id_b) pairs:
    containment = |A∩B| / min(|A|, |B|) — the asymmetric overlap measure
    that catches near-SUPERSETS (a doc quoting another whole, boilerplate
    wrapping a copied body) which Jaccard dilutes: a 10-shingle doc fully
    contained in a 100-shingle doc has containment 1.0 but Jaccard 0.1.
    Same join shape as :func:`jaccard_pairs` (Catalyst folds the shingle
    equality into the (id, sh) hash-join key — no per-pair cross
    product); both ratios are one double division of exact counts."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    inter = (
        pairs.join(sh.select(F.col(id_col).alias("id_a"), "sh"), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .filter(F.col("sh") == F.col("sh_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"n_common": 0})
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
            (
                F.col("n_common").cast("double") / F.least("n_a", "n_b")
            ).alias("containment"),
        )
    )


def simhash32(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash per document over token hashes (frequency-weighted).

    bit b of the signature is 1 iff sum over tokens of ±1 (per that token's
    hash bit b) is > 0. Computed as an explode over (token × 32 bit
    positions) then two aggregations — all JVM-side."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).select(id_col, stable_hash_mod("tok").alias("h"))
    bits = toks.select(
        id_col,
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
    ).select(
        id_col,
        "b",
        F.expr("CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END").alias("w"),
    )
    per_bit = bits.groupBy(id_col, "b").agg(F.sum("w").alias("s"))
    return per_bit.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(0)
        ).alias("simhash")
    )


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document → (id, sim_hi, sim_lo).

    Industry-standard width (the 32-bit variant above is kept for the
    cheap-signature use case). The signature is stored as two 32-bit words in
    BIGINT columns — a single signed 64-bit composition is not portable SQL
    (engines disagree on 1<<63 overflow), and the split form keeps every
    value non-negative so bitwise ops behave identically cross-engine.

    Token bits come from two md5 prefix windows (chars 1-8 → high word,
    9-16 → low word); bit b of the signature is 1 iff the ±1 sum over token
    frequencies at bit b is > 0. Computed as 64 independent ±1 SUM
    aggregates in ONE groupBy (the MinHash trick): the shuffle carries 64
    longs per (doc, partition) partial and the row count stays at token
    cardinality — never the tokens×64 row materialization of the naive
    per-bit explode (equal wall-clock at sf0.1 where codegen hides the
    explode, but 64× less intermediate row churn to spill at corpus
    scale). All JVM expressions, no Python."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).select(
        id_col,
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint").alias("h_hi"),
        F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("bigint").alias("h_lo"),
    )

    def bit_weight(b: int) -> F.Column:
        word, shift = ("h_hi", b - 32) if b >= 32 else ("h_lo", b)
        return F.when(
            F.shiftright(F.col(word), shift).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    per_bit = toks.groupBy(id_col).agg(
        *[F.sum(bit_weight(b)).alias(f"s{b}") for b in range(64)]
    )
    def word(lo_bit: int) -> F.Column:
        acc = F.lit(0).cast("bigint")
        for b in range(lo_bit, lo_bit + 32):
            acc = acc + F.when(
                F.col(f"s{b}") > 0, F.lit(1 << (b - lo_bit)).cast("bigint")
            ).otherwise(0)
        return acc

    return per_bit.select(
        id_col, word(32).alias("sim_hi"), word(0).alias("sim_lo")
    )


def simhash64_rowwise(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """64-bit SimHash per document → (id, sim_hi, sim_lo) with ZERO shuffle.

    Value-identical to :func:`simhash64` (same md5 prefix-window token
    hashes, same ±1 occurrence-weighted bit sums, same word split) and to
    :func:`simhash64_rowwise_expr` (pinned by test), but computed as a
    vectorized NumPy kernel behind a pandas UDF
    (`functions.simhash_np.simhash64_sig`): one batched single-block MD5
    pass per Arrow batch instead of the interpreted HOF fold, ~30-50x less
    CPU per token (guide §4.2 — hand whole batches to vectorized native
    code). Still a stateless per-row projection: legal in front of
    `applyInPandasWithState` in a streaming query, no token explode, no
    signature shuffle — the per-doc signature never leaves its input
    partition, at any corpus size.
    """
    from rtcdb_spark.functions.simhash_np import simhash64_sig

    if not docs.isStreaming:
        # batch consumers read the single-split fixture: spread the kernel
        # across cores (streaming partitioning is the source's business)
        docs = fan_out_small(docs)
    carried = [F.col(c) for c in (extra_cols or [])]
    sigged = docs.select(
        F.col(id_col), *carried, simhash64_sig(F.col(text_col)).alias("_sig")
    )
    return sigged.select(
        F.col(id_col),
        *[F.col(c) for c in (extra_cols or [])],
        F.col("_sig.sim_hi").alias("sim_hi"),
        F.col("_sig.sim_lo").alias("sim_lo"),
    )


def simhash64_rowwise_expr(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """The pure-column-expression formulation of :func:`simhash64_rowwise`
    (the pre-optimization implementation, kept as the cross-check twin and
    for plan-shape tests): `aggregate` folds the token array into a
    64-element ±1-sum accumulator per row — correct everywhere, but the
    fold runs in the interpreted HOF evaluator, which is why the kernel
    form replaced it on the hot paths.

    The one-element ``transform(array(...))[0]`` wrapper binds the
    accumulator once so the two output words don't re-fold the token array.
    """
    toks = f"split({text_col}, ' ')"
    hashes = (
        f"transform({toks}, t -> named_struct("
        "'hi', CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT), "
        "'lo', CAST(conv(substring(md5(t), 9, 8), 16, 10) AS BIGINT)))"
    )
    bits = (
        f"aggregate({hashes}, array_repeat(0, 64), (acc, h) -> "
        "zip_with(acc, sequence(0, 63), (a, b) -> a + "
        "IF(((CASE WHEN b < 32 THEN shiftright(h.lo, b) "
        "ELSE shiftright(h.hi, b - 32) END) & 1) = 1, 1, -1)))"
    )

    def word(offset: int) -> str:
        # bs is the 64-element ±1-sum array; slice is 1-indexed.
        return (
            f"aggregate(zip_with(slice(bs, {offset + 1}, 32), sequence(0, 31), "
            "(s, b) -> IF(s > 0, shiftleft(CAST(1 AS BIGINT), b), "
            "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)"
        )

    # inline() is a generator: the one-element struct array is evaluated
    # exactly once per row and flattened to (sim_hi, sim_lo) columns —
    # projecting the struct's fields separately would re-fold the token
    # array once per output column (CollapseProject inlines the struct).
    sig = (
        f"inline(transform(array({bits}), bs -> named_struct("
        f"'sim_hi', {word(32)}, 'sim_lo', {word(0)})))"
    )
    # extra_cols ride along unchanged (e.g. the event-time column the
    # unordered streaming gate watermarks on).
    carried = [F.col(c) for c in (extra_cols or [])]
    return docs.select(F.col(id_col), *carried, F.expr(sig))


# Hamming-probe banding: 4 bands × 16 bits. Pigeonhole: two 64-bit signatures
# within Hamming distance ≤ 3 differ in at most 3 bands, so at least one band
# matches exactly — the equi-join on (band_id, band_val) has perfect recall
# for radius ≤ 3 (and partial recall up to radius 48).
SIMHASH_PROBE_RADIUS = 3


def simhash_hamming_pairs(
    sigs: DataFrame,
    max_hamming: int = SIMHASH_PROBE_RADIUS,
    id_col: str = "doc_id",
    max_clique: int = 256,
    connectivity_only: bool = False,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, hamming ≤ max_hamming) from 64-bit
    SimHash signatures via banded multi-probe.

    Same shuffle shape as :func:`lsh_candidate_pairs`: each doc explodes into
    4 (band_id, band_val) keys carrying its signature words; pairs expand
    in-bucket with exact Hamming verification (`bit_count(xor)`) inline — no
    self-join, no all-pairs, no second pass to re-join signatures. Linear in
    corpus size for non-degenerate band histograms.

    Degenerate-bucket bound (same scheme as lsh_candidate_pairs): the
    `max_clique` smallest-id docs form the full pairwise clique, and every
    doc beyond the cap emits one star probe against the bucket's min-id
    doc, still Hamming-verified inline — both generated from the sorted
    bucket array in one expression (no extra sort/window/union; the
    bucket-key groupBy stays the only shuffle, and the aggregated array is
    O(bucket) while the removed blowup was the O(bucket²) pair output). In
    the motivating degenerate case (a hot band value from, e.g., identical
    empty-text signatures) overflow docs have hamming 0 to the min doc, so
    connectivity of the duplicate component is preserved at O(n) pairs
    instead of O(n²); a beyond-cap doc pair whose ONLY shared band is
    oversized and whose distance to the bucket min exceeds the radius can
    be missed — pigeonhole-exact recall at r ≤ max_hamming is guaranteed
    only while no matching band bucket exceeds max_clique. Bit-identical
    to the uncapped expansion whenever buckets fit the cap.

    ``connectivity_only=True``: every bucket emits only Hamming-verified
    star probes against its min-id doc — O(bucket) pairs, the grouping-
    preserving threshold switch for extreme duplicate multiplicity (see
    ``lsh_candidate_pairs``). Recall caveat as with beyond-cap links:
    a pair is connected only through anchors within the radius — exact
    for the motivating case (identical/near-identical signature floods,
    hamming 0 to the anchor), approximate for a genuinely diverse bucket
    whose members straddle the anchor's radius."""
    lo, hi = F.col("sim_lo"), F.col("sim_hi")
    mask = F.lit(0xFFFF)
    band_vals = [
        lo.bitwiseAND(mask),
        F.shiftright(lo, 16).bitwiseAND(mask),
        hi.bitwiseAND(mask),
        F.shiftright(hi, 16).bitwiseAND(mask),
    ]
    bands = sigs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        v.alias("band_val"),
                        F.struct(
                            F.col(id_col).alias("id"),
                            F.col("sim_hi").alias("hi"),
                            F.col("sim_lo").alias("lo"),
                        ).alias("doc"),
                    )
                    for b, v in enumerate(band_vals)
                ]
            )
        ).alias("e")
    ).select("e.band_id", "e.band_val", "e.doc")
    buckets = (
        bands.groupBy("band_id", "band_val")
        .agg(F.collect_set("doc").alias("docs"))
        .filter(F.size("docs") > 1)
    )
    # As in lsh_candidate_pairs: the clique/anchor-picking sort only runs for
    # oversized buckets (lazy ELSE branch, bound once via the one-element
    # transform(array(...)) wrapper); normal buckets pair straight off the
    # unsorted set and orientation is normalized downstream.
    if connectivity_only:
        # Star probes only: anchor = min-id doc (struct sort order leads
        # with `id`), one Hamming-verified link per other member.
        pair_expr = """
            filter(transform(docs, b -> struct(array_min(docs) AS da,
                                               b AS db)),
                   p -> p.da.id != p.db.id)
        """
    else:
        pair_expr = f"""
        CASE WHEN size(docs) <= {max_clique} THEN
            flatten(transform(docs, (a, i) ->
                transform(slice(docs, i + 2, size(docs) - i - 1),
                          b -> struct(a AS da, b AS db))))
        ELSE
            transform(array(array_sort(docs)), s ->
                concat(
                    flatten(transform(slice(s, 1, {max_clique}), (a, i) ->
                        transform(slice(s, i + 2, {max_clique} - i - 1),
                                  b -> struct(a AS da, b AS db)))),
                    transform(slice(s, {max_clique} + 1, size(s)),
                              b -> struct(s[0] AS da, b AS db))
                ))[0]
        END
        """
    pairs = buckets.select(F.explode(F.expr(pair_expr)).alias("p")).select(
        F.least(F.col("p.da.id"), F.col("p.db.id")).alias("id_a"),
        F.greatest(F.col("p.da.id"), F.col("p.db.id")).alias("id_b"),
        (
            F.bit_count(F.col("p.da.hi").bitwiseXOR(F.col("p.db.hi")))
            + F.bit_count(F.col("p.da.lo").bitwiseXOR(F.col("p.db.lo")))
        ).alias("hamming"),
    )
    return pairs.filter(F.col("hamming") <= max_hamming).distinct()


def connected_components_star(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Undirected edges → (node, group_id = min node id in component) via
    alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).

    Round complexity is O(log n) on ANY graph — the upgrade over plain
    min-label propagation (`connected_components` below), whose round count
    equals the component diameter and degenerates to O(n) on path graphs.
    Use this variant when the duplicate graph's shape is not known to be
    bucket-cliques (e.g. chained near-dups from sliding-window shingles).

    Per round: large-star hangs every neighbor larger than u off u's
    minimum neighbor (one groupBy-min + join of the edge relation);
    small-star re-hangs the smaller neighbors; both are map-combined
    aggregates plus one equi-join — no driver-side data, and the edge set
    contracts geometrically. Convergence = edge-set fixpoint, detected with
    a count + order-independent hash-sum signature (two scalars, not a
    set-difference shuffle). The fixpoint is the unique min-rooted star
    forest, so the result is deterministic."""
    # Lazy checkpoint: the signature aggregate is the action that materializes
    # each round's edge relation, so a round costs ONE Spark job, not two
    # (eager checkpoint + separate signature scan halved throughput on
    # contracted graphs, where per-round scheduler overhead dominates).
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def signature(rel: DataFrame) -> tuple:
        row = rel.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(F.least("u", "v"), F.greatest("u", "v"))).alias("h"),
        ).first()
        return (row["n"], row["h"])

    def large_star(rel: DataFrame) -> DataFrame:
        both = rel.union(rel.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = both.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("mv", F.col("u")).alias("m"))
        # No terminal distinct: the output feeds small_star, whose groupBy-min
        # ignores duplicate edges and whose own terminal distinct restores set
        # semantics — dropping the dedup here removes one full shuffle per
        # round (~14% on the sf0.1 co-activity graph) without changing the
        # fixpoint (small_star(R) = small_star(set(R)) for any multiset R).
        return (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def small_star(rel: DataFrame) -> DataFrame:
        directed = rel.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        joined = directed.join(mins, "u")
        hang_nbrs = joined.filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        hang_self = mins.select(F.col("u"), F.col("m").alias("v"))
        return hang_nbrs.union(hang_self).filter(F.col("u") != F.col("v")).distinct()

    sig = signature(e)
    # Each round's signature action runs under narrow_shuffle, so the round
    # shuffles are sized to the edge count rather than the session width.
    with narrow_shuffle(edges.sparkSession, sig[0]):
        for _ in range(max_iter):
            e = small_star(large_star(e)).localCheckpoint(eager=False)
            new_sig = signature(e)
            if new_sig == sig:
                break
            sig = new_sig
    # Fixpoint edges are (child, root) star links; roots label themselves.
    children = e.select(F.col("u").alias("node"), F.col("v").alias("group_id"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("group_id")).distinct()
    return children.union(roots).distinct()


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Undirected edges → (node, group_id) where group_id = min node id in the
    connected component. The grouping step of near-dedup: LSH/Jaccard pairs in,
    duplicate clusters out (keep the min id per cluster, drop the rest).

    Iterative min-label propagation: every node starts labeled with itself;
    each round takes the min of its own and all neighbors' labels; fixpoint =
    components. The fixpoint is unique, so the result is deterministic
    regardless of execution order. Rounds needed = graph diameter — near-dup
    components are bucket-cliques with diameter ≤ ~2, so 2-3 rounds in
    practice (an adversarial path graph needs O(n); alternate large/small-star
    if that is a live risk). Each round is one join + one partial-min
    aggregate on the edge relation — all distributed, nothing driver-side
    except the convergence check (a `LIMIT 1` existence probe, not a
    collect). `localCheckpoint` truncates the growing lineage each round
    (on a cluster, use a checkpoint dir for fault tolerance instead)."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    sym = sym.persist()
    labels = (
        sym.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    ).localCheckpoint()
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            labels.select("node", F.col("label").alias("old_label"))
            .join(new_labels, "node")
            .filter(F.col("old_label") != F.col("label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return labels.select("node", F.col("label").alias("group_id"))
