"""Text-analysis query surface (SURVEY §2 C-IX): per-document statistics,
quality scoring, heuristic language-ID, regex token counting, and rolling-
hash fingerprinting. All pure column expressions — the pipeline stays in
whole-stage codegen at any corpus size (one scan, no shuffles except the
explicit final sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rtcdb_spark.functions.text import (
    MERSENNE_P,
    sql_html_to_text as _sql_html_to_text,
    sql_stable_hash_mod,
    stable_hash_mod,
)
from rtcdb_spark.queries.base import query
from rtcdb_spark.sources import load_table

# Tiny per-language stopword lists for the n-gram/lexicon language heuristic.
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "zu"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "la", "et", "les", "des"],
}


def _sql_in_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


@query(
    "text_stats",
    """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           length(text) AS n_chars,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_unique,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS type_token_ratio,
           CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS avg_token_len,
           len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS n_stopwords,
           CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
               / len(toks) AS stopword_ratio
    FROM t
    ORDER BY doc_id
    """,
    tags=("text",),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document statistics: char/token/unique counts, type-token ratio,
    average token length, stopword ratio — the standard quality-filter
    features for an LLM training corpus."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    return (
        d.select(
            "doc_id",
            F.length("text").alias("n_chars"),
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_unique"),
            (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
                "type_token_ratio"
            ),
            (
                F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
                / F.size(toks)
            ).alias("avg_token_len"),
            n_stop.alias("n_stopwords"),
            (n_stop.cast("double") / F.size(toks)).alias("stopword_ratio"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_quality_filter",
    """
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    scored AS (
        SELECT doc_id, lang,
               len(toks) AS n_tokens,
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
        FROM t
    )
    SELECT doc_id, lang, n_tokens, ttr,
           (n_tokens >= 20 AND n_tokens <= 120 AND ttr >= 0.3) AS keep
    FROM scored
    ORDER BY doc_id
    """,
    tags=("text", "quality"),
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality gate: length band + lexical-diversity threshold → keep
    flag. (The filter columns are emitted rather than applied so the oracle
    checks the decision boundary itself.)"""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    return (
        d.select(
            "doc_id",
            "lang",
            n.alias("n_tokens"),
            ttr.alias("ttr"),
            ((n >= 20) & (n <= 120) & (ttr >= 0.3)).alias("keep"),
        )
        .orderBy("doc_id")
    )


_LANG_SCORE_SQL = ",\n           ".join(
    f"len(list_filter(toks, t -> t IN ({_sql_in_list(ws)}))) AS score_{lang}"
    for lang, ws in LANG_STOPWORDS.items()
)


@query(
    "text_lang_id",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    scores AS (
        SELECT doc_id,
           {_LANG_SCORE_SQL}
        FROM t
    )
    SELECT doc_id, score_en, score_de, score_es, score_fr,
           CASE
             WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
             WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
             WHEN score_es >= score_fr THEN 'es'
             ELSE 'fr'
           END AS pred_lang
    FROM scores
    ORDER BY doc_id
    """,
    tags=("text", "langid"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: per-language stopword-lexicon hit counts,
    argmax with a fixed preference order for ties. (A real system swaps the
    lexicons for char-n-gram profiles; the operator shape is identical.)"""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def count_hits(ws: list[str]) -> F.Column:
        arr = F.array(*[F.lit(w) for w in ws])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = {lang: count_hits(ws) for lang, ws in LANG_STOPWORDS.items()}
    s = d.select("doc_id", *[c.alias(f"score_{lang}") for lang, c in scores.items()])
    e, g, p, f_ = (F.col("score_en"), F.col("score_de"), F.col("score_es"), F.col("score_fr"))
    pred = (
        F.when((e >= g) & (e >= p) & (e >= f_), "en")
        .when((g >= p) & (g >= f_), "de")
        .when(p >= f_, "es")
        .otherwise("fr")
    )
    return s.withColumn("pred_lang", pred).orderBy("doc_id")


@query(
    "text_token_count",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_ish,
           len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_runs,
           len(regexp_extract_all(text, ' ')) + 1 AS n_ws_tokens
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text", "tokens"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: BPE-ish regex classes, alpha runs,
    whitespace splits — the cost-estimation primitives for LLM data budgets."""
    d = load_table(spark, sf_dir, "documents")

    def n_matches(pat: str) -> F.Column:
        return F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)"))

    return (
        d.select(
            "doc_id",
            n_matches("[a-z]+|[0-9]+|[^a-z0-9 ]").alias("n_bpe_ish"),
            n_matches("[a-z]+").alias("n_alpha_runs"),
            (n_matches(" ") + 1).alias("n_ws_tokens"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_fingerprint",
    f"""
    WITH t AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                              tok -> {sql_stable_hash_mod('tok')}) AS hs
        FROM documents
    )
    SELECT doc_id,
           list_reduce([CAST(0 AS BIGINT)] || hs,
                       (acc, x) -> (acc * 31 + x) % {MERSENNE_P}) AS fingerprint
    FROM t
    ORDER BY doc_id
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    token hashes mod 2^31-1. Equal fingerprints ⇒ (w.h.p.) identical token
    sequences — cheaper to store/compare than the text itself."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    hashes = F.transform(toks, lambda t: stable_hash_mod(t))
    fp = F.aggregate(
        hashes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 31 + x) % F.lit(MERSENNE_P),
    )
    return d.select("doc_id", fp.alias("fingerprint")).orderBy("doc_id")


@query(
    "text_repetition_quality",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
    pd AS (
        SELECT doc_id, MAX(c) AS top_cnt, SUM(c) AS n_tokens
        FROM tc GROUP BY doc_id
    ),
    sh AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
                   i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
               ) AS g
        FROM documents
    ),
    gd AS (
        SELECT doc_id,
               CAST(len(g) - len(list_distinct(g)) AS DOUBLE) / len(g) AS dupf
        FROM sh
    )
    SELECT pd.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(top_cnt AS DOUBLE) / n_tokens, 6) AS top_token_frac,
           ROUND(dupf, 6) AS dup_3gram_frac,
           (CAST(top_cnt AS DOUBLE) / n_tokens > 0.12 OR dupf > 0.55) AS flagged
    FROM pd JOIN gd ON pd.doc_id = gd.doc_id
    ORDER BY pd.doc_id
    """,
    tags=("text", "quality", "repetition", "llm-pipeline"),
)
def text_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/RefinedWeb family):
    fraction of tokens taken by the single most frequent token, and the
    fraction of 3-gram positions that repeat an earlier 3-gram — the two
    classic detectors of boilerplate/spam/looped generations that
    length/stopword stats miss.

    Scale shape: top-token fraction is explode → (doc, token) count →
    per-doc max/sum (two map-combined aggregates, token-row shuffle carries
    combined counts); the 3-gram duplicate fraction is PURE array math on
    the shingle array (size - size∘distinct) — map-only, no shuffle. The
    two doc-keyed branches join on doc_id post-aggregation. Thresholds are
    fixture-calibrated to flag a non-trivial subset."""
    from rtcdb_spark.functions.text import shingles

    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pd_ = tc.groupBy("doc_id").agg(
        F.max("c").alias("top_cnt"), F.sum("c").alias("n_tokens")
    )
    g = shingles("text", 3)
    gd = d.select(
        "doc_id",
        (
            (F.size(g) - F.size(F.array_distinct(g))).cast("double") / F.size(g)
        ).alias("dupf"),
    )
    top_frac = F.col("top_cnt").cast("double") / F.col("n_tokens")
    return (
        pd_.join(gd, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(top_frac, 6).alias("top_token_frac"),
            F.round("dupf", 6).alias("dup_3gram_frac"),
            ((top_frac > 0.12) | (F.col("dupf") > 0.55)).alias("flagged"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_lang_audit",
    f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    scores AS (
        SELECT doc_id, lang,
           {_LANG_SCORE_SQL}
        FROM t
    ),
    pred AS (
        SELECT doc_id, lang,
               CASE
                 WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
                 WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
                 WHEN score_es >= score_fr THEN 'es'
                 ELSE 'fr'
               END AS pred_lang
        FROM scores
    )
    SELECT lang, pred_lang, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc
    FROM pred
    GROUP BY lang, pred_lang
    ORDER BY lang, pred_lang
    """,
    tags=("text", "langid", "audit", "llm-pipeline"),
)
def text_lang_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-label audit: confusion matrix between the corpus's declared
    `lang` column and the heuristic language ID — the standard check a data
    pipeline runs on incoming labeled corpora before trusting either signal
    (each cell keeps a min-id example doc for inspection). Map-only scoring
    followed by one small groupBy — the confusion matrix is |langs|² rows
    at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def count_hits(ws: list[str]) -> F.Column:
        arr = F.array(*[F.lit(w) for w in ws])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = {lang: count_hits(ws) for lang, ws in LANG_STOPWORDS.items()}
    s = d.select(
        "doc_id", "lang", *[c.alias(f"score_{lang}") for lang, c in scores.items()]
    )
    e, g, p, f_ = (
        F.col("score_en"),
        F.col("score_de"),
        F.col("score_es"),
        F.col("score_fr"),
    )
    pred = (
        F.when((e >= g) & (e >= p) & (e >= f_), "en")
        .when((g >= p) & (g >= f_), "de")
        .when(p >= f_, "es")
        .otherwise("fr")
    )
    return (
        s.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("example_doc"),
        )
        .orderBy("lang", "pred_lang")
    )


@query(
    "text_unigram_nll",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    total AS (SELECT SUM(c) AS tot FROM freq),
    scored AS (
        SELECT t.doc_id,
               CAST(-ln(CAST(f.c AS DOUBLE) / total.tot) AS DECIMAL(18,8)) AS nll
        FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN total
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "quality", "perplexity", "llm-pipeline"),
)
def text_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: train token probabilities on the
    corpus itself, then score every document by its mean negative
    log-likelihood — the perplexity-based quality signal (KenLM stand-in;
    swap the unigram table for n-gram counts and the shape is unchanged).
    High avg_nll = rare-token-heavy documents (gibberish, codes, boilerplate
    in other scripts) — the standard complement to rule-based filters.

    Determinism: per-token NLL is quantized to DECIMAL(18,8) before the
    per-doc sum, so addition is order-independent; the final division is
    one double op. Scale shape: freq is vocabulary-sized → broadcast back
    into the token stream; one (doc) aggregate with map-side combine; total
    is a scalar broadcast."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).persist()
    total = freq.agg(F.sum("c").alias("tot"))
    nll = (-F.log(F.col("c").cast("double") / F.col("tot"))).cast("decimal(18,8)")
    scored = (
        toks.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", nll.alias("nll"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_nll"
            ),
        )
        .orderBy("doc_id")
    )


def compression_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DEFLATE detail per document (deflate_bytes, compression_ratio,
    flag_repetitive) — the production output of the compressibility filter;
    `text_compression_ratio` wraps this with the derived-oracle projection.
    Arrow-batched `mapInPandas`, embarrassingly parallel, no shuffle."""
    import pandas as _pd
    import zlib as _zlib
    from collections.abc import Iterator as _Iterator

    from pyspark.sql.types import (
        DoubleType as _D,
        LongType as _L,
        StructField as _F,
        StructType as _S,
    )

    schema = _S([
        _F("doc_id", _L()),
        _F("raw_bytes", _L()),
        _F("deflate_bytes", _L()),
        _F("compression_ratio", _D()),
        _F("flag_repetitive", _L()),
    ])

    def process(batches: _Iterator[_pd.DataFrame]) -> _Iterator[_pd.DataFrame]:
        for pdf in batches:
            raw = pdf["text"].map(lambda t: t.encode("utf-8"))
            comp = raw.map(lambda b: len(_zlib.compress(b, 6)))
            rawlen = raw.map(len)
            ratio = comp / rawlen
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "raw_bytes": rawlen.astype("int64"),
                    "deflate_bytes": comp.astype("int64"),
                    "compression_ratio": ratio.astype("float64"),
                    "flag_repetitive": (ratio < 0.35).astype("int64"),
                }
            )

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "text").mapInPandas(process, schema)


@query(
    "text_compression_ratio",
    """
    SELECT doc_id,
           strlen(text) AS raw_bytes,
           CAST(1 AS INTEGER) AS within_bound
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text", "quality", "compression", "llm-pipeline"),
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressibility as a quality signal — DEFLATE ratio per document
    (compressed/raw bytes): the cheap entropy proxy production corpus
    filters use to catch boilerplate and template spam that token-level
    heuristics miss (highly compressible ⇒ repetitive). zlib level 6 with
    fixed settings is bit-deterministic, so the scores are replay-stable.
    DuckDB has no DEFLATE function, so the row carries a DERIVED oracle
    (round 12, the `sort_within_partitions` pattern): `within_bound` is 1
    iff the measured deflate size respects zlib's published envelope —
    above the format floor (DEFLATE's maximum ratio is 1032:1 for the
    window+Huffman limit, plus the 2-byte zlib header and 4-byte adler32,
    zlib.h) and below `compressBound` (raw + raw>>12 + raw>>14 + raw>>25 +
    13 + 6). The hashed payload is the exact UTF-8 byte length (DuckDB
    `strlen`) plus the flag; the full ratio detail lives in
    `compression_detail` above, invariant-pinned in tests/test_operators.py.
    Arrow-batched `mapInPandas`, embarrassingly parallel, no shuffle."""
    detail = compression_detail(spark, sf_dir)
    raw = F.col("raw_bytes")
    comp = F.col("deflate_bytes")
    upper = (
        raw
        + F.shiftright(raw, 12)
        + F.shiftright(raw, 14)
        + F.shiftright(raw, 25)
        + F.lit(19)
    )
    lower = F.greatest(F.floor(raw / F.lit(1032)) + F.lit(7), F.lit(8))
    return detail.select(
        "doc_id",
        "raw_bytes",
        ((comp >= lower) & (comp <= upper)).cast("int").alias("within_bound"),
    ).orderBy("doc_id")


@query(
    "text_source_vocab_overlap",
    """
    WITH vocab AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM vocab GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
        FROM vocab a JOIN vocab b
          ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b,
           CAST(za.n AS BIGINT) AS vocab_a,
           CAST(zb.n AS BIGINT) AS vocab_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           CAST(i.n_common AS BIGINT) / (za.n + zb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes za ON za.source = i.src_a
    JOIN sizes zb ON zb.source = i.src_b
    ORDER BY src_a, src_b
    """,
    tags=("text", "vocabulary", "mixture", "llm-pipeline"),
)
def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap matrix — pairwise Jaccard of each
    source's token vocabulary: the mixture-design diagnostic that shows
    which corpus sources are lexically redundant (high overlap → adding
    both buys little diversity) before committing mixture weights. One
    token-key shuffle joins the per-source vocabularies (the token stream
    is |vocab|·|sources| rows, not corpus-sized, because DISTINCT runs
    first); the output is a |sources|² matrix — tiny at any scale. Exact
    integers until one Jaccard division per pair."""
    d = load_table(spark, sf_dir, "documents")
    vocab = d.select(
        "source", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).distinct()
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = vocab.select(F.col("source").alias("src_a"), "tok")
    b = vocab.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, ["tok"])
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("vocab_a"))
    zb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("vocab_b"))
    return (
        inter.join(F.broadcast(za), "src_a")
        .join(F.broadcast(zb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("vocab_a").cast("bigint").alias("vocab_a"),
            F.col("vocab_b").cast("bigint").alias("vocab_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            (
                F.col("n_common").cast("bigint")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


@query(
    "text_length_outliers_by_source",
    """
    WITH m AS (
        SELECT source,
               COUNT(*) AS n,
               CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS DOUBLE) AS sxx
        FROM documents GROUP BY source
    ),
    stats AS (
        SELECT source, n,
               sx / n AS mean_len,
               sqrt((sxx - sx * sx / n) / n) AS std_len
        FROM m
    )
    SELECT d.source,
           CAST(s.n AS BIGINT) AS n_docs,
           ROUND(s.mean_len, 9) AS mean_len,
           ROUND(s.std_len, 9) AS std_len,
           CAST(SUM(CASE WHEN abs(d.n_chars - s.mean_len) > 3 * s.std_len
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM documents d JOIN stats s USING (source)
    GROUP BY d.source, s.n, s.mean_len, s.std_len
    ORDER BY d.source
    """,
    tags=("text", "quality", "statistics", "llm-pipeline"),
)
def text_length_outliers_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-outlier screen — documents whose length sits more
    than 3σ from their OWN source's mean (a 5-char doc is normal in a
    chat source, broken in a book source): the per-population z-score
    data-quality check that a global length filter gets wrong. Moments
    accumulate as exact integer decimals (order-independent, map-side
    mergeable); the per-source (mean, σ) scalars broadcast back over the
    stream; the 3σ comparison runs on engine-identical doubles. Two
    source-key aggregates, one broadcast join — nothing fact-scaled
    crosses the wire twice."""
    d = load_table(spark, sf_dir, "documents")
    m = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("double").alias("sx"),
        F.sum((F.col("n_chars") * F.col("n_chars")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
    )
    nd = F.col("n").cast("double")
    stats = m.select(
        "source",
        "n",
        (F.col("sx") / nd).alias("mean_len"),
        F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / nd) / nd).alias("std_len"),
    )
    joined = d.join(F.broadcast(stats), "source")
    return (
        joined.groupBy("source", "n", "mean_len", "std_len")
        .agg(
            F.sum(
                (
                    F.abs(F.col("n_chars") - F.col("mean_len"))
                    > 3 * F.col("std_len")
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            F.round("mean_len", 9).alias("mean_len"),
            F.round("std_len", 9).alias("std_len"),
            "n_outliers",
        )
        .orderBy("source")
    )


# The merge table text_bpe_tokenize trains at sf0.01, pinned as a literal
# so the DuckDB oracle can REPLAY the greedy apply stage (merge TRAINING is
# iterative argmax — not SQL — so the oracle instead verifies that the
# runtime-trained merges equal this table AND that every document
# tokenizes identically under them; tests/test_bpe.py re-trains at sf0.01
# and asserts equality, guarding fixture drift). Trained by:
#   word_counts(documents @ sf0.01) -> top 2000 (cnt desc, word asc)
#   -> train_merges(vocab, n_merges=60)
_BPE_MERGES_SF001: list[tuple[str, str]] = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"), ("o", "w"),
    ("ow", "</w>"), ("o", "r"), ("s", "t"), ("h", "</w>"), ("a", "t"),
    ("l", "u"), ("i", "n"), ("a", "</w>"), ("g", "</w>"), ("y", "</w>"),
    ("a", "r"), ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
    ("jo", "in</w>"), ("a", "s"), ("as", "h</w>"), ("h", "ash</w>"),
    ("r", "ow</w>"), ("at", "c"), ("atc", "h</w>"), ("b", "atch</w>"),
    ("a", "n</w>"), ("c", "an</w>"), ("s", "can</w>"), ("c", "o"),
    ("c", "u"), ("co", "lu"), ("colu", "m"), ("colum", "n</w>"),
    ("cu", "st"), ("cust", "o"), ("custo", "m"), ("custom", "er</w>"),
    ("f", "i"), ("fi", "l"), ("fil", "t"), ("filt", "er</w>"),
    ("a", "l"), ("al", "l"), ("all", "</w>"), ("m", "all</w>"),
    ("s", "mall</w>"), ("er", "g"), ("erg", "e</w>"), ("l", "ow</w>"),
    ("m", "erge</w>"), ("s", "low</w>"), ("c", "t"), ("ct", "or"),
    ("ctor", "</w>"), ("d", "er</w>"), ("e", "ctor</w>"),
    ("or", "der</w>"),
]


def _bpe_oracle_sql() -> str:
    """DuckDB oracle for text_bpe_tokenize: replay the pinned trained-merge
    table (see _BPE_MERGES_SF001) greedily over every distinct corpus word
    with functions.bpe.sql_merge_replay_ctes, then roll token counts up per
    document. Hash-matching proves BOTH that runtime training at sf0.01
    reproduces the pinned merges and that the map-only apply stage
    tokenizes every document exactly like the greedy reference."""
    from rtcdb_spark.functions.bpe import sql_merge_replay_ctes

    ctes, last = sql_merge_replay_ctes(_BPE_MERGES_SF001, src="uniq")
    return f"""
    WITH words AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents
    ),
    uniq AS (SELECT DISTINCT word FROM words),
    {ctes},
    tok AS (
        SELECT word,
               CAST(length(s) - length(replace(s, ' ', '')) AS BIGINT) - 1
                   AS n_tok
        FROM {last}
    ),
    per_doc AS (
        SELECT w.doc_id,
               SUM(t.n_tok) AS n_subword_tokens,
               COUNT(*) AS n_words,
               SUM(length(w.word)) AS n_word_chars
        FROM words w JOIN tok t USING (word)
        GROUP BY w.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_subword_tokens, 0) AS BIGINT) AS n_subword_tokens,
           CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(p.n_word_chars, 0) AS BIGINT) AS n_word_chars
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    ORDER BY d.doc_id
    """


@query(
    "text_bpe_tokenize",
    _bpe_oracle_sql(),
    tags=("text", "tokens", "bpe", "llm-pipeline"),
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-pair encoding end-to-end (functions.bpe; Sennrich et al.
    2016): ONE distributed aggregate builds the corpus word-frequency
    table; the top-2000 heavy hitters (deterministic count-desc/word-asc
    TakeOrderedAndProject) train 60 exact merges driver-side — bounded
    O(V·K) metadata work with lexicographic tie-breaks, so any
    partitioning yields identical merges; the merge list (KBs) then ships
    in a map-only Arrow-batched pandas UDF that tokenizes every document.
    Emits per-doc subword/word/char counts.

    Oracle (round 6, closing the r5 `no_oracle` window slot): merge
    training is iterative argmax — not SQL — but the trained table is a
    deterministic function of the corpus, so the sf0.01 result is PINNED
    as a literal (_BPE_MERGES_SF001, re-derived and asserted by
    tests/test_bpe.py) and DuckDB replays the greedy apply stage over it
    with a replace-chain proven bit-identical to `apply_merges` (space-
    doubling trick; see functions.bpe.sql_merge_replay_ctes). A hash match
    therefore verifies training determinism AND apply correctness. The
    pinned table is sf0.01-specific by construction — exactly the scale the
    driver's oracle comparison runs at; at other SFs the query trains its
    own merges as before."""
    from rtcdb_spark.functions.bpe import (
        tokenize_with_merges,
        train_merges,
        word_counts,
    )

    d = load_table(spark, sf_dir, "documents")
    vocab_df = (
        word_counts(d)
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(2000)  # bounded vocabulary: heavy hitters carry BPE training
    )
    vocab = [(r.word, r.cnt) for r in vocab_df.collect()]
    merges = train_merges(vocab, n_merges=60)
    return tokenize_with_merges(d, merges).orderBy("doc_id")


_WINNOW_K, _WINNOW_W = 8, 4


def _winnow_oracle() -> str:
    from rtcdb_spark.functions.text import sql_winnow_kgrams, sql_winnow_picks

    kg = sql_winnow_kgrams("text", _WINNOW_K)
    picks = sql_winnow_picks("hs", _WINNOW_W)
    return f"""
    WITH kg AS (SELECT doc_id, {kg} AS hs FROM documents),
    sel AS (SELECT doc_id, hs, {picks} AS picks FROM kg)
    SELECT doc_id,
           CAST(len(hs) AS BIGINT) AS n_kgrams,
           CAST(len(picks) AS BIGINT) AS n_fingerprints,
           CAST(list_sum(list_transform(picks,
                p -> hs[CAST(p AS INT)] % 1000000007)) AS BIGINT) AS fp_sum,
           list_min(list_transform(picks, p -> hs[CAST(p AS INT)])) AS min_fp,
           list_max(list_transform(picks, p -> hs[CAST(p AS INT)])) AS max_fp
    FROM sel ORDER BY doc_id
    """


@query(
    "text_winnow_fingerprints",
    _winnow_oracle(),
    tags=("text", "fingerprint", "winnowing", "dedup", "llm-pipeline"),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer–Wilkerson–Aiken
    SIGMOD'03 — the MOSS algorithm; round 6, the brief's 'document
    fingerprinting (rolling hash)' as the real published operator): char
    8-gram hashes → 4-windows each select their minimum with the paper's
    RIGHTMOST tie-break → adjacent duplicate selections collapse. The
    guarantee that makes it the plagiarism/near-copy filter of record:
    any shared substring of length ≥ w + k - 1 = 11 yields a shared
    fingerprint, at expected density 2/(w+1) of the k-grams. The k-gram
    hashing + window selection run as a vectorized NumPy kernel inside
    `mapInArrow` (`functions.winnow_np`): one batched single-block MD5
    pass per task — bit-identical to the column-expression formulation
    (`functions.text.winnow_select_expr`, kept and cross-checked by
    test), which Spark executes in the interpreted HOF evaluator at
    ~50x the CPU per k-gram. The kernel runs through `map_ordered`:
    the (doc_id, text) input is range-partitioned on doc_id across
    cores — one exchange of the text, at any corpus size — and the
    ordered output comes from a local sort, so the kernel runs once.
    The oracle replays the identical selection
    in DuckDB; per-doc fingerprint count, modular hash sum, and min/max
    must all hash-match, so one wrong tie-break or window boundary
    breaks the gate."""
    from rtcdb_spark.functions.dedup import map_ordered
    from rtcdb_spark.functions.winnow_np import OUT_DDL, winnow_stats_batches

    d = load_table(spark, sf_dir, "documents")
    return map_ordered(
        d.select("doc_id", "text"),
        "doc_id",
        lambda src: src.mapInArrow(winnow_stats_batches, OUT_DDL),
    )


_HTML_WRAP_SQL = (
    "'<html><head><title>doc ' || doc_id || '</title>"
    "<style>p{color:red}</style>"
    "<script>var x = \"1 < 2 && 3\";</script></head>"
    "<body><h1>Doc &amp; ' || doc_id || '</h1><p>' || substr(text, 1, 100) || "
    "'</p><!-- boilerplate --><p>' || substr(text, 101) || '</p></body></html>'"
)


@query(
    "text_html_extract",
    f"""
    WITH wrapped AS (
        SELECT doc_id, {_HTML_WRAP_SQL} AS html FROM documents
    ),
    extracted AS (
        SELECT doc_id, {_sql_html_to_text("html")} AS txt
        FROM wrapped
    )
    SELECT doc_id,
           md5(txt) AS content_md5,
           CAST(length(txt) AS BIGINT) AS n_chars,
           CAST(len(string_split(txt, ' ')) AS BIGINT) AS n_tokens
    FROM extracted
    ORDER BY doc_id
    """,
    tags=("text", "html", "extraction", "llm-pipeline"),
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> visible-text extraction, the conversion stage in front of
    every web-corpus pipeline (C4/CCNet run exactly this class of
    regex extractor at crawl scale). Each document is wrapped in a
    deterministic HTML frame — head/title, a style block, a script block
    whose payload contains '<' and '&&' (the classic half-strip trap), an
    entity-bearing headline, two paragraphs split mid-text, and a comment
    — then `functions.text.html_to_text` recovers the visible text with a
    pure regexp_replace chain (JVM codegen, zero UDFs). The oracle builds
    the IDENTICAL frame and runs the IDENTICAL chain in DuckDB
    (`sql_html_to_text`), and the md5 of every extracted document must
    hash-match — content equality, not just statistics. The extraction
    is a projection run through `map_ordered`: the (doc_id, text) input
    is range-partitioned on doc_id across cores, and the ordered output
    comes from a local sort, so the regexp chain runs core-parallel and
    exactly once (a global sort on top would re-evaluate the whole
    extraction to sample range boundaries)."""
    from rtcdb_spark.functions.dedup import map_ordered
    from rtcdb_spark.functions.text import html_to_text

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id"),
        F.lit(
            '</title><style>p{color:red}</style>'
            '<script>var x = "1 < 2 && 3";</script></head><body><h1>Doc &amp; '
        ),
        F.col("doc_id"),
        F.lit("</h1><p>"),
        F.substring("text", 1, 100),
        F.lit("</p><!-- boilerplate --><p>"),
        F.expr("substr(text, 101)"),
        F.lit("</p></body></html>"),
    )
    txt = html_to_text(html)
    return map_ordered(
        d,
        "doc_id",
        lambda src: src.select(
            "doc_id",
            F.md5(txt).alias("content_md5"),
            F.length(txt).cast("bigint").alias("n_chars"),
            F.size(F.split(txt, " ")).cast("bigint").alias("n_tokens"),
        ),
    )
