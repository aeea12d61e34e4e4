"""Text analysis: language-ID heuristic, quality scoring, token
counting, document fingerprinting.  All pure Column expressions —
codegen'd, no UDFs — so they run at scan speed over a 100 TB corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark.functions.sql import sql_ident as q
from data_pipeline_bigquery_spark.functions.text import (
    ascii_lower,
    ascii_lower_sql,
)

# marker-word profiles for the n-gram-ish language heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a"),
    "de": ("der", "und"),
    "fr": ("le", "et"),
}


def _marker_count(words: Column, markers: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))


def lang_id(
    df: DataFrame, id_col: str, text_col: str, truth_col: str | None = "lang"
) -> DataFrame:
    """Marker-word language scorer.  Deterministic argmax with fixed
    precedence (en > de > fr) on ties.  ``truth_col`` (the ground-truth
    label, for accuracy eval) is echoed through only when present in the
    input — generic inputs without it still work."""
    words = F.split(ascii_lower(F.col(text_col)), " ")
    scores = {lang: _marker_count(words, m) for lang, m in LANG_MARKERS.items()}
    predicted = (
        F.when((scores["en"] >= scores["de"]) & (scores["en"] >= scores["fr"]), "en")
        .when(scores["de"] >= scores["fr"], "de")
        .otherwise("fr")
    )
    cols = [F.col(id_col).alias("doc_id")]
    if truth_col is not None and truth_col in df.columns:
        cols.append(F.col(truth_col).alias("lang"))
    cols += [
        scores["en"].cast("int").alias("score_en"),
        scores["de"].cast("int").alias("score_de"),
        scores["fr"].cast("int").alias("score_fr"),
        predicted.alias("predicted_lang"),
    ]
    return df.select(*cols)


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Length / stopword-ratio / alpha-ratio quality features + a
    composite score — the standard cheap pre-filter before expensive
    dedup/training steps.

    Built as ONE parsed selectExpr (r14, guide §1.2): the Column form
    cost ~30 py4j round-trips per plan build (the lambda filter alone
    ~15); the strings parse to the same trees, duplicated per output
    column exactly as the reused Column objects were (whole-stage
    codegen CSEs the repeats either way)."""

    t = ascii_lower_sql(q(text_col))
    words = f"split({t}, ' ')"
    wc = f"size({words})"
    stop_cnt = (
        f"size(filter({words},"
        " w -> array_contains(array('the', 'a', 'and', 'of'), w)))"
    )
    alpha = f"length(regexp_replace({t}, '[^a-z]', ''))"
    tlen = f"length({t})"
    # rule 9: '' text has length 0 — ANSI Spark throws on the division
    # where the oracle returns NULL (degenerate-corpus sweep catch);
    # word_count can't be 0 (split('') is ['']) but gets the same guard
    stop_ratio = (
        f"(CAST({stop_cnt} AS DOUBLE)"
        f" / (CASE WHEN {wc} != 0 THEN CAST({wc} AS DOUBLE) END))"
    )
    alpha_ratio = (
        f"(CAST({alpha} AS DOUBLE)"
        f" / (CASE WHEN {tlen} != 0 THEN CAST({tlen} AS DOUBLE) END))"
    )
    return df.selectExpr(
        f"{q(id_col)} AS doc_id",
        f"CAST({tlen} AS BIGINT) AS text_len",
        f"CAST({wc} AS BIGINT) AS word_count",
        f"round({stop_ratio}, 6) AS stopword_ratio",
        f"round({alpha_ratio}, 6) AS alpha_ratio",
        f"round({stop_ratio} * 0.5D + {alpha_ratio} * 0.5D, 6) AS quality",
    )


def token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + a BPE-ish regex token count
    (letter-runs | digit-runs | single punctuation)."""
    t = ascii_lower(F.col(text_col))
    ws = F.size(F.split(t, " "))
    bpe = F.regexp_count(t, F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
    return df.select(
        F.col(id_col).alias("doc_id"),
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
    )


def rolling_hash_fingerprint(
    df: DataFrame, id_col: str, text_col: str, mod: int = 2_147_483_647
) -> DataFrame:
    """Polynomial rolling hash (Rabin-Karp, base 31) over the raw
    character stream — the order-SENSITIVE fingerprint (complementing
    :func:`doc_fingerprint`'s order-insensitive one).  The fold runs as
    a JVM higher-order ``aggregate``; the modulus keeps every
    intermediate in BIGINT range on any engine."""
    # fold hoisted to its own per-ROW projection: spliced inline it
    # lands inside the per-CHARACTER lambda and the O(len) translate
    # re-runs per character — quadratic in doc length
    h = F.expr(
        f"aggregate(transform(sequence(1, length(__t)), i -> ascii(substring(__t, i, 1))),"
        f" 0L, (acc, c) -> (acc * 31 + c) % {mod})"
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        ascii_lower(F.col(text_col)).alias("__t"),
    ).select(
        "doc_id",
        h.cast("long").alias("rolling_hash"),
        F.length("__t").cast("long").alias("n_chars"),
    )


def doc_fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct word set (robust to shuffling/duplication of words)."""
    words = F.split(ascii_lower(F.col(text_col)), " ")
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(words)))
    return df.select(
        F.col(id_col).alias("doc_id"),
        # NULL text fingerprints NULL — concat_ws would silently turn
        # the NULL word array into '' and stamp NULL docs with the
        # empty-string digest (degenerate-corpus sweep catch)
        F.when(F.col(text_col).isNotNull(), F.md5(canon)).alias(
            "fingerprint"
        ),
        F.size(F.array_distinct(words)).cast("long").alias("vocab_size"),
    )


def distinctive_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """Per-doc top-k distinctive terms — tf-idf-style corpus-weighted
    ranking, but ordered lexicographically by (tf DESC, df ASC, term
    ASC) instead of by the float product ``tf·ln(N/df)``: the integer
    ordering is engine-portable bit-for-bit, and for fixed tf it ranks
    exactly as idf would (idf is monotone-decreasing in df).

    Terms appearing in more than ``max_df_frac`` of docs are dropped
    before the join — the classic stopword cut, which here also removes
    precisely the join keys that would skew the token-keyed shuffle
    (corpus-scale stopwords are the hot keys).
    """
    tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(ascii_lower(F.col(text_col)), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("df").cast("double") <= F.col("n_docs").cast("double") * F.lit(max_df_frac)
        )
        .select("term", "df")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "rank")
    )


def corpus_ngram_stats(grams: DataFrame, top: int = 50) -> DataFrame:
    """Corpus-wide boilerplate detector: the ``top`` word n-grams by
    document frequency (input: distinct per-doc grams from
    :func:`~data_pipeline_bigquery_spark.extensions.dedup_text.word_ngrams`).
    One hash aggregate keyed by gram (map-side partials) then a global
    top-k (TakeOrderedAndProject — no full sort).  Ties at the cut are
    broken by gram text, so the emitted SET is deterministic."""
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("gram").asc())
        .limit(top)
    )
