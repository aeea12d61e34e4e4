"""Extension queries on the ``documents`` / ``embeddings`` fixtures.

Near-dup queries plant synthetic duplicates (each doc unioned with a
``doc_id + 1_000_000`` copy whose first 4 chars are dropped) so the
detectors have real positives to find at every scale factor — the
fixture corpus itself has no duplicate texts.  The oracle replays the
identical derivation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark.catalog import load
from data_pipeline_bigquery_spark.functions.text import (
    LOWER_TEXT_SQL,
    ascii_lower,
)
from data_pipeline_bigquery_spark.extensions.dedup_text import (
    char_shingles,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprint,
    word_ngrams,
)
from data_pipeline_bigquery_spark.extensions.clusters import connected_components
from data_pipeline_bigquery_spark.extensions.multimodal import (
    binary_metadata,
    extract_features,
    frame_sample,
    ppm_payload,
    resize_images,
    video_payload,
)
from data_pipeline_bigquery_spark.streaming.sessions import session_aggregate
from data_pipeline_bigquery_spark.extensions.similarity import (
    cell_bucketed_neardup_pairs,
    cosine_topk,
    ivf_topk,
)
from data_pipeline_bigquery_spark.extensions.text_analysis import (
    corpus_ngram_stats,
    distinctive_terms,
    doc_fingerprint,
    lang_id,
    quality_score,
    rolling_hash_fingerprint,
    token_count,
)
from data_pipeline_bigquery_spark.queries import QuerySpec

# id offset of planted copies in EVERY augmented fixture (near-dup text
# copies, exact-dup %5 unions, contamination benches, shifted embedding
# vectors).  Consumers that fold pair ids back to real rows
# (% AUG_ID_SHIFT in queries/analytics25.py) and every planting site
# MUST use this constant so the mapping can't silently fork.
AUG_ID_SHIFT = 1_000_000


def _augmented_docs(spark: SparkSession, sf_dir: str, max_doc: int | None = None) -> DataFrame:
    """documents ∪ planted near-dups (first 4 chars dropped, id+1M).

    Fixture scaffolding, not a production operator: real corpora aren't
    self-augmented, so the union's second scan exists only in the
    oracle fixture.  A single-scan explode variant was measured SLOWER
    cold (nested generator pipelines compile into bigger whole-stage
    methods: +2s janino on the minhash path), so the union stays."""
    docs = load(spark, sf_dir, "documents").select("doc_id", ascii_lower("text").alias("t"))
    if max_doc is not None:
        docs = docs.filter(F.col("doc_id") < max_doc)
    copies = docs.select(
        (F.col("doc_id") + AUG_ID_SHIFT).alias("doc_id"),
        F.expr("substring(t, 5)").alias("t"),
    )
    return docs.unionByName(copies)


_AUG_SQL = """
base AS (SELECT doc_id, translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS t FROM documents{filt}),
aug AS (SELECT doc_id, t FROM base
        UNION ALL
        SELECT doc_id + {shift}, substr(t, 5) FROM base)
"""


def _aug_cte(max_doc: int | None = None) -> str:
    filt = f" WHERE doc_id < {max_doc}" if max_doc is not None else ""
    return _AUG_SQL.format(filt=filt, shift=AUG_ID_SHIFT)


# --- exact dedup -------------------------------------------------------------

def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-digest groupBy; the aug corpus contains
    each base text once plus a (different) mutated copy, so groups with
    n_copies>1 are true byte-identical dups (none in the base corpus)."""
    docs = load(spark, sf_dir, "documents")
    both = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + AUG_ID_SHIFT).alias("doc_id"), "text"
        )
    )
    return exact_dedup(both, "doc_id", "text")


_DEDUP_EXACT_SQL = f"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {AUG_ID_SHIFT}, text FROM documents WHERE doc_id % 5 = 0)
SELECT md5(text) AS content_md5, min(doc_id) AS canonical_id, count(*) AS n_copies
FROM unioned GROUP BY md5(text)
"""


# --- minhash LSH -------------------------------------------------------------

def _aug_minhash_signatures(
    spark: SparkSession, sf_dir: str, max_doc: int | None = None
) -> DataFrame:
    """MinHash signatures of the AUGMENTED corpus with the planted-copy
    arm derived by slice-CSE instead of recomputed (r14 session 2,
    guide §1.2 "don't compute things you throw away" applied to the
    fixture scaffolding; same move as the association-edges same-table
    collapse).

    A planted copy's text is ``substring(t, 5)`` — a suffix — so its
    shingle stream is the base doc's stream minus the first 4 windows,
    and its md5 base-hash array is exactly ``slice(base_array, 5,
    size - 4)``.  The union path recomputed every copy md5 (half the
    md5 work) and re-ran every permutation pass over the copy's array
    (half the transform work).  Here each base doc computes its base
    array ONCE, each permutation runs ONCE per element — split into
    ``head`` (the 4 leading windows) and ``rest`` (the shared suffix) —
    and the two signature rows are assembled scalar-wise:

        copy sig_j = rest_j
        base sig_j = least(head_j, rest_j)     (min distributes)

    Guard: the suffix identity needs ``length(t) >= K + 4`` — below
    that the floor-to-one-shingle rule (``greatest(len - K + 1, 1)``)
    makes the copy's single shingle ``substring(t, 5, K)``, which is
    NOT a member of the base array; those docs take an exact
    short-form branch (also covers NULL/empty text: CASE on a NULL
    length falls to the short branch, md5(NULL) stays NULL, matching
    the union path's all-NULL signature row).  ``least``/``array_min``
    both skip NULLs, so the head/rest decomposition is NULL-exact.

    Signatures are bit-identical to ``minhash_signatures_from_docs``
    over ``_augmented_docs`` (pinned by tests/test_minhash_recall.py,
    incl. the short/NULL/empty edge corpus); only the expression tree
    changes.  Single documents scan instead of the union's two.
    """
    from data_pipeline_bigquery_spark.extensions.dedup_text import (
        DEFAULT_NUM_PERM,
        DEFAULT_SHINGLE_K,
        MINHASH_MOD,
        minhash_perm_multiplier,
        shingle_array_sql,
        spread_small_input,
    )

    K = DEFAULT_SHINGLE_K
    hash_wrap = "cast(conv(substring(md5({s}), 1, 7), 16, 10) as long)"
    base_arr = shingle_array_sql("__t", K, 1, elem_wrap=hash_wrap, prefolded=True)
    short_elem = hash_wrap.format(s=f"substring(__t, 5, {K})")
    copy_arr = (
        f"CASE WHEN length(__t) >= {K + 4} THEN slice(__base, 5, size(__base) - 4) "
        f"ELSE array({short_elem}) END"
    )
    head_arr = (
        f"CASE WHEN length(__t) >= {K + 4} THEN slice(__base, 1, 4) ELSE __base END"
    )
    rests = [
        f"array_min(transform(__copy, h ->"
        f" ({minhash_perm_multiplier(j)} * h + {j}) % {MINHASH_MOD})) AS rest_{j}"
        for j in range(DEFAULT_NUM_PERM)
    ]
    heads = [
        f"array_min(transform(__head, h ->"
        f" ({minhash_perm_multiplier(j)} * h + {j}) % {MINHASH_MOD})) AS head_{j}"
        for j in range(DEFAULT_NUM_PERM)
    ]
    base_fields = ", ".join(
        f"'sig_{j}', CASE WHEN __long THEN least(head_{j}, rest_{j})"
        f" ELSE head_{j} END"
        for j in range(DEFAULT_NUM_PERM)
    )
    copy_fields = ", ".join(f"'sig_{j}', rest_{j}" for j in range(DEFAULT_NUM_PERM))
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", ascii_lower("text").alias("t")
    )
    if max_doc is not None:
        docs = docs.filter(F.col("doc_id") < max_doc)
    # two-select split keeps __base / __copy / __head computed once
    # each (CollapseProject refuses to inline non-cheap producers with
    # multiple consumers — same contract minhash_signatures_from_docs
    # relies on, plan-asserted in tests)
    parts = (
        spread_small_input(docs, key="doc_id")
        .select(F.col("doc_id"), F.col("t").alias("__t"))
        .selectExpr("doc_id", "__t", f"{base_arr} AS __base")
        .selectExpr(
            "doc_id",
            f"length(__t) >= {K + 4} AS __long",
            f"{copy_arr} AS __copy",
            f"{head_arr} AS __head",
        )
        .selectExpr("doc_id", "__long", *rests, *heads)
    )
    rows = parts.select(
        F.expr(
            "explode(array("
            f"named_struct('doc_id', doc_id, 's', named_struct({base_fields})), "
            f"named_struct('doc_id', doc_id + {AUG_ID_SHIFT}, 's',"
            f" named_struct({copy_fields}))"
            ")) AS r"
        )
    )
    return rows.select(F.col("r.doc_id").alias("doc_id"), "r.s.*")


def _dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = _aug_minhash_signatures(spark, sf_dir)
    return lsh_candidate_pairs(sigs)


def minhash_lng_ctes(source: str) -> str:
    """The shingle → signature → band CTE chain (``sh``/``sig``/
    ``bands``/``lng``) over ``source``, a CTE/table exposing
    (doc_id, t) with t already lowercased — generated from the SAME
    tuning constants as the Spark path.  The ONE oracle-side generator
    of this arithmetic: the dedup pair/cluster oracles here and the
    ``dedup_signature_manifest`` oracle (analytics12) all call it, so
    the banding scheme can never fork between them."""
    from data_pipeline_bigquery_spark.extensions.dedup_text import (
        DEFAULT_BANDS as NB,
        DEFAULT_NUM_PERM as NP,
        DEFAULT_SHINGLE_K as K,
        DEFAULT_SHINGLE_STRIDE as STRIDE,
        MINHASH_MOD as MOD,
        minhash_perm_multiplier,
    )

    rows = NP // NB
    sigs = ",\n               ".join(
        f"min(({minhash_perm_multiplier(j)} * h + {j}) % {MOD}) AS s{j}" for j in range(NP)
    )
    return f"""sh AS (SELECT doc_id,
              CAST(('0x' || substr(md5(substr(t, CAST(i AS INT), {K})), 1, 7)) AS BIGINT) AS h
       FROM {source}, UNNEST(range(1, greatest(length(t) - {K - 1}, 1) + 1, {STRIDE})) AS u(i)),
sig AS (SELECT doc_id,
               {sigs}
        FROM sh GROUP BY doc_id),
{band_lng_ctes(NB)}"""


def band_lng_ctes(n_bands: int, prefix: str = "", sig_cte: str = "sig") -> str:
    """The banding half of :func:`minhash_lng_ctes` on its own —
    ``{prefix}bands`` / ``{prefix}lng`` CTEs over an existing signature
    CTE — so multi-config keys (``minhash_precision_by_band``) can band
    ONE ``sig`` several ways without duplicating the arithmetic.  With
    the defaults it emits exactly the CTEs :func:`minhash_lng_ctes`
    always emitted."""
    from data_pipeline_bigquery_spark.extensions.dedup_text import (
        DEFAULT_NUM_PERM as NP,
    )

    rows = NP // n_bands
    bands = ", ".join(
        "md5(concat_ws('_', "
        + ", ".join(f"s{j}" for j in range(b * rows, (b + 1) * rows))
        + f")) AS b{b}"
        for b in range(n_bands)
    )
    lng = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, b{b} AS band_hash FROM {prefix}bands"
        for b in range(n_bands)
    )
    return (
        f"{prefix}bands AS (SELECT doc_id, {bands} FROM {sig_cte}),\n"
        f"{prefix}lng AS ({lng})"
    )


def char_truth_ctes() -> str:
    """Ground-truth Jaccard in the detector's OWN similarity space —
    char-K shingles (K = ``DEFAULT_SHINGLE_K``, stride 1) over the
    ``aug`` CTE, ending in ``tj(doc_a, doc_b, j)``.  The ONE oracle-side
    generator of the truth block the minhash recall/precision
    calibration pair (analytics25/analytics26) both join against —
    the two keys must judge candidates against the SAME truth."""
    from data_pipeline_bigquery_spark.extensions.dedup_text import (
        DEFAULT_SHINGLE_K as K,
    )

    return f"""tsh AS (
  SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), {K}) AS gram
  FROM aug, UNNEST(range(1, greatest(len(t) - {K - 1}, 1) + 1)) AS u(i)),
tsizes AS (SELECT doc_id, count(*) AS n_grams FROM tsh GROUP BY doc_id),
tinter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM tsh a JOIN tsh b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
tj AS (
  SELECT doc_a, doc_b,
         CAST(n_inter AS DOUBLE)
         / CAST(sa.n_grams + sb.n_grams - n_inter AS DOUBLE) AS j
  FROM tinter
  JOIN tsizes sa ON sa.doc_id = doc_a
  JOIN tsizes sb ON sb.doc_id = doc_b)"""


def _minhash_ctes() -> str:
    """CTE chain ending in ``pairs`` — shared by the pair query and the
    cluster query's oracle.  Mirrors the Spark side's degenerate-bucket
    cap (``dedup_text.DEFAULT_MAX_BUCKET``): a bucket hotter than the
    cap is boilerplate, and BOTH engines must drop it or parity breaks
    the day a fixture grows one."""
    from data_pipeline_bigquery_spark.extensions.dedup_text import (
        DEFAULT_MAX_BUCKET,
    )

    return (
        _aug_cte()
        + ",\n"
        + minhash_lng_ctes("aug")
        + f""",
bucket_sizes AS (
  SELECT band_idx, band_hash, count(*) AS n_in_bucket
  FROM lng GROUP BY 1, 2),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM lng a
  JOIN lng b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
  JOIN bucket_sizes s
    ON a.band_idx = s.band_idx AND a.band_hash = s.band_hash
  WHERE s.n_in_bucket <= {DEFAULT_MAX_BUCKET})
"""
    )


def _minhash_sql() -> str:
    return "WITH " + _minhash_ctes() + "\nSELECT doc_a, doc_b FROM pairs"


# --- dedup clusters (connected components over LSH pairs) --------------------

def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair list → dedup groups: connected components by iterative
    min-label propagation with pointer jumping (extensions/clusters.py).
    The oracle computes the same component-min labels via transitive
    closure (recursive CTE) — exact match proves the iteration converged
    to the true components, not an approximation of them."""
    pairs = _dedup_minhash(spark, sf_dir)
    return connected_components(pairs)


_CLUSTER_CTES = """,
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT src AS node, dst AS peer FROM edges
  UNION
  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.peer),
comp AS (
  SELECT node AS doc_id, least(node, min(peer)) AS component
  FROM reach GROUP BY node)
"""


def _clusters_sql() -> str:
    return (
        "WITH RECURSIVE "
        + _minhash_ctes()
        + _CLUSTER_CTES
        + "SELECT doc_id, component FROM comp"
    )


def _dedup_near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup removal pass: pairs → components → drop every
    cluster member except the canonical (min id).  The kill-list is
    O(cluster members) rows — tiny next to the corpus — so the final
    subtraction is a broadcast-able anti-join; the corpus itself is
    scanned once and never shuffled."""
    aug = _augmented_docs(spark, sf_dir)
    comp = connected_components(_dedup_minhash(spark, sf_dir))
    kill = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    return (
        aug.join(F.broadcast(kill), "doc_id", "left_anti")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum(F.length("t")).alias("chars_kept"),
        )
    )


def _dedup_near_corpus_sql() -> str:
    return (
        "WITH RECURSIVE "
        + _minhash_ctes()
        + _CLUSTER_CTES
        + """
SELECT CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(length(t)) AS BIGINT) AS chars_kept
FROM aug WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id != component)
"""
    )


# --- keep-best-quality dedup policy ------------------------------------------

def _dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style retention policy: within each near-dup cluster
    keep the HIGHEST-QUALITY member, not the arbitrary min-id one.
    ``dedup_near_corpus`` answers "how much survives"; this answers
    "which copy survives" — the policy real curation pipelines apply
    (near-dups often differ by truncation or boilerplate, and the
    min-id copy may be the worst one).

    Quality is the same stopword/alpha composite as
    ``text_quality_score`` computed on the augmented corpus; the
    per-cluster argmax is a row_number window keyed on component —
    cluster-sized partitions, shuffled once on the component key.
    Ties break to the lower doc_id.  Output is one row per
    multi-member cluster (singletons are implicitly kept)."""
    aug = _augmented_docs(spark, sf_dir)
    comp = connected_components(_dedup_minhash(spark, sf_dir))
    # the ONE quality definition: text_analysis.quality_score (t is
    # already lowercase, lower() inside is idempotent)
    q = quality_score(aug, "doc_id", "t").select("doc_id", "quality")
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        comp.join(q, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("kept_doc"),
            F.max(F.when(F.col("rn") == 1, F.col("quality"))).alias(
                "kept_quality"
            ),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


def _keep_best_sql() -> str:
    return (
        "WITH RECURSIVE "
        + _minhash_ctes()
        + _CLUSTER_CTES
        + """,
q AS (
  SELECT doc_id,
         round(
           CAST(len(list_filter(string_split(t, ' '),
                    x -> list_contains(['the','a','and','of'], x))) AS DOUBLE)
             / CAST(len(string_split(t, ' ')) AS DOUBLE) * 0.5
           + CAST(length(regexp_replace(t, '[^a-z]', '', 'g')) AS DOUBLE)
             / CAST(length(t) AS DOUBLE) * 0.5, 6) AS quality
  FROM aug),
ranked AS (
  SELECT c.component, c.doc_id, q.quality,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY q.quality DESC, c.doc_id) AS rn
  FROM comp c JOIN q USING (doc_id))
SELECT component,
       max(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
       max(CASE WHEN rn = 1 THEN quality END) AS kept_quality,
       CAST(count(*) AS BIGINT) AS n_members
FROM ranked GROUP BY 1
"""
    )


# --- dedup cluster telemetry -------------------------------------------------

def _dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of near-dup cluster sizes — the curation telemetry
    that tells you whether dedup is trimming pairs (healthy) or
    collapsing half the corpus into one blob (a threshold bug).  One
    extra size-grain aggregate on top of the components output; the
    histogram is bounded by max cluster size."""
    comp = connected_components(_dedup_minhash(spark, sf_dir))
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


def _cluster_sizes_sql() -> str:
    return (
        "WITH RECURSIVE "
        + _minhash_ctes()
        + _CLUSTER_CTES
        + """,
sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY 1
"""
    )


# --- simhash -----------------------------------------------------------------

def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return simhash_fingerprint(docs, "doc_id", "text")


def _simhash_sql(bits: int = 16) -> str:
    sums = ",\n".join(
        f"sum(CASE WHEN strpos('0123456789abcdef', substr(h, {p + 1}, 1)) - 1 >= 8"
        f" THEN 1 ELSE -1 END) AS s_{p}"
        for p in range(bits)
    )
    fp = ", ".join(f"CASE WHEN s_{p} >= 0 THEN '1' ELSE '0' END" for p in range(bits))
    # the fold is spliced from the ONE shared helper (functions.text) so
    # it cannot drift from the Spark side or from _simhash_pairs_sql's
    # source-rewrite surgery
    return f"""
WITH toks AS (
  SELECT doc_id, md5(unnest(string_split({LOWER_TEXT_SQL}, ' '))) AS h FROM documents),
sums AS (SELECT doc_id, {sums} FROM toks GROUP BY doc_id)
SELECT doc_id, concat({fp}) AS simhash FROM sums
"""


# --- n-gram jaccard ----------------------------------------------------------

def _ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _augmented_docs(spark, sf_dir, max_doc=150)
    grams = word_ngrams(aug, "doc_id", "t")
    return ngram_jaccard_pairs(grams, threshold=0.5)


# shared gram/size/intersection CTE chain for the gram-overlap oracles
# (jaccard + containment) — ONE home, appended after the aug CTE
_GRAM_STATS_CTES = """,
w AS (SELECT doc_id, string_split(t, ' ') AS words FROM aug),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS gram
  FROM w, UNNEST(range(1, greatest(len(words) - 2, 1) + 1)) AS u(i)),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
"""


_JACCARD_SQL = (
    "WITH "
    + _aug_cte(max_doc=150)
    + _GRAM_STATS_CTES
    + """,
j AS (
  SELECT doc_a, doc_b,
         CAST(n_inter AS DOUBLE) / CAST(sa.n_grams + sb.n_grams - n_inter AS DOUBLE) AS jac
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b)
SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.5
"""
)


def _dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS (hamming ≤ 2) via the pigeonhole band
    bucketing in `extensions/dedup_text.py::simhash_hamming_pairs` —
    completes the SimHash family from fingerprints to retrieval.  The
    oracle is the NAIVE all-pairs hamming filter (DuckDB xor +
    bit_count over the same fingerprint SQL) — an independent
    formulation, feasible because the contract corpus is capped at
    300 docs; the Spark side is the bucketed scale path."""
    from data_pipeline_bigquery_spark.extensions.dedup_text import (
        simhash_hamming_pairs,
    )

    aug = _augmented_docs(spark, sf_dir, max_doc=150)
    return simhash_hamming_pairs(simhash_fingerprint(aug, "doc_id", "t"))


def _simhash_pairs_sql() -> str:
    # reuse the ONE shared augmentation CTE (`_aug_cte`) — its lowered
    # text column is `t`, so rewrite the fingerprint SQL's source refs
    inner = _simhash_sql()
    # _simhash_sql splices LOWER_TEXT_SQL itself, so this replace always
    # binds; the guard stays as a cheap backstop against a future rewrite
    # silently re-introducing a raw `text` reference the aug CTE lacks
    assert LOWER_TEXT_SQL in inner, "fold literal drifted from functions.text"
    inner = inner.replace(LOWER_TEXT_SQL, "t").replace(
        "FROM documents", "FROM aug"
    )
    return f"""
WITH {_aug_cte(max_doc=150)},
fp AS ({inner}),
v AS (SELECT doc_id,
             list_sum([CASE WHEN substr(simhash, i, 1) = '1'
                            THEN (CAST(1 AS BIGINT) << (16 - i))
                            ELSE 0 END
                       for i in generate_series(1, 16)]) AS v
      FROM fp)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.v, b.v)) AS INT) AS hamming
FROM v a JOIN v b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.v, b.v)) <= 2
"""


def _minhash_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH recall contract — the text-dedup twin of the ANN
    recall contracts: ground truth is the EXACT Jaccard pair set over
    the very shingle sets MinHash sketches (distinct char-12 shingles,
    the same `char_shingles` stream), pairs with true Jaccard ≥ 0.8 on
    the planted-near-dup corpus.  The contract's output IS that exact
    pair set, gated on the LSH pipeline's measured recall against it:
    below the 0.85 gate the output empties and the driver's row-count
    check goes red.  The DuckDB oracle recomputes the exact pair set
    entirely on its own (shingle CTE + gram self-join — it never sees
    signatures or bands), so a bug corrupting both Spark arms
    identically still hash-mismatches.

    Measured recall (16 perms × 2 bands, the production defaults):
    0.948 at sf0.01, so the banding geometry — not luck — carries the
    margin; the rows-per-band s-curve puts P(candidate) ≈ 0.89 at
    j=0.8 and ≈ 0.999 at j=0.95, and the planted pairs sit ≥ 0.9.
    The gate is integer arithmetic (hits·100 ≥ n·85): no float
    recall value exists to drift."""
    aug = _augmented_docs(spark, sf_dir, max_doc=150)
    # ONE materialized shingle derivation feeds both arms (min is
    # idempotent over the multiset; the truth arm distincts).  Merely
    # sharing the lazy subtree would NOT dedupe execution — the two
    # arms aggregate on different keys, so no exchange reuse applies —
    # hence the localCheckpoint: the explode runs once, and the corpus
    # here is capped at 300 docs by construction, so the materialized
    # stream is bounded.
    shingles = char_shingles(aug, "doc_id", "t").localCheckpoint(eager=False)
    grams = shingles.withColumnRenamed("shingle", "gram").distinct()
    truth = ngram_jaccard_pairs(grams, threshold=0.8)
    lsh = lsh_candidate_pairs(minhash_signatures(shingles))
    hits = truth.select("doc_a", "doc_b").join(
        lsh.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    gate = hits.agg(
        (
            F.sum(F.coalesce(F.col("hit"), F.lit(0))) * 100
            >= F.count(F.lit(1)) * 85
        ).alias("recall_ok")
    ).filter(F.col("recall_ok"))
    return truth.crossJoin(F.broadcast(gate)).select(
        "doc_a", "doc_b", "jaccard"
    )


_MINHASH_RECALL_SQL = (
    "WITH "
    + _aug_cte(max_doc=150)
    + """,
sh AS (
  SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 12) AS gram
  FROM aug, UNNEST(range(1, greatest(len(t) - 11, 1) + 1)) AS u(i)),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
j AS (
  SELECT doc_a, doc_b,
         CAST(n_inter AS DOUBLE)
         / CAST(sa.n_grams + sb.n_grams - n_inter AS DOUBLE) AS jac
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b)
SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.8
"""
)


def _dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs — the near-CONTAINMENT detector the
    symmetric measures miss: the planted copy (4 chars dropped) has
    almost its whole gram set inside its source, so containment(copy →
    source) ≈ 1 even where jaccard sits far below 1
    (`extensions/dedup_text.py::containment_pairs`)."""
    from data_pipeline_bigquery_spark.extensions.dedup_text import containment_pairs

    aug = _augmented_docs(spark, sf_dir, max_doc=150)
    grams = word_ngrams(aug, "doc_id", "t")
    return containment_pairs(grams, threshold=0.8)


_CONTAINMENT_SQL = (
    "WITH "
    + _aug_cte(max_doc=150)
    + _GRAM_STATS_CTES
    + """,
c AS (
  SELECT doc_a, doc_b,
         round(CAST(n_inter AS DOUBLE) / CAST(sa.n_grams AS DOUBLE), 6) AS containment_a_in_b,
         round(CAST(n_inter AS DOUBLE) / CAST(sb.n_grams AS DOUBLE), 6) AS containment_b_in_a
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b)
SELECT doc_a, doc_b, containment_a_in_b, containment_b_in_a
FROM c
WHERE containment_a_in_b >= 0.8 OR containment_b_in_a >= 0.8
"""
)


# --- embedding cosine near-dup ----------------------------------------------

def _embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture vectors are mutually dissimilar (max pairwise cosine
    ≈0.46 even within a label), so near-dups are planted: each vector
    unioned with a +0.01-per-dim shifted copy (cosine ≈0.999).
    Threshold 0.99 then separates planted from organic pairs.

    Runs the SCALABLE bucketed path (IVF-cell multi-probe bucketing, no
    O(n²) self-join); the oracle is the exact all-pairs SQL on the same
    capped slice, so the driver check proves bucketing loses no pair."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    shifted = emb.select(
        (F.col("vec_id") + AUG_ID_SHIFT).alias("vec_id"),
        F.expr("transform(embedding, x -> x + 0.01d)").alias("embedding"),
    )
    return cell_bucketed_neardup_pairs(
        emb.unionByName(shifted), threshold=0.99, nlist=16, nprobe=2
    )


_NEARDUP_SQL = f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 300),
e AS (SELECT vec_id, v FROM base
      UNION ALL
      SELECT vec_id + {AUG_ID_SHIFT}, list_transform(v, x -> x + 0.01) FROM base)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
             6) AS cosine_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
            6) >= 0.99
"""


# --- ANN: brute-force top-k --------------------------------------------------

def _ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk(queries, emb, k=5)


def _ann_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-facing default (`similarity_topk`): auto-routes exact
    brute force below AUTO_TOPK_BRUTE_MAX corpus rows, trained IVF
    above.  At fixture scale it takes the exact branch, so the
    brute-force SQL stays a hash-level oracle; the large branch is the
    recall-contract-checked IVF path."""
    from data_pipeline_bigquery_spark.extensions.similarity import similarity_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return similarity_topk(queries, emb, k=5)


_ANN_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))),
               6) AS cosine_sim
  FROM q JOIN e c ON c.vec_id != q.vec_id)
SELECT query_id, neighbor_id, cosine_sim FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rn
  FROM scored) WHERE rn <= 5
"""


# --- ANN: IVF scale path (non-SQL-expressible avg-centroid float path:
#     rows-only driver check) --------------------------------------------------

def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return ivf_topk(queries, emb, k=5, nprobe=2, auto_cells=10)


def _ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF machinery driven to exactness: ``nprobe == nlist`` probes
    every cell, so the candidate set is the full corpus and the exact
    rerank returns precisely the brute-force top-k — which makes the
    brute-force SQL (`_ANN_SQL`) a hash-level oracle for the whole IVF
    path (cell assignment, probe ranking, rerank).  The production
    configuration only lowers ``nprobe``; nothing else changes."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return ivf_topk(queries, emb, k=5, nprobe=10, auto_cells=10)


def _ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a LEARNED quantizer (sampled spherical k-means) instead
    of seed cells — the 100 TB path, where cells must track the data
    distribution.  Recall gated in tests/test_ann_recall.py.  The
    quantizer amortizes through the SHARED "ivfcent" artifact (same
    hyperparameters as the reuse contract ⇒ same centroids; pinned by
    test_ivf_trained_cache_matches_fresh_training)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    cents = _cached_centroids(spark, sf_dir)
    return ivf_topk(
        queries, emb, k=5, nprobe=2, centroids=cents,
        auto_cells=_CENT_PARAMS["nlist"],
        train_iters=_CENT_PARAMS["iters"],
    )


# the contract's training hyperparameters — ONE dict feeding both the
# trainer and the artifact-cache fingerprint, so a parameter change can
# never serve a stale artifact
_PQ_PARAMS = dict(nlist=10, m_subspaces=8, k_codes=16, train_iters=1, pq_iters=1)

#: test seam — overrides the default gitignored spark-warehouse cache dir
_PQ_CACHE_DIR: str | None = None

#: the coarse-quantizer hyperparameters SHARED by the reuse-centroids
#: and trained-IVF contracts (same ONE-dict rule as _PQ_PARAMS: the
#: dict feeds both the trainer and the cache key).  Identical
#: hyperparameters + the deterministic trainer ⇒ identical centroids,
#: so the two contracts share ONE cached artifact ("ivfcent") and a
#: cold fixture trains the quantizer once, not twice.
_CENT_PARAMS = dict(nlist=10, iters=2)


def _cached_centroids(spark: SparkSession, sf_dir: str):
    """The shared coarse quantizer via :func:`_cached_train`; returns a
    centroids DataFrame, or None → caller trains inline."""
    from data_pipeline_bigquery_spark.extensions.similarity import (
        train_ivf_centroids,
    )

    def build():
        emb = load(spark, sf_dir, "embeddings")
        return [
            (r.cell, list(r.centroid))
            for r in train_ivf_centroids(emb, **_CENT_PARAMS)
            .orderBy("cell")
            .collect()
        ]

    rows, ok = _cached_train(sf_dir, "ivfcent", _CENT_PARAMS, build)
    if not ok:
        return None
    return spark.createDataFrame(
        [(int(c), list(v)) for c, v in rows],
        "cell int, centroid array<double>",
    )


def _cached_train(sf_dir: str, tag: str, params: dict, build):
    """Offline-train / online-encode amortization shared by the ANN
    contracts (r10 VERDICT #6): a trained artifact (KBs of doubles)
    persists as JSON under the gitignored
    ``spark-warehouse/pq_artifact_cache/``, fingerprinted by the
    embeddings source's full file listing — (relpath, size, mtime_ns)
    of every file under the path, via the same
    ``catalog._listing_fingerprint`` the plan cache keys on — plus
    ``tag`` and the full parameter dict, so any fixture or parameter
    drift misses the cache and retrains.  (r11 ADVICE refused parquet
    *directories* because a top-level dir stat can miss in-place
    part-file rewrites; the per-file listing closes that hole, and the
    r13 sf1-probe adjudication showed the refusal itself was a cost:
    every sf1 ANN-contract run paid cold quantizer training because
    Spark-written sf1 tables are directories.)  JSON round-trips Python
    floats exactly (shortest-repr), and the inline trainers THEMSELVES
    round-trip the same floats through the driver, so cached and fresh
    runs build bit-identical literal expressions — proven per contract
    in tests/test_ann_recall.py.  ``build()`` must return a JSON-able
    payload; returns (payload, True) or, when the source can't be
    stat'd (missing/non-local layouts), (None, False) → caller trains
    inline."""
    import hashlib
    import json
    import os

    from data_pipeline_bigquery_spark.catalog import _listing_fingerprint

    src = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(src):
        return None, False
    listing = _listing_fingerprint(src)
    if listing == ("<missing>",) or not listing:
        return None, False
    fp = hashlib.md5(
        json.dumps(
            [os.path.abspath(src), listing, tag, sorted(params.items())]
        ).encode()
    ).hexdigest()
    cache_dir = _PQ_CACHE_DIR
    if cache_dir is None:
        here = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        cache_dir = os.path.join(here, "spark-warehouse", "pq_artifact_cache")
    path = os.path.join(cache_dir, f"{tag}-{fp}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh), True
    payload = build()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)  # atomic: concurrent runs see whole files
    return payload, True


def _pq_cached_artifacts(spark: SparkSession, sf_dir: str):
    """IVF-PQ trained artifacts via :func:`_cached_train`.  Returns
    ``(centroids DataFrame, codebooks dict)``, or (None, None) →
    inline training.  Equivalence pinned by
    tests/test_ann_recall.py::test_pq_cached_artifacts_match_fresh_training."""
    from data_pipeline_bigquery_spark.extensions.pq import (
        train_ivf_pq_artifacts,
    )

    def build():
        emb = load(spark, sf_dir, "embeddings")
        cent_rows, cb = train_ivf_pq_artifacts(emb, **_PQ_PARAMS)
        return {
            "centroids": cent_rows,
            "codebooks": [[mi, ki, v] for (mi, ki), v in sorted(cb.items())],
        }

    art, ok = _cached_train(sf_dir, "ivfpq", _PQ_PARAMS, build)
    if not ok:
        return None, None
    cent_rows = [(int(c), list(v)) for c, v in art["centroids"]]
    cb = {(int(mi), int(ki)): list(v) for mi, ki, v in art["codebooks"]}
    centroids = spark.createDataFrame(
        cent_rows, "cell int, centroid array<double>"
    )
    return centroids, cb


def _ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact re-ranking (extensions/pq.py): trained coarse
    quantizer → per-subspace residual codebooks → corpus encoded to 8
    small ints (64× compression) by a literal-codebook codegen
    projection → ADC candidate scoring on codes alone → exact cosine on
    the shortlist.  Recall gated vs brute force in
    tests/test_ann_recall.py.  Training amortizes across runs via
    :func:`_pq_cached_artifacts` (bit-identical results either way);
    the library path (``ivf_pq_topk`` with no injection) still trains
    inline and stays under test.

    Parameter scale rule (r10): the rerank SHORTLIST must grow with
    per-cell occupancy, not stay fixed — at sf0.1 (10× vectors per
    cell) the r9 rerank=6 shortlist held only 0.40 recall because ADC
    quantization error pushed true neighbors past position 30;
    rerank=32 restores 0.90 at BOTH sf0.01 and sf0.1 for free (the
    exact re-rank costs |queries|·rerank·k dot products — noise next
    to the corpus encode).  At lake scale size rerank so that
    rerank·k tracks ~1e-3 of the probed candidate count
    ((corpus/nlist)·nprobe)."""
    from data_pipeline_bigquery_spark.extensions.pq import ivf_pq_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    centroids, cb = _pq_cached_artifacts(spark, sf_dir)
    return ivf_pq_topk(
        queries, emb, k=5, nprobe=4, rerank=32,
        centroids=centroids, codebooks=cb, **_PQ_PARAMS,
    )


def _recall_contract(spark, sf_dir: str, approx: DataFrame, bound: float) -> DataFrame:
    """Corpus-level recall@k of ``approx`` vs the exact brute-force
    top-k, as a DuckDB-INDEPENDENT contract.

    The contract's output is the exact top-k pair set itself
    ``(query_id, neighbor_id, cosine_sim)``, gated on recall: if
    recall@k of ``approx`` against that exact set falls below
    ``bound``, the gate empties the output and the driver's row-count
    check goes red.  The DuckDB oracle (``_ANN_RECALL_SQL`` ==
    ``_ANN_SQL``) recomputes the exact neighbor set entirely on its own
    (``list_dot_product`` + ``row_number``), so a bug that corrupts the
    Spark exact arm — even one that corrupts the approximate arm
    identically — hash-mismatches against DuckDB's independently
    derived neighbors.  (Previously the oracle merely asserted a
    ``recall_ok`` boolean computed in the same Spark job; round-4
    VERDICT item #1.)  All ANN paths here are deterministic (pinned
    seeds/sampling/tie-breaks), so a locally-green bound is
    driver-green."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(queries, emb, k=5)
    hits = exact.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id").withColumn("hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    # 1-row broadcast gate (scalar-subquery pattern, as in coverage3):
    # present iff corpus recall >= bound, so the crossJoin is identity
    # on success and empties the contract on failure.
    gate = hits.agg(
        (
            F.sum(F.coalesce(F.col("hit"), F.lit(0))) >= F.count(F.lit(1)) * F.lit(bound)
        ).alias("recall_ok"),
    ).filter(F.col("recall_ok"))
    return exact.crossJoin(F.broadcast(gate)).select(
        "query_id", "neighbor_id", "cosine_sim"
    )


def _ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-quantizer IVF recall contract (measured 0.975 at sf0.001,
    0.925 at sf0.01; gate 0.8 — same as tests/test_ann_recall.py)."""
    return _recall_contract(spark, sf_dir, _ann_ivf(spark, sf_dir), 0.8)


def _ann_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-quantizer IVF recall contract (gate 0.7)."""
    return _recall_contract(spark, sf_dir, _ann_ivf_trained(spark, sf_dir), 0.7)


def _ann_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ + rerank recall contract (0.775 at sf0.01; gate 0.7)."""
    return _recall_contract(spark, sf_dir, _ann_ivf_pq(spark, sf_dir), 0.7)


def _ann_reuse_centroids_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for the AMORTIZED production path: offline
    ``train_ivf_centroids`` → ``similarity_topk(centroids=...)``, i.e.
    Arrow-matmul assignment + ``ivf_topk_preassigned`` probe/scan (the
    route the measured crossover economics recommend — PERFORMANCE.md
    "ANN crossover").  Deterministic: pinned seeds/tie-breaks; the
    Arrow argmax matches the fold form on this geometry (agreement
    test in tests/test_ann_recall.py).  Gate 0.7."""
    from data_pipeline_bigquery_spark.extensions.similarity import (
        similarity_topk,
        train_ivf_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    # the amortized path amortizes its own training too: the shared
    # "ivfcent" artifact (train_ivf_centroids already round-trips the
    # floats through the driver, so the JSON cache is bit-identical —
    # same argument as _pq_cached_artifacts, pinned by
    # test_reuse_centroids_cache_matches_fresh_training)
    cents = _cached_centroids(spark, sf_dir)
    if cents is None:
        cents = train_ivf_centroids(emb, **_CENT_PARAMS)
    approx = similarity_topk(queries, emb, k=5, centroids=cents, nprobe=3)
    return _recall_contract(spark, sf_dir, approx, 0.7)


def _ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH recall contract — the BUCKETED (training-
    free) ANN path next to the IVF family: map-side sign signatures,
    band collisions, exact rerank (`extensions/rhp_lsh.py`).  Measured
    recall@5 0.925 at sf0.001 / 0.875 at sf0.01 with the default
    24-bit × 3-bit-band geometry; gate 0.7."""
    from data_pipeline_bigquery_spark.extensions.rhp_lsh import rhp_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return _recall_contract(spark, sf_dir, rhp_topk(queries, emb, k=5), 0.7)


# The recall contracts share the brute-force oracle: DuckDB recomputes
# the exact cosine top-k neighbor set itself and the driver hash-compares
# it against the (recall-gated) Spark exact arm.  See _recall_contract.
_ANN_RECALL_SQL = _ANN_SQL


# --- text analysis -----------------------------------------------------------

def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(load(spark, sf_dir, "documents"), "doc_id", "text")


_LANG_SQL = """
WITH w AS (SELECT doc_id, lang, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS words FROM documents),
s AS (SELECT doc_id, lang,
             CAST(len(list_filter(words, x -> list_contains(['the','a'], x))) AS INT) AS score_en,
             CAST(len(list_filter(words, x -> list_contains(['der','und'], x))) AS INT) AS score_de,
             CAST(len(list_filter(words, x -> list_contains(['le','et'], x))) AS INT) AS score_fr
      FROM w)
SELECT doc_id, lang, score_en, score_de, score_fr,
       CASE WHEN score_en >= score_de AND score_en >= score_fr THEN 'en'
            WHEN score_de >= score_fr THEN 'de'
            ELSE 'fr' END AS predicted_lang
FROM s
"""


def _quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load(spark, sf_dir, "documents"), "doc_id", "text")


_QUALITY_SQL = """
WITH w AS (SELECT doc_id, translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS t, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS words
           FROM documents),
s AS (SELECT doc_id,
             CAST(length(t) AS BIGINT) AS text_len,
             CAST(len(words) AS BIGINT) AS word_count,
             CAST(len(list_filter(words, x -> list_contains(['the','a','and','of'], x))) AS DOUBLE)
               / CAST(len(words) AS DOUBLE) AS stop_ratio,
             CAST(length(regexp_replace(t, '[^a-z]', '', 'g')) AS DOUBLE)
               / CAST(length(t) AS DOUBLE) AS alpha_ratio
      FROM w)
SELECT doc_id, text_len, word_count,
       round(stop_ratio, 6) AS stopword_ratio,
       round(alpha_ratio, 6) AS alpha_ratio,
       round(stop_ratio * 0.5 + alpha_ratio * 0.5, 6) AS quality
FROM s
"""


def _token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_count(load(spark, sf_dir, "documents"), "doc_id", "text")


_TOKEN_SQL = """
SELECT doc_id,
       CAST(len(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
FROM documents
"""


def _fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprint(load(spark, sf_dir, "documents"), "doc_id", "text")


_FINGERPRINT_SQL = """
WITH w AS (SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS words FROM documents)
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(words)), ' ')) AS fingerprint,
       CAST(len(list_distinct(words)) AS BIGINT) AS vocab_size
FROM w
"""


def _rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rolling_hash_fingerprint(load(spark, sf_dir, "documents"), "doc_id", "text")


# fold hoisted into the CTE: spliced inline it sits inside the
# per-character lambda and the O(len) translate re-runs per character
# (the same quadratic the Spark twin hoists)
_ROLLING_HASH_SQL = f"""
WITH t AS (SELECT doc_id, text, {LOWER_TEXT_SQL} AS lt FROM documents)
-- NULL text hashes NULL (Spark's aggregate over a NULL sequence);
-- without the CASE, list_prepend folds the seed alone and stamps
-- NULL docs with hash 0
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL ELSE
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, length(lt) + 1),
                                  i -> CAST(ord(substr(lt, i, 1)) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 2147483647) END AS rolling_hash,
       CAST(length(lt) AS BIGINT) AS n_chars
FROM t
"""


def _distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf-style per-doc top terms; integer-lexicographic ranking
    (tf desc, df asc, term asc) so the oracle matches bit-for-bit."""
    return distinctive_terms(load(spark, sf_dir, "documents"), "doc_id", "text")


_DISTINCTIVE_TERMS_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS term FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term != '' GROUP BY doc_id, term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
  HAVING CAST(count(*) AS DOUBLE) <= (SELECT CAST(n_docs AS DOUBLE) * 0.5 FROM n)),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rank
  FROM tf JOIN dfreq USING (term))
SELECT doc_id, term, tf, df, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 3
"""


def _corpus_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate n-gram detector over the whole corpus."""
    grams = word_ngrams(load(spark, sf_dir, "documents"), "doc_id", "text")
    return corpus_ngram_stats(grams)


_CORPUS_NGRAMS_SQL = """
WITH w AS (SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS words
           FROM documents WHERE text IS NOT NULL),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(words[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS gram
  FROM w, UNNEST(range(1, greatest(len(words) - 2, 1) + 1)) AS u(i))
SELECT gram, count(*) AS df FROM grams GROUP BY gram
ORDER BY df DESC, gram ASC LIMIT 50
"""


# --- multimodal --------------------------------------------------------------

def _multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata: the text column stands in for an
    image/audio payload (encode → binary)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return binary_metadata(docs, "doc_id", "payload")


_MULTIMODAL_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS content_md5,
       CAST(ceil(octet_length(encode(text)) / 65536.0) AS INT) AS n_chunks
FROM documents
"""


def _multimodal_binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup: identical binary payloads collapse on the
    content digest — the digest-keyed groupBy shuffles 32-byte hashes,
    never the payloads (the shape that matters when a 'row' is a 4 MB
    image).  Planted duplicates: every 5th doc's payload re-appears
    under a shifted id."""
    docs = load(spark, sf_dir, "documents")
    both = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + AUG_ID_SHIFT).alias("doc_id"), "text"
        )
    )
    payloads = both.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return (
        payloads.select("doc_id", F.md5("payload").alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


_MM_DEDUP_SQL = f"""
WITH unioned AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {AUG_ID_SHIFT}, text FROM documents WHERE doc_id % 5 = 0)
SELECT md5(text) AS content_md5, min(doc_id) AS canonical_id, count(*) AS n_copies
FROM unioned GROUP BY md5(text)
"""


# ONE home for the multimodal payload geometry: the Spark queries below
# and the DuckDB oracle SQL generators both read these (plus
# FRAME_BYTE_STRIDE / sample_frame_indices imported from the kernel
# module), so a config change cannot desync oracle from kernel.
_MM_IMG_W, _MM_IMG_H = 32, 24  # still-image payload raster
_MM_OUT_W, _MM_OUT_H = 16, 16  # resize target
_MM_FEAT_DIM = 16  # feature chunks (== extensions.multimodal.FEATURE_DIM)
_MM_VID_W, _MM_VID_H = 16, 12  # video frame raster
_MM_VID_FRAMES = 6  # stored frames per clip
_MM_SAMPLE_FRAMES = 4  # sampled frames per clip


def _multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling over a real concatenated-P6 "video" per document
    (stored frames rastered from byte-shifted views of the text,
    synthesized JVM-side).  Every sampled frame is decoded with the
    pure-python PPM codec and re-digested; the DuckDB oracle rebuilds
    each sampled frame's exact bytes with VARCHAR slicing (the fixture
    text is pure ASCII, so char ops == byte ops) and must reproduce the
    python kernel's md5 — a hash-level cross-language check of the
    decode path."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        video_payload("text", _MM_VID_W, _MM_VID_H, n_frames=_MM_VID_FRAMES).alias(
            "payload"
        ),
    )
    return frame_sample(docs, "doc_id", "payload", n_frames=_MM_SAMPLE_FRAMES)


def _multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode→nearest-neighbor-resize→re-encode over mapInPandas; the
    input is a valid P6 image per document (JVM-synthesized), the
    pixel math is real (extensions/codecs.py).  The oracle gathers the
    same nearest-neighbor pixels by byte position in SQL and
    md5-verifies the re-encoded image the python kernel emitted."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", ppm_payload("text", _MM_IMG_W, _MM_IMG_H).alias("payload")
    )
    return resize_images(docs, "doc_id", "payload", width=_MM_OUT_W, height=_MM_OUT_H)


def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded raster → normalized float vector (model-inference shape).
    ``chunk_csv`` exposes the integer sufficient statistics (per-chunk
    byte sums of the decoded raster) the floats derive from — the oracle
    recomputes them per byte (``ord`` over a generate_series) so the
    python decode+aggregate path is hash-checked; the normalized
    vector's squared norm is 1 by construction."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", ppm_payload("text", _MM_IMG_W, _MM_IMG_H).alias("payload")
    )
    feats = extract_features(docs, "doc_id", "payload")
    return feats.select(
        "doc_id",
        F.concat_ws(",", F.col("chunk_sums").cast("array<string>")).alias("chunk_csv"),
        F.expr("round(aggregate(feature, 0.0D, (a, x) -> a + x * x), 3)").alias("sq_norm"),
    )


def _ppm_gather_sql(in_w: int, in_h: int, out_w: int, out_h: int) -> str:
    """DuckDB expression rebuilding the python kernel's resized P6 bytes
    from first principles: the same nearest-neighbor index arithmetic as
    ``codecs.resize_nearest``, as 1-based VARCHAR byte positions over
    the space-padded raster ``r``."""
    n = in_w * in_h * 3
    ys = [(y * in_h) // out_h for y in range(out_h)]
    xs = [(x * in_w) // out_w for x in range(out_w)]
    parts = [f"'P6' || chr(10) || '{out_w} {out_h}' || chr(10) || '255' || chr(10)"]
    for y in ys:
        for x in xs:
            parts.append(f"substr(r, {y * in_w * 3 + x * 3 + 1}, 3)")
    # flat variadic concat — a ||-chain of 257 terms exceeds DuckDB's
    # binder recursion depth (128)
    gather = "concat(" + ", ".join(parts) + ")"
    return (
        f"WITH base AS (SELECT doc_id, substr(regexp_replace(coalesce(text, ''), '[^\\x00-\\x7F]', '?', 'g') || repeat(' ', {n}), 1, {n}) AS r"
        " FROM documents)\n"
        f"SELECT doc_id, CAST({out_w} AS INT) AS width, CAST({out_h} AS INT) AS height,"
        f" CAST({13 + out_w * out_h * 3} AS INT) AS resized_bytes,"
        f" md5({gather}) AS resized_md5 FROM base"
    )


_MM_RESIZE_SQL = _ppm_gather_sql(_MM_IMG_W, _MM_IMG_H, _MM_OUT_W, _MM_OUT_H)


def _mm_feat_sql(w: int, h: int, dim: int) -> str:
    """Per-chunk byte sums of the ``w*h*3`` raster (``dim`` equal
    chunks), recomputed byte-by-byte: ``ord()`` over a generate_series
    join.  Geometry comes from the SAME constants the Spark query feeds
    ``ppm_payload`` — change one, both move."""
    n = w * h * 3
    assert n % dim == 0, "raster must split into equal chunks"
    chunk = n // dim
    return f"""
WITH base AS (
  SELECT doc_id, substr(regexp_replace(coalesce(text, ''), '[^\\x00-\\x7F]', '?', 'g') || repeat(' ', {n}), 1, {n}) AS r FROM documents),
bytes AS (
  SELECT doc_id, CAST((i - 1) // {chunk} AS INT) AS chunk, ord(substr(r, CAST(i AS INT), 1)) AS v
  FROM base, generate_series(1, {n}) AS s(i)),
chunks AS (
  SELECT doc_id, chunk, sum(v) AS sm FROM bytes GROUP BY doc_id, chunk)
SELECT doc_id,
       string_agg(CAST(sm AS VARCHAR), ',' ORDER BY chunk) AS chunk_csv,
       CAST(1.0 AS DOUBLE) AS sq_norm
FROM chunks GROUP BY doc_id
"""


def _mm_frames_sql(w: int, h: int, n_stored: int, n_sample: int) -> str:
    """Rebuild every SAMPLED frame's exact bytes in SQL: the pick list
    and byte stride are imported from the kernel module
    (``sample_frame_indices`` / ``FRAME_BYTE_STRIDE``), so kernel and
    oracle cannot desync on payload geometry.  ``frame_idx`` is the
    source frame index; each frame is a contiguous slice of the padded
    text, so the oracle slice IS the raster."""
    from data_pipeline_bigquery_spark.extensions.multimodal import (
        FRAME_BYTE_STRIDE,
        ppm_header,
        sample_frame_indices,
    )

    n = w * h * 3
    picks = sample_frame_indices(n_stored, n_sample)
    frame_bytes = len(ppm_header(w, h)) + n
    pad = max(picks) * FRAME_BYTE_STRIDE + n  # enough for the last sampled slice
    picks_sql = ", ".join(str(p) for p in picks)
    return f"""
WITH f AS (SELECT unnest([{picks_sql}]) AS frame_idx),
base AS (SELECT doc_id, regexp_replace(coalesce(text, ''), '[^\\x00-\\x7F]', '?', 'g') || repeat(' ', {pad}) AS padded FROM documents)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST({frame_bytes} AS INT) AS frame_bytes,
       md5('P6' || chr(10) || '{w} {h}' || chr(10) || '255' || chr(10)
           || substr(padded, 1 + frame_idx * {FRAME_BYTE_STRIDE}, {n})) AS frame_md5
FROM base CROSS JOIN f
"""


_MM_FEAT_SQL = _mm_feat_sql(_MM_IMG_W, _MM_IMG_H, _MM_FEAT_DIM)
_MM_FRAMES_SQL = _mm_frames_sql(_MM_VID_W, _MM_VID_H, _MM_VID_FRAMES, _MM_SAMPLE_FRAMES)


def _multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pillar: synthesize a valid PCM-u8 WAV per document
    (`wav_payload` — literal RIFF header + text-byte samples), decode
    it for real in the Arrow kernel (`codecs.decode_wav` RIFF chunk
    walk), and emit integer-exact windowed signal features.  The oracle
    rebuilds every sample byte from the text and recomputes energy,
    crossings, and the per-window energy digest."""
    from data_pipeline_bigquery_spark.extensions.multimodal import (
        audio_features,
        wav_payload,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", wav_payload("text").alias("payload")
    )
    return audio_features(docs, "doc_id", "payload")


def _mm_audio_sql(n: int, rate: int, window: int) -> str:
    """Sample-exact SQL reconstruction of the audio feature kernel:
    the padded text IS the sample stream (u8 PCM), so ``ord`` over a
    generate_series rebuilds each sample; geometry comes from the SAME
    constants `wav_payload`/`audio_features` use — change one, both
    move (the shared-constants rule of the image oracles)."""
    n_win = (n + window - 1) // window  # ceil: a partial tail window IS a window (the kernel matches)
    return f"""
WITH base AS (
  SELECT doc_id, substr(regexp_replace(coalesce(text, ''), '[^\\x00-\\x7F]', '?', 'g') || repeat(' ', {n}), 1, {n}) AS body FROM documents),
s AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS i, ord(substr(body, CAST(i AS INT), 1)) AS v
  FROM base, generate_series(1, {n}) AS g(i)),
e AS (
  SELECT doc_id, i // {window} AS w, sum(abs(v - 128)) AS ew
  FROM s GROUP BY 1, 2),
x AS (
  SELECT a.doc_id, count(*) AS crossings
  FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  WHERE (a.v < 128) != (b.v < 128) GROUP BY 1),
agg AS (
  SELECT doc_id,
         md5(string_agg(CAST(ew AS VARCHAR), ',' ORDER BY w)) AS energy_md5,
         sum(ew) AS total_energy
  FROM e GROUP BY 1)
SELECT agg.doc_id, CAST({rate} AS INT) AS rate, CAST({n} AS INT) AS n_samples,
       CAST({n_win} AS INT) AS n_windows,
       CAST(total_energy AS BIGINT) AS total_energy,
       CAST(coalesce(x.crossings, 0) AS BIGINT) AS crossings,
       energy_md5
FROM agg LEFT JOIN x USING (doc_id)
"""


def _mm_audio_sql_from_constants() -> str:
    from data_pipeline_bigquery_spark.extensions.multimodal import (
        AUDIO_N_SAMPLES,
        AUDIO_RATE,
        AUDIO_WINDOW,
    )

    return _mm_audio_sql(AUDIO_N_SAMPLES, AUDIO_RATE, AUDIO_WINDOW)


_MM_AUDIO_SQL = _mm_audio_sql_from_constants()


def _multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-codec pillar: P6 payload → real zlib-deflated PNG →
    pure-python PNG decode (CRC-checked chunk walk + unfiltering) →
    raster digest.  Closes the r8 'one compressed format honestly'
    ask: the oracle can't inflate zlib, but the decoded raster must
    hash back to the original bytes it CAN rebuild — so a defect in
    either the encoder or the decoder goes red."""
    from data_pipeline_bigquery_spark.extensions.multimodal import (
        png_roundtrip,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", ppm_payload("text", _MM_IMG_W, _MM_IMG_H).alias("payload")
    )
    return png_roundtrip(docs, "doc_id", "payload")


def _mm_png_sql(w: int, h: int) -> str:
    """The roundtrip oracle: decoded-PNG raster md5 == md5 of the
    space-padded text raster (the exact bytes `ppm_payload` rastered);
    geometry from the same shared constants as the other image keys."""
    n = w * h * 3
    return f"""
SELECT doc_id, CAST({w} AS INT) AS width, CAST({h} AS INT) AS height,
       md5(substr(regexp_replace(coalesce(text, ''), '[^\\x00-\\x7F]', '?', 'g') || repeat(' ', {n}), 1, {n})) AS raster_md5,
       TRUE AS roundtrip_ok
FROM documents
"""


_MM_PNG_SQL = _mm_png_sql(_MM_IMG_W, _MM_IMG_H)


def _multimodal_perceptual_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual media dedup: dHash fingerprints over the decoded
    rasters, grouped — images that LOOK alike share a hash even when
    bytes differ (the image-side MinHash;
    `extensions/multimodal.py::dhash_images`).  Output is the dedup
    group table: fingerprint, group size, canonical min doc_id."""
    from data_pipeline_bigquery_spark.extensions.multimodal import dhash_images

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", ppm_payload("text", _MM_IMG_W, _MM_IMG_H).alias("payload")
    )
    hashed = dhash_images(docs, "doc_id", "payload")
    return hashed.groupBy("dhash").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("canonical_id"),
    )


def _mm_dhash_sql(w: int, h: int) -> str:
    """Byte-exact SQL reconstruction of the dHash kernel: grayscale,
    nearest-resize sample points, 64 comparisons, hex assembly — every
    offset derived from the SAME geometry constants as the Spark
    query's `ppm_payload`, and the SAME nearest index arithmetic as
    `codecs.resize_nearest` (``(out_i * in) // out``)."""
    n = w * h * 3
    ys = [(r * h) // 8 for r in range(8)]
    xs = [(c * w) // 9 for c in range(9)]

    def gray(y: int, x: int) -> str:
        o = (y * w + x) * 3 + 1  # 1-based substr into the padded raster
        return (
            f"((ord(substr(t, {o}, 1)) + ord(substr(t, {o + 1}, 1))"
            f" + ord(substr(t, {o + 2}, 1))) // 3)"
        )

    byte_exprs = []
    for r in range(8):
        terms = [
            f"(CASE WHEN {gray(ys[r], xs[c + 1])} > {gray(ys[r], xs[c])}"
            f" THEN {1 << (7 - c)} ELSE 0 END)"
            for c in range(8)
        ]
        byte_exprs.append(
            "lpad(to_hex(" + " + ".join(terms) + "), 2, '0')"
        )
    dhash = "lower(" + " || ".join(byte_exprs) + ")"
    return f"""
WITH base AS (
  SELECT doc_id, substr(regexp_replace(coalesce(text, ''), '[^\\x00-\\x7F]', '?', 'g') || repeat(' ', {n}), 1, {n}) AS t FROM documents),
h AS (SELECT doc_id, {dhash} AS dhash FROM base)
SELECT dhash, count(*) AS n_docs, min(doc_id) AS canonical_id
FROM h GROUP BY dhash
"""


_MM_DHASH_SQL = _mm_dhash_sql(_MM_IMG_W, _MM_IMG_H)


# --- sessionization (events) -------------------------------------------------

def _sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions over the events table (30-min gap), rolled up
    one row per session.  Streaming twin: sessionize_stateful
    (applyInPandasWithState), tested in tests/test_sessions.py."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    return session_aggregate(ev, gap_minutes=30)


_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id, ts,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged)
SELECT user_id, session_idx, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_idx
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_exact": QuerySpec(_dedup_exact, _DEDUP_EXACT_SQL),
    "dedup_minhash_lsh": QuerySpec(_dedup_minhash, _minhash_sql()),
    "dedup_clusters": QuerySpec(_dedup_clusters, _clusters_sql()),
    "dedup_near_corpus": QuerySpec(_dedup_near_corpus, _dedup_near_corpus_sql()),
    "dedup_keep_best_quality": QuerySpec(_dedup_keep_best_quality, _keep_best_sql()),
    "dedup_cluster_sizes": QuerySpec(_dedup_cluster_sizes, _cluster_sizes_sql()),
    "dedup_simhash": QuerySpec(_dedup_simhash, _simhash_sql()),
    "dedup_ngram_jaccard": QuerySpec(_ngram_jaccard, _JACCARD_SQL),
    "dedup_containment": QuerySpec(_dedup_containment, _CONTAINMENT_SQL),
    "minhash_lsh_recall_contract": QuerySpec(
        _minhash_recall_contract, _MINHASH_RECALL_SQL
    ),
    "dedup_simhash_pairs": QuerySpec(_dedup_simhash_pairs, _simhash_pairs_sql()),
    "dedup_embedding_cosine": QuerySpec(_embedding_neardup, _NEARDUP_SQL),
    "ann_cosine_topk": QuerySpec(_ann_topk, _ANN_SQL),
    "ann_auto_topk": QuerySpec(_ann_auto_topk, _ANN_SQL),
    # the IVF family registers as oracle-hash-checked contracts: the
    # exact-configured path hash-matches brute force outright, and each
    # approximate configuration runs inside a recall contract (the
    # sketch-query pattern) — raw top-k output stays available via
    # extensions.similarity.ivf_topk / extensions.pq.ivf_pq_topk
    "ann_ivf_exact_topk": QuerySpec(_ann_ivf_exact, _ANN_SQL),
    "ann_ivf_recall_contract": QuerySpec(_ann_ivf_recall, _ANN_RECALL_SQL),
    "ann_ivf_trained_recall_contract": QuerySpec(_ann_ivf_trained_recall, _ANN_RECALL_SQL),
    "ann_ivf_pq_recall_contract": QuerySpec(_ann_ivf_pq_recall, _ANN_RECALL_SQL),
    "ann_reuse_centroids_contract": QuerySpec(_ann_reuse_centroids_recall, _ANN_RECALL_SQL),
    "ann_lsh_recall_contract": QuerySpec(_ann_lsh_recall, _ANN_RECALL_SQL),
    "text_lang_id": QuerySpec(_lang_id, _LANG_SQL),
    "text_quality_score": QuerySpec(_quality, _QUALITY_SQL),
    "text_token_count": QuerySpec(_token_count, _TOKEN_SQL),
    "text_fingerprint": QuerySpec(_fingerprint, _FINGERPRINT_SQL),
    "text_rolling_hash": QuerySpec(_rolling_hash, _ROLLING_HASH_SQL),
    "text_distinctive_terms": QuerySpec(_distinctive_terms, _DISTINCTIVE_TERMS_SQL),
    "corpus_ngram_stats": QuerySpec(_corpus_ngrams, _CORPUS_NGRAMS_SQL),
    "multimodal_metadata": QuerySpec(_multimodal_metadata, _MULTIMODAL_SQL),
    "multimodal_binary_dedup": QuerySpec(_multimodal_binary_dedup, _MM_DEDUP_SQL),
    "multimodal_frame_sample": QuerySpec(_multimodal_frames, _MM_FRAMES_SQL),
    "multimodal_resize": QuerySpec(_multimodal_resize, _MM_RESIZE_SQL),
    "multimodal_features": QuerySpec(_multimodal_features, _MM_FEAT_SQL),
    "multimodal_audio_features": QuerySpec(_multimodal_audio, _MM_AUDIO_SQL),
    "multimodal_perceptual_dedup": QuerySpec(_multimodal_perceptual_dedup, _MM_DHASH_SQL),
    "multimodal_png_roundtrip": QuerySpec(_multimodal_png, _MM_PNG_SQL),
    "sessionize_events": QuerySpec(_sessionize, _SESSIONIZE_SQL),
}
