"""Text deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

No reference analog (the reference dedups only on primary key,
``/root/reference/pipeline/functions/functions.py:91-106``); these are
the corpus-level operators a training-data pipeline needs.

Scale notes:

* Exact dedup is a hash-groupBy on ``md5(text)`` — one shuffle keyed by
  digest, never by the text itself (shuffle payload stays small).
* MinHash/LSH: shingle → per-doc signature (one groupBy) → band hash →
  self-join *on the band key only*.  Pair generation is bounded by
  bucket sizes, not corpus², which is the whole point at 100 TB.
* All RESULT-affecting hashing is md5-based (portable: the DuckDB
  oracle replays the identical pipeline); the one exception is the
  in-job LSH bucket key (``lsh_candidate_pairs``), which uses native
  ``xxhash64`` because the key never leaves the job — only bucket
  MEMBERSHIP matters, and the exported manifest form keeps md5.
  Case folding is ASCII-only (``functions/text.py``): engine
  ``lower()`` diverges on non-ASCII and can never hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark.functions.text import (
    ascii_lower,
    ascii_lower_sql,
)


def spread_small_input(df: DataFrame, key: str | None = None) -> DataFrame:
    """Row-amplifying ops (shingle explode: ~300× per doc) inherit the
    *input's* split count — a source compacted into one file runs the
    whole downstream on one task.  Repartition up to cluster parallelism
    before amplifying; keyed aggregations downstream are partitioning-
    insensitive, so results are unchanged.  (On a 100 TB lake inputs
    already carry many splits and this is a no-op.)

    Pass ``key`` (a unique id column) whenever one exists: a keyless
    ``repartition(n)`` is round-robin, and Spark first LOCALLY SORTS
    each input partition by the rows' full binary form so that retried
    map tasks reproduce the same row→partition assignment
    (``spark.sql.execution.sortBeforeRepartition``, SPARK-23207) — for
    payload-heavy corpus rows that sort is pure overhead.  Hash
    partitioning on a deterministic unique key needs no such sort (the
    assignment is already retry-stable) and spreads just as evenly.

    The split-count probe uses ``inputFiles()`` (a file listing, ~ms),
    NOT ``df.rdd.getNumPartitions()`` — the RDD conversion compiles the
    whole plan and costs ~1 s per query build.  Non-file sources (local
    relations in tests) return no files and are left untouched — they
    already parallelize to ``defaultParallelism``."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < target:
        if key is not None and key in df.columns:
            return df.repartition(target, F.col(key))
        return df.repartition(target)
    return df

# 16 permutations in 2 bands of 8 rows: P(false candidate) ≈ 2·J^8 — a
# pair with shingle-Jaccard 0.3 has ~1e-4 collision odds, so candidate
# volume stays near-linear even on a same-vocab corpus.  8 rows/band
# still detects true near-dups (J≈0.95 ⇒ ~0.66 per band, ~0.88 overall).
# Stride stays 1: strided shingling is phase-fragile (an edit that shifts
# the text by non-multiple-of-stride chars disjoints the shingle sets).
DEFAULT_NUM_PERM = 16
DEFAULT_BANDS = 2
# the degenerate-bucket cap shared by the Spark pair generators AND the
# oracle-side pair CTEs (queries/extensions._minhash_ctes) — ONE
# constant so the two sides can never disagree on what gets dropped
DEFAULT_MAX_BUCKET = 10_000
DEFAULT_SHINGLE_K = 12
DEFAULT_SHINGLE_STRIDE = 1


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups: one row per distinct text digest with the
    canonical (min) id and the duplicate count."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_array_sql(
    text_expr: str,
    k: int = DEFAULT_SHINGLE_K,
    stride: int = DEFAULT_SHINGLE_STRIDE,
    elem_wrap: str = "{s}",
    prefolded: bool = False,
) -> str:
    """THE shingle-window expression — the one Spark-side generator of
    the strided lowercased k-gram array (the oracle twin lives in the
    SQL CTE generators).  ``elem_wrap`` lets a caller map each shingle
    in the SAME fused lambda (the minhash base hash wraps with
    md5→conv), so every consumer — char_shingles' explode, the fused
    signature build, the calibration key's distinct-set form — shares
    one window arithmetic and cannot drift (r9 review finding).

    Case folds ASCII-only (``functions/text.py``): engine ``lower()``
    diverges on non-ASCII (İ/ς/ß probe) and would de-sync the shingle
    stream from the DuckDB oracle on any multilingual corpus.

    Pass ``prefolded=True`` when ``text_expr`` is already folded (or a
    projected column a caller folds once per ROW): an expression
    spliced here lands inside the transform lambda and re-evaluates
    PER ELEMENT — hoisting the fold measured 2× on the sf0.1
    signature build (round-10 session 2)."""
    t = text_expr if prefolded else ascii_lower_sql(text_expr)
    elem = elem_wrap.format(s=f"substring({t}, i, {k})")
    return (
        f"transform(sequence(1, greatest(length({t}) - {k - 1}, 1),"
        f" {stride}), i -> {elem})"
    )


def char_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = DEFAULT_SHINGLE_K,
    stride: int = DEFAULT_SHINGLE_STRIDE,
) -> DataFrame:
    """Strided character k-shingles of lowercased text (one row per
    shingle).  Stride>1 cuts shingle volume k/stride× with little recall
    loss on near-dup detection.  The ASCII fold is hoisted to a per-ROW
    projection (idempotent if the input is already folded) — folding
    inside the shingle lambda re-evaluates per element (2× measured)."""
    return (
        spread_small_input(df, key=id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            ascii_lower(F.col(text_col)).alias("__t"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(shingle_array_sql("__t", k, stride, prefolded=True))
            ).alias("shingle"),
        )
    )


# Affine-permutation minhash over a 28-bit md5-derived base hash:
#   base   = int(md5(shingle)[:7], 16)            (< 2^28)
#   perm_j = (A_j * base + j) mod (2^31 - 1)      (A_j < 2^31 ⇒ product < 2^59,
#                                                  no int64 overflow in any engine)
# One md5 per shingle instead of num_perm — the hash work drops num_perm×,
# and the min-aggregate runs over longs, not 32-char strings.
MINHASH_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
# the base hash as a SQL template over a shingle expression ``{s}``
MINHASH_BASE_HASH_SQL = "cast(conv(substring(md5({s}), 1, 7), 16, 10) as long)"


def minhash_perm_multiplier(j: int) -> int:
    """Fixed odd multipliers, engine-portable plain arithmetic."""
    return 1_103_515_245 + 24_691 * j * 2


def minhash_signatures(shingles: DataFrame, num_perm: int = DEFAULT_NUM_PERM) -> DataFrame:
    """Per-doc MinHash signature: ``sig_j = min(perm_j(base(shingle)))``.

    One hash-aggregate over the shingle stream; duplicates shingles need
    no pre-distinct (min is idempotent over a multiset).
    """
    # ONE parsed SQL string for all num_perm aggregates: each F.expr /
    # Column build is its own py4j round-trip (~0.25-0.9 ms measured),
    # so the signatures ride in a single struct() aggregate that a
    # trailing `.*` expands — Catalyst folds GetStructField over
    # CreateNamedStruct away, leaving the identical per-column
    # HashAggregate plan (r13 VERDICT ask #8, same consolidation as the
    # fused bench-path builder)
    base = F.expr(MINHASH_BASE_HASH_SQL.format(s="shingle") + " AS __h")
    with_base = shingles.select("doc_id", base)
    sig_sql = ", ".join(
        f"min(({minhash_perm_multiplier(j)} * __h + {j}) % {MINHASH_MOD}) AS sig_{j}"
        for j in range(num_perm)
    )
    return (
        with_base.groupBy("doc_id")
        .agg(F.expr(f"struct({sig_sql})").alias("__s"))
        .select("doc_id", "__s.*")
    )


def minhash_signatures_from_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = DEFAULT_NUM_PERM,
    k: int = DEFAULT_SHINGLE_K,
    stride: int = DEFAULT_SHINGLE_STRIDE,
) -> DataFrame:
    """Fused ``char_shingles`` → ``minhash_signatures``: the shingle
    stream never materializes as ROWS.  Each doc computes its base-hash
    array in one projection and takes ``array_min`` of each permutation
    — bit-identical signatures (same shingle expression, same affine
    arithmetic, min over the same multiset) with ZERO explode and ZERO
    signature shuffle (each doc is already one row).

    At 100 TB this removes the ~300×-row amplification between the scan
    and the first aggregate: the explode path shuffles nothing either
    (map-side partial min), but it pays explode row overhead plus a
    16-agg hash aggregate per shingle; here the whole signature is one
    codegen'd expression over a per-doc long array (peak memory = one
    doc's shingle count × 8 bytes per task, the same order the hash
    aggregate held).  The two-``select`` split keeps the md5 base array
    computed ONCE: CollapseProject refuses to inline a non-cheap
    producer referenced ``num_perm`` times (plan-asserted in
    tests/test_minhash_recall.py).

    NULL-text docs survive with all-NULL signatures on BOTH paths
    (``greatest`` ignores its NULL operand, so even a NULL text yields
    one NULL shingle; ``min`` and ``array_min`` both skip NULLs to the
    same result) — the two forms are row-for-row interchangeable,
    pinned by tests/test_minhash_recall.py."""
    base_arr = shingle_array_sql(
        "__t",
        k,
        stride,
        elem_wrap=MINHASH_BASE_HASH_SQL,
        prefolded=True,
    )
    # one selectExpr call instead of num_perm F.expr() Column builds:
    # each F.expr is its own py4j round-trip (~0.25-0.9 ms measured),
    # so the 128-permutation tree cost ~num_perm extra RTTs per plan
    # build; the parsed expressions — and the physical plan — are
    # identical either way (r13 plan-identity check)
    sigs = [
        f"array_min(transform(__base, h ->"
        f" ({minhash_perm_multiplier(j)} * h + {j}) % {MINHASH_MOD})) AS sig_{j}"
        for j in range(num_perm)
    ]
    # the fold is hoisted to its own per-ROW projection (idempotent on
    # already-folded inputs): spliced into base_arr it would land inside
    # the transform lambda and re-evaluate per shingle (2x measured)
    return (
        spread_small_input(df, key=id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            ascii_lower(F.col(text_col)).alias("__t"),
        )
        .select("doc_id", F.expr(f"{base_arr} AS __base"))
        .selectExpr("doc_id", *sigs)
    )


def banded_signatures(
    signatures: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(doc_id, band_idx, band_hash) rows from a signature table — the
    LSH banding step, exposed on its own so a signature MANIFEST can be
    exported for cross-corpus dedup (join a future corpus's bands
    against this table instead of re-deduping the union from scratch).
    """
    rows_per_band = num_perm // bands
    # single parsed array expression — same RTT-count rationale as
    # band_hashes below
    band_arr = ", ".join(
        "md5(concat_ws('_', "
        + ", ".join(
            f"cast(sig_{j} as string)"
            for j in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        + "))"
        for b in range(bands)
    )
    return signatures.select(
        "doc_id",
        F.posexplode(F.expr(f"array({band_arr})")).alias("band_idx", "band_hash"),
    )


def band_hashes(
    signatures: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """``(doc_id, band_idx, band_hash)`` — one row per (doc, band),
    keyed by ``xxhash64`` over the band's signature longs.  The ONE
    Spark-side generator of the banding arithmetic (mirror of the
    oracle's ``minhash_lng_ctes``), shared by candidate-pair
    generation and the bucket-skew diagnostic so the scheme can't
    fork."""
    rows_per_band = num_perm // bands
    # one parsed array expression: the per-band F.xxhash64(*F.col(...))
    # form paid (rows_per_band + 1) py4j round-trips PER BAND at plan
    # build; SQL xxhash64 uses the same default seed (42), so the
    # expression tree — and every band key — is bit-identical
    band_arr = ", ".join(
        "xxhash64("
        + ", ".join(
            f"sig_{j}" for j in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        + ")"
        for b in range(bands)
    )
    return signatures.select(
        "doc_id",
        F.posexplode(F.expr(f"array({band_arr})")).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Band the signature and bucket docs by band hash: docs agreeing on
    ALL rows of any band become candidate pairs (doc_a < doc_b).

    Implemented as ONE aggregation — group by ``(band_idx, band_hash)``,
    collect the (sorted) doc ids, emit in-bucket pairs with an array
    ``transform`` — instead of a band-keyed self-join.  A self-join
    evaluates the whole shingle→minhash subtree twice (the broadcast
    side can't reuse the shuffle exchange); the groupBy form computes it
    once and shuffles only ``signatures`` rows (#docs × #bands).

    ``max_bucket`` guards the quadratic blowup of a degenerate bucket
    (e.g. near-empty docs sharing one signature) at lake scale: buckets
    above the cap are dropped — a bucket that hot is boilerplate, not a
    near-dup cluster, and would contribute O(n²) junk pairs.

    Bucket keys here are ``xxhash64`` straight over the band's sig
    longs (JVM-native, no cast-to-string/concat/md5 — r9 VERDICT #5):
    the key never leaves the job, so portability doesn't apply and
    bucket membership is what matters (equality of the 8 sig values;
    a 2⁻⁶⁴ xxhash collision is the same risk class md5 had).  The
    EXPORTED manifest form (:func:`banded_signatures`) keeps the
    documented md5 string so cross-corpus joins stay engine-portable.
    """
    banded = band_hashes(signatures, num_perm=num_perm, bands=bands)
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    pairs = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids) - i - 1),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def simhash_fingerprint(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash over whitespace tokens: bit p of the fingerprint is the
    majority vote of bit p of each token's hash (top bit of the p-th
    md5 hex digit).  One explode + one hash-aggregate."""
    tokens = spread_small_input(df, key=id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(ascii_lower(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h", F.md5(F.col("tok")))
    sums = tokens.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.expr(f"instr('0123456789abcdef', substring(h, {p + 1}, 1)) - 1") >= 8,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"s_{p}")
            for p in range(bits)
        ]
    )
    fingerprint = F.concat(
        *[F.when(F.col(f"s_{p}") >= 0, F.lit("1")).otherwise(F.lit("0")) for p in range(bits)]
    )
    return sums.select("doc_id", fingerprint.alias("simhash"))


def simhash_hamming_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 2,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    bits: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``
    (over the ``bits``-wide fingerprints of
    :func:`simhash_fingerprint`), WITHOUT the all-pairs square: the
    pigeonhole band trick — split the ``bits`` into ``max_hamming +
    1`` bands (6/5/5 for the 16-bit default), so any pair within
    distance ``max_hamming`` agrees EXACTLY on at least one band —
    then bucket on (band_idx, band_value) exactly like MinHash LSH
    (one groupBy, in-bucket pair ``transform``, ``max_bucket`` guard)
    and keep pairs whose full ``bit_count(a XOR b)`` passes.  Spark's
    ``bit_count``/``^`` are whole-stage codegen; no UDF.

    Raising ``max_hamming`` automatically widens to the required band
    count (the guarantee is structural, never silent recall loss);
    wider fingerprints use the same plan up to 62 bits — beyond that
    ``conv``'s unsigned decimal overflows a signed long to NULL and
    every MSB-set doc would silently drop, so the parse must switch
    to a two-halves form first (guarded below)."""
    n_bands = max_hamming + 1
    if n_bands > bits:
        raise ValueError(f"need {n_bands} bands but only {bits} bits")
    if bits > 62:
        raise ValueError(
            "conv(binary, 2, 10) cast to long goes NULL above 62 bits "
            "(silent recall loss for MSB-set fingerprints); parse in two "
            "halves before using wider fingerprints"
        )
    base_w, extra = divmod(bits, n_bands)
    # band widths: first `extra` bands get one extra bit (6/5/5 at
    # 16 bits / 3 bands), carved most-significant-first by shifts
    widths = [base_w + (1 if i < extra else 0) for i in range(n_bands)]
    exprs, used = [], 0
    for w in widths:
        shift = bits - used - w
        exprs.append(F.expr(f"(v div {1 << shift}) % {1 << w}"))
        used += w
    fp = fingerprints.select(
        "doc_id", F.expr("cast(conv(simhash, 2, 10) as long)").alias("v")
    )
    banded = fp.select(
        "doc_id",
        "v",
        F.posexplode(F.array(*exprs)).alias("band_idx", "band_val"),
    )
    buckets = (
        banded.groupBy("band_idx", "band_val")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "v"))).alias("ms"))
        .filter((F.size("ms") > 1) & (F.size("ms") <= max_bucket))
    )
    pairs = F.expr(
        "flatten(transform(ms, (x, i) ->"
        " transform(slice(ms, i + 2, size(ms) - i - 1),"
        " y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b,"
        "             x.v AS va, y.v AS vb))))"
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", F.expr("bit_count(p.va ^ p.vb)").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def word_ngrams(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-grams per doc (for Jaccard).

    ``try_element_at``, NOT ``element_at``: a doc with fewer than n
    words indexes past its token array, which ANSI element_at THROWS
    on while the DuckDB oracle's list slice clamps — try_element_at's
    NULL is skipped by concat_ws, emitting the same clamped partial
    gram as the oracle (caught by the degenerate-window sweep; the
    fixtures never produce a <n-word doc, real corpora always do)."""
    # fold+split hoisted to a per-ROW projection: spliced inline the
    # O(len) split re-runs inside the per-gram lambda (n+1 times per
    # element) — see shingle_array_sql's prefolded note
    parts = ", ".join(f"try_element_at(__w, i + {d})" for d in range(n))
    expr = f"transform(sequence(1, greatest(size(__w) - {n - 1}, 1)), i -> concat_ws(' ', {parts}))"
    return (
        spread_small_input(df, key=id_col)
        # NULL text → NO grams, mirroring the oracle (its range() over a
        # NULL length yields no rows) — without this, concat_ws turns
        # the all-NULL gram into '' and every NULL-text doc becomes a
        # mutual duplicate of every empty-text doc on one engine only
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.split(ascii_lower(F.col(text_col)), " ").alias("__w"),
        )
        .select("doc_id", F.explode(F.expr(expr)).alias("gram"))
        .distinct()
    )


def _gram_pair_stats(grams: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """The one-exchange bucket pipeline shared by every gram-overlap
    measure: ``(doc_a, doc_b, n_inter, n_a, n_b)`` — intersections from
    in-bucket pair generation, per-doc set sizes from exploding the
    same buckets, ``max_bucket`` capping pathologically hot grams on
    the PAIR side only (sizes still count them)."""
    # NULL grams (a NULL-text doc's shingle) never intersect in the
    # oracle's equi-join (NULL != NULL), but a groupBy would bucket
    # them TOGETHER here — drop them so both engines agree that NULL
    # text shares nothing (degenerate-window sweep catch)
    grams = grams.filter(F.col("gram").isNotNull())
    buckets = grams.groupBy("gram").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    sizes = (
        buckets.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"))
    )
    pair_buckets = buckets.filter(F.size("ids") > 1)
    if max_bucket is not None:
        pair_buckets = pair_buckets.filter(F.size("ids") <= max_bucket)
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids) - i - 1),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    inter = (
        pair_buckets.select(F.explode(pair_expr).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("n_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def ngram_jaccard_pairs(
    grams: DataFrame, threshold: float = 0.5, max_bucket: int | None = None
) -> DataFrame:
    """Pairwise Jaccard over shared n-grams.

    Both ``|A∩B|`` and the per-doc set sizes derive from ONE
    ``groupBy(gram)`` bucket aggregation (:func:`_gram_pair_stats`) —
    the gram stream (a ~n× explode of the corpus) is derived once and
    both readers sit above the same exchange.  ``|A∪B| =
    |A|+|B|-|A∩B|``; Jaccard is an exact int/int division —
    engine-portable.  The static plan still prints one bucket subtree
    per reader, but AQE's runtime stage reuse collapses them onto one
    executed exchange (ReusedExchange ×4 in the final adaptive plan).

    ``max_bucket`` (optional, for lake scale) drops pathologically hot
    grams from PAIR generation only — a gram shared by 10⁶ docs is
    boilerplate contributing O(n²) junk pairs; sizes still count it.
    """
    stats = _gram_pair_stats(grams, max_bucket)
    return (
        stats.withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def containment_pairs(
    grams: DataFrame, threshold: float = 0.8, max_bucket: int | None = None
) -> DataFrame:
    """Asymmetric containment over shared n-grams: ``|A∩B| / |A|`` per
    direction — the measure that catches a document mostly CONTAINED
    in another (quotes, copies-with-additions, boilerplate wrappers),
    which symmetric Jaccard under-scores as the size gap grows (a doc
    fully inside one 10× larger scores jaccard ≈ 0.1 but containment
    1.0).

    Same one-exchange bucket machinery as :func:`ngram_jaccard_pairs`
    (shared :func:`_gram_pair_stats`); emits the pair once with both
    directions and keeps it when EITHER containment clears
    ``threshold``.  Exact int/int divisions — engine-portable."""
    stats = _gram_pair_stats(grams, max_bucket)
    cont_a = F.col("n_inter").cast("double") / F.col("n_a").cast("double")
    cont_b = F.col("n_inter").cast("double") / F.col("n_b").cast("double")
    return (
        stats.select(
            "doc_a",
            "doc_b",
            F.round(cont_a, 6).alias("containment_a_in_b"),
            F.round(cont_b, 6).alias("containment_b_in_a"),
        )
        .filter(
            (F.col("containment_a_in_b") >= threshold)
            | (F.col("containment_b_in_a") >= threshold)
        )
    )
