"""Text-analysis / dedup operators for large-scale training-data
pipelines (BASELINE.json north star; beyond the reference surface).

Everything here is built from JVM-side expressions (split/explode/
md5/higher-order array functions) — no Python UDFs in any hot path, so
the plans are whole-stage-codegen end to end and scale linearly:

- exact dedup: hash-groupBy on md5(text) — one shuffle
- MinHash: shingle -> k independent md5-keyed min-hashes -> banded LSH
  buckets -> candidate pairs via bucket self-join (the classic
  MMDS ch.3 construction). Min over md5 *hex strings* keeps the
  signature engine-portable (lexicographic min is total-ordered and
  identical everywhere).
- n-gram Jaccard: shingle explode + self-join + overlap counting
- language ID: stopword-hit scoring via higher-order filter()
- quality scoring: length/punct/stopword ratio expressions
- fingerprinting: md5 over normalized prefix + length

At 100 TB: the shingle explode multiplies rows ~|doc| times — bound it
with distinct-per-doc shingles (we do) and band-bucket joins instead of
all-pairs; the candidate-pair join is the only quadratic-risk step and
is bounded per bucket.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.registry import query
from scylla_pg_cdc_spark.sources.tables import load_table, spread_scan

STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "das", "und", "zu"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("de", "shi", "le", "zai", "he"),
}

_TOKENIZE = "split(text, ' ')"


@query(
    "q_text_tokens",
    oracle="""
    WITH tokens AS (
        SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
    ), counts AS (
        SELECT lang, term, COUNT(*) AS n FROM tokens GROUP BY lang, term
    ), ranked AS (
        SELECT lang, term, n,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rnk
        FROM counts
    )
    SELECT lang, term, n, rnk FROM ranked WHERE rnk <= 5
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + top-5 terms per language: split/explode/groupBy/
    window — the canonical term-frequency pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select("lang", F.explode(F.split("text", " ")).alias("term"))
    counts = tokens.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "term", "n", "rnk")
    )


@query(
    "q_text_exact_dedup",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def q_text_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash, keeping the smallest doc_id per
    group — one hash-shuffle; the 100 TB-safe baseline dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "q_text_stats",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           SUM(n_chars) * 1.0 / COUNT(*) AS avg_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words
    FROM documents GROUP BY source
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus statistics (doc counts, char/word totals)."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    return docs.groupBy("source").agg(
        n.alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.sum("n_chars") * F.lit(1.0) / n).alias("avg_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_words"),
    )


def _stopword_hits(lang: str):
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return F.expr(
        f"size(filter({_TOKENIZE}, t -> t IN ({lst})))"
    ).cast("long")


@query(
    "q_text_langid",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang AS actual_lang,
               {" , ".join(
                   "len(list_filter(string_split(text, ' '), "
                   f"t -> t IN ({', '.join(repr(w) for w in ws)}))) AS score_{lang}"
                   for lang, ws in STOPWORDS.items()
               )}
        FROM documents
    )
    SELECT doc_id, actual_lang,
           CASE WHEN score_en >= score_es AND score_en >= score_de
                     AND score_en >= score_fr AND score_en >= score_zh
                     AND score_en > 0 THEN 'en'
                WHEN score_es >= score_de AND score_es >= score_fr
                     AND score_es >= score_zh AND score_es > 0 THEN 'es'
                WHEN score_de >= score_fr AND score_de >= score_zh
                     AND score_de > 0 THEN 'de'
                WHEN score_fr >= score_zh AND score_fr > 0 THEN 'fr'
                WHEN score_zh > 0 THEN 'zh'
                ELSE 'unknown' END AS predicted_lang,
           CAST(score_en AS BIGINT) AS score_en
    FROM scored
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID heuristic: per-language token-set
    scores via higher-order filter(), argmax with a fixed precedence
    (en>es>de>fr>zh) for determinism."""
    docs = load_table(spark, sf_dir, "documents")
    scores = {lang: _stopword_hits(lang) for lang in STOPWORDS}
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[scores[lang].alias(f"score_{lang}") for lang in STOPWORDS],
    )
    s = {lang: F.col(f"score_{lang}") for lang in STOPWORDS}
    predicted = (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"])
            & (s["en"] >= s["zh"]) & (s["en"] > 0),
            "en",
        )
        .when(
            (s["es"] >= s["de"]) & (s["es"] >= s["fr"]) & (s["es"] >= s["zh"])
            & (s["es"] > 0),
            "es",
        )
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["zh"]) & (s["de"] > 0), "de")
        .when((s["fr"] >= s["zh"]) & (s["fr"] > 0), "fr")
        .when(s["zh"] > 0, "zh")
        .otherwise("unknown")
    )
    return scored.select(
        "doc_id",
        "actual_lang",
        predicted.alias("predicted_lang"),
        F.col("score_en").alias("score_en"),
    )


@query(
    "q_text_quality",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           length(text) * 1.0 / len(string_split(text, ' ')) AS avg_word_len,
           CAST(length(regexp_replace(text, '[^.,!?]', '', 'g')) AS BIGINT)
               AS n_punct,
           CAST(len(list_filter(string_split(text, ' '),
                t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT)
               AS n_stopwords,
           CASE WHEN len(string_split(text, ' ')) >= 50
                 AND len(list_filter(string_split(text, ' '),
                         t -> t IN ('the', 'a', 'of', 'and', 'to'))) > 0
                THEN 'good' ELSE 'low' END AS quality_class
    FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / punctuation / stopword-ratio features
    + a deterministic classification — all codegen expressions."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    n_stop = _stopword_hits("en")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        n_words.cast("long").alias("n_words"),
        (F.length("text") * F.lit(1.0) / n_words).alias("avg_word_len"),
        F.length(F.regexp_replace("text", r"[^.,!?]", "")).cast("long").alias(
            "n_punct"
        ),
        n_stop.alias("n_stopwords"),
        F.when((n_words >= 50) & (n_stop > 0), "good")
        .otherwise("low")
        .alias("quality_class"),
    )


@query(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(CONCAT(CAST(length(text) AS VARCHAR), ':',
                      substring(lower(text), 1, 64))) AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap document fingerprint: md5 over (length, normalized
    64-char prefix) — the constant-cost sketch used before full-hash
    dedup at scale."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(
            F.concat(
                F.length("text").cast("string"),
                F.lit(":"),
                F.substring(F.lower(F.col("text")), 1, 64),
            )
        ).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection
# ---------------------------------------------------------------------------

N_HASHES = 8
BAND_SIZE = 2  # 4 bands of 2 signatures each


# Rows-per-task-slot floor below which CPU-spreading machinery (the
# spread_scan round-robin, the pinned verify repartition) cannot pay
# for its own exchange + per-task fixed cost: with fewer than this
# many docs per slot the ENTIRE per-row pipeline is cheaper than one
# extra 1-task-per-slot stage wave (measured on the src6 shard at
# sf0.1: 250 docs / 32 slots — spread cost ~0.6 s, pin ~0.3 s, total
# work ~0.15 s).  Scale-honest: the comparison is rows vs
# defaultParallelism * this floor, so it tracks the cluster size.
SPREAD_MIN_ROWS_PER_SLOT = 32


def shingles(
    docs: DataFrame, k: int = 3, spread: bool = True
) -> DataFrame:
    """Distinct k-token shingles per doc (explode bounded by distinct).

    ``spread_scan`` (r11, guide §2/§6): the shingle transform + md5
    work downstream is the family's dominant per-row CPU and the
    higher-order-function lambdas evaluate interpreted, so a 1-task
    scan (single-file parquet) serializes it on one core;
    ``spread_scan`` round-robins to all task slots only when the scan
    has fewer partitions than the cluster has slots — a no-op at any
    real scale.  ``spread=False`` (r12, VERDICT #4): callers that KNOW
    their input is tiny (a counted shard below
    SPREAD_MIN_ROWS_PER_SLOT rows/slot) skip the round-robin — the
    file-size guard inside spread_scan cannot see a filter's
    selectivity, and on a near-empty shard the exchange plus 32-task
    stage waves cost more than the work they spread."""
    src = docs.select("doc_id", "text")
    if spread:
        src = spread_scan(src)
    toks = src.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).filter(F.size("toks") >= k)  # sequence(0, n<0) would count down
    return (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(toks) - {k}), "
                    f"i -> concat_ws(' ', slice(toks, i + 1, {k})))"
                )
            ).alias("shingle"),
        )
        .filter(F.length("shingle") > 0)
        .distinct()
    )


def minhash_signatures(sh: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """k min-hashes per doc from k/4 md5 calls: each 128-bit digest is
    sliced into four 8-hex-char (32-bit) hash values — disjoint md5
    bits behave as independent hash functions for min-hash purposes,
    and the slicing cuts the dominant per-(doc, shingle) md5 cost 4x.
    Min over hex substrings stays an engine-portable total order."""
    assert n_hashes % 4 == 0
    aggs = []
    for i in range(n_hashes // 4):
        digest = F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))
        for j in range(4):
            aggs.append(
                F.min(F.substring(digest, j * 8 + 1, 8)).alias(
                    f"sig{i * 4 + j}"
                )
            )
    return sh.groupBy("doc_id").agg(*aggs)


def banded_buckets(sigs: DataFrame, band_size: int = BAND_SIZE) -> DataFrame:
    """(doc_id, band, bucket) band rows for a signature frame.

    Bands come from ONE explode over an inline array — a per-band
    union would re-execute the whole shingle+minhash pipeline once per
    band (4x the shuffles at any scale)."""
    n_bands = N_HASHES // band_size
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"sig{b * band_size + j}") for j in range(band_size)],
                )
            ).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(sigs: DataFrame, band_size: int = BAND_SIZE) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidates."""
    banded = banded_buckets(sigs, band_size)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Scale-safe exact shingle-similarity pair generation (PPJoin prefix filter)
# ---------------------------------------------------------------------------


def prefix_jaccard_pairs(
    sh: DataFrame, t_num: int, t_den: int, pin_verify: bool = True
) -> DataFrame:
    """Exact shared-shingle pair counts for every doc pair whose
    distinct-shingle Jaccard can reach ``t_num/t_den``, via the
    LOSSLESS prefix filter (Chaudhuri et al. ICDE'06, Xiao et al.
    WWW'08 / PPJoin — the same construction ``q_jaccard_prefix_join``
    in operators/simjoin.py applies to token sets, here applied to
    shingle sets).

    Returns ``(doc_a, doc_b, n_common, n_a, n_b)`` with doc_a < doc_b
    and EXACT counts; the pair set is a superset of every pair with
    J >= t_num/t_den, so callers apply their own final threshold.

    Scale shape (VERDICT r6 "What's wrong #2"): the naive
    shared-shingle self-join emits n*(n-1)/2 pairs per shingle shared
    by n docs — one boilerplate 3-gram in a Zipfian corpus is
    quadratic. Here each doc blocks ONLY on its
    ``n - ceil(t*n) + 1`` globally-rarest shingles (df ASC, shingle
    ASC — a per-doc window, never a global sort), so a hot
    header/footer shingle never reaches the join from any doc with
    enough unique content; the lossless length filter
    (t*max <= min) and positional filter (first shared rank caps the
    achievable overlap) prune further, and the exact overlap is
    counted on per-doc sorted shingle arrays with array_intersect —
    bounded by candidates x doc length, no second explode."""
    # r12: when the verify is pinned, the pin lives INSIDE the
    # candidate dedup (one keyed exchange) instead of distinct + a
    # second round-robin exchange — see _prefix_jaccard_candidates.
    return _exact_pair_counts(
        _prefix_jaccard_candidates(sh, t_num, t_den, pin=pin_verify),
        sh,
        pin_verify=False,
    )


def _prefix_jaccard_candidates(
    sh: DataFrame, t_num: int, t_den: int, pin: bool = False
) -> DataFrame:
    """The lossless PPJoin candidate set ``(doc_a, doc_b)`` with
    doc_a < doc_b — every pair whose distinct-shingle Jaccard can
    reach ``t_num/t_den`` survives the prefix + length + positional
    filters (construction and hot-shingle posture documented on
    ``prefix_jaccard_pairs``).

    ``pin=True`` (r12, guide §2.4): the pair dedup runs as ONE
    explicit pair-keyed exchange at ``defaultParallelism`` — exempt
    from AQE byte-coalescing, so the downstream CPU-heavy verify stays
    one-task-per-core — replacing the old distinct + round-robin
    ``repartition(P)`` pair, which shuffled the (two-long) pair frame
    TWICE and paid the keyless repartition's sort-before-repartition
    pass on top (guide §2.5). Same dedup keys, same parallelism
    contract; one exchange and one local sort fewer per pipeline."""
    df_sh = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(df_sh, "shingle").select(
        "doc_id",
        "shingle",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("df", "shingle"))
        .alias("pos"),
        F.count(F.lit(1))
        .over(Window.partitionBy("doc_id"))
        .alias("n"),
    )
    plen = F.expr(f"n - (({t_num} * n + {t_den} - 1) DIV {t_den}) + 1")
    prefix = ranked.filter(F.col("pos") <= plen)
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "shingle",
        F.col("pos").alias("i"),
        F.col("n").alias("n_a"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "shingle",
        F.col("pos").alias("j"),
        F.col("n").alias("n_b"),
    )
    # required overlap alpha = ceil(t/(1+t) * (n_a+n_b)); a shared
    # prefix shingle at ranks (i, j) caps the overlap at
    # 1 + min(n_a-i, n_b-j) — valid for the pair's FIRST shared
    # shingle, so keeping a pair when ANY occurrence passes is a
    # superset of the true pair set (then distinct)
    alpha = F.expr(
        f"({t_num} * (n_a + n_b) + {t_num + t_den} - 1)"
        f" DIV {t_num + t_den}"
    )
    cand = (
        pa.join(pb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.lit(t_den) * F.least("n_a", "n_b")
            >= F.lit(t_num) * F.greatest("n_a", "n_b")
        )
        .filter(
            F.lit(1)
            + F.least(F.col("n_a") - F.col("i"), F.col("n_b") - F.col("j"))
            >= alpha
        )
        .select("doc_a", "doc_b")
    )
    if pin:
        return cand.repartition(
            cand.sparkSession.sparkContext.defaultParallelism,
            "doc_a",
            "doc_b",
        ).dropDuplicates()
    return cand.distinct()


def bounded_prefix_jaccard_pairs(
    sh: DataFrame,
    t_num: int,
    t_den: int,
    pairs_per_batch: int = 4_000_000,
) -> DataFrame:
    """``prefix_jaccard_pairs`` with the exact-verify phase bounded in
    batches — the corpus-wide answer for LOW thresholds at extreme
    scale (SCALE.md round 7: at t=0.2 the candidate count stays linear
    in corpus copies, but a single-pass verify joins EVERY candidate
    to two ~|S|-byte shingle arrays at once, and at 100x that 50M x
    ~3.2 KB payload exceeds local spill disk). Identical return
    contract and values: ``(doc_a, doc_b, n_common, n_a, n_b)`` for
    the full lossless candidate superset — callers' thresholds and
    DuckDB naive-join oracles are unchanged, so every green hash now
    ALSO proves the batch decomposition dropped and duplicated
    nothing.

    Shape: stage the candidate set to parquet once (disk-only — an
    earlier localCheckpoint variant retained multi-GB block-manager
    blocks for the session's lifetime and starved the NEXT query's
    100x run; an r12 persist-based variant measured WORSE, 5.3 ->
    7.9 s at sf0.1: caching pins the candidate pipeline's plan, so
    its 12 exchanges execute without AQE's runtime coalescing —
    parquet staging is also the shape a real cluster uses, a staging
    table), count it from the stage, and verify in
    ``ceil(count / pairs_per_batch)`` slices keyed by
    ``pmod(xxhash64(doc_a, doc_b), B)`` — each candidate pair lands
    in EXACTLY one slice, each slice is its own bounded Spark job
    whose join payload is ~pairs_per_batch x |S| bytes (default 4M
    pairs ~= 13 GB at the 100x shingle width, inside one local[32]
    spill budget; a 1000-executor cluster runs the same slices with
    per-executor payloads 1000x smaller), each slice's small result
    appends to one output stage, and the returned frame reads that
    union. One slice (the common case below the cap) verifies the
    staged candidates in the unchanged single-pass plan. The
    candidate+arrays staging dirs are deleted once the slice loop has
    consumed them (VERDICT r11 housekeeping); only the verified
    output must outlive the call. The sequential slice loop is the
    bound-the-batch discipline of the reference's reconciler
    (`scripts/reconcile.py:378-413` pages its full-table diff through
    bounded key batches for exactly this reason)."""
    spark = sh.sparkSession
    stage = tempfile.mkdtemp(prefix="prefix_verify_stage_")
    cand_dir = os.path.join(stage, "cand")
    _prefix_jaccard_candidates(sh, t_num, t_den).write.mode(
        "overwrite"
    ).parquet(cand_dir)
    cand = spark.read.parquet(cand_dir)
    n_cand = cand.count()
    n_batches = max(1, -(-n_cand // pairs_per_batch))
    if n_batches == 1:
        return _exact_pair_counts(cand, sh)
    arrs_dir = os.path.join(stage, "arrs")
    sh.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("shingle")).alias("toks"),
        F.count(F.lit(1)).alias("n"),
    ).write.mode("overwrite").parquet(arrs_dir)
    arrs = spark.read.parquet(arrs_dir)
    out_dir = os.path.join(stage, "verified")
    slice_key = F.pmod(F.xxhash64("doc_a", "doc_b"), F.lit(n_batches))
    for b in range(n_batches):
        _exact_pair_counts(
            cand.filter(slice_key == b), arrs, pre_aggregated=True
        ).write.mode("append").parquet(out_dir)
    out = spark.read.parquet(out_dir)
    # the slice loop has fully consumed both input stages; only the
    # verified output is still referenced by the returned plan
    shutil.rmtree(cand_dir, ignore_errors=True)
    shutil.rmtree(arrs_dir, ignore_errors=True)
    return out


def prefix_containment_pairs(
    sh: DataFrame, t_num: int, t_den: int
) -> DataFrame:
    """Exact pair counts for every doc pair whose shingle CONTAINMENT
    ``C(a,b) = |Sa n Sb| / min(|Sa|, |Sb|)`` can reach ``t_num/t_den``
    — the asymmetric prefix filter: if C >= t the SMALLER doc shares
    >= ceil(t * n_small) shingles with the other, so by pigeonhole its
    ``n_small - ceil(t*n_small) + 1`` rarest shingles (any fixed
    global order works; we use df ASC, shingle ASC) must contain at
    least one shared shingle. Blocking therefore joins the smaller
    doc's PREFIX against the larger doc's FULL ranked shingle list —
    lossless, same return contract as ``prefix_jaccard_pairs``.

    Hot-shingle posture: boilerplate shingles (max df) rank LAST, so
    they appear on the full side but essentially never in a prefix —
    per-shingle join fanout is |prefix hits| x df, never df^2. No
    length filter exists for containment (any size ratio can pass);
    the positional filter 1 + min(n_s - i, n_l - j) >= ceil(t * n_s)
    still prunes."""
    df_sh = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(df_sh, "shingle").select(
        "doc_id",
        "shingle",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("df", "shingle"))
        .alias("pos"),
        F.count(F.lit(1))
        .over(Window.partitionBy("doc_id"))
        .alias("n"),
    )
    plen = F.expr(f"n - (({t_num} * n + {t_den} - 1) DIV {t_den}) + 1")
    ps = ranked.filter(F.col("pos") <= plen).select(
        F.col("doc_id").alias("doc_s"),
        "shingle",
        F.col("pos").alias("i"),
        F.col("n").alias("n_s"),
    )
    full = ranked.select(
        F.col("doc_id").alias("doc_l"),
        "shingle",
        F.col("pos").alias("j"),
        F.col("n").alias("n_l"),
    )
    alpha = F.expr(f"({t_num} * n_s + {t_den} - 1) DIV {t_den}")
    # r12: pair dedup doubles as the verify-parallelism pin — one
    # keyed exchange instead of distinct + round-robin repartition
    # (same merge as _prefix_jaccard_candidates, guide §2.4/§2.5)
    cand = (
        ps.join(full, "shingle")
        .filter(F.col("doc_s") != F.col("doc_l"))
        .filter(F.col("n_s") <= F.col("n_l"))
        .filter(
            F.lit(1)
            + F.least(F.col("n_s") - F.col("i"), F.col("n_l") - F.col("j"))
            >= alpha
        )
        .select(
            F.least("doc_s", "doc_l").alias("doc_a"),
            F.greatest("doc_s", "doc_l").alias("doc_b"),
        )
    )
    cand = cand.repartition(
        cand.sparkSession.sparkContext.defaultParallelism,
        "doc_a",
        "doc_b",
    ).dropDuplicates()
    return _exact_pair_counts(cand, sh, pin_verify=False)


def _exact_pair_counts(
    cand: DataFrame,
    sh: DataFrame,
    pre_aggregated: bool = False,
    pin_verify: bool = True,
) -> DataFrame:
    """Attach exact (n_common, n_a, n_b) to candidate doc pairs via
    per-doc sorted shingle arrays — one groupBy of the shingle frame
    and two pair-keyed joins, no shingle re-explode.
    ``pre_aggregated=True`` means ``sh`` is already the per-doc
    (doc_id, toks, n) array frame (the batched verifier checkpoints it
    once and reuses it across slices).

    r11 (guide §4.2): the overlap count runs as an Arrow-batched
    set intersection instead of the ``array_intersect`` higher-order
    expression — HOFs evaluate interpreted per element, and at the low
    thresholds the scaled verifiers use this was candidates x |S|
    interpreted steps (the dominant cost of q_text_ngram_jaccard_scaled
    at sf0.1). ``len(set(a) & set(b))`` is a C-level hash intersection
    over the same distinct-element arrays — an exact integer either
    way."""
    arrs = (
        sh
        if pre_aggregated
        else sh.groupBy("doc_id").agg(
            F.array_sort(F.collect_list("shingle")).alias("toks"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    aa = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("n").alias("n_a"),
    )
    ab = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("n").alias("n_b"),
    )
    # pin the LIGHT pair frame to one task per core before the array
    # attach + overlap count: AQE coalesces the candidate exchange by
    # BYTES (pairs are two longs), which measured as the whole verify
    # — joins, array attach, intersection — collapsing into a single
    # task (4 s of a 5.5 s query at sf0.1). An explicit repartition is
    # exempt from AQE coalescing and scales with defaultParallelism;
    # it moves only (doc_a, doc_b), never the shingle arrays.
    # pin_verify=False (r12, VERDICT #4): counted-tiny inputs skip the
    # pin — on a near-empty shard the exchange + one-task-per-slot
    # stage cost more than the verify they parallelize.
    if pin_verify:
        cand = cand.repartition(
            cand.sparkSession.sparkContext.defaultParallelism
        )
    joined = cand.join(aa, "doc_a").join(ab, "doc_b").select(
        "doc_a", "doc_b", "toks_a", "toks_b", "n_a", "n_b"
    )
    return with_n_common(joined).select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b"
    )


def with_n_common(df: DataFrame) -> DataFrame:
    """Replace a frame's ``toks_a``/``toks_b`` array columns with the
    exact overlap count ``n_common`` (bigint), computed as a C-level
    hash-set intersection in an Arrow batch — the §4.2 replacement for
    ``size(array_intersect(...))``, whose higher-order evaluation is
    interpreted per element (candidates x |S| interpreted steps was
    the dominant cost of every low-threshold verify at sf0.1). The
    count of common distinct elements is an exact integer either way.
    All other columns pass through unchanged."""
    out_fields = [
        (c, t) for c, t in df.dtypes if c not in ("toks_a", "toks_b")
    ] + [("n_common", "bigint")]
    schema = ", ".join(f"{c} {t}" for c, t in out_fields)
    keep = [c for c, _ in df.dtypes if c not in ("toks_a", "toks_b")]

    def count_common(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            if rb.num_rows == 0:
                continue
            ta = rb.column("toks_a")
            tb = rb.column("toks_b")
            if ta.offset != 0 or tb.offset != 0:  # pragma: no cover
                # sliced list arrays: offsets would need rebasing —
                # fall back to the (slower, equally exact) python-set
                # path rather than risk an off-by-slice
                n_common = pa.array(
                    [
                        len(frozenset(a).intersection(b))
                        for a, b in zip(ta.to_pylist(), tb.to_pylist())
                    ],
                    type=pa.int64(),
                )
            else:
                # batch-local dictionary encoding: same string <-> same
                # int32 index (bijective within the batch, one shared
                # dictionary for both sides), then the overlap count is
                # a C-level int32 set intersection per pair. This
                # avoids materializing pairs x |S| python strings,
                # which dominated the pandas form (~100 CPU-s per run
                # at sf0.1).
                va, vb = ta.values, tb.values
                enc = pc.dictionary_encode(
                    pa.chunked_array([va, vb])
                ).combine_chunks()
                idx = enc.indices.to_numpy(zero_copy_only=False)
                ia, ib = idx[: len(va)], idx[len(va):]
                offa = np.asarray(ta.offsets)
                offb = np.asarray(tb.offsets)
                out = np.empty(rb.num_rows, dtype=np.int64)
                for r in range(rb.num_rows):
                    av = ia[offa[r]: offa[r + 1]]
                    bv = ib[offb[r]: offb[r + 1]]
                    out[r] = np.intersect1d(
                        av, bv, assume_unique=True
                    ).size
                n_common = pa.array(out, type=pa.int64())
            yield pa.record_batch(
                [rb.column(c) for c in keep] + [n_common],
                names=keep + ["n_common"],
            )

    return df.mapInArrow(count_common, schema=schema)


def confirmed_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe confirmed near-dup pair set (distinct-shingle
    Jaccard > 0.8) every downstream consumer composes on
    (``q_text_neardup_dedup``, the funnel and survivorship reports):
    prefix-filtered exact pairs at t = 8/10, then the IDENTICAL float
    threshold expression the naive verifier uses — so consumers keep
    their naive-join DuckDB oracles and every hash match
    differentially proves the prefix filter lost nothing."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = prefix_jaccard_pairs(shingles(docs, k=3), 8, 10)
    return pairs.filter(
        F.col("n_common")
        * F.lit(1.0)
        / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        > 0.8
    ).select("doc_a", "doc_b")


@query(
    "q_text_minhash_dedup",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        ) WHERE length(shingle) > 0
    ),
    sigs AS (
        SELECT doc_id,
               MIN(substring(md5('0:' || shingle), 1, 8)) AS sig0,
               MIN(substring(md5('0:' || shingle), 9, 8)) AS sig1,
               MIN(substring(md5('0:' || shingle), 17, 8)) AS sig2,
               MIN(substring(md5('0:' || shingle), 25, 8)) AS sig3,
               MIN(substring(md5('1:' || shingle), 1, 8)) AS sig4,
               MIN(substring(md5('1:' || shingle), 9, 8)) AS sig5,
               MIN(substring(md5('1:' || shingle), 17, 8)) AS sig6,
               MIN(substring(md5('1:' || shingle), 25, 8)) AS sig7
        FROM sh GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band, md5(sig0 || '|' || sig1) AS bucket FROM sigs
        UNION ALL
        SELECT doc_id, 1, md5(sig2 || '|' || sig3) FROM sigs
        UNION ALL
        SELECT doc_id, 2, md5(sig4 || '|' || sig5) FROM sigs
        UNION ALL
        SELECT doc_id, 3, md5(sig6 || '|' || sig7) FROM sigs
    ),
    pairs AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM banded l
        JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket
         AND l.doc_id < r.doc_id
    ),
    pc AS (
        SELECT doc_a AS doc_id, COUNT(*) AS n_candidates
        FROM pairs GROUP BY doc_a
    )
    SELECT s.doc_id, s.sig0 AS minhash0,
           CAST(COALESCE(pc.n_candidates, 0) AS BIGINT) AS n_candidates
    FROM sigs s LEFT JOIN pc ON s.doc_id = pc.doc_id
    """,
)
def q_text_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: shingle -> minhash signature ->
    band buckets -> bucket self-join. The md5-hex min-signature is an
    engine-portable total order, so the whole LSH construction has an
    exact DuckDB oracle (VERDICT r1 next-round #4); emits per-doc
    signature + candidate count so the result is non-empty even on a
    dup-free corpus."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(shingles(docs))
    pairs = lsh_candidate_pairs(sigs)
    pair_counts = (
        pairs.groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    return (
        sigs.join(pair_counts, on="doc_id", how="left")
        .select(
            "doc_id",
            F.col("sig0").alias("minhash0"),
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        )
    )


# Shared by q_text_ngram_jaccard and its prefix-filtered _scaled twin:
# the oracle is the NAIVE all-sharing-pairs join, so the twin's hash
# match differentially proves the prefix filter is lossless.
_NGRAM_JACCARD_ORACLE = """
    WITH sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        ) WHERE length(shingle) > 0
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), ovl AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT o.doc_a, o.doc_b, o.n_common,
           o.n_common * 1.0 / (sa.n + sb.n - o.n_common) AS jaccard
    FROM ovl o
    JOIN sizes sa ON o.doc_a = sa.doc_id
    JOIN sizes sb ON o.doc_b = sb.doc_id
    WHERE o.n_common * 1.0 / (sa.n + sb.n - o.n_common) > 0.2
    """


@query("q_text_ngram_jaccard", oracle=_NGRAM_JACCARD_ORACLE)
def q_text_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (3-token shingles, J>0.2):
    shingle self-join + overlap/union counting. The exact verifier for
    what MinHash approximates; bounded by shared-shingle pairs."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # per-doc shingle-set size attached to every shingle row via a
    # window (one shuffle by doc) — carrying it through the join beats
    # two extra join-back shuffles against a sizes table
    sh = shingles(docs, k=3).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    a = sh.alias("a")
    b = sh.alias("b")
    jac = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first(F.col("a.n")).alias("n_a"),
            F.first(F.col("b.n")).alias("n_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common")
                * F.lit(1.0)
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") > 0.2)


# ---------------------------------------------------------------------------
# SimHash + BPE-ish token counting
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def _nibble_parity_sql(i: int) -> str:
    """1-bit hash of a token for simhash bit i: parity of the i-th hex
    nibble of ONE md5 per token (column ``h``).  Same expression in
    both engines (instr over a hex alphabet), so the oracle is exact.
    One digest sliced 16 ways replaces 16 per-bit md5 calls — the md5
    dominates the old plan's per-token cost (VERDICT r1 next-round
    #10)."""
    return (
        f"(instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1) % 2"
    )


@query(
    "q_text_simhash",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, md5('s:' || unnest(string_split(text, ' '))) AS h
        FROM documents
    ), bits AS (
        SELECT doc_id,
               {", ".join(
                   f"CASE WHEN SUM(2 * ({_nibble_parity_sql(i)}) - 1) >= 0"
                   f" THEN '1' ELSE '0' END AS b{i}"
                   for i in range(SIMHASH_BITS)
               )}
        FROM toks GROUP BY doc_id
    )
    SELECT doc_id,
           CONCAT({", ".join(f"b{i}" for i in range(SIMHASH_BITS))}) AS simhash,
           CONCAT({", ".join(f"b{i}" for i in range(8))}) AS bucket8
    FROM bits
    """,
)
def q_text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprint (Charikar): each of 16 bits is the
    sign of the token-vote sum for an independent 1-bit hash; near-dups
    differ in few bits. ``bucket8`` (the high 8 bits) is the LSH-style
    blocking key: candidate pairs share a bucket, turning all-pairs
    hamming search into per-bucket joins at scale.  The 16 bit-hashes
    are the 16 nibble parities of a single md5 per token."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).select("doc_id", F.md5(F.concat(F.lit("s:"), F.col("t"))).alias("h"))
    aggs = [
        F.when(
            F.sum(2 * F.expr(_nibble_parity_sql(i)) - 1) >= 0, "1"
        )
        .otherwise("0")
        .alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    bits = toks.groupBy("doc_id").agg(*aggs)
    return bits.select(
        "doc_id",
        F.concat(*[F.col(f"b{i}") for i in range(SIMHASH_BITS)]).alias("simhash"),
        F.concat(*[F.col(f"b{i}") for i in range(8)]).alias("bucket8"),
    )


@query(
    "q_text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                AS BIGINT) AS bpe_ish_tokens
    FROM documents
    """,
)
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs / digit runs / single other-chars) — the cheap
    pre-tokenizer used for corpus budgeting before a real BPE pass."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(
            F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
        ).cast("long").alias("bpe_ish_tokens"),
    )


# ---------------------------------------------------------------------------
# spark.ml MinHashLSH variant (the MLlib-native scale path)
# ---------------------------------------------------------------------------

def ml_minhash_neardup_pairs(
    docs: DataFrame,
    shingle_k: int = 3,
    num_hash_tables: int = 8,
    max_jaccard_distance: float = 0.5,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs via ml.feature.MinHashLSH: shingles ->
    HashingTF binary vectors -> MinHashLSH.approxSimilarityJoin.

    The expression-based ``minhash_signatures``/``lsh_candidate_pairs``
    is the engine-portable construction with an exact oracle; this
    MLlib variant is the drop-in for clusters that prefer the built-in
    estimator (seeded => deterministic). Returns (doc_a, doc_b,
    jaccard_dist)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = shingles(docs, k=shingle_k)
    sets = sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("shingle_set")
    )
    tf = HashingTF(
        inputCol="shingle_set", outputCol="features",
        numFeatures=num_features, binary=True,
    )
    feats = tf.transform(sets)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes",
        numHashTables=num_hash_tables, seed=seed,
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, max_jaccard_distance, distCol="jaccard_dist"
    )
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            "jaccard_dist",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )


# ---------------------------------------------------------------------------
# Near-dup cluster resolution (connected components + canonical doc)
# ---------------------------------------------------------------------------

def resolve_dedup_clusters(
    pairs: DataFrame, docs: DataFrame, max_iters: int = 10,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over near-dup candidate pairs by
    distributed min-label propagation: every doc starts labeled with
    its own id; each round takes the min label across its neighbors;
    converged when no label changes. Near-dup clusters are tiny (pairs
    come from LSH blocking), so rounds ~ cluster diameter ~ 2-3.

    Returns (doc_id, cluster_id, is_canonical): the canonical survivor
    per cluster is the smallest doc_id — the keep-min policy of
    q_text_exact_dedup extended to near-dups.

    Hybrid execution: LSH-confirmed candidate sets are usually tiny
    relative to the corpus, so below ``driver_threshold`` pairs the
    components are solved with driver-side union-find in one pass and
    broadcast back (one collect of the PAIRS, never the corpus); above
    it, distributed min-label propagation runs with only the
    converged-yet? flag reaching the driver each round."""
    # Decide the hybrid branch with ONE fully-parallel pass: persist,
    # count (all partitions in one wave), then collect from the cache.
    # A limit(threshold+1).collect() looks cheaper but plans as an
    # incremental take — partition waves starting at ONE task, each
    # wave re-running the expensive verify partitions serially
    # (measured: a 1.7 s single-task first wave on
    # q_text_neardup_dedup at sf0.1).
    pairs = pairs.persist()
    n_pairs = pairs.count()
    if n_pairs <= driver_threshold:
        head = pairs.collect()
        pairs.unpersist()
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in head:
            ra, rb = find(r["doc_a"]), find(r["doc_b"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        mapping = [(x, find(x)) for x in list(parent)]
        spark = docs.sparkSession
        if mapping:
            m = spark.createDataFrame(mapping, "doc_id long, root long")
            labels = docs.select("doc_id").join(
                F.broadcast(m), on="doc_id", how="left"
            ).select(
                "doc_id",
                F.coalesce("root", F.col("doc_id")).alias("cluster_id"),
            )
        else:
            labels = docs.select(
                "doc_id", F.col("doc_id").alias("cluster_id")
            )
        return labels.withColumn(
            "is_canonical", F.col("doc_id") == F.col("cluster_id")
        )
    # distributed path: the (already persisted) pair frame is consumed
    # twice by the edge union and once per propagation round
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
        .distinct()
    )
    labels = docs.select(
        F.col("doc_id"), F.col("doc_id").alias("cluster_id")
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.b == labels.doc_id)
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, on="doc_id", how="left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        updated = updated.localCheckpoint(eager=True)  # cut lineage per round
        changed = (
            labels.join(updated.withColumnRenamed("cluster_id", "new_id"), "doc_id")
            .filter(F.col("cluster_id") != F.col("new_id"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            break
    pairs.unpersist()
    return labels.withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    )


@query(
    "q_text_neardup_dedup",
    oracle="""
    WITH RECURSIVE sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        ) WHERE length(shingle) > 0
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), ovl AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
        SELECT o.doc_a, o.doc_b
        FROM ovl o
        JOIN sizes sa ON o.doc_a = sa.doc_id
        JOIN sizes sb ON o.doc_b = sb.doc_id
        WHERE o.n_common * 1.0 / (sa.n + sb.n - o.n_common) > 0.8
    ), edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach(doc_id, lbl) AS (
        -- transitive closure: every label reachable from each doc;
        -- the component id is the MIN over the closure
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.doc_id, e.b FROM reach r JOIN edges e ON e.a = r.lbl
    )
    SELECT doc_id,
           CAST(MIN(lbl) AS BIGINT) AS cluster_id,
           MIN(lbl) = doc_id AS is_canonical
    FROM reach GROUP BY doc_id
    """,
)
def q_text_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-duplicate dedup: prefix-filtered exact-Jaccard
    confirmed pairs (>0.8, ``confirmed_neardup_pairs`` — lossless
    PPJoin blocking, never the hot-shingle-quadratic naive self-join)
    -> connected-component cluster resolution -> keep-list with one
    canonical doc per cluster. The full training-data dedup pipeline
    in one plan. The oracle solves the same components over the NAIVE
    shared-shingle pair set with a recursive-CTE transitive closure +
    min-label, so the hash match both checks the iterative stage and
    differentially proves the prefix filter lost no pair."""
    docs = load_table(spark, sf_dir, "documents")
    confirmed = confirmed_neardup_pairs(spark, sf_dir)
    clusters = resolve_dedup_clusters(
        confirmed.select("doc_a", "doc_b"), docs
    )
    return clusters.select(
        "doc_id",
        "cluster_id",
        "is_canonical",
    )


@query(
    "q_text_tfidf",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(*) AS df FROM (
            SELECT DISTINCT doc_id, term FROM toks
        ) GROUP BY term
    )
    SELECT t.doc_id, t.term, t.tf, d.df
    FROM tf t JOIN df d ON t.term = d.term
    WHERE t.tf >= 3
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-frequency / document-frequency table (the distributed core
    of TF-IDF): per-doc term counts joined to corpus document
    frequencies, integer-only so the oracle is exact. The float IDF
    weight (ln(N/df)) is a per-row presentation expression applied at
    read time — deliberately excluded from the hashed output because
    ln() is not bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = (
        toks.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        tf.join(df, on="term")
        .filter(F.col("tf") >= 3)
        .select("doc_id", "term", "tf", "df")
    )


# ---------------------------------------------------------------------------
# Corpus-hygiene filters (Gopher/C4-style rules, integer-exact)
# ---------------------------------------------------------------------------

_EN_STOP_SQL = (
    "len(list_filter(string_split(text, ' '), "
    "t -> t IN ('the', 'a', 'of', 'and', 'to')))"
)


@query(
    "q_text_repetition",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    base AS (
        SELECT doc_id,
               len(l) AS n_words,
               len(l) - len(list_distinct(l)) AS n_dup_words,
               len(l) - 1 AS n_bigrams,
               list_transform(range(2, len(l) + 1),
                              i -> l[i - 1] || ' ' || l[i]) AS bgs
        FROM w
    ),
    bgc AS (
        SELECT doc_id, bg, COUNT(*) AS n
        FROM (SELECT doc_id, unnest(bgs) AS bg FROM base)
        GROUP BY doc_id, bg
    ),
    top AS (SELECT doc_id, MAX(n) AS top_bigram_n FROM bgc GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(b.n_words AS BIGINT) AS n_words,
           CAST(b.n_dup_words AS BIGINT) AS n_dup_words,
           CAST(b.n_bigrams AS BIGINT) AS n_bigrams,
           CAST(t.top_bigram_n AS BIGINT) AS top_bigram_n,
           (t.top_bigram_n * 5 > b.n_bigrams) AS is_repetitive
    FROM base b JOIN top t USING (doc_id)
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (the Gopher repetition-filter
    family): duplicate-word count and the most-frequent-bigram share,
    all integer-exact.  The bigram list is built row-locally with
    zip_with over two shifted slices (no join), so the only shuffle is
    the per-(doc, bigram) count — map-side partial agg bounds it by
    distinct bigrams, not word occurrences.  A doc whose top bigram
    covers >20% of its bigrams flags as repetitive boilerplate."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    bgs = F.zip_with(
        F.slice(words, 1, F.size(words) - 1),
        F.slice(words, 2, F.size(words) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    base = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        (F.size(words) - F.size(F.array_distinct(words)))
        .cast("long")
        .alias("n_dup_words"),
        (F.size(words) - 1).cast("long").alias("n_bigrams"),
        bgs.alias("bgs"),
    )
    top = (
        base.select("doc_id", F.explode("bgs").alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top_bigram_n"))
    )
    return base.drop("bgs").join(top, on="doc_id").select(
        "doc_id",
        "n_words",
        "n_dup_words",
        "n_bigrams",
        "top_bigram_n",
        (F.col("top_bigram_n") * 5 > F.col("n_bigrams")).alias(
            "is_repetitive"
        ),
    )


@query(
    "q_quality_filter",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               {_EN_STOP_SQL} AS en_stop
        FROM documents
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CASE WHEN n_words < 30 THEN 'too_short'
                WHEN n_words > 90 THEN 'too_long'
                WHEN 2 * n_distinct < n_words THEN 'low_diversity'
                WHEN en_stop = 0 THEN 'no_stopword'
                ELSE 'keep' END AS verdict
    FROM base
    """,
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite corpus-quality gate (C4/Gopher rule stack): first
    failing rule wins — length band, lexical diversity (distinct/total
    word ratio as a cross-multiplied integer compare, no floats),
    stopword presence.  One narrow projection, no shuffle; at 100 TB
    this is the map-side keep/drop pass in front of dedup."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    n_distinct = F.size(F.array_distinct(F.split("text", " ")))
    en_stop = _stopword_hits("en")
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.when(n_words < 30, "too_short")
        .when(n_words > 90, "too_long")
        .when(2 * n_distinct < n_words, "low_diversity")
        .when(en_stop == 0, "no_stopword")
        .otherwise("keep")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (2 unrolled merge rounds, exact oracle)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 2


def _bpe_merge(arr: Column, a: Column, b: Column) -> Column:
    """One BPE merge applied to a token array: left-to-right fold that
    replaces each non-overlapping (a, b) adjacency with a||b.  The
    accumulator-last-element comparison reproduces exact BPE scan
    semantics (a run 'xxx' under pair (x,x) becomes [xx, x])."""
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == a) & (x == b),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(a, b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_oracle(rounds: int = _BPE_ROUNDS) -> str:
    """Unrolled DuckDB reproduction: per round, weighted pair counts ->
    top pair (count DESC, pair ASC) -> recursive-CTE merge walk over
    each distinct word (pos jumps 2 on merge = the same left-to-right
    non-overlapping scan as the Spark fold)."""
    sql = """
    wc AS (
        SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        GROUP BY t
    ),
    wt0 AS (SELECT w, cnt, string_split(w, '') AS toks FROM wc)"""
    prev = "wt0"
    for r in range(1, rounds + 1):
        top = f"(SELECT pair FROM top{r})"
        sql += f""",
    pr{r} AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i+1])) AS pair, cnt
        FROM {prev}
    ),
    pc{r} AS (SELECT pair, SUM(cnt) AS n FROM pr{r} GROUP BY pair),
    top{r} AS (SELECT pair FROM pc{r} ORDER BY n DESC, pair LIMIT 1),
    m{r}(w, cnt, toks, pos, out) AS (
        SELECT w, cnt, toks, 1, CAST([] AS VARCHAR[]) FROM {prev}
        UNION ALL
        SELECT w, cnt, toks,
            CASE WHEN pos < len(toks)
                  AND toks[pos] = string_split({top}, ' ')[1]
                  AND toks[pos+1] = string_split({top}, ' ')[2]
                 THEN pos + 2 ELSE pos + 1 END,
            CASE WHEN pos < len(toks)
                  AND toks[pos] = string_split({top}, ' ')[1]
                  AND toks[pos+1] = string_split({top}, ' ')[2]
                 THEN list_append(out, replace({top}, ' ', ''))
                 ELSE list_append(out, toks[pos]) END
        FROM m{r} WHERE pos <= len(toks)
    ),
    wt{r} AS (
        SELECT w, cnt, out AS toks FROM m{r} WHERE pos = len(toks) + 1
    )"""
        prev = f"wt{r}"
    return sql + f"""
    SELECT tok, CAST(SUM(cnt) AS BIGINT) AS n
    FROM (SELECT unnest(toks) AS tok, cnt FROM {prev})
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 25
    """


@query("q_bpe_train", oracle="WITH RECURSIVE " + _bpe_oracle())
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a byte-pair-encoding tokenizer (2 unrolled merge rounds)
    and emit the resulting top-25 token histogram — the
    vocabulary-learning pass a training-data pipeline runs before
    tokenizing a corpus.

    Scales the way real BPE trainers do: merges are learned from and
    applied to the DISTINCT-WORD histogram (corpus-size-independent;
    one groupBy builds it), pair counting aggregates over that
    histogram weighted by word frequency (shuffle bounded by |vocab|,
    not corpus tokens), and each round's winning pair rides along as a
    broadcast one-row cross join — the merge itself is a row-local
    array fold, zero shuffle. The oracle unrolls the identical
    training in SQL (recursive-CTE merge walk), so codegen pins the
    learned merges, not just the final counts."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wt = wc.select("w", "cnt", F.split("w", "").alias("toks"))
    for _ in range(_BPE_ROUNDS):
        pairs = wt.select(
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, F.size("toks") - 1),
                    F.slice("toks", 2, F.size("toks") - 1),
                    lambda x, y: F.concat(x, F.lit(" "), y),
                )
            ).alias("pair"),
            "cnt",
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .select(F.split("pair", " ").alias("pq"))
        )
        wt = wt.crossJoin(F.broadcast(top)).select(
            "w",
            "cnt",
            _bpe_merge(
                F.col("toks"),
                F.element_at("pq", 1),
                F.element_at("pq", 2),
            ).alias("toks"),
        )
    return (
        wt.select(F.explode("toks").alias("tok"), "cnt")
        .groupBy("tok")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(25)
    )


@query(
    "q_ngram_lm_counts",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    grams AS (
        SELECT 1 AS n, unnest(l) AS gram FROM toks
        UNION ALL
        SELECT 2, unnest(list_transform(range(1, len(l)),
                         i -> l[i] || ' ' || l[i+1])) FROM toks
        UNION ALL
        SELECT 3, unnest(list_transform(range(1, len(l) - 1),
                         i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))
        FROM toks
    ),
    gc AS (
        SELECT n, gram, COUNT(*) AS c FROM grams GROUP BY n, gram
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(c AS BIGINT) AS count_value,
           CAST(COUNT(*) AS BIGINT) AS n_types
    FROM gc GROUP BY n, c
    """,
)
def q_ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model count-of-counts: for each n-gram order (1/2/3),
    how many distinct grams occur exactly c times — the N_c table
    Good-Turing / Katz / KN smoothing is estimated from, computed
    before any LM training run. Two aggregations: per-(order, gram)
    counts with map-side partial combine (shuffle bounded by distinct
    grams), then the tiny count histogram. Grams are built row-locally
    with zip_with over shifted slices — no joins, no explode until
    after the per-doc arrays are formed."""
    docs = load_table(spark, sf_dir, "documents")
    l = F.split("text", " ")
    g1 = l
    # slice lengths are clamped at 0: Spark's slice() rejects negative
    # lengths outright, so a 1-token document (size-2 = -1) crashed the
    # whole query (round-9 distribution fuzzing, ties profile).  The
    # oracle's range() comprehensions are naturally empty there.
    zero = F.lit(0)
    g2 = F.zip_with(
        F.slice(l, 1, F.greatest(F.size(l) - 1, zero)),
        F.slice(l, 2, F.greatest(F.size(l) - 1, zero)),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    g3 = F.zip_with(
        F.slice(g2, 1, F.greatest(F.size(g2) - 1, zero)),
        F.slice(l, 3, F.greatest(F.size(l) - 2, zero)),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = None
    for n, col in ((1, g1), (2, g2), (3, g3)):
        part = docs.select(
            F.lit(n).cast("long").alias("n"), F.explode(col).alias("gram")
        )
        grams = part if grams is None else grams.unionByName(part)
    gc = grams.groupBy("n", "gram").agg(F.count(F.lit(1)).alias("c"))
    return gc.groupBy("n", F.col("c").alias("count_value")).agg(
        F.count(F.lit(1)).alias("n_types")
    )


@query(
    "q_neardup_incremental",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        ) WHERE length(shingle) > 0
    ),
    sigs AS (
        SELECT doc_id,
               MIN(substring(md5('0:' || shingle), 1, 8)) AS sig0,
               MIN(substring(md5('0:' || shingle), 9, 8)) AS sig1,
               MIN(substring(md5('0:' || shingle), 17, 8)) AS sig2,
               MIN(substring(md5('0:' || shingle), 25, 8)) AS sig3,
               MIN(substring(md5('1:' || shingle), 1, 8)) AS sig4,
               MIN(substring(md5('1:' || shingle), 9, 8)) AS sig5,
               MIN(substring(md5('1:' || shingle), 17, 8)) AS sig6,
               MIN(substring(md5('1:' || shingle), 25, 8)) AS sig7
        FROM sh GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band, md5(sig0 || '|' || sig1) AS bucket FROM sigs
        UNION ALL
        SELECT doc_id, 1, md5(sig2 || '|' || sig3) FROM sigs
        UNION ALL
        SELECT doc_id, 2, md5(sig4 || '|' || sig5) FROM sigs
        UNION ALL
        SELECT doc_id, 3, md5(sig6 || '|' || sig7) FROM sigs
    ),
    cand AS (
        SELECT DISTINCT b.doc_id AS doc_n, c.doc_id AS doc_c
        FROM banded b JOIN banded c
          ON b.band = c.band AND b.bucket = c.bucket
        WHERE b.doc_id % 20 = 0 AND c.doc_id % 20 != 0
    ),
    dtok AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ) WHERE length(token) > 0
    ),
    sz AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM dtok GROUP BY doc_id
    ),
    ov AS (
        SELECT cand.doc_n, cand.doc_c, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cand
        JOIN dtok a ON a.doc_id = cand.doc_n
        JOIN dtok b ON b.doc_id = cand.doc_c AND b.token = a.token
        GROUP BY cand.doc_n, cand.doc_c
    ),
    scored AS (
        SELECT ov.doc_n, ov.doc_c,
               CAST((1000000 * ov.cnt) // (sa.n + sb.n - ov.cnt)
                    AS BIGINT) AS jac_ppm,
               CASE WHEN 10 * ov.cnt >= 9 * (sa.n + sb.n - ov.cnt)
                    THEN 1 ELSE 0 END AS is_match
        FROM ov
        JOIN sz sa ON ov.doc_n = sa.doc_id
        JOIN sz sb ON ov.doc_c = sb.doc_id
    ),
    ranked AS (
        SELECT doc_n, doc_c, jac_ppm, is_match,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_n ORDER BY jac_ppm DESC, doc_c
               ) AS rn
        FROM scored
    ),
    agg AS (
        SELECT doc_n,
               CAST(SUM(is_match) AS BIGINT) AS n_matches,
               MAX(CASE WHEN rn = 1 THEN doc_c END) AS best_match,
               MAX(CASE WHEN rn = 1 THEN jac_ppm END) AS best_jac_ppm
        FROM ranked GROUP BY doc_n
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_matches, 0) AS BIGINT) AS n_matches,
           CAST(COALESCE(a.best_match, -1) AS BIGINT) AS best_match,
           CAST(COALESCE(a.best_jac_ppm, 0) AS BIGINT) AS best_jac_ppm,
           COALESCE(a.n_matches, 0) = 0 AS is_new
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_n
    WHERE d.doc_id % 20 = 0
    """,
)
def q_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup admission — the form dedup actually runs
    in a CDC-fed corpus: an incoming batch (docs with doc_id % 20 = 0
    stand in for the new CDC epoch) is LSH-joined against the EXISTING
    corpus only, never against itself and never corpus x corpus. Each
    new doc gets an admission row: how many existing docs it
    near-duplicates (exact token-Jaccard >= 0.9 confirm on the LSH
    candidates), its best match, and the is_new verdict.

    Scale: this is the marginal-cost shape — per epoch the corpus side
    is a PRECOMPUTED signature/bucket table (here rebuilt because the
    testdata is static; in the pipeline `merge_batch_into_state` would
    persist `banded_buckets(sigs)` keyed by bucket), so each epoch
    costs O(batch) hashing plus a bucket-keyed join, not O(corpus).
    The verify join is bounded by LSH candidates; the rn=1 fold picks
    the best match deterministically."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    bb = banded_buckets(minhash_signatures(shingles(batch)))
    bc = banded_buckets(minhash_signatures(shingles(corpus)))
    cand = (
        bb.alias("b")
        .join(
            bc.alias("c"),
            (F.col("b.band") == F.col("c.band"))
            & (F.col("b.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("b.doc_id").alias("doc_n"),
            F.col("c.doc_id").alias("doc_c"),
        )
        .distinct()
    )
    dtok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.length("token") > 0)
        .distinct()
    )
    sz = dtok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ov = (
        cand.join(dtok.select(F.col("doc_id").alias("doc_n"), "token"), "doc_n")
        .join(
            dtok.select(F.col("doc_id").alias("doc_c"), "token"),
            ["doc_c", "token"],
        )
        .groupBy("doc_n", "doc_c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    scored = (
        ov.join(sz.select(F.col("doc_id").alias("doc_n"), F.col("n").alias("n_a")), "doc_n")
        .join(sz.select(F.col("doc_id").alias("doc_c"), F.col("n").alias("n_b")), "doc_c")
        .select(
            "doc_n",
            "doc_c",
            F.expr(
                "CAST((1000000 * cnt) DIV (n_a + n_b - cnt) AS BIGINT)"
            ).alias("jac_ppm"),
            F.when(
                F.lit(10) * F.col("cnt")
                >= F.lit(9) * (F.col("n_a") + F.col("n_b") - F.col("cnt")),
                1,
            )
            .otherwise(0)
            .alias("is_match"),
        )
    )
    ranked = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_n").orderBy(
                F.desc("jac_ppm"), "doc_c"
            )
        ),
    )
    agg = ranked.groupBy("doc_n").agg(
        F.sum("is_match").cast("long").alias("n_matches"),
        F.max(F.when(F.col("rn") == 1, F.col("doc_c")))
        .cast("long")
        .alias("best_match"),
        F.max(F.when(F.col("rn") == 1, F.col("jac_ppm")))
        .cast("long")
        .alias("best_jac_ppm"),
    )
    return (
        batch.select("doc_id")
        .join(agg, F.col("doc_id") == F.col("doc_n"), "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            # -1 / 0 sentinels for no-candidate docs: NULL-bearing
            # int64 columns degrade to float64 in the driver's pandas
            # canonicalizer and fail its dtype-kind check
            F.coalesce("best_match", F.lit(-1)).cast("long").alias("best_match"),
            F.coalesce("best_jac_ppm", F.lit(0)).cast("long").alias("best_jac_ppm"),
            (F.coalesce("n_matches", F.lit(0)) == 0).alias("is_new"),
        )
    )


_STREAM_ADMIT_EPOCHS = 3


@query(
    "q_stream_neardup_admission",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
        ) WHERE length(shingle) > 0
    ),
    sigs AS (
        SELECT doc_id,
               MIN(substring(md5('0:' || shingle), 1, 8)) AS sig0,
               MIN(substring(md5('0:' || shingle), 9, 8)) AS sig1,
               MIN(substring(md5('0:' || shingle), 17, 8)) AS sig2,
               MIN(substring(md5('0:' || shingle), 25, 8)) AS sig3,
               MIN(substring(md5('1:' || shingle), 1, 8)) AS sig4,
               MIN(substring(md5('1:' || shingle), 9, 8)) AS sig5,
               MIN(substring(md5('1:' || shingle), 17, 8)) AS sig6,
               MIN(substring(md5('1:' || shingle), 25, 8)) AS sig7
        FROM sh GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band, md5(sig0 || '|' || sig1) AS bucket
        FROM sigs
        UNION ALL SELECT doc_id, 1, md5(sig2 || '|' || sig3) FROM sigs
        UNION ALL SELECT doc_id, 2, md5(sig4 || '|' || sig5) FROM sigs
        UNION ALL SELECT doc_id, 3, md5(sig6 || '|' || sig7) FROM sigs
    ),
    ep AS (
        SELECT doc_id, doc_id % {_STREAM_ADMIT_EPOCHS} AS e FROM documents
    ),
    cand AS (
        -- cross-epoch LSH candidates, later-epoch doc vs earlier-epoch
        -- doc (greedy admission never compares within an epoch)
        SELECT DISTINCT b.doc_id AS dn, c.doc_id AS dc
        FROM banded b
        JOIN banded c ON b.band = c.band AND b.bucket = c.bucket
        JOIN ep en ON en.doc_id = b.doc_id
        JOIN ep ec ON ec.doc_id = c.doc_id
        WHERE en.e > ec.e
    ),
    dtok AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ) WHERE length(token) > 0
    ),
    sz AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM dtok GROUP BY doc_id
    ),
    m AS (
        -- exact-confirmed (>= 9/10 token Jaccard) cross-epoch pairs
        SELECT cand.dn, cand.dc
        FROM cand
        JOIN dtok a  ON a.doc_id = cand.dn
        JOIN dtok b2 ON b2.doc_id = cand.dc AND b2.token = a.token
        JOIN sz sa ON sa.doc_id = cand.dn
        JOIN sz sb ON sb.doc_id = cand.dc
        GROUP BY cand.dn, cand.dc, sa.n, sb.n
        HAVING 10 * COUNT(*) >= 9 * (sa.n + sb.n - COUNT(*))
    ),
    -- greedy unroll: epoch 0 bootstraps (all admitted); each later
    -- epoch matches ONLY against the admitted union of earlier ones
    adm0 AS (SELECT doc_id FROM ep WHERE e = 0),
    m1 AS (
        SELECT m.dn, CAST(COUNT(*) AS BIGINT) AS nm
        FROM m JOIN ep ON ep.doc_id = m.dn AND ep.e = 1
        JOIN adm0 ON adm0.doc_id = m.dc
        GROUP BY m.dn
    ),
    adm1 AS (
        SELECT ep.doc_id FROM ep LEFT JOIN m1 ON m1.dn = ep.doc_id
        WHERE ep.e = 1 AND m1.dn IS NULL
    ),
    st2 AS (
        SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1
    ),
    m2 AS (
        SELECT m.dn, CAST(COUNT(*) AS BIGINT) AS nm
        FROM m JOIN ep ON ep.doc_id = m.dn AND ep.e = 2
        JOIN st2 ON st2.doc_id = m.dc
        GROUP BY m.dn
    )
    SELECT ep.doc_id,
           CAST(ep.e AS BIGINT) AS epoch_id,
           CAST(COALESCE(CASE WHEN ep.e = 1 THEN m1.nm
                              WHEN ep.e = 2 THEN m2.nm END, 0)
                AS BIGINT) AS n_matches,
           COALESCE(CASE WHEN ep.e = 1 THEN m1.nm
                         WHEN ep.e = 2 THEN m2.nm END, 0) = 0 AS is_new
    FROM ep
    LEFT JOIN m1 ON ep.e = 1 AND m1.dn = ep.doc_id
    LEFT JOIN m2 ON ep.e = 2 AND m2.dn = ep.doc_id
    """,
)
def q_stream_neardup_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING greedy near-dup admission — the availableNow query
    twin of ``streaming/dedup_state.py:run_dedup_pipeline``, closing
    the streaming story for dedup the way q_ivf_epoch_maintenance did
    for ANN (r9 VERDICT #8a). The documents table splits into
    {_STREAM_ADMIT_EPOCHS} per-file epochs (mtime-pinned so the file
    stream's epoch order is deterministic: doc_id %% E == epoch_id);
    the REAL pipeline runs — readStream(maxFilesPerTrigger=1) ->
    foreachBatch(admit_epoch) with marker-gated idempotent state under
    a checkpoint — and the returned frame is its persisted per-epoch
    decisions. The oracle replays greedy sequential admission with the
    epoch recursion UNROLLED (E layers over one verified cross-epoch
    pair table): epoch 0 bootstraps, each later epoch LSH-matches
    ONLY against the admitted union of earlier epochs — so the
    differential proves the streaming state machine end to end
    (bucket persistence, epoch exclusion, greedy feedback), not just
    one epoch's math.

    Scale: identical to run_dedup_pipeline (module docstring): per
    epoch O(batch) hashing + a bucket-keyed join against bucket-prefix
    partitioned state; state grows with the admitted corpus only.
    The staged epoch files and pipeline state live in a temp work dir
    that is removed once the decisions are eagerly checkpointed."""
    import os
    import shutil
    import tempfile

    from scylla_pg_cdc_spark.streaming.dedup_state import (
        read_decisions,
        run_dedup_pipeline,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="stream_admit_")
    try:
        docs_dir = os.path.join(work, "docs")
        os.makedirs(docs_dir)
        for i in range(_STREAM_ADMIT_EPOCHS):
            stage = os.path.join(work, f"stage{i}")
            docs.filter(
                F.col("doc_id") % _STREAM_ADMIT_EPOCHS == i
            ).coalesce(1).write.parquet(stage)
            part = next(
                p for p in os.listdir(stage) if p.endswith(".parquet")
            )
            dst = os.path.join(docs_dir, f"{i:03d}.parquet")
            shutil.copy(os.path.join(stage, part), dst)
            # pin the file stream's processing order (FileStreamSource
            # orders by modification time): file i IS epoch i
            os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
        out = run_dedup_pipeline(spark, docs_dir, os.path.join(work, "run"))
        return read_decisions(spark, out["decisions"]).select(
            "doc_id",
            F.col("epoch_id").cast("long").alias("epoch_id"),
            F.col("n_matches").cast("long").alias("n_matches"),
            "is_new",
        ).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


# Shared by q_shingle_containment and its asymmetric-prefix _scaled
# twin (naive oracle -> differential losslessness proof, as above).
_SHINGLE_CONTAINMENT_ORACLE = """
    WITH sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
        ) WHERE length(shingle) > 0
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    ov AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS n_common
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT ov.doc_a, ov.doc_b,
           CAST(ov.n_common AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST((1000000 * ov.n_common) // LEAST(sa.n, sb.n)
                AS BIGINT) AS containment_ppm
    FROM ov
    JOIN sz sa ON ov.doc_a = sa.doc_id
    JOIN sz sb ON ov.doc_b = sb.doc_id
    WHERE 5 * ov.n_common >= 4 * LEAST(sa.n, sb.n)
    """


@query("q_shingle_containment", oracle=_SHINGLE_CONTAINMENT_ORACLE)
def q_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup audit by shingle CONTAINMENT:
    C(a,b) = |Sa n Sb| / min(|Sa|, |Sb|) >= 0.8 on distinct 3-token
    shingle sets — the subset-duplication detector. Jaccard
    (``q_text_ngram_jaccard``) misses a short doc quoted verbatim
    inside a long one (the union term dilutes it); containment is the
    standard fix (Broder's resemblance vs containment distinction)
    and what an LLM-corpus pipeline uses to catch quotation/
    boilerplate inclusion rather than whole-doc copies. The threshold
    is the exact integer cross-multiplication 5*n_common >=
    4*min(n_a, n_b); the reported score is positive integer floor
    division in ppm — both engine-identical.

    Plan: same bounded shape as the Jaccard verifier — per-doc set
    size carried on each shingle row by one window, shared-shingle
    self-join (output bounded by co-occurring-shingle pairs, never
    all pairs), one pair aggregation. At scale the join inherits the
    LSH-candidate scoping used by ``q_text_neardup_dedup``; hot
    boilerplate shingles are the skew risk — AQE skew-join is on, and
    a production run drops top-DF shingles first (they cannot decide
    an 80% containment on their own)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, k=3).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    a = sh.alias("a")
    b = sh.alias("b")
    least_n = F.least(F.col("n_a"), F.col("n_b"))
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first(F.col("a.n")).alias("n_a"),
            F.first(F.col("b.n")).alias("n_b"),
        )
        .filter(F.lit(5) * F.col("n_common") >= F.lit(4) * least_n)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (F.lit(1_000_000) * F.col("n_common"))
            .cast("long")
            .alias("_num"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr("_num DIV least(n_a, n_b)")
            .cast("long")
            .alias("containment_ppm"),
        )
    )


# Shared by q_lsh_precision_recall and its _scaled twin whose truth
# side runs the prefix-filtered exact join (naive oracle -> the twin's
# hash match proves the scoped truth set is complete).
_LSH_PR_ORACLE = """
    WITH sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
        ) WHERE length(shingle) > 0
    ),
    sigs AS (
        SELECT doc_id,
               MIN(substring(md5('0:' || shingle), 1, 8)) AS sig0,
               MIN(substring(md5('0:' || shingle), 9, 8)) AS sig1,
               MIN(substring(md5('0:' || shingle), 17, 8)) AS sig2,
               MIN(substring(md5('0:' || shingle), 25, 8)) AS sig3,
               MIN(substring(md5('1:' || shingle), 1, 8)) AS sig4,
               MIN(substring(md5('1:' || shingle), 9, 8)) AS sig5,
               MIN(substring(md5('1:' || shingle), 17, 8)) AS sig6,
               MIN(substring(md5('1:' || shingle), 25, 8)) AS sig7
        FROM sh GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band, md5(sig0 || '|' || sig1) AS bucket FROM sigs
        UNION ALL
        SELECT doc_id, 1, md5(sig2 || '|' || sig3) FROM sigs
        UNION ALL
        SELECT doc_id, 2, md5(sig4 || '|' || sig5) FROM sigs
        UNION ALL
        SELECT doc_id, 3, md5(sig6 || '|' || sig7) FROM sigs
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM banded l
        JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket
         AND l.doc_id < r.doc_id
    ),
    sz AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ),
    ov AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
        SELECT ov.doc_a, ov.doc_b
        FROM ov
        JOIN sz sa ON ov.doc_a = sa.doc_id
        JOIN sz sb ON ov.doc_b = sb.doc_id
        WHERE 2 * ov.cnt >= (sa.n + sb.n - ov.cnt)
    ),
    m AS (
        SELECT CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS c,
               CASE WHEN t.doc_a IS NULL THEN 0 ELSE 1 END AS t
        FROM cand c FULL JOIN truth t
          ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT CAST(SUM(c) AS BIGINT) AS n_candidates,
           CAST(SUM(t) AS BIGINT) AS n_true,
           CAST(SUM(c * t) AS BIGINT) AS n_hit,
           CAST(CASE WHEN SUM(c) = 0 THEN -1
                ELSE (1000000 * SUM(c * t)) // SUM(c) END AS BIGINT)
               AS precision_ppm,
           CAST(CASE WHEN SUM(t) = 0 THEN -1
                ELSE (1000000 * SUM(c * t)) // SUM(t) END AS BIGINT)
               AS recall_ppm
    FROM m
    """


@query("q_lsh_precision_recall", oracle=_LSH_PR_ORACLE)
def q_lsh_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-quality evaluation of the banded MinHash LSH against
    EXACT shingle-Jaccard ground truth (J >= 1/2, the integer
    cross-multiplied compare) — precision = how many LSH candidate
    pairs are true near-dups, recall = how many true near-dups LSH
    surfaced. The in-engine evidence that the banding constants (4
    bands x 2 hashes) fit the corpus, the same
    tuning-evidence-as-a-query discipline as ``q_ivf_recall_curve``
    (an ANN index you cannot measure is an ANN index you cannot
    trust). Plan: candidates from the banded bucket join, truth from
    the shared-shingle join (both bounded — never all-pairs), ONE
    full-outer pair-key join + a single-row aggregation; -1 sentinels
    keep the zero-denominator case integral. Scale: both pair sets
    are output-bounded; the full-outer join is pair-keyed, so the
    eval costs no more than the dedup pass it certifies."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, k=3)
    cand = lsh_candidate_pairs(minhash_signatures(sh)).select(
        "doc_a", "doc_b", F.lit(1).alias("c")
    )
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    ov = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    truth = (
        ov.join(
            F.broadcast(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))),
            "doc_a",
        )
        .join(
            F.broadcast(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))),
            "doc_b",
        )
        .filter(
            F.lit(2) * F.col("cnt")
            >= F.col("n_a") + F.col("n_b") - F.col("cnt")
        )
        .select("doc_a", "doc_b", F.lit(1).alias("t"))
    )
    m = cand.join(truth, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("c", F.lit(0)).alias("c"),
        F.coalesce("t", F.lit(0)).alias("t"),
    )
    agg = m.agg(
        F.sum("c").cast("long").alias("n_candidates"),
        F.sum("t").cast("long").alias("n_true"),
        F.sum(F.col("c") * F.col("t")).cast("long").alias("n_hit"),
    )
    return agg.select(
        "n_candidates",
        "n_true",
        "n_hit",
        F.when(F.col("n_candidates") == 0, F.lit(-1))
        .otherwise(
            F.expr("CAST((1000000 * n_hit) DIV n_candidates AS BIGINT)")
        )
        .cast("long")
        .alias("precision_ppm"),
        F.when(F.col("n_true") == 0, F.lit(-1))
        .otherwise(F.expr("CAST((1000000 * n_hit) DIV n_true AS BIGINT)"))
        .cast("long")
        .alias("recall_ppm"),
    )


@query(
    "q_neardup_survivorship",
    oracle="""
    WITH RECURSIVE sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
        ) WHERE length(shingle) > 0
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), ovl AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
        SELECT o.doc_a, o.doc_b
        FROM ovl o
        JOIN sizes sa ON o.doc_a = sa.doc_id
        JOIN sizes sb ON o.doc_b = sb.doc_id
        WHERE o.n_common * 1.0 / (sa.n + sb.n - o.n_common) > 0.8
    ), edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach(doc_id, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.doc_id, e.b FROM reach r JOIN edges e ON e.a = r.lbl
    ), clusters AS (
        SELECT doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc_id
    ), mem AS (
        SELECT c.cluster_id, d.doc_id, d.n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY d.n_chars DESC, d.doc_id
               ) AS rn
        FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
               AS survivor_doc,
           CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
               AS survivor_chars,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           CAST(SUM(n_chars) - MAX(CASE WHEN rn = 1 THEN n_chars END)
                AS BIGINT) AS chars_saved
    FROM mem GROUP BY cluster_id HAVING COUNT(*) >= 2
    """,
)
def q_neardup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship over near-dup clusters — the corpus-side golden
    record (`q_er_golden_record` is the entity-side twin): for every
    multi-member cluster from the LSH->confirm->components pipeline,
    keep the RICHEST member (max n_chars, doc_id tiebreak — "longest
    version wins" is the standard near-dup survivor rule: truncated
    copies lose to their originals) and report the byte savings the
    dedup buys. The rn=1 pick is the engine-portable two-window
    survivorship fold of the ER golden record, applied per cluster.
    Scale: pairs come from the prefix-filtered confirm
    (``confirmed_neardup_pairs`` — no naive shared-shingle join),
    cluster labels are match-graph-sized, and the survivorship
    windows partition by cluster id — never corpus-wide."""
    docs = load_table(spark, sf_dir, "documents")
    confirmed = confirmed_neardup_pairs(spark, sf_dir)
    clusters = resolve_dedup_clusters(
        confirmed.select("doc_a", "doc_b"), docs
    )
    mem = clusters.join(
        docs.select("doc_id", "n_chars"), "doc_id"
    ).select("cluster_id", "doc_id", "n_chars")
    from pyspark.sql import Window as _W

    rn = F.row_number().over(
        _W.partitionBy("cluster_id").orderBy(
            F.desc("n_chars"), "doc_id"
        )
    )
    return (
        mem.withColumn("rn", rn)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("long")
            .alias("survivor_doc"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars")))
            .cast("long")
            .alias("survivor_chars"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            (
                F.sum("n_chars")
                - F.max(F.when(F.col("rn") == 1, F.col("n_chars")))
            )
            .cast("long")
            .alias("chars_saved"),
        )
        .filter(F.col("n_members") >= 2)
    )


def _survivor_quality_sql() -> str:
    stop = ", ".join(repr(w) for w in STOPWORDS["en"])
    return f"""
    WITH RECURSIVE sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
        ) WHERE length(shingle) > 0
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), ovl AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
        SELECT o.doc_a, o.doc_b
        FROM ovl o
        JOIN sizes sa ON o.doc_a = sa.doc_id
        JOIN sizes sb ON o.doc_b = sb.doc_id
        WHERE o.n_common * 1.0 / (sa.n + sb.n - o.n_common) > 0.8
    ), edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach(doc_id, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.doc_id, e.b FROM reach r JOIN edges e ON e.a = r.lbl
    ), clusters AS (
        SELECT doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc_id
    ), q AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ({stop}))) AS BIGINT) AS n_stop,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM documents
    ), mem AS (
        SELECT c.cluster_id, q.doc_id, q.n_stop, q.n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY q.n_stop DESC, q.n_chars DESC, q.doc_id
               ) AS rn
        FROM clusters c JOIN q ON c.doc_id = q.doc_id
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
               AS survivor_doc,
           CAST(MAX(CASE WHEN rn = 1 THEN n_stop END) AS BIGINT)
               AS survivor_stopwords,
           CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
               AS survivor_chars
    FROM mem GROUP BY cluster_id HAVING COUNT(*) >= 2
    """


@query("q_survivor_quality", oracle=_survivor_quality_sql())
def q_survivor_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted near-dup survivorship: the survivor per
    multi-member cluster is the member with the most English-stopword
    hits (the naturalness proxy from ``q_text_quality``), then the
    longest, then the smallest id — the "keep the best-written copy"
    policy, vs ``q_neardup_survivorship``'s longest-wins. Same
    cluster machinery (prefix-filtered confirm, never the naive
    shared-shingle join), same rn=1 survivorship fold, different
    quality key — demonstrating the survivor rule is a pluggable
    ORDER BY, which is exactly how a production pipeline swaps
    policies."""
    docs = load_table(spark, sf_dir, "documents")
    confirmed = confirmed_neardup_pairs(spark, sf_dir)
    clusters = resolve_dedup_clusters(
        confirmed.select("doc_a", "doc_b"), docs
    )
    q = docs.select(
        "doc_id",
        _stopword_hits("en").alias("n_stop"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    mem = clusters.join(q, "doc_id").select(
        "cluster_id", "doc_id", "n_stop", "n_chars"
    )
    from pyspark.sql import Window as _W

    rn = F.row_number().over(
        _W.partitionBy("cluster_id").orderBy(
            F.desc("n_stop"), F.desc("n_chars"), "doc_id"
        )
    )
    return (
        mem.withColumn("rn", rn)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("long")
            .alias("survivor_doc"),
            F.max(F.when(F.col("rn") == 1, F.col("n_stop")))
            .cast("long")
            .alias("survivor_stopwords"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars")))
            .cast("long")
            .alias("survivor_chars"),
        )
        .filter(F.col("n_members") >= 2)
    )


def _langid_confusion_sql() -> str:
    scores = " , ".join(
        "len(list_filter(string_split(text, ' '), "
        f"t -> t IN ({', '.join(repr(w) for w in ws)}))) AS score_{lang}"
        for lang, ws in STOPWORDS.items()
    )
    return f"""
    WITH scored AS (
        SELECT lang AS actual_lang, {scores}
        FROM documents
    ), pred AS (
        SELECT actual_lang,
               CASE WHEN score_en >= score_es AND score_en >= score_de
                         AND score_en >= score_fr AND score_en >= score_zh
                         AND score_en > 0 THEN 'en'
                    WHEN score_es >= score_de AND score_es >= score_fr
                         AND score_es >= score_zh AND score_es > 0 THEN 'es'
                    WHEN score_de >= score_fr AND score_de >= score_zh
                         AND score_de > 0 THEN 'de'
                    WHEN score_fr >= score_zh AND score_fr > 0 THEN 'fr'
                    WHEN score_zh > 0 THEN 'zh'
                    ELSE 'unknown' END AS predicted_lang
        FROM scored
    )
    SELECT actual_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY actual_lang, predicted_lang
    """


@query("q_langid_confusion", oracle=_langid_confusion_sql())
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: (actual, predicted) document
    counts for the stopword-hit classifier — the EVALUATION face of
    ``q_text_langid`` (a classifier whose error structure you can't
    query is a classifier you can't tune; the diagonal/off-diagonal
    split is precision-recall raw material per language). Same scores
    and argmax precedence as the base query, rolled to a <=36-cell
    matrix in one aggregation."""
    base = q_text_langid(spark, sf_dir)
    return base.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "q_lsh_band_stats",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
        ) WHERE length(shingle) > 0
    ),
    sigs AS (
        SELECT doc_id,
               MIN(substring(md5('0:' || shingle), 1, 8)) AS sig0,
               MIN(substring(md5('0:' || shingle), 9, 8)) AS sig1,
               MIN(substring(md5('0:' || shingle), 17, 8)) AS sig2,
               MIN(substring(md5('0:' || shingle), 25, 8)) AS sig3,
               MIN(substring(md5('1:' || shingle), 1, 8)) AS sig4,
               MIN(substring(md5('1:' || shingle), 9, 8)) AS sig5,
               MIN(substring(md5('1:' || shingle), 17, 8)) AS sig6,
               MIN(substring(md5('1:' || shingle), 25, 8)) AS sig7
        FROM sh GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band, md5(sig0 || '|' || sig1) AS bucket FROM sigs
        UNION ALL
        SELECT doc_id, 1, md5(sig2 || '|' || sig3) FROM sigs
        UNION ALL
        SELECT doc_id, 2, md5(sig4 || '|' || sig5) FROM sigs
        UNION ALL
        SELECT doc_id, 3, md5(sig6 || '|' || sig7) FROM sigs
    ),
    bsz AS (
        SELECT band, bucket, CAST(COUNT(*) AS BIGINT) AS n
        FROM banded GROUP BY band, bucket
    )
    SELECT CAST(band AS BIGINT) AS band,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(n) AS BIGINT) AS max_bucket,
           CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM bsz GROUP BY band
    """,
)
def q_lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-balance census: per band, bucket count, largest
    bucket, and the TOTAL candidate-pair budget sum(n*(n-1)/2) — the
    number the bucket self-join will actually expand to. This is the
    capacity-planning face of the MinHash index (`q_lsh_precision_
    recall` measures quality; this measures COST): a band whose
    max_bucket explodes is the quadratic corner forming, the signal
    to re-band or pre-collapse exact dups BEFORE running the join
    (the q_embed_neardup_collapsed lesson, observable in advance).
    Two aggregations, both keyed no wider than (band, bucket)."""
    docs = load_table(spark, sf_dir, "documents")
    banded = banded_buckets(minhash_signatures(shingles(docs)))
    bsz = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    return bsz.groupBy(F.col("band").cast("long").alias("band")).agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("n").cast("long").alias("max_bucket"),
        F.sum(F.expr("n * (n - 1) DIV 2")).cast("long").alias(
            "candidate_pairs"
        ),
    )


@query(
    "q_filter_yield",
    oracle=f"""
    WITH base AS (
        SELECT lang,
               len(string_split(text, ' ')) AS n_words,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               {_EN_STOP_SQL} AS en_stop
        FROM documents
    ), v AS (
        SELECT lang, n_words,
               CASE WHEN n_words < 30 THEN 'too_short'
                    WHEN n_words > 90 THEN 'too_long'
                    WHEN 2 * n_distinct < n_words THEN 'low_diversity'
                    WHEN en_stop = 0 THEN 'no_stopword'
                    ELSE 'keep' END AS verdict
        FROM base
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(n_words) AS BIGINT) AS words_total,
           CAST(SUM(CASE WHEN verdict = 'keep' THEN n_words ELSE 0 END)
                AS BIGINT) AS words_kept,
           CAST((1000000 * SUM(CASE WHEN verdict = 'keep' THEN n_words
                               ELSE 0 END)) // SUM(n_words) AS BIGINT)
               AS yield_ppm
    FROM v GROUP BY lang
    """,
)
def q_filter_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter YIELD per language: docs and words in vs out of
    the C4/Gopher-style gate (``q_quality_filter``'s exact rule
    stack), with the kept-word share in ppm — the number a corpus
    curator actually budgets with ("the filter costs us 38% of
    German"). A language whose yield collapses flags a rule tuned on
    the wrong language (stopword lists are per-language; this report
    catches the bias quantitatively). Same narrow projection as the
    filter itself + a 5-row rollup."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    n_distinct = F.size(F.array_distinct(F.split("text", " ")))
    en_stop = _stopword_hits("en")
    v = docs.select(
        "lang",
        n_words.cast("long").alias("n_words"),
        F.when(n_words < 30, "too_short")
        .when(n_words > 90, "too_long")
        .when(2 * n_distinct < n_words, "low_diversity")
        .when(en_stop == 0, "no_stopword")
        .otherwise("keep")
        .alias("verdict"),
    )
    kept = F.col("verdict") == "keep"
    return v.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum("n_words").cast("long").alias("words_total"),
        F.sum(F.when(kept, F.col("n_words")).otherwise(0))
        .cast("long")
        .alias("words_kept"),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN verdict = 'keep' THEN n_words"
            " ELSE 0 END)) DIV SUM(n_words) AS BIGINT)"
        ).alias("yield_ppm"),
    )


@query(
    "q_dedup_funnel",
    oracle="""
    WITH RECURSIVE sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
        ) WHERE length(shingle) > 0
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), ovl AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
        SELECT o.doc_a, o.doc_b
        FROM ovl o
        JOIN sizes sa ON o.doc_a = sa.doc_id
        JOIN sizes sb ON o.doc_b = sb.doc_id
        WHERE o.n_common * 1.0 / (sa.n + sb.n - o.n_common) > 0.8
    ), edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach(doc_id, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.doc_id, e.b FROM reach r JOIN edges e ON e.a = r.lbl
    ), clusters AS (
        SELECT doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc_id
    ), exact_keep AS (
        SELECT MIN(doc_id) AS doc_id
        FROM documents GROUP BY md5(text)
    ), flags AS (
        SELECT d.source, d.n_chars,
               CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS ex_keep,
               CASE WHEN e.doc_id IS NOT NULL AND c.cluster_id = d.doc_id
                    THEN 1 ELSE 0 END AS nd_keep
        FROM documents d
        LEFT JOIN exact_keep e ON d.doc_id = e.doc_id
        JOIN clusters c ON d.doc_id = c.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ex_keep) AS BIGINT) AS n_after_exact,
           CAST(SUM(nd_keep) AS BIGINT) AS n_after_neardup,
           CAST(SUM(n_chars) AS BIGINT) AS chars_in,
           CAST(SUM(CASE WHEN nd_keep = 1 THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_out
    FROM flags GROUP BY source
    """,
)
def q_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup FUNNEL per source: raw docs -> exact-dedup survivors
    (keep-min per content hash) -> near-dup canonical survivors
    (cluster minimum, and only if also the exact survivor) with char
    volumes in and out — the stage-by-stage yield report a pipeline
    owner reads to see WHERE the corpus shrinks (a source whose
    near-dup stage eats everything is a template farm; one whose
    exact stage does is a re-crawl). Composes the registered stages
    verbatim: q_text_exact_dedup's keep-min rule and
    q_text_neardup_dedup's cluster canonical over the prefix-filtered
    confirm. Linear everywhere the stages are; the closure is the
    same bounded label propagation."""
    docs = load_table(spark, sf_dir, "documents")
    confirmed = confirmed_neardup_pairs(spark, sf_dir)
    clusters = resolve_dedup_clusters(
        confirmed.select("doc_a", "doc_b"), docs
    )
    exact_keep = docs.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id", F.lit(1).alias("ex_keep"))
    flags = (
        docs.select("doc_id", "source", "n_chars")
        .join(exact_keep, "doc_id", "left")
        .join(clusters.select("doc_id", "cluster_id"), "doc_id")
        .select(
            "source",
            "n_chars",
            F.coalesce("ex_keep", F.lit(0)).alias("ex_keep"),
            F.when(
                (F.coalesce("ex_keep", F.lit(0)) == 1)
                & (F.col("cluster_id") == F.col("doc_id")),
                1,
            )
            .otherwise(0)
            .alias("nd_keep"),
        )
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ex_keep").cast("long").alias("n_after_exact"),
        F.sum("nd_keep").cast("long").alias("n_after_neardup"),
        F.sum("n_chars").cast("long").alias("chars_in"),
        F.sum(F.when(F.col("nd_keep") == 1, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_out"),
    )


# ---------------------------------------------------------------------------
# Scale-safe _scaled twins of the shared-shingle exact verifiers
# (VERDICT r6 next-round #2: same discipline as the ER _scaled family)
# ---------------------------------------------------------------------------


@query("q_text_ngram_jaccard_scaled", oracle=_NGRAM_JACCARD_ORACLE)
def q_text_ngram_jaccard_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (3-token shingles, J>0.2)
    through the LOSSLESS prefix filter with a BOUNDED verify
    (``bounded_prefix_jaccard_pairs``) — the corpus-wide scale-safe
    twin of ``q_text_ngram_jaccard``, which keeps the naive
    shared-shingle self-join as the small-data reference. Same
    output, same oracle (the naive join), so the hash match proves
    BOTH that the prefix/length/positional filter stack lost no pair
    AND that the batched verify decomposition dropped and duplicated
    nothing; the final threshold is the identical float expression.
    At a 0.2 threshold the prefix is ~0.8n, but the excluded 0.2n are
    each doc's HOTTEST shingles — exactly the boilerplate 3-grams
    that make the naive join quadratic on Zipfian text.

    Cost model (measured, SCALE.md rounds 7-8): candidates scale
    LINEARLY with corpus copies (498k at sf0.1 -> 4.98M at 10x ->
    ~50M at 100x — never quadratic), but an exact verify pays ~|S|
    bytes per candidate, and ONE pass over 50M candidates x two
    ~1.6 KB shingle arrays exceeded local spill disk (the r7 weak
    item). The verify now runs in pair-hash slices of <=4M candidates
    — each slice a bounded job, the union provably the identical
    pair set — so the corpus-wide low-threshold form holds at 100x
    (r8 gate) instead of requiring per-shard scoping
    (q_text_ngram_jaccard_sharded remains the cheaper production
    shape when shard-local pairs suffice). On Zipfian-DF corpora the
    naive form is not an alternative at ANY threshold (it OOMs on
    the 100%-boilerplate set); on benign-DF corpora at low t the
    naive pair-count join is the cheaper verifier —
    q_shingle_df_profile is the report that decides which to run."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = bounded_prefix_jaccard_pairs(shingles(docs, k=3), 2, 10)
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common")
                * F.lit(1.0)
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") > 0.2)
    )


@query("q_shingle_containment_scaled", oracle=_SHINGLE_CONTAINMENT_ORACLE)
def q_shingle_containment_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shingle-containment audit (C >= 0.8) through the asymmetric
    prefix filter (``prefix_containment_pairs``: smaller doc's rarest
    20% of shingles vs the other doc's full ranked list) — the
    scale-safe twin of ``q_shingle_containment``. Same integer
    threshold 5*n_common >= 4*min(n_a, n_b), same ppm floor-division
    score, same naive-join oracle: the hash match proves the
    asymmetric blocking is lossless."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = prefix_containment_pairs(shingles(docs, k=3), 4, 5)
    return (
        pairs.filter(
            F.lit(5) * F.col("n_common")
            >= F.lit(4) * F.least("n_a", "n_b")
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr(
                "CAST((1000000 * n_common) DIV least(n_a, n_b) AS BIGINT)"
            ).alias("containment_ppm"),
        )
    )


@query("q_lsh_precision_recall_scaled", oracle=_LSH_PR_ORACLE)
def q_lsh_precision_recall_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Banded-LSH candidate quality vs exact shingle-Jaccard ground
    truth (J >= 1/2) — the scale-safe twin of
    ``q_lsh_precision_recall``: the candidate side was already
    properly banded; the TRUTH side now comes from the prefix-filtered
    exact join (``prefix_jaccard_pairs`` at t = 1/2, prefix ~n/2)
    instead of the hot-shingle-quadratic naive self-join. Same
    single-row metric output, same oracle; the hash match proves the
    scoped truth set is complete."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, k=3)
    cand = lsh_candidate_pairs(minhash_signatures(sh)).select(
        "doc_a", "doc_b", F.lit(1).alias("c")
    )
    truth = (
        prefix_jaccard_pairs(sh, 1, 2)
        .filter(
            F.lit(2) * F.col("n_common")
            >= F.col("n_a") + F.col("n_b") - F.col("n_common")
        )
        .select("doc_a", "doc_b", F.lit(1).alias("t"))
    )
    m = cand.join(truth, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("c", F.lit(0)).alias("c"),
        F.coalesce("t", F.lit(0)).alias("t"),
    )
    agg = m.agg(
        F.sum("c").cast("long").alias("n_candidates"),
        F.sum("t").cast("long").alias("n_true"),
        F.sum(F.col("c") * F.col("t")).cast("long").alias("n_hit"),
    )
    return agg.select(
        "n_candidates",
        "n_true",
        "n_hit",
        F.when(F.col("n_candidates") == 0, F.lit(-1))
        .otherwise(
            F.expr("CAST((1000000 * n_hit) DIV n_candidates AS BIGINT)")
        )
        .cast("long")
        .alias("precision_ppm"),
        F.when(F.col("n_true") == 0, F.lit(-1))
        .otherwise(F.expr("CAST((1000000 * n_hit) DIV n_true AS BIGINT)"))
        .cast("long")
        .alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# Shingle cost-face reports + containment collapse + MinHash calibration
# ---------------------------------------------------------------------------

_SHINGLE_SQL = """
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
        ) WHERE length(shingle) > 0
"""


@query(
    "q_shingle_df_profile",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    dfc AS (
        SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
        FROM sh GROUP BY shingle
    )
    SELECT CAST(length(bin(df)) AS BIGINT) AS df_band,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(MAX(df) AS BIGINT) AS max_df,
           CAST(SUM(df) AS BIGINT) AS rows_total,
           CAST(SUM(CAST(df AS HUGEINT) * (df - 1)) // 2 AS BIGINT)
               AS pair_budget
    FROM dfc GROUP BY df_band
    """,
)
def q_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency profile in log2 bands (band =
    bit-length of df) with the NAIVE candidate-pair budget
    sum(df*(df-1)/2) per band — the Zipfian cost face of shared-
    shingle joins: one glance shows whether the corpus carries hot
    boilerplate shingles (high bands with huge pair budgets) and
    therefore whether a naive exact verifier would go quadratic
    (exactly what `prefix_jaccard_pairs` defuses). The per-band
    budget is the same integer the LSH census `q_lsh_band_stats`
    reports for buckets, here for raw shingles. df*(df-1) is widened
    (Spark decimal(38,0) / DuckDB HUGEINT): bigint overflows once one
    shingle reaches ~4.3e9 docs — see ENVELOPES.md. Plan: one
    vocabulary-sized aggregation + a <=40-row band rollup."""
    docs = load_table(spark, sf_dir, "documents")
    dfc = (
        shingles(docs, k=3)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return dfc.groupBy(
        F.length(F.bin("df")).cast("long").alias("df_band")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.max("df").cast("long").alias("max_df"),
        F.sum("df").cast("long").alias("rows_total"),
        F.expr(
            "CAST(SUM(CAST(df AS DECIMAL(38,0)) * (df - 1)) / 2"
            " AS BIGINT)"
        ).alias("pair_budget"),
    )


@query(
    "q_boilerplate_shingles",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    dfc AS (
        SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
        FROM sh GROUP BY shingle
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    r AS (
        SELECT shingle, df,
               ROW_NUMBER() OVER (ORDER BY df DESC, shingle) AS rnk
        FROM dfc
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, shingle, df,
           CAST((1000000 * df) // n_docs AS BIGINT) AS df_share_ppm
    FROM r, nd WHERE rnk <= 20
    """,
)
def q_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-20 hottest shingles by document frequency, with the
    share of the corpus containing each (ppm) — the DROP-LIST a
    production dedup run feeds its DF-cap with (boilerplate
    headers/footers/navigation chrome rank here; a shingle present in
    30% of documents cannot decide a near-dup and only inflates
    joins). Plan: vocabulary aggregation -> TakeOrderedAndProject
    top-20 (never a global sort), then the 20-row frame gets its rank
    window and the broadcast 1-row doc count."""
    docs = load_table(spark, sf_dir, "documents")
    dfc = (
        shingles(docs, k=3)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    top = dfc.orderBy(F.desc("df"), "shingle").limit(20)
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.orderBy(F.desc("df"), "shingle")
    return (
        top.crossJoin(F.broadcast(nd))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .select(
            "rnk",
            "shingle",
            F.col("df").cast("long").alias("df"),
            F.expr(
                "CAST((1000000 * df) DIV n_docs AS BIGINT)"
            ).alias("df_share_ppm"),
        )
    )


@query(
    "q_containment_collapse",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    ov AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    hits AS (
        SELECT ov.doc_a, ov.doc_b, sa.n AS n_a, sb.n AS n_b
        FROM ov
        JOIN sz sa ON ov.doc_a = sa.doc_id
        JOIN sz sb ON ov.doc_b = sb.doc_id
        WHERE 5 * ov.c >= 4 * LEAST(sa.n, sb.n)
    ),
    victims AS (
        SELECT CASE WHEN n_a < n_b THEN doc_a
                    WHEN n_b < n_a THEN doc_b
                    ELSE GREATEST(doc_a, doc_b) END AS doc_id
        FROM hits
    ),
    vc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_containers
        FROM victims GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(vc.n_containers, 0) AS n_containers,
           vc.doc_id IS NULL AS is_kept
    FROM documents d LEFT JOIN vc ON d.doc_id = vc.doc_id
    """,
)
def q_containment_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quotation/boilerplate-inclusion collapse: a doc 80%-contained
    (by distinct-shingle containment) in a LARGER doc is dropped —
    the asymmetric dedup policy Jaccard clustering cannot express (a
    short doc quoted inside a long one never reaches a Jaccard
    threshold; Broder's containment does). The smaller side of each
    C>=0.8 pair loses (size tie -> larger doc_id loses, so the rule
    is a total order and deterministic); the keep-list plus per-doc
    container counts come back for every document. Pairs come from
    the LOSSLESS asymmetric prefix filter
    (``prefix_containment_pairs``), never the naive shared-shingle
    join; the oracle replays the naive join, differentially proving
    the blocking again."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = prefix_containment_pairs(shingles(docs, k=3), 4, 5).filter(
        F.lit(5) * F.col("n_common") >= F.lit(4) * F.least("n_a", "n_b")
    )
    victims = pairs.select(
        F.when(F.col("n_a") < F.col("n_b"), F.col("doc_a"))
        .when(F.col("n_b") < F.col("n_a"), F.col("doc_b"))
        .otherwise(F.greatest("doc_a", "doc_b"))
        .alias("doc_id")
    )
    vc = victims.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_containers")
    )
    return (
        docs.select("doc_id")
        .join(vc.withColumn("hit", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_containers", F.lit(0))
            .cast("long")
            .alias("n_containers"),
            F.coalesce(~F.col("hit"), F.lit(True)).alias("is_kept"),
        )
    )


def _minhash_calibration_sql() -> str:
    agree = " + ".join(
        f"CASE WHEN xa.sig{i} = xb.sig{i} THEN 1 ELSE 0 END"
        for i in range(N_HASHES)
    )
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sigs AS (
        SELECT doc_id,
               MIN(substring(md5('0:' || shingle), 1, 8)) AS sig0,
               MIN(substring(md5('0:' || shingle), 9, 8)) AS sig1,
               MIN(substring(md5('0:' || shingle), 17, 8)) AS sig2,
               MIN(substring(md5('0:' || shingle), 25, 8)) AS sig3,
               MIN(substring(md5('1:' || shingle), 1, 8)) AS sig4,
               MIN(substring(md5('1:' || shingle), 9, 8)) AS sig5,
               MIN(substring(md5('1:' || shingle), 17, 8)) AS sig6,
               MIN(substring(md5('1:' || shingle), 25, 8)) AS sig7
        FROM sh GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band, md5(sig0 || '|' || sig1) AS bucket FROM sigs
        UNION ALL
        SELECT doc_id, 1, md5(sig2 || '|' || sig3) FROM sigs
        UNION ALL
        SELECT doc_id, 2, md5(sig4 || '|' || sig5) FROM sigs
        UNION ALL
        SELECT doc_id, 3, md5(sig6 || '|' || sig7) FROM sigs
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM banded l
        JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket
         AND l.doc_id < r.doc_id
    ),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
           FROM sh GROUP BY doc_id),
    ov AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    m AS (
        SELECT ({agree}) AS n_agree,
               COALESCE(ov.c, 0) AS c, sa.n AS n_a, sb.n AS n_b
        FROM cand cd
        JOIN sigs xa ON cd.doc_a = xa.doc_id
        JOIN sigs xb ON cd.doc_b = xb.doc_id
        JOIN sz sa ON cd.doc_a = sa.doc_id
        JOIN sz sb ON cd.doc_b = sb.doc_id
        LEFT JOIN ov ON ov.doc_a = cd.doc_a AND ov.doc_b = cd.doc_b
    )
    SELECT CAST(n_agree AS BIGINT) AS n_agree,
           CAST((10 * c) // (n_a + n_b - c) AS BIGINT) AS jac_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM m GROUP BY n_agree, jac_decile
    """


@query("q_minhash_jaccard_calibration", oracle=_minhash_calibration_sql())
def q_minhash_jaccard_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash CALIBRATION matrix over the LSH candidate set:
    (signature-agreement count 0..8) x (exact Jaccard decile 0..10)
    -> pair counts. E[agreement/8] = J, so mass far off the diagonal
    means the 8-hash signature is too coarse for the corpus — the
    measured basis for choosing N_HASHES/band shape, completing the
    tuning-evidence trio with `q_lsh_precision_recall` (candidate
    quality) and `q_lsh_band_stats` (cost). Exact overlaps are
    CANDIDATE-SCOPED via `_exact_pair_counts` (arrays + one pair-key
    join — never the naive shared-shingle join), so the whole
    evaluation is LSH-output-bounded at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, k=3)
    sigs = minhash_signatures(sh)
    cand = lsh_candidate_pairs(sigs)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    agree = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", n_agree.alias("n_agree"))
    )
    exact = _exact_pair_counts(cand, sh)
    return (
        agree.join(exact, ["doc_a", "doc_b"])
        .select(
            F.col("n_agree").cast("long").alias("n_agree"),
            F.expr(
                "CAST((10 * n_common) DIV (n_a + n_b - n_common)"
                " AS BIGINT)"
            ).alias("jac_decile"),
        )
        .groupBy("n_agree", "jac_decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


_NAIVE_CONFIRMED_PAIRS_SQL = """
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
        ) WHERE length(shingle) > 0
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), ovl AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), pairs AS (
        SELECT o.doc_a, o.doc_b
        FROM ovl o
        JOIN sizes sa ON o.doc_a = sa.doc_id
        JOIN sizes sb ON o.doc_b = sb.doc_id
        WHERE o.n_common * 1.0 / (sa.n + sb.n - o.n_common) > 0.8
    )
"""


@query(
    "q_cross_source_dup_matrix",
    oracle=f"""
    WITH {_NAIVE_CONFIRMED_PAIRS_SQL}
    SELECT LEAST(da.source, db.source) AS src_lo,
           GREATEST(da.source, db.source) AS src_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN documents da ON p.doc_a = da.doc_id
    JOIN documents db ON p.doc_b = db.doc_id
    GROUP BY src_lo, src_hi
    """,
)
def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH feeds duplicate each other: confirmed near-dup pairs
    (J > 0.8, the prefix-filtered confirm) cross-tabulated by
    unordered source pair. The diagonal (src_lo = src_hi) is
    within-feed duplication (re-crawls, template farms); off-diagonal
    mass means two feeds overlap and one of them is mostly paying
    storage for the other — the report that decides which source to
    drop, upstream of any per-source dedup-rate number. Plan:
    pair-keyed joins to a 2-column doc projection + a <=|sources|^2
    rollup; the oracle replays the naive shared-shingle pair set, so
    the matrix is one more differential proof of the lossless
    blocking."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = confirmed_neardup_pairs(spark, sf_dir)
    da = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b")
    )
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy(
            F.least("source_a", "source_b").alias("src_lo"),
            F.greatest("source_a", "source_b").alias("src_hi"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


@query(
    "q_dedup_cluster_profile",
    oracle=f"""
    WITH RECURSIVE {_NAIVE_CONFIRMED_PAIRS_SQL},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach(doc_id, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.doc_id, e.b FROM reach r JOIN edges e ON e.a = r.lbl
    ), clusters AS (
        SELECT doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc_id
    ), sz AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM clusters GROUP BY cluster_id
    )
    SELECT CAST(length(bin(n)) AS BIGINT) AS size_band,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(MAX(n) AS BIGINT) AS largest,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS removable_docs
    FROM sz GROUP BY size_band
    """,
)
def q_dedup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER-SIZE census in log2 bands (band = bit-length
    of cluster size): clusters, docs, the largest cluster, and the
    docs dedup would remove per band — the shape report that
    separates a corpus of scattered pair-dups (band 2) from a
    template farm (one giant band-10+ cluster, where pair
    materialization itself goes quadratic and collapse-first
    strategies apply, cf. q_embed_neardup_collapsed). Composes the
    prefix-filtered confirm + the same bounded component resolution
    as q_text_neardup_dedup; the oracle solves components with the
    recursive-CTE closure over the naive pair set."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = confirmed_neardup_pairs(spark, sf_dir)
    clusters = resolve_dedup_clusters(pairs, docs)
    sz = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return sz.groupBy(
        F.length(F.bin("n")).cast("long").alias("size_band")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("n").cast("long").alias("n_docs"),
        F.max("n").cast("long").alias("largest"),
        (F.sum("n") - F.count(F.lit(1)))
        .cast("long")
        .alias("removable_docs"),
    )


@query(
    "q_tokenizer_compression",
    oracle="""
    WITH t AS (
        SELECT lang, source,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(len(list_filter(string_split(text, ' '),
                        x -> length(x) > 0)) AS BIGINT) AS n_words
        FROM documents
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS words_total,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           CAST((1000000 * SUM(n_chars)) // NULLIF(SUM(n_words), 0) AS BIGINT)
               AS chars_per_word_ppm
    FROM t GROUP BY lang, source
    """,
)
def q_tokenizer_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chars-per-word by (lang, source) in exact ppm — the
    tokenizer-budget face of corpus curation: training cost is priced
    in TOKENS but storage and crawling in BYTES, and the ratio varies
    by language and feed (a source whose ratio spikes is markup-heavy
    or long-word spam; across languages it calibrates per-language
    token budgets). Narrow 4-column projection, one rollup, nothing
    shuffles twice."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(
        F.filter(F.split("text", " "), lambda x: F.length(x) > 0)
    ).cast("long")
    t = docs.select(
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        n_words.alias("n_words"),
    )
    return t.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("words_total"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        # NULLIF guard: a (lang, source) group of all-empty documents
        # has zero words — ANSI Spark aborts the whole query on the
        # bare DIV while DuckDB // errors too; NULL ppm on both sides
        # is the defined degenerate value (the q_domain_tvd / funnel
        # discipline; round-9 hostile fuzzing at sf0.01 mass hit it)
        F.expr(
            "CAST((1000000 * SUM(n_chars)) DIV NULLIF(SUM(n_words), 0)"
            " AS BIGINT)"
        ).alias("chars_per_word_ppm"),
    )


@query(
    "q_prefix_blocking_stats",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    dfc AS (
        SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
        FROM sh GROUP BY shingle
    ),
    rk AS (
        SELECT s.doc_id, s.shingle,
               ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                  ORDER BY d.df, s.shingle) AS pos,
               COUNT(*) OVER (PARTITION BY s.doc_id) AS n
        FROM sh s JOIN dfc d USING (shingle)
    ),
    pg AS (
        SELECT shingle,
               CAST(COUNT(*) AS BIGINT) AS total_rows,
               CAST(SUM(CASE WHEN pos <= n - ((8 * n + 9) // 10) + 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS pcnt
        FROM rk GROUP BY shingle
    )
    SELECT CAST(SUM(total_rows) AS BIGINT) AS shingle_rows,
           CAST(SUM(pcnt) AS BIGINT) AS prefix_rows,
           CAST((1000000 * SUM(pcnt)) // SUM(total_rows) AS BIGINT)
               AS prefix_share_ppm,
           CAST(SUM(CASE WHEN pcnt > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS blocking_shingles,
           CAST(MAX(pcnt) AS BIGINT) AS max_block,
           CAST(SUM(CAST(pcnt AS HUGEINT) * (pcnt - 1)) // 2 AS BIGINT)
               AS candidate_budget
    FROM pg
    """,
)
def q_prefix_blocking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-cost census of the prefix filter at the composer
    threshold (t = 8/10): how many shingle rows survive into the
    prefix (share in ppm), how many distinct shingles actually block,
    the largest blocking group, and the candidate budget
    sum(cnt*(cnt-1)/2) over PREFIX groups — the direct, queryable
    measurement that prefix blocking bounded the join
    (`q_shingle_df_profile` reports the same budget for the NAIVE
    join; the gap between the two numbers is the filter's win, and a
    max_block that tracks max_df means the corpus needs a DF-cap on
    top). Plan: one df aggregation, one per-doc rank window, one
    per-shingle rollup, one single-row census — no joins between big
    sides, nothing quadratic anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, k=3)
    df_sh = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(df_sh, "shingle").select(
        "shingle",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("df", "shingle"))
        .alias("pos"),
        F.count(F.lit(1))
        .over(Window.partitionBy("doc_id"))
        .alias("n"),
    )
    pg = ranked.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(
            F.when(
                F.col("pos") <= F.expr("n - ((8 * n + 9) DIV 10) + 1"), 1
            ).otherwise(0)
        ).alias("pcnt"),
    )
    return pg.agg(
        F.sum("total_rows").cast("long").alias("shingle_rows"),
        F.sum("pcnt").cast("long").alias("prefix_rows"),
        F.expr(
            "CAST((1000000 * SUM(pcnt)) DIV SUM(total_rows) AS BIGINT)"
        ).alias("prefix_share_ppm"),
        F.sum(F.when(F.col("pcnt") > 0, 1).otherwise(0))
        .cast("long")
        .alias("blocking_shingles"),
        F.max("pcnt").cast("long").alias("max_block"),
        F.expr(
            "CAST(SUM(CAST(pcnt AS DECIMAL(38,0)) * (pcnt - 1)) / 2"
            " AS BIGINT)"
        ).alias("candidate_budget"),
    )


@query(
    "q_text_ngram_jaccard_sharded",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents WHERE source = 'src6')
        ) WHERE length(shingle) > 0
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), ovl AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT o.doc_a, o.doc_b, o.n_common,
           o.n_common * 1.0 / (sa.n + sb.n - o.n_common) AS jaccard
    FROM ovl o
    JOIN sizes sa ON o.doc_a = sa.doc_id
    JOIN sizes sb ON o.doc_b = sb.doc_id
    WHERE o.n_common * 1.0 / (sa.n + sb.n - o.n_common) > 0.2
    """,
)
def q_text_ngram_jaccard_sharded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION shape for low-threshold exact Jaccard at
    extreme scale: the prefix-filtered verifier scoped to ONE shard
    (source = 'src6' — a shard the synthetic corpus gives within-shard
    near-dups, so the check is non-vacuous) — the same move `q_jaccard_prefix_join` makes
    for token sets, registered here so the corpus-wide twin's
    documented candidate bound (SCALE.md round 7: ~50M candidates x
    two shingle arrays exceeds spill disk at 100x) has an in-tree
    answer rather than advice. Candidate count scales with the
    SHARD, not the corpus (run one job per shard; near-dups across
    shards at J>0.2 are what the corpus-wide LSH path is for). Same
    prefix blocking, same float threshold, same naive-join oracle —
    one more differential losslessness proof, per shard."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source") == "src6"
    )
    # Per-shard decision pass (r12, VERDICT #4): ONE pushed-filter
    # columnar count of the shard decides whether the CPU-spreading
    # machinery (spread_scan round-robin, pinned verify repartition)
    # can pay for itself. The file-size guard inside spread_scan
    # cannot see the shard filter's selectivity, and on the src6
    # shard at sf0.1 (250 docs) the spread + pin cost ~0.9 s against
    # ~0.15 s of actual work (measured; the full-corpus twins keep
    # both). At 100 TB this is one metadata-cheap count per shard
    # job — negligible against the shard's verify, and the threshold
    # scales with defaultParallelism, not a local constant.
    big = docs.count() >= (
        SPREAD_MIN_ROWS_PER_SLOT
        * spark.sparkContext.defaultParallelism
    )
    pairs = prefix_jaccard_pairs(
        shingles(docs, k=3, spread=big), 2, 10, pin_verify=big
    )
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common")
                * F.lit(1.0)
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") > 0.2)
    )


@query(
    "q_dfcap_prefilter_effect",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    dfc AS (
        SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
        FROM sh GROUP BY shingle
    ),
    droplist AS (
        SELECT shingle, df FROM dfc ORDER BY df DESC, shingle LIMIT 20
    ),
    capped AS (
        SELECT doc_id, shingle FROM sh
        WHERE shingle NOT IN (SELECT shingle FROM droplist)
    ),
    szf AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    ovf AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pf AS (
        SELECT doc_a, doc_b FROM ovf
        JOIN szf sa ON doc_a = sa.doc_id
        JOIN szf sb ON doc_b = sb.doc_id
        WHERE c * 1.0 / (sa.n + sb.n - c) > 0.8
    ),
    szc AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    ovc AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM capped a JOIN capped b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pc AS (
        SELECT doc_a, doc_b FROM ovc
        JOIN szc sa ON doc_a = sa.doc_id
        JOIN szc sb ON doc_b = sb.doc_id
        WHERE c * 1.0 / (sa.n + sb.n - c) > 0.8
    ),
    m AS (
        SELECT COALESCE(pf.doc_a, pc.doc_a) AS doc_a,
               CASE WHEN pf.doc_a IS NULL THEN 0 ELSE 1 END AS f,
               CASE WHEN pc.doc_a IS NULL THEN 0 ELSE 1 END AS c
        FROM pf FULL OUTER JOIN pc
          ON pf.doc_a = pc.doc_a AND pf.doc_b = pc.doc_b
    ),
    agg AS (
        SELECT CAST(SUM(f) AS BIGINT) AS n_pairs_full,
               CAST(SUM(c) AS BIGINT) AS n_pairs_capped,
               CAST(SUM(f * c) AS BIGINT) AS n_pairs_both
        FROM m
    )
    SELECT n_pairs_full, n_pairs_capped, n_pairs_both,
           CASE WHEN n_pairs_full = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST((1000000 * n_pairs_both) // n_pairs_full
                          AS BIGINT) END AS recall_ppm,
           CASE WHEN n_pairs_capped = 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST((1000000 * n_pairs_both) // n_pairs_capped
                          AS BIGINT) END AS precision_ppm,
           (SELECT CAST(SUM(df) AS BIGINT) FROM droplist) AS rows_dropped
    FROM agg
    """,
)
def q_dfcap_prefilter_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the boilerplate drop-list (VERDICT r7 next-round #8):
    anti-join the shingle frame against the top-20 hottest shingles —
    exactly the list ``q_boilerplate_shingles`` reports — and measure
    what the DF-cap does to the confirmed near-dup pair set at the
    composer threshold (J > 0.8). One row: pair counts on the full vs
    capped corpus, their overlap, recall/precision of the capped set
    against the full one (ppm, floor-div), and the shingle rows the
    cap removed (the join-side cost the cap buys back). Capping
    changes BOTH intersection and union, so capped pairs can appear
    as well as disappear — precision and recall are both reported,
    and both engines compute the identical deterministic cap (df
    DESC, shingle ASC, LIMIT 20), so the differential is exact, not
    a bound. The pair sets come from the lossless prefix filter on
    each corpus; the oracle replays BOTH naive joins — on the skewed
    boilerplate corpus this is the query that prices the
    drop-the-header decision before a production run commits to it.
    Plan: one vocabulary agg -> TakeOrdered(20) broadcast anti-join,
    two prefix-family pair jobs, one pair-keyed full-outer, one
    single-row census (the 1-row drop-cost frame rides a broadcast
    cross join, same carve-out as q_boilerplate_shingles)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, k=3)
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    droplist = dfc.orderBy(F.desc("df"), "shingle").limit(20)
    capped = sh.join(
        F.broadcast(droplist.select("shingle")), "shingle", "left_anti"
    )

    def confirmed(s: DataFrame) -> DataFrame:
        return (
            prefix_jaccard_pairs(s, 8, 10)
            .filter(
                F.col("n_common")
                * F.lit(1.0)
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
                > 0.8
            )
            .select("doc_a", "doc_b")
        )

    pf = confirmed(sh).withColumn("f", F.lit(1))
    pc = confirmed(capped).withColumn("c", F.lit(1))
    m = pf.join(pc, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("f", F.lit(0)).alias("f"),
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    agg = m.agg(
        F.sum("f").cast("long").alias("n_pairs_full"),
        F.sum("c").cast("long").alias("n_pairs_capped"),
        F.sum(F.col("f") * F.col("c")).cast("long").alias("n_pairs_both"),
    )
    drop_cost = droplist.agg(
        F.sum("df").cast("long").alias("rows_dropped")
    )
    return agg.crossJoin(F.broadcast(drop_cost)).select(
        "n_pairs_full",
        "n_pairs_capped",
        "n_pairs_both",
        F.when(F.col("n_pairs_full") == 0, F.lit(-1))
        .otherwise(
            F.expr("CAST((1000000 * n_pairs_both) DIV n_pairs_full AS BIGINT)")
        )
        .cast("long")
        .alias("recall_ppm"),
        F.when(F.col("n_pairs_capped") == 0, F.lit(-1))
        .otherwise(
            F.expr(
                "CAST((1000000 * n_pairs_both) DIV n_pairs_capped AS BIGINT)"
            )
        )
        .cast("long")
        .alias("precision_ppm"),
        "rows_dropped",
    )
