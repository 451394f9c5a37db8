"""Training-data sampling, splitting, and decontamination.

The operations a large-scale LLM-data pipeline runs after dedup/quality
filtering: deterministic sampling (reproducible subsets without a
stored seed state), hash-based train/valid/test splits (stable under
re-runs and shard re-ordering — the property rand()-based splits lose),
and benchmark decontamination (drop training docs that share n-grams
with an eval set; the n-gram-overlap rule from the GPT-3/PaLM data
papers).

All three use an ENGINE-PORTABLE hash — integer value of the first 6
md5 hex digits — so every assignment is bit-identical in Spark and the
DuckDB oracle, and at 100 TB is a narrow, shuffle-free projection
(sampling/split) or one semi join on shingles (decontamination).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.registry import query
from scylla_pg_cdc_spark.sources.tables import load_table

# 0..99 bucket from a portable hash; the 'split:' domain tag keeps
# this independent of any other md5-derived key in the pipeline
_BUCKET_SQL = (
    "CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 6))"
    " AS BIGINT) % 100"
)


def portable_bucket(col, domain: str = "split") -> "F.Column":
    """pmod-100 bucket of md5('<domain>:' || col) — identical value in
    Spark (conv base-16) and DuckDB ('0x' cast)."""
    h = F.md5(F.concat(F.lit(f"{domain}:"), F.col(col).cast("string")))
    return (F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % 100).alias(
        "bucket"
    )


@query(
    "q_sample_deterministic",
    oracle=f"""
    SELECT doc_id, source, CAST({_BUCKET_SQL} AS BIGINT) AS bucket
    FROM documents
    WHERE {_BUCKET_SQL} < 10
    """,
)
def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% sample: hash-bucket the key and keep buckets
    0-9. Unlike ``df.sample()``, membership is a pure function of the
    key — stable across runs, partitionings, and engines; narrow
    (no shuffle) and trivially composable with any upstream filter."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "source", portable_bucket("doc_id")
    ).filter(F.col("bucket") < 10)


@query(
    "q_train_test_split",
    oracle=f"""
    SELECT split, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM (
        SELECT source, n_chars,
               CASE WHEN {_BUCKET_SQL} < 90 THEN 'train'
                    WHEN {_BUCKET_SQL} < 95 THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents
    )
    GROUP BY split, source
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based 90/5/5 train/valid/test split with per-(split,
    source) doc and char counts. Assignment is deterministic per key,
    so adding shards or re-running never migrates a document between
    splits (no leakage across reruns)."""
    docs = load_table(spark, sf_dir, "documents")
    b = portable_bucket("doc_id")
    return (
        docs.select(
            "source",
            "n_chars",
            F.when(b < 90, "train").when(b < 95, "valid").otherwise("test")
            .alias("split"),
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


# Row budget for broadcasting the eval side of a shingle join, sized
# so ~64-byte shingles stay inside a ~300 MB executor broadcast.
BROADCAST_ROW_BUDGET = 5_000_000


def _eval_side(eval_sh: DataFrame, budget: int | None) -> DataFrame:
    """``eval_sh`` hinted as the build side of its shingle join: a
    broadcast while its row count is within ``budget`` (None skips the
    count probe), a shuffled hash build past it — broadcasting an
    over-budget side would OOM the executors."""
    if budget is None or eval_sh.count() <= budget:
        return F.broadcast(eval_sh)
    return eval_sh.hint("shuffle_hash")


def decontaminate(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    k: int = 13,
    broadcast_row_budget: int | None = BROADCAST_ROW_BUDGET,
) -> DataFrame:
    """Flag training docs sharing any k-token shingle with the eval
    set (the GPT-3/PaLM n-gram decontamination rule; k=13 is the
    published operating point, shorter k for short-doc corpora).

    Join-strategy switch (NEXT r2 #10): eval benchmarks are normally
    tiny, so the shingle semi join broadcasts the eval side. But "eval"
    can be a whole benchmark SUITE; once its distinct-shingle count
    passes ``broadcast_row_budget``, the plan switches to a shuffled
    hash semi join on the shingle key (``_eval_side``). The count()
    probe runs one aggregation over the SMALL side only; the 100 TB
    train side is never touched by the probe. Pass
    ``broadcast_row_budget=None`` when the eval set is known-small to
    skip the probe job entirely (the bench differ showed the probe
    itself costs one extra shuffle of the eval shingles)."""
    from scylla_pg_cdc_spark.operators.text import shingles

    eval_sh = shingles(eval_docs, k=k).select("shingle").distinct()
    train_sh = shingles(train_docs, k=k)
    hit = train_sh.join(
        _eval_side(eval_sh, broadcast_row_budget), "shingle", "left_semi"
    )
    dirty = (
        hit.select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        train_docs.select("doc_id")
        .join(dirty, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
    )


@query(
    "q_decontaminate",
    oracle=f"""
    WITH bucketed AS (
        SELECT doc_id, text, {_BUCKET_SQL} AS bucket FROM documents
    ), eval_sh AS (
        SELECT DISTINCT shingle FROM (
            SELECT unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT string_split(text, ' ') AS toks
                  FROM bucketed WHERE bucket >= 98)
        ) WHERE length(shingle) > 0
    ), train_sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM bucketed WHERE bucket < 98)
        ) WHERE length(shingle) > 0
    )
    SELECT t.doc_id,
           EXISTS (SELECT 1 FROM train_sh s
                   JOIN eval_sh e ON s.shingle = e.shingle
                   WHERE s.doc_id = t.doc_id) AS contaminated
    FROM bucketed t WHERE t.bucket < 98
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any
    3-token shingle with the held-out eval slice (hash buckets 98-99).
    Plan: eval shingles are tiny -> broadcast semi join against the
    training shingle explode; at 100 TB this is the standard
    13-gram-overlap decontamination pass with the eval set as the
    build side."""
    docs = load_table(spark, sf_dir, "documents")
    b = portable_bucket("doc_id")
    bucketed = docs.select("doc_id", "text", b)
    return decontaminate(
        bucketed.filter(F.col("bucket") < 98),
        bucketed.filter(F.col("bucket") >= 98),
        k=3,  # synthetic docs are ~30-120 tokens; 13-grams would never hit
        broadcast_row_budget=None,  # 2% eval slice: known broadcast-safe
    )


_MIX_BUCKET_SQL = (
    "CAST(('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 6))"
    " AS BIGINT) % 1000"
)


@query(
    "q_domain_mix",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN {_MIX_BUCKET_SQL} <
                    GREATEST(1000 - 45 * CAST(substring(source, 4) AS BIGINT),
                             100)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN {_MIX_BUCKET_SQL} <
                    GREATEST(1000 - 45 * CAST(substring(source, 4) AS BIGINT),
                             100)
                    THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
    FROM documents
    GROUP BY source
    """,
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture downsampling: each source gets a
    keep rate in permille (1000 - 45*source_index, floored at 100) and
    documents are kept by portable hash bucket — the per-domain
    sampling-weight pass a training-data pipeline runs to hit a target
    corpus mixture. Membership is a pure function of doc_id, so
    re-running, resharding, or incrementally appending data never
    migrates a document in or out of the mix. Narrow until the final
    per-source rollup (one partial-agg shuffle of 20 rows)."""
    docs = load_table(spark, sf_dir, "documents")
    idx = F.substring("source", 4, 8).cast("long")
    rate = F.greatest(F.lit(1000) - F.lit(45) * idx, F.lit(100))
    h = F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    bucket = F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % 1000
    keep = bucket < rate
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_kept"),
    )


@query(
    "q_weighted_sample",
    oracle="""
    WITH w AS (
        SELECT doc_id, n_chars,
               CAST((strpos('0123456789abcdef', substr(md5('ws:' ||
                        CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 268435456
                  + (strpos('0123456789abcdef', substr(md5('ws:' ||
                        CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16777216
                  + (strpos('0123456789abcdef', substr(md5('ws:' ||
                        CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 1048576
                  + (strpos('0123456789abcdef', substr(md5('ws:' ||
                        CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 65536
                  + (strpos('0123456789abcdef', substr(md5('ws:' ||
                        CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 4096
                  + (strpos('0123456789abcdef', substr(md5('ws:' ||
                        CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * 256
                  + (strpos('0123456789abcdef', substr(md5('ws:' ||
                        CAST(doc_id AS VARCHAR)), 7, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(md5('ws:' ||
                        CAST(doc_id AS VARCHAR)), 8, 1)) - 1)
                 AS BIGINT) AS hv
        FROM documents
    ), tot AS (
        SELECT SUM(n_chars) AS w_total,
               COUNT(*) AS n_docs
        FROM documents
    )
    SELECT w.doc_id, w.n_chars
    FROM w CROSS JOIN tot t
    WHERE CAST(w.hv AS HUGEINT) * CAST(t.w_total AS HUGEINT)
        < CAST(t.n_docs // 10 AS HUGEINT)
          * CAST(w.n_chars AS HUGEINT) * CAST(4294967296 AS HUGEINT)
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted Bernoulli sample: document d is kept
    with probability proportional to its length (n_chars), targeting
    ~10% of the corpus in expectation — the size-biased sampling used
    when a training mixture should weight by content volume, not
    document count. Keep iff ``hash(d) * W_total < E * w_d * 2^32``
    with E = n_docs/10: a pure exact-integer comparison on a portable
    md5-prefix hash, so the sample is a reproducible function of the
    data (any engine, any partitioning, any re-run draws the same
    docs). Both sides widen past int64 before multiplying — Spark
    decimal(38,0), DuckDB HUGEINT — because hv*W_total overflows
    bigint once the corpus passes ~2^31 chars (~2 GB of text); the
    widened comparison is exact to products of 1e38, i.e. corpora to
    ~1e28 chars, far past 100 TB. Plan: one total-weight aggregate
    broadcast onto a narrow scan — fully map-parallel at any corpus
    size."""
    docs = load_table(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    tot = docs.agg(
        F.sum("n_chars").alias("w_total"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return (
        docs.select("doc_id", "n_chars", hv.alias("hv"))
        .crossJoin(F.broadcast(tot))
        .filter(
            F.col("hv").cast("decimal(38,0)")
            * F.col("w_total").cast("decimal(38,0)")
            < F.expr(
                "CAST(n_docs DIV 10 AS DECIMAL(38,0))"
                " * CAST(n_chars AS DECIMAL(38,0))"
                " * CAST(4294967296 AS DECIMAL(38,0))"
            )
        )
        .select("doc_id", "n_chars")
    )


@query(
    "q_contamination_report",
    oracle=f"""
    WITH bucketed AS (
        SELECT doc_id, text, {_BUCKET_SQL} AS bucket FROM documents
    ), eval_sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM bucketed WHERE bucket >= 98)
        ) WHERE length(shingle) > 0
    ), train_sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM bucketed WHERE bucket < 98)
        ) WHERE length(shingle) > 0
    ), tot AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
        FROM eval_sh GROUP BY doc_id
    ), leaked AS (
        SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_leaked
        FROM eval_sh e
        WHERE EXISTS (SELECT 1 FROM train_sh t WHERE t.shingle = e.shingle)
        GROUP BY e.doc_id
    ), hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_train_docs
        FROM (
            SELECT DISTINCT e.doc_id, t.doc_id AS train_doc
            FROM eval_sh e JOIN train_sh t ON e.shingle = t.shingle
        ) GROUP BY doc_id
    )
    SELECT tot.doc_id, tot.n_shingles,
           CAST(COALESCE(l.n_leaked, 0) AS BIGINT) AS n_leaked,
           CAST(COALESCE(h.n_train_docs, 0) AS BIGINT) AS n_train_docs,
           CAST((1000000 * COALESCE(l.n_leaked, 0)) // tot.n_shingles
                AS BIGINT) AS leak_ppm
    FROM tot
    LEFT JOIN leaked l ON tot.doc_id = l.doc_id
    LEFT JOIN hits h ON tot.doc_id = h.doc_id
    """,
)
def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVAL-side contamination audit — the mirror of
    ``q_decontaminate`` (which flags TRAINING docs): for every
    held-out eval document, how many of its 3-token shingles leak
    into the training slice, and how many distinct training documents
    carry at least one — the report an eval-integrity review reads
    before trusting a benchmark number. Plan: eval shingles are the
    tiny side (2% hash slice) and join the training shingle stream;
    the per-(eval, train) hit pairs are bounded by shared shingles.
    The eval side broadcasts under the same row-budget guard as
    decontaminate (``_eval_side``): an eval slice past
    ``BROADCAST_ROW_BUDGET`` rows becomes a shuffled hash build.

    r12 (guide §3.1/§2.3): ONE eval-side-build join feeds BOTH
    counts as countDistincts — n_leaked = distinct matched ev shingles
    (ev is already distinct per (doc, shingle), so this equals the old
    semi-join row count) and n_train_docs = distinct matched train
    docs (the old distinct-pair count). The old two-join form let the
    planner BROADCAST THE TRAIN VOCABULARY for the semi join (build =
    98% of the corpus — backwards at any scale) and paid the train
    side twice; now the 2% eval side is the stated build side and the
    train stream is scanned once, never aggregated corpus-wide."""
    from scylla_pg_cdc_spark.operators.text import shingles

    docs = load_table(spark, sf_dir, "documents")
    bucketed = docs.select("doc_id", "text", portable_bucket("doc_id"))
    ev = shingles(bucketed.filter(F.col("bucket") >= 98), k=3)
    tr = shingles(bucketed.filter(F.col("bucket") < 98), k=3)
    tot = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    m = _eval_side(ev, BROADCAST_ROW_BUDGET).join(
        tr.select(F.col("shingle"), F.col("doc_id").alias("train_doc")),
        "shingle",
    )
    counts = m.groupBy("doc_id").agg(
        F.count_distinct("shingle").alias("n_leaked"),
        F.count_distinct("train_doc").alias("n_train_docs"),
    )
    return (
        tot.join(counts, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_leaked", F.lit(0)).cast("long").alias("n_leaked"),
            F.coalesce("n_train_docs", F.lit(0))
            .cast("long")
            .alias("n_train_docs"),
            F.expr(
                "CAST((1000000 * COALESCE(n_leaked, 0)) DIV n_shingles"
                " AS BIGINT)"
            ).alias("leak_ppm"),
        )
    )


@query(
    "q_split_leakage",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, md5(text) AS h,
               CASE WHEN {_BUCKET_SQL} < 90 THEN 'train'
                    WHEN {_BUCKET_SQL} < 95 THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents
    ), g AS (
        SELECT h,
               CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_train,
               CAST(SUM(CASE WHEN split = 'valid' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_valid,
               CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_test
        FROM s GROUP BY h
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_texts,
           CAST(SUM(CASE WHEN n_train > 0 AND (n_valid > 0 OR n_test > 0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_texts,
           CAST(SUM(CASE WHEN n_train > 0 AND (n_valid > 0 OR n_test > 0)
                    THEN n_valid + n_test ELSE 0 END) AS BIGINT)
               AS n_heldout_docs_leaked,
           CAST(SUM(CASE WHEN n_train > 0 AND (n_valid > 0 OR n_test > 0)
                    THEN n_train ELSE 0 END) AS BIGINT)
               AS n_train_docs_involved
    FROM g
    """,
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-hygiene audit: EXACT texts that appear on BOTH sides of
    the train / held-out boundary of the hash split — the leakage
    that silently inflates every benchmark number even when doc_ids
    differ (the split is keyed on doc_id, so two copies of one text
    can land in different splits; ``q_contamination_report`` catches
    n-gram overlap, this catches whole-text duplication). One content-
    hash aggregation carrying the per-split counts + a single-row
    rollup — linear, and the fix it motivates is exact dedup BEFORE
    splitting (`q_text_exact_dedup`)."""
    docs = load_table(spark, sf_dir, "documents")
    b = portable_bucket("doc_id")
    s = docs.select(
        F.md5("text").alias("h"),
        F.when(b < 90, "train")
        .when(b < 95, "valid")
        .otherwise("test")
        .alias("split"),
    )
    g = s.groupBy("h").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "n_train"
        ),
        F.sum(F.when(F.col("split") == "valid", 1).otherwise(0)).alias(
            "n_valid"
        ),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias(
            "n_test"
        ),
    )
    leaky = (F.col("n_train") > 0) & (
        (F.col("n_valid") > 0) | (F.col("n_test") > 0)
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_texts"),
        F.sum(F.when(leaky, 1).otherwise(0))
        .cast("long")
        .alias("n_leaky_texts"),
        F.sum(
            F.when(leaky, F.col("n_valid") + F.col("n_test")).otherwise(0)
        )
        .cast("long")
        .alias("n_heldout_docs_leaked"),
        F.sum(F.when(leaky, F.col("n_train")).otherwise(0))
        .cast("long")
        .alias("n_train_docs_involved"),
    )


@query(
    "q_token_budget_mix",
    oracle="""
    WITH per_src AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           CAST((1000000 * n_tokens)
                // SUM(n_tokens) OVER () AS BIGINT) AS share_ppm,
           CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE))
                      / SUM(sqrt(CAST(n_tokens AS DOUBLE))) OVER ()
                      * 1000000 + 0.5) AS BIGINT) AS w_alpha05_micro,
           CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE))
                      / SUM(sqrt(CAST(n_tokens AS DOUBLE))) OVER ()
                      * (CAST(SUM(n_tokens) OVER () AS DOUBLE) / n_tokens)
                      * 1000000 + 0.5) AS BIGINT) AS oversample_micro
    FROM per_src
    """,
)
def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened corpus mixing weights (alpha = 0.5) per
    source — the sampling table an LLM training run derives before
    drawing batches (rare domains get up-weighted by sqrt-flattening,
    the standard multinomial-temperature move): raw token share (ppm,
    exact integer floor-div), the alpha=0.5 sampling weight, and the
    resulting per-domain oversampling factor weight/share (>1e6 micro
    means the domain is seen more often than raw proportion). Token
    counts are whitespace tokens (the ``q_text_token_count``
    convention); weights are half-up micro-quantized so the 20-term
    float denominator is engine-stable. Plan: one per-source
    aggregation shuffle, then window totals over the 20-row frame
    (Exchange Single on a dimension-sized frame, never a broadcast
    nested loop)."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ")))
        .cast("long")
        .alias("n_tokens"),
    )
    w_all = Window.partitionBy()
    sq = F.sqrt(F.col("n_tokens").cast("double"))
    sq_sum = F.sum(sq).over(w_all)
    tok_sum = F.sum("n_tokens").over(w_all)
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("n_tokens").alias("_t"),
        tok_sum.alias("_ts"),
        (sq / sq_sum).alias("_w"),
    ).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("CAST((1000000 * _t) DIV _ts AS BIGINT)").alias(
            "share_ppm"
        ),
        F.floor(F.col("_w") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("w_alpha05_micro"),
        F.floor(
            F.col("_w")
            * (F.col("_ts").cast("double") / F.col("_t"))
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("oversample_micro"),
    )


def _langid_scores_sql() -> str:
    from scylla_pg_cdc_spark.operators.text import STOPWORDS

    return " , ".join(
        "len(list_filter(string_split(text, ' '), "
        f"t -> t IN ({', '.join(repr(w) for w in ws)}))) AS score_{lang}"
        for lang, ws in STOPWORDS.items()
    )


_PRED_LANG_SQL = """
           CASE WHEN score_en >= score_es AND score_en >= score_de
                     AND score_en >= score_fr AND score_en >= score_zh
                     AND score_en > 0 THEN 'en'
                WHEN score_es >= score_de AND score_es >= score_fr
                     AND score_es >= score_zh AND score_es > 0 THEN 'es'
                WHEN score_de >= score_fr AND score_de >= score_zh
                     AND score_de > 0 THEN 'de'
                WHEN score_fr >= score_zh AND score_fr > 0 THEN 'fr'
                WHEN score_zh > 0 THEN 'zh'
                ELSE 'unknown' END
"""

_FUNNEL_STAGE_SQL = """
    SELECT CAST({idx} AS BIGINT) AS stage_idx, '{name}' AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(n_words), 0) AS BIGINT) AS n_tokens
    FROM {src}
"""


def _funnel_oracle() -> str:
    scores = _langid_scores_sql()
    stages = " UNION ALL ".join(
        _FUNNEL_STAGE_SQL.format(idx=i, name=n, src=s)
        for i, (n, s) in enumerate([
            ("ingest", "flags"), ("langid_ok", "s2"),
            ("quality_keep", "s3"), ("exact_unique", "s4"),
            ("train_split", "s5"), ("decontaminated", "s6"),
        ])
    )
    return f"""
    WITH d AS (
        SELECT doc_id, lang, text,
               string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n_words,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               {_BUCKET_SQL} AS bucket,
               {scores}
        FROM documents
    ), flags AS (
        SELECT doc_id, text, toks, n_words, bucket,
               COALESCE(({_PRED_LANG_SQL}) = lang, FALSE) AS f_lang,
               (n_words >= 30 AND n_words <= 90
                AND 2 * n_distinct >= n_words
                AND score_en > 0) AS q_ok
        FROM d
    ),
    s2 AS (SELECT * FROM flags WHERE f_lang),
    s3 AS (SELECT * FROM s2 WHERE q_ok),
    s4 AS (
        SELECT * FROM (
            SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
            FROM s3
        ) WHERE doc_id = keeper
    ),
    s5 AS (SELECT * FROM s4 WHERE bucket < 98),
    eval_sh AS (
        SELECT DISTINCT shingle FROM (
            SELECT unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM d WHERE bucket >= 98
        ) WHERE length(shingle) > 0
    ),
    tr_sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM s5
        ) WHERE length(shingle) > 0
    ),
    dirty AS (
        SELECT DISTINCT t.doc_id
        FROM tr_sh t JOIN eval_sh e USING (shingle)
    ),
    s6 AS (
        SELECT * FROM s5
        WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
    ),
    stages AS ({stages})
    SELECT stage_idx, stage, n_docs, n_tokens,
           CAST(COALESCE(
               (1000000 * n_docs)
               // NULLIF(LAG(n_docs) OVER (ORDER BY stage_idx), 0),
               1000000) AS BIGINT) AS docs_kept_ppm,
           CAST(COALESCE(
               (1000000 * n_tokens)
               // NULLIF(LAG(n_tokens) OVER (ORDER BY stage_idx), 0),
               1000000) AS BIGINT) AS tokens_kept_ppm
    FROM stages
    """


@query("q_llm_pipeline_funnel", oracle=_funnel_oracle())
def q_llm_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM training-data pipeline funnel: the six curation
    stages run IN SEQUENCE over one corpus — ingest -> language-ID
    agreement (predicted == labeled, the mislabel guard) -> C4/Gopher
    quality gate (length band, lexical diversity, stopword presence)
    -> exact dedup (keep-lowest doc_id per md5(text), computed among
    the docs that REACHED this stage, not globally) -> train split
    (hash buckets 0-97) -> benchmark decontamination (drop docs
    sharing any 3-shingle with the held-out bucket-98/99 slice) —
    with per-stage doc/token counts and stage-over-stage retention in
    exact ppm. The single table a curation run is judged by: every
    individual stage already exists as its own query
    (q_text_langid / q_quality_filter / q_text_exact_dedup /
    q_train_test_split / q_decontaminate); this composes them in
    pipeline ORDER, where each stage's population is the previous
    stage's survivors, which none of the per-stage reports can show.
    Plan: ONE corpus pass — every doc is labeled with the highest
    stage it survives to (language/quality flags are pure column
    expressions; exact-dedup survivorship is a CONDITIONAL min window
    on md5(text), so losers and winners are decided in the same pass;
    contamination is the broadcast shingle semi-join from
    ``decontaminate``, eval side ~2% of docs), then a 6-bucket
    histogram whose SUFFIX sums are exactly the per-stage populations
    (a doc that reached stage j is alive in stages 0..j). The chain
    is never re-evaluated per stage, unlike the naive
    one-frame-per-stage union, which re-runs the dedup window three
    times. Retention ppm is integer floor-division with a NULLIF
    guard so an empty stage reports 1e6 passthrough instead of
    dividing by zero (both engines, identical rule; the oracle keeps
    the readable chained-CTE form, which DuckDB materializes once per
    multiply-referenced stage)."""
    from scylla_pg_cdc_spark.operators.text import (
        STOPWORDS,
        _stopword_hits,
        shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_words = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    scores = {lang: _stopword_hits(lang) for lang in STOPWORDS}
    pred = (
        F.when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["zh"])
            & (scores["en"] > 0),
            "en",
        )
        .when(
            (scores["es"] >= scores["de"])
            & (scores["es"] >= scores["fr"])
            & (scores["es"] >= scores["zh"])
            & (scores["es"] > 0),
            "es",
        )
        .when(
            (scores["de"] >= scores["fr"])
            & (scores["de"] >= scores["zh"])
            & (scores["de"] > 0),
            "de",
        )
        .when((scores["fr"] >= scores["zh"]) & (scores["fr"] > 0), "fr")
        .when(scores["zh"] > 0, "zh")
        .otherwise("unknown")
    )
    flags = docs.select(
        "doc_id",
        "text",
        n_words.cast("long").alias("n_words"),
        portable_bucket("doc_id"),
        # COALESCE both sides: a NULL label cannot agree with the
        # prediction, so langid FAILS. Unguarded, Spark's negated
        # when(~f_lang) let the NULL fall through to PASS while the
        # oracle's WHERE f_lang dropped it (round-9 dim-null fuzzing).
        F.coalesce(pred == F.col("lang"), F.lit(False)).alias("f_lang"),
        (
            (n_words >= 30)
            & (n_words <= 90)
            & (2 * n_distinct >= n_words)
            & (scores["en"] > 0)
        ).alias("q_ok"),
    )
    # SINGLE corpus pass: label every doc with the HIGHEST stage it
    # survives to, histogram by that label, and rebuild per-stage
    # populations as suffix sums — the naive per-stage-frame union
    # re-evaluated the whole chain once per stage (the dedup window
    # three times over). The keeper window uses a CONDITIONAL min so
    # dedup is decided among quality survivors without a pre-filter
    # pass: for any doc with f_lang AND q_ok the min is non-null (the
    # doc itself qualifies), and for others reach3 is already false.
    keeper = F.min(
        F.when(F.col("f_lang") & F.col("q_ok"), F.col("doc_id"))
    ).over(Window.partitionBy(F.md5("text")))
    staged = flags.withColumn(
        "reach3",
        F.col("f_lang") & F.col("q_ok") & (F.col("doc_id") == keeper),
    )
    eval_sh = (
        shingles(
            docs.select("doc_id", "text", portable_bucket("doc_id"))
            .filter(F.col("bucket") >= 98)
            .select("doc_id", "text"),
            k=3,
        )
        .select("shingle")
        .distinct()
    )
    cand = staged.filter(F.col("reach3") & (F.col("bucket") < 98))
    dirty = (
        shingles(cand.select("doc_id", "text"), k=3)
        .join(F.broadcast(eval_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_dirty", F.lit(True))
    )
    stage_reached = (
        F.when(~F.col("f_lang"), 0)
        .when(~F.col("q_ok"), 1)
        .when(~F.col("reach3"), 2)
        .when(F.col("bucket") >= 98, 3)
        .when(F.col("is_dirty"), 4)
        .otherwise(5)
        .cast("long")
    )
    hist = (
        staged.join(dirty, "doc_id", "left")
        .groupBy(stage_reached.alias("stage_reached"))
        .agg(
            F.count(F.lit(1)).alias("d"),
            F.sum("n_words").alias("t"),
        )
    )
    # a stage no doc stops at still needs its histogram row: union a
    # zero row per stage, then suffix-cumulate over the 6-row frame
    zeros = spark.createDataFrame(
        [(i, 0, 0) for i in range(6)], "stage_reached long, d long, t long"
    )
    full = (
        hist.unionByName(zeros)
        .groupBy("stage_reached")
        .agg(F.sum("d").alias("d"), F.sum("t").alias("t"))
    )
    wcum = Window.orderBy(F.desc("stage_reached")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    names = F.element_at(
        F.array(
            *[
                F.lit(n)
                for n in (
                    "ingest", "langid_ok", "quality_keep",
                    "exact_unique", "train_split", "decontaminated",
                )
            ]
        ),
        (F.col("stage_idx") + 1).cast("int"),
    )
    cum = full.select(
        F.col("stage_reached").alias("stage_idx"),
        F.sum("d").over(wcum).cast("long").alias("n_docs"),
        F.sum("t").over(wcum).cast("long").alias("n_tokens"),
    ).select("stage_idx", names.alias("stage"), "n_docs", "n_tokens")
    ppm = lambda c: F.coalesce(  # noqa: E731
        F.expr(
            f"CAST((1000000 * {c})"
            f" DIV NULLIF(LAG({c}) OVER"
            f" (ORDER BY stage_idx), 0) AS BIGINT)"
        ),
        F.lit(1000000),
    )
    return cum.select(
        "stage_idx",
        "stage",
        "n_docs",
        "n_tokens",
        ppm("n_docs").alias("docs_kept_ppm"),
        ppm("n_tokens").alias("tokens_kept_ppm"),
    )
