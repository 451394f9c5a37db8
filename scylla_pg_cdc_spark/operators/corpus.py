"""Corpus-statistics operators: collocation mining, inverted-index
construction, domain-distribution divergence, and in-domain document
scoring — the LM-training-data selection layer on top of the token
pipeline in ``operators/text.py``.

Reference anchor: the reference validates warehouse content with
aggregate SQL probes (``tests/validation/warehouse_checks.sql``); these
operators extend that idea to the corpus-quality checks an LLM data
pipeline runs before training (collocation extraction, contamination
layout via inverted index, domain drift, Moore-Lewis-style selection).

Numeric portability rule (repo-wide): checked float paths use ONLY
``+ - * /`` and ``sqrt`` — IEEE-correctly-rounded and therefore
bit-identical across Spark and DuckDB — never libm transcendentals
(``ln``/``exp``/``pow``), which differ in the last ulp between engines.
Where a textbook metric is log-based (PMI, KL, cross-entropy
perplexity), we compute the rank-equivalent *ratio* form (lift,
chi-square, mean inverse-probability) and quantize each per-row term to
an integer BEFORE any cross-row sum, so sums are order-independent
exact integers. The quantized terms are computed by expression trees
mirrored operation-for-operation in the DuckDB oracle.

Scale shape (100 TB): every operator here is explode -> count
aggregations (map-side partial combine, shuffle bounded by vocabulary
or bigram-vocabulary size) -> broadcast joins of vocabulary-sized
frequency tables back onto the token stream. Corpus totals ride along
as a broadcast one-row cross join. No all-pairs joins, no windows over
the full corpus, no driver collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.registry import query
from scylla_pg_cdc_spark.sources.tables import load_table


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, token) with repetition, empty tokens dropped."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "source",
        F.explode(F.split("text", " ")).alias("token"),
    ).filter(F.length("token") > 0)


_TOK_SQL = """
        SELECT doc_id, source,
               unnest(string_split(text, ' ')) AS token
        FROM documents
"""


@query(
    "q_bigram_colloc",
    oracle="""
    WITH toks AS (
        SELECT string_split(text, ' ') AS l FROM documents
    ), uni AS (
        SELECT w, COUNT(*) AS c FROM (
            SELECT unnest(l) AS w FROM toks
        ) WHERE length(w) > 0 GROUP BY w
    ), big AS (
        SELECT w1, w2, COUNT(*) AS c_xy FROM (
            SELECT l[i] AS w1, l[i + 1] AS w2
            FROM (SELECT l, unnest(range(1, len(l))) AS i FROM toks)
        ) WHERE length(w1) > 0 AND length(w2) > 0 GROUP BY w1, w2
    ), tot AS (
        SELECT (SELECT SUM(c) FROM uni) AS n1,
               (SELECT SUM(c_xy) FROM big) AS n2
    )
    SELECT b.w1, b.w2, b.c_xy,
           u1.c AS c_x, u2.c AS c_y,
           CAST(FLOOR(b.c_xy * 1.0 * t.n1 * t.n1
                      / (t.n2 * 1.0 * u1.c * u2.c)
                      * 1000000.0 + 0.5) AS BIGINT) AS lift_micro
    FROM big b
    JOIN uni u1 ON b.w1 = u1.w
    JOIN uni u2 ON b.w2 = u2.w
    CROSS JOIN tot t
    WHERE b.c_xy >= 5
      AND CAST(10 AS HUGEINT) * b.c_xy * t.n1 * t.n1
        > CAST(11 AS HUGEINT) * t.n2 * u1.c * u2.c
    ORDER BY b.c_xy DESC, b.w1, b.w2
    LIMIT 200
    """,
)
def q_bigram_colloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: bigrams occurring >= 5 times whose observed
    count exceeds 1.1x the independence expectation — the ratio
    (lift) form of PMI, which ranks identically to PMI (log is
    monotone) without a cross-engine ln(). The independence test
    ``10 * c_xy * N1^2 > 11 * N2 * c_x * c_y`` is exact integer
    cross-multiplication (no float in the filter), widened past int64
    (Spark decimal(38,0), DuckDB HUGEINT) because N1^2 alone overflows
    bigint at ~3e9 tokens; the widened form is exact while
    10*c_xy*N1^2 <= 1e38, i.e. to roughly 2e12 tokens (~10 TB of
    text) in the adversarial c_xy≈N1 corner — beyond that, shard the
    counts or drop to the float lift. The reported lift is
    micro-quantized from a mirrored double expression.
    Plan: two token-count aggregations (bigram counts built row-locally
    with zip_with, no join), vocabulary-sized unigram table broadcast
    back onto the bigram table, corpus totals as a broadcast one-row
    cross join, top-200 via TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    l = F.split("text", " ")
    uni = (
        docs.select(F.explode(l).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = docs.select(
        F.explode(
            F.zip_with(
                F.slice(l, 1, F.size(l) - 1),
                F.slice(l, 2, F.size(l) - 1),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = (
        pairs.filter((F.length("w1") > 0) & (F.length("w2") > 0))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    tot = uni.agg(F.sum("c").alias("n1")).crossJoin(
        big.agg(F.sum("c_xy").alias("n2"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    lift = (
        F.col("c_xy") * F.lit(1.0) * F.col("n1") * F.col("n1")
        / (F.col("n2") * F.lit(1.0) * F.col("c_x") * F.col("c_y"))
        * F.lit(1000000.0)
        + F.lit(0.5)
    )
    return (
        big.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .filter(
            (F.col("c_xy") >= 5)
            & (
                F.expr(
                    "CAST(10 AS DECIMAL(38,0)) * c_xy * n1 * n1"
                    " > CAST(11 AS DECIMAL(38,0)) * n2 * c_x * c_y"
                )
            )
        )
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            F.floor(lift).cast("long").alias("lift_micro"),
        )
        .orderBy(F.col("c_xy").desc(), "w1", "w2")
        .limit(200)
    )


@query(
    "q_inverted_index",
    oracle="""
    WITH dtok AS (
        SELECT DISTINCT doc_id, token FROM (
""" + _TOK_SQL + """
        ) WHERE length(token) > 0
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(
               list_transform((list_sort(list(doc_id)))[1:15],
                              x -> CAST(x AS VARCHAR)), ',') AS postings
    FROM dtok
    GROUP BY token
    ORDER BY df DESC, token
    LIMIT 100
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: token -> document frequency + the
    first 15 postings (doc_ids ascending, comma-joined) for the 100
    highest-df tokens. The posting-list build is ONE aggregation
    (collect_set bounded per token by df); truncating to 15 before
    stringifying bounds row width, and at 100 TB the full untruncated
    variant writes postings partitioned by token hash instead of
    collecting them into one row group. This is the layout
    contamination lookups and TF-IDF serving both read."""
    dtok = _tokens(spark, sf_dir).select("token", "doc_id").distinct()
    postings = F.array_join(
        F.transform(
            F.slice(F.array_sort(F.collect_set("doc_id")), 1, 15),
            lambda x: x.cast("string"),
        ),
        ",",
    )
    return (
        dtok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            postings.alias("postings"),
        )
        .orderBy(F.col("df").desc(), "token")
        .limit(100)
    )


@query(
    "q_domain_chisq",
    oracle="""
    WITH tok AS (
        SELECT source, token FROM (
""" + _TOK_SQL + """
        ) WHERE length(token) > 0
    ), stc AS (
        SELECT source, token, COUNT(*) AS o FROM tok GROUP BY source, token
    ), ctc AS (
        SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), src AS (
        SELECT source, COUNT(*) AS ns FROM tok GROUP BY source
    ), tot AS (
        SELECT COUNT(*) AS n1 FROM tok
    ), terms AS (
        SELECT s.source, src.ns,
               s.o * 1.0 * t.n1 - ctc.c * 1.0 * src.ns AS num,
               ctc.c * 1.0 * src.ns * t.n1 AS den
        FROM stc s
        JOIN ctc ON s.token = ctc.token
        JOIN src ON s.source = src.source
        CROSS JOIN tot t
        WHERE ctc.c >= 5
    )
    SELECT source,
           CAST(MIN(ns) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(CAST(FLOOR(num * num / den * 1000000.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS chisq_micro
    FROM terms
    GROUP BY source
    """,
)
def q_domain_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift vs the whole corpus,
    measured as the chi-square statistic Σ (observed - expected)² /
    expected over tokens with corpus count >= 5 — the ratio-form
    divergence that replaces KL (which needs ln) for detecting when
    one ingest source's language shifts away from the corpus mix.
    Each term is micro-quantized BEFORE the per-source sum, so the
    sum is an order-independent exact integer under any partitioning.
    Plan: three count aggregations, then vocabulary-sized broadcast
    joins; output is one row per source."""
    tok = _tokens(spark, sf_dir).select("source", "token")
    stc = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("o"))
    ctc = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    src = tok.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    tot = tok.agg(F.count(F.lit(1)).alias("n1"))
    num = (
        F.col("o") * F.lit(1.0) * F.col("n1")
        - F.col("c") * F.lit(1.0) * F.col("ns")
    )
    den = F.col("c") * F.lit(1.0) * F.col("ns") * F.col("n1")
    terms = (
        stc.join(F.broadcast(ctc), "token")
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("c") >= 5)
        .select(
            "source",
            "ns",
            num.alias("num"),
            den.alias("den"),
        )
    )
    term_micro = F.floor(
        F.col("num") * F.col("num") / F.col("den") * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    return terms.groupBy("source").agg(
        F.min("ns").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(term_micro).alias("chisq_micro"),
    )


@query(
    "q_doc_domain_lift",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source, token FROM (
""" + _TOK_SQL + """
        ) WHERE length(token) > 0
    ), stc AS (
        SELECT source, token, COUNT(*) AS o FROM tok GROUP BY source, token
    ), ctc AS (
        SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), src AS (
        SELECT source, COUNT(*) AS ns FROM tok GROUP BY source
    ), tot AS (
        SELECT COUNT(*) AS n1 FROM tok
    )
    SELECT tok.doc_id,
           tok.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM((CAST(1000000 AS HUGEINT) * stc.o * t.n1)
                     // (CAST(ctc.c AS HUGEINT) * src.ns))
                // COUNT(*) AS BIGINT) AS domain_lift_ppm
    FROM tok
    JOIN stc ON tok.source = stc.source AND tok.token = stc.token
    JOIN ctc ON tok.token = ctc.token
    JOIN src ON tok.source = src.source
    CROSS JOIN tot t
    GROUP BY tok.doc_id, tok.source
    """,
)
def q_doc_domain_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moore-Lewis-style in-domain document scoring, log-free: each
    token contributes its source-LM/corpus-LM probability ratio
    p_source(t)/p_corpus(t) = (o_st / Ns) / (c_t / N1) in exact ppm
    via integer floor-division widened past int64 (Spark
    decimal(38,0), DuckDB HUGEINT — 1e6*o*N1 overflows bigint near
    1e9 tokens; widened it is exact to ~3e15 tokens, ~10 PB of
    text), and the document score is the mean over
    its tokens — documents whose vocabulary is characteristic of their
    source score above 1e6, generic documents score below. This is the
    selection signal used to pick in-domain training data without a
    cross-engine ln(). Plan: the token stream joins two broadcast
    vocabulary-sized count tables plus broadcast totals, then one
    per-doc aggregation of exact integers."""
    tok = _tokens(spark, sf_dir)
    stc = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("o"))
    ctc = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    src = tok.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    tot = tok.agg(F.count(F.lit(1)).alias("n1"))
    return (
        tok.join(F.broadcast(stc), ["source", "token"])
        .join(F.broadcast(ctc), "token")
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.expr(
                "CAST(SUM((CAST(1000000 AS DECIMAL(38,0)) * o * n1)"
                " DIV (CAST(c AS DECIMAL(38,0)) * ns))"
                " DIV COUNT(1) AS BIGINT)"
            ).alias("domain_lift_ppm"),
        )
    )


@query(
    "q_doc_lexical_diversity",
    oracle="""
    WITH tok AS (
        SELECT doc_id, token FROM (
""" + _TOK_SQL + """
        ) WHERE length(token) > 0
    ), tc AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST((1000000 * COUNT(*)) // SUM(c) AS BIGINT) AS ttr_ppm,
           CAST(1000000 - (1000000 * SUM(c * c))
                // (SUM(c) * SUM(c)) AS BIGINT) AS gini_ppm
    FROM tc GROUP BY doc_id
    """,
)
def q_doc_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity document scores, log-free: type-token ratio
    and Gini impurity 1 - Σp² of the within-doc token distribution —
    the diversity signals (low = repetitive/templated text) that
    complement the Gopher repetition filters, computed as exact ppm
    integers (Gini replaces Shannon entropy, which would need a
    cross-engine ln; both rank repetitiveness identically). Two
    aggregations, both keyed by doc — no joins, no windows."""
    tc = (
        _tokens(spark, sf_dir)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.expr("CAST((1000000 * COUNT(1)) DIV SUM(c) AS BIGINT)").alias(
            "ttr_ppm"
        ),
        F.expr(
            "CAST(1000000 - (1000000 * SUM(c * c))"
            " DIV (SUM(c) * SUM(c)) AS BIGINT)"
        ).alias("gini_ppm"),
    )


_BM25_TERMS = ("scan", "merge", "vector")
_BM25_TERMS_SQL = "('scan', 'merge', 'vector')"

# Shared CTE chain ending in `bm25(doc_id, n_terms, bm25_micro)` —
# used verbatim by the q_text_bm25 oracle and re-used by the hybrid
# retrieval oracle (operators/retrieval.py) so both gates check the
# SAME lexical scoring definition.
BM25_CTES = """toks AS (
""" + _TOK_SQL + """
    ), t AS (
        SELECT doc_id, token FROM toks WHERE length(token) > 0
    ), dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
        FROM t GROUP BY doc_id
    ), tot AS (
        SELECT CAST(SUM(dl) AS BIGINT) AS tt,
               CAST(COUNT(*) AS BIGINT) AS nd
        FROM dl
    ), tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM t WHERE token IN """ + _BM25_TERMS_SQL + """
        GROUP BY doc_id, token
    ), df AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf GROUP BY token
    ), scored AS (
        SELECT tf.doc_id,
               CAST(FLOOR(
                   1000000.0
                   * (CAST(2 * tot.nd - 2 * df.df + 1 AS DOUBLE)
                      / CAST(2 * df.df + 1 AS DOUBLE))
                   * (CAST(CAST(44 AS HUGEINT) * tot.tt * tf.tf AS DOUBLE)
                      / CAST(CAST(20 AS HUGEINT) * tot.tt * tf.tf
                             + CAST(6 AS HUGEINT) * tot.tt
                             + CAST(18 AS HUGEINT) * dl.dl * tot.nd
                             AS DOUBLE))
                   + 0.5) AS BIGINT) AS term_micro
        FROM tf
        JOIN dl ON tf.doc_id = dl.doc_id
        JOIN df ON tf.token = df.token
        CROSS JOIN tot
    ), bm25 AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(term_micro) AS BIGINT) AS bm25_micro
        FROM scored GROUP BY doc_id
    )"""


@query(
    "q_text_bm25",
    oracle="WITH " + BM25_CTES + """
    SELECT doc_id, n_terms, bm25_micro
    FROM bm25
    ORDER BY bm25_micro DESC, doc_id
    LIMIT 20
    """,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed 3-term
    query, top-20 documents — the ranking face of the inverted-index /
    TF-IDF layer (`q_inverted_index`, `operators/text.py` TF-IDF), and
    the relevance filter an LLM-data pipeline uses for targeted corpus
    selection.

    Portability per the module rule: no ln(). The IDF factor is the
    exact odds form (N - df + 0.5)/(df + 0.5) = (2N-2df+1)/(2df+1)
    (rank-equivalent to the log IDF, which is its monotone transform),
    and the tf saturation with k1=6/5, b=3/4 reduces over a common
    denominator to the all-integer rational 44*T*tf / (20*T*tf + 6*T
    + 18*dl*N) where T = total tokens, N = doc count (avgdl = T/N
    never materializes as a float). Integer products are widened
    (decimal(38,0) / HUGEINT) before the double division, each
    per-term score is micro-quantized BEFORE the per-doc sum, and the
    final ordering is on exact integers. Plan: token explode -> two
    bounded aggregations (per-doc length, per-doc tf over only the
    query terms), query-sized df table broadcast back, corpus totals
    as a 1-row broadcast cross join, TakeOrdered top-20."""
    return (
        bm25_scores(spark, sf_dir)
        .orderBy(F.col("bm25_micro").desc(), "doc_id")
        .limit(20)
    )


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BM25 sums for ``_BM25_TERMS``: (doc_id, n_terms,
    bm25_micro), unordered — shared by ``q_text_bm25`` and the hybrid
    retrieval fusion (``operators/retrieval.py``). Mirrors the SQL in
    ``BM25_CTES`` operation-for-operation."""
    t = _tokens(spark, sf_dir).select("doc_id", "token")
    dl = t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tot = dl.agg(
        F.sum("dl").cast("long").alias("tt"),
        F.count(F.lit(1)).alias("nd"),
    )
    tf = (
        t.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    term_micro = F.expr(
        "CAST(FLOOR("
        " 1000000.0"
        " * (CAST(2 * nd - 2 * df + 1 AS DOUBLE)"
        "    / CAST(2 * df + 1 AS DOUBLE))"
        " * (CAST(CAST(44 AS DECIMAL(38,0)) * tt * tf AS DOUBLE)"
        "    / CAST(CAST(20 AS DECIMAL(38,0)) * tt * tf"
        "           + CAST(6 AS DECIMAL(38,0)) * tt"
        "           + CAST(18 AS DECIMAL(38,0)) * dl * nd"
        "           AS DOUBLE))"
        " + 0.5) AS BIGINT)"
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", term_micro.alias("term_micro"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("term_micro").cast("long").alias("bm25_micro"),
    )


_SPAN_K = 8  # tokens per span


@query(
    "q_span_dedup",
    oracle=f"""
    WITH l AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents
    ),
    sp AS (
        SELECT doc_id,
               array_to_string(
                   list_slice(toks, p, p + {_SPAN_K - 1}), ' '
               ) AS span
        FROM l,
             LATERAL (
                 SELECT unnest(range(1, len(toks) - {_SPAN_K - 1} + 1))
                     AS p
             ) t
        WHERE len(toks) >= {_SPAN_K}
    ),
    d AS (
        SELECT span, COUNT(DISTINCT doc_id) AS nd
        FROM sp GROUP BY span
    )
    SELECT sp.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           CAST((1000000 * SUM(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS dup_ppm
    FROM sp JOIN d USING (span)
    GROUP BY sp.doc_id
    """,
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplication audit: every 8-token sliding
    span of every document, flagged when the identical span appears in
    >= 2 distinct documents — the fixed-width approximation of
    suffix-array substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better") that an LLM pipeline runs to
    find boilerplate and cross-document copy-paste that whole-document
    hashing (q_text_exact_dedup) and MinHash (q_text_minhash_dedup)
    both miss. Output: per-doc span count, duplicated-span count, and
    the duplicated fraction in exact ppm (positive floor division —
    engine-identical).

    Plan: split once, explode positions via sequence() (span count =
    token count - 7, no quadratic blowup), one span-keyed aggregation
    for the distinct-doc ledger, one shuffle join back on the span
    key, one per-doc aggregation — the decontaminate/shingle shape.
    At 100 TB the span string (~50 bytes) is the whole shuffle
    payload; a production run would key both sides on a 128-bit span
    digest instead (md5 exists in both engines), trading exactness
    for 2-4x shuffle volume — kept as the string here so the checked
    claim stays collision-free."""
    docs = load_table(spark, sf_dir, "documents")
    l = docs.select(  # noqa: E741
        "doc_id", F.split("text", " ").alias("toks")
    ).filter(F.size("toks") >= _SPAN_K)
    sp = l.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("toks") - (_SPAN_K - 1))
        ).alias("p"),
        "toks",
    ).select(
        "doc_id",
        F.array_join(
            F.slice("toks", F.col("p"), _SPAN_K), " "
        ).alias("span"),
    )
    d = sp.groupBy("span").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    return (
        sp.join(d, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("nd") > 1, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.expr("(1000000 * n_dup_spans) DIV n_spans")
            .cast("long")
            .alias("dup_ppm"),
        )
    )


@query(
    "q_heavy_hitters",
    oracle="""
    WITH t AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    c AS (
        SELECT lang, token, COUNT(*) AS cnt
        FROM t WHERE length(token) > 0 GROUP BY lang, token
    ),
    r AS (
        SELECT lang, token, cnt,
               ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY cnt DESC, token
               ) AS rnk
        FROM c
    )
    SELECT lang, CAST(rnk AS BIGINT) AS rnk, token,
           CAST(cnt AS BIGINT) AS cnt
    FROM r WHERE rnk <= 5
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language heavy hitters: the top-5 most frequent
    tokens in each language slice, deterministic (count DESC, token
    ASC total order). The exact answer the streaming Misra-Gries /
    SpaceSaving sketches approximate (``q_sketch_countmin`` is the
    sketch face); a corpus curator reads this as the per-language
    boilerplate/stopword profile before building filter lists.

    Plan: one (lang, token) count aggregation — vocabulary-sized, with
    map-side partial aggregation doing the heavy lifting on the token
    stream — then a rank window over per-lang VOCABULARY rows (not
    corpus rows). Languages are low-cardinality but the windowed
    relation is bounded by vocabulary size, so the distribution-sized
    rank-window hazard (SCALE.md) stays bounded; at web-scale
    vocabularies the two-phase rank-select decomposition applies
    unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.length("token") > 0)
    c = t.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "token")
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "lang",
            F.col("rnk").cast("long").alias("rnk"),
            "token",
            F.col("cnt").cast("long").alias("cnt"),
        )
    )


@query(
    "q_ngram_novelty",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, len(toks) - 1)]) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
        ) WHERE length(shingle) > 0
    ), tot AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
        FROM sh GROUP BY doc_id
    ), fst AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    ), nov AS (
        SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
        FROM fst GROUP BY first_doc
    )
    SELECT t.doc_id, t.n_shingles,
           CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
           CAST((1000000 * COALESCE(n.n_novel, 0)) // t.n_shingles
                AS BIGINT) AS novelty_ppm
    FROM tot t LEFT JOIN nov n ON t.doc_id = n.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-token shingles that appear in NO earlier document (first-seen
    attribution by doc_id — the arrival-order proxy). The curation
    signal behind "this crawl batch adds nothing new": a doc whose
    shingles were all seen before contributes no fresh n-grams to a
    training corpus even if it isn't a literal near-duplicate (the
    LSH family catches whole-doc copies; novelty catches recombined
    boilerplate). Scale: one shingle aggregation for first-seen
    owners (shuffle keyed on the shingle — vocabulary-sized), one
    per-doc count, one join back; never a pair join, so it is linear
    where pairwise dedup is quadratic. Same shingle definition as the
    MinHash family (`operators/text.py:shingles`), so the two
    pipelines share scan work in a combined run."""
    from scylla_pg_cdc_spark.operators.text import shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, k=3)
    tot = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    nov = (
        sh.groupBy("shingle")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        tot.join(nov, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        )
        .withColumn(
            "novelty_ppm",
            F.expr("CAST((1000000 * n_novel) DIV n_shingles AS BIGINT)"),
        )
    )


@query(
    "q_dedup_rate_by_source",
    oracle="""
    WITH g AS (
        SELECT source, md5(text) AS h,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY source, md5(text)
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_texts,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dup_docs,
           CAST((1000000 * (SUM(n) - COUNT(*))) // SUM(n) AS BIGINT)
               AS dup_ppm,
           CAST(MAX(n) AS BIGINT) AS largest_group
    FROM g GROUP BY source
    """,
)
def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rate: group documents by content
    hash within each source and report how much of the source is
    redundant (dup docs, dup ppm, largest clone group) — the curation
    dashboard metric that decides which ingestion feeds need dedup
    FIRST, before any near-dup machinery runs. Two hash aggregations
    with map-side combine; shuffle keyed on (source, md5) — never
    wider than the distinct-text count. The md5 content hash is the
    identical expression in both engines, so the differential is
    exact."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source", F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return g.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_texts"),
        (F.sum("n") - F.count(F.lit(1))).cast("long").alias("n_dup_docs"),
        F.expr(
            "CAST((1000000 * (SUM(n) - COUNT(1))) DIV SUM(n) AS BIGINT)"
        ).alias("dup_ppm"),
        F.max("n").cast("long").alias("largest_group"),
    )


@query(
    "q_vocab_concentration",
    oracle="""
    WITH t AS (
        SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT lang, unnest(string_split(text, ' ')) AS token
            FROM documents
        ) WHERE length(token) > 0 GROUP BY lang, token
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST((1000000 * SUM(CAST(c AS HUGEINT) * c))
                // (CAST(SUM(c) AS HUGEINT) * SUM(c))
                AS BIGINT) AS hhi_ppm
    FROM t GROUP BY lang
    """,
)
def q_vocab_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level vocabulary concentration per language: Herfindahl
    index over token frequencies — the log-free twin of vocabulary
    entropy (1/HHI is the "effective vocabulary size"). A language
    slice whose HHI spikes is dominated by few tokens (boilerplate,
    scraped templates) and dilutes training signal; q_hhi_concentration
    watches SOURCE mix, this watches the VOCABULARY itself. Exact
    integer ratio widened past int64 (Spark decimal(38,0), DuckDB
    HUGEINT — c^2 overflows bigint at ~3e9 occurrences of one token;
    widened, exact to ~1e16 — same envelope row as HHI in
    ENVELOPES.md). Plan: one (lang, token) count aggregation
    (vocabulary-sized shuffle with map-side combine) + one per-lang
    rollup."""
    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.select(
            "lang", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.length("token") > 0)
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * SUM(CAST(c AS DECIMAL(38,0)) * c))"
            " DIV (CAST(SUM(c) AS DECIMAL(38,0)) * SUM(c)) AS BIGINT)"
        ).alias("hhi_ppm"),
    )


@query(
    "q_domain_tvd",
    oracle="""
    WITH tok AS (
        SELECT source, token FROM (
""" + _TOK_SQL + """
        ) WHERE length(token) > 0
    ), stc AS (
        SELECT source, token, COUNT(*) AS o FROM tok GROUP BY source, token
    ), ctc AS (
        SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), src AS (
        SELECT source, COUNT(*) AS ns FROM tok GROUP BY source
    ), tot AS (
        SELECT COUNT(*) AS n1 FROM tok
    ), present AS (
        SELECT s.source,
               MIN(src.ns) AS ns,
               MIN(t.n1) AS n1,
               SUM(ABS(CAST(s.o AS HUGEINT) * (t.n1 - src.ns)
                       - CAST(ctc.c - s.o AS HUGEINT) * src.ns))
                   AS num_present,
               SUM(CAST(ctc.c AS HUGEINT)) AS covered
        FROM stc s
        JOIN ctc ON s.token = ctc.token
        JOIN src ON s.source = src.source
        CROSS JOIN tot t
        GROUP BY s.source
    )
    SELECT source,
           CAST(ns AS BIGINT) AS n_tokens,
           CAST(n1 - ns AS BIGINT) AS n_rest_tokens,
           CAST((CAST(1000000 AS HUGEINT)
                 * (num_present + CAST(ns AS HUGEINT) * (n1 - covered)))
                // (2 * CAST(ns AS HUGEINT) * NULLIF(n1 - ns, 0)) AS BIGINT)
               AS tvd_ppm
    FROM present
    """,
)
def q_domain_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source total-variation distance between the source's token
    distribution and the REST of the corpus (leave-one-out, so a
    large source is not compared against a mix it dominates) — the
    bounded [0,1] companion to ``q_domain_chisq`` used to weigh
    domain mixing: TVD is exactly the largest probability mass a
    domain classifier could separate, and unlike chi-square it does
    not blow up on rare tokens. Log-free and division-free until one
    final integral division: each term |o*Nr - (c-o)*Ns| is exact
    integer cross-multiplication; tokens ABSENT from the source
    contribute c*Ns, folded in algebraically as Ns*(N - covered)
    rather than by materializing the (source x vocabulary) cross
    join. Widened past int64 (Spark decimal(38,0), DuckDB HUGEINT:
    1e6 * 2*Ns*Nr crosses 2^63 near 1e9 corpus tokens), and DIV is
    safe because every operand is non-negative. Plan: the
    ``q_domain_chisq`` shape — two vocabulary-sized counts + one
    per-source count broadcast back onto (source, token) rows, a
    one-row corpus total riding a broadcast cross join, one
    per-source aggregation; output is one row per source."""
    tok = _tokens(spark, sf_dir).select("source", "token")
    stc = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("o"))
    ctc = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    src = tok.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    tot = tok.agg(F.count(F.lit(1)).alias("n1"))
    dec = "decimal(38,0)"
    present = (
        stc.join(F.broadcast(ctc), "token")
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.min("ns").alias("ns"),
            F.min("n1").alias("n1"),
            F.sum(
                F.abs(
                    F.col("o").cast(dec) * (F.col("n1") - F.col("ns"))
                    - (F.col("c") - F.col("o")).cast(dec) * F.col("ns")
                )
            ).alias("num_present"),
            F.sum(F.col("c").cast(dec)).alias("covered"),
        )
    )
    return present.select(
        "source",
        F.col("ns").cast("long").alias("n_tokens"),
        (F.col("n1") - F.col("ns")).cast("long").alias("n_rest_tokens"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * (num_present + CAST(ns AS DECIMAL(38,0)) * (n1 - covered)))"
            " DIV (2 * CAST(ns AS DECIMAL(38,0)) * NULLIF(n1 - ns, 0))"
            " AS BIGINT)"
        ).alias("tvd_ppm"),
    )
