"""Scans, projections, filters, joins and set operations.

Reference parity (SURVEY.md §2A):
- S5/S6 table scans with projection/limit (`scripts/reconcile.py:258-326`)
- P1-P9 stream transforms: projection/rename/flatten/filter chains
  (`docker/kafka-connect/connectors/postgres-sink.json:37-115`)
- J1-J9 joins: the reconciliation engine's hash-index build + anti/inner
  joins (`src/reconciliation/differ.py:32-127,548-584`), warehouse FK
  equi-joins (`docker/postgres/init.sql:211-224`)
- U1-U3 set ops (`init.sql:479-488`, `differ.py:111,332-334`)

Scale posture: all joins are plain equi-joins that Catalyst plans as
broadcast (dims) or sort-merge/shuffled-hash (fact-fact) with AQE; the
anti/semi joins here replace the reference's in-memory ``dict`` key
indexes, which could never exceed one node's RAM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.functions.money import cents, dollars, pct_units
from scylla_pg_cdc_spark.registry import query
from scylla_pg_cdc_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Scans / projections / filters
# ---------------------------------------------------------------------------

@query(
    "q_scan_project",
    oracle="""
    SELECT l_orderkey AS order_id,
           l_linenumber AS line_no,
           l_returnflag AS flag,
           CAST(l_quantity AS BIGINT) AS qty,
           CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents
    FROM lineitem
    """,
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + rename over a full scan (S5, P2, P3). Column pruning
    reaches the parquet reader: ReadSchema lists only 5 columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("qty"),
        cents("l_extendedprice").alias("price_cents"),
    )


@query(
    "q_filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS BIGINT) AS qty,
           CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_pct
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive range predicates (P9, TPC-H Q6 selection shape).
    All four predicates push down to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("long").alias("qty"),
            pct_units("l_discount").alias("disc_pct"),
        )
    )


@query(
    "q_filter_like_in",
    oracle="""
    SELECT 'part' AS src, p_partkey AS id, p_name AS name
    FROM part
    WHERE p_name LIKE '%bolt%' OR p_brand IN ('Brand#1', 'Brand#2')
    UNION ALL
    SELECT 'order' AS src, o_orderkey AS id, o_orderpriority AS name
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def q_filter_like_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / IN predicates (P9, F1) over part and orders, labeled
    UNION ALL (validation_summary shape, `init.sql:479-488`)."""
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    parts = part.filter(
        F.col("p_name").like("%bolt%") | F.col("p_brand").isin("Brand#1", "Brand#2")
    ).select(
        F.lit("part").alias("src"),
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("name"),
    )
    urgent = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(
        F.lit("order").alias("src"),
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("name"),
    )
    return parts.unionByName(urgent)


@query(
    "q_limit_offset_topk",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents
    FROM customer
    ORDER BY acctbal_cents DESC, c_custkey
    LIMIT 20 OFFSET 5
    """,
)
def q_limit_offset_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column total-order sort + OFFSET/LIMIT top-k (O1-O3;
    reference pagination `reconcile.py:279-280,316-317`). The unique
    c_custkey tiebreak makes the page deterministic."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.select(
            "c_custkey",
            "c_name",
            cents("c_acctbal").alias("acctbal_cents"),
        )
        .orderBy(F.col("acctbal_cents").desc(), F.col("c_custkey"))
        .offset(5)
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

@query(
    "q_join_inner",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_name, c.c_mktsegment,
           CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS total_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer equi inner join (J8)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .select(
            "o_orderkey",
            "c_custkey",
            "c_name",
            "c_mktsegment",
            cents("o_totalprice").alias("total_cents"),
        )
    )


@query(
    "q_join_left_agg",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS order_count,
           CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0)
                AS BIGINT) AS total_cents
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_join_left_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer LEFT JOIN orders + per-customer count/sum with null->0
    (J8+A2; product-sales summary shape, `init.sql:211-224`)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.coalesce(F.sum(cents("o_totalprice")), F.lit(0)).alias("total_cents"),
        )
    )


@query(
    "q_join_multiway",
    oracle="""
    SELECT n.n_name,
           COUNT(*) AS n_items,
           SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) / 10000.0
               AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n.n_name
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join, TPC-H Q5 shape (J8). region/nation/customer are
    broadcast (dims); orders⋈lineitem is the only shuffled join.
    Revenue is exact integer units summed in LongType, divided once."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue_units = cents("l_extendedprice") * (100 - pct_units("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(revenue_units) / F.lit(10000.0)).alias("revenue"),
        )
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with >=1 order — left_semi (U3 key intersection,
    `differ.py:111`)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders — left_anti, the reconciliation
    'missing' class (J2, `differ.py:32-59`)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "q_join_composite",
    oracle="""
    WITH grp AS (
        SELECT l_orderkey, l_returnflag,
               CAST(SUM(l_quantity) AS BIGINT) AS grp_qty,
               COUNT(*) AS grp_cnt
        FROM lineitem GROUP BY l_orderkey, l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, g.grp_qty, g.grp_cnt
    FROM lineitem l
    JOIN grp g ON l.l_orderkey = g.l_orderkey AND l.l_returnflag = g.l_returnflag
    """,
)
def q_join_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key equi join (J6, `differ.py:706-727`): lineitem
    joined back to its per-(orderkey, returnflag) aggregate on both key
    columns. The groupBy and the join share the same hash partitioning,
    so AQE reuses one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy("l_orderkey", "l_returnflag").agg(
        F.sum("l_quantity").cast("long").alias("grp_qty"),
        F.count(F.lit(1)).alias("grp_cnt"),
    )
    return li.join(grp, on=["l_orderkey", "l_returnflag"], how="inner").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "grp_qty", "grp_cnt"
    )


@query(
    "q_join_broadcast",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation ⋈ region with an explicit broadcast hint (J8). The result
    is identical to a plain join; the hint pins BroadcastHashJoin so no
    shuffle ever occurs regardless of statistics."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select("n_nationkey", "n_name", "r_name")


@query(
    "q_join_theta",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber,
           date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))
               AS ship_delay_days
    FROM orders o
    JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi join + non-equi residual predicate (theta join; the
    reference's join + non-equi filter validation SQL shape). The
    equi key keeps it a hash join; the interval predicate is applied
    as a post-join filter, not a nested loop."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "inner",
    )
    return joined.select(
        "o_orderkey",
        "l_linenumber",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long").alias(
            "ship_delay_days"
        ),
    )


@query(
    "q_fuzzy_name_match",
    oracle="""
    SELECT a.c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(levenshtein(a.c_name, b.c_name)) AS BIGINT)
               AS sum_dist
    FROM customer a
    JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    GROUP BY a.c_nationkey
    """,
)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage with blocking: candidate customer-name
    pairs within edit distance 2, compared ONLY inside a blocking key
    (nation) — the entity-resolution join discipline. Levenshtein is
    an exact integer DP in both engines, so the differential check is
    exact. The blocking key is what makes this survive 100 TB: the
    self-join shuffles once on the block and each block's pair count
    is quadratic only in block size, never corpus size (pick blocks —
    prefix/soundex/LSH bucket — so the largest block is bounded; AQE
    skew-split handles residual imbalance)."""
    a = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nationkey"),
    )
    b = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nationkey"),
    )
    dist = F.levenshtein("name_a", "name_b")
    # The quadratic work lives in the pair-expansion AFTER the join —
    # a small single-file scan would otherwise run every pair on one
    # task. Spreading the left side across tasks first keeps the
    # comparison embarrassingly parallel (the right side broadcasts).
    a = a.repartition(32, "k_a")
    return (
        a.join(b, "nationkey")
        .filter(F.col("k_a") < F.col("k_b"))
        .filter(dist <= 2)
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(dist).alias("sum_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

@query(
    "q_union_all",
    oracle="""
    SELECT 'open' AS segment, o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
    FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT 'done' AS segment, o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled UNION ALL (U1; validation_summary shape,
    `init.sql:479-488`)."""
    orders = load_table(spark, sf_dir, "orders")

    def seg(label: str, status: str) -> DataFrame:
        return orders.filter(F.col("o_orderstatus") == status).select(
            F.lit(label).alias("segment"),
            "o_orderkey",
            cents("o_totalprice").alias("total_cents"),
        )

    return seg("open", "O").unionByName(seg("done", "F"))


@query(
    "q_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key intersection (U3, `differ.py:111,334`)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.intersect(b)


@query(
    "q_except",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key set-difference (U2, `differ.py:332-334`)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.subtract(b)


@query(
    "q_supplier_balance",
    oracle="""
    SELECT n.n_name,
           COUNT(*) AS n_suppliers,
           SUM(CAST(ROUND(s.s_acctbal * 100) AS BIGINT)) / 100.0 AS acctbal_total,
           SUM(CAST(ROUND(s.s_acctbal * 100) AS BIGINT)) / COUNT(*) / 100.0
               AS acctbal_avg
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_supplier_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier account balances per nation (J8+A2 shape; completes
    synthetic-table coverage — supplier was the only unused table)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sc = cents("s_acctbal")
    cnt = F.count(F.lit(1))
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            cnt.alias("n_suppliers"),
            (F.sum(sc) / F.lit(100.0)).alias("acctbal_total"),
            (F.sum(sc) / cnt / F.lit(100.0)).alias("acctbal_avg"),
        )
    )


@query(
    "q_bloom_semijoin",
    oracle="""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l
    WHERE l.l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY l.l_returnflag
    """,
)
def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join of lineitem against urgent orders, executed with an
    explicit Bloom-filter pre-filter (the "sideways information
    passing" / runtime-filter strategy Spark's own
    ``runtime.bloomFilter`` optimization and Trino's dynamic filters
    apply): the build side's keys fold into a 16384-bit Bloom bitmap
    (k=2 md5-prefix hashes, stored as 256 x 64-bit words via BIT_OR —
    a few KB regardless of build-side row count), the bitmap
    broadcast-joins onto the probe side so ~all non-matching lineitem
    rows drop BEFORE the real join, and the exact semi-join then runs
    over the survivors — false positives are eliminated there, so the
    result is exactly the plain semi-join (which is the oracle). At
    100 TB this is the difference between shuffling the full probe
    table into the join and shuffling only the ~selectivity fraction
    that can match. Plan: one aggregation to 256 words, two broadcast
    hash joins for the two bit probes, one broadcast semi-join."""
    m_bits = 16384
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )

    # the bitmap is internal pruning state, never compared against the
    # oracle (the oracle is the plain semi-join), so the hash can be
    # Spark's native xxhash64 — ~5x cheaper per probe row than a
    # portable md5-prefix, and the probe side is the table that's big
    def bit_pos(col, salt):
        return F.pmod(F.xxhash64(F.lit(salt), col), F.lit(m_bits))

    def words(df, key, salt):
        return (
            df.select(bit_pos(F.col(key), salt).alias("p"))
            .select(
                F.expr("p DIV 64").alias("w"),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))")
                .alias("bit"),
            )
            .groupBy("w")
            .agg(F.bit_or("bit").alias("bits"))
        )

    w1 = words(urgent, "o_orderkey", "bf1:")
    w2 = words(urgent, "o_orderkey", "bf2:")
    probed = (
        li.withColumn("p1", bit_pos(F.col("l_orderkey"), "bf1:"))
        .withColumn("p2", bit_pos(F.col("l_orderkey"), "bf2:"))
        .withColumn("w1", F.expr("p1 DIV 64"))
        .withColumn(
            "b1",
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p1 % 64 AS INT))"),
        )
        .withColumn("w2", F.expr("p2 DIV 64"))
        .withColumn(
            "b2",
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p2 % 64 AS INT))"),
        )
        .join(F.broadcast(w1.withColumnRenamed("w", "w1")
                          .withColumnRenamed("bits", "bits1")), "w1")
        .join(F.broadcast(w2.withColumnRenamed("w", "w2")
                          .withColumnRenamed("bits", "bits2")), "w2")
        .filter(
            (F.expr("bits1 & b1") != 0) & (F.expr("bits2 & b2") != 0)
        )
    )
    exact = probed.join(
        F.broadcast(urgent),
        probed.l_orderkey == urgent.o_orderkey,
        "left_semi",
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("long")
        ).alias("revenue_cents"),
    )


_ER_ROUNDS = 4
_ER_SNM_W = 8

_ER_NATION_PAIRS_SQL = """pairs AS MATERIALIZED (
        SELECT a.c_custkey AS a, b.c_custkey AS b
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 2
    )"""

# scale-safe candidate generation: nation x sorted-neighborhood
# composite block. rnk is a per-nation name-sorted ranking; candidates
# are the next _ER_SNM_W neighbours in that order, reached through an
# EQUI-join on (nation, rk + offset) against an 8-row offset relation —
# the same N*w linear shape the Spark side gets from lead(), never a
# block-quadratic intermediate (DuckDB would otherwise hash-join on
# nation alone and filter, which is exactly the blow-up this variant
# exists to avoid).
_ER_SNM_PAIRS_SQL = f"""rnk AS MATERIALIZED (
        SELECT c_custkey, c_name, c_nationkey,
               ROW_NUMBER() OVER (
                   PARTITION BY c_nationkey ORDER BY c_name, c_custkey
               ) AS rk
        FROM customer
    ), pairs AS MATERIALIZED (
        SELECT LEAST(x.c_custkey, y.c_custkey) AS a,
               GREATEST(x.c_custkey, y.c_custkey) AS b,
               x.c_nationkey AS nk,
               levenshtein(x.c_name, y.c_name) AS dist
        FROM rnk x
        JOIN (SELECT UNNEST(range(1, {_ER_SNM_W + 1})) AS off) o ON TRUE
        JOIN rnk y
          -- null-safe block equality: a NULL blocking key forms its
          -- own block, exactly like the Spark window PARTITION BY
          -- (r10 nullts fuzz — plain = silently dropped that block)
          ON y.c_nationkey IS NOT DISTINCT FROM x.c_nationkey
         AND y.rk = x.rk + o.off
        WHERE levenshtein(x.c_name, y.c_name) <= 2
    )"""


def _er_label_ctes(
    rounds: int = _ER_ROUNDS, pairs_block: str = _ER_NATION_PAIRS_SQL
) -> tuple[str, str]:
    """Shared WITH-chain for the ER label propagation (pairs ->
    symmetric+self edges -> ``rounds`` min-label rounds); returns the
    CTE block and the name of the final label CTE so both the cluster
    query and the golden-record query build on identical closure.
    ``pairs_block`` supplies the candidate-pair CTEs (must end with a
    CTE named ``pairs`` carrying columns a, b) — the nation block by
    default, the SNM composite block for the _scaled variants."""
    sql = """
    WITH """ + pairs_block + """, me AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b AS src, a AS dst FROM pairs
        UNION ALL SELECT n AS src, n AS dst FROM (
            SELECT DISTINCT a AS n FROM pairs
            UNION SELECT DISTINCT b AS n FROM pairs
        )
    ), l0 AS (
        SELECT DISTINCT src AS n, src AS lbl FROM me
    )"""
    prev = "l0"
    for it in range(1, rounds + 1):
        sql += f""",
    l{it} AS (
        SELECT m.dst AS n, MIN(p.lbl) AS lbl
        FROM me m JOIN {prev} p ON m.src = p.n
        GROUP BY m.dst
    )"""
        prev = f"l{it}"
    return sql, prev


def _entity_resolution_sql(
    rounds: int = _ER_ROUNDS, pairs_block: str = _ER_NATION_PAIRS_SQL
) -> str:
    ctes, last = _er_label_ctes(rounds, pairs_block)
    return ctes + f"""
    SELECT CAST(lbl AS BIGINT) AS entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM {last} GROUP BY lbl HAVING COUNT(*) >= 2
    """


def _er_golden_sql(
    rounds: int = _ER_ROUNDS, pairs_block: str = _ER_NATION_PAIRS_SQL
) -> str:
    ctes, last = _er_label_ctes(rounds, pairs_block)
    return ctes + f""",
    mem AS (
        SELECT p.lbl AS entity_id, c.c_custkey, c.c_name, c.c_mktsegment,
               CAST(FLOOR(c.c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_c
        FROM {last} p JOIN customer c ON p.n = c.c_custkey
    ), ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY entity_id ORDER BY bal_c DESC, c_custkey
               ) AS rn_bal,
               ROW_NUMBER() OVER (
                   PARTITION BY entity_id ORDER BY c_custkey
               ) AS rn_key
        FROM mem
    )
    SELECT CAST(entity_id AS BIGINT) AS entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(c_custkey) AS BIGINT) AS canonical_key,
           MAX(CASE WHEN rn_key = 1 THEN c_name END) AS canonical_name,
           MAX(CASE WHEN rn_bal = 1 THEN c_mktsegment END) AS trusted_segment,
           CAST(MAX(bal_c) AS BIGINT) AS max_bal_cents,
           CAST(SUM(bal_c) AS BIGINT) AS total_bal_cents
    FROM ranked GROUP BY entity_id HAVING COUNT(*) >= 2
    """


@query("q_entity_resolution", oracle=_entity_resolution_sql())
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution (the MDM / record-dedup workload):
    (1) blocked fuzzy match — customer-name pairs within edit
    distance 2 inside a nation block (``q_fuzzy_name_match``'s
    candidate discipline); (2) transitive closure by 4-round
    min-label propagation over the match graph (self-loop linear
    unrolling, as q_graph_components); (3) canonical entity id =
    cluster minimum, reporting every multi-member entity with its
    member count. This is the composition the pieces exist for —
    pairwise similarity alone over-merges nothing and under-merges
    chains (A~B, B~C but A!~C), which the closure resolves. Scale:
    pair generation is block-bounded quadratic, propagation is
    match-graph-sized (tiny relative to the corpus — only similar
    names appear), output is entities, not pairs."""
    lbl = _er_labels(spark, sf_dir)
    return (
        lbl.groupBy(F.col("lbl").alias("entity_id"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )


def _er_propagate(
    pairs: DataFrame, broadcast_labels: bool = True
) -> DataFrame:
    """``_ER_ROUNDS`` synchronized min-label rounds over an (a, b)
    match-pair frame — symmetric + self-loop edges so each round is
    ONE join + ONE min-agg referencing the previous labels exactly
    once (the q_graph_components linear-unroll discipline). Returns
    (n = member key, lbl = round-k minimum), localCheckpointed.

    ``broadcast_labels``: hint the node-sized label frame onto the
    stationary edge list. Right for the nation-block form (the match
    graph is only similar names — tiny). The _scaled variants pass
    False: their candidate graph is corpus-linear, so the labels are
    corpus-sized and must flow through a hash join (AQE still
    broadcasts when runtime stats say it fits)."""
    nodes = (
        pairs.select(F.col("a").alias("n"))
        .unionAll(pairs.select(F.col("b").alias("n")))
        .distinct()
    )
    me = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .unionAll(nodes.select(F.col("n").alias("src"), F.col("n").alias("dst")))
        .localCheckpoint()
    )
    lbl = nodes.withColumn("lbl", F.col("n"))
    for _ in range(_ER_ROUNDS):
        j = lbl.withColumnRenamed("n", "src")
        if broadcast_labels:
            j = F.broadcast(j)
        lbl = (
            me.join(j, "src")
            .groupBy(F.col("dst").alias("n"))
            .agg(F.min("lbl").alias("lbl"))
        )
    return lbl.localCheckpoint()


def _er_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n = member custkey, lbl = cluster min custkey) after the
    blocked fuzzy match + ``_ER_ROUNDS`` min-label rounds, shared by
    ``q_entity_resolution`` and ``q_er_golden_record``."""
    c = load_table(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nk"),
    ).repartition(32, "a")
    b = c.select(
        F.col("c_custkey").alias("b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nk"),
    )
    pairs = (
        a.join(b, "nk")
        .filter(F.col("a") < F.col("b"))
        .filter(F.levenshtein("name_a", "name_b") <= 2)
        .select("a", "b")
    )
    return _er_propagate(pairs, broadcast_labels=True)


def _er_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe ER candidates: (nk, a, b, dist) verified
    levenshtein<=2 pairs from the nation x sorted-neighborhood
    COMPOSITE block — each customer is compared only against its next
    ``_ER_SNM_W`` neighbours in per-nation name order, reached with
    lead() over ONE window shuffle (no self-join at all, so the
    intermediate is exactly N*w rows).

    This is the fix for the nation-only block's fixed cardinality
    (VERDICT r5 "What's wrong" #1: 25 blocks -> block size grows with
    data -> candidate pairs quadratic, measured 1540 s at 10x).
    Composite blocking bounds candidates at N*w REGARDLESS of scale;
    the price is the standard sorted-neighborhood recall contract — a
    matching pair whose names sort more than w apart inside their
    nation is never compared (Hernandez-Stolfo merge/purge, same
    contract as q_sorted_neighborhood)."""
    c = load_table(spark, sf_dir, "customer")
    win = Window.partitionBy("c_nationkey").orderBy("c_name", "c_custkey")
    # stage the lead() columns first (a generator select cannot hold
    # window expressions), then explode the struct array
    staged = c.select(
        F.col("c_nationkey").alias("nk"),
        "c_custkey",
        "c_name",
        *[
            col
            for i in range(1, _ER_SNM_W + 1)
            for col in (
                F.lead("c_custkey", i).over(win).alias(f"kb{i}"),
                F.lead("c_name", i).over(win).alias(f"nb{i}"),
            )
        ],
    )
    nbrs = F.array(
        *[
            F.struct(
                F.col(f"kb{i}").alias("kb"), F.col(f"nb{i}").alias("nb")
            )
            for i in range(1, _ER_SNM_W + 1)
        ]
    )
    ex = staged.select(
        "nk", "c_custkey", "c_name", F.explode(nbrs).alias("x")
    ).filter(F.col("x.kb").isNotNull())
    return (
        ex.withColumn("dist", F.levenshtein("c_name", F.col("x.nb")))
        .filter(F.col("dist") <= 2)
        .select(
            "nk",
            F.least("c_custkey", F.col("x.kb")).alias("a"),
            F.greatest("c_custkey", F.col("x.kb")).alias("b"),
            "dist",
        )
    )


def _er_labels_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label rounds over the SNM composite-block candidates —
    the labels backing the _scaled ER queries; labels flow through
    hash joins (the candidate graph is corpus-linear, so no broadcast
    hint)."""
    return _er_propagate(
        _er_snm_pairs(spark, sf_dir).select("a", "b"),
        broadcast_labels=False,
    )


@query("q_er_golden_record", oracle=_er_golden_sql())
def q_er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship on top of entity resolution — the GOLDEN RECORD
    each resolved entity collapses to (the master-data step after
    ``q_entity_resolution``; the reference repairs rows toward a
    trusted side the same way, `scripts/reconcile.py:490-522` — here
    the 'trusted side' is a survivorship RULE, not a replica):
    canonical key/name from the stable minimum member, market segment
    from the highest-balance member (a source-trust rule), balance
    aggregates over all members. Field picks use two tie-broken
    row_number windows over the SAME entity partitioning folded into
    the grouped aggregation (the one-exchange OHLC pattern —
    min_by/max_by exist but their cross-engine tie behavior on
    composite keys does not, so rn=1 picks stay exactly portable).
    Scale: windows partition by entity id — match-graph-sized, never
    corpus-sized."""
    return _golden_record_from(_er_labels(spark, sf_dir), spark, sf_dir)


def _golden_record_from(
    labels: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Survivorship aggregation shared by the nation-block and the
    SNM-scaled golden-record queries — identical rules on either
    label frame."""
    mem = labels.join(
        load_table(spark, sf_dir, "customer"),
        F.col("n") == F.col("c_custkey"),
    ).select(
        F.col("lbl").alias("entity_id"),
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("bal_c"),
    )
    part = Window.partitionBy("entity_id")
    ranked = mem.withColumn(
        "rn_bal",
        F.row_number().over(part.orderBy(F.desc("bal_c"), "c_custkey")),
    ).withColumn(
        "rn_key", F.row_number().over(part.orderBy("c_custkey"))
    )
    return (
        ranked.groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("c_custkey").cast("long").alias("canonical_key"),
            F.max(F.when(F.col("rn_key") == 1, F.col("c_name"))).alias(
                "canonical_name"
            ),
            F.max(F.when(F.col("rn_bal") == 1, F.col("c_mktsegment"))).alias(
                "trusted_segment"
            ),
            F.max("bal_c").cast("long").alias("max_bal_cents"),
            F.sum("bal_c").cast("long").alias("total_bal_cents"),
        )
        .filter(F.col("n_members") >= 2)
    )


@query(
    "q_entity_resolution_scaled",
    oracle=_entity_resolution_sql(pairs_block=_ER_SNM_PAIRS_SQL),
)
def q_entity_resolution_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Entity resolution with SCALE-SAFE composite blocking — the
    100 TB form of ``q_entity_resolution``. The nation-only block has
    FIXED cardinality (25), so block size — and the candidate-pair
    count, quadratically — grows with the data (measured 1540 s at
    10x, SCALE.md). Here candidates come from the nation x
    sorted-neighborhood composite block (``_er_snm_pairs``: each
    record vs its next 8 per-nation name-order neighbours via lead(),
    one window shuffle, N*w candidates at ANY scale), then the same
    4-round min-label closure and entity aggregation. The oracle
    replays the identical composite block through an equi-join on
    (nation, rank+offset), so the differential is exact; the declared
    semantics are the sorted-neighborhood recall contract (pairs
    sorting >w apart are never compared) + bounded-round labels —
    both standard, both engine-portable. The nation-block original
    stays registered as the small-data reference."""
    lbl = _er_labels_scaled(spark, sf_dir)
    return (
        lbl.groupBy(F.col("lbl").alias("entity_id"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )


@query(
    "q_er_golden_record_scaled",
    oracle=_er_golden_sql(pairs_block=_ER_SNM_PAIRS_SQL),
)
def q_er_golden_record_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Golden-record survivorship over the SCALE-SAFE composite-block
    entity resolution (``q_entity_resolution_scaled``) — identical
    survivorship rules to ``q_er_golden_record``, only the candidate
    generation changes (N*w sorted-neighborhood candidates instead of
    the block-quadratic nation join)."""
    return _golden_record_from(
        _er_labels_scaled(spark, sf_dir), spark, sf_dir
    )


@query(
    "q_fuzzy_name_match_scaled",
    oracle=f"""
    WITH {_ER_SNM_PAIRS_SQL}
    SELECT nk AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(dist) AS BIGINT) AS sum_dist
    FROM pairs GROUP BY nk
    """,
)
def q_fuzzy_name_match_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fuzzy record linkage under the composite block: per-nation
    count and total edit distance of the verified SNM candidate pairs
    — ``q_fuzzy_name_match``'s report re-based on the scale-safe
    candidate generator (N*w candidates from one lead() window, no
    block-quadratic self-join). Same recall contract as the other
    _scaled queries."""
    return _er_snm_pairs(spark, sf_dir).groupBy(
        F.col("nk").alias("nationkey")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("dist").cast("long").alias("sum_dist"),
    )


@query(
    "q_setops_all",
    oracle="""
    WITH ia AS (
        SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ), ea AS (
        SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT 'intersect_all' AS op, k, CAST(COUNT(*) AS BIGINT) AS n
    FROM ia GROUP BY k
    UNION ALL
    SELECT 'except_all', k, CAST(COUNT(*) AS BIGINT)
    FROM ea GROUP BY k
    """,
)
def q_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-semantics set operations (INTERSECT ALL / EXCEPT ALL, U3's
    multiset forms): per key, intersect-all keeps min(multiplicity)
    copies and except-all keeps the multiplicity DIFFERENCE — the
    semantics `intersectAll`/`exceptAll` implement and the distinct
    forms (`q_intersect`/`q_except`) silently lose. Emitted grouped
    (op, key, n-copies) so the multiplicities themselves are what the
    value-hash verifies. Plan: both branches are one hash shuffle on
    the key (Spark rewrites them to aggregate + generate), same
    scale posture as any keyed aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k")
    )
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    ia = (
        a.intersectAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "k", "n")
    )
    ea = (
        a.exceptAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "k", "n")
    )
    return ia.unionAll(ea)


@query(
    "q_unpivot_metrics",
    oracle="""
    WITH wide AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS sum_price_cents,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price_cents', sum_price_cents FROM wide
    UNION ALL
    SELECT l_returnflag, 'n_rows', n_rows FROM wide
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt (the inverse of ``q_agg_pivot``): the wide
    per-flag summary melts to (flag, metric, value) long form — the
    layout metric stores and chart consumers want. Uses Spark's
    native ``DataFrame.unpivot`` (Expand node — one pass, no joins,
    row fanout = number of melted columns); the oracle spells the
    same semantics as a UNION ALL so the check pins what unpivot
    MEANS, not how either engine spells it."""
    wide = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("sum_qty"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("sum_price_cents"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price_cents", "n_rows"],
        "metric",
        "val",
    )
