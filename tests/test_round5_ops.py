"""Round-5 operators: independent in-Spark/Python recomputations of
the graph, sketch, and similarity-join queries (the DuckDB differential
runs in tools/check_oracle.py; these prove the algorithms against a
DIFFERENT formulation, not just a mirrored one)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.operators.analytics import q_event_autocorr
from scylla_pg_cdc_spark.operators.graph import (
    _edges,
    q_graph_components,
    q_graph_triangles,
)
from scylla_pg_cdc_spark.operators.simjoin import q_jaccard_prefix_join
from scylla_pg_cdc_spark.operators.sketches import q_sketch_countmin
from scylla_pg_cdc_spark.sources.tables import load_table
from tests.conftest import SF_SMALL


def test_triangles_match_naive_unoriented_count(spark):
    """Degree-oriented count must equal the naive a<b<c three-join
    count (a completely different join shape)."""
    got = q_graph_triangles(spark, SF_SMALL).head()
    ed = _edges(spark, SF_SMALL)
    e1 = ed.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = ed.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = ed.select(F.col("a").alias("x"), F.col("b").alias("z"))
    naive = e1.join(e2, "y").join(e3, ["x", "z"]).count()
    assert got["n_triangles"] == naive
    assert got["n_edges"] == ed.count()
    if got["n_triangles"] > 0:
        assert got["clustering_ppm"] > 0


def test_components_match_python_simulation(spark):
    """5-round min-label propagation must equal a pure-Python
    synchronous simulation of the same rounds on the collected edge
    list (edge list at sf0.001 is tiny)."""
    rows = _edges(spark, SF_SMALL).collect()
    adj: dict[int, set[int]] = {}
    for r in rows:
        adj.setdefault(r["a"], set()).add(r["b"])
        adj.setdefault(r["b"], set()).add(r["a"])
    lbl = {n: n for n in adj}
    for _ in range(5):
        lbl = {
            n: min([lbl[n]] + [lbl[m] for m in adj[n]]) for n in adj
        }
    sizes: dict[int, int] = {}
    for v in lbl.values():
        sizes[v] = sizes.get(v, 0) + 1
    got = q_graph_components(spark, SF_SMALL).head()
    assert got["n_nodes"] == len(adj)
    assert got["n_components"] == len(sizes)
    assert got["largest"] == max(sizes.values())
    assert got["n_singletons"] == sum(1 for s in sizes.values() if s == 1)


def test_countmin_never_underestimates(spark):
    rows = q_sketch_countmin(spark, SF_SMALL).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["est_cnt"] >= r["exact_cnt"] > 0


def test_prefix_join_lossless_vs_naive_token_join(spark):
    """The prefix-filtered pair set must equal the naive
    all-sharing-pairs join's qualifying set — no misses, no extras.
    Same src0 scope as the query."""
    docs = load_table(spark, SF_SMALL, "documents").filter(
        F.col("source") == "src0"
    )
    dtok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.length("t") > 0)
        .distinct()
    )
    sz = dtok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = dtok.select(F.col("doc_id").alias("da"), "t")
    b = dtok.select(F.col("doc_id").alias("db"), "t")
    ov = (
        a.join(b, "t")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    naive = (
        ov.join(sz.withColumnRenamed("doc_id", "da")
                .withColumnRenamed("n", "na"), "da")
        .join(sz.withColumnRenamed("doc_id", "db")
              .withColumnRenamed("n", "nb"), "db")
        .filter(
            F.lit(10) * F.col("c")
            >= F.lit(9) * (F.col("na") + F.col("nb") - F.col("c"))
        )
        .select("da", "db")
        .collect()
    )
    want = {(r["da"], r["db"]) for r in naive}
    got_rows = q_jaccard_prefix_join(spark, SF_SMALL).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in got_rows}
    assert got == want
    for r in got_rows:
        union = r["n_a"] + r["n_b"] - r["n_common"]
        assert r["jaccard_ppm"] == (1_000_000 * r["n_common"]) // union
        assert 10 * r["n_common"] >= 9 * union


def test_autocorr_matches_direct_pearson(spark):
    """One user's lag-1 autocorrelation must match a direct float
    Pearson on the collected (y_t, y_{t+1}) pairs."""
    rows = q_event_autocorr(spark, SF_SMALL).collect()
    assert rows, "sf0.001 must yield at least one qualifying user"
    uid = rows[0]["user_id"]
    ev = (
        load_table(spark, SF_SMALL, "events")
        .filter((F.col("user_id") == uid) & F.col("value").isNotNull())
        .select(
            "event_id",
            F.floor(F.col("value") * 100.0 + F.lit(0.5))
            .cast("long")
            .alias("y"),
            F.unix_millis("ts").alias("ms"),
        )
        .orderBy("ms", "event_id")
        .collect()
    )
    ys = [r["y"] for r in ev]
    xs, yn = ys[:-1], ys[1:]
    n = len(xs)
    sx, sy = sum(xs), sum(yn)
    sxy = sum(a * b for a, b in zip(xs, yn))
    sxx = sum(a * a for a in xs)
    syy = sum(b * b for b in yn)
    num = n * sxy - sx * sy
    want = math.floor(
        num / (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
        * 1000.0
        + 0.5
    )
    assert rows[0]["autocorr_milli"] == want
    assert rows[0]["n"] == n


def test_merkle_diff_covers_every_discrepant_key(spark):
    """Stage-1 bucket digests must flag (at least) every bucket that
    holds a row-level discrepancy found by the full-outer diff — the
    anti-entropy drill-down would otherwise miss repairs."""
    from scylla_pg_cdc_spark.operators.reconcile import (
        _MERKLE_BUCKETS,
        q_merkle_diff,
        q_reconcile_diff,
    )

    flagged = {
        r["bucket"] for r in q_merkle_diff(spark, SF_SMALL).collect()
    }
    for r in q_reconcile_diff(spark, SF_SMALL).collect():
        assert r["o_orderkey"] % _MERKLE_BUCKETS in flagged


def test_bloom_semijoin_equals_plain_semijoin(spark):
    from scylla_pg_cdc_spark.operators.relational import q_bloom_semijoin

    got = {
        r["l_returnflag"]: (r["n_lines"], r["revenue_cents"])
        for r in q_bloom_semijoin(spark, SF_SMALL).collect()
    }
    orders = load_table(spark, SF_SMALL, "orders")
    li = load_table(spark, SF_SMALL, "lineitem")
    plain = (
        li.join(
            orders.filter(F.col("o_orderpriority") == "1-URGENT"),
            li.l_orderkey == orders.o_orderkey,
            "left_semi",
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("rev"),
        )
        .collect()
    )
    want = {r["l_returnflag"]: (r["n"], r["rev"]) for r in plain}
    assert got == want


def test_sorted_neighborhood_emits_only_true_pairs(spark):
    """SNM is recall-bounded blocking: every pair it emits must be a
    TRUE >= 0.9 token-set-Jaccard pair (verified directly on the
    collected token sets — sf0.001 is tiny)."""
    from scylla_pg_cdc_spark.operators.simjoin import q_sorted_neighborhood

    docs = load_table(spark, SF_SMALL, "documents").collect()
    toks = {
        r["doc_id"]: {t for t in r["text"].split(" ") if t}
        for r in docs
    }
    snm = q_sorted_neighborhood(spark, SF_SMALL).collect()
    assert snm, "SNM should find at least one pair at sf0.001"
    for r in snm:
        a, b = toks[r["doc_a"]], toks[r["doc_b"]]
        inter = len(a & b)
        union = len(a | b)
        assert r["n_common"] == inter
        assert (r["n_a"], r["n_b"]) == (len(a), len(b))
        assert 10 * inter >= 9 * union
        assert r["jaccard_ppm"] == (1_000_000 * inter) // union


def test_countmin_cells_merge_additively(spark):
    """Sketch mergeability: counters built on two disjoint halves and
    summed cell-wise must equal counters built on the whole — the
    property that lets each partition/epoch fold locally at 100 TB."""
    from scylla_pg_cdc_spark.operators.sketches import (
        _CM_DEPTH,
        _cm_bucket_spark,
    )

    li = load_table(spark, SF_SMALL, "lineitem").select(
        F.col("l_partkey").cast("string").alias("k"), "l_orderkey"
    )

    def counters(df):
        cells = None
        for r in range(_CM_DEPTH):
            c = df.select(
                F.lit(r).alias("r"),
                _cm_bucket_spark(F.col("k"), r).alias("bucket"),
            )
            cells = c if cells is None else cells.unionAll(c)
        return {
            (row["r"], row["bucket"]): row["cnt"]
            for row in cells.groupBy("r", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

    whole = counters(li)
    h1 = counters(li.filter(F.col("l_orderkey") % 2 == 0))
    h2 = counters(li.filter(F.col("l_orderkey") % 2 == 1))
    merged: dict = {}
    for d in (h1, h2):
        for cell, n in d.items():
            merged[cell] = merged.get(cell, 0) + n
    assert merged == whole


def test_kmv_mink_merges_losslessly(spark):
    """min-k(A ∪ B) == min-k(min-k(A) ∪ min-k(B)) — KMV union merge
    needs only the two 64-value states, never the raw sets."""
    import hashlib

    li = load_table(spark, SF_SMALL, "lineitem").select("l_partkey").collect()
    keys = {r["l_partkey"] for r in li}

    def hv(x):
        return int(hashlib.md5(f"kmv:{x}".encode()).hexdigest()[:8], 16)

    hashes = sorted(hv(k) for k in keys)
    a = sorted(hv(k) for k in keys if k % 2 == 0)
    b = sorted(hv(k) for k in keys if k % 2 == 1)
    k = 64
    merged = sorted(set(a[:k]) | set(b[:k]))[:k]
    assert merged == hashes[:k]


# four long keys sharing one fine bucket (pmod(xxhash64, 4096) = 553)
# of merkle_pruned_diff's default levels: inside one bucket, equal
# values under two keys and values swapped between two keys are the
# shapes a digest over values alone cannot see
_SAME_BUCKET_KEYS = (443, 829, 886, 1007)
_SAME_BUCKET_SHAPES = {
    "equal_values": ({443: "x", 829: "x"}, {443: "y", 829: "y"}),
    "swapped_values": ({886: "p", 1007: "q"}, {886: "q", 1007: "p"}),
}


def _keyed_frame(spark, rows: dict):
    return spark.createDataFrame(
        sorted(rows.items()), "o_orderkey long, v string"
    )


@pytest.mark.parametrize(
    "shape", ["perturbed_orders", *_SAME_BUCKET_SHAPES]
)
def test_merkle_pruned_diff_equals_full_diff(spark, shape):
    """The recursive digest drill must return EXACTLY the full
    row-level diff's non-match rows — pruning may waste a drill on a
    digest false positive but can never change the result."""
    from scylla_pg_cdc_spark.operators.reconcile import (
        _perturbed_target,
        diff_datasets,
        merkle_pruned_diff,
    )

    if shape == "perturbed_orders":
        src = load_table(spark, SF_SMALL, "orders")
        tgt = _perturbed_target(spark, SF_SMALL)
    else:
        src_rows, tgt_rows = _SAME_BUCKET_SHAPES[shape]
        src, tgt = _keyed_frame(spark, src_rows), _keyed_frame(spark, tgt_rows)
        assert {
            r[0]
            for r in spark.createDataFrame(
                [(k,) for k in _SAME_BUCKET_KEYS], "k long"
            )
            .select(F.pmod(F.xxhash64("k"), F.lit(4096)))
            .collect()
        } == {553}
    full = {
        (r["o_orderkey"], r["diff_type"])
        for r in diff_datasets(src, tgt, ["o_orderkey"])
        .filter(F.col("diff_type") != "match")
        .collect()
    }
    pruned = {
        (r["o_orderkey"], r["diff_type"])
        for r in merkle_pruned_diff(src, tgt, ["o_orderkey"]).collect()
    }
    assert pruned == full
    assert full, "perturbed target must produce discrepancies"


def test_merkle_pruned_diff_clean_sides_empty(spark):
    from scylla_pg_cdc_spark.operators.reconcile import merkle_pruned_diff

    orders = load_table(spark, SF_SMALL, "orders")
    assert merkle_pruned_diff(orders, orders, ["o_orderkey"]).count() == 0


def test_multipass_snm_recall_superset_of_single_pass(spark):
    """Union-of-passes candidates must yield a superset of the
    single-pass result — the recall/cost dial must only go up."""
    from scylla_pg_cdc_spark.operators.simjoin import (
        q_snm_multipass,
        q_sorted_neighborhood,
    )

    single = {
        (r["doc_a"], r["doc_b"])
        for r in q_sorted_neighborhood(spark, SF_SMALL).collect()
    }
    multi = {
        (r["doc_a"], r["doc_b"])
        for r in q_snm_multipass(spark, SF_SMALL).collect()
    }
    assert single <= multi


def test_bfs_matches_python_simulation(spark):
    """4-round min-plus BFS must equal a Python BFS truncated at
    depth 4 from the same seed."""
    from scylla_pg_cdc_spark.operators.graph import q_graph_bfs

    rows = _edges(spark, SF_SMALL).collect()
    adj: dict[int, set[int]] = {}
    for r in rows:
        adj.setdefault(r["a"], set()).add(r["b"])
        adj.setdefault(r["b"], set()).add(r["a"])
    seed = min(r["a"] for r in rows)
    dist = {seed: 0}
    frontier = [seed]
    for hop in range(1, 5):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = hop
                    nxt.append(v)
        frontier = nxt
    want: dict[int, int] = {}
    for d in dist.values():
        want[d] = want.get(d, 0) + 1
    got = {
        r["hop"]: r["n_nodes"]
        for r in q_graph_bfs(spark, SF_SMALL).collect()
    }
    assert got == want


def test_incremental_digests_equal_recompute(spark):
    """CDC digest maintenance: fold a change batch's before/after
    images into the digest state and get EXACTLY the digest of the
    post-change table — no rescan."""
    from scylla_pg_cdc_spark.operators.reconcile import (
        bucket_digests,
        merge_digest_deltas,
    )

    orders = load_table(spark, SF_SMALL, "orders")
    n = 256
    state0 = bucket_digests(orders, ["o_orderkey"], n)

    # change batch: delete keys %17==0, update totalprice for %13==0,
    # insert clones at key+5000000 for %11==0
    deleted = orders.filter(F.col("o_orderkey") % 17 == 0)
    upd_before = orders.filter(
        (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") % 17 != 0)
    )
    upd_after = upd_before.withColumn(
        "o_totalprice", F.col("o_totalprice") + 7.5
    )
    inserted = orders.filter(F.col("o_orderkey") % 11 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 5000000
    )
    removed = deleted.unionByName(upd_before)
    added = upd_after.unionByName(inserted)

    applied = (
        orders.join(
            removed.select("o_orderkey"), "o_orderkey", "left_anti"
        )
        .unionByName(added)
    )
    want = {
        r["bucket"]: (r["n"], r["dig"])
        for r in bucket_digests(applied, ["o_orderkey"], n).collect()
    }
    got = {
        r["bucket"]: (r["n"], r["dig"])
        for r in merge_digest_deltas(
            state0, removed, added, ["o_orderkey"], n
        ).collect()
    }
    assert got == want


def test_digest_deltas_see_same_bucket_equal_and_swapped_values(spark):
    """Folding an epoch that rewrites two keys' equal values and swaps
    two keys' values inside ONE bucket must change the digest and land
    on the target's recompute."""
    from scylla_pg_cdc_spark.operators.reconcile import (
        bucket_digests,
        merge_digest_deltas,
    )

    src_rows, tgt_rows = {}, {}
    for s_rows, t_rows in _SAME_BUCKET_SHAPES.values():
        src_rows.update(s_rows)
        tgt_rows.update(t_rows)
    src, tgt = _keyed_frame(spark, src_rows), _keyed_frame(spark, tgt_rows)
    state0 = bucket_digests(src, ["o_orderkey"], 1)
    got = merge_digest_deltas(state0, src, tgt, ["o_orderkey"], 1).collect()
    want = bucket_digests(tgt, ["o_orderkey"], 1).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert got[0]["dig"] != state0.collect()[0]["dig"]


def test_streaming_epochs_maintain_digests(spark):
    """End-to-end digest maintenance over the CDC upsert pipeline's
    OWN epoch mechanics: replay event batches through
    compact_latest_agg + state_transition (exactly what the streaming
    foreachBatch uses for its MV delta), fold each epoch's
    (removed, added) into the digest state, and the final digests
    must equal a from-scratch recompute of the final latest-state
    table."""
    from scylla_pg_cdc_spark.operators.cdc import compact_latest_agg
    from scylla_pg_cdc_spark.operators.reconcile import (
        bucket_digests,
        merge_digest_deltas,
    )
    from scylla_pg_cdc_spark.streaming.mv import state_transition

    ev = (
        load_table(spark, SF_SMALL, "events")
        .select(
            "event_id",
            F.col("user_id").cast("string").alias("key"),
            F.when(F.col("event_type") == "error", "d")
            .otherwise("u")
            .alias("op"),
            "event_type",
            "value",
            "props",
            F.unix_millis("ts").alias("commit_ms"),
        )
    )
    n = 64
    state = None
    digests = spark.createDataFrame([], "bucket long, n long, dig long")
    for epoch in range(3):
        batch = ev.filter(F.col("event_id") % 3 == epoch)
        batch_latest = compact_latest_agg(batch, keep_deleted=True).drop(
            "__deleted"
        )
        removed, added = state_transition(state, batch_latest, "key")
        digests = merge_digest_deltas(
            digests, removed, added, ["key"], n
        ).localCheckpoint()
        # apply the same transition to the state table
        touched = batch_latest.select("key").distinct()
        if state is None:
            state = added.localCheckpoint()
        else:
            state = (
                state.join(touched, "key", "left_anti")
                .unionByName(added.select(*state.columns))
                .localCheckpoint()
            )
    want = {
        r["bucket"]: (r["n"], r["dig"])
        for r in bucket_digests(state, ["key"], n).collect()
    }
    got = {
        r["bucket"]: (r["n"], r["dig"]) for r in digests.collect()
    }
    assert got == want
    assert got, "final state must be non-empty"


def test_pipeline_maintains_digests_end_to_end(spark, tmp_path):
    """Full streaming run (availableNow, multi-epoch) with
    digest_buckets set: the digests state at the end must equal a
    from-scratch digest of the live latest-state view."""
    from scylla_pg_cdc_spark.operators.reconcile import bucket_digests
    from scylla_pg_cdc_spark.streaming.pipeline import (
        latest_state,
        run_upsert_pipeline,
    )

    out = run_upsert_pipeline(
        spark,
        SF_SMALL,
        str(tmp_path / "wd"),
        digest_buckets=32,
        max_files_per_trigger=1,
    )
    live = latest_state(spark, out["state"])
    want = {
        r["bucket"]: (r["n"], r["dig"])
        for r in bucket_digests(live, ["key"], 32).collect()
    }
    got = {
        r["bucket"]: (r["n"], r["dig"])
        for r in spark.read.parquet(out["digests"]).collect()
    }
    assert got == want
    assert got


def test_two_replica_digest_first_reconciliation(spark, tmp_path):
    """The reference's core workload, streaming + digest-first: two
    replicas ingest CDC feeds that diverge (replica B's feed lost
    some users' events); each pipeline maintains live digests; the
    digest comparison flags a bucket superset of every divergent key,
    and the row-level diff restricted to flagged buckets equals the
    unrestricted diff."""
    from pyspark.sql import functions as SF

    from scylla_pg_cdc_spark.operators.reconcile import diff_datasets
    from scylla_pg_cdc_spark.streaming.pipeline import (
        latest_state,
        run_upsert_pipeline,
    )

    n = 32
    # replica B's feed: events minus users %7==0 (a lost partition),
    # written as a single parquet FILE (the stream glob matches files)
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    b_dir = tmp_path / "replicaB"
    b_dir.mkdir()
    pdf = src.filter(SF.col("user_id") % 7 != 0).toPandas()
    pq.write_table(
        pa.Table.from_pandas(pdf), str(b_dir / "events.parquet")
    )
    out_a = run_upsert_pipeline(
        spark, SF_SMALL, str(tmp_path / "wa"), digest_buckets=n
    )
    out_b = run_upsert_pipeline(
        spark, str(b_dir), str(tmp_path / "wb"), digest_buckets=n
    )
    da = {
        r["bucket"]: (r["n"], r["dig"])
        for r in spark.read.parquet(out_a["digests"]).collect()
    }
    db = {
        r["bucket"]: (r["n"], r["dig"])
        for r in spark.read.parquet(out_b["digests"]).collect()
    }
    flagged = {
        b for b in set(da) | set(db) if da.get(b) != db.get(b)
    }
    assert flagged, "divergent replicas must flag buckets"

    live_a = latest_state(spark, out_a["state"])
    live_b = latest_state(spark, out_b["state"])
    full = {
        (r["key"], r["diff_type"])
        for r in diff_datasets(live_a, live_b, ["key"])
        .filter(SF.col("diff_type") != "match")
        .collect()
    }
    assert full, "replicas must actually differ at row level"
    # every divergent key's bucket is flagged (digest-first is safe)
    kb = {
        r["key"]: r["b"]
        for r in live_a.select("key")
        .unionByName(live_b.select("key"))
        .distinct()
        .select("key", SF.pmod(SF.xxhash64("key"), SF.lit(n)).alias("b"))
        .collect()
    }
    for key, _ in full:
        assert kb[key] in flagged
