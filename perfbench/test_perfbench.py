"""Tests of the benchmark's own parts: feed generation, the tail rule and
the output checks. Run from the checkout root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import statistics
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402

SMALL_FEED = datagen.FeedSpec(n_small=3, n_large=1, small_events=300, large_events=1200)


def _feed_digests(tmp_path, name, seed):
    tables, _ = datagen.make_feed(SMALL_FEED, seed)
    return datagen.digest_files(datagen.write_feed(tables, str(tmp_path / name)))


def test_feed_digests_follow_the_seed(tmp_path):
    a = _feed_digests(tmp_path, "a", 7)
    assert a == _feed_digests(tmp_path, "b", 7)
    assert a != _feed_digests(tmp_path, "c", 8)


def test_feed_has_the_declared_properties():
    _, stats = datagen.make_feed(workloads.FEED_SPEC, 3)
    assert stats["epoch_sizes"] == [4000, 40000, 4000, 4000, 40000, 4000, 40000]
    assert stats["kind_shares"] == pytest.approx([0.6, 0.3, 0.1], abs=0.01)
    assert stats["late_share"] == pytest.approx(0.05, abs=0.01)
    assert stats["poison_share"] == pytest.approx(0.10, abs=0.01)
    assert stats["hot_share_of_updates"] == pytest.approx(0.8, abs=0.02)


def test_feed_mtimes_increase_in_epoch_order(tmp_path):
    tables, _ = datagen.make_feed(SMALL_FEED, 1)
    paths = datagen.write_feed(tables, str(tmp_path / "f"))
    mtimes = [os.stat(p).st_mtime_ns for p in paths]
    assert mtimes == sorted(set(mtimes))


@pytest.mark.parametrize("n", [11, 12, 28, 70, 200])
def test_tail_leaves_ten_samples_beyond(n):
    values = [float(i) for i in range(n)][::-1]
    t = workloads.tail(values)
    assert t["samples"] == n
    assert t["beyond"] == 10
    assert sum(v > t["value"] for v in values) == 10


@pytest.mark.parametrize("n,beyond", [(1, 0), (5, 1), (6, 1), (8, 2), (10, 2)])
def test_tail_on_fewer_than_eleven_samples(n, beyond):
    t = workloads.tail([float(i) for i in range(n)])
    assert (t["samples"], t["beyond"]) == (n, beyond)
    assert t["value"] == n - 1 - beyond


def test_stream_tail_falls_inside_the_large_group():
    """With epoch latency rising with epoch size, the tail is neither the
    lowest nor the highest large epoch, and the median is a small one."""
    spec = workloads.FEED_SPEC
    small = [float(i) for i in range(spec.n_small)]
    large = [100.0 + i for i in range(spec.n_large)]
    t = workloads.tail(small + large)
    assert min(large) < t["value"] < max(large)
    assert statistics.median(small + large) in small


@pytest.fixture(scope="module")
def tiny_tables(tmp_path_factory):
    return datagen.ensure_tables(str(tmp_path_factory.mktemp("tables")), 0.001)


def test_query_check_catches_an_altered_row(tiny_tables):
    from scylla_pg_cdc_spark.registry import load_all

    oracle = load_all()["q_tpch_q10"].oracle
    con = checks.oracle_connection(tiny_tables)
    res = con.execute(oracle)
    cols = [d[0] for d in res.description]
    rows = [list(r) for r in res.fetchall()]
    assert rows
    ok = checks.check_query(con, oracle, cols, len(rows), checks.result_digest(rows))
    assert ok is None
    rows[len(rows) // 2][-1] = "altered"
    bad = checks.check_query(con, oracle, cols, len(rows), checks.result_digest(rows))
    assert bad == "row values differ from oracle"


def _write_outputs(root, expected, feed_glob):
    """Pipeline-shaped output dirs that hold exactly the recompute."""
    import duckdb

    state = pa.table(
        {
            "event_id": [r[1] for r in expected["live"]],
            "key": [r[0] for r in expected["live"]],
            "op": ["UPSERT"] * len(expected["live"]),
            "event_type": [r[2] for r in expected["live"]],
            "value": [r[3] for r in expected["live"]],
            "props": ['{"k": 1}'] * len(expected["live"]),
            "commit_ms": [r[4] for r in expected["live"]],
        }
    )
    os.makedirs(root / "state" / "__bucket=0")
    pq.write_table(state, root / "state" / "__bucket=0" / "part-0.parquet")
    os.makedirs(root / "dlq")
    duckdb.connect().execute(
        f"COPY (SELECT * FROM read_parquet('{feed_glob}') WHERE"
        f" {checks._POISON_SQL}) TO '{root / 'dlq' / 'part-0.parquet'}'"
    )
    mv = checks.mv_from_state(expected["live"])
    os.makedirs(root / "mv" / "__bucket=0")
    pq.write_table(
        pa.table(
            {
                "event_type": list(mv),
                "n_rows": [v[0] for v in mv.values()],
                "sum_value": [v[1] for v in mv.values()],
            }
        ),
        root / "mv" / "__bucket=0" / "part-0.parquet",
    )
    return {name: str(root / name) for name in ("state", "dlq", "mv")}


def test_stream_check_catches_an_altered_state_row(tmp_path):
    tables, _ = datagen.make_feed(SMALL_FEED, 5)
    datagen.write_feed(tables, str(tmp_path / "feed"))
    feed_glob = str(tmp_path / "feed" / "*.parquet")
    expected = checks.expected_stream_outputs(feed_glob)
    assert expected["live"] and expected["dlq_rows"]
    paths = _write_outputs(tmp_path / "out", expected, feed_glob)
    assert checks.check_stream_outputs(expected, paths) == []

    state_file = tmp_path / "out" / "state" / "__bucket=0" / "part-0.parquet"
    state = pq.read_table(state_file).to_pylist()
    state[len(state) // 2]["value"] += 1.0
    pq.write_table(pa.Table.from_pylist(state), state_file)
    problems = checks.check_stream_outputs(expected, paths)
    assert any("live state differs" in p for p in problems)
