"""Seeded inputs for the benchmark: the warehouse tables and the CDC feed.

Both generators run on the benchmark side and are never timed. The
tables follow the registry's synthetic star schema (TPC-H-like dims and
facts plus `events`, `documents` and `embeddings`), with uniform columns
and the same value domains the registry's queries and oracles assume.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the table generator changes, so a cached dataset is rebuilt.
TABLES_VERSION = 1
TABLES_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "green", "hot", "large", "new", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 9131 * US_PER_DAY  # 1995-01-01 in µs since 1970
EPOCH_2024 = 19723 * US_PER_DAY  # 2024-01-01


def _days(rng, n, lo_day, span_days):
    return pa.array(
        EPOCH_1995 + (lo_day + rng.integers(0, span_days, n)) * US_PER_DAY,
        pa.timestamp("us"),
    )


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def make_tables(sf: float, seed: int = TABLES_SEED) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (sf 1 = 6M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_events = int(15_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    t = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": _money(rng, n_part, 900.0, 999.9),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, 0, 2404),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, 1, 2498),
        }
    )
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_events)) + EPOCH_2024
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at : at + n]))
        at += n
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": i32(rng.integers(0, 10, n_vecs)),
        }
    )
    return t


def ensure_tables(cache_root: str, sf: float) -> str:
    """Generate the tables once per checkout and return their directory.

    The directory is written under a temporary name and renamed into
    place, so a run killed mid-write never leaves a partial dataset."""
    name = f"tables-v{TABLES_VERSION}-s{TABLES_SEED}-sf{sf}"
    out = os.path.join(cache_root, name)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for tname, table in make_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{tname}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


# ---------------------------------------------------------------- CDC feed


@dataclass(frozen=True)
class FeedSpec:
    """Shape of the bursty change feed (one parquet file per epoch)."""

    n_small: int  # epochs of the small group
    n_large: int  # epochs of the large group, spread evenly among the small
    small_events: int  # events in a small epoch
    large_events: int
    hot_keys: int = 200  # updates and deletes favour this key subset
    hot_share: float = 0.8  # share of updates/deletes that hit a hot key
    late_share: float = 0.05
    poison_share: float = 0.10
    epoch_span_us: int = 60_000_000  # commit-time span of one epoch


def make_feed(spec: FeedSpec, seed: int) -> tuple[list[pa.Table], dict]:
    """Seeded change feed in the `EVENTS_RAW_SCHEMA` layout (ts as µs ticks).

    Inserts, updates and deletes come in the ratio 60:30:10 (a delete is
    ``event_type='error'``, the tombstone type). Updates and deletes hit
    a hot key subset ``hot_share`` of the time. A late event carries a
    commit ts earlier than an already emitted event of the same key. A
    poison row has ``props.k > 90`` or ``value < 1.0``. Large epochs sit
    at fixed, evenly spaced positions, so the seed changes the feed's
    content but not its shape.
    """
    rng = np.random.default_rng(seed)
    n = spec.n_small + spec.n_large
    large_at = {round((j + 0.5) * n / spec.n_large) for j in range(spec.n_large)}
    sizes = np.array(
        [spec.large_events if e in large_at else spec.small_events for e in range(n)],
        dtype=np.int64,
    )
    total = int(sizes.sum())
    kind = rng.choice(3, total, p=[0.6, 0.3, 0.1])  # insert, update, delete
    n_ins = int((kind == 0).sum())
    # every insert opens a fresh key; updates/deletes pick an opened key
    key_of = np.empty(total, dtype=np.int64)
    key_of[kind == 0] = np.arange(n_ins)
    opened = np.cumsum(kind == 0)  # keys opened up to and including row i
    hot = np.zeros(total, dtype=bool)
    for i in np.flatnonzero(kind != 0):
        n_open = max(int(opened[i]), 1)
        if rng.random() < spec.hot_share:
            key_of[i] = rng.integers(0, min(spec.hot_keys, n_open))
            hot[i] = True
        else:
            key_of[i] = rng.integers(0, n_open)
    event_type = rng.choice(["click", "purchase", "signup", "view"], total).astype(object)
    event_type[kind == 2] = "error"
    value = np.round(rng.exponential(50.0, total) + 1.0, 2)
    k = rng.integers(0, 91, total)  # props.k <= 90: not poison
    poison = rng.random(total) < spec.poison_share
    by_k = poison & (rng.random(total) < 0.5)
    k[by_k] = rng.integers(91, 100, int(by_k.sum()))
    value[poison & ~by_k] = np.round(rng.uniform(0.0, 0.99, int((poison & ~by_k).sum())), 2)
    # commit times: strictly increasing µs within and across epochs
    ts = np.empty(total, dtype=np.int64)
    at = 0
    for e, size in enumerate(sizes):
        base = EPOCH_2024 + e * spec.epoch_span_us
        ts[at : at + size] = base + np.sort(rng.choice(spec.epoch_span_us, size, replace=False))
        at += size
    # late events: only a key's second or later event can be late; it is
    # rewound below the latest commit ts already emitted for the key
    seen_before = np.zeros(total, dtype=bool)
    seen: set[int] = set()
    for i, key in enumerate(key_of.tolist()):
        seen_before[i] = key in seen
        seen.add(key)
    p_late = min(1.0, spec.late_share * total / max(int(seen_before.sum()), 1))
    late = seen_before & (rng.random(total) < p_late)
    rewind = rng.integers(1_000, 5_000_000, total)
    last_ts: dict[int, int] = {}
    for i, key in enumerate(key_of.tolist()):
        if late[i]:
            ts[i] = last_ts[key] - int(rewind[i])
        else:
            last_ts[key] = max(last_ts.get(key, ts[i]), int(ts[i]))
    tables, at = [], 0
    for size in sizes:
        sl = slice(at, at + int(size))
        tables.append(
            pa.table(
                {
                    "event_id": pa.array(np.arange(at, at + size, dtype=np.int64)),
                    "ts": pa.array(ts[sl], pa.int64()),
                    "user_id": pa.array(key_of[sl]),
                    "event_type": pa.array(list(event_type[sl]), pa.string()),
                    "value": pa.array(value[sl]),
                    "props": pa.array([f'{{"k": {v}}}' for v in k[sl]]),
                }
            )
        )
        at += int(size)
    upd_del = kind != 0
    stats = {
        "events": total,
        "epochs": len(sizes),
        "epoch_sizes": [int(s) for s in sizes],
        "late_share": round(float(late.mean()), 4),
        "poison_share": round(float(poison.mean()), 4),
        "hot_share_of_updates": round(float(hot[upd_del].mean()), 4),
        "kind_shares": [round(float((kind == j).mean()), 4) for j in range(3)],
        "spec": asdict(spec),
    }
    return tables, stats


def write_feed(tables: list[pa.Table], feed_dir: str) -> list[str]:
    """One parquet file per epoch, with strictly increasing mtimes so the
    file source admits them in epoch order."""
    os.makedirs(feed_dir, exist_ok=True)
    paths = []
    base_ns = 1_700_000_000 * 10**9
    for e, table in enumerate(tables):
        path = os.path.join(feed_dir, f"epoch-{e:05d}.parquet")
        pq.write_table(table, path)
        t = base_ns + e * 10**9
        os.utime(path, ns=(t, t))
        paths.append(path)
    return paths


def digest_files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(hashlib.sha256(f.read()).hexdigest())
    return out
