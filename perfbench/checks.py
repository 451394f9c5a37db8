"""Output checks, run outside the timed spans.

Query results are compared with the registry's DuckDB oracle SQL over
the same parquet tables. The CDC stream's outputs are compared with an
independent DuckDB recompute of the feed, which uses no program code:
latest row per key by (commit ms, event_id) over the non-poison rows,
tombstones dropped. The program's output directories are read back
with DuckDB as well, so a check never runs on Spark.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb


def _norm_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        # 12 significant digits absorb float32/float64 printing noise
        return ("f", "nan" if math.isnan(v) else f"{v:.12g}")
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm_cell(x) for x in v))
    return ("s", str(v))


def result_digest(rows) -> str:
    """Order-insensitive digest of a result's rows."""
    canon = sorted(tuple(_norm_cell(c) for c in row) for row in rows)
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def oracle_connection(tables_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per ``<table>.parquet`` file in ``tables_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in sorted(os.listdir(tables_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(tables_dir, name)
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_query(con, oracle: str | None, columns: list[str], n_rows: int, digest: str) -> str | None:
    """None if a query result (its column names, row count and row
    digest) matches the oracle; otherwise the reason. Without an oracle
    only a non-empty result is required."""
    if oracle is None:
        return None if n_rows > 0 else "rows-only check: empty result"
    res = con.execute(oracle)
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    cols = [c.lower() for c in columns]
    if sorted(cols) != sorted(duck_cols):
        return f"columns {cols} != oracle {duck_cols}"
    if n_rows != len(duck_rows):
        return f"{n_rows} rows != oracle {len(duck_rows)}"
    idx = [duck_cols.index(c) for c in cols]
    if result_digest([tuple(r[i] for i in idx) for r in duck_rows]) != digest:
        return "row values differ from oracle"
    return None


# ---------------------------------------------------------------- stream

_POISON_SQL = (
    "coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT) > 90"
    " OR value < 1.0, false)"
)


def expected_stream_outputs(feed_glob: str) -> dict:
    """Recompute the stream's live state, DLQ size and MV from the feed."""
    con = duckdb.connect()
    con.execute(
        f"""CREATE VIEW feed AS
        SELECT event_id, user_id AS key, event_type, value, props,
               ts // 1000 AS commit_ms, {_POISON_SQL} AS poison
        FROM read_parquet('{feed_glob}')"""
    )
    live = con.execute(
        """SELECT key, event_id, event_type, value, commit_ms FROM (
             SELECT *, row_number() OVER (
                 PARTITION BY key ORDER BY commit_ms DESC, event_id DESC) AS rn
             FROM feed WHERE NOT poison)
           WHERE rn = 1 AND event_type IS DISTINCT FROM 'error'"""
    ).fetchall()
    (dlq,) = con.execute("SELECT count(*) FROM feed WHERE poison").fetchone()
    return {"live": live, "dlq_rows": dlq}


def mv_from_state(live_rows) -> dict[str, tuple[int, float]]:
    out: dict[str, tuple[int, float]] = {}
    for _key, _eid, event_type, value, _ms in live_rows:
        n, s = out.get(event_type, (0, 0.0))
        out[event_type] = (n + 1, s + value)
    return out


def _read_parquet_dir(con, path: str, cols: str, where: str = "TRUE"):
    glob = os.path.join(path, "**", "*.parquet")
    return con.execute(
        f"SELECT {cols} FROM read_parquet('{glob}', hive_partitioning = true)"
        f" WHERE {where}"
    ).fetchall()


def check_stream_outputs(expected: dict, paths: dict) -> list[str]:
    """Problems found in the pipeline's state, DLQ and MV directories."""
    con = duckdb.connect()
    problems = []
    state = _read_parquet_dir(
        con, paths["state"], "key, event_id, event_type, value, commit_ms",
        "op <> 'DELETE'",
    )
    if result_digest(state) != result_digest(expected["live"]):
        problems.append(
            f"live state differs from recompute ({len(state)} rows vs"
            f" {len(expected['live'])})"
        )
    dlq = _read_parquet_dir(con, paths["dlq"], "count(*)")[0][0]
    if dlq != expected["dlq_rows"]:
        problems.append(f"DLQ has {dlq} rows, recompute {expected['dlq_rows']}")
    mv = {
        et: (n, s)
        for et, n, s in _read_parquet_dir(con, paths["mv"], "event_type, n_rows, sum_value")
    }
    want = mv_from_state(expected["live"])
    if set(mv) != set(want) or any(
        mv[k][0] != want[k][0] or not math.isclose(mv[k][1], want[k][1], rel_tol=1e-9)
        for k in want
    ):
        problems.append(f"MV {sorted(mv.items())} != recompute {sorted(want.items())}")
    return problems
