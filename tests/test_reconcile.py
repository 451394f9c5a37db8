"""Unit tests for the reconciliation engine — ports the reference's
differ/comparer edge-case matrix (SURVEY.md §5: composite keys, nulls,
duplicates, float tolerance, ignore-fields; `tests/unit/test_differ.py`,
`test_comparer.py` in the reference)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.operators.reconcile import (
    diff_datasets,
    diff_summary,
    find_duplicates,
    generate_repair_actions,
    match_percentage,
    schema_diff,
)

SCHEMA = "id long, name string, amount double, note string"


@pytest.fixture(scope="module")
def src(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10.0, None),
            (2, "b", 20.0, "x"),
            (3, "c", 30.0, "y"),
            (4, "d", 40.0, None),
        ],
        SCHEMA,
    )


@pytest.fixture(scope="module")
def tgt(spark):
    return spark.createDataFrame(
        [
            (1, "a", 10.0, None),          # match (null == null)
            (2, "b", 20.00009, "x"),       # match under 1e-4 tolerance
            (3, "c", 31.0, "y"),           # mismatch (amount)
            # id 4 absent -> missing
            (5, "e", 50.0, None),          # extra
        ],
        SCHEMA,
    )


def classes(diff):
    return {r["id"]: r["diff_type"] for r in diff.collect()}


def test_diff_classification(spark, src, tgt):
    d = classes(diff_datasets(src, tgt, ["id"]))
    assert d == {1: "match", 2: "match", 3: "mismatch", 4: "missing", 5: "extra"}


def test_float_tolerance_boundary(spark, src, tgt):
    # tighten tolerance so 2 becomes a mismatch
    d = classes(diff_datasets(src, tgt, ["id"], float_tol=1e-6))
    assert d[2] == "mismatch"


def test_null_vs_value_is_mismatch(spark):
    s = spark.createDataFrame([(1, "a", 1.0, "v")], SCHEMA)
    t = spark.createDataFrame([(1, "a", 1.0, None)], SCHEMA)
    assert classes(diff_datasets(s, t, ["id"]))[1] == "mismatch"


def test_ignore_fields(spark, src, tgt):
    d = classes(diff_datasets(src, tgt, ["id"], ignore_fields=("amount",)))
    assert d[3] == "match"


def test_diff_fields_detail(spark, src, tgt):
    rows = {
        r["id"]: list(r["diff_fields"])
        for r in diff_datasets(src, tgt, ["id"]).collect()
    }
    assert rows[3] == ["amount"]
    assert rows[1] == []
    assert rows[4] == []  # missing rows carry no field diff


def test_composite_keys(spark):
    s = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b")], "k1 long, k2 long, v string"
    )
    t = spark.createDataFrame(
        [(1, 1, "a"), (1, 3, "c")], "k1 long, k2 long, v string"
    )
    d = diff_datasets(s, t, ["k1", "k2"])
    got = {(r["k1"], r["k2"]): r["diff_type"] for r in d.collect()}
    assert got == {(1, 1): "match", (1, 2): "missing", (1, 3): "extra"}


def test_summary_and_match_pct(spark, src, tgt):
    diff = diff_datasets(src, tgt, ["id"])
    summary = {r["diff_type"]: r["n"] for r in diff_summary(diff).collect()}
    assert summary == {"match": 2, "mismatch": 1, "missing": 1, "extra": 1}
    pct = match_percentage(diff).collect()[0]
    assert pct["source_rows"] == 4
    assert pct["discrepant_rows"] == 2
    assert abs(pct["match_pct"] - 50.0) < 1e-9


def test_find_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "id long, v string"
    )
    dups = find_duplicates(df, ["id"]).collect()
    assert len(dups) == 1 and dups[0]["id"] == 1 and dups[0]["n"] == 2


def test_schema_diff():
    pass  # exercised via q_schema_diff oracle test


def test_repair_actions_priority_and_sql(spark, src, tgt):
    diff = diff_datasets(src, tgt, ["id"])
    actions = generate_repair_actions(diff, src, ["id"], "mytable").collect()
    by_type = {r["action_type"]: r for r in actions}
    assert by_type["DELETE"]["priority"] == 1 and by_type["DELETE"]["id"] == 5
    assert by_type["INSERT"]["priority"] == 2 and by_type["INSERT"]["id"] == 4
    assert by_type["UPDATE"]["priority"] == 3 and by_type["UPDATE"]["id"] == 3
    assert by_type["DELETE"]["repair_sql"] == "DELETE FROM mytable WHERE id = 5"
    assert by_type["INSERT"]["repair_sql"] == (
        "INSERT INTO mytable (id, name, amount, note) "
        "VALUES (4, 'd', 40.0, NULL)"
    )
    assert by_type["UPDATE"]["repair_sql"] == (
        "UPDATE mytable SET name = 'c', amount = 30.0, note = 'y' WHERE id = 3"
    )


def test_repair_sql_escapes_quotes(spark):
    s = spark.createDataFrame([(1, "o'brien", 1.0, None)], SCHEMA)
    t = spark.createDataFrame([], SCHEMA)
    diff = diff_datasets(s, t, ["id"])
    sql = generate_repair_actions(diff, s, ["id"], "t").collect()[0]["repair_sql"]
    assert "o''brien" in sql  # '' doubling, repairer.py:514-516


def test_repair_sql_converges_on_real_database(spark, src, tgt):
    """End-to-end repair loop (reconcile.py:490-522 analog): apply the
    generated SQL to a real SQL engine holding the target, then
    re-diff — every discrepancy must be gone."""
    import sqlite3

    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, name TEXT, "
                "amount REAL, note TEXT)")
    con.executemany(
        "INSERT INTO t VALUES (?,?,?,?)",
        [tuple(r) for r in tgt.collect()],
    )
    diff = diff_datasets(src, tgt, ["id"])
    actions = generate_repair_actions(diff, src, ["id"], "t").collect()
    for r in sorted(actions, key=lambda r: r["priority"]):
        con.execute(r["repair_sql"])
    con.commit()
    repaired = spark.createDataFrame(
        [tuple(row) for row in con.execute(
            "SELECT id, name, amount, note FROM t ORDER BY id")],
        SCHEMA,
    )
    re_diff = diff_datasets(src, repaired, ["id"])
    assert {r["diff_type"] for r in re_diff.collect()} == {"match"}


def test_case_insensitive_column_matching(spark):
    """comparer.py:62-69: mixed-case identifiers on one side must
    still compare (CQL lower vs warehouse mixed)."""
    s = spark.createDataFrame([(1, "a")], "ID long, Name string")
    t = spark.createDataFrame([(1, "b")], "id long, name string")
    d = diff_datasets(s, t, ["id"], case_insensitive=True).collect()
    assert d[0]["diff_type"] == "mismatch" and list(d[0]["diff_fields"]) == ["name"]


def test_composite_key_repair_where_covers_all_keys(spark):
    s = spark.createDataFrame(
        [(7, 1, "a"), (7, 2, "b")], "order_id long, line_no long, v string"
    )
    t = spark.createDataFrame(
        [(7, 1, "a"), (7, 2, "b"), (7, 3, "c")],
        "order_id long, line_no long, v string",
    )
    diff = diff_datasets(s, t, ["order_id", "line_no"])
    actions = generate_repair_actions(
        diff, s, ["order_id", "line_no"], "t"
    ).collect()
    delete = [r for r in actions if r["action_type"] == "DELETE"][0]
    assert delete["repair_sql"] == (
        "DELETE FROM t WHERE order_id = 7 AND line_no = 3"
    )


def test_null_key_rows_classified_by_presence_not_key_null(spark):
    """A legitimately-NULL key matched by the null-safe join must be a
    'match', not 'missing'."""
    s = spark.createDataFrame([(None, "a", 1.0, None)], SCHEMA)
    t = spark.createDataFrame([(None, "a", 1.0, None)], SCHEMA)
    d = diff_datasets(s, t, ["id"]).collect()
    assert len(d) == 1 and d[0]["diff_type"] == "match"


def test_apply_repairs_roundtrip(spark, src, tgt):
    """diff -> actions -> apply -> re-diff shows zero discrepancies
    (the executor the reference runs at scripts/reconcile.py:490-522,
    as a distributed merge)."""
    from scylla_pg_cdc_spark.operators.reconcile import apply_repairs

    diff = diff_datasets(src, tgt, ["id"])
    actions = generate_repair_actions(diff, src, ["id"], "t")
    repaired = apply_repairs(tgt, actions, src, ["id"])
    rediff = diff_datasets(src, repaired, ["id"])
    assert {r["diff_type"] for r in rediff.collect()} == {"match"}
    assert repaired.count() == src.count()


def test_apply_repairs_idempotent(spark, src, tgt):
    """Applying the same action set twice must equal applying it once —
    the merge removes every actioned key before re-inserting."""
    from scylla_pg_cdc_spark.operators.reconcile import apply_repairs

    diff = diff_datasets(src, tgt, ["id"])
    actions = generate_repair_actions(diff, src, ["id"], "t")
    once = apply_repairs(tgt, actions, src, ["id"])
    twice = apply_repairs(once, actions, src, ["id"])
    assert sorted(once.collect()) == sorted(twice.collect())
    assert twice.count() == src.count()


def test_apply_repairs_composite_keys(spark):
    """Composite-key merge must not touch sibling rows sharing a key
    component."""
    from scylla_pg_cdc_spark.operators.reconcile import apply_repairs

    sch = "k1 long, k2 string, v double"
    s = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 3.0)], sch
    )
    t = spark.createDataFrame(
        [(1, "a", 9.0), (1, "b", 2.0), (3, "z", 7.0)], sch
    )
    diff = diff_datasets(s, t, ["k1", "k2"])
    actions = generate_repair_actions(diff, s, ["k1", "k2"], "t")
    repaired = apply_repairs(t, actions, s, ["k1", "k2"])
    rediff = diff_datasets(s, repaired, ["k1", "k2"])
    assert {r["diff_type"] for r in rediff.collect()} == {"match"}
    # untouched sibling row survived as-is
    assert repaired.filter(
        (F.col("k1") == 1) & (F.col("k2") == "b") & (F.col("v") == 2.0)
    ).count() == 1


def test_apply_repairs_to_parquet_swaps_in_place(spark, src, tgt, tmp_path):
    """Parquet executor: staging write + swap leaves the target path
    holding the repaired image."""
    from scylla_pg_cdc_spark.operators.reconcile import (
        apply_repairs_to_parquet,
    )

    target_path = str(tmp_path / "target.parquet")
    tgt.write.parquet(target_path)
    diff = diff_datasets(src, spark.read.parquet(target_path), ["id"])
    actions = generate_repair_actions(diff, src, ["id"], "t")
    apply_repairs_to_parquet(spark, target_path, actions, src, ["id"])
    rediff = diff_datasets(src, spark.read.parquet(target_path), ["id"])
    assert {r["diff_type"] for r in rediff.collect()} == {"match"}
    # no staging/backup litter
    assert not (tmp_path / "target.parquet_next").exists()
    assert not (tmp_path / "target.parquet_prev").exists()


def test_apply_repairs_to_parquet_recovers_from_crashed_swap(
    spark, src, tgt, tmp_path
):
    """Simulate a crash between the two swap renames (target absent,
    backup + staging present): the next run must heal and converge."""
    import shutil

    from scylla_pg_cdc_spark.operators.reconcile import (
        apply_repairs_to_parquet,
    )

    target_path = str(tmp_path / "target.parquet")
    tgt.write.parquet(target_path)
    diff = diff_datasets(src, spark.read.parquet(target_path), ["id"])
    actions = generate_repair_actions(diff, src, ["id"], "t")

    # manufacture the crash window: old image parked at backup, a
    # half-baked staging dir, no live target
    shutil.move(target_path, target_path + "_prev")
    (tmp_path / "target.parquet_next").mkdir()
    (tmp_path / "target.parquet_next" / "junk").write_text("x")

    apply_repairs_to_parquet(spark, target_path, actions, src, ["id"])
    rediff = diff_datasets(src, spark.read.parquet(target_path), ["id"])
    assert {r["diff_type"] for r in rediff.collect()} == {"match"}
    assert not (tmp_path / "target.parquet_prev").exists()
    assert not (tmp_path / "target.parquet_next").exists()
