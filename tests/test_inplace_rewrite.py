"""In-place input rewrites: a query called again in the same session
must see the rewritten table, never an answer kept from the first
call. Each case copies sf0.001, runs the query, rewrites one of its
input tables in place so the answer has to change, calls the query
again, and compares with a fresh recompute over a second copy of the
rewritten data (a path the session has never read)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from scylla_pg_cdc_spark.registry import load_all
from tests.conftest import SF_SMALL
from tools.check_oracle import _norm_rows

SPECS = load_all()


def _set_column(path: str, name: str, fn) -> None:
    t = pq.read_table(path)
    i = t.schema.get_field_index(name)
    pq.write_table(t.set_column(i, name, fn(t.column(name))), path)


def _triple_value(col):
    return pc.multiply(col, 3.0)


def _same_name(col):
    # every customer of a nation now matches every other one
    return pa.array(["Customer#000000001"] * len(col), col.type)


def _fold_suppkey(col):
    return pc.add(pc.bit_wise_and(col, 3), 1)


def _fold_partkey(col):
    return pc.add(pc.bit_wise_and(col, 15), 1)


def _negate_embedding(col):
    return pa.array(
        [[-x for x in v] for v in col.to_pylist()], col.type
    )


def _roll_text(col):
    # doc i takes doc i+1's text: which docs hold which terms moves
    vals = col.to_pylist()
    return pa.array(vals[1:] + vals[:1], col.type)


CASES = [
    ("q_mad_value", "events", "value", _triple_value),
    ("q_entity_resolution", "customer", "c_name", _same_name),
    ("q_graph_pagerank", "lineitem", "l_suppkey", _fold_suppkey),
    ("q_graph_triangles", "lineitem", "l_partkey", _fold_partkey),
    ("q_vector_pq_knn", "embeddings", "embedding", _negate_embedding),
    ("q_text_bm25", "documents", "text", _roll_text),
    ("q_stream_neardup_admission", "documents", "text", _roll_text),
]


def _rows(spark, name: str, sf_dir: str):
    return _norm_rows(tuple(r) for r in SPECS[name].fn(spark, sf_dir).collect())


@pytest.mark.parametrize(
    "name,table,column,rewrite", CASES, ids=[c[0] for c in CASES]
)
def test_second_call_sees_inplace_rewrite(
    spark, tmp_path, name, table, column, rewrite
):
    live = str(tmp_path / "live")
    shutil.copytree(SF_SMALL, live)
    before = _rows(spark, name, live)

    _set_column(os.path.join(live, f"{table}.parquet"), column, rewrite)
    again = _rows(spark, name, live)

    fresh = str(tmp_path / "fresh")
    shutil.copytree(live, fresh)
    expect = _rows(spark, name, fresh)

    assert expect != before, f"{name}: the rewrite did not change the answer"
    assert again == expect, f"{name}: second call kept the pre-rewrite answer"


def test_stream_admission_removes_its_work_dir(spark, tmp_path):
    sf_dir = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf_dir)

    def work_dirs():
        return {
            d for d in os.listdir(tempfile.gettempdir())
            if d.startswith("stream_admit_")
        }

    before = work_dirs()
    SPECS["q_stream_neardup_admission"].fn(spark, sf_dir).collect()
    assert work_dirs() - before == set()
