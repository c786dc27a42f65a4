"""operators/local.local_frame: every driver-side frame shape the
engine builds comes out with the schema and rows the list-built
``createDataFrame`` gives, but plans as a ``LocalRelation`` (scanned by
the JVM) instead of a ``LogicalRDD`` over a pickled Python RDD (scanned
by Python workers)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import __spark_entry__ as entry_mod
from conftest import SF_DIR
from zoom_spark.operators.local import local_frame

# (rows, schema) for every schema shape a call site passes
SHAPES = {
    "flat": (
        [(1, 2**40, 0.5, "a"), (-3, None, float("nan"), None)],
        "a int, b bigint, c double, d string",
    ),
    "date": (
        [(1, dt.date(1995, 3, 4), 12.5, 0.25, 7)],
        "iteration int, out_day date, out_rev double, r_stat double, "
        "n_remaining bigint",
    ),
    "array2_double": (
        [([[0.5, -1.0], [2.0, 3.25]],)],
        "planes array<array<double>>",
    ),
    "centroid_stats": (
        [([[1, -2], [3, 4]], [5, 25], [0, 7])],
        "cmat array<array<long>>, cn2 array<long>, cid array<int>",
    ),
    "cmat3": (
        [([[[1, 2], [3, 4]], [[5, 6]]], [[5, 25], [61]], [[0, 1], [0]])],
        "cmat3 array<array<array<long>>>, "
        "cn2 array<array<long>>, cid3 array<array<int>>",
    ),
    "non_nullable_struct": (
        [(0, "F", 0, 0), (1, None, 12, 3)],
        StructType(
            [
                StructField("_pid", IntegerType(), False),
                StructField("o_orderstatus_k", StringType(), True),
                StructField("_roff", LongType(), False),
                StructField("_doff", LongType(), False),
            ]
        ),
    ),
    "empty": ([], "k bigint, lf double"),
}


def _leaves(df) -> list:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i) for i in range(leaves.size())]


def _python_rdd_scans(df) -> list[str]:
    """LogicalRDD leaves over a Python RDD (a list-built frame). A
    ``localCheckpoint`` is a LogicalRDD too, over the checkpointed RDD,
    so the RDD's call site tells the two apart."""
    return [
        leaf.rdd().toString()
        for leaf in _leaves(df)
        if leaf.nodeName() == "LogicalRDD"
        and "applySchemaToPythonRDD" in leaf.rdd().toString()
    ]


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_matches_list_built_frame(spark, shape):
    rows, schema = SHAPES[shape]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    assert [n.nodeName() for n in _leaves(got)] == ["LocalRelation"]
    assert [n.nodeName() for n in _leaves(want)] == ["LogicalRDD"]


def test_arrow_table_passes_through(spark):
    """PageRank's result: numpy columns handed over as a pa.Table."""
    nodes = np.array([3, 1, 2], dtype=np.int64)
    rank = np.array([0.25, 0.5, 0.25])
    got = local_frame(spark, pa.table({"node": nodes, "rank": rank}))
    want = spark.createDataFrame(
        list(zip(nodes.tolist(), rank.tolist())), "node bigint, rank double"
    )
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    assert [n.nodeName() for n in _leaves(got)] == ["LocalRelation"]


@pytest.mark.parametrize("name", ["kmeans_corpus_cells", "knn_ivf"])
def test_hot_ops_scan_no_python_rdd(spark, name):
    """The two ops whose centroid-stats frame ran Python-worker tasks on
    every scan: their plans now read it as a LocalRelation."""
    df = entry_mod.queries()[name](spark, SF_DIR)
    assert _python_rdd_scans(df) == []
    assert "LocalRelation" in [n.nodeName() for n in _leaves(df)]
