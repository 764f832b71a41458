"""Direct tests of the distributed id assigners in graph/build.py.

``assign_dense_ids`` must equal ``row_number() - 1`` over its order for
any partition count (including more partitions than rows), under any
plan shape, and stay consistent when one result is consumed twice.
It must also stay JVM-only: no Arrow/Python stage in the plans it runs
or returns. ``dense_rank_ids`` must not leave its range-sorted input
cached behind it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from gms_spark.graph.build import assign_dense_ids, dense_rank_ids

PYTHON_NODES = ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython")


def _order():
    return [F.col("a").asc(), F.col("b").desc(), F.col("c").asc()]


@pytest.fixture(scope="module")
def frame(spark):
    # 40 rows, heavy ties on ``a`` and on (a, b); ``c`` is unique so the
    # order is total and the expected ids are exact.
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "a": rng.integers(0, 4, 40),
            "b": rng.choice(["x", "y", "zz"], 40),
            "c": rng.permutation(40),
        }
    )
    expected = pdf.sort_values(["a", "b", "c"], ascending=[True, False, True]).reset_index(drop=True)
    expected["id"] = np.arange(len(expected))
    return spark.createDataFrame(pdf, "a long, b string, c long"), expected


def _ids(df):
    return df.toPandas().sort_values("c").reset_index(drop=True)


def _check(got, expected):
    want = expected.sort_values("c").reset_index(drop=True)
    pd.testing.assert_frame_equal(got[["a", "b", "c", "id"]], want[["a", "b", "c", "id"]], check_dtype=False)


@pytest.mark.parametrize("num_partitions", [1, 3, 8, 64])
def test_ids_match_row_number(frame, num_partitions):
    df, expected = frame
    _check(_ids(assign_dense_ids(df, _order(), num_partitions=num_partitions)), expected)


def test_ids_independent_of_aqe(spark, frame):
    df, expected = frame
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    try:
        by_aqe = {}
        for aqe in ("true", "false"):
            spark.conf.set(key, aqe)
            by_aqe[aqe] = _ids(assign_dense_ids(df, _order(), num_partitions=3))
    finally:
        spark.conf.set(key, prev)
    pd.testing.assert_frame_equal(by_aqe["true"], by_aqe["false"])
    _check(by_aqe["true"], expected)


def test_self_join_agrees(frame):
    df, _ = frame
    res = assign_dense_ids(df, _order(), num_partitions=8)
    joined = res.select("c", F.col("id").alias("id_l")).join(res.select("c", F.col("id").alias("id_r")), "c")
    rows = joined.collect()
    assert len(rows) == 40
    assert all(r["id_l"] == r["id_r"] for r in rows)


def _sql_execution_count(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return int(spark._jsparkSession.sharedState().statusStore().executionsCount())


def test_jvm_only(spark, frame):
    # Every SQL execution the call runs (the pin, the partition counts)
    # plus the returned frame's own plan: a Python stage hidden behind
    # the checkpoint shows up in the former, a lazy one in the latter.
    df, _ = frame
    start = _sql_execution_count(spark)
    res = assign_dense_ids(df, _order(), num_partitions=3)
    end = _sql_execution_count(spark)
    it = spark._jsparkSession.sharedState().statusStore().executionsList(start, end - start).iterator()
    plans = []
    while it.hasNext():
        plans.append(it.next().physicalPlanDescription())
    assert len(plans) >= 2
    plans.append(res._jdf.queryExecution().executedPlan().toString())
    for plan in plans:
        assert not [n for n in PYTHON_NODES if n in plan], plan


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_dense_rank_ids_releases_ranged_input(spark):
    pdf = pd.DataFrame({"k": ["b", "a", "c", "a", "b", "d", "a"], "v": range(7)})
    df = spark.createDataFrame(pdf, "k string, v long")
    before = _persistent_rdds(spark)
    out = dense_rank_ids(df, "k", num_partitions=3)
    assert len(_persistent_rdds(spark) - before) <= 1
    got = out.toPandas().sort_values("v")
    want = pdf["k"].rank(method="dense").astype(int) - 1
    assert got["id"].tolist() == want.tolist()
