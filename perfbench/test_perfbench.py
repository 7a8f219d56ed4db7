"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/test_perfbench.py -q

The last test starts a SparkSession (about half a minute on four cores)
and checks that a traced op's parts add up to its wall.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

import data
import run
from check import value_hash
from probes import union_seconds


def test_union_clips_and_merges_overlapping_spans():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 9.0), (-4.0, -1.0)]
    assert union_seconds(spans, 0.5, 6.0) == pytest.approx(2.5 + 1.0)


def test_dataset_is_deterministic_and_shaped_like_the_star_schema():
    a, b = data.tables(sf=0.001), data.tables(sf=0.001)
    assert set(a) == set(data.TABLE_NAMES)
    for name in a:
        assert a[name].equals(b[name]), name
    assert a["lineitem"].num_rows == 6000
    assert a["orders"].column("o_orderkey").to_pylist() == list(range(1500))


def test_value_hash_ignores_row_and_column_order_and_int_float_drift():
    x = pd.DataFrame({"k": [1, 2], "v": [0.5, 2.0]})
    y = pd.DataFrame({"v": [2, 0.5], "k": [2.0, 1.0]})
    assert value_hash(x) == value_hash(y)
    assert value_hash(x) != value_hash(x.assign(v=[0.5, 2.5]))


@pytest.fixture(scope="module")
def spark_ctx():
    os.makedirs(run.WORK, exist_ok=True)
    run_dir = os.path.join(run.WORK, f"run-test-{os.getpid()}")
    run.configure_env(run_dir)
    data_dir = data.ensure(os.path.join(run.WORK, "data", "sf0.01"), 0.01)
    from empdia_iceberg_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test")
    try:
        yield spark, data_dir
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def test_traced_op_parts_sum_to_its_wall(spark_ctx):
    from empdia_iceberg_spark import registry
    from spans import Recorder

    spark, data_dir = spark_ctx
    fns = registry.queries()
    rec = Recorder(spark, traced=True)
    for name in ("q1_pricing_agg", "q3_join3_topk", "termination_flags"):
        for _ in range(2):
            with rec.op("query", name, primary=True, read=True) as op:
                with rec.span("build"):
                    df = fns[name](spark, data_dir)
                with rec.span("collect"):
                    df.toPandas()
                op.frame = df
    for op in rec.ops:
        assert op.ok, op.error
        assert op.layer["spark.jobs"] >= 1
        parts = op.parts["build"] + op.parts["in_jobs"] + op.parts["collect"]
        assert parts == pytest.approx(op.wall, rel=0.05), (op.name, op.parts, op.wall)
        assert op.layer["spark.in_jobs_s"] + op.layer["spark.outside_jobs_s"] == pytest.approx(op.wall)
        assert op.layer["catalyst.planning_s"] > 0
        assert op.layer["py4j.calls"] > 0
