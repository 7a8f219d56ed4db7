"""Snapshot reads whose files fit one split run as one task
(`SMALL_SCAN_BYTES` and `SMALL_SCAN_FILES` in tables/manager.py): below
the gates a SQL aggregate plans no Exchange and runs as one job of one
task, at or above either the plan is the parallel one, and on either
side every read path returns the same rows."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

import empdia_iceberg_spark.tables.manager as mgr
from empdia_iceberg_spark.tables import ddl
from empdia_iceberg_spark.tables.ddl import execute_sql
from empdia_iceberg_spark.tables.manager import SnapshotTable

AGG = "SELECT count(*) AS n, count(DISTINCT k) AS n_k, sum(v) AS s FROM {t}"


@pytest.fixture(scope="module")
def root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("small_scan"))


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("p"), (F.col("id") * 3).alias("v")
    )


def _table(spark, root, name, partition_by=None, batches=4, rows=500):
    """A table of ``batches`` appended files (one dir each)."""
    t = SnapshotTable(spark, name, root)
    t.drop()
    t.create(_batch(spark, 0, rows), partition_by=partition_by)
    for i in range(1, batches):
        t.append(_batch(spark, i * rows, (i + 1) * rows))
    return t


def _bytes(dirs) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for d in dirs
        for r, _ds, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    )


def _data_bytes(t) -> int:
    return _bytes(t._read_meta(t.current_version())["dirs"])


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _sql(spark, root, statement, gate, monkeypatch):
    """``statement`` through execute_sql with the gate at ``gate`` bytes;
    the view-frame cache is emptied so the scan is built under it."""
    monkeypatch.setattr(mgr, "SMALL_SCAN_BYTES", gate)
    ddl._VIEW_FRAME_CACHE.clear()
    return execute_sql(spark, statement, root=root)


def _collect_counting_jobs(spark, df):
    """(rows, [(job id, task count)]) of the jobs one collect runs."""
    sc = spark.sparkContext
    group = f"small-scan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = [
        (jid, int(store.job(jid).numTasks()))
        for jid in sc.statusTracker().getJobIdsForGroup(group)
    ]
    return rows, jobs


def test_small_aggregate_runs_as_one_job_of_one_task(spark, root):
    t = _table(spark, root, "t_small_agg")
    assert _data_bytes(t) < mgr.SMALL_SCAN_BYTES
    ddl._VIEW_FRAME_CACHE.clear()
    df = execute_sql(spark, AGG.format(t=t.name), root=root)
    plan = _plan(df)
    assert "Coalesce 1" in plan and "Exchange" not in plan, plan
    rows, jobs = _collect_counting_jobs(spark, df)
    assert [tuple(r) for r in rows] == [(2000, 2000, 3 * sum(range(2000)))]
    assert len(jobs) == 1 and jobs[0][1] == 1, jobs


def test_gate_boundary_keeps_the_parallel_plan_at_and_above(spark, root, monkeypatch):
    t = _table(spark, root, "t_small_edge")
    size = _data_bytes(t)
    assert t.read().rdd.getNumPartitions() == 1
    under = _sql(spark, root, AGG.format(t=t.name), size + 1, monkeypatch)
    assert "Coalesce 1" in _plan(under) and "Exchange" not in _plan(under)
    over = _sql(spark, root, AGG.format(t=t.name), size, monkeypatch)
    plan = _plan(over)
    assert "Coalesce" not in plan and plan.count("Exchange") >= 2, plan
    assert t.read().rdd.getNumPartitions() > 1
    assert over.collect() == under.collect()


def test_many_files_keep_the_parallel_plan(spark, root, monkeypatch):
    """The file-count gate: one task opens files one after another, so
    a read of SMALL_SCAN_FILES files stays parallel however few bytes
    they hold."""
    t = _table(spark, root, "t_small_files")
    meta = t._read_meta(t.current_version())
    n = sum(len(t._walk_parquet(d)) for d in meta["dirs"])
    assert _data_bytes(t) < mgr.SMALL_SCAN_BYTES
    monkeypatch.setattr(mgr, "SMALL_SCAN_FILES", n)
    assert t.read().rdd.getNumPartitions() > 1
    monkeypatch.setattr(mgr, "SMALL_SCAN_FILES", n + 1)
    assert t.read().rdd.getNumPartitions() == 1


def test_delete_files_count_toward_the_gate(spark, root, monkeypatch):
    t = _table(spark, root, "t_small_deletes")
    t.delete_where_mor(F.col("k") < 700, key="k")
    meta = t._read_meta(t.current_version())
    data = _bytes(meta["dirs"])
    deletes = _bytes([dd["dir"] for dd in meta["delete_dirs"]])
    assert deletes > 0
    monkeypatch.setattr(mgr, "SMALL_SCAN_BYTES", data + deletes)
    assert "Coalesce" not in _plan(t.read())
    monkeypatch.setattr(mgr, "SMALL_SCAN_BYTES", data + deletes + 1)
    assert "Coalesce 1" in _plan(t.read())


def _full(spark, root, name):
    _table(spark, root, name)
    return f"SELECT * FROM {name}"


def _pruned(spark, root, name):
    _table(spark, root, name, partition_by=["p"])
    return f"SELECT k, v FROM {name} WHERE p = 2 AND k > 100"


def _as_of(spark, root, name):
    t = _table(spark, root, name)
    t.delete_where_pruned(F.col("k") < 300)
    return f"SELECT * FROM {name} VERSION AS OF 2"


def _mor_equality(spark, root, name):
    t = _table(spark, root, name)
    t.delete_where_mor(F.col("k") % 7 == 0, key="k")
    t.append(_batch(spark, 0, 50))  # later rows of deleted keys survive
    return f"SELECT * FROM {name}"


def _position(spark, root, name):
    t = _table(spark, root, name)
    t.delete_where_position(F.col("k") % 5 == 0)
    return f"SELECT * FROM {name}"


def _renamed(spark, root, name):
    t = _table(spark, root, name)
    t.rename_column("v", "w")
    t.append(_batch(spark, 5000, 5100).withColumnRenamed("v", "w"))
    return f"SELECT k, w FROM {name} WHERE w > 300"


def _changes(spark, root, name):
    t = _table(spark, root, name)
    t.delete_where_pruned(F.col("k") < 100)
    return f"SELECT _change_type, k, v FROM table_changes('{name}', 2, 5)"


@pytest.mark.parametrize(
    "case",
    [_full, _pruned, _as_of, _mor_equality, _position, _renamed, _changes],
    ids=lambda c: c.__name__.strip("_"),
)
def test_rows_are_equal_on_both_sides_of_the_gate(spark, root, monkeypatch, case):
    name = f"t_small{case.__name__}"
    statement = case(spark, root, name)
    under = _sql(spark, root, statement, 1 << 62, monkeypatch)
    assert "Coalesce 1" in _plan(under), _plan(under)
    got = sorted(tuple(r) for r in under.collect())
    over = _sql(spark, root, statement, 0, monkeypatch)
    assert "Coalesce" not in _plan(over), _plan(over)
    assert got and got == sorted(tuple(r) for r in over.collect())
