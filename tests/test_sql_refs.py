"""Table references read from Spark's parse tree: `execute_sql` resolves
time travel, `table_changes(...)` and metadata tables from the parsed
plan's relation leaves, and registers only the tables and views the plan
names. Comments and column names are not references, backticked names
are, and the cost of a statement does not grow with the catalog."""

from __future__ import annotations

import os

import pytest

from empdia_iceberg_spark.tables import ddl
from empdia_iceberg_spark.tables.ddl import execute_sql
from empdia_iceberg_spark.tables.dml import execute_dml
from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root


@pytest.fixture()
def tt(spark):
    """`tt` (k int, files string): v1 holds k = 1, 2 and v2 adds k = 3."""
    root = scratch_root()
    t = SnapshotTable(spark, "tt", root)
    t.drop()
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k int, files string"))
    t.append(spark.createDataFrame([(3, "c")], "k int, files string"))
    yield t
    t.drop()


def _one(spark, statement, root):
    return [tuple(r) for r in execute_sql(spark, statement, root).collect()]


@pytest.mark.parametrize("comment", [
    "-- copied from: nosuch VERSION AS OF 3",
    "-- see table_changes('nosuch', 1)",
])
def test_a_reference_inside_a_comment_is_ignored(spark, comment):
    assert _one(spark, f"SELECT 1 AS one {comment}", scratch_root()) == [(1,)]


def test_backticked_name_time_travels(spark, tt):
    root = tt.root
    assert _one(spark, "SELECT count(*) FROM `tt` VERSION AS OF 1", root) == [(2,)]
    assert _one(spark, "SELECT count(*) FROM `tt` FOR SYSTEM_VERSION AS OF 2", root) == [(3,)]


def test_references_inside_a_cte_and_an_in_subquery_resolve(spark, tt):
    root = tt.root
    assert _one(
        spark,
        "WITH c AS (SELECT k FROM `tt` VERSION AS OF 1) SELECT count(*) FROM c",
        root,
    ) == [(2,)]
    assert _one(
        spark,
        "SELECT count(*) FROM tt WHERE k IN (SELECT k FROM `tt` VERSION AS OF 1)",
        root,
    ) == [(2,)]
    assert _one(
        spark,
        "SELECT count(*) FROM tt WHERE k IN (SELECT version FROM `tt`.snapshots)",
        root,
    ) == [(2,)]


def test_spans_follow_variable_substitution(spark, tt):
    """Spark substitutes ${var} before it parses, so the spans index the
    substituted text."""
    spark.conf.set("tt_refs_version", "1")
    try:
        assert _one(spark, "SELECT count(*) FROM tt VERSION AS OF ${tt_refs_version}",
                    tt.root) == [(2,)]
        assert _one(spark, "SELECT '${tt_refs_version}' AS v, count(*) FROM tt "
                    "VERSION AS OF 2", tt.root) == [("1", 3)]
    finally:
        spark.conf.unset("tt_refs_version")


def test_self_reference_reads_relation_names(spark, tt):
    """A column alias named like the view is not a self-reference; a body
    that reads the view is."""
    root = tt.root
    try:
        execute_sql(spark, "CREATE VIEW total AS SELECT count(*) AS total FROM tt", root)
        assert _one(spark, "SELECT total FROM total", root) == [(3,)]
        with pytest.raises(ValueError, match="cannot reference itself"):
            execute_sql(
                spark,
                "CREATE OR REPLACE VIEW total AS SELECT * FROM tt "
                "WHERE k IN (SELECT total FROM total)",
                root,
            )
    finally:
        execute_sql(spark, "DROP VIEW IF EXISTS total", root)


def test_a_column_named_like_a_metadata_table_is_a_column(spark, tt):
    rows = _one(spark, "SELECT tt.files FROM tt ORDER BY k", tt.root)
    assert rows == [("a",), ("b",), ("c",)]


def test_statement_cost_does_not_grow_with_the_catalog(spark, tt, monkeypatch):
    """One SELECT makes as many directory listings and isdir probes with
    200 more (empty) tables under the root as with `tt` alone."""
    import shutil

    root = tt.root

    def probes():
        execute_sql(spark, "SELECT count(*) FROM tt", root)  # warm the frame cache
        counts = {"listdir": 0, "isdir": 0}
        for name, owner in (("listdir", os), ("isdir", os.path)):
            def counted(*args, _real=getattr(owner, name), _name=name):
                counts[_name] += 1
                return _real(*args)

            monkeypatch.setattr(owner, name, counted)
        execute_sql(spark, "SELECT count(*) FROM tt", root)
        monkeypatch.undo()
        return counts

    catalog = [os.path.join(root, f"tt_cat_{i}") for i in range(200)]
    try:
        for d in catalog:
            os.makedirs(os.path.join(d, "_meta"))
        big = probes()
    finally:
        for d in catalog:
            shutil.rmtree(d, ignore_errors=True)
    assert big == probes()


def test_insert_registers_its_source_tables_once(spark, tt, monkeypatch):
    root = tt.root
    dst = SnapshotTable(spark, "tt_dst", root)
    dst.drop()
    dst.create(spark.createDataFrame([], "k int, files string"))
    registrations = []
    real = ddl.materialize_tables

    def counted(spark_, names, root_):
        registrations.append(sorted(names))
        return real(spark_, names, root_)

    monkeypatch.setattr(ddl, "materialize_tables", counted)
    execute_sql(spark, "INSERT INTO tt_dst SELECT * FROM tt WHERE k = 1", root)
    assert registrations == [["tt"]]
    registrations.clear()
    execute_dml(spark, "INSERT INTO tt_dst SELECT * FROM tt WHERE k = 2", root)
    assert registrations == [["tt"]]
    monkeypatch.undo()
    assert sorted(r.k for r in dst.read().collect()) == [1, 2]
    dst.drop()
