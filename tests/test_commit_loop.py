"""The optimistic commit loop every table writer goes through
(`SnapshotTable._commit_loop`): one before-create refusal, one conflict
rebuild with cleanup of what the losing attempt staged. Plus the
regressions fixed alongside it: decimal footer stats, the session conf
a table write used to pin, views over time travel, and the session-free
sink commit into a time-partitioned table."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import empdia_iceberg_spark.tables.manager as mgr
from empdia_iceberg_spark.sources.table_sink import SnapshotStreamWriter
from empdia_iceberg_spark.tables.ddl import execute_ddl, execute_sql
from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root

SCHEMA = "k int, v string, p int"


def _rows(spark, ks, v="a"):
    return spark.createDataFrame([(k, f"{v}{k}", k % 2) for k in ks], SCHEMA)


# (op name in the error, call) — every public commit entry point that
# builds on the current snapshot
_ENTRIES = [
    ("evolve", lambda t, s: t.evolve_partitioning(["p"])),
    ("add a column", lambda t, s: t.add_column("x", "int")),
    ("drop a column", lambda t, s: t.drop_column("v")),
    ("rename a column", lambda t, s: t.rename_column("v", "w")),
    ("alter a column", lambda t, s: t.alter_column_type("k", "bigint")),
    ("set properties", lambda t, s: t.set_properties({"a": "b"})),
    ("unset properties", lambda t, s: t.unset_properties(["a"])),
    ("add a constraint", lambda t, s: t.add_constraint("c", "k > 0")),
    ("SET NOT NULL", lambda t, s: t.set_not_null("k")),
    ("DROP NOT NULL", lambda t, s: t.drop_not_null("k")),
    ("drop a constraint", lambda t, s: t.drop_constraint("c")),
    ("ANALYZE", lambda t, s: t.analyze(["k"])),
    ("OVERWRITE", lambda t, s: t.overwrite_partitions(_rows(s, [1]))),
    ("MERGE", lambda t, s: t.merge(_rows(s, [1]), key="k")),
    ("update", lambda t, s: t.update_where(F.col("k") == 1, {"v": F.lit("u")})),
    ("delete", lambda t, s: t.delete_where_pruned(F.col("k") == 1)),
    ("DELETE", lambda t, s: t.delete_where_mor(F.col("k") == 1, key="k")),
    ("DELETE", lambda t, s: t.delete_where_position(F.col("k") == 1)),
    ("rewrite position deletes", lambda t, s: t.rewrite_position_deletes()),
    ("compact", lambda t, s: t.compact_minor()),
    ("TRUNCATE", lambda t, s: t.truncate()),
    ("RENAME", lambda t, s: t.rename_to("t_never_created_renamed")),
]


@pytest.mark.parametrize(
    "verb,call", _ENTRIES, ids=[f"{i}-{v}" for i, (v, _) in enumerate(_ENTRIES)]
)
def test_commit_entry_refuses_a_table_never_created(spark, verb, call):
    t = SnapshotTable(spark, "t_never_created_unit", scratch_root())
    t.drop()
    with pytest.raises(
        ValueError, match=f"^table t_never_created_unit: cannot {verb} before create$"
    ):
        call(t, spark)
    assert t.current_version() is None
    assert not os.path.exists(t.base)


def _two_small_dirs(t, spark):
    t.create(_rows(spark, range(1, 7)), partition_by=["p"])
    t.append(_rows(spark, range(7, 10)))


def _two_position_deletes(t, spark):
    _two_small_dirs(t, spark)
    t.delete_where_position(F.col("k") == 2)
    t.delete_where_position(F.col("k") == 7)


# (setup, the write raced by one lost publish)
_PATHS = {
    "append_checked": (_two_small_dirs, lambda t, s: t.append_checked(_rows(s, [20, 21], "n"))),
    "overwrite_partitions": (
        _two_small_dirs,
        lambda t, s: t.overwrite_partitions(_rows(s, [1, 11], "o")),
    ),
    "merge": (_two_small_dirs, lambda t, s: t.merge(_rows(s, [3, 30], "m"), key="k")),
    "update_where": (
        _two_small_dirs,
        lambda t, s: t.update_where(F.col("k") == 4, {"v": F.lit("u")}),
    ),
    "delete_where_pruned": (
        _two_small_dirs,
        lambda t, s: t.delete_where_pruned(F.col("k") == 5),
    ),
    "delete_where_mor": (
        _two_small_dirs,
        lambda t, s: t.delete_where_mor(F.col("k") == 5, key="k"),
    ),
    "delete_where_position": (
        _two_small_dirs,
        lambda t, s: t.delete_where_position(F.col("k") == 8),
    ),
    "rewrite_position_deletes": (
        _two_position_deletes,
        lambda t, s: t.rewrite_position_deletes(),
    ),
    "compact_minor": (_two_small_dirs, lambda t, s: t.compact_minor()),
}


def _referenced_top_dirs(t) -> set:
    """Top-level dirs under data/ some snapshot references, through its
    data dirs (or their hive subdirs) or its delete files."""
    out = set()
    for s in t.snapshots():
        for d in s["dirs"] + [dd["dir"] for dd in s.get("delete_dirs", [])]:
            out.add(os.path.relpath(d, t.data_dir).split(os.sep)[0])
    return out


@pytest.mark.parametrize("path", sorted(_PATHS))
def test_write_rebuilds_after_a_lost_publish_and_leaves_no_orphan(
    spark, monkeypatch, path
):
    """One FileExistsError from os.link on the first publish (a writer
    that took the version slot first): the write rebuilds against the
    fresh head, reads the same rows as a race-free run, and every dir it
    staged for the lost attempt is gone."""
    setup, op = _PATHS[path]
    clean = SnapshotTable(spark, f"t_loop_clean_{path}", scratch_root())
    raced = SnapshotTable(spark, f"t_loop_raced_{path}", scratch_root())
    for t in (clean, raced):
        t.drop()
        setup(t, spark)
    op(clean, spark)

    real_link = os.link
    fail_next = {"n": 1}

    def flaky_link(src, dst, **kw):
        if fail_next["n"] > 0:
            fail_next["n"] -= 1
            raise FileExistsError(dst)
        return real_link(src, dst, **kw)

    monkeypatch.setattr(mgr.os, "link", flaky_link)
    op(raced, spark)
    monkeypatch.undo()

    assert fail_next["n"] == 0, "the write never published"
    assert raced.current_version() == clean.current_version()
    key = lambda df: sorted(tuple(r) for r in df.orderBy("k", "v").collect())
    assert key(raced.read()) == key(clean.read())
    on_disk = set(os.listdir(raced.data_dir))
    assert on_disk <= _referenced_top_dirs(raced), on_disk - _referenced_top_dirs(raced)
    for t in (clean, raced):
        t.drop()


def test_predicate_dml_on_a_decimal_table_equals_an_unpruned_rewrite(spark):
    """pyarrow cannot extract footer stats for Spark's int-backed
    decimals: such a column is stats-unusable, the other columns still
    prune, and UPDATE/DELETE match a whole-table rewrite."""
    root = scratch_root()
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") / 4).cast("decimal(12,2)").alias("d")
    )
    pruned = SnapshotTable(spark, "t_dec_pruned_unit", root)
    whole = SnapshotTable(spark, "t_dec_whole_unit", root)
    for t in (pruned, whole):
        t.drop()
        t.create(mk(0, 10))
        t.append(mk(10, 20))

    pruned.delete_where_pruned(F.col("k") == 1)
    whole.delete_where(F.col("k") == 1)
    new_d = (F.col("d") + 1).cast("decimal(12,2)")
    pruned.update_where(F.col("k") == 2, {"d": new_d})
    audit = SnapshotTable._DML_STATS_AUDITS["t_dec_pruned_unit"]
    whole.overwrite(
        whole.read().withColumn(
            "d", F.when(F.col("k") == 2, new_d).otherwise(F.col("d"))
        )
    )
    rows = lambda t: sorted(tuple(r) for r in t.read().collect())
    assert rows(pruned) == rows(whole)
    assert audit["files_skipped_by_stats"] >= 1, audit  # k still prunes

    res = execute_ddl(spark, "CALL compute_file_stats('t_dec_pruned_unit')", root=root)
    assert res["audit"]["files_profiled"] >= 2
    cols = {
        r["col_name"]
        for r in execute_sql(
            spark, "SELECT * FROM t_dec_pruned_unit.file_stats", root
        ).collect()
    }
    assert cols == {"k"}, cols
    for t in (pruned, whole):
        t.drop()


def test_update_refuses_a_value_of_another_type_than_the_column(spark):
    """UPDATE applies MERGE's assignment rule: `d + 1` on decimal(12,2)
    is decimal(13,2), which would commit a file no read of `d` accepts,
    so it raises naming the column and commits nothing; with the cast
    (or a literal that fits the column) it commits and reads back."""
    from decimal import Decimal

    root = scratch_root()
    t = SnapshotTable(spark, "td", root)
    t.drop()
    t.create(spark.createDataFrame(
        [(1, Decimal("1.50")), (2, Decimal("2.25"))], "k int, d decimal(12,2)"
    ))
    v = t.current_version()
    with pytest.raises(ValueError, match="'d'.*decimal\\(13,2\\)"):
        execute_sql(spark, "UPDATE td SET d = d + 1 WHERE k = 2", root)
    assert t.current_version() == v
    execute_sql(spark, "UPDATE td SET d = CAST(d + 1 AS decimal(12,2)) WHERE k = 2", root)
    execute_sql(spark, "UPDATE td SET d = 7.5 WHERE k = 1", root)
    assert t.current_version() == v + 2
    rows = execute_sql(spark, "SELECT k, d FROM td", root).collect()
    assert sorted((r.k, r.d) for r in rows) == [(1, Decimal("7.50")), (2, Decimal("3.25"))]
    t.drop()


def test_decimal_literals_that_fit_the_column_insert_and_merge(spark):
    """A decimal literal is typed by its digits (1.50 is decimal(3,2)),
    and a decimal whose scale and integral digits both fit the column's
    widens into it: INSERT VALUES and a MERGE INSERT clause commit into
    decimal(12,2) and read back, while UPDATE's decimal(13,2) `d + 1`
    is still refused."""
    from decimal import Decimal

    root = scratch_root()
    t = SnapshotTable(spark, "td_lit", root)
    t.drop()
    t.create(spark.createDataFrame([], "k int, d decimal(12,2)"))
    execute_sql(spark, "INSERT INTO td_lit VALUES (1, 1.50)", root)
    spark.createDataFrame([(2,)], "k int").createOrReplaceTempView("td_lit_src")
    execute_sql(
        spark,
        "MERGE INTO td_lit t USING td_lit_src s ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT (k, d) VALUES (s.k, 2.25)",
        root,
    )
    rows = execute_sql(spark, "SELECT k, d FROM td_lit", root).collect()
    assert sorted((r.k, r.d) for r in rows) == [(1, Decimal("1.50")), (2, Decimal("2.25"))]
    assert t.read().schema["d"].dataType.simpleString() == "decimal(12,2)"
    v = t.current_version()
    with pytest.raises(ValueError, match="'d'.*decimal\\(13,2\\)"):
        execute_sql(spark, "UPDATE td_lit SET d = d + 1 WHERE k = 2", root)
    assert t.current_version() == v
    spark.catalog.dropTempView("td_lit_src")
    t.drop()


def test_table_write_leaves_the_session_conf_as_it_found_it(spark):
    """Both confs a write pins (the parquet timestamp type, and the AQE
    advisory size for partitioned writes) are restored to "not set"."""
    s = spark.newSession()
    before = {r.key: r.value for r in s.sql("SET").collect()}
    t = SnapshotTable(s, "t_conf_restore_unit", scratch_root())
    t.drop()
    df = s.createDataFrame([(1, 0)], "k int, p int").withColumn(
        "ts", F.current_timestamp()
    )
    t.create(df)
    t.overwrite(df, spec=["p"])
    after = {r.key: r.value for r in s.sql("SET").collect()}
    assert after == before, set(after.items()) ^ set(before.items())
    t.drop()


def test_view_over_time_travel_reads_from_another_session(spark):
    """A view's stored body is the query as written, so a session that
    never saw the time-travel rewrite's temp view still reads v1."""
    root = scratch_root()
    t = SnapshotTable(spark, "t_tt_view_unit", root)
    t.drop()
    execute_sql(spark, "DROP VIEW IF EXISTS v_tt_view_unit", root)
    t.create(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.append(spark.createDataFrame([(2, "b")], "k int, v string"))
    execute_sql(
        spark,
        "CREATE VIEW v_tt_view_unit AS SELECT k, v FROM t_tt_view_unit VERSION AS OF 1",
        root,
    )
    other = spark.newSession()
    got = execute_sql(other, "SELECT * FROM v_tt_view_unit", root).collect()
    assert [tuple(r) for r in got] == [(1, "a")]
    execute_sql(spark, "DROP VIEW v_tt_view_unit", root)
    t.drop()


def test_sink_commits_into_a_time_partitioned_table(spark):
    """The sink commits with no session (it runs in the Python worker):
    on a days(ts) table the commit keeps the table's pinned zone."""
    root = scratch_root()
    t = SnapshotTable(spark, "t_sink_days_unit", root)
    t.drop()
    execute_sql(
        spark,
        "CREATE TABLE t_sink_days_unit (ts TIMESTAMP, n BIGINT) "
        "PARTITIONED BY (days(ts))",
        root,
    )
    schema = T.StructType.fromJson(json.loads(t._read_meta(1)["schema"]))
    w = SnapshotStreamWriter(
        {"table": "t_sink_days_unit", "root": root, "run_id": "r"}, schema
    )
    ts = datetime.datetime(2024, 1, 1, 12)
    w.commit([w.write(iter([(ts, 1)]))], 0)
    w.commit([], 1)  # an empty batch stamps a metadata-only commit
    assert t.current_version() == 3
    assert [tuple(r) for r in t.read().collect()] == [(ts, 1)]
    assert t._read_meta(3)["tz"] == t._read_meta(1)["tz"]
    t.drop()
