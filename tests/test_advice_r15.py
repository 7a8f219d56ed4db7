"""Regression tests for the round-14 ADVICE findings: hive-escaped
partition values in prune-time path probes, session-timezone safety of
time-transform partitioning, the table_changes() legacy 3-arg key form,
zero-match position deletes, and plain tails over tables with
CDC-reserved column names."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from empdia_iceberg_spark.tables.ddl import execute_sql
from empdia_iceberg_spark.tables.manager import (
    SnapshotTable,
    hive_escape_value,
    scratch_root,
)
from tests.conftest import SF_DIR


def test_hive_escape_value_matches_spark_writer(spark, tmp_path):
    """hive_escape_value must reproduce exactly the subdir names Spark's
    partitionBy writer creates — checked against the writer itself."""
    import os

    vals = ["a/b", "x:y", "p=q", "100%", "he said \"hi\"", "tab\there",
            "plain", "__HIVE_DEFAULT_PARTITION__x"]
    df = spark.createDataFrame([(v, 1) for v in vals], "k string, n int")
    out = str(tmp_path / "esc")
    df.write.partitionBy("k").parquet(out)
    written = {d for d in os.listdir(out) if d.startswith("k=")}
    assert {f"k={hive_escape_value(v)}" for v in vals} == written
    assert hive_escape_value(None) == "__HIVE_DEFAULT_PARTITION__"
    assert hive_escape_value("") == "__HIVE_DEFAULT_PARTITION__"
    # unprovable renderings decline instead of guessing
    assert hive_escape_value(True) is None
    assert hive_escape_value(1.5) is None
    assert hive_escape_value(7) == "7"


def test_read_pruned_finds_escaped_identity_values(spark):
    """ADVICE r14 (medium): values needing hive escaping used to probe a
    nonexistent raw-interpolated subdir and silently drop every row."""
    vals = ["a/b", "x:y", "p=q", "100%", "plain"]
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], "k string, n int"
    )
    t = SnapshotTable(spark, "t_esc_prune_unit", scratch_root())
    t.drop()
    t.create(df, partition_by=["k"])
    for v in vals:
        got = t.read_pruned("k", v).collect()
        assert [r["k"] for r in got] == [v], f"read_pruned lost value {v!r}"
    t.drop()


def test_read_pruned_transform_truncate_escaped(spark):
    """truncate(2, s) values like 'a/' live in escaped subdirs; the
    transform-pruned read must select them (and still prune others)."""
    df = spark.createDataFrame(
        [("a/bc", 1), ("a/zz", 2), ("qqqq", 3)], "s string, n int"
    )
    t = SnapshotTable(spark, "t_esc_trunc_unit", scratch_root())
    t.drop()
    t.create(df, partition_by=["truncate(2, s)"])
    got, audit = t.read_pruned_transform("truncate(2, s)", "a/")
    assert sorted(r["n"] for r in got.collect()) == [1, 2]
    assert audit["subdirs_selected"] == 1
    got2, _ = t.read_pruned_transform("truncate(2, s)", "qq")
    assert [r["n"] for r in got2.collect()] == [3]
    t.drop()


def test_time_transform_tz_pin(spark):
    """ADVICE r14: days(ts) dir values are session-tz renderings. The
    table pins the writing tz; a differently-zoned session cannot write
    (loud error) and pruned reads fall back to a full scan behind the
    residual filter (correct rows, zero pruning)."""
    df = spark.createDataFrame(
        [("2024-01-03 01:00:00", 1), ("2024-01-04 23:00:00", 2)],
        "raw string, n int",
    ).select(F.col("raw").cast("timestamp").alias("ts"), "n")
    t = SnapshotTable(spark, "t_tzpin_unit", scratch_root())
    t.drop()
    t.create(df, partition_by=["days(ts)"])
    assert t._read_meta(t.current_version()).get("tz") == "UTC"
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.raises(ValueError, match="timezone"):
            t.append(df)
        got, audit = t.read_pruned_transform("days(ts)", "2024-01-03")
        # full-scan fallback: no subdir probing under a mismatched tz,
        # and the residual (now NY-rendered) still filters correctly
        assert audit["subdirs_selected"] == 0
        assert audit["dirs_pruned"] == 0
        assert audit["dirs_full_scan"] >= 1
        pruned = t.read_pruned("ts", "2024-01-03 01:00:00")
        assert pruned.count() <= 2  # full dir behind residual, never lost
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    got, audit = t.read_pruned_transform("days(ts)", "2024-01-03")
    assert [r["n"] for r in got.collect()] == [1]
    assert audit["subdirs_selected"] == 1 and audit["dirs_full_scan"] == 0
    t.drop()


def test_table_changes_legacy_three_arg_key_form(spark):
    """ADVICE r14: table_changes('t', v, 'key') — a quoted 3rd arg that
    is not a timestamp but IS a table column — keeps its pre-r14
    key-folding meaning instead of erroring."""
    t = SnapshotTable(spark, "t_tvf3_unit", scratch_root())
    t.drop()
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.merge(
        spark.createDataFrame([(2, "B")], "k int, v string"), key="k"
    )
    legacy = execute_sql(
        spark,
        f"SELECT _change_type, k, v FROM table_changes('t_tvf3_unit', 2, 'k') "
        f"ORDER BY _change_type",
        scratch_root(),
    ).collect()
    explicit = execute_sql(
        spark,
        f"SELECT _change_type, k, v FROM "
        f"table_changes('t_tvf3_unit', 2, 2, 'k') ORDER BY _change_type",
        scratch_root(),
    ).collect()
    assert [tuple(r) for r in legacy] == [tuple(r) for r in explicit]
    assert {r["_change_type"] for r in legacy} == {
        "update_preimage", "update_postimage",
    }
    # a quoted 3rd arg that is neither timestamp nor column still errors
    with pytest.raises(ValueError, match="neither a version number"):
        execute_sql(
            spark,
            "SELECT * FROM table_changes('t_tvf3_unit', 2, 'nope')",
            scratch_root(),
        )
    t.drop()


def test_position_delete_zero_matches_commits_nothing(spark):
    """ADVICE r14: a predicate matching zero rows must not commit an
    empty delete entry (it permanently flipped the table into
    has-MOR-deletes, blocking transform-pruned reads until compact)."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    t = SnapshotTable(spark, "t_pdel0_unit", scratch_root())
    t.drop()
    t.create(df)
    v0 = t.current_version()
    assert t.delete_where_position(F.col("k") == 999) == v0
    meta = t._read_meta(t.current_version())
    assert meta.get("delete_dirs", []) == []
    assert t.read().count() == 2
    t.drop()


def test_plain_tail_projects_cdc_named_column(spark):
    """ADVICE r14: a genuine column named _change_type was silently
    dropped from the plain tail's projection (schema mismatch crash).
    Plain mode must project it; CDC mode must refuse the table."""
    from empdia_iceberg_spark.sources.table_stream import (
        SnapshotTailDataSource,
        SnapshotTailStreamReader,
    )

    df = spark.createDataFrame(
        [(1, "genuine")], "k int, _change_type string"
    )
    t = SnapshotTable(spark, "t_cdccol_unit", scratch_root())
    t.drop()
    t.create(df)
    ds = SnapshotTailDataSource(
        {"table": "t_cdccol_unit", "root": scratch_root()}
    )
    struct = ds.schema()
    assert "_change_type" in [f.name for f in struct.fields]
    reader = SnapshotTailStreamReader(ds.options, struct.json())
    parts = reader.partitions(
        {"version": 0, "file": None}, {"version": 1, "file": None}
    )
    assert parts, "plain tail planned no partitions"
    assert all(
        "_change_type" in [lg for lg, _ph in p.fields] for p in parts
    ), "plain tail dropped the genuine _change_type column"
    batches = [b for p in parts for b in reader.read(p)]
    assert sum(b.num_rows for b in batches) == 1
    assert all("_change_type" in b.schema.names for b in batches)
    cdc = SnapshotTailDataSource(
        {"table": "t_cdccol_unit", "root": scratch_root(),
         "read_changes": "true"}
    )
    with pytest.raises(ValueError, match="reserved"):
        cdc.schema()
    t.drop()
