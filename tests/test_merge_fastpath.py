"""Round-15 optimization internals: footer-stats envelopes and the fused
merge membership aggregate must make the SAME pruning decisions as the
scan-based envelope + broadcast range-join they replace."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from empdia_iceberg_spark.tables.manager import (
    SnapshotTable,
    _ENV_UNPROVEN,
    scratch_root,
)

from .conftest import spark  # noqa: F401  (session fixture)


def _fresh(spark, name):
    t = SnapshotTable(spark, name, scratch_root())
    t.drop()
    return t


def test_footer_envelope_matches_scan(spark):
    t = _fresh(spark, "envfast_int")
    df = spark.range(10, 50).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    t.create(df)
    d = t._read_meta(t.current_version())["dirs"][0]
    env = t._envelope_from_stats(d, "k")
    assert env == [10, 49]
    # and the public path returns decoded tuples identical to a scan
    envs = t._ensure_key_envelopes([d], "k")
    assert envs[d] == (10, 49)


def test_footer_envelope_string_and_date(spark):
    t = _fresh(spark, "envfast_strdate")
    df = spark.createDataFrame(
        [("apple", datetime.date(2020, 1, 2)), ("zebra", datetime.date(2021, 6, 30))],
        "s string, d date",
    )
    t.create(df)
    dd = t._read_meta(t.current_version())["dirs"][0]
    assert t._envelope_from_stats(dd, "s") == ["apple", "zebra"]
    env_d = [SnapshotTable._env_decode(x) for x in t._envelope_from_stats(dd, "d")]
    assert env_d == [datetime.date(2020, 1, 2), datetime.date(2021, 6, 30)]


def test_footer_envelope_declines_float_and_ts(spark):
    t = _fresh(spark, "envfast_decline")
    df = spark.createDataFrame(
        [(1.5, datetime.datetime(2020, 1, 1, 12))], "f double, ts timestamp"
    )
    t.create(df)
    d = t._read_meta(t.current_version())["dirs"][0]
    # float: NaN-unsafe footer stats; ts: driver-zone round-trip — both
    # must defer to the scan path
    assert t._envelope_from_stats(d, "f") is _ENV_UNPROVEN
    assert t._envelope_from_stats(d, "ts") is _ENV_UNPROVEN
    # the scan fallback still yields working envelopes
    envs = t._ensure_key_envelopes([d], "f")
    assert envs[d] == (1.5, 1.5)


def test_footer_envelope_pre_add_column_dir_is_empty(spark):
    t = _fresh(spark, "envfast_precol")
    t.create(spark.createDataFrame([(1, "a")], "id bigint, v string"))
    t.add_column("extra", "bigint")
    d0 = t._read_meta(1)["dirs"][0]  # written before `extra` existed
    assert t._envelope_from_stats(d0, "extra") == ["empty"]


def test_merge_prune_decisions_fused_equals_join(spark):
    # two dirs with DISJOINT key ranges; a source touching only the
    # second must reuse the first — under both membership strategies
    rows = None
    audits = {}
    for fuse_max in (64, -1):  # fused path vs broadcast-join path
        t = _fresh(spark, f"envfast_prune_{fuse_max}")
        t.create(spark.range(0, 100).select(F.col("id").alias("k"), F.lit(1).alias("v")))
        t.append(spark.range(1000, 1100).select(F.col("id").alias("k"), F.lit(2).alias("v")))
        src = spark.range(1050, 1060).select(
            F.col("id").alias("k"), F.lit(99).alias("v")
        )
        old = SnapshotTable._ENV_FUSE_MAX
        SnapshotTable._ENV_FUSE_MAX = fuse_max
        try:
            _, audit = t.merge(src, key="k")
        finally:
            SnapshotTable._ENV_FUSE_MAX = old
        audits[fuse_max] = audit
        got = sorted(tuple(r) for r in t.read().collect())
        if rows is None:
            rows = got
        else:
            assert got == rows
    assert audits[64] == {"dirs_rewritten": 1, "dirs_reused": 1}
    assert audits[-1] == audits[64]


def test_merge_duplicate_key_still_raises(spark):
    t = _fresh(spark, "envfast_dup")
    t.create(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    dup = spark.createDataFrame([(2, "x"), (2, "y")], "k bigint, v string")
    with pytest.raises(ValueError, match="duplicate"):
        t.merge(dup, key="k")


def test_partitioned_write_one_file_per_dir(spark):
    # hash distribution by the shadow columns must keep the
    # one-file-per-partition-dir layout the coalesce path produced
    import os

    t = _fresh(spark, "envfast_partwrite")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).cast("string").alias("g"),
    )
    t.create(df, partition_by=["g"])
    d = t._read_meta(t.current_version())["dirs"][0]
    subdirs = [s for s in os.listdir(d) if s.startswith("_p_")]
    assert len(subdirs) == 5
    for s in subdirs:
        files = [f for f in os.listdir(os.path.join(d, s)) if f.endswith(".parquet")]
        assert len(files) == 1
    # content round-trips
    assert t.read().count() == 1000


def test_by_source_discovery_fused_equals_separate(spark):
    """r16: the BY-SOURCE dir-discovery scan rides the source-stats
    aggregate's collect on the fused path (one driver action). Both
    the fused-union path and the non-fused separate-collect path must
    claim the same dirs — pinned by identical audits and rows on a
    3-dir table where the source covers dir 1 and the BY SOURCE
    qualifier only claims rows in dir 3 (dir 2 must carry by
    reference)."""
    rows = None
    audits = {}
    for fuse_max in (64, -1):  # fused union vs separate collects
        t = _fresh(spark, f"envfast_bysrc_{fuse_max}")
        t.create(spark.range(0, 100).select(F.col("id").alias("k"), F.lit(1).alias("v")))
        t.append(spark.range(1000, 1100).select(F.col("id").alias("k"), F.lit(2).alias("v")))
        t.append(spark.range(2000, 2100).select(F.col("id").alias("k"), F.lit(3).alias("v")))
        src = spark.range(0, 100).select(F.col("id").alias("k"), F.lit(9).alias("v"))
        clauses = {
            "matched": {"action": "update", "set": "*"},
            "not_matched": None,
            "not_matched_by_source": [
                {"action": "delete", "cond": F.expr("t.k >= 2000")},
            ],
            "target_alias": "t",
            "source_alias": "s",
        }
        old = SnapshotTable._ENV_FUSE_MAX
        SnapshotTable._ENV_FUSE_MAX = fuse_max
        try:
            _, audit = t.merge(src, key="k", clauses=clauses)
        finally:
            SnapshotTable._ENV_FUSE_MAX = old
        audits[fuse_max] = audit
        got = sorted(tuple(r) for r in t.read().collect())
        if rows is None:
            rows = got
        else:
            assert got == rows
    # dir 1 rewrites (matched keys), dir 3 rewrites (BY SOURCE delete),
    # dir 2 carries by reference under BOTH discovery strategies
    assert audits[64] == {"dirs_rewritten": 2, "dirs_reused": 1}
    assert audits[-1] == audits[64]


def test_partitioned_write_splits_hot_dir(spark, monkeypatch):
    """r16: the hash-distributed partitioned write REBALANCEs by the
    shadow columns with the advisory partition size pinned to
    TARGET_FILE_BYTES, so a partition value whose bytes exceed the
    target splits into multiple target-sized files (written in
    parallel) while small values keep the one-file-per-dir layout
    (pinned above). Shrink the target so a ~4 MB hot value crosses it."""
    import os

    from empdia_iceberg_spark.tables import manager as _mgr

    monkeypatch.setattr(_mgr, "TARGET_FILE_BYTES", 256 * 1024)
    t = _fresh(spark, "envfast_hotsplit")
    # hot value: ~20k rows of incompressible ~130-byte payloads (sha2
    # of the id — random-looking, so shuffle bytes track payload
    # bytes); cold value: 50 rows
    hot = spark.range(0, 20000).select(
        F.lit("hot").alias("g"),
        F.concat(
            F.sha2(F.col("id").cast("string"), 256),
            F.sha2((F.col("id") + 1).cast("string"), 256),
        ).alias("payload"),
    )
    cold = spark.range(0, 50).select(
        F.lit("cold").alias("g"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    t.create(hot.unionByName(cold), partition_by=["g"])
    d = t._read_meta(t.current_version())["dirs"][0]
    files_of = {
        s: [
            f
            for f in os.listdir(os.path.join(d, s))
            if f.endswith(".parquet")
        ]
        for s in os.listdir(d)
        if s.startswith("_p_")
    }
    hot_dir = next(s for s in files_of if "hot" in s)
    cold_dir = next(s for s in files_of if "cold" in s)
    assert len(files_of[cold_dir]) == 1, files_of
    assert len(files_of[hot_dir]) > 1, (
        "hot partition value did not split past TARGET_FILE_BYTES",
        files_of,
    )
    # content round-trips
    assert t.read().count() == 20050


def test_merge_kind_mismatched_envelope_routes_to_rewrite(spark):
    """r15 ADVICE: a STRING-keyed dir's envelope is ordered
    lexicographically ("10" < "9"), so embedding it as
    lit(bound).cast(<numeric source type>) bounds the WRONG range —
    a fused membership that silently never 'hits' such a dir would
    carry a matching target row stale next to a duplicate insert.
    Two layers now prevent it: (1) the public merge() front-end
    REFUSES a source key type that is not the table type or a safe
    widening, and (2) _merge_impl's kind gate routes mismatched
    bounds to must_touch (conservative rewrite) for any caller that
    reaches it directly."""
    t = _fresh(spark, "envfast_kindgate")
    t.create(
        spark.createDataFrame([("10", "old"), ("9", "x")], "k string, v string")
    )
    src = spark.createDataFrame([(10, "new")], "k bigint, v string")
    # layer 1: the public path refuses loudly
    with pytest.raises(ValueError, match="not assignable"):
        t.merge(src, key="k")
    # layer 2: the internal path rewrites instead of silently carrying
    cur = t.current_version()
    meta = t._read_meta(cur)
    _, audit = t._merge_impl(
        src, "k", cur, meta, [], meta.get("spec", []), None
    )
    assert audit["dirs_rewritten"] == 1, audit
    rows = {(str(r["k"]), r["v"]) for r in t.read().collect()}
    assert sum(1 for k, _ in rows if k in ("10", "10.0")) == 1, rows
    assert ("9", "x") in rows, rows
