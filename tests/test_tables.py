"""Unit tests for snapshot table management (tables/manager.py) beyond
the registered read-back queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root
from tests.conftest import SF_DIR


@pytest.fixture()
def nation(spark):
    return spark.read.parquet(f"{SF_DIR}/nation.parquet")


def test_create_append_time_travel(spark, nation):
    t = SnapshotTable(spark, "t_lifecycle_unit")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 5))
    t.append(nation.filter(F.col("n_nationkey") >= 5))
    assert t.read(version=1).count() == 5
    assert t.read().count() == nation.count()
    assert [s["op"] for s in t.snapshots()] == ["create", "append"]
    with pytest.raises(ValueError):
        t.read(version=99)
    t.drop()


def test_merge_updates_and_inserts(spark, nation):
    t = SnapshotTable(spark, "t_merge_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))
    source = spark.createDataFrame(
        [(0, "RENAMED"), (999, "NEWLAND")], "n_nationkey int, n_name string"
    )
    t.merge(source, key="n_nationkey")
    rows = {r.n_nationkey: r.n_name for r in t.read().collect()}
    assert rows[0] == "RENAMED"  # matched → updated
    assert rows[999] == "NEWLAND"  # unmatched → inserted
    assert len(rows) == nation.count() + 1
    t.drop()


def test_delete_where(spark, nation):
    t = SnapshotTable(spark, "t_delete_unit")
    t.drop()
    t.create(nation)
    t.delete_where(F.col("n_regionkey") == 0)
    remaining = t.read()
    assert remaining.filter(F.col("n_regionkey") == 0).count() == 0
    assert remaining.count() == nation.filter(F.col("n_regionkey") != 0).count()
    # time travel still sees the pre-delete snapshot
    assert t.read(version=1).count() == nation.count()
    t.drop()


def test_compact_preserves_content_and_expire_drops_history(spark, nation):
    t = SnapshotTable(spark, "t_compact_unit")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") % 2 == 0))
    t.append(nation.filter(F.col("n_nationkey") % 2 == 1))
    before = sorted(r.n_nationkey for r in t.read().collect())
    t.compact(target_partitions=1)
    after = sorted(r.n_nationkey for r in t.read().collect())
    assert before == after
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1, 2]
    assert [s["version"] for s in t.snapshots()] == [3]
    with pytest.raises(Exception):
        t.read(version=1)  # expired snapshot unreadable
    assert sorted(r.n_nationkey for r in t.read().collect()) == before
    t.drop()


def test_partitioned_write_prunes(spark):
    """The read-back filter on the partition column must prune at the
    source (PartitionFilters), not post-filter."""
    from empdia_iceberg_spark.sources.sinks import sink_partitioned_write

    df = sink_partitioned_write(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "l_returnflag" in plan


def test_side_effect_queries_are_idempotent(spark):
    """Managed-table / sink / streaming queries must return identical
    results when invoked twice in one session (drop/recreate
    discipline) — the driver may warm-run queries."""
    from empdia_iceberg_spark import registry

    q = registry.queries()
    for name in (
        "table_merge_upsert",
        "table_merge_pruned",
        "csv_roundtrip",
        "stream_dedup_events",
    ):
        r1 = sorted(map(repr, q[name](spark, SF_DIR).collect()))
        r2 = sorted(map(repr, q[name](spark, SF_DIR).collect()))
        assert r1 == r2, name


def test_iceberg_catalog_when_jar_available(spark):
    """Per-round env re-probe (VERDICT r2 item 5): if an
    iceberg-spark-runtime jar ever appears on the session classpath,
    the real catalog path should light up. Skipped while absent."""
    import pytest

    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        pytest.skip("iceberg-spark-runtime not on classpath (verified this round)")
    # Jar present: the snapshot-table API is expected to be backed by a
    # real Iceberg catalog in a follow-up. xfail (not a hard failure) so
    # the tripwire is visible in the test report without breaking
    # unrelated runs the moment the environment changes.
    pytest.xfail(
        "iceberg-spark-runtime detected: wire tables/manager.py to the real "
        "Iceberg catalog (MERGE INTO / time travel) and update this test"
    )


def test_partition_evolution_pruned_read(spark):
    """After spec evolution both layouts coexist; read_pruned must (a)
    equal the plain filter exactly and (b) list strictly fewer files
    than the full table (the status-partitioned dir contributes only
    its matching hive subdir)."""
    from pyspark.sql import functions as F

    from empdia_iceberg_spark import registry
    from empdia_iceberg_spark.tables.manager import SnapshotTable
    from tests.conftest import SF_DIR

    registry.queries()["table_partition_evolution"](spark, SF_DIR).collect()
    t = SnapshotTable(spark, "orders_partevo", scratch_root())
    assert t.current_spec() == ["o_orderpriority"]
    pruned = t.read_pruned("o_orderstatus", "O")
    plain = t.read().filter(F.col("o_orderstatus") == "O")
    assert pruned.count() == plain.count() > 0
    assert len(pruned.inputFiles()) < len(t.read().inputFiles())
    # shadow partition columns never leak into the logical schema
    assert not [c for c in t.read().columns if c.startswith("_p_")]


def test_branch_refs_isolation_and_divergence(spark):
    """Branch refs: a branch append must not move other refs (writer
    isolation), fast-forward onto a descendant must succeed, and
    fast-forward across DIVERGED refs must be refused."""
    from empdia_iceberg_spark.sources.tables import load
    from empdia_iceberg_spark.tables.manager import SnapshotTable
    from tests.conftest import SF_DIR

    orders = load(spark, SF_DIR, "orders")
    t = SnapshotTable(spark, "orders_branch_test")
    t.drop()
    v1 = t.create(orders.limit(10))
    t.set_ref("main", v1)
    t.set_ref("b", v1)

    t.branch_append("b", orders.limit(5))
    assert t.get_ref("main") == v1, "branch append moved main"
    assert t.read_ref("main").count() == 10  # isolation
    assert t.read_ref("b").count() == 15

    t.fast_forward("main", "b")  # descendant: allowed
    assert t.get_ref("main") == t.get_ref("b")
    assert t.read_ref("main").count() == 15

    # diverge: both refs advance independently from the shared head
    t.branch_append("main", orders.limit(3))
    t.branch_append("b", orders.limit(2))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="diverged"):
        t.fast_forward("main", "b")
    t.drop()


def test_refs_survive_and_pin_across_expiry(spark):
    """A tag keeps reading its pinned snapshot even after later writes."""
    from empdia_iceberg_spark.sources.tables import load
    from empdia_iceberg_spark.tables.manager import SnapshotTable
    from tests.conftest import SF_DIR

    orders = load(spark, SF_DIR, "orders")
    t = SnapshotTable(spark, "orders_tag_test")
    t.drop()
    v1 = t.create(orders.limit(7))
    t.set_ref("tag_v1", v1)
    t.set_ref("main", v1)
    t.branch_append("main", orders.limit(4))
    assert t.read_ref("tag_v1").count() == 7
    assert t.read_ref("main").count() == 11
    t.drop()


def test_merge_pruned_reuses_untouched_dirs(spark):
    """The pruned-MERGE reuse path (VERDICT r5 ask #2): a source whose
    key envelope misses two of three dirs must (a) report
    dirs_reused=2, (b) carry those dirs into the new snapshot VERBATIM
    (same paths — byte-identical files by construction), and (c) keep
    the snapshot schema describing the carried files (the table's
    schema, not the source's)."""
    from empdia_iceberg_spark import registry
    from empdia_iceberg_spark.tables.manager import SnapshotTable
    from tests.conftest import SF_DIR

    out = registry.queries()["table_merge_pruned"](spark, SF_DIR).collect()
    assert out, "pruned merge returned no rows"
    assert all(r["dirs_rewritten"] == 1 and r["dirs_reused"] == 2 for r in out)

    t = SnapshotTable(spark, "customer_merge_pruned", scratch_root())
    metas = {m["version"]: m for m in t.snapshots()}
    pre, post = metas[3], metas[4]  # create+2 appends, then merge
    assert post["op"] == "merge"
    carried = set(pre["dirs"]) & set(post["dirs"])
    assert len(carried) == 2, (pre["dirs"], post["dirs"])
    rewritten = set(pre["dirs"]) - set(post["dirs"])
    assert len(rewritten) == 1
    # carried dirs keep their per-dir specs, and the snapshot schema is
    # the table's (describes the carried files)
    assert post["schema"] == pre["schema"]


def test_merge_prunes_middle_dir_for_scattered_source(spark, nation):
    """Exact per-dir membership pruning: a source with keys near BOTH
    extremes (envelope spans the whole table) must still reuse the
    middle dir — the bounds range-join prunes per dir, not by one
    fattened [min, max] envelope."""
    t = SnapshotTable(spark, "t_merge_scatter_unit")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") <= 7))  # dirA: 0..7
    t.append(
        nation.filter((F.col("n_nationkey") > 7) & (F.col("n_nationkey") <= 15))
    )  # dirB: 8..15
    t.append(nation.filter(F.col("n_nationkey") > 15))  # dirC: 16..24
    source = nation.filter(F.col("n_nationkey").isin(1, 20)).withColumn(
        "n_name", F.lit("SCATTERED")
    )  # envelope [1, 20] spans all three dirs; keys hit only A and C
    _, audit = t.merge(source, key="n_nationkey")
    assert audit == {"dirs_rewritten": 2, "dirs_reused": 1}, audit
    rows = {r.n_nationkey: r.n_name for r in t.read().collect()}
    assert rows[1] == "SCATTERED" and rows[20] == "SCATTERED"
    assert len(rows) == nation.count()
    t.drop()


def test_merge_differential_random_layouts(spark, nation):
    """Differential net for the pruning logic: across seeded random dir
    layouts and source key sets, merge() must equal the naive
    relational merge (target anti-join source ∪ source) EXACTLY —
    whatever the pruning decided — and the audit must account for
    every dir."""
    import random

    base = [(int(r.n_nationkey), str(r.n_name)) for r in nation.collect()]
    for seed in (7, 23, 101):
        rng = random.Random(seed)
        rows = sorted(base)
        # random contiguous split into 2–4 dirs (dirs get key ranges)
        n_cuts = rng.randint(1, 3)
        cuts = sorted(rng.sample(range(1, len(rows)), n_cuts))
        chunks = [rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)])]
        t = SnapshotTable(spark, f"t_merge_diff_{seed}")
        t.drop()
        for i, chunk in enumerate(chunks):
            df = spark.createDataFrame(chunk, "n_nationkey long, n_name string")
            (t.create if i == 0 else t.append)(df)
        # random source: some existing keys updated, some new inserted
        upd = rng.sample([k for k, _ in rows], rng.randint(0, 6))
        ins = [k + 1000 for k in rng.sample(range(50), rng.randint(0, 4))]
        src_rows = [(k, f"U{k}") for k in upd] + [(k, f"I{k}") for k in ins]
        src = spark.createDataFrame(src_rows or [], "n_nationkey long, n_name string")
        _, audit = t.merge(src, key="n_nationkey")
        assert audit["dirs_rewritten"] + audit["dirs_reused"] == len(chunks), (
            seed,
            audit,
        )
        expect = dict(rows)
        expect.update(dict(src_rows))
        got = {r.n_nationkey: r.n_name for r in t.read().collect()}
        assert got == expect, (seed, audit)
        t.drop()


def test_merge_forces_rewrite_of_mor_delete_dirs(spark, nation):
    """A dir with applicable merge-on-read deletes must be rewritten by
    MERGE even when the source envelope misses it (deletes fold in);
    a dir appended AFTER the delete (not in applies_to) with a
    disjoint envelope is still reused."""
    t = SnapshotTable(spark, "t_merge_mor_unit")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") <= 10))  # dirA: keys 0..10
    t.delete_where_mor(F.col("n_nationkey") <= 2, key="n_nationkey")
    t.append(
        nation.filter(F.col("n_nationkey") > 10).withColumn(
            "n_nationkey", F.col("n_nationkey") + 100
        )
    )  # dirB: keys 111.., post-delete so deletes don't apply to it
    source = nation.filter(F.col("n_nationkey") <= 2).withColumn(
        "n_nationkey", F.col("n_nationkey") + 1000
    )  # envelope [1000, 1002]: intersects neither dir
    _, audit = t.merge(source, key="n_nationkey")
    assert audit == {"dirs_rewritten": 1, "dirs_reused": 1}
    keys = {r.n_nationkey for r in t.read().select("n_nationkey").collect()}
    assert not keys & {0, 1, 2}, "MOR-deleted rows resurrected by merge"
    assert {1000, 1001, 1002} <= keys
    # the delete files were folded in, not carried forward
    assert t._read_meta(t.current_version())["delete_dirs"] == []
    t.drop()


def test_merge_empty_source_is_noop_and_keeps_mor_deletes(spark, nation):
    """ADVICE r5 (high): an empty / all-NULL-key source must leave the
    table at its current version — committing would drop the MOR
    delete files while carrying every data dir, resurrecting deleted
    rows."""
    t = SnapshotTable(spark, "t_merge_empty_unit")
    t.drop()
    t.create(nation)
    t.delete_where_mor(F.col("n_nationkey") < 3, key="n_nationkey")
    v_before = t.current_version()
    n_before = t.read().count()
    empty = nation.filter(F.lit(False))
    v, audit = t.merge(empty, key="n_nationkey")
    assert v == v_before, "empty-source merge committed a snapshot"
    assert audit["dirs_rewritten"] == 0
    assert t.read().count() == n_before
    assert t.read().filter(F.col("n_nationkey") < 3).count() == 0
    t.drop()


def test_env_codec_json_roundtrip():
    """The envelope codec must round-trip every bound type through
    json.dumps/loads as the EXACT native value (leap-day dates,
    microsecond timestamps, negative scaled decimals, and the plain
    JSON-native types untouched)."""
    import datetime
    import decimal
    import json as _json

    vals = [
        datetime.date(2024, 2, 29),
        datetime.datetime(2024, 1, 1, 12, 30, 45, 123456),
        decimal.Decimal("-123.4500"),
        "empty",
        42,
        3.14,
        "plain-string",
        None,
    ]
    for v in vals:
        enc = _json.loads(_json.dumps(SnapshotTable._env_encode(v)))
        got = SnapshotTable._env_decode(enc)
        assert got == v and type(got) is type(v), (v, got)


def test_merge_all_null_key_source_inserts(spark):
    """A non-empty source whose keys are ALL NULL is pure NOT-MATCHED
    inserts (NULL matches no target row) — the same rows must land
    whether or not a non-NULL sibling row happens to be present, and
    MOR delete files must not be dropped."""
    t = SnapshotTable(spark, "t_merge_nullkey_unit")
    t.drop()
    t.create(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string"))
    t.delete_where_mor(F.col("k") == 3, key="k")
    src = spark.createDataFrame([(None, "n1"), (None, "n2")], "k int, v string")
    _, audit = t.merge(src, key="k")
    out = t.read()
    assert out.count() == 4  # a, b, n1, n2 — k=3 stays MOR-deleted
    assert out.filter(F.col("k").isNull()).count() == 2
    assert out.filter(F.col("k") == 3).count() == 0, "MOR delete dropped"
    assert audit["dirs_rewritten"] >= 1  # the delete-applicable dir folded
    t.drop()


def test_merge_nan_source_key_does_not_break_pruning(spark):
    """A NaN in a DOUBLE-key source poisons ordered bound comparisons;
    it must disable the coarse filter (not prune everything), so real
    keys still update instead of duplicating, and the NaN row lands
    as an insert."""
    t = SnapshotTable(spark, "t_merge_nankey_unit")
    t.drop()
    t.create(
        spark.createDataFrame([(1.0, "x"), (50.0, "y")], "k double, v string")
    )
    src = spark.createDataFrame(
        [(5.0, "ins"), (50.0, "upd"), (float("nan"), "n")], "k double, v string"
    )
    _, audit = t.merge(src, key="k")
    rows = [(r.k, r.v) for r in t.read().collect()]
    assert len(rows) == 4, rows
    assert [v for k, v in rows if k == 50.0] == ["upd"], rows  # no duplicate
    assert audit["dirs_rewritten"] == 1
    t.drop()


def test_merge_envelope_codec_date_and_decimal_keys(spark):
    """ADVICE r5 (medium): DATE and DECIMAL merge keys must survive the
    envelope sidecar cache round-trip (json.dump rejects datetime /
    Decimal; string fallbacks would compare wrongly). Two merges on
    the same key exercise write-then-reload of the cache."""
    from decimal import Decimal

    t = SnapshotTable(spark, "t_merge_datekey_unit")
    t.drop()
    base = spark.createDataFrame(
        [("2024-01-01", "a"), ("2024-06-01", "b")], "d string, v string"
    ).select(F.col("d").cast("date"), "v")
    t.create(base)
    src = spark.createDataFrame([("2024-06-01", "B2")], "d string, v string").select(
        F.col("d").cast("date"), "v"
    )
    t.merge(src, key="d")  # first merge computes + caches the envelope
    t.merge(src, key="d")  # second merge decodes the cached bounds
    rows = {str(r.d): r.v for r in t.read().collect()}
    assert rows == {"2024-01-01": "a", "2024-06-01": "B2"}
    t.drop()

    t2 = SnapshotTable(spark, "t_merge_deckey_unit")
    t2.drop()
    base2 = spark.createDataFrame(
        [(Decimal("1.50"), "x"), (Decimal("9.75"), "y")],
        "k decimal(10,2), v string",
    )
    t2.create(base2)
    src2 = spark.createDataFrame([(Decimal("9.75"), "Y2")], "k decimal(10,2), v string")
    t2.merge(src2, key="k")
    t2.merge(src2, key="k")
    rows2 = {str(r.k): r.v for r in t2.read().collect()}
    assert rows2 == {"1.50": "x", "9.75": "Y2"}
    t2.drop()


def test_publish_race_conflicts_append_but_retries_replacing_ops(
    spark, nation, monkeypatch
):
    """ADVICE r5 (low): a lost hardlink publish race must surface
    CommitConflictError for append-shaped commits (auto-retry would
    republish a stale dirs list, dropping the concurrent winner's
    dir), while whole-table-replacing ops (overwrite/compact) retry
    through the race — last-writer-wins is their declared
    semantics."""
    import os as _os

    import empdia_iceberg_spark.tables.manager as mgr
    from empdia_iceberg_spark.tables.manager import CommitConflictError

    t = SnapshotTable(spark, "t_race_unit")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 5))

    real_link = _os.link
    fail_next = {"n": 0}

    def flaky_link(src, dst, **kw):
        if fail_next["n"] > 0:
            fail_next["n"] -= 1
            raise FileExistsError(dst)
        return real_link(src, dst, **kw)

    monkeypatch.setattr(mgr.os, "link", flaky_link)

    fail_next["n"] = 1
    with pytest.raises(CommitConflictError):
        t.append(nation.filter(F.col("n_nationkey") >= 5))

    fail_next["n"] = 1  # replacing op: retries through the same race
    t.overwrite(nation.filter(F.col("n_nationkey") < 3))
    assert t.read().count() == 3
    t.drop()


def test_bloom_index_skips_files(spark):
    """Bloom point lookups must read strictly fewer dirs than the table
    has, and must equal the plain filter exactly."""
    from empdia_iceberg_spark import registry
    from empdia_iceberg_spark.sources.tables import load
    from empdia_iceberg_spark.tables.manager import BloomIndex, SnapshotTable
    from tests.conftest import SF_DIR
    from pyspark.sql import functions as F

    registry.queries()["table_bloom_point_lookup"](spark, SF_DIR).collect()
    t = SnapshotTable(spark, "orders_bloom", scratch_root())
    idx = BloomIndex(t, "o_orderkey")
    orders = load(spark, SF_DIR, "orders")
    probe = (
        orders.filter(F.col("o_orderstatus") == "P")
        .orderBy("o_orderkey")
        .limit(1)
        .collect()[0]["o_orderkey"]
    )
    dirs, total = idx.lookup_dirs(probe)
    assert total == 3
    assert 1 <= len(dirs) < total, "bloom pruned nothing"
    exact = t.read().filter(F.col("o_orderkey") == probe).collect()
    via_index = idx.read_point(probe).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, via_index))


def test_merge_rejects_duplicate_source_keys(spark):
    """VERDICT r6 #5: two source rows with the same non-NULL key would
    both insert after the anti-join, leaving duplicate keys in the
    table — Iceberg MERGE INTO raises on multiple source matches, and
    merge() extends that to a clean primary-key guarantee. NULL-key
    duplicates stay legal (they match nothing; each inserts)."""
    t = SnapshotTable(spark, "t_merge_dupkey_unit")
    t.drop()
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    v_before = t.current_version()

    dup = spark.createDataFrame(
        [(2, "upd1"), (2, "upd2"), (9, "ins")], "k int, v string"
    )
    with pytest.raises(ValueError, match="duplicate"):
        t.merge(dup, key="k")
    # the rejected merge must not have committed or left orphan dirs
    assert t.current_version() == v_before
    referenced = {d for s in t.snapshots() for d in s["dirs"]}
    import os as _os

    on_disk = {
        _os.path.join(t.data_dir, d) for d in _os.listdir(t.data_dir)
    }
    assert on_disk <= referenced, on_disk - referenced

    # NULL-key duplicates are pure inserts and pass the guard
    nulls = spark.createDataFrame(
        [(None, "n1"), (None, "n2"), (2, "UPD")], "k int, v string"
    )
    t.merge(nulls, key="k")
    out = {(r.k, r.v) for r in t.read().collect()}
    assert out == {(1, "a"), (2, "UPD"), (None, "n1"), (None, "n2")}
    t.drop()


def test_merge_detects_concurrent_writer_and_retries(spark, monkeypatch):
    """ADVICE r6 (medium): a writer that commits between merge's
    _read_meta and its publish must NOT be silently dropped. The merge
    commit declares expect_parent; the stale-base check raises
    CommitConflictError; merge()'s retry loop rebuilds against the
    fresh head. The conflicted attempt's data dir is reclaimed."""
    import os as _os

    from empdia_iceberg_spark.tables.manager import SnapshotTable as ST

    t = SnapshotTable(spark, "t_merge_occ_unit")
    t.drop()
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))

    real_write = ST._write_data
    state = {"armed": True}

    def inject_write(self, df, spec=None):
        if state["armed"] and self.name == "t_merge_occ_unit":
            state["armed"] = False
            # concurrent append lands in merge's read-to-commit window
            # (its own _write_data passes through: armed is now False)
            t.append(
                df.sparkSession.createDataFrame([(99, "zz")], "k int, v string")
            )
        return real_write(self, df, spec)

    monkeypatch.setattr(ST, "_write_data", inject_write)
    _, audit = t.merge(
        spark.createDataFrame([(2, "UPD"), (7, "ins")], "k int, v string"),
        key="k",
    )
    monkeypatch.undo()

    out = {(r.k, r.v) for r in t.read().collect()}
    # the concurrent append's row SURVIVES the merge — no lost update
    assert out == {(1, "a"), (2, "UPD"), (7, "ins"), (99, "zz")}
    # the conflicted first attempt's dir was rmtree'd: everything on
    # disk is referenced by some snapshot
    referenced = {d for s in t.snapshots() for d in s["dirs"]}
    on_disk = {_os.path.join(t.data_dir, d) for d in _os.listdir(t.data_dir)}
    assert on_disk <= referenced, on_disk - referenced
    t.drop()


def test_append_race_cleans_orphan_dir(spark, nation, monkeypatch):
    """ADVICE r6 (low): when plain append() loses the publish race and
    surfaces CommitConflictError, its freshly written data dir must be
    rmtree'd — an orphan belongs to no snapshot, so expire/GC would
    never reclaim it."""
    import os as _os

    import empdia_iceberg_spark.tables.manager as mgr
    from empdia_iceberg_spark.tables.manager import CommitConflictError

    t = SnapshotTable(spark, "t_append_orphan_unit")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 5))

    real_link = _os.link
    fail_next = {"n": 1}

    def flaky_link(src, dst, **kw):
        if fail_next["n"] > 0:
            fail_next["n"] -= 1
            raise FileExistsError(dst)
        return real_link(src, dst, **kw)

    monkeypatch.setattr(mgr.os, "link", flaky_link)
    with pytest.raises(CommitConflictError):
        t.append(nation.filter(F.col("n_nationkey") >= 5))
    monkeypatch.undo()

    referenced = {d for s in t.snapshots() for d in s["dirs"]}
    on_disk = {_os.path.join(t.data_dir, d) for d in _os.listdir(t.data_dir)}
    assert on_disk <= referenced, on_disk - referenced
    t.drop()


def test_bloom_blobs_written_outside_sidecar(spark):
    """VERDICT r6 #6: the bloom sidecar JSON must hold only paths + m
    (O(|dirs|) driver traffic); the packed bitmaps live as per-dir
    blob files written from executors. Legacy inline-bitmap and
    position-list entries must still probe correctly."""
    import json as _json
    import os as _os

    from empdia_iceberg_spark import registry
    from empdia_iceberg_spark.tables.manager import BloomIndex, SnapshotTable

    registry.queries()["table_bloom_point_lookup"](spark, SF_DIR).collect()
    t = SnapshotTable(spark, "orders_bloom", scratch_root())
    idx = BloomIndex(t, "o_orderkey")
    with open(idx.path) as f:
        sidecar = _json.load(f)
    for d, entry in sidecar["dirs"].items():
        assert set(entry) == {"m", "blob"}, entry  # no inline bit payload
        blob = _os.path.join(t.meta_dir, entry["blob"])
        assert _os.path.getsize(blob) == entry["m"] // 8

    # legacy formats keep working through lookup_dirs
    some_dir, entry = next(iter(sidecar["dirs"].items()))
    with open(_os.path.join(t.meta_dir, entry["blob"]), "rb") as f:
        raw = f.read()
    sidecar["dirs"][some_dir] = {"m": entry["m"], "bitmap": raw.hex()}
    with open(idx.path, "w") as f:
        _json.dump(sidecar, f)
    dirs, total = idx.lookup_dirs(1)  # must not raise on the legacy entry
    assert total == len(sidecar["dirs"])


def test_merge_carries_dirs_predating_key_column(spark):
    """Schema-evolution interplay with pruned MERGE: a dir written
    before the merge key column existed surfaces NULL keys under the
    mergeSchema read, so it can never match a source key — it must be
    carried by reference (["empty"] envelope), not force-rewritten."""
    t = SnapshotTable(spark, "t_merge_prekey_unit")
    t.drop()
    t.create(spark.createDataFrame([("a",), ("b",)], "v string"))  # pre-key dir
    t.append(
        spark.createDataFrame([(1, "c"), (2, "d")], "k int, v string")
    )  # evolved dir
    src = spark.createDataFrame([(2, "D2"), (9, "ins")], "k int, v string")
    _, audit = t.merge(src, key="k")
    assert audit["dirs_reused"] >= 1, audit  # the pre-key dir survived untouched
    out = t.read(merge_schema=True)
    rows = {(r["k"], r["v"]) for r in out.collect()}
    assert (None, "a") in rows and (None, "b") in rows  # old rows intact
    assert (2, "D2") in rows and (9, "ins") in rows and (1, "c") in rows
    assert (2, "d") not in rows  # updated, not duplicated
    t.drop()


def test_mor_delete_detects_concurrent_writer_and_retries(spark, monkeypatch):
    """delete_where_mor carries the parent's dirs by reference, so a
    writer landing in its read-to-commit window must conflict it; the
    retry rebuilds keys + applies_to against the fresh head and the
    conflicted attempt's delete file is reclaimed. Critically, the
    retried delete's applies_to must INCLUDE the concurrent append's
    dir (its rows existed when the delete finally committed)."""
    import os as _os

    from empdia_iceberg_spark.tables.manager import SnapshotTable as ST

    t = SnapshotTable(spark, "t_mor_occ_unit")
    t.drop()
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))

    real_commit = ST._commit
    state = {"armed": True}

    def inject_commit(self, *a, **kw):
        if state["armed"] and self.name == "t_mor_occ_unit" and a[0] == "delete-mor":
            state["armed"] = False
            # concurrent append lands between the delete's read and publish
            t.append(
                spark.createDataFrame([(2, "late"), (9, "z")], "k int, v string")
            )
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(ST, "_commit", inject_commit)
    t.delete_where_mor(F.col("k") == 2, key="k")
    monkeypatch.undo()

    out = {(r.k, r.v) for r in t.read().collect()}
    # BOTH k=2 rows deleted (the retried delete saw the appended row),
    # the append's other row survives
    assert out == {(1, "a"), (9, "z")}, out
    # conflicted delete file reclaimed: every on-disk dir is referenced
    # by a snapshot's dirs or delete_dirs
    referenced = {d for s in t.snapshots() for d in s["dirs"]}
    referenced |= {
        dd["dir"] for s in t.snapshots() for dd in s.get("delete_dirs", [])
    }
    on_disk = {_os.path.join(t.data_dir, d) for d in _os.listdir(t.data_dir)}
    assert on_disk <= referenced, on_disk - referenced
    t.drop()


def test_branch_append_cas_keeps_both_writers(spark, monkeypatch):
    """Ref-level CAS: two interleaved branch appends to the same branch
    must BOTH land (the loser rebuilds on the new head) — last-writer-
    wins on refs.json would silently drop one from the branch."""
    from empdia_iceberg_spark.tables.manager import SnapshotTable as ST

    t = SnapshotTable(spark, "t_branch_cas_unit")
    t.drop()
    v1 = t.create(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.set_ref("b", v1)

    real_commit = ST._commit
    state = {"armed": True}

    def inject_commit(self, *a, **kw):
        if (
            state["armed"]
            and self.name == "t_branch_cas_unit"
            and str(a[0]).startswith("append@")
        ):
            state["armed"] = False
            # a concurrent branch append completes fully (commit +
            # ref CAS) inside writer A's commit-to-CAS window
            t.branch_append("b", spark.createDataFrame([(2, "w2")], "k int, v string"))
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(ST, "_commit", inject_commit)
    t.branch_append("b", spark.createDataFrame([(3, "w1")], "k int, v string"))
    monkeypatch.undo()

    out = {(r.k, r.v) for r in t.read_ref("b").collect()}
    assert out == {(1, "a"), (2, "w2"), (3, "w1")}, out
    t.drop()


def test_set_ref_cas_rejects_stale_expectation(spark):
    from empdia_iceberg_spark.tables.manager import CommitConflictError

    t = SnapshotTable(spark, "t_refcas_unit")
    t.drop()
    v1 = t.create(spark.createDataFrame([(1,)], "k int"))
    v2 = t.append(spark.createDataFrame([(2,)], "k int"))
    t.set_ref("main", v1)
    t.set_ref("main", v2, expect=v1)  # correct expectation: moves
    assert t.get_ref("main") == v2
    with pytest.raises(CommitConflictError):
        t.set_ref("main", v1, expect=v1)  # stale: ref is at v2 now
    t.drop()


def test_catalog_publish_cas(spark):
    """Catalog transactions: `expect` pins conflict detection — a
    publish whose base pins moved is refused; a correct expectation
    (including tables the txn did not touch) goes through."""
    from empdia_iceberg_spark.tables.manager import Catalog, CommitConflictError

    t1 = SnapshotTable(spark, "t_cat_a_unit")
    t1.drop()
    va1 = t1.create(spark.createDataFrame([(1,)], "k int"))
    va2 = t1.append(spark.createDataFrame([(2,)], "k int"))
    cat = Catalog(spark, "cas_unit")
    cat.drop()
    cat.publish({"t_cat_a_unit": va1})
    # txn based on va1 succeeds while the pin still points there
    cat.publish({"t_cat_a_unit": va2}, expect={"t_cat_a_unit": va1})
    assert cat.pins()["t_cat_a_unit"] == va2
    # a second txn still based on va1 must conflict
    with pytest.raises(CommitConflictError):
        cat.publish({"t_cat_a_unit": va1}, expect={"t_cat_a_unit": va1})
    cat.drop()
    t1.drop()


def test_real_concurrent_append_checked_threads(spark, nation):
    """REAL (non-injected) concurrency: six threads race append_checked
    on one table. Every append must land exactly once (no lost
    updates, no duplicates, no orphan dirs), with the version log
    showing one commit per writer."""
    import os as _os
    import threading

    t = SnapshotTable(spark, "t_thread_race_unit")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") == 0))

    errs: list[Exception] = []

    def worker(i: int) -> None:
        try:
            h = SnapshotTable(spark, "t_thread_race_unit")  # own handle
            h.append_checked(
                nation.filter(F.col("n_nationkey") == i), max_retries=20
            )
        except Exception as ex:  # pragma: no cover - failure evidence
            errs.append(ex)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(1, 7)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    keys = sorted(r.n_nationkey for r in t.read().select("n_nationkey").collect())
    assert keys == [0, 1, 2, 3, 4, 5, 6]  # all writers landed, no dupes
    assert t.current_version() == 7  # one commit per writer
    referenced = {d for s in t.snapshots() for d in s["dirs"]}
    on_disk = {_os.path.join(t.data_dir, d) for d in _os.listdir(t.data_dir)}
    assert on_disk <= referenced, on_disk - referenced  # losers cleaned up
    t.drop()


def test_real_concurrent_branch_appends_threads(spark, nation):
    """REAL concurrency on the ref CAS: four threads branch_append to
    ONE branch; all four rows must be on the branch head."""
    import threading

    t = SnapshotTable(spark, "t_thread_branch_unit")
    t.drop()
    v1 = t.create(nation.filter(F.col("n_nationkey") == 0))
    t.set_ref("b", v1)

    errs: list[Exception] = []

    def worker(i: int) -> None:
        try:
            h = SnapshotTable(spark, "t_thread_branch_unit")
            h.branch_append(
                "b", nation.filter(F.col("n_nationkey") == i), max_retries=20
            )
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(1, 5)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    keys = sorted(r.n_nationkey for r in t.read_ref("b").select("n_nationkey").collect())
    assert keys == [0, 1, 2, 3, 4]
    t.drop()


def test_bloom_never_false_negative_seeded(spark):
    """The bloom contract: false positives cost an extra read, false
    negatives are WRONG ANSWERS. Seeded random multi-dir tables; every
    key present anywhere must pass the bitset test for the dir holding
    it (probing all keys of all dirs)."""
    import random

    from empdia_iceberg_spark.tables.manager import BloomIndex

    rng = random.Random(20260814)
    t = SnapshotTable(spark, "t_bloom_prop_unit")
    for trial in range(3):
        t.drop()
        universe = rng.sample(range(1, 100000), 300)
        chunks = [universe[0:100], universe[100:200], universe[200:300]]
        t.create(spark.createDataFrame([(k,) for k in chunks[0]], "k int"))
        t.append(spark.createDataFrame([(k,) for k in chunks[1]], "k int"))
        t.append(spark.createDataFrame([(k,) for k in chunks[2]], "k int"))
        idx = BloomIndex(t, "k")
        idx.build()
        meta = t._read_meta(t.current_version())
        dir_keys = dict(zip(meta["dirs"], chunks))
        for d, keys in dir_keys.items():
            for k in keys:
                dirs, _total = idx.lookup_dirs(k)
                assert d in dirs, (trial, k, d)  # no false negative ever
    t.drop()


def test_table_lifecycle_model_based_seeded(spark):
    """Model-based differential test: random op sequences over a
    snapshot table, mirrored in a plain-dict reference model; after
    EVERY op the table read must equal the model exactly. Lifecycle
    interactions (MOR deletes vs later appends vs merge vs compact vs
    rollback) are where bugs hide — this sweeps their compositions."""
    import random

    rng = random.Random(7_2026)
    for trial in range(3):
        t = SnapshotTable(spark, f"t_model_unit_{trial}")
        t.drop()
        model: dict[int, str] = {}  # key -> value (keys unique by merge guard)
        history: list[dict[int, str]] = []  # model state per committed version

        def commit_state() -> None:
            history.append(dict(model))

        def fresh_rows(n: int) -> list[tuple[int, str]]:
            ks = rng.sample([k for k in range(1000) if k not in model], n)
            return [(k, f"v{rng.randrange(1_000_000)}") for k in ks]

        rows = fresh_rows(rng.randrange(3, 8))
        t.create(spark.createDataFrame(rows, "k int, v string"))
        model.update(dict(rows))
        commit_state()

        for _ in range(8):
            op = rng.choice(["append", "delete_mor", "merge", "compact", "rollback"])
            if op == "append":
                rows = fresh_rows(rng.randrange(1, 5))
                t.append(spark.createDataFrame(rows, "k int, v string"))
                model.update(dict(rows))
            elif op == "delete_mor":
                if not model:
                    continue
                cut = rng.choice(sorted(model))
                t.delete_where_mor(F.col("k") <= cut, key="k")
                for k in [k for k in model if k <= cut]:
                    del model[k]
            elif op == "merge":
                upd_keys = rng.sample(sorted(model), min(2, len(model))) if model else []
                upd = [(k, f"u{rng.randrange(1_000_000)}") for k in upd_keys]
                ins = fresh_rows(rng.randrange(1, 3))
                src = upd + ins
                t.merge(spark.createDataFrame(src, "k int, v string"), key="k")
                model.update(dict(src))
            elif op == "compact":
                t.compact(target_partitions=2)
            elif op == "rollback":
                v = rng.randrange(1, len(history) + 1)
                t.rollback(v)
                model = dict(history[v - 1])
            commit_state()

            got = {(r.k, r.v) for r in t.read().collect()}
            want = set(model.items())
            assert got == want, (trial, op, got ^ want)
            # time travel must reproduce any historical state exactly,
            # including the MOR delete files that existed THEN
            v = rng.randrange(1, len(history) + 1)
            got_v = {(r.k, r.v) for r in t.read(version=v).collect()}
            want_v = set(history[v - 1].items())
            assert got_v == want_v, (trial, op, v, got_v ^ want_v)
        t.drop()


def test_reference_carrying_commits_keep_mor_deletes(spark):
    """Every commit that carries the parent's data dirs BY REFERENCE
    must also carry the parent's MOR delete files — append_checked,
    evolve_partitioning, and branch_append each used to drop them,
    silently resurrecting MOR-deleted rows at the next read."""
    t = SnapshotTable(spark, "t_refcarry_mor_unit")
    t.drop()
    t.create(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string"))
    t.delete_where_mor(F.col("k") == 2, key="k")
    assert t.read().filter(F.col("k") == 2).count() == 0

    t.append_checked(spark.createDataFrame([(4, "d")], "k int, v string"))
    assert t.read().filter(F.col("k") == 2).count() == 0, (
        "append_checked dropped MOR delete files"
    )

    t.evolve_partitioning(["v"])
    assert t.read().filter(F.col("k") == 2).count() == 0, (
        "evolve_partitioning dropped MOR delete files"
    )

    t.set_ref("dev", t.current_version())
    t.branch_append("dev", spark.createDataFrame([(5, "e")], "k int, v string"))
    assert t.read_ref("dev").filter(F.col("k") == 2).count() == 0, (
        "branch_append dropped MOR delete files"
    )
    assert t.read_ref("dev").count() == 4  # 1,3,4,5 — not the deleted 2
    t.drop()


def test_excl_lock_is_kernel_arbitrated(tmp_path):
    """The refs/catalog lock is a kernel flock: a held lock blocks every
    other acquirer (no mtime staleness heuristic a racing waiter could
    exploit to delete a fresh holder's lock), a crashed holder's lock
    releases with its process (a leftover lockfile from a dead holder
    acquires instantly), and release never unlinks the path (unlink +
    recreate would let two waiters lock different inodes)."""
    import os
    import time

    from empdia_iceberg_spark.tables.manager import _acquire_excl_lock

    lock = str(tmp_path / "refs.json.lock")
    # crashed holder: the lockFILE survives, but its flock died with the
    # process — acquisition must be immediate, regardless of mtime
    with open(lock, "w"):
        pass
    old = time.time() - 60
    os.utime(lock, (old, old))
    t0 = time.time()
    fd = _acquire_excl_lock(lock, "test")
    assert time.time() - t0 < 1, "leftover lockfile must not block"
    # while HELD: a second caller must time out, and the holder's
    # lockfile must survive the attempt (no unlink anywhere)
    with pytest.raises(TimeoutError):
        _acquire_excl_lock(lock, "test2", attempts=20, sleep_s=0.001)
    assert os.path.exists(lock), "held lock was deleted by a waiter"
    # release = close; the next acquirer gets it immediately
    os.close(fd)
    fd2 = _acquire_excl_lock(lock, "test3", attempts=20, sleep_s=0.001)
    os.close(fd2)
    assert os.path.exists(lock), "release must not unlink the lock path"


def test_hostile_table_root_attribution(spark, tmp_path):
    """Dir attribution must survive table roots containing spaces, '+',
    and '%': input_file_name() is a percent-encoded URI, and decoding
    it with url_decode turned '+' into a space (and threw on a literal
    '%'), breaking every merge and bloom build under such roots. The
    structural rightmost-'/data/<seg>/' match is encoding-agnostic."""
    from empdia_iceberg_spark.tables.manager import BloomIndex, SnapshotTable

    root = str(tmp_path / "gcc+clang 7% builds")
    t = SnapshotTable(spark, "t_hostile_root", root=root)
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.append(spark.createDataFrame([(3, "c"), (4, "d")], "k int, v string"))
    # merge runs the envelope scan (the attribution path under test)
    t.merge(
        spark.createDataFrame([(2, "B"), (9, "z")], "k int, v string"),
        key="k",
    )
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows == {1: "a", 2: "B", 3: "c", 4: "d", 9: "z"}
    # bloom build shares the same one-scan attribution
    idx = BloomIndex(t, "k")
    idx.build()
    dirs, total = idx.lookup_dirs(3)
    assert 1 <= len(dirs) <= total
    assert {r.k for r in idx.read_point(3).collect()} == {3}
    t.drop()


def test_excl_lock_crash_recovery_across_processes(tmp_path):
    """Cross-process flock semantics: a child holding the lock blocks
    the parent; a child that dies WITHOUT releasing (crash) frees the
    lock via kernel fd cleanup, so the parent acquires immediately —
    the property mtime-staleness heuristics only approximated."""
    import multiprocessing as mp
    import os
    import time

    from empdia_iceberg_spark.tables.manager import _acquire_excl_lock

    lock = str(tmp_path / "catalog.json.lock")

    def hold_then_crash(acquired_evt, crash_evt):
        fd = _acquire_excl_lock(lock, "child")
        acquired_evt.set()
        crash_evt.wait(30)
        os._exit(1)  # simulate a crash: no close, no cleanup handlers

    ctx = mp.get_context("fork")
    acquired, crash = ctx.Event(), ctx.Event()
    child = ctx.Process(target=hold_then_crash, args=(acquired, crash))
    child.start()
    try:
        assert acquired.wait(10), "child never acquired"
        # held by the child: the parent must time out
        with pytest.raises(TimeoutError):
            _acquire_excl_lock(lock, "parent", attempts=30, sleep_s=0.005)
        # child crashes; the kernel releases its flock with the process
        crash.set()
        child.join(10)
        t0 = time.time()
        fd = _acquire_excl_lock(lock, "parent2")
        assert time.time() - t0 < 2, "crashed holder's lock not released"
        os.close(fd)
    finally:
        crash.set()
        if child.is_alive():
            child.terminate()
            child.join(5)


def test_merge_envelope_attribution_on_partitioned_dirs(spark, nation):
    """The structural '/data/<seg>/' attribution must recover the
    snapshot dir (not a nested '_p_<col>=…' hive subdir) when data
    files sit one level deeper in partitioned dirs — the envelope scan
    is root-anchored for exactly this layout."""
    t = SnapshotTable(spark, "t_merge_part_attr")
    t.drop()
    t.create(
        nation.select("n_nationkey", "n_regionkey", "n_name"),
        partition_by=["n_regionkey"],
    )
    t.append(
        nation.select(
            (F.col("n_nationkey") + 100).alias("n_nationkey"),
            "n_regionkey",
            F.upper("n_name").alias("n_name"),
        )
    )
    src = spark.createDataFrame(
        [(3, 99, "PATCHED"), (777, 0, "NEWROW")],
        "n_nationkey int, n_regionkey int, n_name string",
    )
    t.merge(src, key="n_nationkey")
    rows = {r.n_nationkey: (r.n_regionkey, r.n_name) for r in t.read().collect()}
    assert rows[3] == (99, "PATCHED")  # matched, updated
    assert rows[777] == (0, "NEWROW")  # inserted
    assert len(rows) == 2 * nation.count() + 1
    t.drop()


def test_merge_source_schema_validation(spark, nation):
    """MERGE conforms the source to the TABLE schema (Iceberg MERGE INTO
    semantics): identical types pass, safe widenings (int source into a
    bigint column) are cast, narrowings and column-set mismatches raise
    — previously a bigint source merged into an int table wrote INT64
    parquet under an int meta schema, and readers mixing those files
    with carried dirs failed with PARQUET_COLUMN_DATA_TYPE_MISMATCH."""
    # target with a BIGINT key: an int source widens safely
    t = SnapshotTable(spark, "t_merge_widen_unit")
    t.drop()
    t.create(
        nation.select(F.col("n_nationkey").cast("bigint").alias("k"), "n_name")
    )
    t.merge(
        spark.createDataFrame([(0, "W"), (888, "X")], "k int, n_name string"),
        key="k",
    )
    rows = {r.k: r.n_name for r in t.read().collect()}
    assert rows[0] == "W" and rows[888] == "X"
    assert t.read().schema["k"].dataType.simpleString() == "bigint"
    t.drop()

    # target with an INT key: a bigint source is a narrowing — rejected
    t2 = SnapshotTable(spark, "t_merge_narrow_unit")
    t2.drop()
    t2.create(nation.select("n_nationkey", "n_name"))  # int key
    v_before = t2.current_version()
    with pytest.raises(ValueError, match="not assignable"):
        t2.merge(
            spark.createDataFrame([(1, "Y")], "n_nationkey bigint, n_name string"),
            key="n_nationkey",
        )
    assert t2.current_version() == v_before  # nothing committed

    # column-set mismatch is named, not a union error deep inside
    with pytest.raises(ValueError, match="missing.*unexpected"):
        t2.merge(
            spark.createDataFrame([(1, 2)], "n_nationkey int, bogus int"),
            key="n_nationkey",
        )
    t2.drop()


def test_append_type_mismatch_rejected_and_widening_cast(spark):
    """append() must conform shared columns to the table schema: a
    bigint column appended onto an int table previously wrote INT64
    files next to INT32 ones, and every subsequent read failed with
    PARQUET_COLUMN_DATA_TYPE_MISMATCH. Safe widenings cast; additive
    new columns still evolve the schema; omitted columns stay in the
    schema and read back NULL."""
    t = SnapshotTable(spark, "t_append_align_unit")
    t.drop()
    t.create(spark.createDataFrame([(1, "a")], "k int, v string"))
    with pytest.raises(ValueError, match="not assignable"):
        t.append(spark.createDataFrame([(2, "b")], "k bigint, v string"))
    assert [r.k for r in t.read().collect()] == [1]  # table unharmed

    # bigint-keyed table: an int append widens safely
    t2 = SnapshotTable(spark, "t_append_widen_unit")
    t2.drop()
    t2.create(spark.createDataFrame([(1, "a")], "k bigint, v string"))
    t2.append(spark.createDataFrame([(2, "b")], "k int, v string"))
    assert sorted(r.k for r in t2.read().collect()) == [1, 2]
    assert t2.read().schema["k"].dataType.simpleString() == "bigint"

    # additive evolution still works and keeps earlier columns
    t2.append(
        spark.createDataFrame([(3, "c", 7)], "k bigint, v string, extra int")
    )
    back = t2.read(merge_schema=True)
    assert {f.name for f in back.schema} == {"k", "v", "extra"}
    assert {r.k: r.extra for r in back.collect()} == {1: None, 2: None, 3: 7}
    t.drop()
    t2.drop()


def test_bloom_blob_reclamation_keeps_previous_generation(spark):
    """r8 ADVICE: build() used to rmtree every superseded blob dir the
    instant the sidecar swapped, so a reader that parsed the previous
    sidecar moments earlier hit FileNotFoundError mid-lookup.
    Reclamation now lags one generation (at most two generations on
    disk), and lookup_dirs retries through a fresh sidecar read when a
    blob vanishes underneath it."""
    import json
    import os

    import pytest as _pytest

    from empdia_iceberg_spark.tables.manager import BloomIndex, SnapshotTable

    t = SnapshotTable(spark, "t_bloom_gen_unit")
    t.drop()
    t.create(spark.createDataFrame([(k,) for k in range(100)], "k int"))
    idx = BloomIndex(t, "k")
    idx.build()

    def gens():
        return sorted(
            d for d in os.listdir(t.meta_dir)
            if d.startswith("bloom_k_v") and os.path.isdir(os.path.join(t.meta_dir, d))
        )

    g1 = gens()
    assert len(g1) == 1
    t.append(spark.createDataFrame([(k,) for k in range(100, 150)], "k int"))
    idx.build()
    g2 = gens()
    # the superseded generation survives one build cycle
    assert g1[0] in g2 and len(g2) == 2
    t.append(spark.createDataFrame([(k,) for k in range(150, 160)], "k int"))
    idx.build()
    g3 = gens()
    assert g1[0] not in g3, "two-generations-old blobs must be reclaimed"
    assert len(g3) == 2 and g2[1] in g3
    # lookups still correct across the whole history
    dirs, total = idx.lookup_dirs(155)
    assert dirs and total == 3

    # blob vanishing with NO newer sidecar: the one retry re-reads the
    # sidecar, still finds the dead path, and surfaces the IO error
    # (not an infinite loop, not a silent false negative)
    current = json.load(open(idx.path))
    some = next(iter(current["dirs"].values()))
    os.remove(os.path.join(t.meta_dir, some["blob"]))
    with _pytest.raises(FileNotFoundError):
        idx.lookup_dirs(0)
    t.drop()


# ------------------------------------------------------------ SQL DML layer


def test_execute_dml_update_prunes_and_applies(spark, nation):
    """UPDATE via the SQL front-end: Catalyst-parsed WHERE/RHS, pruned
    COW rewrite — a predicate confined to one of two dirs must rewrite
    exactly that dir and carry the other by reference (same path in the
    new snapshot's dir list)."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_dml_upd_unit")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 10))
    t.append(nation.filter(F.col("n_nationkey") >= 10))
    carried = t._read_meta(t.current_version())["dirs"][1]
    res = execute_dml(
        spark,
        "UPDATE t_dml_upd_unit SET n_name = concat(n_name, '_X') "
        "WHERE n_nationkey < 3",
    )
    assert res["op"] == "update"
    assert res["audit"] == {"dirs_rewritten": 1, "dirs_reused": 1}
    assert carried in t._read_meta(t.current_version())["dirs"], (
        "untouched dir must be carried by reference, not rewritten"
    )
    names = {r.n_nationkey: r.n_name for r in t.read().collect()}
    assert all(names[k].endswith("_X") for k in (0, 1, 2))
    assert not names[3].endswith("_X")
    t.drop()


def test_execute_dml_update_assignments_are_simultaneous(spark):
    """Standard SQL UPDATE: every RHS sees PRE-update values — swapping
    two columns must swap, not cascade."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_dml_swap_unit")
    t.drop()
    t.create(spark.createDataFrame([(1, 10, 20)], "k int, a int, b int"))
    execute_dml(spark, "UPDATE t_dml_swap_unit SET a = b, b = a WHERE k = 1")
    row = t.read().first()
    assert (row.a, row.b) == (20, 10)
    execute_dml(spark, "UPDATE t_dml_swap_unit SET `a` = b, `b` = a WHERE k = 1")
    row = t.read().first()
    assert (row.a, row.b) == (10, 20)
    t.drop()


def test_execute_dml_update_no_match_is_noop(spark, nation):
    """A WHERE matching nothing must leave the table at its current
    version (no empty commit) with audit dirs_rewritten=0."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_dml_noop_unit")
    t.drop()
    t.create(nation)
    v0 = t.current_version()
    res = execute_dml(
        spark, "UPDATE t_dml_noop_unit SET n_name = 'Z' WHERE n_nationkey = -1"
    )
    assert res["version"] == v0 == t.current_version()
    assert res["audit"]["dirs_rewritten"] == 0
    t.drop()


def test_execute_dml_update_without_where_rewrites_all(spark, nation):
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_dml_allrows_unit")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 10))
    t.append(nation.filter(F.col("n_nationkey") >= 10))
    res = execute_dml(spark, "UPDATE t_dml_allrows_unit SET n_regionkey = 9")
    assert res["audit"] == {"dirs_rewritten": 2, "dirs_reused": 0}
    assert t.read().filter(F.col("n_regionkey") != 9).count() == 0
    # a WHERE inside a comment is no WHERE: every row still updates
    execute_dml(
        spark,
        "UPDATE t_dml_allrows_unit SET n_regionkey = 2 "
        "-- was: WHERE n_nationkey = 1",
    )
    assert t.read().filter(F.col("n_regionkey") != 2).count() == 0
    t.drop()


def test_execute_dml_delete_pruned_and_mor(spark, nation):
    """DELETE routes to the pruned COW path by default and to the
    merge-on-read equality-delete path when mor_key is given; both must
    produce the same surviving rows."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    expect = {r.n_nationkey for r in nation.filter(~(F.col("n_regionkey") == 2)).collect()}

    t = SnapshotTable(spark, "t_dml_del_unit")
    t.drop()
    t.create(nation)
    res = execute_dml(spark, "DELETE FROM t_dml_del_unit WHERE n_regionkey = 2")
    assert res["op"] == "delete" and res["audit"]["dirs_rewritten"] == 1
    assert {r.n_nationkey for r in t.read().collect()} == expect

    t2 = SnapshotTable(spark, "t_dml_delmor_unit")
    t2.drop()
    t2.create(nation)
    dirs_before = t2._read_meta(t2.current_version())["dirs"]
    res2 = execute_dml(
        spark,
        "DELETE FROM t_dml_delmor_unit WHERE n_regionkey = 2",
        mor_key="n_nationkey",
    )
    assert res2["op"] == "delete-mor" and res2["audit"] is None
    meta = t2._read_meta(t2.current_version())
    assert meta["dirs"] == dirs_before, "MOR delete must not rewrite data dirs"
    assert meta["delete_dirs"], "MOR delete must commit an equality-delete file"
    assert {r.n_nationkey for r in t2.read().collect()} == expect
    t.drop()
    t2.drop()


def test_execute_dml_parse_and_guard_errors(spark, nation):
    from empdia_iceberg_spark.tables.ddl import _split_top_level
    from empdia_iceberg_spark.tables.dml import execute_dml

    # splitter respects parens and quotes
    assert _split_top_level("a = f(x, y), b = 'v,w'") == ["a = f(x, y)", "b = 'v,w'"]
    # r11: MERGE INTO is now a supported statement — it fails on its own
    # grammar (missing WHEN), not as "unsupported DML"
    with pytest.raises(ValueError, match="at least one WHEN"):
        execute_dml(spark, "MERGE INTO t USING s ON 1=1")
    with pytest.raises(ValueError, match="unsupported DML"):
        execute_dml(spark, "TRUNCATE TABLE t")
    with pytest.raises(ValueError, match="apply to DELETE only"):
        execute_dml(spark, "UPDATE t SET a = 1", mor_key="a")

    t = SnapshotTable(spark, "t_dml_guard_unit")
    t.drop()
    t.create(nation)
    # a comma inside a call's parens or a string is not an assignment split
    execute_dml(
        spark,
        "UPDATE t_dml_guard_unit SET n_regionkey = 1, "
        "n_name = concat(n_name, ',') WHERE n_nationkey = 0",
    )
    row = t.read().filter("n_nationkey = 0").first()
    assert row.n_regionkey == 1 and row.n_name.endswith(",")
    with pytest.raises(ValueError, match="assigned twice"):
        execute_dml(
            spark, "UPDATE t_dml_guard_unit SET n_regionkey = 1, n_regionkey = 2"
        )
    with pytest.raises(ValueError, match="unknown column"):
        execute_dml(spark, "UPDATE t_dml_guard_unit SET nope = 1 WHERE n_nationkey = 0")
    t.drop()


def test_delete_pruned_keeps_null_predicate_rows_regardless_of_layout(spark):
    """r10 review: SQL DELETE removes rows where the predicate is TRUE;
    NULL-predicate rows survive. A bare filter(~cond) dropped them —
    but only inside REWRITTEN files, so survival depended on which file
    a NULL row shared with a matching row. Both dirs here hold a NULL
    row; only one dir holds matching rows."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_dml_null_unit")
    t.drop()
    t.create(
        spark.createDataFrame(
            [(1, -5.0), (2, None)], "k int, x double"
        )  # dir 1: a match AND a NULL row
    )
    t.append(
        spark.createDataFrame([(3, None), (4, 7.0)], "k int, x double")
    )  # dir 2: no match, a NULL row
    res = execute_dml(spark, "DELETE FROM t_dml_null_unit WHERE x < 0")
    assert res["audit"] == {"dirs_rewritten": 1, "dirs_reused": 1}
    kept = {r.k for r in t.read().collect()}
    assert kept == {2, 3, 4}, (
        "NULL-predicate rows must survive in rewritten AND pruned files"
    )
    # the old whole-table COW delete honors the same contract
    t.delete_where(F.col("x") > 100)
    assert {r.k for r in t.read().collect()} == {2, 3, 4}
    t.drop()


def test_execute_dml_where_keyword_inside_string_literal(spark, nation):
    """r10 review: the clause split must be quote-aware — a string
    literal containing the word 'where' (or an escaped quote before a
    comma) is not a clause boundary."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_dml_quotes_unit")
    t.drop()
    t.create(nation)
    res = execute_dml(
        spark,
        "UPDATE t_dml_quotes_unit SET n_name = 'fix where needed, maybe' "
        "WHERE n_nationkey = 0",
    )
    assert res["audit"]["dirs_rewritten"] >= 1
    names = {r.n_nationkey: r.n_name for r in t.read().collect()}
    assert names[0] == "fix where needed, maybe"
    assert names[1] != "fix where needed, maybe"

    res2 = execute_dml(
        spark,
        "UPDATE t_dml_quotes_unit SET n_name = 'it\\'s a, b where c' "
        "WHERE n_nationkey = 1",
    )
    assert res2["op"] == "update"
    names = {r.n_nationkey: r.n_name for r in t.read().collect()}
    assert names[1] == "it's a, b where c"
    t.drop()


# ------------------------------------------------------- SQL MERGE INTO layer


def test_merge_dml_update_assignments_and_column_list_insert(spark, nation):
    """The general clause path: SET assignments referencing BOTH the
    target and source aliases, plus a column-list INSERT over a source
    that is NOT table-shaped (it carries deltas). Unassigned INSERT
    columns land NULL."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_mrgdml_upd_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name", "n_regionkey"))
    spark.createDataFrame(
        [(0, "zero", 7), (999, "new", 9)], "n_nationkey int, tag string, rk int"
    ).createOrReplaceTempView("mrgdml_src_unit")
    res = execute_dml(
        spark,
        "MERGE INTO t_mrgdml_upd_unit t USING mrgdml_src_unit s "
        "ON t.n_nationkey = s.n_nationkey "
        "WHEN MATCHED THEN UPDATE SET n_name = concat(t.n_name, '_', s.tag), "
        "n_regionkey = s.rk "
        "WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name) "
        "VALUES (s.n_nationkey, upper(s.tag))",
    )
    assert res["op"] == "merge"
    rows = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in t.read().collect()}
    assert rows[0][0].endswith("_zero") and rows[0][1] == 7
    assert rows[999] == ("NEW", None)  # unassigned INSERT column -> NULL
    assert len(rows) == nation.count() + 1
    assert rows[1][0] == nation.filter(F.col("n_nationkey") == 1).first().n_name
    spark.createDataFrame(
        [(998, "bq")], "n_nationkey int, tag string"
    ).createOrReplaceTempView("mrgdml_bq_src_unit")
    execute_dml(
        spark,
        "MERGE INTO t_mrgdml_upd_unit t USING mrgdml_bq_src_unit s "
        "ON t.n_nationkey = s.n_nationkey "
        "WHEN NOT MATCHED THEN INSERT (`n_nationkey`, `n_name`) "
        "VALUES (s.n_nationkey, s.tag)",
    )
    rows = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in t.read().collect()}
    assert rows[998] == ("bq", None)
    t.drop()


def test_merge_dml_matched_delete_and_upsert_star(spark, nation):
    """WHEN MATCHED THEN DELETE removes matched rows (inserting the
    not-matched source rows when the INSERT clause is present); the
    *-forms reproduce the engine's proven upsert semantics."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_mrgdml_del_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))
    spark.createDataFrame(
        [(0, "DROPME"), (888, "ADDME")], "n_nationkey int, n_name string"
    ).createOrReplaceTempView("mrgdml_del_src")
    execute_dml(
        spark,
        "MERGE INTO t_mrgdml_del_unit USING mrgdml_del_src s "
        "ON t_mrgdml_del_unit.n_nationkey = s.n_nationkey "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    rows = {r.n_nationkey: r.n_name for r in t.read().collect()}
    assert 0 not in rows and rows[888] == "ADDME"
    assert len(rows) == nation.count()  # -1 deleted, +1 inserted

    # SET * / INSERT * == the engine's default upsert path
    t2 = SnapshotTable(spark, "t_mrgdml_star_unit")
    t2.drop()
    t2.create(nation.select("n_nationkey", "n_name"))
    execute_dml(
        spark,
        "MERGE INTO t_mrgdml_star_unit USING mrgdml_del_src s "
        "ON t_mrgdml_star_unit.n_nationkey = s.n_nationkey "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    rows2 = {r.n_nationkey: r.n_name for r in t2.read().collect()}
    assert rows2[0] == "DROPME" and rows2[888] == "ADDME"
    assert len(rows2) == nation.count() + 1
    t.drop()
    t2.drop()


def test_merge_dml_insert_only_carries_bounds_hit_dirs(spark, nation):
    """Scale posture: an insert-only MERGE (no matched clause) must NOT
    rewrite a dir for containing a matched key — matched rows are
    unchanged, so bounds-hit dirs are only READ for the anti-join and
    carried by reference. audit.dirs_rewritten == 0."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_mrgdml_insonly_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name").filter("n_nationkey < 10"))
    t.append(nation.select("n_nationkey", "n_name").filter("n_nationkey >= 10"))
    dirs_before = t._read_meta(t.current_version())["dirs"]
    spark.createDataFrame(
        [(5, "EXISTS"), (777, "FRESH")], "n_nationkey int, n_name string"
    ).createOrReplaceTempView("mrgdml_ins_src")
    res = execute_dml(
        spark,
        "MERGE INTO t_mrgdml_insonly_unit USING mrgdml_ins_src s "
        "ON t_mrgdml_insonly_unit.n_nationkey = s.n_nationkey "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    assert res["audit"]["dirs_rewritten"] == 0
    assert res["audit"]["dirs_reused"] == len(dirs_before)
    meta = t._read_meta(t.current_version())
    assert all(d in meta["dirs"] for d in dirs_before), "dirs carried by ref"
    rows = {r.n_nationkey: r.n_name for r in t.read().collect()}
    assert rows[777] == "FRESH"
    assert rows[5] == nation.filter(F.col("n_nationkey") == 5).first().n_name
    assert len(rows) == nation.count() + 1  # key 5 NOT duplicated
    t.drop()


def test_merge_dml_matched_only_update_does_not_insert(spark, nation):
    """With no NOT MATCHED clause, unmatched source rows vanish."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_mrgdml_mo_unit")
    spark.createDataFrame(
        [(2, "two"), (555, "ghost")], "n_nationkey int, tag string"
    ).createOrReplaceTempView("mrgdml_mo_src")
    for when in (
        "WHEN MATCHED THEN UPDATE SET n_name = s.tag",
        # a clause inside a comment between real clauses is a comment
        "WHEN MATCHED AND s.tag = 'none' THEN DELETE "
        "/* WHEN NOT MATCHED THEN INSERT (n_nationkey) "
        "VALUES (s.n_nationkey) */ "
        "WHEN MATCHED THEN UPDATE SET n_name = s.tag",
    ):
        t.drop()
        t.create(nation.select("n_nationkey", "n_name"))
        execute_dml(
            spark,
            "MERGE INTO t_mrgdml_mo_unit t USING mrgdml_mo_src s "
            "ON t.n_nationkey = s.n_nationkey " + when,
        )
        rows = {r.n_nationkey: r.n_name for r in t.read().collect()}
        assert rows[2] == "two" and 555 not in rows
        assert len(rows) == nation.count()
    t.drop()


def test_merge_dml_subquery_source_and_errors(spark, nation):
    """Subquery USING sources parse via spark.sql (alias required);
    malformed statements fail with clear errors instead of silently
    mis-merging."""
    import pytest

    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_mrgdml_err_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))
    nation.createOrReplaceTempView("mrgdml_nation_view")
    execute_dml(
        spark,
        "MERGE INTO t_mrgdml_err_unit t USING "
        "(SELECT n_nationkey, 'Q' AS tag FROM mrgdml_nation_view "
        "WHERE n_nationkey = 4) s "
        "ON t.n_nationkey = s.n_nationkey "
        "WHEN MATCHED THEN UPDATE SET n_name = s.tag",
    )
    assert {r.n_name for r in t.read().filter("n_nationkey = 4").collect()} == {"Q"}

    head = ("MERGE INTO t_mrgdml_err_unit t USING mrgdml_nation_view s ")
    for stmt, msg in [
        (head + "ON t.n_nationkey = s.n_nationkey "
         "WHEN MATCHED AND s.n_regionkey = 1 UPDATE SET n_name = 'x'",
         "missing 'THEN'"),
        (head + "ON t.n_nationkey < s.n_nationkey "
         "WHEN MATCHED THEN DELETE", "single key equality"),
        (head + "ON t.n_nationkey = s.n_regionkey "
         "WHEN MATCHED THEN DELETE", "SAME column name"),
        (head + "ON x.n_nationkey = s.n_nationkey "
         "WHEN MATCHED THEN DELETE", "unknown qualifier"),
        (head + "ON t.n_nationkey = t.n_nationkey "
         "WHEN MATCHED THEN DELETE", "not two of the same side"),
        (head + "ON t.n_nationkey = s.n_nationkey "
         "WHEN MATCHED THEN DELETE WHEN MATCHED THEN DELETE",
         "only the LAST WHEN MATCHED"),
        (head + "ON t.n_nationkey = s.n_nationkey "
         "WHEN NOT MATCHED THEN INSERT (n_nationkey) VALUES (s.a, s.b)",
         "number of inserted values cannot match"),
        (head + "ON t.n_nationkey = s.n_nationkey", "at least one WHEN"),
        ("MERGE INTO t_mrgdml_err_unit USING (SELECT 1 AS n_nationkey) "
         "ON t_mrgdml_err_unit.n_nationkey = n_nationkey "
         "WHEN MATCHED THEN DELETE", "requires an alias"),
    ]:
        with pytest.raises(ValueError, match=msg.replace("(", "\\(")):
            execute_dml(spark, stmt)
    with pytest.raises(ValueError, match="mor_key applies to DELETE"):
        execute_dml(
            spark,
            head + "ON t.n_nationkey = s.n_nationkey WHEN MATCHED THEN DELETE",
            mor_key="n_nationkey",
        )
    t.drop()


def test_merge_dml_null_key_source_rows_insert(spark):
    """SQL MERGE: NULL-key source rows match no target row — with an
    INSERT clause they insert; matched semantics are untouched."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_mrgdml_null_unit")
    t.drop()
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    spark.createDataFrame(
        [(None, "nullrow"), (2, "B2")], "k int, v string"
    ).createOrReplaceTempView("mrgdml_null_src")
    execute_dml(
        spark,
        "MERGE INTO t_mrgdml_null_unit t USING mrgdml_null_src s "
        "ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    rows = sorted(((r.k, r.v) for r in t.read().collect()), key=repr)
    assert rows == sorted([(1, "a"), (2, "B2"), (None, "nullrow")], key=repr)
    t.drop()


def test_merge_dml_case_when_in_assignments_does_not_split_clauses(spark, nation):
    """A top-level CASE WHEN inside a SET assignment or INSERT VALUES
    expression is legal Spark SQL at paren depth 0 — the clause scanner
    must only split at WHEN [NOT] MATCHED boundaries, not at
    expression-level WHENs."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_mrgdml_case_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name", "n_regionkey"))
    spark.createDataFrame(
        [(0, 5), (999, -1)], "n_nationkey int, sig int"
    ).createOrReplaceTempView("mrgdml_case_src")
    execute_dml(
        spark,
        "MERGE INTO t_mrgdml_case_unit t USING mrgdml_case_src s "
        "ON t.n_nationkey = s.n_nationkey "
        "WHEN MATCHED THEN UPDATE SET "
        "n_regionkey = CASE WHEN s.sig > 0 THEN 100 ELSE 200 END "
        "WHEN NOT MATCHED THEN INSERT (n_nationkey, n_regionkey) "
        "VALUES (s.n_nationkey, CASE WHEN s.sig > 0 THEN 1 ELSE 2 END)",
    )
    rows = {r.n_nationkey: r.n_regionkey for r in t.read().collect()}
    assert rows[0] == 100 and rows[999] == 2
    t.drop()


def test_merge_dml_review_hardening(spark, nation):
    """r11 review batch: (1) qualified SET targets (SET t.col = ...) —
    the canonical Spark/Iceberg form — parse, and a source-qualified
    target raises; (2) clause expressions are type-GUARDED like the
    aligned path (string into int raises; int literal into double
    coerces as ANSI store assignment); (3) statement validation is
    data-INDEPENDENT (unknown SET column raises even when no source key
    matches any dir); (4) an insert-only merge whose source fully
    matches is a version-preserving no-op, not an empty-dir snapshot;
    (5) the ON key resolves case-insensitively like Spark itself;
    (6) a typo'd USING name says 'unknown source'."""
    import pytest

    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_mrgdml_hard_unit")
    t.drop()
    t.create(
        nation.select(
            "n_nationkey",
            "n_name",
            F.col("n_regionkey").cast("double").alias("score"),
        )
    )
    spark.createDataFrame(
        [(1, "one", 7), (666, "new", 3)], "n_nationkey int, tag string, iv int"
    ).createOrReplaceTempView("mrgdml_hard_src")
    head = (
        "MERGE INTO t_mrgdml_hard_unit t USING mrgdml_hard_src s "
        "ON t.N_NATIONKEY = s.n_nationkey "  # (5) mixed-case key
    )
    # (1)+(2): qualified target + int literal -> double coercion
    execute_dml(
        spark,
        head + "WHEN MATCHED THEN UPDATE SET t.score = s.iv, "
        "t.n_name = concat(t.n_name, '_', s.tag)",
    )
    rows = {r.n_nationkey: (r.n_name, r.score) for r in t.read().collect()}
    assert rows[1][0].endswith("_one") and rows[1][1] == 7.0
    with pytest.raises(ValueError, match="does not name the target"):
        execute_dml(spark, head + "WHEN MATCHED THEN UPDATE SET s.tag = 'x'")
    # (2) string into int must raise, not silently NULL
    with pytest.raises(ValueError, match="not assignable"):
        execute_dml(
            spark, head + "WHEN MATCHED THEN UPDATE SET n_nationkey = s.tag"
        )
    with pytest.raises(ValueError, match="not assignable"):
        execute_dml(
            spark,
            head + "WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name) "
            "VALUES (s.tag, s.tag)",
        )
    # (3) unknown column raises with a source that matches NOTHING
    spark.createDataFrame(
        [(99999, "ghost", 0)], "n_nationkey int, tag string, iv int"
    ).createOrReplaceTempView("mrgdml_hard_miss")
    with pytest.raises(ValueError, match="unknown column"):
        execute_dml(
            spark,
            "MERGE INTO t_mrgdml_hard_unit t USING mrgdml_hard_miss s "
            "ON t.n_nationkey = s.n_nationkey "
            "WHEN MATCHED THEN UPDATE SET tpyo_col = 1 "
            "WHEN NOT MATCHED THEN INSERT (n_nationkey) VALUES (s.n_nationkey)",
        )
    # (4) insert-only merge, all keys already present: no-op
    v0 = t.current_version()
    spark.createDataFrame(
        [(1, "dup", 0)], "n_nationkey int, tag string, iv int"
    ).createOrReplaceTempView("mrgdml_hard_allmatch")
    res = execute_dml(
        spark,
        "MERGE INTO t_mrgdml_hard_unit t USING mrgdml_hard_allmatch s "
        "ON t.n_nationkey = s.n_nationkey "
        "WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name) "
        "VALUES (s.n_nationkey, s.tag)",
    )
    assert res["version"] == v0 == t.current_version()
    assert res["audit"]["dirs_rewritten"] == 0
    # (6) unknown USING source
    with pytest.raises(ValueError, match="unknown source"):
        execute_dml(
            spark,
            "MERGE INTO t_mrgdml_hard_unit t USING mrgdml_no_such_view s "
            "ON t.n_nationkey = s.n_nationkey WHEN MATCHED THEN DELETE",
        )
    t.drop()


def test_merge_dml_case_when_with_matched_named_column(spark, nation):
    """A source column literally named `matched` inside a CASE WHEN
    must not fake a clause boundary — the scanner tracks CASE/END
    nesting, not just the MATCHED lookahead."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_mrgdml_mcol_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_regionkey"))
    spark.createDataFrame(
        [(0, True), (1, False)], "n_nationkey int, matched boolean"
    ).createOrReplaceTempView("mrgdml_mcol_src")
    execute_dml(
        spark,
        "MERGE INTO t_mrgdml_mcol_unit t USING mrgdml_mcol_src s "
        "ON t.n_nationkey = s.n_nationkey "
        "WHEN MATCHED THEN UPDATE SET "
        "n_regionkey = CASE WHEN matched THEN 500 ELSE 600 END",
    )
    rows = {r.n_nationkey: r.n_regionkey for r in t.read().collect()}
    assert rows[0] == 500 and rows[1] == 600
    t.drop()


def test_merge_dml_qualified_when_clauses(spark, nation):
    """WHEN ... AND <cond> qualifiers (r11): (a) a qualified UPDATE
    touches only condition-TRUE matched rows, the rest pass through
    unchanged; (b) a qualified DELETE removes only qualifying matches;
    (c) a qualified NOT MATCHED INSERT drops non-qualifying source
    rows; (d) a NULL condition means no (SQL three-valued logic);
    (e) a CASE ... THEN inside the condition does not terminate it."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_mrgdml_qual_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name", "n_regionkey"))
    spark.createDataFrame(
        [(0, 10, "a"), (1, -1, "b"), (2, None, "c"),
         (777, 10, "new-hi"), (888, -5, "new-lo")],
        "n_nationkey int, sig int, tag string",
    ).createOrReplaceTempView("mrgdml_qual_src")
    execute_dml(
        spark,
        "MERGE INTO t_mrgdml_qual_unit t USING mrgdml_qual_src s "
        "ON t.n_nationkey = s.n_nationkey "
        "WHEN MATCHED AND s.sig > 0 THEN UPDATE SET n_name = s.tag "
        "WHEN NOT MATCHED AND s.sig > 0 THEN INSERT (n_nationkey, n_name) "
        "VALUES (s.n_nationkey, s.tag)",
    )
    rows = {r.n_nationkey: r.n_name for r in t.read().collect()}
    base = {r.n_nationkey: r.n_name for r in nation.collect()}
    assert rows[0] == "a"  # qualified update applied
    assert rows[1] == base[1]  # sig < 0: passes through unchanged
    assert rows[2] == base[2]  # NULL condition = no
    assert rows[777] == "new-hi" and 888 not in rows  # qualified insert
    assert len(rows) == nation.count() + 1

    # (b) qualified DELETE + (e) CASE ... THEN inside the condition
    execute_dml(
        spark,
        "MERGE INTO t_mrgdml_qual_unit t USING mrgdml_qual_src s "
        "ON t.n_nationkey = s.n_nationkey "
        "WHEN MATCHED AND (CASE WHEN s.sig > 0 THEN 1 ELSE 0 END) = 1 "
        "THEN DELETE",
    )
    rows2 = {r.n_nationkey for r in t.read().collect()}
    assert 0 not in rows2 and 777 not in rows2  # sig>0 matches deleted
    assert 1 in rows2 and 2 in rows2  # non-qualifying matches survive
    t.drop()


# ------------------------------------------------------- SQL INSERT INTO layer


def test_insert_dml_values_select_and_guards(spark, nation):
    """INSERT INTO (r11): multi-row VALUES, INSERT ... SELECT, a column
    list whose omitted columns land NULL, untyped NULL literals pinned
    to the table type, OCC append per statement, and the guard rails
    (count mismatch, unknown column, unknown statement, insert before
    create, type conformance via append's alignment)."""
    import pytest

    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_insdml_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name", "n_regionkey"))
    v0 = t.current_version()
    res = execute_dml(
        spark,
        "INSERT INTO t_insdml_unit VALUES (900, 'NINEHUNDRED', 4), "
        "(901, 'NINEOHONE', NULL)",
    )
    assert res["op"] == "insert" and res["version"] == v0 + 1
    nation.createOrReplaceTempView("insdml_nation_view")
    execute_dml(
        spark,
        "INSERT INTO t_insdml_unit (n_nationkey, n_name) "
        "SELECT n_nationkey + 1000, upper(n_name) FROM insdml_nation_view "
        "WHERE n_regionkey = 0",
    )
    rows = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in t.read().collect()}
    assert rows[900] == ("NINEHUNDRED", 4)
    assert rows[901] == ("NINEOHONE", None)  # untyped NULL literal
    base0 = [r.n_nationkey for r in nation.filter("n_regionkey = 0").collect()]
    assert base0 and all(rows[k + 1000][1] is None for k in base0)  # omitted col
    assert all(rows[k + 1000][0].isupper() for k in base0)
    assert len(rows) == nation.count() + 2 + len(base0)

    with pytest.raises(ValueError, match="supplies 2 values for 3"):
        execute_dml(spark, "INSERT INTO t_insdml_unit VALUES (1, 'x')")
    with pytest.raises(ValueError, match="unknown column"):
        execute_dml(
            spark, "INSERT INTO t_insdml_unit (nope) VALUES (1)"
        )
    with pytest.raises(ValueError, match="near 'SET'"):
        execute_dml(spark, "INSERT INTO t_insdml_unit SET x = 1")
    with pytest.raises(ValueError, match="cannot INSERT before create"):
        execute_dml(spark, "INSERT INTO t_insdml_ghost VALUES (1, 'x', 2)")
    with pytest.raises(ValueError, match="not assignable"):
        # string into int via append's conformance guard, before any write
        execute_dml(
            spark,
            "INSERT INTO t_insdml_unit (n_nationkey, n_name) "
            "VALUES ('oops', 'x')",
        )
    with pytest.raises(ValueError, match="mor_key applies to DELETE"):
        execute_dml(
            spark, "INSERT INTO t_insdml_unit VALUES (1, 'x', 2)",
            mor_key="n_nationkey",
        )
    t.drop()


def test_merge_dml_multiple_clauses_cdc_apply(spark, nation):
    """Multiple WHEN clauses, first-match-wins (r11): the canonical CDC
    apply statement — deletes fold in, updates replace, inserts land,
    and a D-op row with no target match is NOT inserted. Also checks
    clause ORDER matters (first match claims the row)."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_mrgdml_cdc_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))
    spark.createDataFrame(
        [
            (0, "x", "D"),        # matched delete
            (1, "ONE-NEW", "U"),  # matched update
            (555, "FIVES", "I"),  # not-matched insert
            (556, "ghost", "D"),  # not-matched D-op: must NOT insert
        ],
        "n_nationkey int, n_name string, op string",
    ).createOrReplaceTempView("mrgdml_cdc_src")
    execute_dml(
        spark,
        "MERGE INTO t_mrgdml_cdc_unit t USING mrgdml_cdc_src s "
        "ON t.n_nationkey = s.n_nationkey "
        "WHEN MATCHED AND s.op = 'D' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET n_name = s.n_name "
        "WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (n_nationkey, n_name) "
        "VALUES (s.n_nationkey, s.n_name)",
    )
    rows = {r.n_nationkey: r.n_name for r in t.read().collect()}
    assert 0 not in rows                      # deleted
    assert rows[1] == "ONE-NEW"               # updated
    assert rows[555] == "FIVES"               # inserted
    assert 556 not in rows                    # D-op not resurrected
    assert len(rows) == nation.count() - 1 + 1

    # first-match-wins: with the order FLIPPED, a row satisfying both
    # conditions is claimed by the first clause
    t2 = SnapshotTable(spark, "t_mrgdml_fmw_unit")
    t2.drop()
    t2.create(spark.createDataFrame([(1, "orig")], "k int, v string"))
    spark.createDataFrame(
        [(1, 5)], "k int, sig int"
    ).createOrReplaceTempView("mrgdml_fmw_src")
    execute_dml(
        spark,
        "MERGE INTO t_mrgdml_fmw_unit t USING mrgdml_fmw_src s ON t.k = s.k "
        "WHEN MATCHED AND s.sig > 0 THEN UPDATE SET v = 'first' "
        "WHEN MATCHED AND s.sig > 1 THEN UPDATE SET v = 'second'",
    )
    assert t2.read().first().v == "first"
    t.drop()
    t2.drop()


def test_merge_dml_star_forms_tolerate_extra_source_columns(spark, nation):
    """Delta SET * semantics (r11): the canonical CDC apply uses SET * /
    INSERT * over a source that carries an extra op column — the *
    expansion assigns only table columns, extras are ignored; a source
    MISSING a table column raises a clear error instead of an
    unresolved-reference crash."""
    import pytest

    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_mrgdml_star2_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))
    spark.createDataFrame(
        [(0, "x", "D"), (2, "TWO-NEW", "U"), (700, "SEVEN", "I"),
         (701, "ghost", "D")],
        "n_nationkey int, n_name string, op string",
    ).createOrReplaceTempView("mrgdml_star2_src")
    execute_dml(
        spark,
        "MERGE INTO t_mrgdml_star2_unit t USING mrgdml_star2_src s "
        "ON t.n_nationkey = s.n_nationkey "
        "WHEN MATCHED AND s.op = 'D' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *",
    )
    rows = {r.n_nationkey: r.n_name for r in t.read().collect()}
    assert 0 not in rows and rows[2] == "TWO-NEW" and rows[700] == "SEVEN"
    assert 701 not in rows
    assert len(rows) == nation.count() - 1 + 1
    assert t.read().columns == ["n_nationkey", "n_name"]  # op never lands

    spark.createDataFrame(
        [(3, "z")], "n_nationkey int, something_else string"
    ).createOrReplaceTempView("mrgdml_star2_bad")
    with pytest.raises(ValueError, match="missing \\['n_name'\\]"):
        execute_dml(
            spark,
            "MERGE INTO t_mrgdml_star2_unit t USING mrgdml_star2_bad s "
            "ON t.n_nationkey = s.n_nationkey "
            "WHEN MATCHED THEN UPDATE SET *",
        )
    t.drop()


# ---------------------------------------------------------------- SQL DDL


def test_ddl_ctas_partitioned_layout_and_pruned_read(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_ddl

    nation.createOrReplaceTempView("ddl_nation_src")
    execute_ddl(spark, "DROP TABLE IF EXISTS t_ddl_ctas")
    res = execute_ddl(
        spark,
        "CREATE TABLE t_ddl_ctas PARTITIONED BY (n_regionkey) AS "
        "SELECT n_nationkey, n_name, n_regionkey FROM ddl_nation_src "
        "WHERE n_nationkey < 20",
    )
    assert res["op"] == "create" and res["version"] == 1
    t = SnapshotTable(spark, "t_ddl_ctas")
    assert t.current_spec() == ["n_regionkey"]
    assert t.read().count() == nation.filter(F.col("n_nationkey") < 20).count()
    # partition pruning actually prunes: the pruned read lists a strict
    # subset and equals the filtered full read
    want = {r.n_nationkey for r in nation.filter(
        (F.col("n_regionkey") == 0) & (F.col("n_nationkey") < 20)).collect()}
    got = {r.n_nationkey for r in t.read_pruned("n_regionkey", 0).collect()}
    assert got == want
    # IF NOT EXISTS on an existing table is a version-preserving no-op
    res2 = execute_ddl(
        spark,
        "CREATE TABLE IF NOT EXISTS t_ddl_ctas AS SELECT * FROM ddl_nation_src",
    )
    assert res2["op"] == "create-noop" and res2["version"] == 1
    # plain CREATE on an existing table raises
    with pytest.raises(ValueError, match="already exists"):
        execute_ddl(
            spark, "CREATE TABLE t_ddl_ctas AS SELECT * FROM ddl_nation_src"
        )
    t.drop()


def test_ddl_add_column_is_metadata_only_and_reads_null(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_ddl

    t = SnapshotTable(spark, "t_ddl_addcol")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))
    v1_dirs = t._read_meta(1)["dirs"]
    res = execute_ddl(
        spark,
        "ALTER TABLE t_ddl_addcol ADD COLUMNS score DOUBLE, tags ARRAY<STRING>",
    )
    assert res["op"] == "add-column" and res["audit"]["dirs_rewritten"] == 0
    # metadata-only: every version shares the identical dir list
    assert t._read_meta(t.current_version())["dirs"] == v1_dirs
    out = t.read()
    assert out.columns == ["n_nationkey", "n_name", "score", "tags"]
    assert out.filter(F.col("score").isNull()).count() == nation.count()
    assert dict(out.dtypes)["tags"] == "array<string>"
    # time travel shows the schema AS OF the earlier version
    assert t.read(version=1).columns == ["n_nationkey", "n_name"]
    # the evolved column is immediately updatable (COW rewrite sees it)
    t.update_where(F.col("n_nationkey") < 5, {"score": F.lit(1.5)})
    assert t.read().filter(F.col("score") == 1.5).count() == 5
    assert t.read().filter(F.col("score").isNull()).count() == nation.count() - 5
    # and a predicate on it prunes correctly (NULL never matches)
    v, audit = t.delete_where_pruned(F.col("score") > 100.0)
    assert audit["dirs_rewritten"] == 0  # no row matches -> true no-op
    # duplicate name raises
    with pytest.raises(ValueError, match="already exists"):
        execute_ddl(spark, "ALTER TABLE t_ddl_addcol ADD COLUMN score INT")
    t.drop()


def test_ddl_partition_field_evolution_and_drop_table(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_ddl

    t = SnapshotTable(spark, "t_ddl_spec")
    t.drop()
    t.create(nation)
    execute_ddl(spark, "ALTER TABLE t_ddl_spec ADD PARTITION FIELD n_regionkey")
    assert t.current_spec() == ["n_regionkey"]
    with pytest.raises(ValueError, match="already a partition field"):
        execute_ddl(spark, "ALTER TABLE t_ddl_spec ADD PARTITION FIELD n_regionkey")
    execute_ddl(spark, "ALTER TABLE t_ddl_spec DROP PARTITION FIELD n_regionkey")
    assert t.current_spec() == []
    with pytest.raises(ValueError, match="not a partition field"):
        execute_ddl(spark, "ALTER TABLE t_ddl_spec DROP PARTITION FIELD n_name")
    # content untouched through the metadata-only spec changes
    assert t.read().count() == nation.count()
    execute_ddl(spark, "DROP TABLE t_ddl_spec")
    assert t.current_version() is None
    with pytest.raises(ValueError, match="does not exist"):
        execute_ddl(spark, "DROP TABLE t_ddl_spec")
    execute_ddl(spark, "DROP TABLE IF EXISTS t_ddl_spec")  # no raise


def test_ddl_grammar_guards(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_ddl, execute_sql

    # type lists whose types carry commas (decimal, map) come back whole
    t = SnapshotTable(spark, "t_ddl_types")
    t.drop()
    t.create(nation.select("n_nationkey"))
    execute_ddl(
        spark, "ALTER TABLE t_ddl_types ADD COLUMNS a decimal(12,2), b map<string,int>, c int"
    )
    assert [
        (r.col_name, r.data_type) for r in execute_sql(spark, "DESCRIBE t_ddl_types").collect()
    ][1:] == [("a", "decimal(12,2)"), ("b", "map<string,int>"), ("c", "int")]
    t.drop()
    with pytest.raises(ValueError, match="AS SELECT"):
        execute_ddl(spark, "CREATE TABLE t_x PARTITIONED BY (a)")
    with pytest.raises(ValueError, match="near 'DELETE'"):
        execute_ddl(spark, "CREATE TABLE t_x AS DELETE FROM y")
    with pytest.raises(ValueError, match="LOCATION is not supported"):
        execute_ddl(spark, "CREATE TABLE t_x USING parquet LOCATION '/x' AS SELECT 1 AS a")
    with pytest.raises(ValueError, match="unsupported SQL statement.*SetTableLocation"):
        execute_ddl(spark, "ALTER TABLE t_x SET LOCATION '/elsewhere'")
    # SET TBLPROPERTIES is a real statement now (r12) — it fails on the
    # missing table, not on the grammar
    with pytest.raises(ValueError, match="before create"):
        execute_ddl(spark, "ALTER TABLE t_x SET TBLPROPERTIES ('a'='b')")
    with pytest.raises(ValueError, match="near end of input"):
        execute_ddl(spark, "ANALYZE TABLE t_x")
    # a CTAS whose SELECT contains ' AS ' in a string literal still splits
    # at the TOP-LEVEL AS (the scanner is quote-aware)
    nation.createOrReplaceTempView("ddl_nation_src")
    execute_ddl(spark, "DROP TABLE IF EXISTS t_ddl_quote")
    execute_ddl(
        spark,
        "CREATE TABLE t_ddl_quote AS SELECT n_nationkey, ' AS ' AS lit "
        "FROM ddl_nation_src",
    )
    t = SnapshotTable(spark, "t_ddl_quote")
    assert t.read().filter(F.col("lit") == " AS ").count() == nation.count()
    t.drop()


def test_ddl_ctas_with_cte_body(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_ddl

    nation.createOrReplaceTempView("ddl_nation_src")
    execute_ddl(spark, "DROP TABLE IF EXISTS t_ddl_cte")
    execute_ddl(
        spark,
        "CREATE TABLE t_ddl_cte AS WITH big AS "
        "(SELECT * FROM ddl_nation_src WHERE n_nationkey >= 10) "
        "SELECT n_nationkey, n_name FROM big",
    )
    t = SnapshotTable(spark, "t_ddl_cte")
    assert t.read().count() == nation.filter(F.col("n_nationkey") >= 10).count()
    t.drop()


def test_ddl_drop_column_is_metadata_only_and_guards(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_ddl

    t = SnapshotTable(spark, "t_ddl_dropcol")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name", "n_regionkey"))
    v1_dirs = t._read_meta(1)["dirs"]
    res = execute_ddl(spark, "ALTER TABLE t_ddl_dropcol DROP COLUMN n_name")
    assert res["op"] == "drop-column" and res["audit"]["dirs_rewritten"] == 0
    assert t._read_meta(t.current_version())["dirs"] == v1_dirs
    assert t.read().columns == ["n_nationkey", "n_regionkey"]
    # time travel still projects the dropped column with its values
    assert t.read(version=1).filter(F.col("n_name").isNotNull()).count() == \
        nation.count()
    # re-adding a dropped name is refused (old files would resurrect)
    with pytest.raises(ValueError, match="previously\\s+dropped"):
        t.add_column("n_name", "string")
    # a genuinely new name is fine
    t.add_column("n_fresh", "string")
    # guards: unknown column, partition field, last column
    with pytest.raises(ValueError, match="no column"):
        t.drop_column("nope")
    t.drop()
    t2 = SnapshotTable(spark, "t_ddl_dropcol2")
    t2.drop()
    t2.create(nation.select("n_nationkey", "n_name", "n_regionkey"),
              partition_by=["n_regionkey"])
    with pytest.raises(ValueError, match="partition field"):
        t2.drop_column("n_regionkey")
    t2.drop_column("n_nationkey")
    with pytest.raises(ValueError, match="last column"):
        # the spec field is untouchable, so n_name is the last DROPPABLE
        # column — but the guard is about the schema: shrink to one
        SnapshotTable(spark, "t_ddl_dropcol2b").drop()
        t2b = SnapshotTable(spark, "t_ddl_dropcol2b")
        t2b.create(nation.select("n_nationkey"))
        t2b.drop_column("n_nationkey")
    t2.drop()
    SnapshotTable(spark, "t_ddl_dropcol2b").drop()
    # guard: a live MOR equality-delete key cannot be dropped
    t3 = SnapshotTable(spark, "t_ddl_dropcol3")
    t3.drop()
    t3.create(nation.select("n_nationkey", "n_name"))
    t3.delete_where_mor(F.col("n_nationkey") < 3, key="n_nationkey")
    with pytest.raises(ValueError, match="merge-on-read"):
        t3.drop_column("n_nationkey")
    t3.drop()


def test_execute_sql_dispatch_and_multi_column_prevalidation(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    nation.createOrReplaceTempView("ddl_nation_src")
    execute_sql(spark, "DROP TABLE IF EXISTS t_sql_dispatch")
    res = execute_sql(
        spark,
        "CREATE TABLE t_sql_dispatch AS "
        "SELECT n_nationkey, n_name FROM ddl_nation_src",
    )
    assert res["op"] == "create"
    res = execute_sql(
        spark,
        "INSERT INTO t_sql_dispatch (n_nationkey, n_name) VALUES (900, 'X')",
    )
    assert res["op"] == "insert"
    res = execute_sql(
        spark, "DELETE FROM t_sql_dispatch WHERE n_nationkey = 900"
    )
    assert res["op"] == "delete"
    t = SnapshotTable(spark, "t_sql_dispatch")
    assert t.read().count() == nation.count()
    # SELECT passes through to spark.sql and returns a DataFrame
    t.read().createOrReplaceTempView("t_sql_dispatch_v")
    df = execute_sql(
        spark, "SELECT count(*) AS n FROM t_sql_dispatch_v"
    )
    assert df.collect()[0].n == nation.count()
    # ANALYZE routes to DDL now (r12); without COMPUTE STATISTICS Spark's
    # parser refuses it, and a statement kind the engine does not handle
    # says unsupported SQL
    with pytest.raises(ValueError, match="near end of input"):
        execute_sql(spark, "ANALYZE TABLE t_sql_dispatch")
    with pytest.raises(ValueError, match="unsupported SQL"):
        execute_sql(spark, "EXPLAIN SELECT 1")
    with pytest.raises(ValueError, match="mor_key applies"):
        execute_sql(spark, "DROP TABLE t_sql_dispatch", mor_key="n_nationkey")
    # multi-column ADD fails fast BEFORE any commit on a bad later type
    v_before = t.current_version()
    with pytest.raises(Exception):
        execute_sql(
            spark,
            "ALTER TABLE t_sql_dispatch ADD COLUMNS ok_col INT, bad_col NOT_A_TYPE",
        )
    assert t.current_version() == v_before  # nothing half-applied
    with pytest.raises(ValueError, match="duplicate column"):
        execute_sql(
            spark, "ALTER TABLE t_sql_dispatch ADD COLUMNS a INT, a STRING"
        )
    with pytest.raises(ValueError, match="duplicate column"):
        execute_sql(spark, "ALTER TABLE t_sql_dispatch DROP COLUMNS n_name, n_name")
    assert t.current_version() == v_before
    execute_sql(spark, "DROP TABLE t_sql_dispatch")


def test_every_ddl_grammar_form_returns_its_op(spark):
    """Every form in execute_ddl's grammar, the engine extensions Spark's
    grammar rejects included, runs through execute_sql and returns its
    op."""
    from empdia_iceberg_spark.tables.ddl import execute_sql

    root = scratch_root()
    for n in ("t_form", "t_form2", "t_form_cols"):
        SnapshotTable(spark, n, root).drop()
    spark.range(6).selectExpr(
        "id AS k", "CAST(id % 2 AS INT) AS g", "CAST(id AS STRING) AS s",
        "TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, CAST(id AS INT)) AS ts",
    ).createOrReplaceTempView("form_src")
    procedures = [
        "CALL compact('t_form')",
        "CALL compact_minor(table => 't_form')",
        "CALL compute_file_stats('t_form')",
        "CALL rewrite_position_deletes('t_form')",
        "CALL remove_orphan_files('t_form', older_than_sec => 0)",
        "CALL rollback_to_version('t_form', 2)",
        "CALL expire_snapshots('t_form', keep_last => 3)",
    ]
    forms = [
        ("CREATE TABLE t_form PARTITIONED BY (g) AS SELECT * FROM form_src", "create"),
        ("CREATE TABLE IF NOT EXISTS t_form AS SELECT * FROM form_src", "create-noop"),
        ("CREATE OR REPLACE TABLE t_form PARTITIONED BY (days(ts), bucket(2, k)) "
         "AS SELECT * FROM form_src", "replace"),
        ("CREATE TABLE t_form_cols (a int NOT NULL, b string DEFAULT 'x') USING "
         "snapshot PARTITIONED BY (b) TBLPROPERTIES ('k' = 'v')", "create"),
        ("CREATE OR REPLACE TABLE t_form_cols (a bigint)", "create"),
        ("TRUNCATE TABLE t_form_cols", "truncate"),
        ("ALTER TABLE t_form ADD COLUMNS x int, y smallint DEFAULT 1", "add-column"),
        ("ALTER TABLE t_form DROP COLUMN x", "drop-column"),
        ("ALTER TABLE t_form RENAME COLUMN y TO z", "rename-column"),
        ("ALTER TABLE t_form ALTER COLUMN z TYPE int", "alter-column-type"),
        ("ALTER TABLE t_form ALTER COLUMN z SET DATA TYPE bigint", "alter-column-type"),
        ("ALTER TABLE t_form ALTER COLUMN k SET NOT NULL", "set-not-null"),
        ("ALTER TABLE t_form ALTER COLUMN k DROP NOT NULL", "drop-not-null"),
        ("ALTER TABLE t_form SET TBLPROPERTIES ('k' = 'v', 'j' = 'w')", "set-properties"),
        ("ALTER TABLE t_form UNSET TBLPROPERTIES ('k')", "unset-properties"),
        ("ALTER TABLE t_form ADD CONSTRAINT pos CHECK (k >= 0)", "add-constraint"),
        ("ALTER TABLE t_form DROP CONSTRAINT pos", "drop-constraint"),
        ("ALTER TABLE t_form CREATE BRANCH dev", "create-branch"),
        ("ALTER TABLE t_form CREATE TAG first AS OF VERSION 1", "create-tag"),
        ("ALTER TABLE t_form DROP BRANCH dev", "drop-branch"),
        ("ALTER TABLE t_form DROP TAG first", "drop-tag"),
        ("ALTER TABLE t_form ADD PARTITION FIELD g", "evolve-partitioning"),
        ("ALTER TABLE t_form REPLACE PARTITION FIELD g WITH truncate(2, s)",
         "evolve-partitioning"),
        ("ALTER TABLE t_form DROP PARTITION FIELD truncate(2, s)", "evolve-partitioning"),
        ("ANALYZE TABLE t_form COMPUTE STATISTICS", "analyze"),
        ("ANALYZE TABLE t_form COMPUTE STATISTICS FOR COLUMNS k, g", "analyze"),
        ("CREATE VIEW v_form AS SELECT g FROM t_form", "create-view"),
        ("CREATE OR REPLACE VIEW v_form AS SELECT k FROM t_form", "replace-view"),
        ("DROP VIEW v_form", "drop-view"),
        ("DROP VIEW IF EXISTS v_form", "drop-view-noop"),
        ("OPTIMIZE t_form", "optimize"),
        ("OPTIMIZE t_form ZORDER BY (k, g)", "optimize-zorder"),
        ("VACUUM t_form RETAIN 50 VERSIONS", "vacuum"),
        *((p, "call-" + p.split("(")[0][len("CALL "):]) for p in procedures),
        ("ALTER TABLE t_form RENAME TO t_form2", "rename-table"),
        ("DROP TABLE t_form2", "drop"),
        ("DROP TABLE IF EXISTS t_form2", "drop"),
        ("DROP TABLE t_form_cols", "drop"),
    ]
    for statement, op in forms:
        assert execute_sql(spark, statement, root)["op"] == op, statement


def test_unknown_procedure_names_every_procedure(spark):
    import re

    from empdia_iceberg_spark.tables.ddl import execute_ddl, execute_sql

    procedures = ["rollback_to_version", "expire_snapshots", "compact",
                  "compact_minor", "compute_file_stats",
                  "rewrite_position_deletes", "remove_orphan_files"]
    with pytest.raises(ValueError, match="unknown procedure 'nope'") as e:
        execute_sql(spark, "CALL nope('t')", scratch_root())
    for proc in procedures:
        assert re.search(rf"\b{proc}\b", str(e.value)), proc
        assert f"CALL {proc}(" in execute_ddl.__doc__, proc


def test_with_insert_is_refused_and_leaves_the_snapshot_alone(spark):
    """`WITH ... INSERT` would run through Spark as an insert into the
    auto-registered view over a committed snapshot's files; it is
    refused, naming the spelling that commits a new version."""
    from empdia_iceberg_spark.tables.ddl import execute_sql

    root = scratch_root()
    t = SnapshotTable(spark, "t_with_insert", root)
    t.drop()
    t.create(spark.range(3).selectExpr("id AS k"))
    with pytest.raises(ValueError, match=r"INSERT INTO t WITH q AS \(\.\.\.\) SELECT"):
        execute_sql(
            spark,
            "WITH q AS (SELECT 10L AS k) INSERT INTO t_with_insert SELECT * FROM q",
            root,
        )
    # the other statements the grammar builds around an insert: a
    # multi-insert and EXECUTE IMMEDIATE
    for statement in (
        "FROM (SELECT 10L AS k) s INSERT INTO t_with_insert SELECT * "
        "INSERT INTO t_with_insert SELECT *",
        "EXECUTE IMMEDIATE 'INSERT INTO t_with_insert VALUES (10L)'",
    ):
        with pytest.raises(ValueError, match="unsupported SQL statement"):
            execute_sql(spark, statement, root)
    assert t.current_version() == 1
    assert sorted(r.k for r in t.read(version=1).collect()) == [0, 1, 2]
    res = execute_sql(
        spark, "INSERT INTO t_with_insert WITH q AS (SELECT 10L AS k) SELECT * FROM q", root
    )
    assert (res["op"], res["version"]) == ("insert", 2)
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 2, 10]
    t.drop()


def test_reserved_property_keys_round_trip_without_touching_the_session(spark):
    """Spark reserves owner, location and provider as TBLPROPERTIES
    keys; the engine's properties are user metadata, so they round-trip
    through CREATE, SET, SHOW CREATE and UNSET, while the user's
    session conf and active session stay as they were."""
    from empdia_iceberg_spark.tables.ddl import execute_sql

    conf = "spark.sql.legacy.notReserveProperties"
    conf_before = spark.conf.get(conf, None)
    sessions = spark._jvm.org.apache.spark.sql.SparkSession
    active_before = sessions.getActiveSession()
    root = scratch_root()
    t = SnapshotTable(spark, "t_reserved_keys", root)
    t.drop()
    execute_sql(
        spark,
        "CREATE TABLE t_reserved_keys (k int) TBLPROPERTIES "
        "('owner' = 'data''eng', 'location' = 'l', 'provider' = 'p', 'x' = 'y')",
        root,
    )
    assert t.properties() == {"owner": "data'eng", "location": "l", "provider": "p", "x": "y"}
    execute_sql(spark, "ALTER TABLE t_reserved_keys SET TBLPROPERTIES ('owner' = 'ops')", root)
    assert t.properties()["owner"] == "ops"
    stmt = execute_sql(spark, "SHOW CREATE TABLE t_reserved_keys", root).collect()[0][0]
    assert "'owner' = 'ops'" in stmt
    execute_sql(
        spark, "ALTER TABLE t_reserved_keys UNSET TBLPROPERTIES ('owner', 'location')", root
    )
    assert t.properties() == {"provider": "p", "x": "y"}
    assert spark.conf.get(conf, None) == conf_before
    active_after = sessions.getActiveSession()
    assert active_after.isDefined() == active_before.isDefined()
    if active_before.isDefined():
        assert active_after.get().equals(active_before.get())
    t.drop()


def test_recovered_reserved_key_parse_logs_nothing(spark):
    """pyspark logs an ERROR record with the JVM stack for each
    ParseException it converts. A reserved-key statement that the
    engine then parses succeeds without one; a statement Spark rejects
    (here a duplicate key; plain syntax errors carry no query context
    and pyspark logs none for them) still raises and logs its record."""
    import logging

    from pyspark.logger import PySparkLogger

    from empdia_iceberg_spark.tables.ddl import execute_sql

    records: list = []
    handler = logging.Handler()
    handler.emit = records.append
    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    logger.addHandler(handler)
    root = scratch_root()
    t = SnapshotTable(spark, "t_quiet_parse", root)
    t.drop()
    try:
        execute_sql(spark, "CREATE TABLE t_quiet_parse (k int)", root)
        execute_sql(spark, "ALTER TABLE t_quiet_parse SET TBLPROPERTIES ('owner'='x')", root)
        assert t.properties()["owner"] == "x"
        assert records == []
        with pytest.raises(ValueError, match="DUPLICATE_KEY"):
            execute_sql(
                spark, "ALTER TABLE t_quiet_parse SET TBLPROPERTIES ('a'='1', 'a'='2')", root
            )
        assert len(records) == 1 and records[0].levelno == logging.ERROR
    finally:
        logger.removeHandler(handler)
        t.drop()


# ------------------------------------------------------- SQL time travel


def test_time_travel_sql_version_and_timestamp(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    t = SnapshotTable(spark, "t_asof_unit")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 10))
    t.append(nation.filter(F.col("n_nationkey") >= 10))
    ts = {m["version"]: m["ts"] for m in t.snapshots()}
    mid = (ts[1] + ts[2]) / 2.0
    n1 = nation.filter(F.col("n_nationkey") < 10).count()
    n_all = nation.count()
    # VERSION AS OF / Iceberg SYSTEM_VERSION spelling / FOR prefix
    rows = execute_sql(
        spark,
        "SELECT (SELECT count(*) FROM t_asof_unit VERSION AS OF 1) AS a, "
        "(SELECT count(*) FROM t_asof_unit FOR SYSTEM_VERSION AS OF 2) AS b",
    ).collect()
    assert (rows[0].a, rows[0].b) == (n1, n_all)
    # TIMESTAMP AS OF between commits resolves to the earlier snapshot;
    # both the bare-epoch and ISO spellings resolve identically
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(mid, tz=timezone.utc).isoformat()
    for literal in (f"{mid}", f"'{iso}'"):
        got = execute_sql(
            spark,
            f"SELECT count(*) AS n FROM t_asof_unit TIMESTAMP AS OF {literal}",
        ).collect()[0].n
        assert got == n1
    # a probe before the earliest commit refuses (Iceberg semantics)
    with pytest.raises(ValueError, match="no snapshot committed"):
        execute_sql(
            spark,
            f"SELECT count(*) FROM t_asof_unit TIMESTAMP AS OF {ts[1] - 60.0}",
        )
    # unknown table refuses
    with pytest.raises(ValueError, match="not found"):
        execute_sql(spark, "SELECT * FROM no_such_tbl VERSION AS OF 1")
    # literal masking: 'AS OF' inside a string never triggers a rewrite
    got = execute_sql(
        spark, "SELECT 'x VERSION AS OF 1' AS s"
    ).collect()[0].s
    assert got == "x VERSION AS OF 1"
    t.drop()


def test_time_travel_in_dml_source(spark, nation):
    """Time travel composes with DML: an INSERT body can read an older
    snapshot of ANOTHER table (the pre-dispatch rewrite runs before the
    statement is routed)."""
    from empdia_iceberg_spark.tables.ddl import execute_sql

    src = SnapshotTable(spark, "t_asof_src")
    dst = SnapshotTable(spark, "t_asof_dst")
    src.drop(), dst.drop()
    src.create(nation.select("n_nationkey", "n_name").filter(F.col("n_nationkey") < 5))
    src.append(nation.select("n_nationkey", "n_name").filter(F.col("n_nationkey") >= 5))
    dst.create(nation.select("n_nationkey", "n_name").limit(0))
    execute_sql(
        spark,
        "INSERT INTO t_asof_dst SELECT * FROM t_asof_src VERSION AS OF 1",
    )
    assert dst.read().count() == 5
    src.drop(), dst.drop()


# ------------------------------------------------------ OPTIMIZE / VACUUM


def test_optimize_zorder_disjoint_file_envelopes(spark, monkeypatch):
    """OPTIMIZE ZORDER writes files with DISJOINT Morton-key ranges
    (repartitionByRange) — the property file skipping rests on."""
    from empdia_iceberg_spark.operators.layout import morton_spark
    from empdia_iceberg_spark.tables import manager as mgr
    from empdia_iceberg_spark.tables.ddl import execute_sql

    from empdia_iceberg_spark.sources.tables import load

    orders = load(spark, SF_DIR, "orders")
    t = SnapshotTable(spark, "t_opt_zorder")
    t.drop()
    t.create(orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"))
    monkeypatch.setattr(mgr, "TARGET_FILE_BYTES", 16 * 1024)
    res = execute_sql(spark, "OPTIMIZE t_opt_zorder ZORDER BY (o_custkey, o_orderdate)")
    assert res["op"] == "optimize-zorder"
    df = t.read()
    assert df.count() == orders.count()
    # recompute the key exactly as the rewrite did and check per-file
    # envelopes never overlap
    day = F.datediff(F.to_date(F.col("o_orderdate")), F.to_date(F.lit("1970-01-01")))
    cust = F.col("o_custkey").cast("bigint")
    lo = df.agg(F.min(cust), F.min(day), F.max(cust), F.max(day)).first()
    bits = max(1, max((lo[2] - lo[0]).bit_length(), (lo[3] - lo[1]).bit_length()))
    key = morton_spark(cust - F.lit(lo[0]), day - F.lit(lo[1]), bits=bits)
    envs = (
        df.withColumn("_k", key)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("_k").alias("lo"), F.max("_k").alias("hi"))
        .collect()
    )
    assert len(envs) > 1, "monkeypatched target size should force multiple files"
    spans = sorted((r.lo, r.hi) for r in envs)
    for (alo, ahi), (blo, bhi) in zip(spans, spans[1:]):
        assert ahi < blo, f"overlapping file envelopes: {(alo, ahi)} vs {(blo, bhi)}"
    t.drop()


def test_optimize_compacts_and_folds_mor_deletes(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    t = SnapshotTable(spark, "t_opt_mor")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 10).select("n_nationkey", "n_name"))
    t.append(nation.filter(F.col("n_nationkey") >= 10).select("n_nationkey", "n_name"))
    t.delete_where_mor(F.col("n_nationkey") == 3, key="n_nationkey")
    res = execute_sql(spark, "OPTIMIZE t_opt_mor")
    assert res["audit"]["dirs_in"] == 2 and res["audit"]["dirs_out"] == 1
    assert res["audit"]["delete_files_folded"] == 1
    meta = t._read_meta(t.current_version())
    assert meta["delete_dirs"] == []  # folded in, not carried
    keys = {r.n_nationkey for r in t.read().collect()}
    assert 3 not in keys and len(keys) == nation.count() - 1
    t.drop()


def test_vacuum_retain_and_guards(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    t = SnapshotTable(spark, "t_vac_unit")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 5))
    t.append(nation.filter((F.col("n_nationkey") >= 5) & (F.col("n_nationkey") < 10)))
    t.append(nation.filter(F.col("n_nationkey") >= 10))
    res = execute_sql(spark, "VACUUM t_vac_unit RETAIN 2 VERSIONS")
    assert res["audit"] == {"versions_expired": 1, "versions_left": 2}
    assert t.read().count() == nation.count()  # head snapshot intact
    with pytest.raises(ValueError, match="does not exist"):
        execute_sql(spark, "VACUUM no_such_table")
    with pytest.raises(ValueError, match="at least 1"):
        execute_sql(spark, "VACUUM t_vac_unit RETAIN 0 VERSIONS")
    with pytest.raises(ValueError, match="exactly 2 columns"):
        execute_sql(spark, "OPTIMIZE t_vac_unit ZORDER BY (n_nationkey)")
    with pytest.raises(ValueError, match="unsupported type"):
        execute_sql(spark, "OPTIMIZE t_vac_unit ZORDER BY (n_name, n_nationkey)")
    t.drop()


# ------------------------------------------------------- RENAME COLUMN


def test_rename_column_metadata_only_across_generations(spark, nation):
    """Rename is one metadata commit; files before and after it carry
    the SAME physical column name and union through the logical name."""
    from empdia_iceberg_spark.tables.ddl import execute_ddl

    t = SnapshotTable(spark, "t_rename_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name").filter(F.col("n_nationkey") < 10))
    v1_dirs = t._read_meta(1)["dirs"]
    res = execute_ddl(spark, "ALTER TABLE t_rename_unit RENAME COLUMN n_name TO nation_name")
    assert res["audit"]["dirs_rewritten"] == 0
    assert t._read_meta(t.current_version())["dirs"] == v1_dirs
    # old files read under the NEW logical name, values intact
    got = {r.n_nationkey: r.nation_name for r in t.read().collect()}
    want = {r.n_nationkey: r.n_name for r in nation.filter(F.col("n_nationkey") < 10).collect()}
    assert got == want
    # post-rename append addresses the logical name but files store the
    # PHYSICAL one
    t.append(
        nation.filter(F.col("n_nationkey") >= 10)
        .select("n_nationkey", F.col("n_name").alias("nation_name"))
    )
    newest = t._read_meta(t.current_version())["dirs"][-1]
    raw = spark.read.parquet(newest).columns
    assert "n_name" in raw and "nation_name" not in raw
    assert t.read().count() == nation.count()
    # time travel shows the schema AS OF v1 (old logical name)
    assert "n_name" in t.read(version=1).columns
    # compaction bakes the mapping out: rewritten files carry logical names
    t.compact()
    newest = t._read_meta(t.current_version())["dirs"][-1]
    raw = spark.read.parquet(newest).columns
    assert "nation_name" in raw and "n_name" not in raw
    got = {r.n_nationkey: r.nation_name for r in t.read().collect()}
    assert got == {r.n_nationkey: r.n_name for r in nation.collect()}
    t.drop()


def test_merge_on_renamed_key_uses_physical_envelopes(spark, nation):
    """MERGE keyed on a renamed column: the envelope scan must read the
    PHYSICAL name from raw files and pruning must still work."""
    t = SnapshotTable(spark, "t_rename_merge")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name").filter(F.col("n_nationkey") < 10))
    t.append(nation.select("n_nationkey", "n_name").filter(F.col("n_nationkey") >= 10))
    t.rename_column("n_nationkey", "nk")
    src = nation.select(
        F.col("n_nationkey").alias("nk"),
        F.upper("n_name").alias("n_name"),
    ).filter(F.col("nk") < 3)
    version, audit = t.merge(src, key="nk")
    assert audit["dirs_rewritten"] == 1 and audit["dirs_reused"] == 1
    got = {r.nk: r.n_name for r in t.read().collect()}
    for r in nation.collect():
        assert got[r.n_nationkey] == (r.n_name.upper() if r.n_nationkey < 3 else r.n_name)
    t.drop()


def test_rename_column_guards(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_ddl

    t = SnapshotTable(spark, "t_rename_guards")
    t.drop()
    t.create(
        nation.select("n_nationkey", "n_name", "n_regionkey"),
        partition_by=["n_regionkey"],
    )
    with pytest.raises(ValueError, match="partition field"):
        t.rename_column("n_regionkey", "rk")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="collides"):
        t.rename_column("n_name", "n_nationkey")
    t.rename_column("n_name", "nation_name")
    # the PHYSICAL name of a renamed column stays reserved: rename-onto
    # and add-column both refuse it (files carry its bytes)
    with pytest.raises(ValueError, match="collides"):
        t.rename_column("n_nationkey", "n_name")
    with pytest.raises(ValueError, match="physical name"):
        t.add_column("n_name", "string")
    with pytest.raises(ValueError, match="delete files"):
        t2 = SnapshotTable(spark, "t_rename_guards_mor")
        t2.drop()
        t2.create(nation.select("n_nationkey", "n_name"))
        t2.delete_where_mor(F.col("n_nationkey") == 1, key="n_nationkey")
        try:
            t2.rename_column("n_nationkey", "nk")
        finally:
            t2.drop()
    t.drop()


def test_rename_to_dropped_name_never_resurrects_bytes(spark, nation):
    """Logical names never touch file bytes: renaming onto a
    historically-DROPPED name must surface the renamed column's values,
    not the dropped column's old bytes."""
    t = SnapshotTable(spark, "t_rename_dropped")
    t.drop()
    t.create(
        nation.select(
            "n_nationkey",
            F.lit("OLD-BYTES").alias("label"),
            F.col("n_name").alias("fresh"),
        )
    )
    t.drop_column("label")
    t.rename_column("fresh", "label")
    got = {r.n_nationkey: r.label for r in t.read().collect()}
    want = {r.n_nationkey: r.n_name for r in nation.collect()}
    assert got == want  # n_name values, never 'OLD-BYTES'
    t.drop()


def test_rename_projection_preserves_pushdown_and_pruning(spark, nation):
    """Scale guarantee of the rename read model: a filter/projection on
    the LOGICAL name must reach the parquet scan as pushed filters and
    a pruned ReadSchema on the PHYSICAL name — the alias projection
    costs one codegen-fused Project, never a barrier."""
    t = SnapshotTable(spark, "t_rename_pushdown")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name", "n_regionkey"))
    t.rename_column("n_nationkey", "nk")
    df = t.read().filter(F.col("nk") < 5).select("nk", "n_name")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LessThan(n_nationkey,5)" in plan  # pushed, physical name
    assert "ReadSchema: struct<n_nationkey:int,n_name:string>" in plan  # pruned
    assert "Exchange" not in plan
    t.drop()


def test_ref_ddl_create_drop_guards(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_ddl, execute_sql

    t = SnapshotTable(spark, "t_refs_ddl")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 10))
    t.append(nation.filter(F.col("n_nationkey") >= 10))
    execute_ddl(spark, "ALTER TABLE t_refs_ddl CREATE TAG first AS OF VERSION 1")
    assert t.get_ref("first") == 1
    # ref name resolves in VERSION AS OF
    n = execute_sql(
        spark, "SELECT count(*) AS n FROM t_refs_ddl VERSION AS OF 'first'"
    ).collect()[0].n
    assert n == 10
    # CREATE is CAS-against-absence: re-creating refuses
    with pytest.raises(ValueError, match="already exists"):
        execute_ddl(spark, "ALTER TABLE t_refs_ddl CREATE TAG first")
    # unknown ref in a read refuses
    with pytest.raises(ValueError, match="no ref"):
        execute_sql(spark, "SELECT * FROM t_refs_ddl VERSION AS OF 'nope'")
    execute_ddl(spark, "ALTER TABLE t_refs_ddl DROP TAG first")
    with pytest.raises(ValueError, match="no ref"):
        execute_ddl(spark, "ALTER TABLE t_refs_ddl DROP TAG first")
    t.drop()


# --------------------------------------------- MERGE: NOT MATCHED BY SOURCE


def test_merge_not_matched_by_source_semantics_and_pruning(spark, nation):
    """Full-sync MERGE: matched rows take the source, unmatched target
    rows are claimed first-match-wins by two qualified BY SOURCE
    clauses. Rewrites stay pruned: the source confines to dir 1 and the
    qualifiers to dir 3, so dir 2 carries by reference."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_nmbs_unit")
    t.drop()
    sel = nation.select("n_nationkey", "n_name")
    t.create(sel.filter(F.col("n_nationkey") < 10))
    t.append(sel.filter((F.col("n_nationkey") >= 10) & (F.col("n_nationkey") < 20)))
    t.append(sel.filter(F.col("n_nationkey") >= 20))
    nation.select("n_nationkey", F.upper("n_name").alias("n_name")).filter(
        F.col("n_nationkey") < 5
    ).createOrReplaceTempView("nmbs_unit_src")
    res = execute_dml(
        spark,
        """
        MERGE INTO t_nmbs_unit t USING nmbs_unit_src s
        ON t.n_nationkey = s.n_nationkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE AND t.n_nationkey >= 20
             AND t.n_nationkey % 2 = 0 THEN DELETE
        WHEN NOT MATCHED BY SOURCE AND t.n_nationkey >= 20
             THEN UPDATE SET n_name = concat(t.n_name, '_S')
        """,
    )
    assert res["audit"] == {"dirs_rewritten": 2, "dirs_reused": 1}
    rows = {r.n_nationkey: r.n_name for r in t.read().collect()}
    for r in nation.collect():
        k, v = r.n_nationkey, r.n_name
        if k < 5:
            assert rows[k] == v.upper()  # matched: source wins
        elif k < 20:
            assert rows[k] == v  # unmatched, unclaimed: pass through
        elif k % 2 == 0:
            assert k not in rows  # first BY SOURCE clause: deleted
        else:
            assert rows[k] == v + "_S"  # second clause: marked
    t.drop()


def test_merge_by_source_empty_source_is_not_a_noop(spark, nation):
    """`WHEN NOT MATCHED BY SOURCE THEN DELETE` against an EMPTY source
    is the canonical truncate-to-source sync: every row is unmatched."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_nmbs_empty")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))
    nation.select("n_nationkey", "n_name").limit(0).createOrReplaceTempView(
        "nmbs_empty_src"
    )
    execute_dml(
        spark,
        "MERGE INTO t_nmbs_empty t USING nmbs_empty_src s "
        "ON t.n_nationkey = s.n_nationkey "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
    )
    assert t.read().count() == 0
    t.drop()


def test_merge_by_source_parse_guards(spark, nation):
    from empdia_iceberg_spark.tables.dml import execute_dml

    t = SnapshotTable(spark, "t_nmbs_guards")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))
    nation.select("n_nationkey", "n_name").createOrReplaceTempView("nmbs_g_src")
    head = (
        "MERGE INTO t_nmbs_guards t USING nmbs_g_src s "
        "ON t.n_nationkey = s.n_nationkey "
    )
    with pytest.raises(ValueError, match="near '\\*'"):
        execute_dml(spark, head + "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *")
    with pytest.raises(ValueError, match="near 'BY'"):
        execute_dml(spark, head + "WHEN MATCHED BY SOURCE THEN DELETE")
    with pytest.raises(ValueError, match="near 'INSERT'"):
        execute_dml(
            spark, head + "WHEN NOT MATCHED BY SOURCE THEN INSERT *"
        )
    with pytest.raises(ValueError, match="may omit"):
        execute_dml(
            spark,
            head
            + "WHEN MATCHED THEN UPDATE SET * "
            + "WHEN NOT MATCHED BY SOURCE THEN DELETE "
            + "WHEN NOT MATCHED BY SOURCE AND t.n_nationkey > 3 THEN DELETE",
        )
    # BY TARGET is the explicit spelling of plain NOT MATCHED
    execute_dml(
        spark,
        head + "WHEN NOT MATCHED BY TARGET THEN INSERT "
        "(n_nationkey, n_name) VALUES (s.n_nationkey, s.n_name)",
    )
    assert t.read().count() == nation.count()
    t.drop()


# ------------------------------------- statement corners: the full-replace set


def test_truncate_insert_overwrite_replace(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    execute_sql(spark, "DROP TABLE IF EXISTS t_corners")
    nation.createOrReplaceTempView("corners_src")
    execute_sql(
        spark,
        "CREATE TABLE t_corners AS SELECT n_nationkey, n_name "
        "FROM corners_src WHERE n_nationkey < 10",
    )
    t = SnapshotTable(spark, "t_corners")
    # INSERT OVERWRITE replaces content in one commit, history intact
    execute_sql(
        spark,
        "INSERT OVERWRITE t_corners SELECT n_nationkey, n_name "
        "FROM corners_src WHERE n_nationkey >= 10",
    )
    assert t.read().count() == nation.filter(F.col("n_nationkey") >= 10).count()
    assert t.read(version=1).count() == 10  # time travel to pre-overwrite
    # partial column list on OVERWRITE refused (would shrink the schema)
    with pytest.raises(ValueError, match="every table column"):
        execute_sql(
            spark,
            "INSERT OVERWRITE t_corners (n_nationkey) "
            "SELECT n_nationkey FROM corners_src",
        )
    # TRUNCATE: O(1) metadata commit, empty read, schema/spec survive
    res = execute_sql(spark, "TRUNCATE TABLE t_corners")
    assert res["op"] == "truncate"
    assert t.read().count() == 0
    assert t.read().columns == ["n_nationkey", "n_name"]
    execute_sql(
        spark,
        "INSERT INTO t_corners SELECT n_nationkey, n_name FROM corners_src",
    )
    assert t.read().count() == nation.count()
    # CREATE OR REPLACE: new schema AND new partition spec, history intact
    v_before = t.current_version()
    res = execute_sql(
        spark,
        "CREATE OR REPLACE TABLE t_corners PARTITIONED BY (n_regionkey) AS "
        "SELECT n_nationkey, n_regionkey FROM corners_src",
    )
    assert res["op"] == "replace" and res["version"] == v_before + 1
    assert t.read().columns == ["n_nationkey", "n_regionkey"]
    assert t.current_spec() == ["n_regionkey"]
    assert t.read(version=v_before).columns == ["n_nationkey", "n_name"]
    with pytest.raises(ValueError, match="near 'NOT'"):
        execute_sql(
            spark,
            "CREATE OR REPLACE TABLE IF NOT EXISTS t_corners AS "
            "SELECT 1 AS a",
        )
    t.drop()


def test_metadata_tables_resolution_and_passthrough(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    t = SnapshotTable(spark, "t_meta_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))
    t.append(nation.select("n_nationkey", "n_name"))
    rows = execute_sql(
        spark, "SELECT version, op, n_data_dirs FROM t_meta_unit.snapshots"
    ).collect()
    assert [(r.version, r.op, r.n_data_dirs) for r in rows] == [
        (1, "create", 1), (2, "append", 2),
    ]
    files = execute_sql(
        spark, "SELECT count(*) AS n, sum(n_files) AS f FROM t_meta_unit.files"
    ).collect()[0]
    assert (files.n, files.f) == (2, 2)
    # a dotted ref whose head is NOT a snapshot table passes through:
    # here `s` is a view alias and `refs` is an ordinary column
    spark.createDataFrame([(1, 7)], "id int, refs int").createOrReplaceTempView(
        "meta_passthrough_v"
    )
    got = execute_sql(
        spark, "SELECT s.refs FROM meta_passthrough_v s"
    ).collect()[0].refs
    assert got == 7
    t.drop()


def test_append_cannot_resurrect_renamed_physical_name(spark, nation):
    """Additive append evolution must refuse a new column named like a
    renamed column's PHYSICAL name — the committed schema would hold two
    fields sharing one file column (r11 review finding)."""
    t = SnapshotTable(spark, "t_rename_append_guard")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))
    t.rename_column("n_name", "nation_name")
    bad = nation.select(
        "n_nationkey",
        F.col("n_name").alias("nation_name"),
        F.lit("x").alias("n_name"),  # collides with the physical name
    )
    for path in (t.append, t.append_checked):
        with pytest.raises(ValueError, match="physical name"):
            path(bad)
    # a fresh non-colliding column still evolves additively
    t.append(
        nation.select(
            "n_nationkey",
            F.col("n_name").alias("nation_name"),
            F.lit("y").alias("extra"),
        )
    )
    assert set(t.read().columns) == {"n_nationkey", "nation_name", "extra"}
    t.drop()


def test_optimize_zorder_empty_list_refused(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    t = SnapshotTable(spark, "t_opt_empty")
    t.drop()
    t.create(nation)
    with pytest.raises(ValueError, match="names no columns"):
        execute_sql(spark, "OPTIMIZE t_opt_empty ZORDER BY ()")
    t.drop()


def test_show_tables_and_describe_guards(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    t = SnapshotTable(spark, "t_show_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))
    rows = {r.table_name: r.version for r in execute_sql(spark, "SHOW TABLES").collect()}
    assert rows.get("t_show_unit") == 1
    with pytest.raises(ValueError, match="does not exist"):
        execute_sql(spark, "DESCRIBE TABLE no_such_t")
    with pytest.raises(ValueError, match="missing 'FUNCTIONS'"):
        execute_sql(spark, "SHOW SNAPSHOTS")
    # DESC shorthand
    cols = [r.col_name for r in execute_sql(spark, "DESC t_show_unit").collect()]
    assert cols == ["n_nationkey", "n_name"]
    t.drop()


def test_alter_column_type_metadata_only_widening(spark, nation):
    """ALTER COLUMN TYPE: one metadata commit, zero rewrites; old files'
    narrow physical encoding reads under the widened committed type, a
    later append conforms to the wide type, and time travel shows the
    schema AS OF each version."""
    from empdia_iceberg_spark.tables.ddl import execute_ddl

    t = SnapshotTable(spark, "t_altertype_unit")
    t.drop()
    t.create(
        nation.filter(F.col("n_nationkey") < 10).select(
            F.col("n_nationkey").cast("int").alias("nk"),
            F.col("n_regionkey").cast("float").alias("rk"),
            F.lit("1.25").cast("decimal(5,2)").alias("amt"),
        )
    )
    v1_dirs = t._read_meta(1)["dirs"]
    for stmt in (
        "ALTER TABLE t_altertype_unit ALTER COLUMN nk TYPE BIGINT",
        "ALTER TABLE t_altertype_unit ALTER COLUMN rk TYPE DOUBLE",
        "ALTER TABLE t_altertype_unit ALTER COLUMN amt SET DATA TYPE DECIMAL(12,2)",
    ):
        res = execute_ddl(spark, stmt)
        assert res["op"] == "alter-column-type"
        assert res["audit"]["dirs_rewritten"] == 0
    assert t._read_meta(t.current_version())["dirs"] == v1_dirs
    got = dict(t.read().dtypes)
    assert got == {"nk": "bigint", "rk": "double", "amt": "decimal(12,2)"}
    # values from the narrow files are intact under the wide reader
    vals = {r.nk: (r.rk, r.amt) for r in t.read().collect()}
    for r in nation.filter(F.col("n_nationkey") < 10).collect():
        assert vals[r.n_nationkey][0] == float(r.n_regionkey)
    # append conforms to the widened committed schema
    t.append(
        nation.filter(F.col("n_nationkey") >= 10).select(
            F.col("n_nationkey").cast("bigint").alias("nk"),
            F.col("n_regionkey").cast("double").alias("rk"),
            F.lit("2.50").cast("decimal(12,2)").alias("amt"),
        )
    )
    newest = t._read_meta(t.current_version())["dirs"][-1]
    assert dict(spark.read.parquet(newest).dtypes)["nk"] == "bigint"
    assert t.read().count() == nation.count()
    # time travel: v1 still reads with the narrow schema
    assert dict(t.read(version=1).dtypes)["nk"] == "int"
    t.drop()


def test_alter_column_type_guards(spark, nation):
    """Narrowings, lateral changes, scale changes, no-ops, partition
    fields, and MOR delete keys are all refused with clear messages."""
    t = SnapshotTable(spark, "t_altertype_guards")
    t.drop()
    t.create(
        nation.select(
            F.col("n_nationkey").cast("int").alias("nk"),
            F.col("n_regionkey").cast("int").alias("rk"),
            F.col("n_name").alias("nm"),
            F.lit("1.00").cast("decimal(10,2)").alias("amt"),
        ),
        partition_by=["rk"],
    )
    for col, typ in (
        ("nk", "short"),           # narrowing
        ("nk", "string"),          # lateral
        ("amt", "decimal(10,4)"),  # scale change
        ("amt", "decimal(8,2)"),   # precision shrink
        ("nk", "int"),             # no-op
        ("nm", "double"),          # lateral
    ):
        with pytest.raises(ValueError, match="promote"):
            t.alter_column_type(col, typ)
    # a LEGAL widening still refuses on a partition-spec field
    with pytest.raises(ValueError, match="partition field"):
        t.alter_column_type("rk", "bigint")
    with pytest.raises(ValueError, match="no column"):
        t.alter_column_type("missing", "bigint")
    t.drop()
    # MOR delete-key refusal
    t2 = SnapshotTable(spark, "t_altertype_mor")
    t2.drop()
    t2.create(nation.select(F.col("n_nationkey").cast("int").alias("nk"), "n_name"))
    t2.delete_where_mor(F.col("nk") < 2, key="nk")
    with pytest.raises(ValueError, match="merge-on-read"):
        t2.alter_column_type("nk", "bigint")
    t2.drop()


def test_raw_dtypes_names_a_dir_without_parquet(spark, tmp_path):
    """The alter-type story's footer audit fails loudly, naming the dir,
    when a data dir holds no parquet file (was a bare IndexError)."""
    from empdia_iceberg_spark.tables.ddl import _raw_dtypes

    spark.range(3).write.parquet(str(tmp_path / "full"))
    assert _raw_dtypes(str(tmp_path / "full")) == {"id": "bigint"}
    (tmp_path / "empty").mkdir()
    with pytest.raises(ValueError, match="no parquet file in data dir .*empty"):
        _raw_dtypes(str(tmp_path / "empty"))


def test_rename_table_moves_history_refs_and_deletes(spark, nation):
    """RENAME TO: the catalog move carries versions, refs, MOR delete
    dirs, and data-dir references (absolute-path prefix rewrite); reads,
    time travel, and ref reads all work under the new name and the old
    name is gone."""
    from empdia_iceberg_spark.tables.ddl import execute_sql

    for nm in ("t_rt_unit", "t_rt_unit2"):
        SnapshotTable(spark, nm).drop()
    t = SnapshotTable(spark, "t_rt_unit")
    t.create(nation.filter(F.col("n_nationkey") < 10))
    t.append(nation.filter(F.col("n_nationkey") >= 10))
    t.set_ref("stable", 1, expect=None)
    t.delete_where_mor(F.col("n_nationkey") == 0, key="n_nationkey")
    res = execute_sql(spark, "ALTER TABLE t_rt_unit RENAME TO t_rt_unit2")
    assert res["op"] == "rename-table"
    assert res["audit"]["renamed_from"] == "t_rt_unit"
    t2 = SnapshotTable(spark, "t_rt_unit2")
    assert t2.read().count() == nation.count() - 1  # MOR delete applies
    assert t2.read(version=1).count() == 10         # time travel intact
    assert t2.refs()["stable"] == 1                 # refs traveled
    assert SnapshotTable(spark, "t_rt_unit").current_version() is None
    # every recorded dir actually lives under the new base
    meta = t2._read_meta(t2.current_version())
    for d in meta["dirs"] + [dd["dir"] for dd in meta.get("delete_dirs", [])]:
        assert d.startswith(t2.base)
    t2.drop()


def test_rename_table_guards(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_ddl

    for nm in ("t_rt_g1", "t_rt_g2"):
        SnapshotTable(spark, nm).drop()
    t = SnapshotTable(spark, "t_rt_g1")
    t.create(nation.limit(3))
    SnapshotTable(spark, "t_rt_g2").create(nation.limit(2))
    with pytest.raises(ValueError, match="target exists"):
        t.rename_to("t_rt_g2")
    with pytest.raises(ValueError, match="invalid table name"):
        t.rename_to("bad-name!")
    with pytest.raises(ValueError, match="RENAME before create"):
        SnapshotTable(spark, "t_rt_missing").rename_to("t_rt_other")
    for nm in ("t_rt_g1", "t_rt_g2"):
        SnapshotTable(spark, nm).drop()


def test_show_create_table_pins_schema_and_spec(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_ddl, execute_sql

    SnapshotTable(spark, "t_sct_unit").drop()
    nation.createOrReplaceTempView("t_sct_src")
    execute_ddl(
        spark,
        "CREATE TABLE t_sct_unit PARTITIONED BY (n_regionkey) AS "
        "SELECT n_nationkey, n_regionkey, n_name FROM t_sct_src",
    )
    execute_ddl(spark, "ALTER TABLE t_sct_unit ALTER COLUMN n_nationkey TYPE BIGINT")
    stmt = execute_sql(spark, "SHOW CREATE TABLE t_sct_unit").collect()[0][0]
    assert "n_nationkey bigint" in stmt          # promoted type shows
    assert "PARTITIONED BY (n_regionkey)" in stmt
    assert stmt.startswith("CREATE TABLE t_sct_unit (")
    with pytest.raises(ValueError, match="does not exist"):
        execute_sql(spark, "SHOW CREATE TABLE t_sct_nope")
    SnapshotTable(spark, "t_sct_unit").drop()


def test_properties_ride_commits_and_time_travel(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_ddl

    t = SnapshotTable(spark, "t_props_unit")
    t.drop()
    t.create(nation.limit(5))
    t.set_properties({"owner": "a", "tier": "bronze"})
    t.append(nation.filter(F.col("n_nationkey") >= 5))  # ordinary write carries props
    assert t.properties() == {"owner": "a", "tier": "bronze"}
    t.set_properties({"tier": "silver"})  # merge-over: owner survives
    assert t.properties() == {"owner": "a", "tier": "silver"}
    t.unset_properties(["owner"])
    assert t.properties() == {"tier": "silver"}
    # AS OF: the pre-unset version still shows owner
    assert t._read_meta(3).get("properties") == {"owner": "a", "tier": "bronze"}
    with pytest.raises(ValueError, match="no such table propert"):
        t.unset_properties(["nope"])
    res = execute_ddl(spark, "ALTER TABLE t_props_unit SET TBLPROPERTIES ('x' = '1')")
    assert res["audit"]["properties"]["x"] == "1"
    with pytest.raises(ValueError, match="TBLPROPERTIES"):
        execute_ddl(spark, "ALTER TABLE t_props_unit SET TBLPROPERTIES (bad)")
    t.drop()


def test_check_constraints_enforced_on_every_write_path(spark, nation):
    t = SnapshotTable(spark, "t_cons_unit")
    t.drop()
    t.create(
        nation.select(
            "n_nationkey", F.col("n_regionkey").cast("double").alias("score")
        )
    )
    t.add_constraint("score_nonneg", "score >= 0.0")
    bad = spark.createDataFrame([(100, -1.0)], "n_nationkey int, score double")
    good = spark.createDataFrame([(100, 1.0)], "n_nationkey int, score double")
    with pytest.raises(ValueError, match="score_nonneg"):
        t.append(bad)
    with pytest.raises(ValueError, match="score_nonneg"):
        t.append_checked(bad)
    with pytest.raises(ValueError, match="score_nonneg"):
        t.merge(bad, key="n_nationkey")
    with pytest.raises(ValueError, match="score_nonneg"):
        t.update_where(F.col("n_nationkey") == 0, {"score": F.lit(-5.0)})
    with pytest.raises(ValueError, match="score_nonneg"):
        t.overwrite(bad)
    v = t.current_version()
    t.append(good)  # compliant writes land
    assert t.current_version() == v + 1
    # NULL check passes (SQL three-valued CHECK)
    t.append(spark.createDataFrame([(101, None)], "n_nationkey int, score double"))
    # a constraint existing rows violate refuses with a sample row
    with pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("tiny", "score < 0.5")
    t.drop_constraint("score_nonneg")
    t.append(bad)  # enforcement gone
    with pytest.raises(ValueError, match="no constraint"):
        t.drop_constraint("score_nonneg")
    t.drop()


def test_constraints_enforced_on_branch_append(spark, nation):
    t = SnapshotTable(spark, "t_cons_branch")
    t.drop()
    t.create(
        nation.select(
            "n_nationkey", F.col("n_regionkey").cast("double").alias("score")
        )
    )
    t.add_constraint("nonneg", "score >= 0.0")
    t.set_ref("dev", t.current_version(), expect=None)
    bad = spark.createDataFrame([(200, -2.0)], "n_nationkey int, score double")
    with pytest.raises(ValueError, match="nonneg"):
        t.branch_append("dev", bad)
    t.drop()


def test_call_procedures_and_guards(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    t = SnapshotTable(spark, "t_call_unit")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 10))
    t.append(nation.filter(F.col("n_nationkey") >= 10))
    res = execute_sql(spark, "CALL rollback_to_version('t_call_unit', 1)")
    assert res["op"] == "call-rollback_to_version"
    assert t.read().count() == 10
    res = execute_sql(spark, "CALL compact('t_call_unit')")
    assert res["op"] == "call-compact"
    res = execute_sql(spark, "CALL expire_snapshots('t_call_unit', keep_last => 2)")
    assert res["audit"]["versions_left"] == 2
    with pytest.raises(ValueError, match="unknown procedure"):
        execute_sql(spark, "CALL frobnicate('t_call_unit')")
    with pytest.raises(ValueError, match="missing argument"):
        execute_sql(spark, "CALL rollback_to_version('t_call_unit')")
    with pytest.raises(ValueError, match="positional CALL argument"):
        execute_sql(spark, "CALL expire_snapshots(keep_last => 1, 't_call_unit')")
    with pytest.raises(ValueError, match="string.*or integer"):
        execute_sql(spark, "CALL compact(t_call_unit)")
    t.drop()


def test_analyze_stats_semantics_and_guards(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    t = SnapshotTable(spark, "t_an_unit")
    t.drop()
    t.create(
        nation.select(
            "n_nationkey", "n_name",
            F.when(F.col("n_nationkey") < 3, None)
            .otherwise(F.col("n_regionkey")).alias("rk"),
        )
    )
    res = execute_sql(
        spark, "ANALYZE TABLE t_an_unit COMPUTE STATISTICS FOR COLUMNS rk"
    )
    st = res["audit"]["stats"]
    assert st["row_count"] == nation.count()
    assert st["columns"]["rk"]["null_count"] == 3
    assert st["columns"]["rk"]["ndv"] == nation.select("n_regionkey").distinct().count()
    # table-level only (no FOR COLUMNS) -> one _table_ row in t.stats
    execute_sql(spark, "ANALYZE TABLE t_an_unit COMPUTE STATISTICS")
    rows = execute_sql(spark, "SELECT * FROM t_an_unit.stats").collect()
    assert [r.col_name for r in rows] == ["_table_"]
    assert rows[0].row_count == nation.count() and rows[0].ndv is None
    with pytest.raises(ValueError, match="unknown column"):
        execute_sql(
            spark, "ANALYZE TABLE t_an_unit COMPUTE STATISTICS FOR COLUMNS nope"
        )
    with pytest.raises(ValueError, match="near end of input"):
        execute_sql(
            spark, "ANALYZE TABLE t_an_unit COMPUTE STATISTICS FOR COLUMNS "
        )
    t.drop()


def test_partitions_metadata_table(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    t = SnapshotTable(spark, "t_parts_meta")
    t.drop()
    t.create(nation, partition_by=["n_regionkey"])
    t.append(nation.limit(3))  # current spec still n_regionkey
    rows = execute_sql(
        spark,
        "SELECT * FROM t_parts_meta.partitions ORDER BY partition",
    ).collect()
    vals = {r.partition for r in rows}
    want = {
        f"n_regionkey={v[0]}" for v in nation.select("n_regionkey").distinct().collect()
    }
    assert vals == want
    assert all(r.spec == "n_regionkey" and r.n_files >= 1 for r in rows)
    # files metadata table and partitions table agree on byte totals
    files_bytes = sum(
        r.size_bytes
        for r in execute_sql(spark, "SELECT * FROM t_parts_meta.files").collect()
    )
    assert sum(r.size_bytes for r in rows) == files_bytes
    t.drop()


def test_views_lifecycle_resolution_and_guards(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    root = scratch_root()
    t = SnapshotTable(spark, "nation_vt", root)
    t.drop()
    execute_sql(spark, "DROP VIEW IF EXISTS small_nations", root=root)
    execute_sql(spark, "DROP VIEW IF EXISTS tiny_nations", root=root)
    t.create(nation)
    # bare snapshot-table references resolve without manual temp views
    assert (
        execute_sql(spark, "SELECT count(*) AS n FROM nation_vt", root=root)
        .collect()[0].n == nation.count()
    )
    execute_sql(
        spark,
        "CREATE VIEW small_nations AS SELECT n_nationkey, n_name "
        "FROM nation_vt WHERE n_nationkey < 10",
        root=root,
    )
    assert (
        execute_sql(spark, "SELECT count(*) AS n FROM small_nations", root=root)
        .collect()[0].n == 10
    )
    # views stack (a view over a view), resolved recursively
    execute_sql(
        spark,
        "CREATE VIEW tiny_nations AS SELECT * FROM small_nations "
        "WHERE n_nationkey < 3",
        root=root,
    )
    assert (
        execute_sql(spark, "SELECT count(*) AS n FROM tiny_nations", root=root)
        .collect()[0].n == 3
    )
    # views are LAZY over table state: an append shows through
    t.append(nation.select(
        (F.col("n_nationkey") + 100).alias("n_nationkey"),
        "n_name", "n_regionkey").limit(1))
    assert (
        execute_sql(spark, "SELECT count(*) AS n FROM small_nations", root=root)
        .collect()[0].n == 10
    )
    # OR REPLACE versions the metadata; SHOW CREATE VIEW shows the latest
    execute_sql(
        spark,
        "CREATE OR REPLACE VIEW small_nations AS SELECT n_nationkey "
        "FROM nation_vt WHERE n_nationkey < 5",
        root=root,
    )
    stmt = execute_sql(spark, "SHOW CREATE VIEW small_nations", root=root).collect()[0][0]
    assert "n_nationkey < 5" in stmt and stmt.startswith("CREATE VIEW small_nations AS")
    views = {r.view_name: r.version
             for r in execute_sql(spark, "SHOW VIEWS", root=root).collect()}
    assert views["small_nations"] == 2 and views["tiny_nations"] == 1
    # guards
    with pytest.raises(ValueError, match="already exists"):
        execute_sql(
            spark,
            "CREATE VIEW small_nations AS SELECT 1 AS x",
            root=root,
        )
    with pytest.raises(ValueError, match="cannot reference itself"):
        execute_sql(
            spark,
            "CREATE OR REPLACE VIEW loopy AS SELECT * FROM loopy",
            root=root,
        )
    with pytest.raises(ValueError, match="a TABLE of that name exists"):
        execute_sql(spark, "CREATE VIEW nation_vt AS SELECT 1 AS x", root=root)
    with pytest.raises(ValueError, match="a VIEW of that name exists"):
        execute_sql(
            spark,
            "CREATE TABLE small_nations AS SELECT 1 AS x",
            root=root,
        )
    with pytest.raises(Exception):  # analyzer refuses a bad body NOW
        execute_sql(
            spark, "CREATE VIEW bad_v AS SELECT no_such_col FROM nation_vt",
            root=root,
        )
    execute_sql(spark, "DROP VIEW tiny_nations", root=root)
    with pytest.raises(ValueError, match="does not exist"):
        execute_sql(spark, "DROP VIEW tiny_nations", root=root)
    execute_sql(spark, "DROP VIEW IF EXISTS tiny_nations", root=root)
    execute_sql(spark, "DROP VIEW small_nations", root=root)
    t.drop()


def test_auto_materialized_views_track_state_and_drops(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    root = scratch_root()
    t = SnapshotTable(spark, "t_fresh_vt", root)
    t.drop()
    t.create(nation.limit(5))
    n1 = execute_sql(spark, "SELECT count(*) AS n FROM t_fresh_vt", root=root).collect()[0].n
    t.append(nation.limit(25).subtract(nation.limit(5)))
    n2 = execute_sql(spark, "SELECT count(*) AS n FROM t_fresh_vt", root=root).collect()[0].n
    assert (n1, n2) == (5, 25), "auto temp view must refresh per statement"
    # precedence: a user temp view that PREDATES any engine use of the
    # name wins permanently; one registered after is refreshed over
    # (indistinguishable from our own registration — documented)
    t2 = SnapshotTable(spark, "t_fresh_user_first", root)
    t2.drop()
    t2.create(nation.limit(7))
    nation.limit(2).createOrReplaceTempView("t_fresh_user_first")
    n_user = execute_sql(
        spark, "SELECT count(*) AS n FROM t_fresh_user_first", root=root
    ).collect()[0].n
    assert n_user == 2, "pre-existing user temp view must win"
    spark.catalog.dropTempView("t_fresh_user_first")
    t2.drop()
    nation.limit(2).createOrReplaceTempView("t_fresh_vt")
    n3 = execute_sql(spark, "SELECT count(*) AS n FROM t_fresh_vt", root=root).collect()[0].n
    assert n3 == 25, "auto-materialized name keeps refreshing (documented)"
    t.drop()
    import pytest as _pt

    # after DROP TABLE our registration stops resolving
    with _pt.raises(Exception):
        execute_sql(spark, "SELECT count(*) AS n FROM t_fresh_vt", root=root).collect()


def test_show_tblproperties_statement(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    t = SnapshotTable(spark, "t_showprops")
    t.drop()
    t.create(nation.limit(3))
    t.set_properties({"owner": "me", "a": "1"})
    rows = execute_sql(spark, "SHOW TBLPROPERTIES t_showprops").collect()
    assert [(r.key, r.value) for r in rows] == [("a", "1"), ("owner", "me")]
    with pytest.raises(ValueError, match="does not exist"):
        execute_sql(spark, "SHOW TBLPROPERTIES t_nope")
    t.drop()


def test_execute_sql_script_splits_and_fails_fast(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql_script

    root = scratch_root()
    SnapshotTable(spark, "t_script_unit", root).drop()
    nation.createOrReplaceTempView("t_script_src")
    out = execute_sql_script(
        spark,
        """
        DROP TABLE IF EXISTS t_script_unit;
        CREATE TABLE t_script_unit AS
            SELECT n_nationkey, 'a;b' AS tag FROM t_script_src;
        ALTER TABLE t_script_unit SET TBLPROPERTIES ('k' = 'v;w');
        SELECT count(*) AS n FROM t_script_unit
        """,
        root=root,
    )
    assert len(out) == 4  # the ';' inside literals did not split
    assert out[3].collect()[0].n == nation.count()
    t = SnapshotTable(spark, "t_script_unit", root)
    assert t.properties() == {"k": "v;w"}
    # fail-fast: statement 2 errors, statement 1 already applied
    with pytest.raises(ValueError, match="no column"):
        execute_sql_script(
            spark,
            "ALTER TABLE t_script_unit SET TBLPROPERTIES ('x' = '1'); "
            "ALTER TABLE t_script_unit DROP COLUMN nope",
            root=root,
        )
    assert t.properties()["x"] == "1"
    t.drop()


# ------------------------------------------------------ CDC changes() (r13)


def _change_counts(df):
    return {
        (r._commit_version, r._change_type): r.n
        for r in df.groupBy("_commit_version", "_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_changes_per_commit_types(spark, nation):
    """insert from appends, delete from CoW delete, empty diff from
    compaction, MOR delete keys — each commit contributes exactly its
    own change rows, file-pruned."""
    t = SnapshotTable(spark, "t_changes_unit")
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 10))  # v1: 10 inserts
    t.append(nation.filter(F.col("n_nationkey") >= 10))  # v2: 15 inserts
    t.delete_where(F.col("n_regionkey") == 0)  # v3: CoW delete (5 rows)
    t.compact(target_partitions=1)  # v4: rewrite, zero row changes
    t.delete_where_mor(F.col("n_regionkey") == 1, key="n_nationkey")  # v5: MOR
    c = _change_counts(t.changes(1))
    assert c == {
        (1, "insert"): 10,
        (2, "insert"): 15,
        (3, "delete"): 5,
        (5, "delete"): 5,
    }
    # range bounds are inclusive and start after v1 skips its inserts
    c2 = _change_counts(t.changes(2, 3))
    assert c2 == {(2, "insert"): 15, (3, "delete"): 5}
    # rows carry the real column values (spot-check one deleted key)
    deleted = {
        r.n_nationkey
        for r in t.changes(3, 3).filter(F.col("_change_type") == "delete").collect()
    }
    assert deleted == {
        r.n_nationkey
        for r in nation.filter(F.col("n_regionkey") == 0).collect()
    }
    t.drop()


def test_changes_update_fold_with_key(spark, nation):
    """With a key, a same-commit delete+insert pair folds into
    update_preimage/update_postimage (Delta CDF shape); unpaired rows
    stay insert/delete."""
    t = SnapshotTable(spark, "t_changes_fold_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))
    source = spark.createDataFrame(
        [(0, "RENAMED"), (999, "NEWLAND")], "n_nationkey int, n_name string"
    )
    t.merge(source, key="n_nationkey")  # v2: 1 update + 1 insert
    c = _change_counts(t.changes(2, key="n_nationkey"))
    assert c == {
        (2, "insert"): 1,
        (2, "update_preimage"): 1,
        (2, "update_postimage"): 1,
    }
    pre = t.changes(2, key="n_nationkey").filter(
        F.col("_change_type") == "update_preimage"
    ).collect()
    post = t.changes(2, key="n_nationkey").filter(
        F.col("_change_type") == "update_postimage"
    ).collect()
    assert pre[0].n_name != "RENAMED" and post[0].n_name == "RENAMED"
    # without the key the same commit reads as insert+delete pairs
    c2 = _change_counts(t.changes(2))
    assert c2 == {(2, "insert"): 2, (2, "delete"): 1}
    t.drop()


def test_changes_schema_evolution_aligns_to_end_version(spark, nation):
    """Rows from commits before an ADD COLUMN surface the new column as
    NULL — output follows the END version's committed schema."""
    t = SnapshotTable(spark, "t_changes_evo_unit")
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))  # v1
    t.add_column("tier", "string")  # v2: metadata-only
    t.append(
        spark.createDataFrame(
            [(900, "X", "gold")], "n_nationkey int, n_name string, tier string"
        )
    )  # v3
    ch = t.changes(1)
    assert "tier" in ch.columns
    v1rows = ch.filter(F.col("_commit_version") == 1).collect()
    assert all(r.tier is None for r in v1rows)
    assert (
        ch.filter(F.col("_commit_version") == 3).collect()[0].tier == "gold"
    )
    # the metadata-only v2 contributes no change rows
    assert ch.filter(F.col("_commit_version") == 2).count() == 0
    t.drop()


def test_changes_validates_range_and_expiry(spark, nation):
    t = SnapshotTable(spark, "t_changes_guard_unit")
    t.drop()
    t.create(nation)
    with pytest.raises(ValueError, match="invalid change range"):
        t.changes(0)
    with pytest.raises(ValueError, match="invalid change range"):
        t.changes(2)
    with pytest.raises(ValueError, match="invalid change range"):
        t.changes(1, 5)
    t.drop()


def test_table_changes_tvf_sql_spelling(spark, nation):
    """The table_changes('t', v1[, v2[, key]]) TVF resolves inside any
    reading statement, literal-masked."""
    from empdia_iceberg_spark.tables.ddl import execute_sql

    root = scratch_root()
    t = SnapshotTable(spark, "t_changes_tvf_unit", root)
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 10))
    t.append(nation.filter(F.col("n_nationkey") >= 10))
    out = execute_sql(
        spark,
        "SELECT _change_type, count(*) AS n FROM "
        "table_changes('t_changes_tvf_unit', 2) GROUP BY 1",
        root=root,
    ).collect()
    assert [(r._change_type, r.n) for r in out] == [("insert", 15)]
    # a literal mentioning the TVF must NOT trigger resolution
    lit = execute_sql(
        spark, "SELECT 'table_changes(''x'', 1)' AS s", root=root
    ).collect()
    assert lit[0].s == "table_changes('x', 1)"
    with pytest.raises(ValueError, match="not found"):
        execute_sql(
            spark,
            "SELECT * FROM table_changes('no_such_table_xyz', 1)",
            root=root,
        )
    t.drop()


# ------------------------------------- MERGE WITH SCHEMA EVOLUTION (r13)


def test_merge_with_schema_evolution_insert_and_update(spark, nation):
    """Delta's `MERGE WITH SCHEMA EVOLUTION INTO`: source-only columns
    auto-ADD via the metadata-only evolve before the clause engine runs;
    pre-evolution rows surface them as NULL."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    root = scratch_root()
    t = SnapshotTable(spark, "t_merge_evo_unit", root)
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))
    spark.createDataFrame(
        [(0, "RENAMED", "gold"), (999, "NEWLAND", "silver")],
        "n_nationkey int, n_name string, tier string",
    ).createOrReplaceTempView("evo_src")
    res = execute_dml(
        spark,
        """MERGE WITH SCHEMA EVOLUTION INTO t_merge_evo_unit t
           USING evo_src s ON t.n_nationkey = s.n_nationkey
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""",
        root=root,
    )
    assert res["evolved_columns"] == ["tier"]
    rows = {r.n_nationkey: (r.n_name, r.tier) for r in t.read().collect()}
    assert rows[0] == ("RENAMED", "gold")       # updated with the new column
    assert rows[999] == ("NEWLAND", "silver")   # inserted with the new column
    assert rows[1][1] is None                   # untouched row: NULL tier
    # the evolve was metadata-only: one add-column commit + the merge
    assert [s["op"] for s in t.snapshots()] == ["create", "add-column", "merge"]
    t.drop()


def test_merge_without_evolution_clause_still_refuses(spark, nation):
    """Without the clause the SET * source-coverage guard stands — the
    evolved path must be opt-in, not a silent schema change."""
    from empdia_iceberg_spark.tables.dml import execute_dml

    root = scratch_root()
    t = SnapshotTable(spark, "t_merge_noevo_unit", root)
    t.drop()
    t.create(nation.select("n_nationkey", "n_name", "n_regionkey"))
    # source MISSING a table column: SET * must refuse with or without
    # the evolution clause (evolution adds source-only columns, it never
    # waives the source-coverage rule)
    spark.createDataFrame(
        [(0, "RENAMED")], "n_nationkey int, n_name string"
    ).createOrReplaceTempView("noevo_src")
    for head in ("MERGE INTO", "MERGE WITH SCHEMA EVOLUTION INTO"):
        with pytest.raises(Exception):
            execute_dml(
                spark,
                f"""{head} t_merge_noevo_unit t
                   USING noevo_src s ON t.n_nationkey = s.n_nationkey
                   WHEN MATCHED THEN UPDATE SET *""",
                root=root,
            )
    # and a source with an EXTRA column, without the clause, must not
    # grow the schema (extras are legal for SET * and simply ignored)
    spark.createDataFrame(
        [(0, "RENAMED", 1, "oops")],
        "n_nationkey int, n_name string, n_regionkey int, extra string",
    ).createOrReplaceTempView("noevo_extra_src")
    execute_dml(
        spark,
        """MERGE INTO t_merge_noevo_unit t
           USING noevo_extra_src s ON t.n_nationkey = s.n_nationkey
           WHEN MATCHED THEN UPDATE SET *""",
        root=root,
    )
    assert "extra" not in t.read().columns
    t.drop()


# --------------------------------------- NOT NULL + column DEFAULT (r13)


def test_set_not_null_validates_and_enforces(spark, nation):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    root = scratch_root()
    t = SnapshotTable(spark, "t_nn_unit", root)
    t.drop()
    t.create(nation.select("n_nationkey", "n_name"))
    execute_sql(
        spark, "ALTER TABLE t_nn_unit ALTER COLUMN n_name SET NOT NULL", root
    )
    v = t.current_version()
    # NULL value refused, commit-free
    with pytest.raises(ValueError, match="NOT NULL column 'n_name'"):
        t.append(
            spark.createDataFrame([(900, None)], "n_nationkey int, n_name string")
        )
    assert t.current_version() == v
    # frame omitting the column refused (files would read NULL)
    with pytest.raises(ValueError, match="omits NOT NULL"):
        t.append(spark.createDataFrame([(901,)], "n_nationkey int"))
    # compliant append passes; the marker survives the data commit
    t.append(spark.createDataFrame([(902, "OK")], "n_nationkey int, n_name string"))
    assert t._read_meta(t.current_version()).get("not_null") == ["n_name"]
    # DROP NOT NULL re-admits NULLs
    execute_sql(
        spark, "ALTER TABLE t_nn_unit ALTER COLUMN n_name DROP NOT NULL", root
    )
    t.append(spark.createDataFrame([(903, None)], "n_nationkey int, n_name string"))
    t.drop()


def test_set_not_null_refuses_existing_nulls(spark):
    t = SnapshotTable(spark, "t_nn_existing_unit")
    t.drop()
    t.create(spark.createDataFrame([(1, None)], "a int, b string"))
    with pytest.raises(ValueError, match="existing rows hold NULL"):
        t.set_not_null("b")
    with pytest.raises(ValueError, match="no column"):
        t.set_not_null("zzz")
    t.drop()


def test_add_column_default_initial_and_write_semantics(spark):
    """Iceberg-v3 defaults: pre-evolve rows surface the default (not
    NULL); an append omitting the column gets it filled (write
    default); an EXPLICIT post-evolve NULL stays NULL; a CoW rewrite
    materializes values and keeps the write-default for later appends;
    time travel to before the evolve shows no column at all."""
    from empdia_iceberg_spark.tables.ddl import execute_sql

    root = scratch_root()
    t = SnapshotTable(spark, "t_default_unit", root)
    t.drop()
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    execute_sql(
        spark,
        "ALTER TABLE t_default_unit ADD COLUMN tier string DEFAULT 'bronze'",
        root,
    )
    t.append(spark.createDataFrame([(3, "c")], "k int, v string"))  # omitted
    t.append(
        spark.createDataFrame(
            [(4, "d", None), (5, "e", "gold")], "k int, v string, tier string"
        )
    )  # explicit NULL + explicit value
    vals = {r.k: r.tier for r in t.read().collect()}
    assert vals == {1: "bronze", 2: "bronze", 3: "bronze", 4: None, 5: "gold"}
    # pruned point read surfaces the default too
    pr = {r.k: r.tier for r in t.read_pruned("k", 1).collect()}
    assert pr == {1: "bronze"}
    # time travel before the evolve: no tier column
    assert "tier" not in t.read(version=1).columns
    # CoW rewrite materializes defaults and keeps the write-default
    t.delete_where(F.col("k") == 2)
    vals = {r.k: r.tier for r in t.read().collect()}
    assert vals == {1: "bronze", 3: "bronze", 4: None, 5: "gold"}
    t.append(spark.createDataFrame([(6, "f")], "k int, v string"))
    assert {r.k: r.tier for r in t.read().collect()}[6] == "bronze"
    # SHOW CREATE renders the default marker
    stmt = execute_sql(spark, "SHOW CREATE TABLE t_default_unit", root).collect()[
        0
    ].createtab_stmt
    assert "tier string DEFAULT 'bronze'" in stmt
    t.drop()


def test_default_validated_and_changes_interplay(spark):
    """A nonsense default refuses at ALTER time; changes() rows read
    through the default path like any other read."""
    t = SnapshotTable(spark, "t_default_guard_unit")
    t.drop()
    t.create(spark.createDataFrame([(1, "a")], "k int, v string"))
    with pytest.raises(Exception):
        t.add_column("bad", "int", default="not_a_literal(")
    t.add_column("tier", "string", default="'bronze'")
    t.delete_where(F.col("k") == 1)  # CoW: deleted row carries the default
    deleted = t.changes(3, 3).collect()
    assert [(r._change_type, r.tier) for r in deleted] == [("delete", "bronze")]
    t.drop()


# --------------------------------- schema-only CREATE TABLE round trip (r13)


def test_create_table_column_list_and_show_create_roundtrip(spark):
    """CREATE TABLE (cols) declares an empty v1 with NOT NULL, DEFAULT,
    partition spec, properties, and constraint.* re-entry — and SHOW
    CREATE TABLE's output re-executes to an equivalent table (emit <->
    execute round trip, stable under a second hop)."""
    from decimal import Decimal

    from empdia_iceberg_spark.tables.ddl import execute_sql

    root = scratch_root()
    for n in ("t_ct_unit", "t_ct_rt_unit"):
        SnapshotTable(spark, n, root).drop()
    r = execute_sql(
        spark,
        """CREATE TABLE t_ct_unit (
             k bigint NOT NULL,
             seg string DEFAULT 'BLD',
             bal decimal(12,2))
           USING snapshot
           PARTITIONED BY (seg)
           TBLPROPERTIES (
             'constraint.pos_bal' = 'CHECK (bal >= 0.0)',
             'owner' = 'data''eng')""",
        root,
    )
    assert r["audit"] == {
        "rows": 0, "not_null": ["k"], "defaults": ["seg"],
        "constraints": ["pos_bal"],
    }
    t = SnapshotTable(spark, "t_ct_unit", root)
    assert t.read().count() == 0 and t.current_spec() == ["seg"]
    assert t.properties()["owner"] == "data'eng"
    with pytest.raises(ValueError, match="CHECK"):
        t.append(
            spark.createDataFrame(
                [(1, "X", Decimal("-5.00"))],
                "k bigint, seg string, bal decimal(12,2)",
            )
        )
    with pytest.raises(ValueError, match="NOT NULL"):
        t.append(
            spark.createDataFrame(
                [(None, "X", Decimal("5.00"))],
                "k bigint, seg string, bal decimal(12,2)",
            )
        )
    t.append(
        spark.createDataFrame([(7, Decimal("3.00"))], "k bigint, bal decimal(12,2)")
    )
    assert [(r_.k, r_.seg) for r_ in t.read().collect()] == [(7, "BLD")]
    stmt = execute_sql(spark, "SHOW CREATE TABLE t_ct_unit", root).collect()[
        0
    ].createtab_stmt
    rt = stmt.replace("t_ct_unit", "t_ct_rt_unit")
    r2 = execute_sql(spark, rt, root)
    assert r2["audit"]["not_null"] == ["k"] and r2["audit"]["constraints"] == [
        "pos_bal"
    ]
    stmt2 = execute_sql(
        spark, "SHOW CREATE TABLE t_ct_rt_unit", root
    ).collect()[0].createtab_stmt
    assert stmt2 == rt, "round trip must be a fixed point"
    for n in ("t_ct_unit", "t_ct_rt_unit"):
        SnapshotTable(spark, n, root).drop()


def test_create_table_column_list_guards(spark):
    from empdia_iceberg_spark.tables.ddl import execute_sql

    root = scratch_root()
    SnapshotTable(spark, "t_ct_guard_unit", root).drop()
    with pytest.raises(ValueError, match="Schema may not be specified"):
        execute_sql(
            spark,
            "CREATE TABLE t_ct_guard_unit (k int) AS SELECT 1 AS k", root
        )
    with pytest.raises(ValueError, match="duplicate column"):
        execute_sql(spark, "CREATE TABLE t_ct_guard_unit (k int, k int)", root)
    with pytest.raises(ValueError, match="not in the column list"):
        execute_sql(
            spark,
            "CREATE TABLE t_ct_guard_unit (k int) PARTITIONED BY (zzz)", root
        )
    execute_sql(spark, "CREATE TABLE t_ct_guard_unit (k int)", root)
    with pytest.raises(ValueError, match="already exists"):
        execute_sql(spark, "CREATE TABLE t_ct_guard_unit (k int)", root)
    r = execute_sql(
        spark, "CREATE TABLE IF NOT EXISTS t_ct_guard_unit (k int)", root
    )
    assert r["op"] == "create-noop"
    r = execute_sql(
        spark, "CREATE OR REPLACE TABLE t_ct_guard_unit (k2 string)", root
    )
    assert r["op"] == "create"
    t = SnapshotTable(spark, "t_ct_guard_unit", root)
    assert [f.name for f in t.read().schema.fields] == ["k2"]
    t.drop()


def test_create_table_refuses_char_and_varchar_columns(spark, monkeypatch):
    """CHAR/VARCHAR lengths are not enforced, so such a column is refused
    by name, with its type and the STRING alternative, before any Spark
    call; nothing is created."""
    from empdia_iceberg_spark.tables import ddl

    root = scratch_root()
    t = SnapshotTable(spark, "tv_unit", root)
    t.drop()

    def no_spark_call(*args, **kwargs):
        raise AssertionError("a Spark call before the refusal")

    monkeypatch.setattr(type(spark), "createDataFrame", no_spark_call)
    for cols, bad in (("k int, s varchar(10), c char(3)", "s has type VARCHAR\\(10\\)"),
                      ("k int, a array<char(2)>", "a has type ARRAY<CHAR\\(2\\)>")):
        with pytest.raises(ValueError, match=f"column {bad}.*STRING"):
            ddl.execute_sql(spark, f"CREATE TABLE tv_unit ({cols})", root)
    monkeypatch.undo()
    assert t.current_version() is None
    ddl.execute_sql(spark, "CREATE TABLE tv_unit (k int, s string, c string)", root)
    assert t.read().dtypes == [("k", "int"), ("s", "string"), ("c", "string")]
    t.drop()


def test_add_columns_refuses_char_and_varchar_columns(spark):
    """ALTER TABLE ... ADD COLUMNS refuses a CHAR/VARCHAR column by name
    like CREATE TABLE does, before any column of the list commits."""
    from empdia_iceberg_spark.tables import ddl

    root = scratch_root()
    t = SnapshotTable(spark, "tv_add_unit", root)
    t.drop()
    ddl.execute_sql(spark, "CREATE TABLE tv_add_unit (k int)", root)
    v = t.current_version()
    with pytest.raises(ValueError, match="column s has type VARCHAR\\(10\\).*STRING"):
        ddl.execute_sql(
            spark, "ALTER TABLE tv_add_unit ADD COLUMNS (n int, s varchar(10))", root
        )
    assert t.current_version() == v
    ddl.execute_sql(spark, "ALTER TABLE tv_add_unit ADD COLUMNS (n int, s string)", root)
    assert t.read().dtypes == [("k", "int"), ("n", "int"), ("s", "string")]
    t.drop()


# ---------------------------------------- CALL remove_orphan_files (r13)


def test_remove_orphan_files_reclaims_aged_unreferenced_dirs(spark, nation):
    """Orphans (crashed-writer dirs no snapshot references) age out;
    referenced dirs and FRESH unreferenced dirs (in-flight writers)
    survive; the CALL spelling reports the count."""
    import os
    import time as _time

    from empdia_iceberg_spark.tables.ddl import execute_sql

    root = scratch_root()
    t = SnapshotTable(spark, "t_orphan_unit", root)
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 10))
    t.append(nation.filter(F.col("n_nationkey") >= 10))
    # a crashed writer's dir: written, never committed, 10s idle
    dead = os.path.join(t.data_dir, "s99999-deadbeef")
    os.makedirs(dead)
    f = os.path.join(dead, "part-x.parquet")
    open(f, "wb").write(b"orphan")
    old = _time.time() - 10
    os.utime(f, (old, old))
    os.utime(dead, (old, old))
    # an in-flight writer's dir: unreferenced but FRESH
    live = os.path.join(t.data_dir, "s99998-inflight")
    os.makedirs(live)
    open(os.path.join(live, "part-y.parquet"), "wb").write(b"live")
    res = execute_sql(
        spark,
        "CALL remove_orphan_files('t_orphan_unit', older_than_sec => 5)",
        root,
    )
    assert res["audit"]["orphans_removed"] == 1
    assert not os.path.exists(dead)
    assert os.path.exists(live), "fresh unreferenced dir must survive"
    assert t.read().count() == nation.count(), "referenced data untouched"
    # default bound (3 days) removes nothing here
    res2 = execute_sql(
        spark, "CALL remove_orphan_files('t_orphan_unit')", root
    )
    assert res2["audit"]["orphans_removed"] == 0
    import shutil as _sh

    _sh.rmtree(live, ignore_errors=True)
    t.drop()


# ------------------------------------ dynamic partition overwrite (r13)


def test_overwrite_partitions_foreign_spec_and_mor_paths(spark, nation):
    """Dirs written under an OLDER spec and dirs with applicable MOR
    deletes cannot be subdir-carried: untouched ones ride whole by
    reference after a containment probe; overlapping ones rewrite their
    survivors with deletes folded in."""
    root = scratch_root()
    t = SnapshotTable(spark, "t_dpo_evo_unit", root)
    t.drop()
    # v1: UNPARTITIONED dir (foreign spec after the evolve)
    t.create(nation.filter(F.col("n_regionkey") <= 1))
    t.evolve_partitioning(["n_regionkey"])
    # v3: partitioned append + v4: MOR delete touching it
    t.append(nation.filter(F.col("n_regionkey") >= 2))
    t.delete_where_mor(F.col("n_nationkey") == 4, key="n_nationkey")  # region 4's row? any
    before = {r.n_regionkey: r.n for r in t.read().groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n")).collect()}
    # overwrite region 1 with a single replacement row
    repl = spark.createDataFrame(
        [(900, "NEWLAND", 1, "x")],
        "n_nationkey int, n_name string, n_regionkey int, n_comment string",
    ).select(*t.read().columns)
    v, audit = t.overwrite_partitions(repl)
    after = {r.n_regionkey: r.n for r in t.read().groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert after[1] == 1 and after[0] == before[0]
    for rk in before:
        if rk not in (0, 1):
            assert after[rk] == before[rk], f"region {rk} must be untouched"
    assert audit["partitions_replaced"] == 1
    # the foreign-spec v1 dir overlapped region 1 -> survivor rewrite
    assert audit["dirs_rewritten"] >= 1
    # MOR-deleted key stays deleted through the rewrite/carry
    assert t.read().filter(F.col("n_nationkey") == 4).count() == 0
    # time travel to the pre-overwrite state is intact
    assert t.read(version=4).filter(F.col("n_regionkey") == 1).count() == before[1]
    t.drop()


def test_overwrite_partitions_guards(spark, nation):
    t = SnapshotTable(spark, "t_dpo_guard_unit")
    t.drop()
    t.create(nation)  # unpartitioned
    with pytest.raises(ValueError, match="partitioned table"):
        t.overwrite_partitions(nation)
    t.drop()


def test_expire_snapshots_older_than_composes_with_keep_last(spark, nation):
    """Iceberg's timestamp retention: only snapshots committed before
    the bound expire, keep_last still floors survivors, and expiry
    stays a prefix of the version log."""
    import time as _time

    from empdia_iceberg_spark.tables.ddl import execute_sql

    root = scratch_root()
    t = SnapshotTable(spark, "t_expire_ts_unit", root)
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 5))     # v1
    t.append(nation.filter(F.col("n_nationkey") >= 20))   # v2
    mid = _time.time()
    t.append(
        nation.filter(
            (F.col("n_nationkey") >= 5) & (F.col("n_nationkey") < 20)
        )
    )  # v3 (younger than mid)
    # bound at mid: v1+v2 are old, but keep_last=1 already retains v3;
    # v3 also survives by age
    res = execute_sql(
        spark,
        f"CALL expire_snapshots('t_expire_ts_unit', keep_last => 1, "
        f"older_than_ts => '{mid}')",
        root,
    )
    assert res["audit"]["versions_left"] == 1
    # fresh table: a bound in the PAST expires nothing even with
    # keep_last=1 asking for more
    t2 = SnapshotTable(spark, "t_expire_ts2_unit", root)
    t2.drop()
    t2.create(nation.filter(F.col("n_nationkey") < 5))
    t2.append(nation.filter(F.col("n_nationkey") >= 5))
    assert t2.expire_snapshots(keep_last=1, older_than=mid - 10_000) == []
    assert t2._versions() == [1, 2]
    t.drop(), t2.drop()


# ----------------------- r13 code-review regressions (subdir liveness)


def test_expire_keeps_dirs_containing_live_subdir_references(spark, nation):
    """After a dynamic partition overwrite carries hive SUBDIRS by
    reference, expiring the pre-overwrite snapshot must NOT delete the
    parent dir those subdirs live in (exact-path liveness destroyed the
    current snapshot — r13 review)."""
    root = scratch_root()
    t = SnapshotTable(spark, "t_expire_subdir_unit", root)
    t.drop()
    t.create(nation, partition_by=["n_regionkey"])  # v1: one dir, 5 parts
    repl = spark.createDataFrame(
        [(900, "NEWLAND", 1, "x")],
        "n_nationkey int, n_name string, n_regionkey int, n_comment string",
    ).select(*t.read().columns)
    t.overwrite_partitions(repl)  # v2: new dir + 4 carried SUBDIRS of v1's dir
    expect = t.read().count()
    t.expire_snapshots(keep_last=1)  # v1 expires; its dir must survive
    assert t.read().count() == expect, "current snapshot lost rows after expire"
    t.drop()


def test_remove_orphans_keeps_dirs_live_via_subdir_references(spark, nation):
    root = scratch_root()
    t = SnapshotTable(spark, "t_orphan_subdir_unit", root)
    t.drop()
    t.create(nation, partition_by=["n_regionkey"])
    repl = spark.createDataFrame(
        [(900, "NEWLAND", 1, "x")],
        "n_nationkey int, n_name string, n_regionkey int, n_comment string",
    ).select(*t.read().columns)
    t.overwrite_partitions(repl)
    t.expire_snapshots(keep_last=1)  # only subdir references remain live
    expect = t.read().count()
    removed = t.remove_orphan_files(older_than_sec=0)
    assert t.read().count() == expect, f"orphan sweep deleted live data: {removed}"
    t.drop()


def test_insert_overwrite_partition_clause_guards(spark, nation):
    from empdia_iceberg_spark.tables.dml import execute_dml

    root = scratch_root()
    t = SnapshotTable(spark, "t_dpo_sql_guard_unit", root)
    t.drop()
    t.create(nation)  # UNPARTITIONED
    nation.createOrReplaceTempView("dpo_guard_src")
    with pytest.raises(ValueError, match="requires a partitioned table"):
        execute_dml(
            spark,
            "INSERT OVERWRITE t_dpo_sql_guard_unit PARTITION (n_regionkey = 1) "
            "SELECT n_nationkey, n_name FROM dpo_guard_src WHERE 1=0",
            root=root,
        )
    assert t.read().count() == nation.count(), "guard must not overwrite"
    t.drop()
    t.create(nation, partition_by=["n_regionkey"])
    with pytest.raises(ValueError, match="only name partition source columns"):
        execute_dml(
            spark,
            "INSERT OVERWRITE t_dpo_sql_guard_unit "
            "PARTITION (n_regionkey = 1, n_name = 'X') "
            "SELECT n_nationkey FROM dpo_guard_src WHERE 1=0",
            root=root,
        )
    t.drop()


def test_changes_replay_reconstructs_every_state(spark):
    """CHANGELOG-REPLAY INVARIANT (r13): applying changes(1, v) to an
    empty multiset — add every insert row, remove every delete row —
    must reconstruct read(v) EXACTLY, for every version of a random
    create/append/merge/MOR-delete/CoW-delete/compact history. This
    pins changes() as a true changelog: per-commit file pruning,
    exceptAll diffs, MOR key joins, and metadata-skips all compose to
    the table's actual state transitions."""
    import random
    from collections import Counter

    rng = random.Random(13_2026)
    t = SnapshotTable(spark, "t_changes_replay_unit")
    t.drop()

    def fresh_rows(n, used):
        ks = rng.sample([k for k in range(1000) if k not in used], n)
        return [(k, f"v{rng.randrange(1_000_000)}") for k in ks]

    used: set[int] = set()
    rows = fresh_rows(5, used)
    used |= {k for k, _ in rows}
    t.create(spark.createDataFrame(rows, "k int, v string"))
    for _ in range(7):
        op = rng.choice(["append", "merge", "delete_mor", "delete_cow", "compact"])
        keys = {r.k for r in t.read().select("k").collect()}
        if op == "append":
            rows = fresh_rows(rng.randrange(1, 4), used)
            used |= {k for k, _ in rows}
            t.append(spark.createDataFrame(rows, "k int, v string"))
        elif op == "merge" and keys:
            upd = [(k, f"u{rng.randrange(1_000_000)}") for k in rng.sample(sorted(keys), min(2, len(keys)))]
            ins = fresh_rows(1, used)
            used |= {k for k, _ in ins}
            t.merge(spark.createDataFrame(upd + ins, "k int, v string"), key="k")
        elif op == "delete_mor" and keys:
            t.delete_where_mor(F.col("k") == rng.choice(sorted(keys)), key="k")
        elif op == "delete_cow" and keys:
            t.delete_where(F.col("k") <= rng.choice(sorted(keys)))
        elif op == "compact":
            t.compact(target_partitions=2)
        else:
            continue
    for v in t._versions():
        ch = t.changes(1, v).collect()
        state = Counter()
        for r in ch:
            if r._change_type == "insert":
                state[(r.k, r.v)] += 1
            else:
                state[(r.k, r.v)] -= 1
        replayed = {kv for kv, n in state.items() if n != 0}
        assert all(n in (0, 1) for n in state.values()), (v, state)
        actual = {(r.k, r.v) for r in t.read(version=v).collect()}
        assert replayed == actual, (v, replayed ^ actual)
    t.drop()


# ------------------------------------------------- hidden partitioning (r14)


def test_parse_transform_and_canonical_forms():
    from empdia_iceberg_spark.tables.manager import (
        canonical_transform,
        parse_transform,
        transform_slug,
    )

    assert parse_transform("c_mktsegment") == ("identity", None, "c_mktsegment")
    assert parse_transform("days(ts)") == ("days", None, "ts")
    assert parse_transform("BUCKET( 16 , id )") == ("bucket", 16, "id")
    assert canonical_transform("bucket( 16 ,id)") == "bucket(16, id)"
    assert canonical_transform("Days( ts )") == "days(ts)"
    assert transform_slug("days(ts)") == "days__ts"
    assert transform_slug("truncate(4, s)") == "truncate4__s"
    assert transform_slug("plain") == "plain"
    with pytest.raises(ValueError):
        parse_transform("bucket(id)")  # width required
    with pytest.raises(ValueError):
        parse_transform("days(3, ts)")  # no width allowed
    with pytest.raises(ValueError):
        parse_transform("bucket(0, id)")  # positive width
    with pytest.raises(ValueError):
        parse_transform("not a column")


def test_truncate_transform_semantics(spark):
    """Iceberg truncate: strings keep the leading W chars; integers
    floor to a multiple of W (negatives floor DOWN, pmod semantics)."""
    from empdia_iceberg_spark.tables.manager import transform_expr_on
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [("abcdef", 17), ("ab", -3)], "s string, k int"
    )
    rows = df.select(
        transform_expr_on(F.col("s"), T.StringType(), "truncate(3, s)").alias("ts"),
        transform_expr_on(F.col("k"), T.IntegerType(), "truncate(10, k)").alias("tk"),
    ).collect()
    assert [(r.ts, r.tk) for r in rows] == [("abc", 10), ("ab", -10)]
    with pytest.raises(ValueError):
        transform_expr_on(F.col("s"), T.DoubleType(), "truncate(3, s)")
    with pytest.raises(ValueError):
        transform_expr_on(F.col("s"), T.StringType(), "days(s)")


def test_hidden_partitioning_write_prune_and_guards(spark):
    from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root

    ev = __import__(
        "empdia_iceberg_spark.sources.tables", fromlist=["load"]
    ).load(spark, SF_DIR, "events").select("event_id", "ts", "user_id", "value")
    t = SnapshotTable(spark, "t_hidden_unit", scratch_root())
    t.drop()
    t.create(ev.filter(F.dayofmonth("ts") <= 10), partition_by=["days(ts)"])
    t.append(ev.filter(F.dayofmonth("ts") > 10))
    # pruned one-day read equals the full-scan filter
    pruned, audit = t.read_pruned_transform("days(ts)", "2024-01-02")
    expect = ev.filter(F.to_date("ts") == "2024-01-02").count()
    assert pruned.count() == expect > 0
    assert audit["dirs_pruned"] == 1 and audit["subdirs_selected"] == 1
    # source-column guards: dropping/renaming days(ts)'s source refuses
    with pytest.raises(ValueError, match="partition field"):
        t.drop_column("ts")
    with pytest.raises(ValueError, match="partition field"):
        t.rename_column("ts", "event_time")
    # unknown source / bad type fail at create-time validation
    with pytest.raises(ValueError, match="not in schema"):
        t.evolve_partitioning(["days(nope)"])
    with pytest.raises(ValueError, match="timestamp/date"):
        t.evolve_partitioning(["days(user_id)"])
    t.drop()


def test_partition_transform_spec_evolution_coexists(spark):
    """Old identity layout + new transform layout coexist in one table
    (dir_specs records each dir's spec); transform-pruned reads full-scan
    the pre-evolution dirs behind the residual filter."""
    from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root

    ev = __import__(
        "empdia_iceberg_spark.sources.tables", fromlist=["load"]
    ).load(spark, SF_DIR, "events").select("event_id", "ts", "user_id", "value")
    t = SnapshotTable(spark, "t_hidden_evo_unit", scratch_root())
    t.drop()
    t.create(ev.filter(F.dayofmonth("ts") <= 10))  # unpartitioned era
    t.evolve_partitioning(["days(ts)"])
    t.append(ev.filter(F.dayofmonth("ts") > 10))  # days-transform era
    assert t.current_spec() == ["days(ts)"]
    pruned, audit = t.read_pruned_transform("days(ts)", "2024-01-20")
    expect = ev.filter(F.to_date("ts") == "2024-01-20").count()
    assert pruned.count() == expect > 0
    # the unpartitioned dir full-scans; the transform dir prunes to one day
    assert audit["dirs_full_scan"] == 1 and audit["subdirs_selected"] == 1
    t.drop()


def test_partitioned_by_transform_sql_round_trip(spark):
    """PARTITIONED BY (days(ts), bucket(4, user_id)) parses through the
    statement front-end, SHOW CREATE re-emits the canonical spelling, and
    ADD/DROP PARTITION FIELD accept transform entries."""
    from empdia_iceberg_spark.tables.ddl import execute_sql
    from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root

    __import__(
        "empdia_iceberg_spark.sources.tables", fromlist=["load"]
    ).load(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "value"
    ).createOrReplaceTempView("ev_rt_src")
    execute_sql(spark, "DROP TABLE IF EXISTS ev_rt", root=scratch_root())
    execute_sql(
        spark,
        "CREATE TABLE ev_rt PARTITIONED BY (days(ts), bucket( 4 ,user_id)) "
        "AS SELECT * FROM ev_rt_src",
        root=scratch_root(),
    )
    t = SnapshotTable(spark, "ev_rt", scratch_root())
    assert t.current_spec() == ["days(ts)", "bucket(4, user_id)"]
    stmt = execute_sql(
        spark, "SHOW CREATE TABLE ev_rt", root=scratch_root()
    ).collect()[0][0]
    assert "PARTITIONED BY (days(ts), bucket(4, user_id))" in stmt
    execute_sql(
        spark,
        "ALTER TABLE ev_rt DROP PARTITION FIELD bucket(4, user_id)",
        root=scratch_root(),
    )
    execute_sql(
        spark,
        "ALTER TABLE ev_rt ADD PARTITION FIELD truncate(2, event_id)",
        root=scratch_root(),
    )
    assert t.current_spec() == ["days(ts)", "truncate(2, event_id)"]
    with pytest.raises(ValueError, match="already a partition field"):
        execute_sql(
            spark, "ALTER TABLE ev_rt ADD PARTITION FIELD days( ts )",
            root=scratch_root(),
        )
    t.drop()


# --------------------------------------------------- position deletes (r14)


def test_position_delete_basics_and_stacking(spark, nation):
    from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root

    t = SnapshotTable(spark, "t_posdel_unit", scratch_root())
    t.drop()
    t.create(nation)
    v = t.delete_where_position(F.col("n_nationkey") == 3)
    meta = t._read_meta(v)
    dd = meta["delete_dirs"][-1]
    assert dd["kind"] == "position" and "key" not in dd
    assert spark.read.parquet(dd["dir"]).count() == 1
    assert len(dd["applies_to"]) == 1  # pruned to the one dir holding it
    assert t.read().filter(F.col("n_nationkey") == 3).count() == 0
    assert t.read().count() == nation.count() - 1
    # stacking with an equality delete composes
    t.delete_where_mor(F.col("n_regionkey") == 0, key="n_nationkey")
    n_after_eq = t.read().count()
    assert n_after_eq < nation.count() - 1
    # a later append of the same key survives BOTH delete forms
    t.append(nation.filter(F.col("n_nationkey") == 3))
    assert t.read().filter(F.col("n_nationkey") == 3).count() == 1
    # position-delete columns never leak into the read schema
    assert "_pos_file" not in t.read().columns
    # compact folds both delete files away, row set unchanged
    before = t.read().count()
    t.compact()
    assert t.read().count() == before
    assert t._read_meta(t.current_version()).get("delete_dirs") == []
    # guards: a position delete never blocks column DDL (it keys no
    # table column)
    t.rename_column("n_name", "nation_name")
    t.drop()


def test_position_delete_dml_strategy_guards(spark, nation):
    from empdia_iceberg_spark.tables.dml import execute_dml
    from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root

    t = SnapshotTable(spark, "t_posdel_dml_unit", scratch_root())
    t.drop()
    t.create(nation)
    with pytest.raises(ValueError, match="mutually exclusive"):
        execute_dml(
            spark, "DELETE FROM t_posdel_dml_unit WHERE n_nationkey = 1",
            mor_key="n_nationkey", mor_position=True, root=scratch_root(),
        )
    with pytest.raises(ValueError, match="DELETE only"):
        execute_dml(
            spark,
            "UPDATE t_posdel_dml_unit SET n_name = 'x' WHERE n_nationkey = 1",
            mor_position=True, root=scratch_root(),
        )
    res = execute_dml(
        spark, "DELETE FROM t_posdel_dml_unit WHERE n_nationkey = 1",
        mor_position=True, root=scratch_root(),
    )
    assert res["op"] == "delete-mor-position"
    assert t.read().filter(F.col("n_nationkey") == 1).count() == 0
    t.drop()


def test_time_transform_family_hours_months_years(spark):
    """hours/months/years transforms: write-side hive values, pruned
    reads, and prune-vs-filter equality for each granularity."""
    from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root

    ev = __import__(
        "empdia_iceberg_spark.sources.tables", fromlist=["load"]
    ).load(spark, SF_DIR, "events").select("event_id", "ts", "value")
    for entry, tval, fmt in [
        ("hours(ts)", "2024-01-02-07", "yyyy-MM-dd-HH"),
        ("months(ts)", "2024-01", "yyyy-MM"),
        ("years(ts)", "2024", "yyyy"),
    ]:
        t = SnapshotTable(spark, "t_timefam_unit", scratch_root())
        t.drop()
        t.create(ev, partition_by=[entry])
        pruned, _audit = t.read_pruned_transform(entry, tval)
        expect = ev.filter(F.date_format("ts", fmt) == tval).count()
        assert pruned.count() == expect, entry
        if entry != "hours(ts)":
            assert expect > 0  # a specific hour may be empty at sf0.001
        t.drop()


def test_overwrite_partitions_probes_cross_spec_dirs_with_transforms(spark):
    """Dynamic one-day overwrite on a table whose OLD dir predates the
    days(ts) spec: the old-spec dir cannot be subdir-carried, so it gets
    the broadcast containment probe in TRANSFORM space — rewriting its
    survivors when it holds the replaced day, and the final state equals
    the logical expectation."""
    from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root

    ev = __import__(
        "empdia_iceberg_spark.sources.tables", fromlist=["load"]
    ).load(spark, SF_DIR, "events").select("event_id", "ts", "value")
    t = SnapshotTable(spark, "t_xspec_ow_unit", scratch_root())
    t.drop()
    t.create(ev.filter(F.dayofmonth("ts") <= 10))  # unpartitioned era
    t.evolve_partitioning(["days(ts)"])
    t.append(ev.filter(F.dayofmonth("ts") > 10))   # days-layout era
    day = "2024-01-02"  # lives in the OLD unpartitioned dir
    repl = ev.filter(F.to_date("ts") == day).withColumn("value", F.lit(9.9))
    _v, audit = t.overwrite_partitions(repl)
    assert audit["dirs_rewritten"] == 1, audit   # the old dir's survivors
    assert audit["partitions_replaced"] == 1, audit
    out = t.read()
    assert out.filter(F.to_date("ts") == day).agg(
        F.min("value"), F.max("value")
    ).collect() == [(9.9, 9.9)] or out.filter(
        (F.to_date("ts") == day) & (F.col("value") != 9.9)
    ).count() == 0
    assert out.count() == ev.count()
    # days not replaced are untouched
    other = out.filter(F.to_date("ts") != day)
    assert other.filter(F.col("value") == 9.9).count() == ev.filter(
        (F.to_date("ts") != day) & (F.col("value") == 9.9)
    ).count()
    t.drop()


def test_partitions_metadata_table_renders_transform_slugs(spark):
    """`t.partitions` lists hive values under transformed specs — the
    slug spelling (days__ts=YYYY-MM-DD) documents the layout."""
    from empdia_iceberg_spark.tables.ddl import execute_sql
    from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root

    ev = __import__(
        "empdia_iceberg_spark.sources.tables", fromlist=["load"]
    ).load(spark, SF_DIR, "events").select("event_id", "ts", "value")
    t = SnapshotTable(spark, "t_pmeta_unit", scratch_root())
    t.drop()
    t.create(ev.filter(F.dayofmonth("ts") <= 2), partition_by=["days(ts)"])
    rows = execute_sql(
        spark,
        "SELECT partition, spec, n_files FROM t_pmeta_unit.partitions "
        "ORDER BY partition",
        root=scratch_root(),
    ).collect()
    assert rows and all(r.partition.startswith("days__ts=2024-01-0") for r in rows)
    assert all(r.spec == "days(ts)" for r in rows)
    t.drop()


def test_insert_overwrite_static_partition_through_transform(spark):
    """`INSERT OVERWRITE t PARTITION (ts='...') SELECT ...` on a
    days(ts)-partitioned table: the static clause names the SOURCE
    column; the day's dir is replaced even though the spec entry is a
    transform — and an EMPTY source clears exactly that day."""
    from empdia_iceberg_spark.tables.dml import execute_dml
    from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root

    ev = __import__(
        "empdia_iceberg_spark.sources.tables", fromlist=["load"]
    ).load(spark, SF_DIR, "events").select("event_id", "ts", "value")
    ev.createOrReplaceTempView("ev_static_src")
    t = SnapshotTable(spark, "t_static_hidden_unit", scratch_root())
    t.drop()
    t.create(ev, partition_by=["days(ts)"])
    n_total = ev.count()
    day = "2024-01-04"
    n_day = ev.filter(F.to_date("ts") == day).count()
    assert n_day > 0
    # clear the day: empty source + static pin through the transform
    res = execute_dml(
        spark,
        f"INSERT OVERWRITE t_static_hidden_unit PARTITION "
        f"(ts = TIMESTAMP '{day} 00:00:00') "
        "SELECT event_id, value FROM ev_static_src WHERE 1 = 0",
        root=scratch_root(),
    )
    assert res["audit"]["partitions_replaced"] >= 1
    out = t.read()
    assert out.filter(F.to_date("ts") == day).count() == 0
    assert out.count() == n_total - n_day
    t.drop()


def test_replace_partition_field_in_place(spark):
    """REPLACE PARTITION FIELD days(ts) WITH hours(ts): one metadata
    commit swaps the entry IN PLACE (position preserved), old layout
    dirs keep their recorded spec, and new writes land hourly."""
    from empdia_iceberg_spark.tables.ddl import execute_sql
    from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root

    ev = __import__(
        "empdia_iceberg_spark.sources.tables", fromlist=["load"]
    ).load(spark, SF_DIR, "events").select("event_id", "ts", "user_id", "value")
    ev.createOrReplaceTempView("ev_repl_src")
    execute_sql(spark, "DROP TABLE IF EXISTS ev_repl", root=scratch_root())
    execute_sql(
        spark,
        "CREATE TABLE ev_repl PARTITIONED BY (days(ts), bucket(2, user_id)) "
        "AS SELECT * FROM ev_repl_src WHERE ts < TIMESTAMP '2024-01-03 00:00:00'",
        root=scratch_root(),
    )
    res = execute_sql(
        spark,
        "ALTER TABLE ev_repl REPLACE PARTITION FIELD days(ts) WITH hours(ts)",
        root=scratch_root(),
    )
    assert res["audit"] == {"replaced": "days(ts)", "with": "hours(ts)"}
    t = SnapshotTable(spark, "ev_repl", scratch_root())
    assert t.current_spec() == ["hours(ts)", "bucket(2, user_id)"]
    execute_sql(
        spark,
        "INSERT INTO ev_repl SELECT * FROM ev_repl_src "
        "WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'",
        root=scratch_root(),
    )
    # one-hour pruned read across both layouts equals the filter
    hour = "2024-01-03-07"
    pruned, audit = t.read_pruned_transform("hours(ts)", hour)
    expect = ev.filter(F.date_format("ts", "yyyy-MM-dd-HH") == hour).count()
    assert pruned.count() == expect
    assert audit["subdirs_selected"] == 1 and audit["dirs_pruned"] == 0
    assert audit["dirs_full_scan"] == 1  # the days-era dir full-scans
    with pytest.raises(ValueError, match="not a partition field"):
        execute_sql(
            spark,
            "ALTER TABLE ev_repl REPLACE PARTITION FIELD days(ts) WITH years(ts)",
            root=scratch_root(),
        )
    t.drop()


def test_table_changes_timestamp_bounds(spark, nation):
    """table_changes('t', '<ts1>' [, '<ts2>']) — Delta's timestamp
    bounds: start resolves to the earliest commit AT OR AFTER ts1, end
    to the latest at or before ts2."""
    import time as _time

    from empdia_iceberg_spark.tables.ddl import execute_sql
    from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root

    t = SnapshotTable(spark, "t_chts_unit", scratch_root())
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 10))       # v1
    t.append(nation.filter(F.col("n_nationkey") >= 10))      # v2
    ts_v2 = t._read_meta(2)["ts"]
    # start bound: the instant of v2 → only v2's insert rows
    n = execute_sql(
        spark,
        f"SELECT count(*) AS n FROM table_changes('t_chts_unit', '{ts_v2}')",
        root=scratch_root(),
    ).collect()[0]["n"]
    assert n == nation.filter(F.col("n_nationkey") >= 10).count()
    # both bounds covering everything
    n_all = execute_sql(
        spark,
        f"SELECT count(*) AS n FROM table_changes("
        f"'t_chts_unit', '0', '{_time.time() + 1}')",
        root=scratch_root(),
    ).collect()[0]["n"]
    assert n_all == nation.count()
    # a start after the last commit errors informatively
    with pytest.raises(ValueError, match="at or after"):
        execute_sql(
            spark,
            f"SELECT * FROM table_changes('t_chts_unit', '{_time.time() + 60}')",
            root=scratch_root(),
        )
    # a quoted 3rd arg that is not a timestamp but IS a table column
    # keeps its legacy key-folding meaning (ADVICE r14): same rows as
    # the explicit 4-arg form
    legacy = execute_sql(
        spark,
        "SELECT count(*) AS n FROM "
        "table_changes('t_chts_unit', 1, 'n_nationkey')",
        root=scratch_root(),
    ).collect()[0]["n"]
    assert legacy == nation.count()
    # a quoted 3rd arg that is neither timestamp nor column still errors
    with pytest.raises(ValueError, match="neither a version number"):
        execute_sql(
            spark,
            "SELECT * FROM table_changes('t_chts_unit', 1, 'not_a_col')",
            root=scratch_root(),
        )
    t.drop()


def test_read_pruned_maps_bucket_literals_through_xxhash(spark, nation):
    """read_pruned on a bucket(N, key) spec: the literal maps through
    the SAME xxhash64+pmod expression the writer used, so the listing
    picks exactly the right bucket subdir and the result equals the
    plain filter."""
    from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root

    t = SnapshotTable(spark, "t_bucket_prune_unit", scratch_root())
    t.drop()
    t.create(nation, partition_by=["bucket(4, n_nationkey)"])
    for k in (0, 7, 23):
        got = sorted(
            r.n_name for r in t.read_pruned("n_nationkey", k).collect()
        )
        want = sorted(
            r.n_name
            for r in nation.filter(F.col("n_nationkey") == k).collect()
        )
        assert got == want, k
    t.drop()
