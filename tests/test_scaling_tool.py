"""Regression tests for tools/scaling_study.py's replication recipe —
the tool is load-bearing evidence for SURVEY §6, so the properties the
studies rely on (referential integrity across replicas, group-structure
preservation, timestamp strides in the column's OWN unit) are pinned
here with pyarrow only (no Spark session — runs in seconds).

The timestamp test exists because of a real bug: the stride was once a
nanosecond constant applied to a timestamp[us] column, silently shifting
each replica ~95.8 years instead of the documented 35 days."""

from __future__ import annotations

import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import scaling_study  # noqa: E402


@pytest.fixture(scope="module")
def x2(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("scale"))
    old = scaling_study.ROOT
    scaling_study.ROOT = root
    try:
        yield {
            study: scaling_study.build_dataset(study, 2)
            for study in ("events_hourly", "q3", "dedup")
        }
    finally:
        scaling_study.ROOT = old


def _col(path, table, col):
    return pq.read_table(
        os.path.join(path, f"{table}.parquet"), columns=[col]
    ).column(col)


def _replica(path, table, i, cols):
    """Replica i of a scaled table: replicas pack into ~64 MB files as
    one ROW GROUP each, in order — the packing contract _replicate
    documents."""
    import glob

    files = sorted(glob.glob(os.path.join(path, f"{table}.parquet", "part-*.parquet")))
    for f in files:
        pf = pq.ParquetFile(f)
        if i < pf.metadata.num_row_groups:
            return pf.read_row_group(i, columns=cols)
        i -= pf.metadata.num_row_groups
    raise AssertionError("replica index out of range")


def test_events_ts_stride_is_35_days_in_column_unit(x2):
    base = _col(scaling_study.BASE_SF, "events", "ts")
    rep = _replica(x2["events_hourly"], "events", 1, ["ts"]).column("ts")
    assert rep.type == base.type  # unit preserved, not silently widened
    delta = pc.min(rep).as_py() - pc.min(base).as_py()
    assert delta.days == scaling_study.EVENT_TS_STRIDE_DAYS
    assert delta.seconds == 0 and delta.microseconds == 0
    # replicas must not collide in event time (disjoint hour buckets)
    assert pc.min(rep).as_py() > pc.max(base).as_py()


def test_events_ids_disjoint_and_rows_scaled(x2):
    base = _col(scaling_study.BASE_SF, "events", "event_id")
    scaled = _col(x2["events_hourly"], "events", "event_id")
    assert len(scaled) == 2 * len(base)
    assert pc.count_distinct(scaled).as_py() == 2 * pc.count_distinct(base).as_py()


def test_q3_replicas_preserve_referential_integrity(x2):
    """Every orders.o_custkey must exist in the scaled customer table
    and every lineitem.l_orderkey in the scaled orders table — the key
    offsets shift parent and child by the SAME stride, so each replica
    keeps every join edge (scaling adds GROUPS, it never orphans rows)."""
    sf = x2["q3"]
    custkeys = set(_col(sf, "customer", "c_custkey").to_pylist())
    orderkeys = set(_col(sf, "orders", "o_orderkey").to_pylist())
    o_cust = set(_col(sf, "orders", "o_custkey").to_pylist())
    l_order = set(_col(sf, "lineitem", "l_orderkey").to_pylist())
    assert o_cust <= custkeys
    assert l_order <= orderkeys
    # and the replicas are genuinely disjoint: 2x the distinct keys
    base_orders = _col(scaling_study.BASE_SF, "orders", "o_orderkey")
    assert len(orderkeys) == 2 * pc.count_distinct(base_orders).as_py()


def test_documents_salt_preserves_dup_group_structure(x2):
    """Each replica's texts carry a per-replica suffix: duplicate
    groups stay intact within a replica (k× the dup GROUPS, same group
    sizes) and never merge across replicas."""
    base = _col(scaling_study.BASE_SF, "documents", "text")
    rep1 = _replica(x2["dedup"], "documents", 1, ["text"]).column("text")
    assert rep1[0].as_py() == base[0].as_py() + " repl0001"
    scaled = _col(x2["dedup"], "documents", "text")
    assert pc.count_distinct(scaled).as_py() == 2 * pc.count_distinct(base).as_py()
    ids = _col(x2["dedup"], "documents", "doc_id")
    assert pc.count_distinct(ids).as_py() == 2 * len(base)


def test_q3_lazy_offsets_do_not_touch_events(x2, monkeypatch):
    """The q3 studies must not require events.parquet to exist (lazy
    key maxima): building from a BASE_SF without events works."""
    real_read = pq.read_table

    def guarded(path, *a, **kw):
        assert "events.parquet" not in str(path), "q3 build read events"
        return real_read(path, *a, **kw)

    monkeypatch.setattr(pq, "read_table", guarded)
    # dataset exists (built by the fixture) — but the offsets for a
    # FRESH scale are computed before the _done check short-circuits,
    # so use a new scale and let it build for real
    monkeypatch.setattr(scaling_study, "ROOT", os.path.join(x2["q3"], "..", "lazy"))
    sf = scaling_study.build_dataset("q3", 1)
    assert os.path.exists(os.path.join(sf, "_done"))


@pytest.fixture(scope="module")
def x2_new(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("scale_new"))
    old = scaling_study.ROOT
    scaling_study.ROOT = root
    try:
        yield {
            study: scaling_study.build_dataset(study, 2)
            for study in ("minhash", "profile_sim")
        }
    finally:
        scaling_study.ROOT = old


def test_wordsalt_preserves_jaccard_structure_within_replica(x2_new):
    """The neardup replication salts EVERY word: within a replica the
    word-3-gram Jaccard between any two docs is EXACTLY the base value
    (a bijection on words), and across replicas NO shingle is shared —
    near-dup groups scale ×k instead of pairs inflating ×k²."""
    def shingles(text, k=3):
        w = text.split()
        return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}

    base = _col(scaling_study.BASE_SF, "documents", "text").to_pylist()
    r0 = _replica(x2_new["minhash"], "documents", 0, ["text"]).column("text").to_pylist()
    r1 = _replica(x2_new["minhash"], "documents", 1, ["text"]).column("text").to_pylist()
    assert len(r0) == len(base) == len(r1)

    def jac(a, b):
        sa, sb = shingles(a), shingles(b)
        if not sa and not sb:
            return None
        return (len(sa & sb), len(sa), len(sb))

    # within-replica structure identical to base on a row sample
    import itertools

    for i, j in itertools.islice(itertools.combinations(range(40), 2), 200):
        assert jac(base[i], base[j]) == jac(r0[i], r0[j]) == jac(r1[i], r1[j])
    # across replicas: zero shared shingles (even for the same base doc)
    for i in range(40):
        assert not (shingles(r0[i]) & shingles(r1[i]))


def test_profile_replication_scales_users_not_profiles(x2_new):
    """profile_sim replication must offset user_id (disjoint users per
    replica), keep ts UNSHIFTED (per-replica hour-of-day profiles equal
    the base ones), and keep event_id unique."""
    sf = x2_new["profile_sim"]
    base_users = _col(scaling_study.BASE_SF, "events", "user_id")
    users = _col(sf, "events", "user_id")
    assert pc.count_distinct(users).as_py() == 2 * pc.count_distinct(base_users).as_py()

    base_ts = _col(scaling_study.BASE_SF, "events", "ts")
    rep1_ts = _replica(sf, "events", 1, ["ts"]).column("ts")
    assert pc.min(rep1_ts).as_py() == pc.min(base_ts).as_py(), "ts must not shift"

    ids = _col(sf, "events", "event_id")
    assert pc.count_distinct(ids).as_py() == 2 * len(base_ts)


def test_small_scan_study_runs_at_its_smallest_size(spark, tmp_path):
    """The small_scan study (the source of tables/manager.py's
    SMALL_SCAN_BYTES) runs each shape at the smallest size, with both
    arms returning equal rows, and leaves the gate as it found it."""
    import empdia_iceberg_spark.tables.manager as mgr

    gates = mgr.SMALL_SCAN_BYTES, mgr.SMALL_SCAN_FILES
    out = scaling_study.run_small_scan_study(
        spark, scaling_study.SMALL_SCAN_MB[:1], reps=1, tiny_files=(), root=str(tmp_path)
    )
    assert [r["shape"] for r in out] == list(scaling_study.SMALL_SCAN_SHAPES)
    assert all(r["one_s"] > 0 and r["parallel_s"] > 0 for r in out)
    assert (mgr.SMALL_SCAN_BYTES, mgr.SMALL_SCAN_FILES) == gates
