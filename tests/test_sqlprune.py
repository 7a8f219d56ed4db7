"""SQL-path partition pruning (VERDICT r14 ask #1): plain
`SELECT ... FROM t WHERE <partition predicate>` through execute_sql
binds the temp view to a dir-pruned read; scoping is proven by
Catalyst's own pushed-down filters, and anything unprovable falls back
to the full plan — never a semantics change."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from empdia_iceberg_spark.tables import sqlprune
from empdia_iceberg_spark.tables.ddl import execute_sql
from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root


@pytest.fixture()
def day_table(spark):
    t = SnapshotTable(spark, "t_sqlp_days", scratch_root())
    t.drop()
    df = spark.createDataFrame(
        [(f"2024-01-{d:02d} 12:00:00", d) for d in range(1, 6)],
        "raw string, n int",
    ).select(F.col("raw").cast("timestamp").alias("ts"), "n")
    t.create(df, partition_by=["days(ts)"])
    yield t
    t.drop()


def _audit(name):
    return sqlprune.LAST_SQL_PRUNE_AUDITS.get(name)


def test_cast_date_equality_prunes_to_one_subdir(spark, day_table):
    sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
    r = execute_sql(
        spark,
        "SELECT n FROM t_sqlp_days WHERE CAST(ts AS DATE) = DATE'2024-01-03'",
        scratch_root(),
    )
    assert [x["n"] for x in r.collect()] == [3]
    a = _audit("t_sqlp_days")
    assert a and a["subdirs_selected"] == 1 and a["subdirs_pruned"] == 4


def test_between_prunes_to_range(spark, day_table):
    sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
    r = execute_sql(
        spark,
        "SELECT n FROM t_sqlp_days WHERE ts BETWEEN "
        "TIMESTAMP'2024-01-02 00:00:00' AND TIMESTAMP'2024-01-04 23:59:59'",
        scratch_root(),
    )
    assert sorted(x["n"] for x in r.collect()) == [2, 3, 4]
    a = _audit("t_sqlp_days")
    assert a and a["subdirs_selected"] == 3 and a["subdirs_pruned"] == 2


def test_alias_and_subquery_scoping(spark, day_table):
    sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
    r = execute_sql(
        spark,
        "SELECT s.n FROM (SELECT * FROM t_sqlp_days AS x "
        "WHERE x.ts >= TIMESTAMP'2024-01-04 00:00:00') s",
        scratch_root(),
    )
    assert sorted(x["n"] for x in r.collect()) == [4, 5]
    a = _audit("t_sqlp_days")
    assert a and a["subdirs_selected"] == 2 and a["subdirs_pruned"] == 3


def test_cte_scoping(spark, day_table):
    sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
    r = execute_sql(
        spark,
        "WITH w AS (SELECT * FROM t_sqlp_days "
        "WHERE CAST(ts AS DATE) = DATE'2024-01-02') "
        "SELECT count(*) AS c FROM w",
        scratch_root(),
    )
    assert r.collect()[0]["c"] == 1
    a = _audit("t_sqlp_days")
    assert a and a["subdirs_selected"] == 1


def test_join_side_predicate(spark, day_table):
    spark.createDataFrame([(3, "three"), (4, "four")], "n int, w string") \
        .createOrReplaceTempView("sqlp_dim")
    sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
    r = execute_sql(
        spark,
        "SELECT d.w FROM t_sqlp_days t JOIN sqlp_dim d ON t.n = d.n "
        "WHERE CAST(t.ts AS DATE) = DATE'2024-01-03'",
        scratch_root(),
    )
    assert [x["w"] for x in r.collect()] == ["three"]
    a = _audit("t_sqlp_days")
    assert a and a["subdirs_selected"] == 1


def test_self_join_unions_bounds(spark, day_table):
    """Two scans of the same view with different day predicates: the
    shared pruned view must serve BOTH days (union of bounds)."""
    sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
    r = execute_sql(
        spark,
        "SELECT a.n AS n1, b.n AS n2 FROM t_sqlp_days a, t_sqlp_days b "
        "WHERE CAST(a.ts AS DATE) = DATE'2024-01-01' "
        "AND CAST(b.ts AS DATE) = DATE'2024-01-05'",
        scratch_root(),
    )
    rows = r.collect()
    assert [(x["n1"], x["n2"]) for x in rows] == [(1, 5)]
    a = _audit("t_sqlp_days")
    # union range [01, 05] covers all five days -> no subdir pruned;
    # pruning correctly declines to engage (audit may be absent)
    assert a is None or a["subdirs_pruned"] == 0


def test_union_all_with_unfiltered_occurrence_no_prune(spark, day_table):
    """One scan has no predicate -> the view must stay full."""
    sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
    r = execute_sql(
        spark,
        "SELECT n FROM t_sqlp_days WHERE CAST(ts AS DATE) = DATE'2024-01-01' "
        "UNION ALL SELECT n FROM t_sqlp_days",
        scratch_root(),
    )
    assert sorted(x["n"] for x in r.collect()) == [1, 1, 2, 3, 4, 5]
    assert _audit("t_sqlp_days") is None


def test_or_predicate_no_false_prune(spark, day_table):
    """OR is one unparseable conjunct -> no pruning, full correctness."""
    sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
    r = execute_sql(
        spark,
        "SELECT n FROM t_sqlp_days WHERE "
        "CAST(ts AS DATE) = DATE'2024-01-01' OR n = 5",
        scratch_root(),
    )
    assert sorted(x["n"] for x in r.collect()) == [1, 5]


def test_identity_string_partition_with_escaped_values(spark):
    t = SnapshotTable(spark, "t_sqlp_esc", scratch_root())
    t.drop()
    t.create(
        spark.createDataFrame(
            [("a/b", 1), ("x:y", 2), ("plain", 3)], "k string, n int"
        ),
        partition_by=["k"],
    )
    sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
    r = execute_sql(
        spark, "SELECT n FROM t_sqlp_esc WHERE k = 'a/b'", scratch_root()
    )
    assert [x["n"] for x in r.collect()] == [1]
    a = _audit("t_sqlp_esc")
    assert a and a["subdirs_selected"] == 1 and a["subdirs_pruned"] == 2
    t.drop()


def test_bucket_equality_through_sql(spark):
    t = SnapshotTable(spark, "t_sqlp_bucket", scratch_root())
    t.drop()
    df = spark.createDataFrame([(k, f"v{k}") for k in range(20)], "k int, v string")
    t.create(df, partition_by=["bucket(4, k)"])
    sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
    r = execute_sql(
        spark, "SELECT v FROM t_sqlp_bucket WHERE k = 7", scratch_root()
    )
    assert [x["v"] for x in r.collect()] == ["v7"]
    a = _audit("t_sqlp_bucket")
    assert a and a["subdirs_selected"] == 1 and a["subdirs_pruned"] == 3
    t.drop()


def test_sql_prune_composes_with_mor_deletes(spark, day_table):
    day_table.delete_where_mor(F.col("n") == 3, key="n")
    sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
    r = execute_sql(
        spark,
        "SELECT n FROM t_sqlp_days WHERE ts >= TIMESTAMP'2024-01-03 00:00:00'",
        scratch_root(),
    )
    assert sorted(x["n"] for x in r.collect()) == [4, 5]
    a = _audit("t_sqlp_days")
    assert a and a["mor_deletes_applied"] == 1 and a["subdirs_selected"] == 3


def test_full_view_restored_after_pruned_statement(spark, day_table):
    execute_sql(
        spark,
        "SELECT n FROM t_sqlp_days WHERE CAST(ts AS DATE) = DATE'2024-01-03'",
        scratch_root(),
    ).collect()
    assert spark.table("t_sqlp_days").count() == 5


def test_no_false_prune_property_battery(spark, day_table):
    """Every statement must return exactly what the full read returns —
    pruning engaged or not. Covers quoted edge cases, non-partition
    predicates, negations, IS NULL, functions of the partition source,
    strict bounds, and empty ranges."""
    full = day_table.read()
    full.createOrReplaceTempView("t_ref_full")
    battery = [
        "WHERE CAST(ts AS DATE) = DATE'2024-01-03'",
        "WHERE CAST(ts AS DATE) >= DATE'2024-01-04'",
        "WHERE ts > TIMESTAMP'2024-01-02 12:00:00'",
        "WHERE ts < TIMESTAMP'2024-01-03 00:00:00'",
        "WHERE ts <= TIMESTAMP'2024-01-03 00:00:00'",
        "WHERE ts = TIMESTAMP'2024-01-03 12:00:00'",
        "WHERE ts >= TIMESTAMP'2024-01-06 00:00:00'",  # empty range
        "WHERE n = 3",
        "WHERE NOT (CAST(ts AS DATE) = DATE'2024-01-03')",
        "WHERE ts IS NULL",
        "WHERE ts IS NOT NULL",
        "WHERE date_format(ts, 'yyyy-MM-dd') = '2024-01-03'",
        "WHERE hour(ts) = 12",
        "WHERE CAST(ts AS DATE) = DATE'2024-01-03' AND n > 0",
        "WHERE CAST(ts AS DATE) BETWEEN DATE'2024-01-02' AND DATE'2024-01-03'",
        "WHERE ts BETWEEN '2024-01-02' AND '2024-01-04'",
        "",
    ]
    for where in battery:
        got = sorted(
            x["n"]
            for x in execute_sql(
                spark, f"SELECT n FROM t_sqlp_days {where}", scratch_root()
            ).collect()
        )
        want = sorted(
            x["n"]
            for x in spark.sql(f"SELECT n FROM t_ref_full {where}").collect()
        )
        assert got == want, f"row mismatch for {where!r}: {got} != {want}"


_EDGE_SCHEMA = (
    "k int, l bigint, s string, ts timestamp, tn timestamp_ntz, d date, "
    "v double, f double, q decimal(12,2), st struct<a:int>"
)


@pytest.fixture(scope="module")
def typed_empty(spark, tmp_path_factory):
    """A typed empty parquet scan: the optimizer keeps a Filter over it
    (an empty LocalRelation would fold the Filter away)."""
    path = str(tmp_path_factory.mktemp("typed_empty"))
    return spark.read.schema(_EDGE_SCHEMA).parquet(path)


def _cond(frame, where: str, stage: str = "optimizedPlan"):
    plan = getattr(frame.where(where)._jdf.queryExecution(), stage)()
    while plan.getClass().getSimpleName() != "Filter":
        plan = plan.children().apply(0)
    return plan.condition()


def _bounds(frame, where: str, stage: str = "optimizedPlan") -> dict:
    return sqlprune.bounds_from_conditions([_cond(frame, where, stage)])


def test_bounds_parser_edge_cases(spark, typed_empty):
    """The bounds walk over Catalyst's own conditions, analyzed (the
    predicate-DML shapes, implicit coercions still cast) and optimized
    (the SQL read path): quoted ' AND ' inside literals, reversed
    operands, doubled quotes, cast-wrapped literals, long literals,
    IN lists (InSet beyond ten items), mixed families dropped."""
    import datetime

    e = typed_empty
    an = "analyzed"
    assert _bounds(e, "s = 'x AND y' AND k > 2") == {
        "s": ("x AND y", "x AND y"),
        "k": (3, None),
    }
    assert _bounds(e, "s = 'it''s'") == {"s": ("it's", "it's")}
    # reversed operand order flips the operator
    assert _bounds(e, "5 <= k") == {"k": (5, None)}
    # strict int bounds tighten to inclusive
    assert _bounds(e, "k > 5 AND k < 10") == {"k": (6, 9)}
    # timestamp strictness tightens by 1 microsecond
    lo, hi = _bounds(e, "ts > TIMESTAMP '2024-01-03 00:00:00'")["ts"]
    assert lo == datetime.datetime(2024, 1, 3, 0, 0, 0, 1) and hi is None
    lo, hi = _bounds(e, "tn < TIMESTAMP_NTZ '2024-01-03 00:00:00'")["tn"]
    assert lo is None and hi == datetime.datetime(2024, 1, 2, 23, 59, 59, 999999)
    # cast-wrapped literals (analyzed-plan shapes) and long literals
    assert _bounds(e, "l = 1500", an) == {"l": (1500, 1500)}
    assert _bounds(e, "l >= 100") == {"l": (100, None)}
    assert _bounds(e, "d = '2024-01-03'", an) == {
        "d": (datetime.date(2024, 1, 3),) * 2
    }
    # float literals: CAST(1.5BD AS DOUBLE) analyzed, 1.5D optimized
    assert _bounds(e, "v < 1.5", an) == {"v": (None, 1.5)}
    assert _bounds(e, "v < 1.5") == {"v": (None, 1.5)}
    # OR -> ignored; contradictory bounds survive as an empty range
    assert _bounds(e, "k = 1 OR k = 2", an) == {}
    assert _bounds(e, "k > 10 AND k < 5", an) == {"k": (11, 4)}
    # one column bounded by two families (numbers, strings) -> dropped
    s_frame = spark.createDataFrame([], "k string")
    assert sqlprune.bounds_from_conditions(
        [_cond(e, "k > 5", an), _cond(s_frame, "k < 'z'", an)]
    ) == {}
    # IN lists bound to [min, max]; widening column casts unwrap
    assert _bounds(e, "k IN (7, 2, 5)") == {"k": (2, 7)}
    assert _bounds(e, "s IN ('b', 'a')") == {"s": ("a", "b")}
    # analyzed: (CAST(l AS BIGINT) IN (CAST(1 AS BIGINT), CAST(3 AS BIGINT)))
    assert _bounds(e, "l IN (1, 3)", an) == {"l": (1, 3)}
    assert _bounds(e, "CAST(k AS BIGINT) IN (1, 3)", an) == {"k": (1, 3)}
    assert _bounds(e, "CAST(k AS BIGINT) >= 5", an) == {"k": (5, None)}
    assert _bounds(e, "k = CAST(42 AS BIGINT)", an) == {"k": (42, 42)}
    # a literal cast to a decimal bounds as a number, never tightened
    # like an int: q > 5 holds for q = 5.5
    assert _bounds(e, "q > CAST(5 AS DECIMAL(12,2))", an) == {"q": (5.0, None)}
    # IN with a non-literal member: whole conjunct ignored
    assert _bounds(e, "k IN (1, l)", an) == {}
    # more than ten members: the optimizer's InSet, read from the JVM
    many = ", ".join(str(i) for i in range(20, 8, -1))
    assert _cond(e, f"k IN ({many})").getClass().getSimpleName() == "InSet"
    assert _bounds(e, f"k IN ({many})") == {"k": (9, 20)}
    assert _bounds(e, f"k IN ({many}, NULL)") == {}
    words = ", ".join(f"'w{i:02d}'" for i in range(12))
    assert _bounds(e, f"s IN ({words})") == {"s": ("w00", "w11")}
    cents = ", ".join(f"{i}.25" for i in range(12))
    assert _bounds(e, f"q IN ({cents})") == {"q": (0.25, 11.25)}
    days = ", ".join(f"DATE'2024-01-{i:02d}'" for i in range(1, 13))
    assert _bounds(e, f"d IN ({days})") == {
        "d": (datetime.date(2024, 1, 1), datetime.date(2024, 1, 12))
    }
    # narrowing column casts and struct fields bound nothing
    assert _bounds(e, "CAST(f AS BIGINT) = 5", an) == {}
    assert _bounds(e, "CAST(f AS BIGINT) = 5") == {}
    assert _bounds(e, "st.a = 5") == {}


def test_timestamp_bounds_follow_the_session_zone(spark, typed_empty):
    """Under a non-UTC session a TIMESTAMP literal bounds the session-zone
    wall time `.sql()` prints, and an InSet's members (UTC micros in
    the JVM) convert to that same wall time."""
    import datetime

    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        cond = _cond(typed_empty, "ts >= TIMESTAMP '2024-03-10 02:30:00.25'")
        lo, hi = sqlprune.bounds_from_conditions([cond])["ts"]
        printed = cond.sql().split("TIMESTAMP '")[1].split("'")[0]
        assert lo == datetime.datetime.fromisoformat(printed)
        assert lo == datetime.datetime(2024, 3, 10, 3, 30, 0, 250000)
        stamps = ", ".join(
            f"TIMESTAMP'2024-01-{i:02d} 01:02:03.5'" for i in range(1, 13)
        )
        assert _bounds(typed_empty, f"ts IN ({stamps})") == {
            "ts": (
                datetime.datetime(2024, 1, 1, 1, 2, 3, 500000),
                datetime.datetime(2024, 1, 12, 1, 2, 3, 500000),
            )
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def _table(spark, name, schema, *batches):
    t = SnapshotTable(spark, name, scratch_root())
    t.drop()
    t.create(spark.createDataFrame(batches[0], schema).coalesce(1))
    for rows in batches[1:]:
        t.append(spark.createDataFrame(rows, schema).coalesce(1))
    return t


def test_narrowing_column_cast_bounds_nothing(spark):
    """CAST(f AS BIGINT) = 5 holds for f = 5.3 and 5.7: a narrowing cast
    is not value-preserving, so it must not become the bound f = 5
    (whose footer stats would prune both files), on reads and on DML."""
    t = _table(
        spark, "t_sqlp_narrow", "k int, f double",
        [(1, 5.3), (2, 5.7)], [(3, 1.0), (4, 2.0)],
    )
    r = execute_sql(
        spark,
        "SELECT count(*) AS c FROM t_sqlp_narrow WHERE CAST(f AS BIGINT) = 5",
        scratch_root(),
    )
    assert r.collect()[0]["c"] == 2
    v0 = t.current_version()
    execute_sql(
        spark, "DELETE FROM t_sqlp_narrow WHERE CAST(f AS BIGINT) = 5", scratch_root()
    )
    assert t.current_version() == v0 + 1
    assert sorted(x["f"] for x in t.read().collect()) == [1.0, 2.0]
    assert SnapshotTable._DML_STATS_AUDITS["t_sqlp_narrow"]["bounded_columns"] == []
    t.drop()


def test_struct_field_is_not_a_column(spark):
    """`s.a = 5` compares a nested field; it bounds nothing, least of all
    the top-level column `a`."""
    t = _table(spark, "t_sqlp_nested", "a int, s struct<a:int>", [(1, (5,))])
    r = execute_sql(
        spark, "SELECT count(*) AS c FROM t_sqlp_nested WHERE s.a = 5", scratch_root()
    )
    assert r.collect()[0]["c"] == 1
    t.drop()


def test_widening_column_cast_still_prunes(spark):
    """The analyzed DML plan keeps `CAST(k AS BIGINT) >= CAST(25 AS
    BIGINT)` over an int column: a widening cast unwraps to k >= 25."""
    t = SnapshotTable(spark, "t_sqlp_widen", scratch_root())
    t.drop()
    one_file = lambda lo: spark.range(lo, lo + 10, numPartitions=1).selectExpr(
        "CAST(id AS INT) AS k"
    )
    t.create(one_file(0))
    t.append(one_file(10))
    t.append(one_file(20))
    execute_sql(
        spark, "DELETE FROM t_sqlp_widen WHERE CAST(k AS BIGINT) >= 25", scratch_root()
    )
    audit = SnapshotTable._DML_STATS_AUDITS["t_sqlp_widen"]
    assert audit["bounded_columns"] == ["k"]
    assert audit["files_skipped_by_stats"] == 2, audit
    assert t.read().count() == 25
    t.drop()


def test_a_fault_in_the_walk_is_not_swallowed(spark, day_table, monkeypatch):
    """Only Spark, py4j and metadata-read errors fall back to the full
    plan; a bug of the bounds walk itself raises instead of silently
    turning every pruned read into a full scan."""

    def broken(_conds):
        raise TypeError("a fault in the bounds walk")

    monkeypatch.setattr(sqlprune, "bounds_from_conditions", broken)
    with pytest.raises(TypeError, match="bounds walk"):
        execute_sql(spark, "SELECT n FROM t_sqlp_days WHERE n = 3", scratch_root())


def test_file_stats_refine_nonpartition_predicate(spark):
    """Within the transform-selected subdirs, footer-stat sidecars
    skip files whose ranges miss NON-partition bounds — SQL pruning
    reaches columns the partition transforms can't see."""
    t = SnapshotTable(spark, "t_sqlp_stats", scratch_root())
    t.drop()
    rows = [
        (f"2024-01-{d:02d} 12:00:00", n)
        for d in (1, 2, 3)
        for n in range(d * 100, d * 100 + 10)
    ]
    df = spark.createDataFrame(rows, "raw string, n int").select(
        F.col("raw").cast("timestamp").alias("ts"), "n"
    )
    # one dir, three day-subdirs; n ranges are disjoint per day, so a
    # bound on n can prove two of the three subdirs' files irrelevant
    t.create(df.coalesce(1), partition_by=["days(ts)"])
    sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
    r = execute_sql(
        spark,
        "SELECT n FROM t_sqlp_stats WHERE ts >= TIMESTAMP'2024-01-01 00:00:00' "
        "AND n BETWEEN 200 AND 205",
        scratch_root(),
    )
    assert sorted(x["n"] for x in r.collect()) == list(range(200, 206))
    a = sqlprune.LAST_SQL_PRUNE_AUDITS.get("t_sqlp_stats")
    assert a and a["files_skipped_by_stats"] >= 2, a
    t.drop()


def test_stats_only_prune_on_unpartitioned_table(spark):
    """An UNPARTITIONED table still file-prunes through plain SQL when
    footer stats prove files irrelevant (three appends with disjoint
    key ranges; the statement's bound hits one)."""
    t = SnapshotTable(spark, "t_sqlp_flat", scratch_root())
    t.drop()
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    t.create(mk(0, 100))
    t.append(mk(100, 200))
    t.append(mk(200, 300))
    sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
    r = execute_sql(
        spark,
        "SELECT count(*) AS c, sum(k) AS s FROM t_sqlp_flat "
        "WHERE k BETWEEN 120 AND 130",
        scratch_root(),
    ).collect()[0]
    assert (r["c"], r["s"]) == (11, sum(range(120, 131)))
    a = sqlprune.LAST_SQL_PRUNE_AUDITS.get("t_sqlp_flat")
    assert a and a["files_skipped_by_stats"] == 2, a
    t.drop()


def test_insert_source_select_prunes(spark, day_table):
    """INSERT INTO t2 SELECT ... FROM t WHERE <day predicate> — the
    backfill shape — prunes the SOURCE read and lands exactly the
    oracle rows."""
    execute_sql(spark, "DROP TABLE IF EXISTS t_sqlp_bf", scratch_root())
    execute_sql(
        spark,
        "CREATE TABLE t_sqlp_bf AS SELECT * FROM t_sqlp_days WHERE 1 = 0",
        scratch_root(),
    )
    sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
    execute_sql(
        spark,
        "INSERT INTO t_sqlp_bf SELECT * FROM t_sqlp_days "
        "WHERE CAST(ts AS DATE) BETWEEN DATE'2024-01-02' AND DATE'2024-01-03'",
        scratch_root(),
    )
    got = sorted(
        r["n"]
        for r in execute_sql(
            spark, "SELECT n FROM t_sqlp_bf", scratch_root()
        ).collect()
    )
    assert got == [2, 3]
    a = sqlprune.LAST_SQL_PRUNE_AUDITS.get("t_sqlp_days")
    assert a and a["subdirs_selected"] == 2 and a["subdirs_pruned"] == 3
    execute_sql(spark, "DROP TABLE IF EXISTS t_sqlp_bf", scratch_root())


def test_prune_through_persisted_view_stays_correct(spark, day_table):
    """A statement over a persisted VIEW of a partitioned table: the
    view's frame is already bound, so pruning may or may not engage —
    the result must equal the full evaluation either way."""
    execute_sql(spark, "DROP VIEW IF EXISTS v_sqlp_days", scratch_root())
    execute_sql(
        spark,
        "CREATE VIEW v_sqlp_days AS SELECT ts, n FROM t_sqlp_days",
        scratch_root(),
    )
    r = execute_sql(
        spark,
        "SELECT n FROM v_sqlp_days WHERE CAST(ts AS DATE) = DATE'2024-01-03'",
        scratch_root(),
    )
    assert [x["n"] for x in r.collect()] == [3]
    execute_sql(spark, "DROP VIEW IF EXISTS v_sqlp_days", scratch_root())


def test_view_cache_serves_fresh_state_after_commits(spark):
    """The version-keyed frame cache must never serve stale state:
    write → SQL read → write → SQL read sees every commit, and a
    DROP+recreate at the same version number is caught by the
    meta-file identity key."""
    t = SnapshotTable(spark, "t_sqlp_fresh", scratch_root())
    t.drop()
    t.create(spark.createDataFrame([(1,)], "k int"))
    c1 = execute_sql(
        spark, "SELECT count(*) c FROM t_sqlp_fresh", scratch_root()
    ).collect()[0]["c"]
    t.append(spark.createDataFrame([(2,)], "k int"))
    c2 = execute_sql(
        spark, "SELECT count(*) c FROM t_sqlp_fresh", scratch_root()
    ).collect()[0]["c"]
    assert (c1, c2) == (1, 2)
    t.drop()
    t2 = SnapshotTable(spark, "t_sqlp_fresh", scratch_root())
    t2.create(spark.createDataFrame([(9,), (8,), (7,)], "k int"))
    c3 = execute_sql(
        spark, "SELECT count(*) c FROM t_sqlp_fresh", scratch_root()
    ).collect()[0]["c"]
    assert c3 == 3, "DROP+recreate at v1 served a stale cached frame"
    t2.drop()


def test_tz_mismatch_degrades_to_full_scan(spark, day_table):
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        sqlprune.LAST_SQL_PRUNE_AUDITS.clear()
        r = execute_sql(
            spark,
            "SELECT n FROM t_sqlp_days WHERE "
            "ts >= TIMESTAMP'2024-01-03 00:00:00'",
            scratch_root(),
        )
        # NY rendering of these UTC-written instants shifts the day
        # boundary; the only safe read is a full scan — and the rows
        # must equal the full-view evaluation under the SAME session tz
        want = sorted(
            x["n"]
            for x in day_table.read()
            .filter(F.col("ts") >= F.lit("2024-01-03 00:00:00").cast("timestamp"))
            .collect()
        )
        assert sorted(x["n"] for x in r.collect()) == want
        a = sqlprune.LAST_SQL_PRUNE_AUDITS.get("t_sqlp_days")
        assert a is None or a["subdirs_selected"] == 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
