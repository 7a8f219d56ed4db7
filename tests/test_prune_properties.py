"""Property tests for the pruning machinery: hive escape/unescape
roundtrip (against arbitrary strings), the bounds walk over Catalyst
conditions (never raises on any predicate Spark analyzes, bounds always
implied), and `SnapshotTable.plan_files` soundness over a table mixing
every partition layout."""

from __future__ import annotations

import datetime

import pytest
from hypothesis import example, given, reject, settings
from hypothesis import strategies as st
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from empdia_iceberg_spark.tables.manager import (
    HIVE_DEFAULT_PARTITION,
    SnapshotTable,
    hive_escape_value,
    hive_unescape_value,
    scratch_root,
)
from empdia_iceberg_spark.tables.sqlprune import bounds_from_conditions

_FAST = settings(max_examples=200, deadline=None)


@_FAST
@given(st.text(min_size=1, max_size=40))
def test_hive_escape_roundtrip(s):
    """unescape(escape(s)) == s for every non-empty string (empty and
    None map to the hive default sentinel by design)."""
    esc = hive_escape_value(s)
    assert esc is not None
    if esc == HIVE_DEFAULT_PARTITION:
        assert s == ""
    else:
        assert hive_unescape_value(esc) == s
        # escaped output never contains a path separator or '='
        assert "/" not in esc and "=" not in esc and "\\" not in esc


@_FAST
@given(st.integers(min_value=-(2**62), max_value=2**62))
def test_hive_escape_ints_identity(n):
    assert hive_escape_value(n) == str(n)
    assert hive_unescape_value(str(n)) == str(n)


_TYPED = "k int, l bigint, s string, ts timestamp, d date, v double, st struct<a:int>"


@pytest.fixture(scope="module")
def typed(spark, tmp_path_factory):
    """A typed empty parquet scan whose Filters the optimizer keeps."""
    return spark.read.schema(_TYPED).parquet(str(tmp_path_factory.mktemp("typed")))


def _conditions(frame, where: str, stages=("analyzed",)) -> list:
    """The Filter condition of each plan stage of ``frame.where(where)``."""
    qe = frame.where(where)._jdf.queryExecution()
    out = []
    for stage in stages:
        plan = getattr(qe, stage)()
        while plan.getClass().getSimpleName() != "Filter" and plan.children().size():
            plan = plan.children().apply(0)
        if plan.getClass().getSimpleName() == "Filter":
            out.append(plan.condition())
    return out


def _bounds(frame, where: str) -> dict:
    return bounds_from_conditions(_conditions(frame, where))


def _atoms(columns: list, literals):
    """Comparisons, IN lists and IS NULL over one family's columns and
    literals (either side of a comparison may be either)."""
    side = st.one_of(st.sampled_from(columns), literals)
    return st.one_of(
        st.builds("{} {} {}".format, side,
                  st.sampled_from(["=", "<", "<=", ">", ">=", "<=>", "!="]), side),
        st.builds(lambda c, xs: f"{c} IN ({', '.join(xs)})",
                  st.sampled_from(columns), st.lists(literals, min_size=1, max_size=12)),
        st.builds("{} IS NULL".format, st.sampled_from(columns)),
    )


_ATOM = st.one_of(
    _atoms(
        ["k", "l", "v", "st.a", "abs(k)", "k + 1", "CAST(k AS BIGINT)", "CAST(v AS INT)"],
        st.one_of(
            st.integers(-(2**40), 2**40).map(str),
            st.floats(allow_nan=False, allow_infinity=False, width=32).map(repr),
            st.sampled_from(["1.5BD", "CAST(5 AS BIGINT)", "NULL"]),
        ),
    ),
    _atoms(
        ["s", "upper(s)"],
        st.text(max_size=6).map(
            lambda t: "'" + t.replace("\\", "").replace("'", "''") + "'"
        ),
    ),
    _atoms(
        ["ts", "d", "CAST(ts AS DATE)"],
        st.sampled_from(["DATE'2024-01-03'", "TIMESTAMP'2024-01-03 04:05:06.7'",
                         "'2024-01-03'", "NULL"]),
    ),
)
_PREDICATE = st.recursive(
    _ATOM,
    lambda sub: st.one_of(
        st.builds("({}) AND ({})".format, sub, sub),
        st.builds("({}) OR ({})".format, sub, sub),
        st.builds("NOT ({})".format, sub),
    ),
    max_leaves=4,
)


@settings(max_examples=100, deadline=None, derandomize=True)
@given(_PREDICATE)
def test_walk_never_raises_on_any_analyzed_predicate(typed, where):
    """Any predicate Spark analyzes and optimizes: the walk may extract
    nothing, but it never raises and never returns a malformed bounds
    dict."""
    try:
        conds = _conditions(typed, where, ("analyzed", "optimizedPlan"))
    except (PySparkException, Py4JError):
        reject()  # not a predicate Spark accepts over these columns
    for cond in conds:
        b = bounds_from_conditions([cond])
        assert isinstance(b, dict)
        for col, (lo, hi) in b.items():
            assert col in ("k", "l", "s", "ts", "d", "v")
            assert lo is not None or hi is not None


@_FAST
@given(
    st.integers(min_value=-1000, max_value=1000),
    st.integers(min_value=-1000, max_value=1000),
    st.sampled_from([">", ">=", "<", "<=", "="]),
)
def test_int_bounds_are_implied(typed, v, probe, op):
    """For every integer conjunct `k <op> v` and every probe value: if
    the probe SATISFIES the conjunct, it must fall inside the
    extracted bounds (bounds admit a superset — the soundness
    contract)."""
    b = _bounds(typed, f"k {op} {v}")
    assert "k" in b
    lo, hi = b["k"]
    sat = {
        ">": probe > v,
        ">=": probe >= v,
        "<": probe < v,
        "<=": probe <= v,
        "=": probe == v,
    }[op]
    if sat:
        assert (lo is None or probe >= lo) and (hi is None or probe <= hi)


@_FAST
@given(st.lists(st.integers(min_value=-99, max_value=99), min_size=1, max_size=6))
def test_in_list_bounds_are_implied(typed, vals):
    b = _bounds(typed, f"k IN ({', '.join(map(str, vals))})")
    lo, hi = b["k"]
    assert lo == min(vals) and hi == max(vals)


@_FAST
@given(
    st.datetimes(
        min_value=datetime.datetime(2000, 1, 1),
        max_value=datetime.datetime(2030, 1, 1),
    ),
    st.sampled_from([">", ">=", "<", "<="]),
)
def test_ts_strictness_tightening_exact(typed, ts, op):
    """Strict timestamp bounds tighten by exactly 1 microsecond — the
    precision of Spark timestamps, so no value is ever excluded."""
    lit = ts.isoformat(sep=" ", timespec="microseconds")
    b = _bounds(typed, f"ts {op} TIMESTAMP '{lit}'")
    lo, hi = b["ts"]
    us = datetime.timedelta(microseconds=1)
    if op == ">":
        assert lo == ts + us
    elif op == ">=":
        assert lo == ts
    elif op == "<":
        assert hi == ts - us
    else:
        assert hi == ts


# ------------------------------------------------------ planner soundness

_S_VALUES = ["", "a", "a/b", "ab", "abc", "b", "ba", "c:d", None]
_DAY0 = datetime.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def mixed_table(spark):
    """One data dir per layout — unpartitioned, identity(s), days(ts),
    truncate(2, s), bucket(4, k) — with NULL and '' values, escaped
    strings, and one live MOR delete."""
    t = SnapshotTable(spark, "t_plan_props", scratch_root())
    t.drop()
    specs = [None, ["s"], ["days(ts)"], ["truncate(2, s)"], ["bucket(4, k)"]]
    for b, spec in enumerate(specs):
        rows = [
            (
                b * 100 + i,
                None if i == 7 else (b * 3 + i) % 12,
                _S_VALUES[(b + i) % len(_S_VALUES)],
                None if i == 5 else _DAY0 + datetime.timedelta(hours=7 * i + b),
            )
            for i in range(12)
        ]
        df = spark.createDataFrame(rows, "n int, k int, s string, ts timestamp")
        if b == 0:
            t.create(df)
            continue
        t.evolve_partitioning(spec)
        t.append(df)
    t.delete_where_mor(F.col("n") % 5 == 0, key="n")
    yield t
    t.drop()


def _range(values):
    return st.tuples(st.one_of(st.none(), values), st.one_of(st.none(), values))


_BOUNDS = st.fixed_dictionaries(
    {},
    optional={
        "n": _range(st.integers(-5, 420)),
        "k": st.one_of(
            _range(st.integers(-1, 12)),
            st.integers(-1, 12).map(lambda v: (v, v)),
            _range(st.integers(-1, 12).map(lambda v: v + 0.5)),
        ),
        "s": _range(st.sampled_from([v for v in _S_VALUES if v is not None])),
        "ts": _range(
            st.integers(0, 90).map(lambda h: _DAY0 + datetime.timedelta(hours=h))
        ),
    },
)


@settings(max_examples=25, deadline=None, derandomize=True)
@given(_BOUNDS)
@example({"s": (None, "b")})  # '' rows share the default partition
@example({"k": (3, 3), "ts": (_DAY0, None)})  # bucket probe, days range
def test_plan_files_is_sound(spark, mixed_table, bounds):
    """The planned read filtered by the bounds equals read() filtered by
    them, and every Decision level tallies considered = selected +
    pruned."""
    t = mixed_table
    meta = t._read_meta(t.current_version())
    paths, decision = t.plan_files(meta, bounds)
    for level in (decision.dirs, decision.subdirs, decision.files):
        assert level.selected + level.pruned == level.considered
    cond = F.lit(True)
    for col, (lo, hi) in bounds.items():
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
    want = sorted(r["n"] for r in t.read().filter(cond).select("n").collect())
    got = sorted(
        r["n"]
        for r in t._read_dirs_mor(meta, paths).filter(cond).select("n").collect()
    )
    assert got == want, (bounds, decision)


def test_plan_files_names_its_declines(spark, mixed_table):
    """A ts bound under a non-UTC session: the days(ts) dir reads whole
    and ts footer stats are not consulted, and the Decision says why."""
    t = mixed_table
    meta = t._read_meta(t.current_version())
    bounds = {"ts": (_DAY0, _DAY0 + datetime.timedelta(hours=5))}
    _paths, utc = t.plan_files(meta, bounds)
    assert utc.dirs.considered == 1 and utc.dirs.reason is None
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        paths, decision = t.plan_files(meta, bounds)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert decision.dirs.considered == 0 and decision.files.pruned == 0
    assert "America/New_York" in decision.dirs.reason
    assert "days(ts)" in decision.dirs.reason
    assert "UTC session" in decision.files.reason
    assert sorted(paths) == sorted(meta["dirs"])
