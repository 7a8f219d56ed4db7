"""Property tests (hypothesis) for the reference-semantics invariants
SURVEY.md §5 prescribes: role-swap involution (R18), positional-split
partition sizes (R3), sigmoid reward bounds (R39), termination
precedence (R28 > R30 > R31 > R32).

Each property runs ONE Spark job per example, so example counts are
kept small; the generators still cover the edge shapes that matter
(empty lists, single turns, all-identical layers, boundary turns)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from empdia_iceberg_spark.functions.messages import role_swap
from empdia_iceberg_spark.functions.reward import per_turn_scores
from empdia_iceberg_spark.functions.termination import MAX_TURNS, with_termination
from empdia_iceberg_spark.plans.prep import positional_split

_SETTINGS = settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)

_messages = st.lists(
    st.tuples(
        st.sampled_from(["user", "assistant", "system", "narrator"]),
        st.text(alphabet="abc ", max_size=8),
    ),
    max_size=6,
)


@_SETTINGS
@given(_messages)
def test_role_swap_is_an_involution(spark, msgs):
    """swap(swap(m)) == m for every message list (R18)."""
    df = spark.createDataFrame(
        [(1, [{"role": r, "content": c} for r, c in msgs])],
        schema="id int, msgs array<struct<role:string,content:string>>",
    )
    out = df.select(role_swap(role_swap(F.col("msgs"))).alias("m2")).collect()[0].m2
    assert [(m.role, m.content) for m in out] == msgs


@_SETTINGS
@given(st.integers(min_value=1, max_value=40), st.sampled_from([0.5, 0.7, 0.9]))
def test_positional_split_sizes(spark, n, frac):
    """train gets exactly int(n*frac) rows, by position (R3)."""
    df = spark.range(n).withColumnRenamed("id", "k")
    tagged, cut = positional_split(df, "k", train_frac=frac, buckets=4)
    counts = {r.split: r.cnt for r in tagged.groupBy("split").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert cut == int(n * frac)
    assert counts.get("train", 0) == cut
    assert counts.get("test", 0) == n - cut
    # positional: every train key precedes every test key in order
    train_max = tagged.filter(F.col("split") == "train").agg(F.max("k")).first()[0]
    test_min = tagged.filter(F.col("split") == "test").agg(F.min("k")).first()[0]
    if train_max is not None and test_min is not None:
        assert train_max < test_min


@_SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(1, 5), st.floats(0.0, 1.0)), min_size=1, max_size=12
    )
)
def test_reward_scores_strictly_in_unit_interval(spark, turns):
    """σ(k·(raw−c)) ∈ (0,1) for any layer/confidence sequence (R39)."""
    rows = [(1, i + 1, layer, conf) for i, (layer, conf) in enumerate(turns)]
    lh = spark.createDataFrame(
        rows, schema="dia_id int, turn int, layer int, confidence double"
    )
    scores = [r.score for r in per_turn_scores(lh).collect()]
    assert all(0.0 < s < 1.0 for s in scores)


@_SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(1, 5), st.booleans()), min_size=1, max_size=25
    )
)
def test_termination_precedence(spark, turns):
    """empty > max_turns > no_progress_6 > perception_5, per turn
    (empathy_interaction.py:299-311)."""
    rows = [
        (1, i + 1, layer, is_empty, "x") for i, (layer, is_empty) in enumerate(turns)
    ]
    log = spark.createDataFrame(
        rows, schema="dia_id int, turn int, layer int, is_empty boolean, next_user string"
    )
    out = sorted(with_termination(log).collect(), key=lambda r: r.turn)
    layers = [r.layer for r in out]
    for i, r in enumerate(out):
        trailing6 = layers[max(0, i - 5) : i + 1]
        trailing5 = layers[max(0, i - 4) : i + 1]
        if r.is_empty:
            expect = "empty_next_user"
        elif r.turn >= MAX_TURNS:
            expect = "max_turns"
        elif len(trailing6) == 6 and len(set(trailing6)) == 1:
            expect = "no_progress_6"
        elif len(trailing5) == 5 and all(x == 5 for x in trailing5):
            expect = "perception_5"
        else:
            expect = ""
        assert r.terminate_reason == expect, (i, r)
        assert r.deepest_layer == max(layers[: i + 1])


_event_times = st.lists(
    st.lists(st.integers(min_value=0, max_value=120), min_size=1, max_size=12),
    min_size=1,
    max_size=3,
)


@_SETTINGS
@given(_event_times)
def test_sessionize_partitions_events_by_gap(spark, per_user):
    """Sessions partition each user's events; consecutive events within
    a session are <= gap apart; a new session starts iff the gap from
    the previous event exceeds the threshold (boundary: == gap stays in
    the same session). Times are minutes; gap = 10 minutes."""
    from empdia_iceberg_spark.operators.subqueries import sessionize

    gap_min = 10
    rows = []
    eid = 0
    for uid, times in enumerate(per_user):
        for t in sorted(times):
            rows.append((uid, eid, t))
            eid += 1
    df = spark.createDataFrame(rows, "user_id long, event_id long, t int").select(
        "user_id",
        "event_id",
        F.timestamp_seconds(F.col("t") * 60).alias("ts"),
    )
    out = sessionize(df, gap_min * 60 * 1_000_000).collect()

    for uid, times in enumerate(per_user):
        ts = sorted(times)
        # reference sessionization in plain Python
        expected = []
        for t in ts:
            if expected and t - expected[-1][-1] <= gap_min:
                expected[-1].append(t)
            else:
                expected.append([t])
        got = sorted(
            [r for r in out if r.user_id == uid], key=lambda r: r.session_seq
        )
        assert len(got) == len(expected), (uid, ts, got)
        assert sum(r.n_events for r in got) == len(ts)
        for r, exp in zip(got, expected):
            assert r.n_events == len(exp)


def test_ewma16_matches_untruncated_recursion_within_bound(spark):
    """The 16-lag truncated EWMA must sit within max|x|·2^-16 (plus the
    det_round(6) grain) of the exact untruncated recursion
    s_n = x_n/2 + s_{n-1}/2 computed sequentially in Python."""
    from empdia_iceberg_spark import registry
    from tests.conftest import SF_DIR

    rows = (
        registry.queries()["events_ewma16_user"](spark, SF_DIR)
        .collect()
    )
    got = {r["event_id"]: r["ewma16"] for r in rows}

    from empdia_iceberg_spark.sources.tables import load

    events = (
        load(spark, SF_DIR, "events")
        .select("event_id", "user_id", "ts", "value")
        .collect()
    )
    events.sort(key=lambda r: (r["user_id"], r["ts"], r["event_id"]))
    bound = max(abs(r["value"]) for r in events) * 2.0**-16 + 1e-6
    state: dict = {}
    for r in events:
        s = 0.5 * r["value"] + 0.5 * state.get(r["user_id"], 0.0)
        state[r["user_id"]] = s
        assert abs(got[r["event_id"]] - s) <= bound, r["event_id"]


def test_results_invariant_under_shuffle_parallelism(spark):
    """Bit-determinism across partitionings: the decimal-fold /
    det_round discipline means float-producing queries return
    IDENTICAL rows whether the shuffle runs at 3 or 32 partitions —
    the property that makes results reproducible between a laptop
    and a 1000-executor cluster."""
    from empdia_iceberg_spark import registry
    from tests.conftest import SF_DIR, rows_key

    names = [
        "q1_pricing_agg",
        "stats_exact_moments",
        "daily_acf_value",
        "parts_abc_pareto",
        "ols_quantity_price",
        "nb_lang_confusion",
        "weighted_quantiles_quantity",
        "spearman_qty_price",
        "anova_acctbal_segments",
        "mi_events_type_hour",
        "classifier_agreement_kappa",
        "events_linear_interpolate",
    ]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for parts in ("3", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for name in names:
                df = registry.queries()[name](spark, SF_DIR)
                key = rows_key([tuple(r) for r in df.collect()], df.columns)
                results.setdefault(name, []).append(key)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for name, (a, b) in results.items():
        assert a == b, f"{name}: result depends on shuffle parallelism"


@given(
    totals=st.lists(
        st.integers(min_value=1, max_value=10_000_000),  # cents
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_revenue_recognition_reconciles_exactly(spark, totals):
    """The 3-way integer-cents split must sum back to each total
    EXACTLY for arbitrary amounts — the reconciliation invariant the
    operator's oracle relies on."""
    for cents in totals:
        third = cents // 3
        parts = [cents - 2 * third, third, third]
        assert sum(parts) == cents
        assert max(parts) - min(parts) <= 2  # near-equal installments


def test_weighted_quantiles_match_bruteforce(spark):
    """bucketed-prefix-sum weighted quantiles == the O(n log n) python
    brute force on the real sf0.001 data."""
    from empdia_iceberg_spark import registry
    from empdia_iceberg_spark.sources.tables import load
    from tests.conftest import SF_DIR

    row = registry.queries()["weighted_quantiles_quantity"](spark, SF_DIR).collect()[0]
    data = sorted(
        (r["l_quantity"], r["l_extendedprice"])
        for r in load(spark, SF_DIR, "lineitem")
        .select("l_quantity", "l_extendedprice")
        .collect()
    )
    total = sum(w for _, w in data)

    def crossing(p_num: int, p_den: int) -> float:
        acc = 0.0
        for v, w in data:
            acc += w
            if acc * p_den >= p_num * total - 1e-6:
                return v
        return data[-1][0]

    assert row["w_median"] == crossing(1, 2)
    assert row["w_p90"] == crossing(9, 10)


def test_kcore_peeling_is_idempotent(spark):
    """Running the registered k-core query twice gives identical counts
    (fixpoint stability), and the 3-core is a subgraph of the 2-core."""
    from empdia_iceberg_spark import registry
    from tests.conftest import SF_DIR

    a = {r["k"]: (r["n_nodes"], r["n_edges"])
         for r in registry.queries()["graph_kcore_sizes"](spark, SF_DIR).collect()}
    b = {r["k"]: (r["n_nodes"], r["n_edges"])
         for r in registry.queries()["graph_kcore_sizes"](spark, SF_DIR).collect()}
    assert a == b
    assert a[3][0] <= a[2][0] and a[3][1] <= a[2][1]


def test_word_shingles_matches_per_bit_reference(spark):
    """The r7 slice/zip shingle construction must produce exactly the
    arrays the naive per-index definition gives (order preserved,
    first-occurrence dedup, <k-token texts -> empty array)."""
    from pyspark.sql import functions as F

    from empdia_iceberg_spark.operators.dedup import SHINGLE_WORDS, word_shingles

    texts = [
        "",
        "one",
        "one two",
        "one two three",
        "a b c d e f g",
        "dup dup dup dup dup",
        "x y x y x y x y",  # repeated shingles -> dedup keeps first
        "  leading and   multi   spaces here",
        "tab\tand\nnewline separated tokens go here",
    ]

    def py_shingles(t: str, k: int = SHINGLE_WORDS) -> list[str]:
        import re

        toks = re.split(r"\s+", t)
        if len(toks) < k:
            return []
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        seen, out = set(), []
        for g in grams:
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    df = spark.createDataFrame([(t,) for t in texts], "text string").select(
        "text", word_shingles(F.col("text")).alias("sh")
    )
    for r in df.collect():
        assert list(r["sh"]) == py_shingles(r["text"]), r["text"]


def test_morton_spread_matches_per_bit_reference(spark):
    """The r7 magic-number Morton cascade must equal the per-bit
    interleave (bit i of x at 2i, bit i of y at 2i+1) across the full
    21-bit domain, including the corner values."""
    import random

    from pyspark.sql import functions as F

    from empdia_iceberg_spark.operators.layout import Z_BITS, morton_spark

    def py_morton(a: int, b: int) -> int:
        z = 0
        for i in range(Z_BITS):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    rng = random.Random(42)
    top = 2**Z_BITS - 1
    pairs = [(0, 0), (top, top), (top, 0), (0, top), (1, top)] + [
        (rng.randrange(0, top + 1), rng.randrange(0, top + 1)) for _ in range(500)
    ]
    df = spark.createDataFrame(pairs, "a long, b long").select(
        "a", "b", morton_spark("a", "b").alias("z")
    )
    for r in df.collect():
        assert r["z"] == py_morton(r["a"], r["b"]), (r["a"], r["b"])


def test_morton_honors_bits_param_and_validates(spark):
    """morton_spark must honor a non-default ``bits`` (the magic-number
    cascade previously hardcoded the 21-bit mask, silently diverging
    from the per-bit morton_sql oracle for values >= 2^21) and both
    sides must reject bits outside [1, 31] (bit 2*31+1 = 63 is the
    int64 sign bit)."""
    import random

    import pytest
    from pyspark.sql import functions as F

    from empdia_iceberg_spark.operators.layout import morton_spark, morton_sql

    def py_morton(a: int, b: int, bits: int) -> int:
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    rng = random.Random(7)
    for bits in (8, 24, 31):
        top = 2**bits - 1
        pairs = [(0, 0), (top, top), (top, 0), (0, top)] + [
            (rng.randrange(0, top + 1), rng.randrange(0, top + 1))
            for _ in range(200)
        ]
        df = spark.createDataFrame(pairs, "a long, b long").select(
            "a", "b", morton_spark("a", "b", bits=bits).alias("z")
        )
        for r in df.collect():
            assert r["z"] == py_morton(r["a"], r["b"], bits), (bits, r["a"], r["b"])
    # DuckDB mirror agrees above 2^21 too
    import duckdb

    con = duckdb.connect()
    expr = morton_sql("a", "b", bits=24)
    a, b = 2**23 + 12345, 2**22 + 678
    got = con.execute(
        f"SELECT {expr} FROM (SELECT {a}::BIGINT a, {b}::BIGINT b)"
    ).fetchone()[0]
    assert got == py_morton(a, b, 24)
    for bad in (0, 32, -1):
        with pytest.raises(ValueError):
            morton_spark("a", "b", bits=bad)
        with pytest.raises(ValueError):
            morton_sql("a", "b", bits=bad)


def test_hilbert_kernel_matches_reference_and_is_a_true_curve(spark):
    """hilbert_spark must equal the classic xy2d recurrence (pure-Python
    reference) and satisfy the DEFINING Hilbert property on a full
    2^bits x 2^bits grid: d is a bijection onto [0, 4^bits) and
    consecutive d values are grid NEIGHBORS (unit Manhattan step) — the
    locality guarantee Morton lacks at quadrant boundaries."""
    import numpy as np

    from empdia_iceberg_spark.operators.layout import hilbert_spark
    from pyspark.sql import functions as F

    def xy2d(n: int, x: int, y: int) -> int:
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    bits, n = 4, 16
    pts = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(pts, "x long, y long").select(
        "x", "y", hilbert_spark(F.col("x"), F.col("y"), bits=bits).alias("d")
    )
    rows = df.collect()
    assert all(r["d"] == xy2d(n, r["x"], r["y"]) for r in rows)
    by_d = sorted(rows, key=lambda r: r["d"])
    assert [r["d"] for r in by_d] == list(range(n * n)), "not a bijection"
    steps = [
        abs(a["x"] - b["x"]) + abs(a["y"] - b["y"])
        for a, b in zip(by_d, by_d[1:])
    ]
    assert all(s == 1 for s in steps), "consecutive curve points must be neighbors"


def test_hilbert_kernel_large_bits_and_validation(spark):
    """At the production bits=21 the kernel must agree with the
    reference on random coordinates (int64 headroom: d < 2^42), mask
    out-of-range inputs instead of overflowing, and reject bad bits."""
    import random

    import pytest
    from pyspark.sql import functions as F

    from empdia_iceberg_spark.operators.layout import Z_BITS, hilbert_spark

    def xy2d(n: int, x: int, y: int) -> int:
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    rng = random.Random(42)
    n = 1 << Z_BITS
    pts = [(rng.randrange(n), rng.randrange(n)) for _ in range(200)]
    pts.append((0, 0))
    pts.append((n - 1, n - 1))
    pts.append((n + 5, 3))  # out of range: masked to (5, 3)
    df = spark.createDataFrame(pts, "x long, y long").select(
        "x", "y", hilbert_spark(F.col("x"), F.col("y")).alias("d")
    )
    for r in df.collect():
        assert r["d"] == xy2d(n, r["x"] & (n - 1), r["y"] & (n - 1))
    for bad in (0, 32):
        with pytest.raises(ValueError):
            hilbert_spark(F.col("x"), F.col("y"), bits=bad)


def test_hilbert_propagates_nulls_like_morton(spark):
    """r10 review: hilbert_spark must yield NULL for a NULL dimension —
    the same propagation as morton_spark's built-in expressions — not
    silently coerce the null to 0 (which would cluster unknown values
    with the dimension minimum)."""
    from pyspark.sql import functions as F

    from empdia_iceberg_spark.operators.layout import hilbert_spark, morton_spark

    df = spark.createDataFrame(
        [(1, 5, 9), (2, None, 9), (3, 5, None), (4, None, None)],
        "id long, x long, y long",
    ).select(
        "id",
        hilbert_spark(F.col("x"), F.col("y"), bits=4).alias("h"),
        morton_spark(F.col("x"), F.col("y"), bits=4).alias("z"),
    )
    rows = {r.id: (r.h, r.z) for r in df.collect()}
    assert rows[1][0] is not None and rows[1][1] is not None
    for i in (2, 3, 4):
        assert rows[i][0] is None, f"hilbert must be NULL for row {i}"
        assert rows[i][1] is None, f"morton must be NULL for row {i}"


def test_hilbert_sql_mirror_matches_kernel_on_edges(spark):
    """r11 (r10 ADVICE): the DuckDB CTE mirror must be value-identical
    to the Spark kernel INCLUDING edge semantics — NULL in either
    dimension yields NULL _hd (the per-level CASE ELSE branches used to
    swallow the NULL comparison and emit _hd = 0), and out-of-range
    inputs are masked to [0, 2^bits) like the kernel's ``& mask``."""
    import duckdb
    from pyspark.sql import functions as F

    from empdia_iceberg_spark.operators.layout import hilbert_spark, hilbert_sql_ctes

    bits, n = 4, 16
    pts = [(i, x, y) for i, (x, y) in enumerate(
        [(0, 0), (15, 15), (5, 9), (None, 9), (5, None), (None, None),
         (n + 5, 3), (-1, 2), (7, n + n + 1)]
    )]
    sdf = spark.createDataFrame(pts, "id long, x long, y long").select(
        "id", hilbert_spark(F.col("x"), F.col("y"), bits=bits).alias("d")
    )
    spark_d = {r.id: r.d for r in sdf.collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE pts (id BIGINT, x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO pts VALUES (?, ?, ?)", pts)
    ctes, last = hilbert_sql_ctes("x", "y", bits, "pts")
    duck_d = dict(con.execute(f"WITH {ctes} SELECT id, _hd FROM {last}").fetchall())
    con.close()
    assert duck_d == spark_d, f"mirror diverges: {duck_d} vs {spark_d}"

    # full-range bits=21 coordinates: the level weight s*s at s=2^15 is
    # 2^30 — an INT32 literal in DuckDB — and multiplying it by the
    # quadrant CASE overflowed INT32 the moment an input had high bits
    # set (the registered orders dims never do; the layout-quality
    # study's grid coords did). Regression for the CAST(... AS BIGINT).
    n21 = 1 << 21
    pts21 = [(0, n21 - 1, n21 - 1), (1, n21 // 2 + 5, n21 // 3), (2, 0, n21 - 1)]
    sdf21 = spark.createDataFrame(pts21, "id long, x long, y long").select(
        "id", hilbert_spark(F.col("x"), F.col("y"), bits=21).alias("d")
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE pts (id BIGINT, x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO pts VALUES (?, ?, ?)", pts21)
    ctes21, last21 = hilbert_sql_ctes("x", "y", 21, "pts")
    duck21 = dict(con.execute(f"WITH {ctes21} SELECT id, _hd FROM {last21}").fetchall())
    con.close()
    assert duck21 == {r.id: r.d for r in sdf21.collect()}


# ---------------------------------------------- statement-reference invariants
#
# Properties of the reference collector under the SQL statement surface
# (a parse, no Spark job): text planted inside a string literal is never
# a table reference, whatever the statement, not just the grammar the
# tests exercise.

_scanner_settings = settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_sql_texts = st.text(
    alphabet=st.sampled_from(list("abcXYZ01 _.,()'\"\\=<>%")), max_size=60
)


def _references_in(spark, statement):
    from empdia_iceberg_spark.tables.ddl import _leaves, _names, _rewrite
    from empdia_iceberg_spark.tables.dml import _parse

    leaves = _leaves(spark, _parse(spark, statement))
    return leaves, _names(leaves), _rewrite(spark, statement, leaves, "/nonexistent")


@given(_sql_texts)
@_scanner_settings
def test_literal_text_is_never_a_table_reference(spark, s):
    """Any text, escaped into a string literal, parses back to exactly
    that text and leaves the plan with no relation to resolve."""
    from empdia_iceberg_spark.tables.dml import _parse

    escaped = s.replace("\\", "\\\\").replace("'", "\\'")
    stmt = f"SELECT '{escaped}' AS c"
    assert _parse(spark, stmt).projectList().apply(0).child().value().toString() == s
    leaves, names, rewritten = _references_in(spark, stmt)
    assert [kind for kind, _leaf, _parts in leaves] == ["OneRowRelation"]
    assert names == set() and rewritten is None


@given(_sql_texts)
@_scanner_settings
def test_as_of_rewrite_never_fires_inside_literals(spark, s):
    """Whatever the statement, planting an AS OF phrase INSIDE a string
    literal must not produce a time-travel reference."""
    stmt = f"SELECT '{s.replace(chr(39), '')} tbl VERSION AS OF 1' AS c"
    leaves, names, rewritten = _references_in(spark, stmt)
    assert "RelationTimeTravel" not in {kind for kind, _leaf, _parts in leaves}
    assert names == set() and rewritten is None


_decimal_types = st.builds(
    lambda p, s: f"decimal({p},{s})",
    st.integers(min_value=1, max_value=38), st.integers(min_value=0, max_value=38),
).filter(lambda t: int(t.split(",")[1][:-1]) <= int(t.split("(")[1].split(",")[0]))
_map_types = st.builds(
    lambda k, v: f"map<{k},{v}>",
    st.sampled_from(["string", "int", "bigint"]),
    st.one_of(_decimal_types, st.sampled_from(["int", "string", "array<double>"])),
)


@given(st.lists(st.one_of(_decimal_types, _map_types, st.sampled_from(
    ["int", "string", "array<struct<x:int,y:string>>"])), min_size=1, max_size=4))
@settings(max_examples=25, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_add_columns_type_lists_round_trip_through_describe(spark, types):
    """Type lists whose types carry commas (decimal(p,s), map<k,v>) go
    through ALTER TABLE ... ADD COLUMNS and come back unchanged from
    DESCRIBE: Spark's parser, not a splitter, finds each column."""
    from empdia_iceberg_spark.tables.ddl import execute_sql
    from empdia_iceberg_spark.tables.manager import SnapshotTable, scratch_root

    root = scratch_root()
    t = SnapshotTable(spark, "t_prop_add_types", root)
    t.drop()
    t.create(spark.range(1).selectExpr("id AS k"))
    cols = ", ".join(f"c{i} {typ}" for i, typ in enumerate(types))
    execute_sql(spark, f"ALTER TABLE t_prop_add_types ADD COLUMNS {cols}", root)
    described = execute_sql(spark, "DESCRIBE t_prop_add_types", root).collect()
    assert [(r.col_name, r.data_type) for r in described[1:]] == [
        (f"c{i}", typ) for i, typ in enumerate(types)
    ]
    t.drop()


_parser_settings = settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(st.lists(
    st.tuples(
        st.text(alphabet=st.sampled_from(list("abcz_.0")), min_size=1, max_size=8),
        st.text(alphabet=st.sampled_from(list("abcz 0,)(=")), max_size=8),
    ),
    min_size=1, max_size=5,
))
@_parser_settings
def test_tblproperties_pairs_round_trip(spark, pairs):
    """Whatever the keys/values (no quotes inside), a rendered
    TBLPROPERTIES list parses back to exactly the written pairs —
    commas and parens inside VALUES must not split the list. Spark's
    parser refuses a repeated key."""
    import pytest

    from empdia_iceberg_spark.tables.ddl import _map
    from empdia_iceberg_spark.tables.dml import _parse

    rendered = ", ".join(f"'{k}' = '{v}'" for k, v in pairs)
    statement = f"ALTER TABLE t SET TBLPROPERTIES ({rendered})"
    if len({k for k, _v in pairs}) < len(pairs):
        with pytest.raises(ValueError, match="DUPLICATE_KEY|INVALID_ATTRIBUTE_NAME"):
            _parse(spark, statement)
        return
    assert _map(_parse(spark, statement).properties()) == dict(pairs)


@given(
    st.lists(
        st.one_of(
            st.integers(min_value=-10**9, max_value=10**9),
            st.text(alphabet=st.sampled_from(list("abc_=>,0 ")), max_size=10),
        ),
        min_size=0, max_size=4,
    ),
    st.dictionaries(
        st.sampled_from(["keep_last", "version", "opt"]),
        st.integers(min_value=0, max_value=99),
        max_size=2,
    ),
)
@_parser_settings
def test_call_argument_parsing_round_trips(spark, args, kwargs):
    """CALL argument rendering → parsing is the identity for any mix of
    positional ints/strings and named => ints (strings may contain
    commas, '=>' and parens — Spark's parser must keep each literal
    whole)."""
    from empdia_iceberg_spark.tables.ddl import _call_arguments
    from empdia_iceberg_spark.tables.dml import _parse

    toks = [str(a) if isinstance(a, int) else f"'{a}'" for a in args]
    toks += [f"{k} => {v}" for k, v in kwargs.items()]
    node = _parse(spark, f"CALL compact({', '.join(toks)})")
    assert _call_arguments(node) == (list(args), kwargs)


@given(st.text(alphabet=st.sampled_from(list("abcz _.,()'\"=<>0")), max_size=50))
@_scanner_settings
def test_view_body_self_reference_detection_ignores_literals(spark, body):
    """A view name planted INSIDE a string literal of the body must not
    count as self-reference (the guard reads the body's relation names)."""
    stmt = f"SELECT '{body.replace(chr(39), '')} myview ' AS c"
    assert "myview" not in _references_in(spark, stmt)[1]


@given(
    kind=st.sampled_from(["years", "months", "days", "hours", "bucket", "truncate"]),
    n=st.integers(min_value=1, max_value=4096),
    col=st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,20}", fullmatch=True),
    spaces=st.integers(min_value=0, max_value=3),
)
def test_partition_transform_parse_canonical_idempotent(kind, n, col, spaces):
    """canonical_transform is idempotent and whitespace/case-insensitive,
    and the slug it derives is filesystem-safe — the invariants the
    hive shadow layout and SHOW CREATE round-trip both lean on."""
    import re as _re

    from empdia_iceberg_spark.tables.manager import (
        canonical_transform,
        transform_slug,
    )

    pad = " " * spaces
    if kind in ("bucket", "truncate"):
        raw = f"{kind.upper()}({pad}{n}{pad},{pad}{col}{pad})"
    else:
        raw = f"{kind.title()}({pad}{col}{pad})"
    canon = canonical_transform(raw)
    assert canonical_transform(canon) == canon
    slug = transform_slug(canon)
    assert _re.fullmatch(r"[A-Za-z0-9_]+", slug), slug
    assert transform_slug(raw) == slug
