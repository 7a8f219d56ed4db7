"""Partition pruning for the SQL read path (VERDICT r14 ask #1).

`execute_sql` materializes a bare snapshot-table reference as a FULL
read behind a temp view, so `SELECT ... FROM t WHERE <partition
predicate>` used to plan a full-table scan even when the hidden-
partitioning layout could serve one subdir. This module closes that
gap **by letting Catalyst prove the predicate scoping** instead of
re-parsing user SQL:

1. The statement is analyzed against the FULL reads (lazy — no data
   moves). In the OPTIMIZED logical plan, any filter Catalyst pushed
   to sit directly above a table's parquet relation is, by the
   optimizer's own contract, valid for every row of that scan — this
   buys WHERE-in-subquery scoping, alias resolution (`FROM t AS x
   WHERE x.ts ...`), join-side predicate splitting, and the
   `CAST(ts AS DATE) = d` → timestamp-range rewrite
   (UnwrapCastInBinaryComparison) for free.
2. Each condition is read as Catalyst's typed expression tree
   (`toJSON()`, one py4j call per Filter, never its SQL text). Its
   top-level AND conjuncts of the shape `column <op> literal` or
   `column IN (literals)` become inclusive raw-value bounds per
   column; a column is a bare attribute, also under a value-preserving
   widening cast. Ignoring a conjunct is always SOUND: bounds from a
   SUBSET of conjuncts admit a SUPERSET of the filter's rows.
3. Per table, bounds are unioned across scan occurrences (a self-join
   needs rows for BOTH sides) and handed to `SnapshotTable.plan_files`,
   which maps them through the monotone partition transforms onto
   dirs and hive subdirs, drops files by footer stats, and returns the
   paths with a `Decision`; the PRUNED read of those paths is
   re-registered behind the same temp view name.
4. The statement re-analyzes against the pruned views — its own WHERE
   is the residual, so the result is provably identical to the full
   read — and the full views are restored immediately after analysis
   (a temp view binds at analysis time, so the returned DataFrame
   keeps its pruned plan).

Scale posture: the plan walk and subdir listings are driver-side and
metadata-sized; the payoff is the r14 scaling study's flat-vs-linear
gap (0.38 s flat vs 7.8 s linear at ×100) now reachable from PLAIN
SQL. Public models: Iceberg hidden-partition predicate transformation
(spec §Scan Planning), Hive partition pruning, Delta partition-filter
extraction."""

from __future__ import annotations

import datetime
import json
import math
import warnings
from typing import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

from .manager import _SPARK_ERRORS, SnapshotTable, _dir_within

# audits of the last try_sql_prune call that re-registered anything:
# {table_name: audit dict, plus the table's Decision under "decision"}
# — read by registered stories to hash-pin that pruning actually
# engaged on the SQL path
LAST_SQL_PRUNE_AUDITS: dict = {}


# ---------------------------------------------- condition expression tree
# A condition is read as Catalyst's typed tree: `toJSON()` lists its
# nodes in pre-order, each with its class, "num-children" and fields
# (an AttributeReference's unqualified name and dataType, a Literal's
# value and dataType, a Cast's target dataType).

_CMP = {"EqualTo": "=", "LessThan": "<", "LessThanOrEqual": "<=",
        "GreaterThan": ">", "GreaterThanOrEqual": ">="}
_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "="}
_DIGITS = {"byte": 3, "short": 5, "integer": 10, "long": 20}  # integral types
_EPOCH = datetime.datetime(1970, 1, 1)
_STEP = {"int": 1, "date": datetime.timedelta(days=1),
         "ts": datetime.timedelta(microseconds=1)}  # strict -> inclusive


def _tree(nodes: list) -> dict:
    """The root of toJSON's pre-order node list, children under "kids"
    and an atomic dataType (else None) under "type". Iterative: a long
    OR chain is as deep as it is long."""
    open_ = []  # nodes still owed children, innermost last
    for node in nodes:
        node["kids"] = []
        node["type"] = node.get("dataType") if isinstance(node.get("dataType"), str) else None
        if open_:
            open_[-1]["kids"].append(node)
            if len(open_[-1]["kids"]) == open_[-1]["num-children"]:
                open_.pop()
        if node["num-children"]:
            open_.append(node)
    return nodes[0]


def _cls(node: dict) -> str:
    return node["class"].rsplit(".", 1)[-1]


def _digits(t) -> tuple[int, int] | None:
    """An integral or decimal type's (integer digits, scale)."""
    if t in _DIGITS:
        return _DIGITS[t], 0
    if t and t.startswith("decimal("):
        p, s = map(int, t[len("decimal("):-1].split(","))
        return p - s, s
    return None


def _widens(src, dst) -> bool:
    """CAST(src AS dst) keeps every value exactly, so a bound on the
    cast is the same bound on its child."""
    a, b = _digits(src), _digits(dst)
    if a and b and (src in _DIGITS or dst not in _DIGITS):
        return b[0] >= a[0] and b[1] >= a[1]
    return (src is not None and src == dst) or (src, dst) == ("float", "double") or (
        src in ("byte", "short", "integer") and dst == "double")


def _value(v, t) -> tuple[object, str] | None:
    """A JSON literal value of type ``t`` -> (python value, kind). A
    TIMESTAMP reads as the session-zone wall time `.sql()` prints, a
    TIMESTAMP_NTZ as epoch microseconds."""
    try:
        if v is None:
            return None
        if t in _DIGITS:
            return int(v), "int"
        if t == "double" or _digits(t):
            return (float(v), "float") if math.isfinite(float(v)) else None
        if t == "string":
            return v, "str"
        if t == "date":
            return datetime.date.fromisoformat(v), "date"
        if t == "timestamp":
            ts = datetime.datetime.fromisoformat(v)
            return (ts, "ts") if ts.tzinfo is None else None
        if t == "timestamp_ntz":
            return _EPOCH + int(v) * _STEP["ts"], "ts"
    except (ValueError, OverflowError):
        pass
    return None


def _literal(node: dict) -> tuple[object, str] | None:
    """A literal, also under the cast an implicit coercion leaves in the
    analyzed plan (CAST(5 AS BIGINT), CAST(1.5BD AS DOUBLE),
    CAST('2024-01-03' AS DATE))."""
    if _cls(node) == "Literal":
        return _value(node["value"], node["type"])
    if _cls(node) != "Cast" or _cls(node["kids"][0]) != "Literal":
        return None
    (lit,), dst = node["kids"], node["type"]
    src = lit["type"]
    if src == "string" and dst in ("string", "date", "timestamp", "timestamp_ntz"):
        return _value(lit["value"], "timestamp" if dst.startswith("timestamp") else dst)
    # read as the target type (a decimal bound is not tightened like an
    # int); a FLOAT literal's text is not its float32 value
    if src != "float" and (_widens(src, dst) or (dst == "double" and _digits(src))):
        return _value(lit["value"], dst)
    return None


def _column(node: dict) -> str | None:
    """A bare column, also under value-preserving casts (a struct field
    or an outer reference is none)."""
    while _cls(node) == "Cast" and _widens(node["kids"][0]["type"], node["type"]):
        node = node["kids"][0]
    return node["name"] if _cls(node) == "AttributeReference" else None


def _inset_ends(jnode, t) -> list | None:
    """An InSet's least and greatest members as (value, kind). toJSON
    writes its set as null: the JVM node's type ordering picks them, and
    each reads back through a Literal's own toJSON."""
    hset, dtype = jnode.hset(), jnode.child().dataType()
    if hset.contains(None):
        return None
    jvm = SparkContext._jvm
    order = getattr(jvm, "org.apache.spark.sql.catalyst.types.PhysicalDataType") \
        .apply(dtype).ordering()
    literal = getattr(jvm, "org.apache.spark.sql.catalyst.expressions.Literal")
    return [_value(json.loads(literal(v, dtype).toJSON())[0]["value"], t)
            for v in (hset.min(order), hset.max(order))]


def _conjuncts(root: dict) -> list:
    """(conjunct, child-index path from the root) per top-level AND
    operand."""
    out, todo = [], [(root, ())]
    while todo:
        node, path = todo.pop()
        if _cls(node) == "And":
            todo += [(kid, path + (i,)) for i, kid in enumerate(node["kids"])]
        else:
            out.append((node, path))
    return out


def _bound(node: dict, jnode) -> tuple[str, object, object, str] | None:
    """One conjunct -> (column, inclusive lo, inclusive hi, kind), None
    for an open end; None when it is not `col <op> literal` or `col IN
    (literals)` (ignored, which is always sound). Strict < and >
    tighten exactly for ints, dates and microsecond timestamps; an IN
    list bounds to [min, max] of its members."""
    cls = _cls(node)
    if cls in ("In", "InSet"):
        col = _column(node["kids"][0])
        if col is None:
            return None
        ends = ([_literal(k) for k in node["kids"][1:]] if cls == "In"
                else _inset_ends(jnode(), node["kids"][0]["type"]))
        if not ends or None in ends or len({k for _v, k in ends}) != 1:
            return None
        return col, min(v for v, _k in ends), max(v for v, _k in ends), ends[0][1]
    if cls not in _CMP:
        return None
    left, right = node["kids"]
    col, lit, op = _column(left), _literal(right), _CMP[cls]
    if col is None or lit is None:
        col, lit, op = _column(right), _literal(left), _FLIP[op]
    if col is None or lit is None:
        return None
    val, kind = lit
    if op in ("<", ">") and kind in _STEP:
        try:
            val = val + _STEP[kind] if op == ">" else val - _STEP[kind]
        except OverflowError:  # strictly past the type's last value
            return None
    return col, None if op[0] == "<" else val, None if op[0] == ">" else val, kind


def bounds_from_conditions(jconds: list) -> dict:
    """Catalyst conditions (JVM expressions, one toJSON call each) that
    all hold for the same rows -> {col: (lo, hi)} inclusive raw-value
    bounds (None = open end). A column whose bounds mix value families
    (numbers, strings, dates, timestamps) is dropped."""
    acc: dict[str, tuple[list, list, set]] = {}
    for jcond in jconds:
        for node, path in _conjuncts(_tree(json.loads(jcond.toJSON()))):

            def jnode(node=jcond, path=path):
                for i in path:
                    node = node.children().apply(i)
                return node

            b = _bound(node, jnode)
            if b is None:
                continue
            col, lo, hi, kind = b
            los, his, fams = acc.setdefault(col, ([], [], set()))
            fams.add("num" if kind in ("int", "float") else kind)
            los += [lo] if lo is not None else []
            his += [hi] if hi is not None else []
    return {
        col: (max(los) if los else None, min(his) if his else None)
        for col, (los, his, fams) in acc.items()
        if len(fams) == 1
    }


def _union_bounds(per_occurrence: list[dict]) -> dict:
    """Union bounds across scan OCCURRENCES of one table: the shared
    temp view must serve every occurrence, so a column survives only
    if EVERY occurrence bounds it, with [min(lo), max(hi)]."""
    if not per_occurrence:
        return {}
    cols = set(per_occurrence[0])
    for b in per_occurrence[1:]:
        cols &= set(b)
    out = {}
    for c in cols:
        los = [b[c][0] for b in per_occurrence]
        his = [b[c][1] for b in per_occurrence]
        try:
            lo = None if any(v is None for v in los) else min(los)
            hi = None if any(v is None for v in his) else max(his)
        except TypeError:
            continue
        if lo is not None or hi is not None:
            out[c] = (lo, hi)
    return out


# ------------------------------------------------------- plan walking

def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _relation_table(jnode, table_dirs: dict) -> str | None:
    """LogicalRelation -> owning snapshot-table name, matched by every
    rootPath lying within the table's CURRENT data dirs (delete-file
    scans live in d*/p* dirs outside meta['dirs'] and never match)."""
    rel = jnode.relation()
    if rel.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    paths = [str(p) for p in _seq(rel.location().rootPaths())]
    if not paths:
        return None
    for name, dirs in table_dirs.items():
        bases = tuple(dirs)
        if all(
            _dir_within(p[5:] if p.startswith("file:") else p, bases)
            for p in paths
        ):
            return name
    return None


def collect_scan_occurrences(df: DataFrame, table_dirs: dict) -> dict:
    """Optimized-plan walk: {table: [conditions or None, ...]} — one
    entry per parquet-scan occurrence of the table, carrying the JVM
    conditions of the Filters sitting directly above it (only Filter
    and alias-free Project nodes may stand between; anything else
    resets the context, so a condition is never attributed across an
    aggregate, join, or renaming projection). A py4j failure anywhere
    in the walk raises: an occurrence the walk cannot attribute could
    belong to any table, so the caller declines the whole statement."""
    out: dict[str, list] = {}

    def walk(node, conds: list):
        cls = node.getClass().getSimpleName()
        if cls == "Filter":
            walk(_seq(node.children())[0], conds + [node.condition()])
            return
        if cls == "Project":
            alias_free = all(
                e.getClass().getSimpleName() == "AttributeReference"
                for e in _seq(node.projectList())
            )
            walk(_seq(node.children())[0], conds if alias_free else [])
            return
        if cls == "SubqueryAlias":
            walk(_seq(node.children())[0], conds)
            return
        if cls == "LogicalRelation":
            name = _relation_table(node, table_dirs)
            if name is not None:
                out.setdefault(name, []).append(conds or None)
            return
        for ch in _seq(node.children()):
            walk(ch, [])

    walk(df._jdf.queryExecution().optimizedPlan(), [])
    return out


# --------------------------------------------------------- entry point

def try_sql_prune(
    spark: SparkSession,
    df: DataFrame,
    analyze: Callable[[], DataFrame],
    root: str,
    registered: list,
) -> DataFrame | None:
    """Attempt partition pruning for an analyzed query DataFrame over
    auto-materialized snapshot-table views; ``analyze`` analyzes the
    same query again (``spark.sql`` on its text, or its parsed plan).
    Returns the re-planned DataFrame when pruning engaged for at least
    one table, else None (caller keeps the full-read plan). A Spark or
    py4j error, or table metadata that cannot be read, warns with its
    reason and falls back — pruning is a physical optimization, the
    full-read plan is always available; any other error is a fault of
    this module and raises."""
    try:
        full_views = dict(registered)
        # ONE version listing and metadata read per table and statement:
        # the same meta serves the plan walk, the bounds and the plan
        tables: dict[str, tuple] = {}
        for n in full_views:
            t = SnapshotTable(spark, n, root)
            cur = t.current_version()
            if cur is not None:
                tables[n] = (t, t._read_meta(cur))
        if not tables:
            return None
        occurrences = collect_scan_occurrences(
            df, {n: meta["dirs"] for n, (_t, meta) in tables.items()}
        )
        audits: dict[str, dict] = {}
        for name, conds in occurrences.items():
            if not conds or any(c is None for c in conds):
                continue  # some scan of this table needs every row
            t, meta = tables[name]
            bounds = _union_bounds([bounds_from_conditions(c) for c in conds])
            if not bounds:
                continue
            paths, decision = t.plan_files(meta, bounds)
            levels = (decision.dirs, decision.subdirs, decision.files)
            if not any(lv.pruned for lv in levels):
                continue  # nothing actually pruned: keep the full plan
            t._read_dirs_mor(meta, paths).createOrReplaceTempView(name)
            audits[name] = {**decision.audit(meta), "decision": decision}
        if not audits:
            return None
        try:
            # re-analysis binds the pruned views into the NEW plan ...
            out = analyze()
        finally:
            # ... and the full views come straight back (a DataFrame
            # keeps the plan it analyzed; later statements re-register
            # anyway, but out-of-band spark.table() must never see a
            # stale pruned view), from the SAME DataFrame objects
            # materialize_tables registered — a fresh t.read() would
            # RELIST the whole table per statement
            for name in audits:
                full_views[name].createOrReplaceTempView(name)
        LAST_SQL_PRUNE_AUDITS.clear()
        LAST_SQL_PRUNE_AUDITS.update(audits)
        return out
    except _SPARK_ERRORS + (OSError, json.JSONDecodeError) as ex:
        warnings.warn(f"SQL partition pruning skipped: {ex!r}")
        return None
