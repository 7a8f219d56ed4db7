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
2. Conditions are split into top-level AND conjuncts; the ones
   matching `col <op> literal` shapes become inclusive raw-value
   bounds per column. Ignoring a conjunct is always SOUND: bounds
   from a SUBSET of conjuncts admit a SUPERSET of the filter's rows.
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
import re
import warnings
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .manager import SnapshotTable, _dir_within

# audits of the last try_sql_prune call that re-registered anything:
# {table_name: audit dict, plus the table's Decision under "decision"}
# — read by registered stories to hash-pin that pruning actually
# engaged on the SQL path
LAST_SQL_PRUNE_AUDITS: dict = {}


# ------------------------------------------------------ conjunct split

def _strip_outer_parens(s: str) -> str:
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        ok = True
        for i, c in enumerate(s):
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0 and i != len(s) - 1:
                    ok = False
                    break
        if not ok:
            break
        s = s[1:-1].strip()
    return s


def _top_split(s: str, sep: str) -> list[str]:
    """Split on ``sep`` at paren depth 0, outside string literals."""
    parts, depth, in_str, cur, i = [], 0, False, [], 0
    while i < len(s):
        c = s[i]
        if in_str:
            cur.append(c)
            if c == "'":
                if s[i + 1 : i + 2] == "'":
                    cur.append("'")
                    i += 1
                else:
                    in_str = False
        elif c == "'":
            in_str = True
            cur.append(c)
        elif c in "()":
            depth += 1 if c == "(" else -1
            cur.append(c)
        elif depth == 0 and s.startswith(sep, i):
            parts.append("".join(cur))
            cur = []
            i += len(sep) - 1
        else:
            cur.append(c)
        i += 1
    parts.append("".join(cur))
    return parts


def conjuncts(cond_sql: str) -> list[str]:
    """Recursively flatten a Catalyst condition-SQL string into its
    top-level AND conjuncts (each stripped of redundant parens)."""
    s = _strip_outer_parens(cond_sql)
    parts = _top_split(s, " AND ")
    if len(parts) == 1:
        return [s]
    return [c for p in parts for c in conjuncts(p)]


# ---------------------------------------------------- conjunct parsing

_LIT = (
    r"(?:TIMESTAMP(?:_NTZ)? '(?P<ts{i}>[^']*)'"
    r"|DATE '(?P<date{i}>[^']*)'"
    r"|CAST\('(?P<cstr{i}>[^']*)' AS (?P<ctyp{i}>\w+)\)"
    r"|CAST\((?P<cnum{i}>-?\d+(?:\.\d+)?)(?:[SLD]|BD)? AS \w+(?:\([^)]*\))?\)"
    r"|'(?P<str{i}>(?:[^']|'')*)'"
    r"|(?P<num{i}>-?\d+(?:\.\d+)?)(?:[SLD]|BD)?)"
)
_COL = r"(?:[\w.]+\.)?`?(?P<col>\w+)`?"
_OP = r"(?P<op><=|>=|<|>|=)"
_FWD = re.compile(rf"^{_COL}\s*{_OP}\s*{_LIT.format(i='')}$")
_REV = re.compile(rf"^{_LIT.format(i='')}\s*{_OP}\s*{_COL}$")
_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "="}


def _parse_literal(m, allow_float: bool = False) -> tuple[object, str] | None:
    """matched literal -> (python value, kind) or None if unusable."""
    if m.group("ts") is not None:
        try:
            return (datetime.datetime.fromisoformat(m.group("ts")), "ts")
        except ValueError:
            return None
    if m.group("date") is not None:
        try:
            return (datetime.date.fromisoformat(m.group("date")), "date")
        except ValueError:
            return None
    if m.group("cstr") is not None:
        # an UN-optimized plan leaves implicit coercions as
        # CAST('lit' AS T) — recover the typed literal (the DML path
        # reads the ANALYZED plan, where constant folding hasn't run)
        typ = m.group("ctyp").upper()
        raw = m.group("cstr")
        try:
            if typ.startswith("TIMESTAMP"):
                return (datetime.datetime.fromisoformat(raw), "ts")
            if typ == "DATE":
                return (datetime.date.fromisoformat(raw), "date")
            if typ == "STRING":
                return (raw, "str")
        except ValueError:
            return None
        return None
    if m.group("str") is not None:
        return (m.group("str").replace("''", "'"), "str")
    num = m.group("cnum") if m.group("cnum") is not None else m.group("num")
    if "." in num:
        # float literals have no provable DIR rendering (no partition
        # pruning) — but footer-stat consults compare VALUES, so the
        # stats path opts in
        return (float(num), "float") if allow_float else None
    return (int(num), "int")


_US = datetime.timedelta(microseconds=1)
_DAY = datetime.timedelta(days=1)

# A NUMERIC-WIDENING cast on the COLUMN side is order-preserving and
# value-faithful, so `CAST(k AS BIGINT) >= 5` bounds k exactly like
# `k >= 5` (the analyzed plan wraps implicit int-family coercions this
# way). The inner must be identifier-shaped — a literal cast's inner
# starts with a digit/quote and is left alone.
_COL_CAST = re.compile(
    r"CAST\(((?:[\w.]+\.)?`?[A-Za-z_]\w*`?) AS "
    r"(?:TINYINT|SMALLINT|INT|INTEGER|BIGINT|DOUBLE|FLOAT|REAL|"
    r"DECIMAL(?:\([^)]*\))?)\)"
)
_IN = re.compile(rf"^{_COL}\s+IN\s+\((?P<items>.*)\)$", re.DOTALL)
_LIT_ONLY = re.compile(rf"^{_LIT.format(i='')}$")


def parse_conjunct(
    conj: str, allow_float: bool = False
) -> list[tuple[str, str, object]] | None:
    """One conjunct -> a list of (column, 'lo'|'hi'|'eq', inclusive
    bound value) actions, or None when the shape is not
    `col <op> literal` / `col IN (literals)` (ignored — always sound).
    Strict < / > tighten to inclusive bounds exactly for microsecond
    timestamps / dates / ints; strings stay inclusive (sound: a wider
    bound only admits more rows). IN-lists bound to [min, max] of the
    member literals — coarser than the exact set, still implied."""
    conj = _COL_CAST.sub(r"\1", conj)
    mi = _IN.match(conj)
    if mi:
        vals, fams = [], set()
        for item in _top_split(mi.group("items"), ","):
            lm = _LIT_ONLY.match(item.strip())
            lit = _parse_literal(lm, allow_float) if lm else None
            if lit is None:
                return None
            vals.append(lit[0])
            fams.add(lit[1])
        if not vals or len(fams) != 1 or any(v is None for v in vals):
            return None
        col = mi.group("col")
        return [(col, "lo", min(vals)), (col, "hi", max(vals))]
    m = _FWD.match(conj)
    op = None
    if m:
        op = m.group("op")
    else:
        m = _REV.match(conj)
        if m:
            op = _FLIP[m.group("op")]
    if not m or op is None:
        return None
    lit = _parse_literal(m, allow_float)
    if lit is None:
        return None
    val, kind = lit
    col = m.group("col")
    if op == "=":
        return [(col, "eq", val)]
    if op in (">", ">="):
        if op == ">":
            if kind == "ts":
                val = val + _US
            elif kind == "date":
                val = val + _DAY
            elif kind == "int":
                val = val + 1
        return [(col, "lo", val)]
    if op == "<":
        if kind == "ts":
            val = val - _US
        elif kind == "date":
            val = val - _DAY
        elif kind == "int":
            val = val - 1
    return [(col, "hi", val)]


def bounds_from_condition(cond_sql: str, allow_float: bool = False) -> dict:
    """Condition SQL -> {col: (lo, hi)} inclusive raw-value bounds
    (None = open end). Conjuncts that don't parse are ignored; columns
    whose bounds mix incomparable types are dropped."""
    acc: dict[str, dict] = {}
    for conj in conjuncts(cond_sql):
        parsed = parse_conjunct(conj, allow_float)
        if parsed is None:
            continue
        for col, side, val in parsed:
            slot = acc.setdefault(col, {"lo": [], "hi": []})
            if side in ("lo", "eq"):
                slot["lo"].append(val)
            if side in ("hi", "eq"):
                slot["hi"].append(val)
    def _family(v) -> str:
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, (int, float)):
            return "num"
        if isinstance(v, datetime.datetime):
            return "ts"
        if isinstance(v, datetime.date):
            return "date"
        return type(v).__name__

    out: dict[str, tuple] = {}
    for col, slot in acc.items():
        fams = {_family(v) for v in slot["lo"] + slot["hi"]}
        if len(fams) != 1:
            continue  # incomparable mixed-type bounds: no pruning
        try:
            lo = max(slot["lo"]) if slot["lo"] else None
            hi = min(slot["hi"]) if slot["hi"] else None
        except TypeError:
            continue
        if lo is not None or hi is not None:
            out[col] = (lo, hi)
    return out


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
    """Optimized-plan walk: {table: [condition-SQL or None, ...]} —
    one entry per parquet-scan occurrence of the table, carrying the
    AND of Filter conditions sitting directly above it (only Filter
    and alias-free Project nodes may stand between; anything else
    resets the context, so a condition is never attributed across an
    aggregate, join, or renaming projection). A py4j failure anywhere
    in the walk raises: an occurrence the walk cannot attribute could
    belong to any table, so the caller declines the whole statement."""
    out: dict[str, list] = {}

    def walk(node, conds: list):
        cls = node.getClass().getSimpleName()
        if cls == "Filter":
            walk(_seq(node.children())[0], conds + [node.condition().sql()])
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
                out.setdefault(name, []).append(
                    " AND ".join(f"({c})" for c in conds) if conds else None
                )
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
    one table, else None (caller keeps the full-read plan). Never
    raises: any unexpected failure warns with its reason and falls
    back — pruning is a physical optimization, the full-read plan is
    always available."""
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
            # a bound naming no column of this table (the parser is
            # textual) bounds nothing: plan_files reads only spec
            # sources and schema columns
            bounds = _union_bounds(
                [bounds_from_condition(c, allow_float=True) for c in conds]
            )
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
    except Exception as ex:  # pragma: no cover - defensive fallback
        warnings.warn(f"SQL partition pruning skipped: {ex!r}")
        return None
