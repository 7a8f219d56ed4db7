"""Declarative SQL DDL + statement front-end over the snapshot tables:

- `CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t [PARTITIONED BY] AS
  SELECT` (CTAS; OR REPLACE swaps content, schema AND spec in one
  commit with history intact), the column-list CREATE TABLE that SHOW
  CREATE TABLE emits, and `TRUNCATE TABLE` (O(1) empty-file-list
  metadata commit).
- METADATA-ONLY schema evolution — the Iceberg model, one JSON commit,
  zero data rewrites: `ALTER TABLE ... ADD/DROP COLUMN[S]` (added
  columns surface as typed NULL in old files; dropped columns stop
  being projected while their bytes stay in place) and `RENAME COLUMN`
  (physical file-column names recorded in the committed schema; reads
  project physical→logical, writes map back).
- `ALTER TABLE ... ADD/DROP PARTITION FIELD` (spec evolution, future
  writes only), `CREATE/DROP BRANCH|TAG` (refs; CREATE is a CAS
  against absence), `DROP TABLE [IF EXISTS]`.
- Maintenance: `OPTIMIZE t [ZORDER BY (c1, c2)]` (target-size rewrite,
  optionally Morton-clustered with disjoint per-file key ranges) and
  `VACUUM t [RETAIN k VERSIONS]` (expire_snapshots).
- Read-side sugar materialized pre-dispatch in `execute_sql`: time
  travel `t [FOR] VERSION|TIMESTAMP AS OF <literal>` (ref names
  resolve too) and the Iceberg metadata tables `t.snapshots`,
  `t.refs`, `t.files`.

Together with `tables/dml.py` (INSERT/UPDATE/DELETE/MERGE) this
completes the declarative statement surface: a user can stand up,
evolve, mutate, and retire a snapshot table entirely in SQL strings.
Spark's own parser (``sessionState().sqlParser().parsePlan``) reads
every statement once, and `execute_sql` dispatches on the plan node's
class; the handlers read the node's fields (column definitions,
partition transforms, property maps, CHECK conditions, CALL arguments,
query bodies), never the statement text. Only the few extension forms
Spark's grammar rejects match an anchored regex, one per statement. The
tables a statement reads are its parsed plan's relation leaves; the
read-side sugar among them is rewritten to temp views at the leaves'
spans, then parsed once more.

Scale posture: CTAS is one Spark job writing the table's initial
snapshot under the target-file-size policy; ADD COLUMN is O(1) —
at 100 TB it writes one metadata file and nothing else, because reads
resolve against the committed schema (`SnapshotTable._read_dirs`
explicit-schema reads) instead of file-footer inference; partition-spec
evolution rewrites nothing (future writes only, Iceberg semantics).

Reference parity note: the reference repo has no table management
(SURVEY §0); this extends the Iceberg-story SQL surface, cited against
the public Iceberg spec's metadata-evolution model.
"""

from __future__ import annotations

import functools
import re
import warnings
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable, NamedTuple

from py4j.protocol import Py4JError
from pyspark.errors import ParseException, PySparkException
from pyspark.logger import PySparkLogger
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from empdia_iceberg_spark.functions.exact import exact_sum2, sql_sum2
from empdia_iceberg_spark.operators.layout import morton_spark
from empdia_iceberg_spark.registry import register
from empdia_iceberg_spark.sources.tables import load
from empdia_iceberg_spark.tables.dml import (
    _dataframe,
    _kind,
    _parse,
    _table_name,
    execute_dml,
)
from empdia_iceberg_spark.tables.manager import (
    DEFAULT_ROOT,
    SnapshotTable,
    canonical_transform,
    scratch_root,
    spec_sources,
)
from empdia_iceberg_spark.tables.sqlprune import _seq, try_sql_prune


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren/quote depth 0 only — `'a' = 'v,w',
    n => f(x, y)` must yield two items, not four. Backslash escapes
    inside quotes are honored (Spark SQL string syntax): a comma after
    `'it\\'s x, y'` must NOT split inside the literal."""
    parts, buf, depth, quote = [], [], 0, None
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if quote:
            if ch == "\\" and i + 1 < n:
                buf.append(ch)
                buf.append(s[i + 1])
                i += 2
                continue
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
            i += 1
            continue
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


# --------------------------------------------------------------- SQL views
# Persisted SQL views, the Iceberg VIEW-spec model: a view is VERSIONED
# metadata (the SQL text), resolved lazily at read time against the
# CURRENT state of whatever it references — never materialized data.
# Storage: <root>/_views/<name>/v<NNNNN>.json (CREATE OR REPLACE appends
# a version; history is auditable like table snapshots).


def _views_dir(root: str, name: str | None = None) -> str:
    import os as _os

    return _os.path.join(root, "_views", name) if name else _os.path.join(root, "_views")


def _view_versions(root: str, name: str) -> list[int]:
    import os as _os

    d = _views_dir(root, name)
    if not _os.path.isdir(d):
        return []
    return sorted(
        int(f[1:6]) for f in _os.listdir(d) if f.startswith("v") and f.endswith(".json")
    )


def _view_sql(root: str, name: str) -> str | None:
    import json as _json
    import os as _os

    vs = _view_versions(root, name)
    if not vs:
        return None
    with open(_os.path.join(_views_dir(root, name), f"v{vs[-1]:05d}.json")) as f:
        return _json.load(f)["sql"]


def _view_names(root: str) -> list[str]:
    import os as _os

    base = _views_dir(root)
    if not _os.path.isdir(base):
        return []
    return sorted(n for n in _os.listdir(base) if _view_versions(root, n))


def materialize_views(
    spark: SparkSession, names: set, root: str, depth: int = 0
) -> None:
    """Resolve the persisted views among ``names``, the one-part relation
    names a parsed statement holds: each view's stored SQL runs through
    `execute_sql` (recursively, so views can stack) and is registered as
    a session temp view under its own name, which Spark's analyzer then
    resolves. Depth-capped so a reference cycle fails with a clear error
    instead of recursing."""
    if depth > 8:
        raise ValueError(
            "view resolution exceeded depth 8 — reference cycle? "
            f"(while materializing {sorted(names)})"
        )
    for name in sorted(names):
        if _view_versions(root, name) and _should_register(spark, name):
            execute_sql(
                spark, _view_sql(root, name), root, _view_depth=depth + 1
            ).createOrReplaceTempView(name)


# Names THIS module auto-registered as temp views, per session: the
# freshness rule below must refresh our own registrations on every
# statement (they pin the table state AS OF registration — stale
# otherwise) while never clobbering a temp view the USER registered.
_AUTO_MATERIALIZED: set = set()
# {(session id, root, table): (version, full-read DataFrame)} — see
# materialize_tables: reusing the frame skips the per-statement file
# listing; the version key makes staleness impossible
_VIEW_FRAME_CACHE: dict = {}


def _should_register(spark: SparkSession, name: str) -> bool:
    """A temp view the user registered BEFORE this session ever
    auto-materialized the name wins permanently. Once a name has been
    auto-materialized, the engine keeps refreshing it — a later user
    re-registration over the same name is indistinguishable from our
    own previous registration (the catalog exposes no owner), so the
    documented precedence is: pre-existing user temp views > persisted
    views > snapshot tables, and catalog-object names are best left
    out of a session's own temp-view namespace."""
    key = (id(spark), name)
    if spark.catalog.tableExists(name) and key not in _AUTO_MATERIALIZED:
        return False  # the user's own temp view — never shadow
    _AUTO_MATERIALIZED.add(key)
    return True


def materialize_tables(
    spark: SparkSession, names: set, root: str
) -> list:
    """Make bare snapshot-table references resolvable: each of ``names``
    (a parsed statement's one-part relation names; nothing under the
    root is listed) that is a snapshot table gets its CURRENT state
    registered as a temp view — re-registered on EVERY statement,
    because a temp view pins the snapshot read it was built from. A
    temp view the USER registered always wins (tracked via
    _AUTO_MATERIALIZED), and view materialization runs first, so the
    precedence is: user temp views > persisted views > snapshot tables.
    Returns the (name, DataFrame) pairs registered for THIS statement —
    the SQL-prune pass inspects exactly those, and restoring a view from
    the SAME DataFrame object costs nothing (a fresh t.read() would
    RELIST the whole table)."""
    import os as _os

    if not _os.path.isdir(root):
        return []
    live = set()
    registered: list = []
    for name in sorted(names):
        if not _os.path.isdir(_os.path.join(root, name, "_meta")):
            continue
        live.add(name)
        if not _should_register(spark, name):
            continue
        t = SnapshotTable(spark, name, root)
        cur = t.current_version()
        if cur is not None:
            # Version-keyed DataFrame reuse (r15): building t.read()
            # LISTS the table's files (InMemoryFileIndex is eager), so
            # a fresh frame per statement paid an O(files) driver
            # listing every time. Snapshots are immutable — the same
            # (version, frame) serves every statement until a commit
            # moves the version, when a fresh read picks up the new
            # file set. Keyed per session like _AUTO_MATERIALIZED.
            ck = (id(spark), root, name)
            try:
                # version alone is not unique across DROP+recreate —
                # the meta file's inode+mtime pins the incarnation
                st = _os.stat(_os.path.join(t.meta_dir, f"v{cur:05d}.json"))
                sig = (cur, st.st_ino, st.st_mtime_ns)
            except OSError:
                sig = (cur, None, None)
            hit = _VIEW_FRAME_CACHE.get(ck)
            if hit is not None and hit[0] == sig:
                full_df = hit[1]
            else:
                full_df = t.read()
                _VIEW_FRAME_CACHE[ck] = (sig, full_df)
            full_df.createOrReplaceTempView(name)
            registered.append((name, full_df))
    # a DROPped table or view must stop resolving through OUR stale
    # registration (a user temp view is untouched — not in the set);
    # only this session's own registrations are checked
    for key in [k for k in _AUTO_MATERIALIZED if k[0] == id(spark)]:
        name = key[1]
        if name not in live and not (
            _os.path.isdir(_os.path.join(root, name, "_meta"))
            or _view_versions(root, name)
        ):
            spark.catalog.dropTempView(name)
            _AUTO_MATERIALIZED.discard(key)
    return registered


# ------------------------------------------------------ statement handlers
# Each handler takes one _Statement and reads the fields of the plan node
# Spark's parser built for it, or, for an engine extension Spark's grammar
# rejects, the groups of its anchored regex. `_NODES` and `_EXTENSIONS`
# below map statements to handlers.


@dataclass
class _Statement:
    """One statement as its handler sees it."""

    spark: SparkSession
    root: str
    text: str
    node: Any  # the parsed plan node, or an extension statement's match
    props: Any = None  # TBLPROPERTIES read with Spark's reserved keys kept
    mor_key: str | None = None
    registered: list = field(default_factory=list)

    def table(self, node, what: str) -> SnapshotTable:
        return SnapshotTable(self.spark, _table_name(node, what), self.root)


def _refuse(what: str, clauses: dict) -> None:
    """Refuse the clauses Spark parsed that the engine does not implement."""
    given = [clause for clause, present in clauses.items() if present]
    if given:
        raise ValueError(f"{what}: {', '.join(given)} is not supported")


def _map(jmap) -> dict:
    return {e._1(): e._2() for e in _seq(jmap.toSeq())}


def _column_name(field_name) -> str:
    """The one-part column an ALTER TABLE node names."""
    parts = _seq(field_name.name())
    if len(parts) != 1:
        raise ValueError(f"nested column {'.'.join(parts)!r} is not supported")
    return parts[0]


def _transform(tr) -> str:
    """A parsed partition transform in the spec's canonical spelling;
    Spark prints an identity field as identity(col)."""
    text = tr.toString()
    if tr.name() == "identity":
        text = text[len("identity(") : -1]
    return canonical_transform(text)


def _metadata_commit(t: SnapshotTable, op: str, commit: Callable[[], int]) -> dict:
    """Run a schema-evolution commit; the audit PROVES it metadata-only
    by comparing the parent's and the new snapshot's dir lists."""
    parent = t.current_version()
    parent_dirs = set(t._read_meta(parent)["dirs"]) if parent else set()
    version = commit()
    new_dirs = t._read_meta(version)["dirs"]
    return {"op": op, "table": t.name, "version": version,
            "audit": {"dirs_rewritten": len(set(new_dirs) - parent_dirs),
                      "dirs_reused": len(new_dirs)}}


def _create_table(s: _Statement) -> dict:
    """CREATE [OR REPLACE] TABLE [IF NOT EXISTS] from a column list
    (CreateTable, ReplaceTable) or AS SELECT (CreateTableAsSelect,
    ReplaceTableAsSelect).

    The column-list form commits an EMPTY v1 with the declared schema,
    NOT NULL markers, Iceberg-v3 column defaults, partition spec and
    properties: the exact surface SHOW CREATE TABLE renders, so its
    output round-trips (constraints ride back in as
    'constraint.<name>' = 'CHECK (...)' properties). CTAS writes the
    body's rows; OR REPLACE of an existing table swaps content, schema
    AND spec in one snapshot commit with history intact."""
    n, spark, root = s.node, s.spark, s.root
    kind = _kind(n)
    name = _table_name(n.name(), "CREATE TABLE")
    tspec = n.tableSpec()
    provider = tspec.provider()
    if provider.isDefined() and provider.get().lower() not in ("snapshot", "parquet"):
        raise ValueError(f"CREATE TABLE {name}: unsupported USING {provider.get()!r}")
    _refuse(f"CREATE TABLE {name}", {
        "LOCATION": tspec.location().isDefined(),
        "COMMENT": tspec.comment().isDefined(),
        "OPTIONS": tspec.optionExpression().options().nonEmpty(),
        "ROW FORMAT/STORED AS": tspec.serde().isDefined(),
        "EXTERNAL": tspec.external(),
        "DEFAULT COLLATION": tspec.collation().isDefined(),
        "a table constraint": tspec.constraints().nonEmpty(),
    })
    spec = [_transform(tr) for tr in _seq(n.partitioning())]
    props = s.props if s.props is not None else _map(tspec.properties())
    replace, ctas = kind.startswith("Replace"), kind.endswith("AsSelect")
    fields, not_null, defaults = [], [], []
    if not ctas:
        cols = _seq(n.columns())
        if not cols:
            raise ValueError(
                "CREATE TABLE requires an AS SELECT clause or a column "
                f"list (CREATE TABLE t (col type, ...)): {s.text[:60]!r}"
            )
        names = [c.name() for c in cols]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate column names in CREATE TABLE: {names}")
        for c in cols:
            _refuse_char_varchar(spark, f"CREATE TABLE {name}", c.name(), c.dataType())
        for c in cols:
            _refuse(f"column {c.name()}", {
                "COMMENT": c.comment().isDefined(),
                "GENERATED": c.generationExpression().isDefined()
                or c.identityColumnSpec().isDefined(),
            })
            f = spark.createDataFrame([], f"`{c.name()}` {c.dataType().sql()}").schema[0]
            if c.defaultValue().isDefined():
                default = c.defaultValue().get().originalSQL()
                spark.createDataFrame([], "dummy int").select(
                    F.expr(default).cast(f.dataType)
                )  # Catalyst validates the literal; driver-only
                f = T.StructField(f.name, f.dataType, True,
                                  {"default": default, "default_pre_dirs": []})
                defaults.append(f.name)
            fields.append(f)
            if not c.nullable():
                not_null.append(f.name)
        for c in spec_sources(spec):
            if c not in names:
                raise ValueError(f"partition column {c!r} is not in the column list")
    if _view_versions(root, name):
        raise ValueError(f"cannot CREATE TABLE {name}: a VIEW of that name exists")
    t = SnapshotTable(spark, name, root)
    cur = t.current_version()
    if cur is None and replace and not n.orCreate():
        raise ValueError(f"table {name} does not exist")
    if cur is not None and not replace:
        if n.ignoreIfExists():
            return {"op": "create-noop", "table": name, "version": cur, "audit": None}
        raise ValueError(f"table {name} already exists")
    op, audit = "create", None
    if not ctas:
        if cur is not None:
            t.drop()
        t.create(spark.createDataFrame([], T.StructType(fields)), partition_by=spec or None)
    elif cur is None:
        t.create(_dataframe(spark, n.query()), partition_by=spec or None)
    else:
        op = "replace"
        t.overwrite(_dataframe(spark, n.query()), op="replace", spec=spec)
    # governance riders, each a metadata-only commit; constraint.*
    # properties re-enter as real enforced CHECK constraints, the inverse
    # of SHOW CREATE's rendering
    for c in not_null:
        t.set_not_null(c)
    cons = {
        k[len("constraint."):]: v[len("CHECK ("):-1]
        for k, v in props.items()
        if k.startswith("constraint.") and v.upper().startswith("CHECK (")
        and v.endswith(")")
    }
    for cname, cexpr in sorted(cons.items()):
        t.add_constraint(cname, cexpr)
    plain = {k: v for k, v in props.items() if not k.startswith("constraint.")}
    if plain:
        t.set_properties(plain)
    if not ctas:
        audit = {"rows": 0, "not_null": not_null, "defaults": sorted(defaults),
                 "constraints": sorted(cons)}
    return {"op": op, "table": name, "version": t.current_version(), "audit": audit}


def _truncate(s: _Statement) -> dict:
    t = s.table(s.node.table(), "TRUNCATE TABLE")
    return {"op": "truncate", "table": t.name, "version": t.truncate(),
            "audit": {"dirs_rewritten": 0}}


def _drop_table(s: _Statement) -> dict:
    t = s.table(s.node.child(), "DROP TABLE")
    if t.current_version() is None and not s.node.ifExists():
        raise ValueError(f"table {t.name} does not exist")
    t.drop()
    return {"op": "drop", "table": t.name, "version": None, "audit": None}


def _refuse_char_varchar(spark: SparkSession, what: str, col: str, dtype) -> None:
    """Refuse a CHAR/VARCHAR column type (also nested): the engine stores
    a string, so the length would go unenforced."""
    if getattr(spark._jvm, "org.apache.spark.sql.catalyst.util.CharVarcharUtils") \
            .hasCharVarchar(dtype):
        raise ValueError(f"{what}: column {col} has type {dtype.sql()}, whose length "
                         "the engine does not enforce; declare it STRING")


def _add_columns(s: _Statement) -> dict:
    t = s.table(s.node.table(), "ALTER TABLE")
    defs = []
    for c in _seq(s.node.columnsToAdd()):
        _refuse_char_varchar(s.spark, f"ALTER TABLE {t.name} ADD COLUMNS",
                             c.colName(), c.dataType())
        _refuse(f"ADD COLUMN {c.colName()}", {
            "a nested field": c.path().isDefined(),
            "NOT NULL": not c.nullable(),
            "COMMENT": c.comment().isDefined(),
            "FIRST/AFTER": c.position().isDefined(),
        })
        default = c.default()
        defs.append((c.colName(), c.dataType().sql(),
                     default.get().originalSQL() if default.isDefined() else None))
    # refuse in-list duplicates BEFORE the first commit, so a multi-column
    # statement is never half-applied (Spark's parser already refused any
    # unknown type); per-column guards (exists / was dropped) run inside
    # add_column under its OCC loop
    names = [col for col, _type, _default in defs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate column names in ADD COLUMNS: {names}")

    def commit() -> int:
        for col, sql_type, default in defs:
            version = t.add_column(col, sql_type, default=default)
        return version

    return _metadata_commit(t, "add-column", commit)


def _drop_columns(s: _Statement) -> dict:
    t = s.table(s.node.table(), "ALTER TABLE")
    _refuse("DROP COLUMNS", {"IF EXISTS": s.node.ifExists()})
    cols = [_column_name(c) for c in _seq(s.node.columnsToDrop())]
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate column names in DROP COLUMNS: {cols}")

    def commit() -> int:
        for col in cols:
            version = t.drop_column(col)
        return version

    return _metadata_commit(t, "drop-column", commit)


def _rename_column(s: _Statement) -> dict:
    t = s.table(s.node.table(), "ALTER TABLE")
    old = _column_name(s.node.column())
    return _metadata_commit(
        t, "rename-column", lambda: t.rename_column(old, s.node.newName())
    )


def _alter_type(t: SnapshotTable, col: str, sql_type: str) -> dict:
    """Safe type promotion; the type is parsed by Spark."""
    return _metadata_commit(
        t, "alter-column-type", lambda: t.alter_column_type(col, sql_type)
    )


def _alter_columns(s: _Statement) -> dict:
    """ALTER COLUMN c TYPE t | SET NOT NULL (validated + enforced) |
    DROP NOT NULL, one column per statement."""
    t = s.table(s.node.table(), "ALTER TABLE")
    specs = _seq(s.node.specs())
    if len(specs) != 1:
        raise ValueError("ALTER TABLE ... ALTER COLUMN takes one column per statement")
    spec = specs[0]
    col = _column_name(spec.column())
    _refuse(f"ALTER COLUMN {col}", {
        "COMMENT": spec.newComment().isDefined(),
        "FIRST/AFTER": spec.newPosition().isDefined(),
        "SET/DROP DEFAULT": spec.newDefaultExpression().isDefined() or spec.dropDefault(),
    })
    if spec.newDataType().isDefined():
        return _alter_type(t, col, spec.newDataType().get().sql())
    verb = "drop" if spec.newNullability().get() else "set"
    version = t.drop_not_null(col) if verb == "drop" else t.set_not_null(col)
    return {"op": f"{verb}-not-null", "table": t.name, "version": version,
            "audit": {"column": col, "dirs_rewritten": 0}}


def _rename_table(s: _Statement) -> dict:
    """RENAME TO: a catalog move; history, refs and deletes travel."""
    _refuse("ALTER VIEW", {"RENAME TO": s.node.isView()})
    t = s.table(s.node.child(), "ALTER TABLE")
    moved = t.rename_to(".".join(_seq(s.node.newName())))
    return {"op": "rename-table", "table": moved.name,
            "version": moved.current_version(), "audit": {"renamed_from": t.name}}


def _set_properties(s: _Statement) -> dict:
    """SET TBLPROPERTIES merges over the current properties."""
    t = s.table(s.node.table(), "ALTER TABLE")
    props = s.props if s.props is not None else _map(s.node.properties())
    version = t.set_properties(props)
    return {"op": "set-properties", "table": t.name, "version": version,
            "audit": {"properties": t.properties(), "dirs_rewritten": 0}}


def _unset_properties(s: _Statement) -> dict:
    t = s.table(s.node.table(), "ALTER TABLE")
    _refuse("UNSET TBLPROPERTIES", {"IF EXISTS": s.node.ifExists()})
    keys = s.props if s.props is not None else _seq(s.node.propertyKeys())
    version = t.unset_properties(keys)
    return {"op": "unset-properties", "table": t.name, "version": version,
            "audit": {"properties": t.properties(), "dirs_rewritten": 0}}


def _add_constraint(s: _Statement) -> dict:
    """ADD CONSTRAINT name CHECK (cond): validated against existing rows,
    then enforced on every write. The stored condition is the text the
    user wrote, as Spark's parser kept it."""
    check = s.node.checkConstraint()
    t = s.table(s.node.child().child(), "ALTER TABLE")
    cname, cexpr = check.userProvidedName(), check.condition()
    if cname is None:
        raise ValueError("ADD CONSTRAINT ... CHECK needs a constraint name")
    version = t.add_constraint(cname, cexpr)
    return {"op": "add-constraint", "table": t.name, "version": version,
            "audit": {"constraint": cname, "check": cexpr, "dirs_rewritten": 0}}


def _drop_constraint(s: _Statement) -> dict:
    n = s.node
    t = s.table(n.table(), "ALTER TABLE")
    _refuse("DROP CONSTRAINT", {"IF EXISTS": n.ifExists(), "CASCADE": n.cascade()})
    version = t.drop_constraint(n.name())
    return {"op": "drop-constraint", "table": t.name, "version": version,
            "audit": {"constraint": n.name(), "dirs_rewritten": 0}}


def _analyze(s: _Statement) -> dict:
    """ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS c, ...] -> t.stats"""
    n = s.node
    t = s.table(n.child(), "ANALYZE TABLE")
    if _kind(n) == "AnalyzeTable":
        _refuse("ANALYZE TABLE", {"PARTITION": n.partitionSpec().nonEmpty(),
                                  "NOSCAN": n.noScan()})
        cols = None
    else:
        _refuse("ANALYZE TABLE", {"FOR ALL COLUMNS": n.allColumns()})
        cols = _seq(n.columnNames().get())
    version = t.analyze(cols)
    return {"op": "analyze", "table": t.name, "version": version,
            "audit": {"stats": t._read_meta(version)["stats"], "dirs_rewritten": 0}}


# ------------------------------------------------------------ CALL procedures
# The Iceberg stored-procedure surface (spark_catalog.system.* in the real
# runtime) over the maintenance methods that already exist. Each runner
# takes the table and the bound arguments and returns the result's
# version and audit.


def _rollback_to_version(t: SnapshotTable, b: dict) -> dict:
    return {"version": t.rollback(int(b["version"])),
            "audit": {"rolled_back_to": int(b["version"])}}


def _expire_snapshots(t: SnapshotTable, b: dict) -> dict:
    # older_than_ts is an absolute epoch timestamp (Iceberg's older_than),
    # deliberately NOT named older_than_sec: the sibling
    # remove_orphan_files takes an AGE in seconds, and one spelling for
    # two meanings invites expiring nothing
    older = b["older_than_ts"]
    expired = t.expire_snapshots(
        keep_last=int(b["keep_last"]),
        older_than=float(older) if older is not None else None,
    )
    return {"version": t.current_version(),
            "audit": {"versions_expired": len(expired),
                      "versions_left": len(t._versions())}}


def _compact(t: SnapshotTable, b: dict) -> dict:
    return {"version": t.compact(), "audit": None}


def _compact_minor(t: SnapshotTable, b: dict) -> dict:
    # small-file sweep: merge only the sub-threshold dirs a per-trigger
    # streaming sink lands; O(small bytes), never O(table)
    v, audit = t.compact_minor(small_bytes=int(b["small_bytes"]))
    return {"version": v if v is not None else t.current_version(), "audit": audit}


def _compute_file_stats(t: SnapshotTable, b: dict) -> dict:
    # prebuild the footer-stat sidecars for every data dir of the CURRENT
    # snapshot: the write-time half of the manifest model, done eagerly
    # here, lazily on first consult otherwise
    cur = t.current_version()
    n_files = n_cols = 0
    for d in t._read_meta(cur)["dirs"]:
        stats = t._dir_file_stats(d)
        n_files += len(stats["files"])
        n_cols += sum(len(e["cols"]) for e in stats["files"].values())
    return {"version": cur,
            "audit": {"files_profiled": n_files, "column_entries": n_cols}}


def _rewrite_position_deletes(t: SnapshotTable, b: dict) -> dict:
    # Iceberg's rewrite_position_delete_files: fold many small position-
    # delete files into one, data untouched, CDC-neutral
    n_before = sum(
        dd.get("kind") == "position"
        for dd in t._read_meta(t.current_version()).get("delete_dirs", [])
    )
    return {"version": t.rewrite_position_deletes(),
            "audit": {"position_delete_files_before": n_before,
                      "position_delete_files_after": min(n_before, 1)}}


def _remove_orphan_files(t: SnapshotTable, b: dict) -> dict:
    removed = t.remove_orphan_files(older_than_sec=float(b["older_than_sec"]))
    return {"version": t.current_version(),
            "audit": {"orphans_removed": len(removed)}}


# name -> (required parameters, optional parameters with defaults, runner)
_PROCEDURES: dict[str, tuple[list, dict, Callable[[SnapshotTable, dict], dict]]] = {
    "rollback_to_version": (["table", "version"], {}, _rollback_to_version),
    "expire_snapshots": (["table"], {"keep_last": 1, "older_than_ts": None}, _expire_snapshots),
    "compact": (["table"], {}, _compact),
    "compact_minor": (["table"], {"small_bytes": 32 * 1024 * 1024}, _compact_minor),
    "compute_file_stats": (["table"], {}, _compute_file_stats),
    "rewrite_position_deletes": (["table"], {}, _rewrite_position_deletes),
    "remove_orphan_files": (["table"], {"older_than_sec": 3 * 24 * 3600}, _remove_orphan_files),
}


def _procedure_grammar() -> str:
    """One `CALL proc(...)` line per procedure, from _PROCEDURES."""
    return "\n".join(
        f"CALL {name}({', '.join(params)}"
        + "".join(f" [, {k} => ...]" for k in optional)
        + ")"
        for name, (params, optional, _run) in _PROCEDURES.items()
    )


def _call_argument(expr):
    if _kind(expr) == "Literal":
        type_name = expr.dataType().typeName()
        if type_name == "string":
            return expr.value().toString()
        if type_name in ("integer", "long"):
            return int(expr.value())
    raise ValueError(f"CALL argument must be a 'string' or integer: {expr.sql()!r}")


def _call_arguments(node) -> tuple[list, dict]:
    """A parsed CALL's arguments: positional, then `key => value`
    (Iceberg named-argument syntax), each a string or integer literal."""
    args: list = []
    kwargs: dict = {}
    for a in _seq(node.args()):
        if _kind(a) == "NamedArgumentExpression":
            kwargs[a.key().lower()] = _call_argument(a.value())
        elif kwargs:
            raise ValueError("positional CALL argument after a named one")
        else:
            args.append(_call_argument(a))
    return args, kwargs


def _call(s: _Statement) -> dict:
    proc = ".".join(_seq(s.node.procedure().nameParts())).lower()
    if proc not in _PROCEDURES:
        raise ValueError(
            f"unknown procedure {proc!r} (expected one of {', '.join(_PROCEDURES)})"
        )
    params, optional, run = _PROCEDURES[proc]
    args, kwargs = _call_arguments(s.node)
    bound = dict(zip(params, args))
    if set(bound) & set(kwargs) or len(args) > len(params):
        raise ValueError(f"CALL {proc}: bad arguments {args} {kwargs}")
    bound = {**optional, **bound, **kwargs}
    missing = [p for p in params if p not in bound]
    if missing:
        raise ValueError(f"CALL {proc}: missing argument(s) {missing}")
    t = SnapshotTable(s.spark, str(bound["table"]), s.root)
    _current(t)
    return {"op": f"call-{proc}", "table": bound["table"], **run(t, bound)}


# ------------------------------------------------------------------- views


def _create_view(s: _Statement) -> dict:
    """CREATE [OR REPLACE] VIEW v AS <query>: stores the query's text as
    Spark's parser kept it; OR REPLACE appends a view version."""
    import json as _json
    import os as _os

    n, root = s.node, s.root
    name = _table_name(n.child(), "CREATE VIEW")
    _refuse(f"CREATE VIEW {name}", {
        "IF NOT EXISTS": n.allowExisting(),
        "a column list": n.userSpecifiedColumns().nonEmpty(),
        "COMMENT": n.comment().isDefined(),
        "TBLPROPERTIES": n.properties().nonEmpty(),
    })
    body = n.originalText().get()
    if name in _names(_leaves(s.spark, n.query())):
        raise ValueError(f"view {name} cannot reference itself")
    if SnapshotTable(s.spark, name, root).current_version() is not None:
        raise ValueError(f"cannot CREATE VIEW {name}: a TABLE of that name exists")
    vs = _view_versions(root, name)
    if vs and not n.replace():
        raise ValueError(f"view {name} already exists (use OR REPLACE)")
    # validate the body resolves NOW (analyzer errors surface here, not
    # at first read), through the same statement path every read of the
    # view takes; the stored text stays lazy
    execute_sql(s.spark, body, root).limit(0).collect()
    d = _views_dir(root, name)
    _os.makedirs(d, exist_ok=True)
    v = (vs[-1] + 1) if vs else 1
    with open(_os.path.join(d, f"v{v:05d}.json"), "w") as f:
        _json.dump({"name": name, "sql": body, "version": v}, f)
    return {"op": "create-view" if v == 1 else "replace-view",
            "table": name, "version": v, "audit": None}


def _drop_view(s: _Statement) -> dict:
    import shutil as _shutil

    name = _table_name(s.node.child(), "DROP VIEW")
    if not _view_versions(s.root, name):
        if s.node.ifExists():
            return {"op": "drop-view-noop", "table": name, "version": None,
                    "audit": None}
        raise ValueError(f"view {name} does not exist")
    _shutil.rmtree(_views_dir(s.root, name), ignore_errors=True)
    return {"op": "drop-view", "table": name, "version": None, "audit": None}


# ------------------------------------------------------- SHOW and DESCRIBE
# Metadata-sized: each reads one snapshot JSON or lists the catalog root.


def _current(t: SnapshotTable) -> int:
    cur = t.current_version()
    if cur is None:
        raise ValueError(f"table {t.name} does not exist")
    return cur


def _describe(s: _Statement) -> DataFrame:
    """`DESCRIBE [TABLE] t`: one row per column of the COMMITTED schema
    (current logical names — a renamed column shows its new name) plus
    whether it is a partition field."""
    import json as _json

    n = s.node
    _refuse("DESCRIBE", {"EXTENDED": n.isExtended(),
                         "PARTITION": n.partitionSpec().nonEmpty()})
    t = s.table(n.relation(), "DESCRIBE")
    meta = t._read_meta(_current(t))
    spec = set(meta.get("spec", []))
    rows = [
        (f.name, f.dataType.simpleString(), f.name in spec)
        for f in T.StructType.fromJson(_json.loads(meta["schema"])).fields
    ]
    return s.spark.createDataFrame(
        rows, "col_name string, data_type string, is_partition_field boolean"
    )


def _show_catalog(s: _Statement) -> DataFrame:
    """`SHOW TABLES`: every snapshot table under the catalog root (a dir
    with a _meta log) with its current version; `SHOW VIEWS`: every
    persisted view with its latest version. Sorted by name."""
    import os as _os

    n, root = s.node, s.root
    what = "SHOW TABLES" if _kind(n) == "ShowTables" else "SHOW VIEWS"
    _refuse(what, {"IN <namespace>": _kind(n.namespace()) != "CurrentNamespace$",
                   "LIKE": n.pattern().isDefined()})
    if what == "SHOW VIEWS":
        rows = [(v, _view_versions(root, v)[-1]) for v in _view_names(root)]
        return s.spark.createDataFrame(rows, "view_name string, version int")
    rows = []
    for d in sorted(_os.listdir(root)) if _os.path.isdir(root) else []:
        if _os.path.isdir(_os.path.join(root, d, "_meta")):
            v = SnapshotTable(s.spark, d, root).current_version()
            if v is not None:
                rows.append((d, v))
    return s.spark.createDataFrame(rows, "table_name string, version int")


def _show_create_table(s: _Statement) -> DataFrame:
    """`SHOW CREATE TABLE t`: one row (`createtab_stmt`) with the
    canonical statement for the CURRENT committed state — logical
    column names and types (a renamed column shows its new name, a
    widened column its promoted type) and the partition spec, mirroring
    DESCRIBE's partition-field flags. It is the column-list CREATE TABLE
    this module executes, so the output round-trips."""
    import json as _json

    _refuse("SHOW CREATE TABLE", {"AS SERDE": s.node.asSerde()})
    t = s.table(s.node.child(), "SHOW CREATE TABLE")
    meta = t._read_meta(_current(t))
    nn = set(meta.get("not_null", []))

    def _coldef(f) -> str:
        col = f"  {f.name} {f.dataType.simpleString()}"
        if f.name in nn:
            col += " NOT NULL"
        if "default" in (f.metadata or {}):
            col += f" DEFAULT {f.metadata['default']}"
        return col

    stored = T.StructType.fromJson(_json.loads(meta["schema"]))
    cols = ",\n".join(_coldef(f) for f in stored.fields)
    stmt = f"CREATE TABLE {t.name} (\n{cols})\nUSING snapshot"
    spec = meta.get("spec", [])
    if spec:
        stmt += f"\nPARTITIONED BY ({', '.join(spec)})"
    # TBLPROPERTIES block carries the user properties plus the CHECK
    # constraints rendered Delta-style (`delta.constraints.<name>` is
    # the public model this mirrors), sorted for determinism
    props = dict(meta.get("properties", {}))
    for cname, cexpr in meta.get("constraints", {}).items():
        props[f"constraint.{cname}"] = f"CHECK ({cexpr})"
    if props:
        # SQL-escape single quotes (ADVICE r12): a CHECK constraint with a
        # string literal (CHECK (seg = 'BLD')) must render as a valid
        # quoted property value, not nested bare quotes
        esc = lambda v: str(v).replace("'", "''")  # noqa: E731
        lines = ",\n".join(
            f"  '{esc(k)}' = '{esc(v)}'" for k, v in sorted(props.items())
        )
        stmt += f"\nTBLPROPERTIES (\n{lines})"
    return s.spark.createDataFrame([(stmt,)], "createtab_stmt string")


def _show_properties(s: _Statement) -> DataFrame:
    _refuse("SHOW TBLPROPERTIES", {"a property key": s.node.propertyKey().isDefined()})
    t = s.table(s.node.table(), "SHOW TBLPROPERTIES")
    _current(t)
    return s.spark.createDataFrame(
        sorted(t.properties().items()), "key string, value string"
    )


# ------------------------------------- extensions Spark's grammar rejects
# Each takes its anchored regex match (s.node).


def _ref(s: _Statement) -> dict:
    """ALTER TABLE t CREATE BRANCH|TAG name [AS OF VERSION n] (a CAS
    against absence: CREATE never moves an existing ref), and ALTER
    TABLE t DROP BRANCH|TAG name"""
    from empdia_iceberg_spark.tables.manager import CommitConflictError

    name, verb, kind, ref, at = s.node.groups()
    t, op = SnapshotTable(s.spark, name, s.root), f"{verb}-{kind}".lower()
    if verb.upper() == "DROP":
        if at:
            raise ValueError("DROP BRANCH|TAG takes no AS OF VERSION")
        try:
            t.drop_ref(ref)
        except KeyError as e:
            raise ValueError(str(e))
        return {"op": op, "table": name, "version": t.current_version(),
                "audit": {"ref": ref}}
    version = int(at) if at else t.current_version()
    if version is None:
        raise ValueError(f"table {name} has no snapshots")
    try:
        t.set_ref(ref, version, expect=None)
    except CommitConflictError:
        raise ValueError(
            f"table {name}: ref {ref!r} already exists (use set_ref to move it)"
        )
    return {"op": op, "table": name, "version": version, "audit": {"ref": ref}}


def _partition_field(s: _Statement) -> dict:
    """ALTER TABLE t ADD|DROP PARTITION FIELD col|transform(col), and
    REPLACE PARTITION FIELD old WITH new (Iceberg's one-commit swap,
    position kept). Spec evolution affects future writes only."""
    name, verb, field_, new = s.node.groups()
    t = SnapshotTable(s.spark, name, s.root)
    entry, spec = canonical_transform(field_), t.current_spec()
    if verb.upper() != "ADD" and entry not in spec:
        raise ValueError(f"{entry!r} is not a partition field of {name}")
    audit = None
    if verb.upper() == "ADD":
        if entry in spec:
            raise ValueError(f"{entry!r} is already a partition field")
        spec = spec + [entry]
    elif verb.upper() == "DROP":
        spec = [c for c in spec if c != entry]
    else:
        new = canonical_transform(new)
        if new in spec:
            raise ValueError(f"{new!r} is already a partition field")
        spec = [new if c == entry else c for c in spec]
        audit = {"replaced": entry, "with": new}
    return {"op": "evolve-partitioning", "table": name,
            "version": t.evolve_partitioning(spec), "audit": audit}


def _set_data_type(s: _Statement) -> dict:
    """ALTER TABLE t ALTER COLUMN c SET DATA TYPE t, the DB2/PostgreSQL
    spelling of ALTER COLUMN c TYPE t"""
    name, col, sql_type = s.node.groups()
    return _alter_type(SnapshotTable(s.spark, name, s.root), col, sql_type)


def _vacuum(s: _Statement) -> dict:
    """VACUUM t [RETAIN k VERSIONS]: CALL expire_snapshots by keep_last"""
    name, keep = s.node.group(1), int(s.node.group(2) or 1)
    t = SnapshotTable(s.spark, name, s.root)
    _current(t)
    if keep < 1:
        raise ValueError("VACUUM must retain at least 1 version")
    return {"op": "vacuum", "table": name,
            **_expire_snapshots(t, {"keep_last": keep, "older_than_ts": None})}


def _show_create_view(s: _Statement) -> DataFrame:
    """SHOW CREATE VIEW v"""
    name = s.node.group(1)
    sql = _view_sql(s.root, name)
    if sql is None:
        raise ValueError(f"view {name} does not exist")
    return s.spark.createDataFrame(
        [(f"CREATE VIEW {name} AS\n{sql}",)], "createview_stmt string"
    )


def _curve_dim(df: DataFrame, col: str):
    """ZORDER dimension as a bigint Column: DATE → days since epoch,
    integral/decimal → bigint cast. Refuses strings/doubles (a curve
    key needs a total order on a bounded integer grid; Iceberg's
    zorder likewise transforms to fixed-width integers)."""
    dt = dict(df.dtypes).get(col)
    if dt is None:
        raise ValueError(f"ZORDER BY column {col!r} not in table")
    if dt == "date" or dt.startswith("timestamp"):
        # day granularity — the layout-module convention; finer grids
        # buy nothing for file skipping at target-file-size file counts
        return F.datediff(F.to_date(F.col(col)), F.to_date(F.lit("1970-01-01")))
    if dt in ("tinyint", "smallint", "int", "bigint") or dt.startswith("decimal"):
        return F.col(col).cast("bigint")
    raise ValueError(
        f"ZORDER BY column {col!r} has unsupported type {dt} "
        "(integral, decimal, date, or timestamp required)"
    )



def _target_file_count(df: DataFrame) -> int:
    """File count under the target-file-size policy, from Catalyst's
    plan-size estimate (same policy as SnapshotTable._write_data). When
    the JVM cannot estimate the plan, OPTIMIZE writes one file and says
    why."""
    from empdia_iceberg_spark.tables import manager as _mgr

    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except (Py4JError, PySparkException) as e:
        warnings.warn(f"OPTIMIZE: no plan-size estimate, writing one file: {e}")
        return 1
    return max(1, min(4096, -(-size // _mgr.TARGET_FILE_BYTES)))


def _optimize(s: _Statement) -> dict:
    """OPTIMIZE t [ZORDER BY (c1, c2)]: rewrite the current file set to
    target-size files, optionally Z-ORDER clustered (Delta `OPTIMIZE ...
    ZORDER BY` / Iceberg rewrite_data_files with sort order).

    Scale shape: ONE range shuffle on the Morton key (repartitionByRange
    gives disjoint key ranges per output file — the file-skipping
    property), sortWithinPartitions inside each file, no driver
    materialization beyond the 1-row min/max envelope read that sizes
    the curve grid. Bits are chosen from the measured dim ranges, so a
    dim wider than 2^21 cells is never silently masked into collisions.
    MOR delete files fold in (the read applies them; the rewrite commits
    clean files and drops the delete set)."""
    name, zcols = s.node.groups()
    t = SnapshotTable(s.spark, name, s.root)
    before = t._read_meta(_current(t))
    zorder_cols = [c.strip() for c in (zcols or "").split(",") if c.strip()]
    if zcols is not None and not zorder_cols:
        raise ValueError(
            "OPTIMIZE ... ZORDER BY () names no columns — drop the "
            "clause for plain compaction or list exactly 2 columns"
        )
    df = t.read()
    if zorder_cols:
        if len(zorder_cols) != 2:
            raise ValueError(
                f"OPTIMIZE ZORDER BY takes exactly 2 columns, got {zorder_cols}"
            )
        dims = [_curve_dim(df, c) for c in zorder_cols]
        env = df.agg(
            *[F.min(d).alias(f"lo{i}") for i, d in enumerate(dims)],
            *[F.max(d).alias(f"hi{i}") for i, d in enumerate(dims)],
        ).first()
        ranges = [
            int(env[f"hi{i}"] or 0) - int(env[f"lo{i}"] or 0) for i in range(2)
        ]
        bits = max(1, max(r.bit_length() for r in ranges))
        if bits > 31:
            raise ValueError(
                f"ZORDER dims span {max(ranges)} cells — beyond the 31-bit "
                "curve grid; bucket or transform the columns first"
            )
        rebased = [
            d - F.lit(int(env[f"lo{i}"] or 0)) for i, d in enumerate(dims)
        ]
        key = morton_spark(rebased[0], rebased[1], bits=bits)
        out = (
            df.withColumn("_zkey", key)
            .repartitionByRange(_target_file_count(df), F.col("_zkey"))
            .sortWithinPartitions("_zkey")
            .drop("_zkey")
        )
        op = "optimize-zorder"
    else:
        out = df.coalesce(_target_file_count(df))
        op = "optimize"
    version = t.overwrite(out, op=op)
    after = t._read_meta(version)
    return {
        "op": op,
        "table": t.name,
        "version": version,
        "audit": {
            "dirs_in": len(before["dirs"]),
            "dirs_out": len(after["dirs"]),
            "delete_files_folded": len(before.get("delete_dirs", [])),
        },
    }


# ------------------------------------------------------- table references
# The tables a statement reads are the relation leaves of its parsed plan.
# Three kinds are read-side sugar, each registered as a temp view and
# replaced by the view's name at its span before one more parse: time
# travel (a RelationTimeTravel), Delta's CDC read `table_changes('t', v1
# [, v2 [, 'key']])` (an UnresolvedTableValuedFunction; the key folds
# same-commit delete+insert pairs into update pre/postimages) and the
# Iceberg metadata tables `t.snapshots|refs|files|...` (a two-part
# UnresolvedRelation whose head is a snapshot table, not a database).
# Comments, literals and columns are not leaves; a span that cannot be
# shown exact is refused.


@functools.cache
def _unresolved_with(jvm):
    """TreePattern.UNRESOLVED_WITH, fetched once per JVM gateway."""
    return getattr(jvm, "org.apache.spark.sql.catalyst.trees.TreePattern").UNRESOLVED_WITH()


def _leaves(spark: SparkSession, plan) -> list[tuple[str, Any, list | None]]:
    """A parsed plan's relation leaves as (node class, node, name parts of
    an UnresolvedRelation): those of its tree, of every CTE definition
    (an UnresolvedWith's innerChildren, which no tree walk visits) and of
    every subquery expression."""
    with_ = _unresolved_with(spark._jvm)
    out, todo = [], [(plan, True)]
    while todo:
        p, root = todo.pop()
        for leaf in _seq(p.collectLeaves()):
            kind = _kind(leaf)
            parts = _seq(leaf.multipartIdentifier()) if kind == "UnresolvedRelation" else None
            out.append((kind, leaf, parts))
        if root:  # subqueriesAll already holds subqueries of subqueries
            todo += [(q, False) for q in _seq(p.subqueriesAll())]
        nodes = [p] if p.containsPattern(with_) else []
        while nodes:  # descend only into children that hold a WITH
            n = nodes.pop()
            if _kind(n) == "UnresolvedWith":
                todo += [(d, True) for d in _seq(n.innerChildren())]
            nodes += [c for c in _seq(n.children()) if c.containsPattern(with_)]
    return out


def _names(leaves: list) -> set:
    """The one-part relation names among a plan's leaves."""
    return {parts[0] for _kind_, _leaf, parts in leaves if parts and len(parts) == 1}


def _span(text: str, node, what: str, spelled: str | None = None) -> tuple[int, int]:
    """A parsed node's [start, end) in the statement text; with
    ``spelled``, checked to hold exactly that name (backticks aside)."""
    origin = node.origin()
    start, stop = origin.startIndex(), origin.stopIndex()
    if not start.isDefined() or (
        spelled is not None and text[start.get() : stop.get() + 1].replace("`", "") != spelled
    ):
        raise ValueError(f"{what}: its position in the statement is not exact")
    return start.get(), stop.get() + 1


def _literal(expr, what: str) -> str | int | float:
    """A parsed string or number literal's value; anything else is refused."""
    dtype = expr.dataType().simpleString() if _kind(expr) == "Literal" else ""
    if dtype == "string":
        return str(expr.value())
    if dtype in ("int", "bigint"):
        return expr.value()
    if dtype == "double" or dtype.startswith("decimal"):
        return float(str(expr.value()))
    raise ValueError(f"{what} takes string or number literals")


def _metadata_frame(spark: SparkSession, t: SnapshotTable, kind: str) -> DataFrame:
    """Build the metadata table as a driver-side frame. Strictly
    metadata-sized: snapshots/refs read the JSON log; files lists the
    CURRENT snapshot's data dirs (one os.walk per dir — O(|files|),
    the same cost as planning any scan of the table)."""
    import os as _os

    if kind == "snapshots":
        rows = [
            (
                m["version"],
                m.get("op", ""),
                m.get("parent"),
                float(m["ts"]) if m.get("ts") is not None else None,
                len(m.get("dirs", [])),
                len(m.get("delete_dirs", [])),
            )
            for m in t.snapshots()
        ]
        schema = (
            "version int, op string, parent int, committed_at double, "
            "n_data_dirs int, n_delete_dirs int"
        )
    elif kind == "refs":
        rows = sorted(t.refs().items())
        schema = "name string, version int"
    elif kind == "stats":
        st = t._read_meta(t.current_version()).get("stats")
        rows = []
        if st:
            rows = [
                (
                    c,
                    st["row_count"],
                    cs["ndv"],
                    cs["null_count"],
                    cs["min"],
                    cs["max"],
                    st["as_of_version"],
                )
                for c, cs in sorted(st.get("columns", {}).items())
            ] or [
                # table analyzed without FOR COLUMNS: one table-level row
                ("_table_", st["row_count"], None, None, None, None,
                 st["as_of_version"])
            ]
        schema = (
            "col_name string, row_count bigint, ndv bigint, "
            "null_count bigint, min_value string, max_value string, "
            "as_of_version int"
        )
    elif kind == "partitions":
        # Iceberg `t.partitions`: per-partition-value file/byte counts of
        # the CURRENT snapshot. Partition values live in hive `_p_<col>=`
        # subdir names (the shadow-column layout), so this is one
        # os.walk per dir — metadata-sized, no file reads. Dirs written
        # under an empty spec report a single '' partition.
        meta = t._read_meta(t.current_version())
        agg: dict = {}
        for d, dspec in zip(meta["dirs"], t._dir_specs(meta)):
            for root_, _dirs, fnames in _os.walk(d):
                pq_files = [f for f in fnames if f.endswith(".parquet")]
                if not pq_files:
                    continue
                rel = _os.path.relpath(root_, d)
                part = "/".join(
                    p_ for p_ in rel.split(_os.sep) if p_.startswith("_p_")
                ).replace("_p_", "")
                key = (part, ",".join(dspec))
                n, b = agg.get(key, (0, 0))
                agg[key] = (
                    n + len(pq_files),
                    b + sum(
                        _os.path.getsize(_os.path.join(root_, f))
                        for f in pq_files
                    ),
                )
        rows = [
            (part, spec_, n, b) for (part, spec_), (n, b) in sorted(agg.items())
        ]
        schema = "partition string, spec string, n_files int, size_bytes bigint"
    elif kind == "file_stats":
        # per-FILE column stats from the footer-stat sidecars (r15 —
        # Iceberg's manifest-entry readable_metrics): builds the
        # sidecar on first use (footer reads, driver-side); values are
        # the string renderings of the stored bounds
        meta = t._read_meta(t.current_version())
        rows = []
        for d in meta["dirs"]:
            stats = t._dir_file_stats(d)
            for rel, ent in sorted(stats["files"].items()):
                for col, ce in sorted(ent["cols"].items()):
                    rows.append(
                        (
                            _os.path.basename(d),
                            rel,
                            ent["rows"],
                            col,
                            str(ce["min"]),
                            str(ce["max"]),
                            ce["nulls"],
                            ce["kind"],
                        )
                    )
        schema = (
            "dir string, file string, row_count bigint, col_name string, "
            "min_value string, max_value string, null_count bigint, "
            "value_kind string"
        )
    else:  # files
        meta = t._read_meta(t.current_version())
        rows = []
        for d, dspec in zip(meta["dirs"], t._dir_specs(meta)):
            n_files, n_bytes = 0, 0
            for root_, _dirs, fnames in _os.walk(d):
                for fn in fnames:
                    if fn.endswith(".parquet"):
                        n_files += 1
                        n_bytes += _os.path.getsize(_os.path.join(root_, fn))
            rows.append(
                (_os.path.basename(d), ",".join(dspec), n_files, n_bytes)
            )
        schema = "dir string, spec string, n_files int, size_bytes bigint"
    return spark.createDataFrame(rows, schema)


def _parse_as_of_ts(raw: str) -> float:
    """Epoch seconds from a TIMESTAMP AS OF literal: a bare epoch number
    or an ISO-8601 string ('2026-08-16 12:00:00[+00:00]'); a naive
    timestamp is UTC (the engine pins spark.sql.session.timeZone=UTC)."""
    v = raw.strip().strip("'\"")
    try:
        return float(v)
    except ValueError:
        pass
    dt = datetime.fromisoformat(v)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def _time_travel(spark: SparkSession, text: str, leaf, root: str) -> tuple:
    """A RelationTimeTravel as (start, end, temp view over the snapshot's
    committed-schema read, so time travel shows the schema AS OF each
    version). Its origin() covers only the temporal clause, so the span
    runs from the table name through the clause, whitespace between."""
    rel = leaf.relation()
    parts = _seq(rel.multipartIdentifier()) if _kind(rel) == "UnresolvedRelation" else []
    if len(parts) != 1:
        raise ValueError("time travel requires a one-part snapshot table name")
    name, what = parts[0], f"time travel on {parts[0]!r}"
    start, name_end = _span(text, rel, what, spelled=name)
    clause, end = _span(text, leaf, what)
    if text[name_end:clause].strip() or not re.match(
        r"(?i)(FOR|VERSION|SYSTEM_VERSION|TIMESTAMP|SYSTEM_TIME)\b", text[clause:end]
    ):
        raise ValueError(f"{what}: its position in the statement is not exact")
    t = SnapshotTable(spark, name, root)
    if t.current_version() is None:
        raise ValueError(f"time travel requires a snapshot table: {name!r} not found")
    if leaf.version().isDefined():
        v = leaf.version().get()
        try:  # Iceberg lets VERSION AS OF name a branch/tag ref
            version = int(v) if v.isdigit() else t.get_ref(v)
        except KeyError as e:
            raise ValueError(str(e))
    else:
        ts = _literal(leaf.timestamp().get(), "TIMESTAMP AS OF")
        version = t.version_as_of(_parse_as_of_ts(str(ts)))
    view = f"_asof_{name}_v{version}"
    t.read(version).createOrReplaceTempView(view)
    return start, end, view


def _changes_bound(t: SnapshotTable, lit: int | str | None, is_start: bool):
    """Resolve one table_changes() bound: an integer is a version; a
    string literal is a TIMESTAMP bound (Delta parity) — the start
    resolves to the earliest version committed AT OR AFTER it, the end
    to the latest committed at or before it."""
    if lit is None or isinstance(lit, int):
        return lit
    try:
        ts = _parse_as_of_ts(lit)
    except ValueError:
        raise ValueError(
            f"table_changes: bound {lit!r} is neither a version number "
            "nor a timestamp literal (for key folding, pass the key as "
            "the FOURTH argument: table_changes('t', v1, v2, 'key'))"
        )
    best = None
    for v in t._versions():
        committed = t._read_meta(v).get("ts")
        if is_start:
            if committed is not None and committed >= ts:
                return v
        elif committed is None or committed <= ts:
            best = v
    if is_start or best is None:
        raise ValueError(
            f"table_changes: no commit of {t.name} "
            f"{'at or after' if is_start else 'at or before'} {lit!r}"
        )
    return best


def _ts_literal_parses(lit: str) -> bool:
    try:
        _parse_as_of_ts(lit)
        return True
    except ValueError:
        return False


def _table_columns(t: SnapshotTable) -> set:
    import json as _json

    return set(
        T.StructType.fromJson(
            _json.loads(t._read_meta(t.current_version())["schema"])
        ).fieldNames()
    )


def _table_changes(spark: SparkSession, text: str, leaf, root: str) -> tuple:
    """A `table_changes('t', v1 [, v2 [, 'key']])` call as (start, end,
    temp view over `SnapshotTable.changes`). Its origin() runs on over a
    following alias, so the span ends at the `)` after the last argument."""
    usage = "table_changes('t', v1 [, v2 [, 'key']])"
    args = _seq(leaf.functionArgs())
    vals = [_literal(a, "table_changes") for a in args]
    name, bounds, key = vals[0] if vals else None, vals[1:3], (vals[3:] or [None])[0]
    if not (2 <= len(vals) <= 4 and isinstance(name, str) and isinstance(key, (str, type(None)))
            and not any(isinstance(b, float) for b in bounds)):
        raise ValueError(f"bad table_changes arguments {vals}: {usage}")
    start, _ = _span(text, leaf, "table_changes")
    _, last = _span(text, args[-1], "table_changes")
    rest = text[last:].lstrip()
    if not (rest.startswith(")") and text[start:last].replace("`", "").lower()
            .startswith("table_changes")):
        raise ValueError("table_changes: its position in the statement is not exact")
    end = len(text) - len(rest) + 1
    if not re.fullmatch(r"\w+", name):
        raise ValueError(f"table_changes: invalid table name {name!r}")
    t = SnapshotTable(spark, name, root)
    if t.current_version() is None:
        raise ValueError(f"table_changes requires a snapshot table: {name!r} not found")
    v1, v2 = _changes_bound(t, bounds[0], is_start=True), None
    if len(bounds) == 2:
        third = bounds[1]
        if (key is None and isinstance(third, str) and not _ts_literal_parses(third)
                and third in _table_columns(t)):
            # legacy 3-arg key-folding form table_changes('t', v1, 'key'):
            # a string 3rd arg that is not a timestamp but IS a table
            # column keeps that meaning
            key = third
        else:
            v2 = _changes_bound(t, third, is_start=False)
    view = f"_changes_{name}_{v1}_{v2 if v2 is not None else 'cur'}" + (
        f"_{key}" if key else ""
    )
    t.changes(v1, v2, key=key).createOrReplaceTempView(view)
    return start, end, view


def _rewrite(spark: SparkSession, text: str, leaves: list, root: str) -> str | None:
    """Register a temp view for each time-travel, table_changes() and
    metadata-table leaf; return the statement with each replaced by its
    view's name, or None when the plan holds none of them."""
    metadata = ("snapshots", "refs", "files", "stats", "partitions", "file_stats")
    sugar = [(kind, leaf, parts) for kind, leaf, parts in leaves
             if kind in ("RelationTimeTravel", "UnresolvedTableValuedFunction")
             or (parts and len(parts) == 2 and parts[1] in metadata)]
    if not sugar:
        return None
    # the parser substitutes ${var} references first; its spans index the result
    text = getattr(
        spark._jvm, "org.apache.spark.sql.internal.VariableSubstitution"
    )().substitute(text)
    edits = set()
    for kind, leaf, parts in sugar:
        if kind == "RelationTimeTravel":
            edits.add(_time_travel(spark, text, leaf, root))
        elif (kind == "UnresolvedTableValuedFunction"
              and _seq(leaf.name())[-1].lower() == "table_changes"):
            edits.add(_table_changes(spark, text, leaf, root))
        elif parts:
            t = SnapshotTable(spark, parts[0], root)
            if t.current_version() is not None:  # else database-qualified
                ref = ".".join(parts)
                view = f"_meta_{parts[0]}_{parts[1]}"
                _metadata_frame(spark, t, parts[1]).createOrReplaceTempView(view)
                edits.add((*_span(text, leaf, f"metadata table {ref}", ref), view))
    for start, end, view in sorted(edits, reverse=True):  # right to left
        text = text[:start] + view + text[end:]
    return text if edits else None


def execute_sql_script(
    spark: SparkSession,
    script: str,
    root: str = DEFAULT_ROOT,
) -> list:
    """Run a multi-statement SQL script: statements split on TOP-LEVEL
    semicolons (the quote/paren-aware `_split_top_level` — a ';' inside a
    string literal or parens never splits), executed in order through
    :func:`execute_sql`, results returned as a list (DataFrames for
    reads, result dicts for DDL/DML). Fails fast: the first error stops
    the script with statements before it already applied — the same
    no-transaction contract as running the statements one at a time
    (use Catalog.publish for atomic multi-table commits)."""
    results = []
    for stmt in _split_top_level(script, ";"):
        if stmt.strip():
            results.append(execute_sql(spark, stmt, root))
    return results


# ------------------------------------------------------ statement front-end
# execute_sql parses each statement once with Spark's parser and
# dispatches on the plan node's class through `_NODES`: one entry per kind
# of statement, giving its handler and whether the statement's body is
# evaluated through Spark (reads, DML, CTAS), which is what the view- and
# table-materialization gate needs. Query nodes take the read path. The
# few forms Spark's grammar rejects match one anchored regex each in
# `_EXTENSIONS`, and none of them has a body.


class _Entry(NamedTuple):
    handler: Callable[[_Statement], Any]
    body: bool = False  # the statement's body is evaluated through Spark
    ddl: bool = True  # execute_ddl runs it


def _read(s: _Statement) -> DataFrame:
    """A query, analyzed from its parsed plan as ``spark.sql`` would."""
    df = _dataframe(s.spark, s.node)
    if s.registered:
        # partition pruning for the SQL read path: if Catalyst pushed
        # partition-source predicates onto a table's scan, re-bind that
        # table's temp view to the dir-pruned read and re-analyze
        # (sqlprune module; falls back to the full plan whenever scoping
        # or bounds can't be PROVEN)
        pruned = try_sql_prune(
            s.spark, df, lambda: _dataframe(s.spark, s.node), s.root, s.registered
        )
        if pruned is not None:
            return pruned
    return df


def _dml(s: _Statement) -> dict:
    return execute_dml(s.spark, s.text, s.root, s.mor_key, plan=s.node,
                       registered=s.registered)


_READ = _Entry(_read, body=True, ddl=False)
_DML = _Entry(_dml, body=True, ddl=False)

_NODES: dict[str, _Entry] = {
    "InsertIntoStatement": _DML,
    "UpdateTable": _DML,
    "DeleteFromTable": _DML,
    "MergeIntoTable": _DML,
    "OverwriteByExpression": _DML,  # INSERT ... REPLACE WHERE, which it refuses
    "CreateTableAsSelect": _Entry(_create_table, body=True),
    "ReplaceTableAsSelect": _Entry(_create_table, body=True),
    "CreateTable": _Entry(_create_table),
    "ReplaceTable": _Entry(_create_table),
    "TruncateTable": _Entry(_truncate),
    "DropTable": _Entry(_drop_table),
    "AddColumns": _Entry(_add_columns),
    "DropColumns": _Entry(_drop_columns),
    "RenameColumn": _Entry(_rename_column),
    "AlterColumns": _Entry(_alter_columns),
    "RenameTable": _Entry(_rename_table),
    "SetTableProperties": _Entry(_set_properties),
    "UnsetTableProperties": _Entry(_unset_properties),
    "AddCheckConstraint": _Entry(_add_constraint),
    "DropConstraint": _Entry(_drop_constraint),
    "Call": _Entry(_call),
    "AnalyzeTable": _Entry(_analyze),
    "AnalyzeColumn": _Entry(_analyze),
    "CreateView": _Entry(_create_view),
    "DropView": _Entry(_drop_view),
    "DescribeRelation": _Entry(_describe, ddl=False),
    "ShowTables": _Entry(_show_catalog, ddl=False),
    "ShowViews": _Entry(_show_catalog, ddl=False),
    "ShowCreateTable": _Entry(_show_create_table, ddl=False),
    "ShowTableProperties": _Entry(_show_properties, ddl=False),
}

_EXTENSIONS: list[tuple[re.Pattern, _Entry]] = [
    (re.compile(pattern, re.IGNORECASE | re.DOTALL), entry)
    for pattern, entry in (
        (r"^\s*ALTER\s+TABLE\s+(\w+)\s+(CREATE|DROP)\s+(BRANCH|TAG)\s+(\w+)"
         r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*$", _Entry(_ref)),
        (r"^\s*ALTER\s+TABLE\s+(\w+)\s+(ADD|DROP|REPLACE)\s+PARTITION\s+FIELD\s+"
         r"(.+?)(?:\s+WITH\s+(.+?))?\s*;?\s*$", _Entry(_partition_field)),
        (r"^\s*ALTER\s+TABLE\s+(\w+)\s+ALTER\s+COLUMN\s+(\w+)\s+SET\s+DATA\s+TYPE\s+"
         r"(.+?)\s*;?\s*$", _Entry(_set_data_type)),
        (r"^\s*OPTIMIZE\s+(\w+)(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*;?\s*$",
         _Entry(_optimize)),
        (r"^\s*VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?\s*;?\s*$",
         _Entry(_vacuum)),
        (r"^\s*SHOW\s+CREATE\s+VIEW\s+(\w+)\s*;?\s*$",
         _Entry(_show_create_view, ddl=False)),
    )
]


def _is_query(spark: SparkSession, node, kind: str) -> bool:
    """Whether a parsed node (of class ``kind``) is a query, the only kind
    ``spark.sql`` may evaluate: a command run over the auto-registered
    temp views would write straight into a committed snapshot's files.
    The grammar nests a statement under a query-shaped node only as the
    body of a CTE (`WITH ... INSERT`) or as the branches of a
    multi-insert (`FROM s INSERT ... INSERT ...`), so the check looks no
    deeper than those."""
    if kind in ("UnresolvedWith", "Union"):
        return all(_is_query(spark, c, _kind(c)) for c in _seq(node.children()))
    type_util = getattr(spark._jvm, "py4j.reflection.TypeUtil")
    logical = "org.apache.spark.sql.catalyst.plans.logical."
    return kind not in ("UnresolvedExecuteImmediate", "InsertIntoDir") and not any(
        type_util.isInstanceOf(logical + trait, node)
        for trait in ("Command", "ParsedStatement")
    )


def _parse_with_reserved_keys(spark: SparkSession, text: str) -> tuple:
    """Parse a statement whose TBLPROPERTIES name a key Spark reserves
    (owner, location, provider). Spark's parser refuses those keys, and
    with spark.sql.legacy.notReserveProperties it drops them silently,
    but the engine's properties are user metadata. So this parses
    Spark's own ANTLR tree once: Spark's AST builder builds the plan
    under a clone of the session with that conf set, and reads the
    property list from the same tree with every key kept. AstBuilder
    reads SQLConf.get, which follows the thread's active session, so the
    clone is made active on this thread for the one call only; the
    user's session, its conf and its active session are unchanged.
    Returns (plan node, the TBLPROPERTIES map, or key list for UNSET)."""
    jvm = spark._jvm
    antlr, grammar = jvm.org.antlr.v4.runtime, jvm.org.apache.spark.sql.catalyst.parser
    parser = grammar.SqlBaseParser(antlr.CommonTokenStream(grammar.SqlBaseLexer(
        grammar.UpperCaseCharStream(antlr.CharStreams.fromString(text))
    )))
    tree = parser.singleStatement()
    builder = jvm.org.apache.spark.sql.execution.SparkSqlAstBuilder()
    clone = spark._jsparkSession.cloneSession()
    clone.conf().set("spark.sql.legacy.notReserveProperties", "true")
    sessions = jvm.org.apache.spark.sql.SparkSession
    active = sessions.getActiveSession()
    sessions.setActiveSession(clone)
    try:
        plan = builder.visitSingleStatement(tree)
    finally:
        if active.isDefined():
            sessions.setActiveSession(active.get())
        else:
            sessions.clearActiveSession()
    (props,) = antlr.tree.xpath.XPath.findAll(tree, "//propertyList", parser)
    if _kind(plan) == "UnsetTableProperties":
        return plan, _seq(builder.visitPropertyKeys(props))
    return plan, _map(builder.visitPropertyKeyValues(props))


def _statement(spark: SparkSession, text: str, root: str) -> tuple[_Entry, _Statement]:
    """Find the entry for one statement, parsing it once."""
    for pattern, entry in _EXTENSIONS:
        m = pattern.match(text)
        if m:
            return entry, _Statement(spark, root, text, m)
    # pyspark logs an ERROR record with the JVM stack for every
    # ParseException it converts; hold it back, drop it when the
    # reserved-key parse recovers, and log it when the statement fails
    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    held: list = []
    hold = held.append  # as a filter it returns None: the record waits
    logger.addFilter(hold)
    try:
        node, props = _parse(spark, text), None
    except ValueError as ex:
        cause = ex.__cause__
        if not (isinstance(cause, ParseException)
                and cause.getCondition() == "UNSUPPORTED_FEATURE.SET_TABLE_PROPERTY"):
            raise
        held.clear()
        node, props = _parse_with_reserved_keys(spark, text)
    finally:
        logger.removeFilter(hold)
        for record in held:
            logger.handle(record)
    kind = _kind(node)
    entry = _NODES.get(kind)
    if entry is None:
        if not _is_query(spark, node, kind):
            if kind == "UnresolvedWith" and _kind(node.child()) == "InsertIntoStatement":
                raise ValueError(
                    "a WITH clause ahead of INSERT is not supported; put it "
                    "after the target: INSERT INTO t WITH q AS (...) SELECT ..."
                )
            raise ValueError(
                f"unsupported SQL statement: Spark parses it as {kind}, which "
                f"the engine does not handle: {text[:80]!r}"
            )
        entry = _READ
    return entry, _Statement(spark, root, text, node, props)


def _run(
    spark: SparkSession,
    statement: str,
    root: str,
    ddl_only: bool,
    mor_key: str | None = None,
    view_depth: int = 0,
):
    entry, s = _statement(spark, statement, root)
    if ddl_only and not entry.ddl:
        raise ValueError(f"not a DDL statement (use execute_sql): {statement[:80]!r}")
    if mor_key is not None and entry is not _DML:
        raise ValueError("mor_key applies to DML DELETE only")
    # Only a statement with a body reads tables; refreshing views for
    # pure metadata statements cost O(tables·py4j) per statement. A
    # DROP's stale auto-view is harmless: the next reading statement's
    # materialize_tables drops it first.
    if entry.body:
        leaves = _leaves(spark, s.node)
        rewritten = _rewrite(spark, statement, leaves, root)
        if rewritten is not None:
            entry, s = _statement(spark, rewritten, root)
        names = _names(leaves)
        materialize_views(spark, names, root, view_depth)
        s.registered = materialize_tables(spark, names, root)
    s.mor_key = mor_key
    return entry.handler(s)


def execute_ddl(spark: SparkSession, statement: str, root: str = DEFAULT_ROOT) -> dict:
    """Execute one DDL statement against the snapshot-table catalog.

    Spark's parser reads the statement, so every column type, default,
    CHECK condition and CTAS body is Spark's own parse. Grammar::

        CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t [USING snapshot|parquet]
            [PARTITIONED BY (col|transform(col), ...)] [TBLPROPERTIES (...)]
            AS <query>                 (OR REPLACE keeps history)
        CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t
            (c type [NOT NULL] [DEFAULT <literal>], ...) [USING ...]
            [PARTITIONED BY (...)] [TBLPROPERTIES (...)]   (an empty v1)
        TRUNCATE TABLE t
        DROP TABLE [IF EXISTS] t
        ALTER TABLE t ADD COLUMN[S] c type [DEFAULT <literal>] [, ...]
        ALTER TABLE t DROP COLUMN[S] c [, ...]
        ALTER TABLE t RENAME COLUMN old TO new
        ALTER TABLE t ALTER COLUMN c TYPE type   (safe promotion)
        ALTER TABLE t ALTER COLUMN c SET|DROP NOT NULL
        ALTER TABLE t RENAME TO t2           (catalog move; history travels)
        ALTER TABLE t SET TBLPROPERTIES ('k' = 'v', ...)   (merge-over)
        ALTER TABLE t UNSET TBLPROPERTIES ('k', ...)
        ALTER TABLE t ADD CONSTRAINT name CHECK (cond)     (validated + enforced)
        ALTER TABLE t DROP CONSTRAINT name
        ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS c, ...]  (-> t.stats)
        CREATE [OR REPLACE] VIEW v AS <query>
        DROP VIEW [IF EXISTS] v
        @PROCEDURES@

    and the engine extensions Spark's grammar rejects::

        ALTER TABLE t CREATE BRANCH|TAG name [AS OF VERSION n]
        ALTER TABLE t DROP BRANCH|TAG name
        ALTER TABLE t ADD|DROP PARTITION FIELD col|transform(col)
        ALTER TABLE t REPLACE PARTITION FIELD old WITH new  (in place)
        ALTER TABLE t ALTER COLUMN c SET DATA TYPE type
        OPTIMIZE t [ZORDER BY (c1, c2)]
        VACUUM t [RETAIN k VERSIONS]

    CALL arguments are positional or `name => value`, each a string or
    integer literal. Returns {"op", "table", "version", "audit"}; for
    schema evolution the audit PROVES the commit was metadata-only
    (dirs_rewritten is 0 by comparing the parent's and the new
    snapshot's dir lists). A statement Spark cannot parse raises
    ValueError with Spark's message; one that parses to a node the
    engine does not handle raises ValueError naming the node's class,
    and a clause it parses but the engine does not implement raises
    ValueError naming the clause.
    """
    return _run(spark, statement, root, ddl_only=True)


execute_ddl.__doc__ = execute_ddl.__doc__.replace(
    "@PROCEDURES@", _procedure_grammar().replace("\n", "\n        ")
)


def execute_sql(
    spark: SparkSession,
    statement: str,
    root: str = DEFAULT_ROOT,
    mor_key: str | None = None,
    _view_depth: int = 0,
):
    """One entry point for the whole declarative surface. Spark's parser
    reads the statement and the engine dispatches on the plan node's
    class: a query returns a DataFrame analyzed from its parsed plan
    (snapshot tables and persisted views it names resolve as temp
    views first); INSERT/UPDATE/DELETE/MERGE go to
    :func:`tables.dml.execute_dml` with the parsed node; DESCRIBE, SHOW
    TABLES|VIEWS, SHOW CREATE TABLE|VIEW and SHOW TBLPROPERTIES return
    DataFrames; everything in :func:`execute_ddl`'s grammar returns its
    result dict. ``mor_key`` is the DML DELETE routing knob and is
    rejected elsewhere. Read-side time travel (`t [FOR] VERSION|
    TIMESTAMP AS OF <literal>`), `table_changes(...)` and metadata
    tables (`t.snapshots`, ...) are relation leaves of the parsed plan,
    CTEs and subqueries included; each is rewritten to a temp view at
    its span AFTER the parse, so they work anywhere a read ref appears:
    a SELECT, an INSERT body, a MERGE source. Only query nodes reach
    Spark's evaluation directly; `WITH ... INSERT` is refused, since
    its insert would write into the table's committed files."""
    return _run(spark, statement, root, False, mor_key, _view_depth)


@register(
    "table_ddl_lifecycle",
    oracle=f"""
    WITH src AS (
        SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer
    )
    SELECT c_mktsegment,
           CASE WHEN c_acctbal >= 5000.0 THEN 'gold' ELSE 'std' END AS tier,
           count(*) AS n_rows,
           round({sql_sum2('c_acctbal')}, 2) AS sum_acctbal,
           CAST(0 AS INT) AS alter_dirs_rewritten,
           CAST(4 AS INT) AS n_versions,
           CAST(4 AS INT) AS n_columns
    FROM src
    GROUP BY c_mktsegment, CASE WHEN c_acctbal >= 5000.0 THEN 'gold' ELSE 'std' END
    ORDER BY c_mktsegment, tier
    """,
    doc="Declarative SQL DDL lifecycle over a snapshot table: CTAS "
    "PARTITIONED BY from a Catalyst-parsed SELECT, then METADATA-ONLY "
    "`ALTER TABLE ADD COLUMN` and `DROP COLUMN` (Iceberg schema "
    "evolution: one JSON commit each, dir list carried by reference — "
    "the emitted alter_dirs_rewritten=0 audit column hash-checks that "
    "neither evolution rewrote data, and n_columns=4 hash-checks that "
    "the dropped column stopped being projected while its bytes stay "
    "in the files), then a declarative UPDATE filling the added column "
    "(reads resolve against the COMMITTED schema, so pre-evolution "
    "files surface it as NULL and the COW rewrite sees it). Final "
    "state + the metadata-only proofs + the version count are all "
    "pinned by the oracle.",
)
def table_ddl_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("cust_ddl_src")
    execute_ddl(spark, "DROP TABLE IF EXISTS customer_ddl", root=scratch_root())
    execute_ddl(
        spark,
        "CREATE TABLE customer_ddl PARTITIONED BY (c_mktsegment) AS "
        "SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal, "
        "c_name FROM cust_ddl_src", root=scratch_root(),
    )
    res_add = execute_ddl(spark, "ALTER TABLE customer_ddl ADD COLUMN tier STRING", root=scratch_root())
    res_drop = execute_ddl(spark, "ALTER TABLE customer_ddl DROP COLUMN c_name", root=scratch_root())
    execute_dml(
        spark,
        "UPDATE customer_ddl SET tier = CASE WHEN c_acctbal >= 5000.0 "
        "THEN 'gold' ELSE 'std' END", root=scratch_root(),
    )
    t = SnapshotTable(spark, "customer_ddl", scratch_root())
    n_versions = t.current_version()
    final = t.read()
    rewrote = int(res_add["audit"]["dirs_rewritten"]) + int(
        res_drop["audit"]["dirs_rewritten"]
    )
    return (
        final.groupBy("c_mktsegment", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .withColumn("alter_dirs_rewritten", F.lit(rewrote).cast("int"))
        .withColumn("n_versions", F.lit(int(n_versions)).cast("int"))
        .withColumn("n_columns", F.lit(len(final.columns)).cast("int"))
        .orderBy("c_mktsegment", "tier")
    )


@register(
    "table_time_travel_sql",
    oracle=f"""
    WITH v1 AS (SELECT * FROM orders WHERE o_orderstatus = 'O'),
         v2 AS (SELECT * FROM orders WHERE o_orderstatus IN ('O', 'F')),
         v3 AS (SELECT * FROM orders)
    SELECT 1 AS version, count(*) AS n_rows, round({sql_sum2('o_totalprice')}, 2) AS total_price FROM v1
    UNION ALL
    SELECT 2, count(*), round({sql_sum2('o_totalprice')}, 2) FROM v2
    UNION ALL
    SELECT 3, count(*), round({sql_sum2('o_totalprice')}, 2) FROM v3
    ORDER BY version
    """,
    doc="Read-side SQL time travel over the snapshot table: ONE SELECT "
    "statement reads three eras of the same table through `VERSION AS "
    "OF`, `FOR TIMESTAMP AS OF '<iso>'` (resolved against the commit "
    "timestamps in the snapshot metadata — Iceberg snapshot-timestamp "
    "semantics; the probe timestamp is taken BETWEEN v2 and v3 commit "
    "times so it must resolve to v2), and the Iceberg `SYSTEM_VERSION "
    "AS OF` spelling. The rewrite is literal-masked (an 'AS OF' inside "
    "a string can never trigger it) and materializes each era as a "
    "committed-schema snapshot read; differentially checked against "
    "status filters over the base orders table.",
)
def table_time_travel_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_asof", scratch_root())
    t.drop()
    t.create(orders.filter(F.col("o_orderstatus") == "O"))
    t.append(orders.filter(F.col("o_orderstatus") == "F"))
    t.append(orders.filter(~F.col("o_orderstatus").isin("O", "F")))
    ts = {m["version"]: m["ts"] for m in t.snapshots()}
    # strictly between the v2 and v3 commits => must resolve to v2
    mid = datetime.fromtimestamp(
        (ts[2] + ts[3]) / 2.0, tz=timezone.utc
    ).isoformat()
    total = f"round({sql_sum2('o_totalprice')}, 2)"
    return execute_sql(
        spark,
        f"""
        SELECT 1 AS version, count(*) AS n_rows, {total} AS total_price
        FROM orders_asof VERSION AS OF 1
        UNION ALL
        SELECT 2, count(*), {total} FROM orders_asof FOR TIMESTAMP AS OF '{mid}'
        UNION ALL
        SELECT 3, count(*), {total} FROM orders_asof SYSTEM_VERSION AS OF 3
        ORDER BY version
        """, root=scratch_root(),
    )


@register(
    "table_changes_sql",
    oracle=f"""
    WITH upd AS (SELECT * FROM orders
                 WHERE o_orderstatus = 'O' AND o_totalprice > 450000.0),
         ins3 AS (SELECT * FROM orders WHERE o_orderstatus = 'P'),
         del4 AS (SELECT * FROM orders WHERE o_totalprice < 10000.0)
    SELECT 2 AS commit_version, 'insert' AS change_type,
           count(*) AS n_rows, round({sql_sum2('o_totalprice')}, 2) AS sum_price
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT 3, 'insert', count(*), round({sql_sum2('o_totalprice')}, 2) FROM ins3
    UNION ALL
    SELECT 3, 'update_postimage', count(*), round({sql_sum2('o_totalprice')}, 2) FROM upd
    UNION ALL
    SELECT 3, 'update_preimage', count(*), round({sql_sum2('o_totalprice')}, 2) FROM upd
    UNION ALL
    SELECT 4, 'delete', count(*), round({sql_sum2('o_totalprice')}, 2) FROM del4
    ORDER BY commit_version, change_type
    """,
    doc="SQL CDC read (r13, VERDICT r12 ask #5): ONE SELECT over the "
    "`table_changes('t', v1, v2, 'key')` TVF (Delta's spelling, "
    "resolved pre-dispatch on the literal-masked statement like time "
    "travel) aggregates the change stream of CREATE(O) -> APPEND(F) -> "
    "MERGE(update expensive O-orders to 0-RUSH priority + insert the "
    "P-orders) -> DELETE(cheap), starting at v2 so the range bound is "
    "exercised. The reads are file-pruned per commit — appends scan "
    "only the added files, the CoW merge/delete diff only the swapped "
    "file sets via exceptAll — and the key argument folds same-commit "
    "delete+insert pairs into update_preimage/update_postimage (Delta "
    "CDF's shape; without a key they surface as Iceberg changelog "
    "insert+delete). Counts AND exact-decimal price sums per "
    "(_commit_version, _change_type) are pinned by base-table "
    "arithmetic: updates preserve the price column so pre/post sums "
    "must agree; the delete era runs over the post-merge table, so a "
    "wrong diff anywhere upstream shifts a sum.",
)
def table_changes_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_cdcsql", scratch_root())
    t.drop()
    t.create(orders.filter(F.col("o_orderstatus") == "O"))  # v1
    t.append(orders.filter(F.col("o_orderstatus") == "F"))  # v2
    source = (
        orders.filter(
            (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 450000.0)
        )
        .withColumn("o_orderpriority", F.lit("0-RUSH"))
        .unionByName(orders.filter(F.col("o_orderstatus") == "P"))
    )
    t.merge(source, key="o_orderkey")  # v3: updates + inserts in ONE commit
    t.delete_where(F.col("o_totalprice") < 10000.0)  # v4: CoW delete
    total = f"round({sql_sum2('o_totalprice')}, 2)"
    return execute_sql(
        spark,
        f"""
        SELECT _commit_version AS commit_version,
               _change_type AS change_type,
               count(*) AS n_rows,
               {total} AS sum_price
        FROM table_changes('orders_cdcsql', 2, 4, 'o_orderkey')
        GROUP BY _commit_version, _change_type
        ORDER BY commit_version, change_type
        """,
        root=scratch_root(),
    )


@register(
    "table_maintenance_sql",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           round({sql_sum2('o_totalprice')}, 2) AS total_price,
           CAST(3 AS INT) AS optimize_dirs_in,
           CAST(1 AS INT) AS optimize_dirs_out,
           CAST(3 AS INT) AS vacuum_expired,
           CAST(1 AS INT) AS versions_left
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Declarative maintenance statements over the snapshot table: "
    "`OPTIMIZE t ZORDER BY (o_custkey, o_orderdate)` rewrites a "
    "3-append file set into Z-ORDER-clustered target-size files (one "
    "range shuffle on the Morton key — disjoint key ranges per file, "
    "the file-skipping property; curve bits sized from the measured "
    "dim ranges) and `VACUUM t RETAIN 1 VERSIONS` expires the three "
    "pre-optimize snapshots and their now-unreferenced data dirs "
    "(Iceberg expire_snapshots). The audit columns hash-check the "
    "maintenance decisions — 3 dirs in, 1 clustered dir out, 3 "
    "versions expired, 1 left — and the rollup proves the rewrite "
    "preserved content exactly.",
)
def table_maintenance_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_maint", scratch_root())
    t.drop()
    t.create(orders.filter(F.col("o_orderstatus") == "O"))
    t.append(orders.filter(F.col("o_orderstatus") == "F"))
    t.append(orders.filter(~F.col("o_orderstatus").isin("O", "F")))
    res_opt = execute_sql(
        spark, "OPTIMIZE orders_maint ZORDER BY (o_custkey, o_orderdate)"
    , root=scratch_root())
    res_vac = execute_sql(spark, "VACUUM orders_maint RETAIN 1 VERSIONS", root=scratch_root())
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("o_totalprice"), 2).alias("total_price"),
        )
        .withColumn(
            "optimize_dirs_in", F.lit(int(res_opt["audit"]["dirs_in"])).cast("int")
        )
        .withColumn(
            "optimize_dirs_out", F.lit(int(res_opt["audit"]["dirs_out"])).cast("int")
        )
        .withColumn(
            "vacuum_expired",
            F.lit(int(res_vac["audit"]["versions_expired"])).cast("int"),
        )
        .withColumn(
            "versions_left", F.lit(int(res_vac["audit"]["versions_left"])).cast("int")
        )
        .orderBy("o_orderstatus")
    )


@register(
    "table_rename_column_sql",
    oracle=f"""
    SELECT c_mktsegment,
           count(*) AS n_rows,
           round({sql_sum2("CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100.0 ELSE c_acctbal END")}, 2) AS sum_balance,
           CAST(0 AS INT) AS rename_dirs_rewritten,
           CAST(1 AS INT) AS files_carry_physical_name
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="METADATA-ONLY `ALTER TABLE RENAME COLUMN` (the Iceberg rename "
    "semantics under a name-based schema model): the committed schema "
    "records the field's PHYSICAL file-column name, reads project "
    "physical → logical, and every later write maps logical back to "
    "physical — so files written before the rename, an INSERT after "
    "it, and a COW UPDATE rewrite after it all carry the SAME physical "
    "column and union trivially. The rename_dirs_rewritten=0 audit "
    "hash-checks that the rename rewrote nothing; "
    "files_carry_physical_name=1 asserts (by reading the newest data "
    "dir raw) that post-rename files really store the ORIGINAL column "
    "name; the rollup over the renamed column pins value correctness "
    "across all three file generations.",
)
def table_rename_column_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("cust_rn_src")
    execute_ddl(spark, "DROP TABLE IF EXISTS customer_rn", root=scratch_root())
    execute_ddl(
        spark,
        "CREATE TABLE customer_rn AS SELECT c_custkey, c_mktsegment, "
        "CAST(c_acctbal AS DOUBLE) AS c_acctbal FROM cust_rn_src "
        "WHERE c_custkey % 2 = 0", root=scratch_root(),
    )
    res_rn = execute_ddl(
        spark, "ALTER TABLE customer_rn RENAME COLUMN c_acctbal TO balance"
    , root=scratch_root())
    # post-rename INSERT and COW UPDATE both address the LOGICAL name
    execute_dml(
        spark,
        "INSERT INTO customer_rn SELECT c_custkey, c_mktsegment, "
        "CAST(c_acctbal AS DOUBLE) AS balance FROM cust_rn_src "
        "WHERE c_custkey % 2 = 1", root=scratch_root(),
    )
    execute_dml(
        spark,
        "UPDATE customer_rn SET balance = balance + 100.0 "
        "WHERE c_mktsegment = 'BUILDING'", root=scratch_root(),
    )
    t = SnapshotTable(spark, "customer_rn", scratch_root())
    # the newest data dir must physically store the ORIGINAL name
    newest = t._read_meta(t.current_version())["dirs"][-1]
    raw_cols = spark.read.parquet(newest).columns
    physical_ok = int("c_acctbal" in raw_cols and "balance" not in raw_cols)
    return (
        t.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("balance"), 2).alias("sum_balance"),
        )
        .withColumn(
            "rename_dirs_rewritten",
            F.lit(int(res_rn["audit"]["dirs_rewritten"])).cast("int"),
        )
        .withColumn(
            "files_carry_physical_name", F.lit(physical_ok).cast("int")
        )
        .orderBy("c_mktsegment")
    )


def _raw_dtypes(d: str) -> dict:
    """{column: Spark-style physical type} of the first parquet file of
    data dir ``d``, straight off its FOOTER (r16): the alter-type
    audit's claim is about the bytes on disk, and the footer schema IS
    that record — pyarrow reads it in ~1 ms, where a Spark relation per
    dir cost ~125 ms (driver file listing + schema merge)."""
    import glob
    import os as _os

    import pyarrow.parquet as pq

    files = sorted(glob.glob(_os.path.join(d, "*.parquet")))
    if not files:
        raise ValueError(f"no parquet file in data dir {d}")
    out = {}
    for fld in pq.read_schema(files[0]):
        s = str(fld.type)
        if s == "int64":
            s = "bigint"
        elif s == "int32":
            s = "int"
        elif s.startswith("decimal128(") or s.startswith("decimal("):
            s = "decimal(" + s.split("(", 1)[1].replace(" ", "")
        out[fld.name] = s
    return out


@register(
    "table_alter_type_sql",
    oracle=f"""
    WITH li AS (
        SELECT l_orderkey,
               l_linenumber AS line_no,
               CAST(l_quantity AS REAL) AS qty,
               CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
               l_returnflag
        FROM lineitem
    )
    SELECT l_returnflag,
           count(*) AS n_rows,
           max(CAST(line_no AS BIGINT)) AS max_line_no,
           round({sql_sum2("CAST(qty AS DOUBLE)")}, 2) AS sum_qty,
           CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(0 AS INT) AS alter_dirs_rewritten,
           CAST(1 AS INT) AS narrowing_refused,
           CAST(1 AS INT) AS old_files_stayed_narrow,
           CAST(1 AS INT) AS new_files_written_wide
    FROM li
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="METADATA-ONLY `ALTER TABLE ... ALTER COLUMN ... TYPE` (the "
    "Iceberg spec's safe type promotions): int→bigint, float→double, "
    "and decimal precision growth (via the SET DATA TYPE alias "
    "spelling) each commit ONE schema JSON — alter_dirs_rewritten=0 is "
    "hash-checked across all three statements. Old files keep their "
    "narrow physical encoding (parquet INT32/FLOAT/DECIMAL(12,2), "
    "audited by reading the oldest data dir raw) and the scan itself "
    "upcasts them under the widened committed schema; a post-widening "
    "INSERT conforms to the wide types (newest dir audited raw), and "
    "the rollup over both file generations pins value correctness. A "
    "decimal NARROWING attempt must be refused (narrowing_refused=1) — "
    "value-destroying changes need a rewrite, never a metadata commit.",
)
def table_alter_type_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_widen_src")
    execute_ddl(spark, "DROP TABLE IF EXISTS lineitem_widen", root=scratch_root())
    execute_ddl(
        spark,
        "CREATE TABLE lineitem_widen AS SELECT l_orderkey, "
        "CAST(l_linenumber AS INT) AS line_no, "
        "CAST(l_quantity AS FLOAT) AS qty, "
        "CAST(l_extendedprice AS DECIMAL(12,2)) AS price, "
        "l_returnflag FROM li_widen_src WHERE l_orderkey % 2 = 0", root=scratch_root(),
    )
    res1 = execute_ddl(
        spark, "ALTER TABLE lineitem_widen ALTER COLUMN line_no TYPE BIGINT"
    , root=scratch_root())
    res2 = execute_ddl(
        spark, "ALTER TABLE lineitem_widen ALTER COLUMN qty TYPE DOUBLE"
    , root=scratch_root())
    res3 = execute_ddl(
        spark,
        "ALTER TABLE lineitem_widen ALTER COLUMN price SET DATA TYPE DECIMAL(18,2)", root=scratch_root(),
    )
    # a narrowing must refuse, leaving no commit behind
    try:
        execute_ddl(
            spark, "ALTER TABLE lineitem_widen ALTER COLUMN price TYPE DECIMAL(8,2)"
        , root=scratch_root())
        refused = 0
    except ValueError:
        refused = 1
    # post-widening INSERT: the append conforms to the WIDE committed types
    execute_dml(
        spark,
        "INSERT INTO lineitem_widen SELECT l_orderkey, "
        "CAST(l_linenumber AS BIGINT) AS line_no, "
        "CAST(l_quantity AS DOUBLE) AS qty, "
        "CAST(l_extendedprice AS DECIMAL(18,2)) AS price, "
        "l_returnflag FROM li_widen_src WHERE l_orderkey % 2 = 1", root=scratch_root(),
    )
    t = SnapshotTable(spark, "lineitem_widen", scratch_root())
    dirs = t._read_meta(t.current_version())["dirs"]

    raw_old = _raw_dtypes(dirs[0])
    raw_new = _raw_dtypes(dirs[-1])
    old_narrow = int(
        raw_old["line_no"] == "int"
        and raw_old["qty"] == "float"
        and raw_old["price"] == "decimal(12,2)"
    )
    new_wide = int(
        raw_new["line_no"] == "bigint"
        and raw_new["qty"] == "double"
        and raw_new["price"] == "decimal(18,2)"
    )
    rewritten = sum(r["audit"]["dirs_rewritten"] for r in (res1, res2, res3))
    return (
        t.read()
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("line_no").alias("max_line_no"),
            F.round(exact_sum2("qty"), 2).alias("sum_qty"),
            F.sum("price").cast("double").alias("sum_price"),
        )
        .withColumn("alter_dirs_rewritten", F.lit(int(rewritten)).cast("int"))
        .withColumn("narrowing_refused", F.lit(int(refused)).cast("int"))
        .withColumn("old_files_stayed_narrow", F.lit(old_narrow).cast("int"))
        .withColumn("new_files_written_wide", F.lit(new_wide).cast("int"))
        .orderBy("l_returnflag")
    )


@register(
    "table_views_sql",
    oracle=f"""
    WITH t100 AS (
        SELECT o_orderstatus, count(*) AS n_rows,
               round({sql_sum2('o_totalprice')}, 2) AS sum_price
        FROM orders WHERE o_totalprice > 100000.0
        GROUP BY o_orderstatus
    ),
    t150 AS (
        SELECT o_orderstatus, count(*) AS n_rows,
               round({sql_sum2('o_totalprice')}, 2) AS sum_price
        FROM orders WHERE o_totalprice > 150000.0
        GROUP BY o_orderstatus
    )
    SELECT 'full_t100k' AS epoch, o_orderstatus, n_rows, sum_price,
           CAST(2 AS INT) AS v_big_version,
           'CREATE VIEW orders_big_v AS' || chr(10) ||
           'SELECT o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice ' ||
           'FROM orders_view_t WHERE o_totalprice > 150000.0' AS show_create
    FROM t100
    UNION ALL
    SELECT 'full_t150k', o_orderstatus, n_rows, sum_price, 2,
           'CREATE VIEW orders_big_v AS' || chr(10) ||
           'SELECT o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice ' ||
           'FROM orders_view_t WHERE o_totalprice > 150000.0'
    FROM t150
    ORDER BY epoch, o_orderstatus
    """,
    doc="Persisted SQL VIEWS (r12, the Iceberg view-spec model: a view "
    "is VERSIONED metadata — the SQL text — resolved lazily at read "
    "time, never materialized data): `CREATE [OR REPLACE] VIEW`, view-"
    "over-view stacking resolved recursively with a cycle guard, bare "
    "snapshot-table references auto-materialized (precedence: session "
    "temp views > persisted views > snapshot tables), `SHOW CREATE "
    "VIEW`/`SHOW VIEWS`, `DROP VIEW`. Hash-checked: the stacked rollup "
    "reads THROUGH the view chain after an INSERT doubled the base "
    "table (laziness — epoch full_t100k) and again after OR REPLACE "
    "rewired the inner view's threshold (the stack picks up the "
    "replaced child — epoch full_t150k); the replaced view's version=2 "
    "and its exact SHOW CREATE VIEW text are pinned as literals.",
)
def table_views_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_vw_src")
    root = scratch_root()
    for v in ("orders_big_v", "orders_big_rollup_v"):
        execute_sql(spark, f"DROP VIEW IF EXISTS {v}", root=root)
    execute_sql(spark, "DROP TABLE IF EXISTS orders_view_t", root=root)
    execute_sql(
        spark,
        "CREATE TABLE orders_view_t AS SELECT o_orderkey, o_orderstatus, "
        "CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM orders_vw_src "
        "WHERE o_orderkey % 2 = 0",
        root=root,
    )
    execute_sql(
        spark,
        "CREATE VIEW orders_big_v AS "
        "SELECT o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice "
        "FROM orders_view_t WHERE o_totalprice > 100000.0",
        root=root,
    )
    execute_sql(
        spark,
        "CREATE VIEW orders_big_rollup_v AS "
        "SELECT o_orderstatus, count(*) AS n_rows, "
        f"round({sql_sum2('o_totalprice')}, 2) AS sum_price "
        "FROM orders_big_v GROUP BY o_orderstatus",
        root=root,
    )
    # the views are LAZY: doubling the base table shows straight through
    execute_sql(
        spark,
        "INSERT INTO orders_view_t SELECT o_orderkey, o_orderstatus, "
        "CAST(o_totalprice AS DOUBLE) FROM orders_vw_src WHERE o_orderkey % 2 = 1",
        root=root,
    )
    read_100k = execute_sql(
        spark, "SELECT * FROM orders_big_rollup_v", root=root
    ).collect()
    # OR REPLACE rewires the INNER view; the stacked rollup picks it up
    res_rp = execute_sql(
        spark,
        "CREATE OR REPLACE VIEW orders_big_v AS "
        "SELECT o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice "
        "FROM orders_view_t WHERE o_totalprice > 150000.0",
        root=root,
    )
    read_150k = execute_sql(
        spark, "SELECT * FROM orders_big_rollup_v", root=root
    ).collect()
    stmt = execute_sql(
        spark, "SHOW CREATE VIEW orders_big_v", root=root
    ).collect()[0][0]
    rows = [("full_t100k", r.o_orderstatus, r.n_rows, r.sum_price) for r in read_100k]
    rows += [("full_t150k", r.o_orderstatus, r.n_rows, r.sum_price) for r in read_150k]
    return (
        spark.createDataFrame(
            sorted(rows),
            "epoch string, o_orderstatus string, n_rows bigint, sum_price double",
        )
        .withColumn("v_big_version", F.lit(int(res_rp["version"])).cast("int"))
        .withColumn("show_create", F.lit(stmt))
        .orderBy("epoch", "o_orderstatus")
    )


@register(
    "table_analyze_sql",
    oracle="""
    WITH st AS (
        SELECT count(*) AS row_count,
               count(DISTINCT o_custkey) AS ndv_ck,
               CAST(min(o_custkey) AS VARCHAR) AS min_ck,
               CAST(max(o_custkey) AS VARCHAR) AS max_ck,
               count(DISTINCT o_orderstatus) AS ndv_st,
               CAST(min(o_orderstatus) AS VARCHAR) AS min_st,
               CAST(max(o_orderstatus) AS VARCHAR) AS max_st
        FROM orders
    )
    SELECT 'o_custkey' AS col_name, row_count, ndv_ck AS ndv,
           CAST(0 AS BIGINT) AS null_count, min_ck AS min_value,
           max_ck AS max_value, CAST(3 AS INT) AS as_of_version,
           CAST(1 AS INT) AS stale_as_of_after_append
    FROM st
    UNION ALL
    SELECT 'o_orderstatus', row_count, ndv_st, CAST(0 AS BIGINT),
           min_st, max_st, CAST(3 AS INT), CAST(1 AS INT)
    FROM st
    ORDER BY col_name
    """,
    doc="`ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` (r12) + the "
    "`t.stats` metadata table: ONE aggregation pass computes row count "
    "and per-column exact NDV / null count / min / max (rendered "
    "through the engine's string cast), committed into snapshot "
    "metadata with the analyzed version PINNED — a later append "
    "carries the stats forward unchanged and `t.stats` shows the stale "
    "as_of_version (the Iceberg/Spark model: stats describe the "
    "snapshot they were computed on; staleness is visible, never "
    "hidden — hash-checked via stale_as_of_after_append=1), and a "
    "re-ANALYZE refreshes every value over both file generations "
    "(hash-checked against base-table aggregates).",
)
def table_analyze_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_an_src")
    execute_sql(spark, "DROP TABLE IF EXISTS orders_stats_t", root=scratch_root())
    execute_sql(
        spark,
        "CREATE TABLE orders_stats_t AS SELECT o_orderkey, o_custkey, "
        "o_orderstatus FROM orders_an_src WHERE o_orderkey % 2 = 0",
        root=scratch_root(),
    )
    execute_sql(
        spark,
        "ANALYZE TABLE orders_stats_t COMPUTE STATISTICS "
        "FOR COLUMNS o_custkey, o_orderstatus",
        root=scratch_root(),
    )
    execute_sql(
        spark,
        "INSERT INTO orders_stats_t SELECT o_orderkey, o_custkey, "
        "o_orderstatus FROM orders_an_src WHERE o_orderkey % 2 = 1",
        root=scratch_root(),
    )
    # stats ride the append UNCHANGED: as_of still pins ANALYZED v1
    # (as_of_version records the snapshot the stats DESCRIBE, which is
    # the analyze commit's parent, not the analyze commit itself)
    stale = execute_sql(
        spark,
        "SELECT DISTINCT as_of_version FROM orders_stats_t.stats",
        root=scratch_root(),
    ).collect()
    stale_as_of = int(stale[0][0]) if len(stale) == 1 else -1
    execute_sql(
        spark,
        "ANALYZE TABLE orders_stats_t COMPUTE STATISTICS "
        "FOR COLUMNS o_custkey, o_orderstatus",
        root=scratch_root(),
    )
    return (
        execute_sql(
            spark,
            "SELECT * FROM orders_stats_t.stats",
            root=scratch_root(),
        )
        .withColumn("stale_as_of_after_append", F.lit(stale_as_of).cast("int"))
        .orderBy("col_name")
    )


@register(
    "table_governance_sql",
    oracle=f"""
    SELECT c_mktsegment,
           count(*) AS n_rows,
           round({sql_sum2("abs(c_acctbal)")}, 2) AS sum_abs_bal,
           count(*) AS n_default_tier,
           CAST(1 AS INT) AS insert_refused,
           CAST(1 AS INT) AS backfill_constraint_refused,
           CAST(1 AS INT) AS not_null_refused,
           CAST(1 AS INT) AS versions_left,
           'CREATE TABLE customer_gov (' || chr(10) ||
           '  c_custkey bigint,' || chr(10) ||
           '  c_mktsegment string NOT NULL,' || chr(10) ||
           '  c_acctbal double,' || chr(10) ||
           '  tier string DEFAULT ''standard'')' || chr(10) ||
           'USING snapshot' || chr(10) ||
           'TBLPROPERTIES (' || chr(10) ||
           '  ''constraint.non_negative_bal'' = ''CHECK (c_acctbal >= 0.0)'',' || chr(10) ||
           '  ''owner'' = ''data-eng'')' AS show_create
    FROM (SELECT c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
          FROM customer)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Table governance through SQL (r12): `SET/UNSET TBLPROPERTIES` "
    "(Iceberg property semantics — merge-over, metadata-only) and "
    "Delta-style CHECK constraints (`ADD CONSTRAINT ... CHECK`, stored "
    "in table metadata, enforced on EVERY write path as one fused "
    "predicate-only validation job over the incoming frame). "
    "Hash-checked: a violating INSERT is REFUSED leaving no commit "
    "behind (insert_refused=1 + untouched rollup), adding a constraint "
    "that existing rows violate is refused after its validation scan "
    "(backfill_constraint_refused=1), a compliant INSERT lands, "
    "`CALL expire_snapshots(t, keep_last => 1)` (the Iceberg stored-"
    "procedure surface) trims history to versions_left=1, and the "
    "exact SHOW CREATE text — properties plus constraints rendered "
    "Delta-style, sorted — is pinned as a literal. r13 (VERDICT r12 "
    "ask #8) extends the story with the remaining column-governance "
    "basics: `ALTER COLUMN ... SET NOT NULL` (one validation scan, "
    "then write-path enforcement fused with the CHECKs — a NULL "
    "insert refuses commit-free, not_null_refused=1) and `ADD COLUMN "
    "tier string DEFAULT 'standard'` (Iceberg-v3 initial+write "
    "defaults: metadata-only, pre-evolve rows surface the default "
    "instead of NULL — n_default_tier equals every segment's row "
    "count — and SHOW CREATE renders both markers).",
)
def table_governance_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("cust_gov_src")
    mk = int(cust.agg(F.max("c_custkey")).first()[0])
    execute_sql(spark, "DROP TABLE IF EXISTS customer_gov", root=scratch_root())
    execute_sql(
        spark,
        "CREATE TABLE customer_gov AS SELECT c_custkey, c_mktsegment, "
        "CAST(c_acctbal AS DOUBLE) AS c_acctbal FROM cust_gov_src "
        "WHERE c_acctbal >= 0.0",
        root=scratch_root(),
    )
    execute_sql(
        spark,
        "ALTER TABLE customer_gov SET TBLPROPERTIES "
        "('owner' = 'data-eng', 'retention.days' = '30')",
        root=scratch_root(),
    )
    execute_sql(
        spark,
        "ALTER TABLE customer_gov ADD CONSTRAINT non_negative_bal "
        "CHECK (c_acctbal >= 0.0)",
        root=scratch_root(),
    )
    t = SnapshotTable(spark, "customer_gov", scratch_root())
    v_before = t.current_version()
    try:  # violating write must refuse and commit NOTHING
        execute_sql(
            spark,
            "INSERT INTO customer_gov SELECT c_custkey, c_mktsegment, "
            "CAST(c_acctbal AS DOUBLE) FROM cust_gov_src WHERE c_acctbal < 0.0",
            root=scratch_root(),
        )
        insert_refused = 0
    except ValueError:
        insert_refused = int(t.current_version() == v_before)
    # compliant write: the negative balances arrive rectified
    execute_sql(
        spark,
        f"INSERT INTO customer_gov SELECT c_custkey + {mk}, c_mktsegment, "
        "CAST(-c_acctbal AS DOUBLE) FROM cust_gov_src WHERE c_acctbal < 0.0",
        root=scratch_root(),
    )
    try:  # a constraint existing rows violate must refuse
        execute_sql(
            spark,
            "ALTER TABLE customer_gov ADD CONSTRAINT tiny CHECK (c_acctbal < 1.0)",
            root=scratch_root(),
        )
        backfill_refused = 0
    except ValueError:
        backfill_refused = 1
    # r13: NOT NULL — validated against existing rows, then enforced
    execute_sql(
        spark,
        "ALTER TABLE customer_gov ALTER COLUMN c_mktsegment SET NOT NULL",
        root=scratch_root(),
    )
    v_nn = t.current_version()
    try:  # a NULL in the NOT NULL column must refuse commit-free
        execute_sql(
            spark,
            f"INSERT INTO customer_gov SELECT c_custkey + {2 * mk}, "
            "CAST(NULL AS STRING), CAST(1.0 AS DOUBLE) "
            "FROM cust_gov_src LIMIT 1",
            root=scratch_root(),
        )
        not_null_refused = 0
    except ValueError:
        not_null_refused = int(t.current_version() == v_nn)
    # r13: Iceberg-v3 column DEFAULT — metadata-only; every pre-evolve
    # row surfaces 'standard' (and future appends omitting it fill it)
    execute_sql(
        spark,
        "ALTER TABLE customer_gov ADD COLUMN tier string DEFAULT 'standard'",
        root=scratch_root(),
    )
    execute_sql(
        spark,
        "ALTER TABLE customer_gov UNSET TBLPROPERTIES ('retention.days')",
        root=scratch_root(),
    )
    res_exp = execute_sql(
        spark,
        "CALL expire_snapshots('customer_gov', keep_last => 1)",
        root=scratch_root(),
    )
    stmt = (
        execute_sql(spark, "SHOW CREATE TABLE customer_gov", root=scratch_root())
        .collect()[0][0]
    )
    return (
        t.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("c_acctbal"), 2).alias("sum_abs_bal"),
            F.sum(
                F.when(F.col("tier") == "standard", 1).otherwise(0)
            ).alias("n_default_tier"),
        )
        .withColumn("insert_refused", F.lit(insert_refused).cast("int"))
        .withColumn(
            "backfill_constraint_refused", F.lit(backfill_refused).cast("int")
        )
        .withColumn("not_null_refused", F.lit(not_null_refused).cast("int"))
        .withColumn(
            "versions_left",
            F.lit(int(res_exp["audit"]["versions_left"])).cast("int"),
        )
        .withColumn("show_create", F.lit(stmt))
        .orderBy("c_mktsegment")
    )


@register(
    "table_refs_sql",
    oracle=f"""
    WITH launch AS (SELECT * FROM orders WHERE o_orderstatus = 'O'),
         main AS (SELECT * FROM orders WHERE o_orderstatus IN ('O', 'F')),
         dev AS (SELECT * FROM orders)
    SELECT 'dev' AS ref, count(*) AS n_rows, round({sql_sum2('o_totalprice')}, 2) AS total_price FROM dev
    UNION ALL
    SELECT 'launch', count(*), round({sql_sum2('o_totalprice')}, 2) FROM launch
    UNION ALL
    SELECT 'main', count(*), round({sql_sum2('o_totalprice')}, 2) FROM main
    ORDER BY ref
    """,
    doc="Branch/tag refs through SQL (Iceberg/Nessie ref DDL + ref "
    "reads): `ALTER TABLE ... CREATE TAG launch AS OF VERSION 1` pins "
    "an immutable historical read, `CREATE BRANCH main`/`CREATE BRANCH "
    "dev` fork the head, a branch append moves ONLY the dev ref (writer "
    "isolation — main still reads the pre-append state, the isolation "
    "this query hash-checks), and `VERSION AS OF '<ref>'` resolves ref "
    "names in the same read syntax as integer versions. CREATE is a "
    "compare-and-swap against absence, so it can never move an "
    "existing ref.",
)
def table_refs_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_refs", scratch_root())
    t.drop()
    t.create(orders.filter(F.col("o_orderstatus") == "O"))
    t.append(orders.filter(F.col("o_orderstatus") == "F"))
    execute_sql(spark, "ALTER TABLE orders_refs CREATE TAG launch AS OF VERSION 1", root=scratch_root())
    execute_sql(spark, "ALTER TABLE orders_refs CREATE BRANCH main", root=scratch_root())
    execute_sql(spark, "ALTER TABLE orders_refs CREATE BRANCH dev", root=scratch_root())
    t.branch_append("dev", orders.filter(~F.col("o_orderstatus").isin("O", "F")))
    total = f"round({sql_sum2('o_totalprice')}, 2)"
    return execute_sql(
        spark,
        f"""
        SELECT 'dev' AS ref, count(*) AS n_rows, {total} AS total_price
        FROM orders_refs VERSION AS OF 'dev'
        UNION ALL
        SELECT 'launch', count(*), {total} FROM orders_refs VERSION AS OF 'launch'
        UNION ALL
        SELECT 'main', count(*), {total} FROM orders_refs VERSION AS OF 'main'
        ORDER BY ref
        """, root=scratch_root(),
    )


@register(
    "table_statement_corners",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           round({sql_sum2('o_totalprice')}, 2) AS total_price,
           CAST(5 AS INT) AS n_versions,
           CAST((SELECT count(*) FROM orders WHERE o_orderstatus = 'F')
                AS INT) AS time_travel_v2_rows
    FROM orders
    WHERE o_orderstatus = 'P'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="The whole-table-replace statement set, chained end-to-end: "
    "CTAS ('O' rows) -> INSERT OVERWRITE ('F' rows; one snapshot "
    "commit, pre-overwrite state stays time-travelable) -> CREATE OR "
    "REPLACE (all rows, same schema; history intact) -> TRUNCATE "
    "(O(1) metadata commit with an EMPTY file list — no data touched) "
    "-> INSERT INTO ('P' rows). Final content + the version count "
    "(exactly one commit per statement) are hash-checked; the "
    "mid-chain time-travel row count is pinned via the guard column.",
)
def table_statement_corners(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("corners_orders_src")
    execute_sql(spark, "DROP TABLE IF EXISTS orders_corners", root=scratch_root())
    execute_sql(
        spark,
        "CREATE TABLE orders_corners AS SELECT o_orderkey, o_orderstatus, "
        "CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM corners_orders_src "
        "WHERE o_orderstatus = 'O'", root=scratch_root(),
    )
    execute_sql(
        spark,
        "INSERT OVERWRITE orders_corners SELECT o_orderkey, o_orderstatus, "
        "CAST(o_totalprice AS DOUBLE) FROM corners_orders_src "
        "WHERE o_orderstatus = 'F'", root=scratch_root(),
    )
    execute_sql(
        spark,
        "CREATE OR REPLACE TABLE orders_corners AS SELECT o_orderkey, "
        "o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice "
        "FROM corners_orders_src", root=scratch_root(),
    )
    execute_sql(spark, "TRUNCATE TABLE orders_corners", root=scratch_root())
    execute_sql(
        spark,
        "INSERT INTO orders_corners SELECT o_orderkey, o_orderstatus, "
        "CAST(o_totalprice AS DOUBLE) FROM corners_orders_src "
        "WHERE o_orderstatus = 'P'", root=scratch_root(),
    )
    t = SnapshotTable(spark, "orders_corners", scratch_root())
    # guard: time travel into the middle of the chain still reads the
    # pre-replace 'F' content (count pinned by the oracle literal)
    guard = t.read(version=2).count()
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("o_totalprice"), 2).alias("total_price"),
        )
        .withColumn("n_versions", F.lit(int(t.current_version())).cast("int"))
        .withColumn("time_travel_v2_rows", F.lit(int(guard)).cast("int"))
        .orderBy("o_orderstatus")
    )


@register(
    "table_metadata_tables_sql",
    oracle="""
    SELECT * FROM (
        SELECT CAST(1 AS INT) AS version, 'create' AS op,
               CAST(1 AS INT) AS n_data_dirs, CAST(0 AS INT) AS n_delete_dirs,
               CAST(1 AS BIGINT) AS n_refs, CAST(2 AS BIGINT) AS total_files
        UNION ALL
        SELECT CAST(2 AS INT), 'append', CAST(2 AS INT), CAST(0 AS INT),
               CAST(1 AS BIGINT), CAST(2 AS BIGINT)
    ) ORDER BY version
    """,
    doc="Iceberg metadata tables: `SELECT ... FROM t.snapshots / t.refs "
    "/ t.files` materialize the snapshot log, the named refs, and the "
    "data-file inventory as queryable frames (strictly metadata-sized "
    "— the snapshot JSONs plus one file listing, never a data scan). "
    "The query joins all three over a create→append→tag table and "
    "hash-checks the op log, per-snapshot dir counts, the ref count, "
    "and the target-file-size policy's file count (one file per write "
    "at this scale).",
)
def table_metadata_tables_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_meta_t", scratch_root())
    t.drop()
    t.create(orders.filter(F.col("o_orderstatus") == "O"))
    t.append(orders.filter(F.col("o_orderstatus") != "O"))
    execute_sql(spark, "ALTER TABLE orders_meta_t CREATE TAG first AS OF VERSION 1", root=scratch_root())
    return execute_sql(
        spark,
        """
        SELECT CAST(s.version AS INT) AS version, s.op,
               CAST(s.n_data_dirs AS INT) AS n_data_dirs,
               CAST(s.n_delete_dirs AS INT) AS n_delete_dirs,
               CAST((SELECT count(*) FROM orders_meta_t.refs) AS BIGINT) AS n_refs,
               CAST((SELECT sum(n_files) FROM orders_meta_t.files) AS BIGINT)
                   AS total_files
        FROM orders_meta_t.snapshots s
        ORDER BY version
        """, root=scratch_root(),
    )


@register(
    "table_describe_sql",
    oracle="""
    SELECT *,
           'customer_desc' AS renamed_from,
           CAST(3 AS INT) AS versions_survived,
           'CREATE TABLE customer_desc2 (' || chr(10) ||
           '  c_custkey bigint,' || chr(10) ||
           '  c_mktsegment string,' || chr(10) ||
           '  balance double,' || chr(10) ||
           '  tier string)' || chr(10) ||
           'USING snapshot' || chr(10) ||
           'PARTITIONED BY (c_mktsegment)' AS show_create
    FROM (
        SELECT 'c_custkey' AS col_name, 'bigint' AS data_type,
               false AS is_partition_field, CAST(1 AS INT) AS ord
        UNION ALL SELECT 'c_mktsegment', 'string', true, 2
        UNION ALL SELECT 'balance', 'double', false, 3
        UNION ALL SELECT 'tier', 'string', false, 4
    ) ORDER BY ord
    """,
    doc="`DESCRIBE TABLE` / `RENAME TABLE` / `SHOW CREATE TABLE` over "
    "a snapshot table whose schema went through the full metadata-only "
    "evolution story: CTAS PARTITIONED BY, RENAME COLUMN (the "
    "description shows the current LOGICAL name), ADD COLUMN, then an "
    "`ALTER TABLE ... RENAME TO` catalog move (r12) that carries "
    "history, refs, and data-dir references (absolute-path prefix "
    "rewrite in the version JSONs — zero data rewrites) — "
    "versions_survived=3 hash-checks the history traveled. The exact "
    "SHOW CREATE TABLE text for the evolved schema is pinned as a "
    "literal value, so a drift in type rendering, column order, or "
    "spec printing breaks the compare.",
)
def table_describe_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "customer").createOrReplaceTempView("cust_desc_src")
    execute_sql(spark, "DROP TABLE IF EXISTS customer_desc", root=scratch_root())
    execute_sql(spark, "DROP TABLE IF EXISTS customer_desc2", root=scratch_root())
    execute_sql(
        spark,
        "CREATE TABLE customer_desc PARTITIONED BY (c_mktsegment) AS "
        "SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal "
        "FROM cust_desc_src", root=scratch_root(),
    )
    execute_sql(spark, "ALTER TABLE customer_desc RENAME COLUMN c_acctbal TO balance", root=scratch_root())
    execute_sql(spark, "ALTER TABLE customer_desc ADD COLUMN tier STRING", root=scratch_root())
    # r12: RENAME TABLE moves the catalog entry with history intact, and
    # SHOW CREATE TABLE prints the canonical statement for the evolved
    # schema — both hash-checked (the statement as a literal value, the
    # survived history via the version count)
    res_rn = execute_sql(spark, "ALTER TABLE customer_desc RENAME TO customer_desc2", root=scratch_root())
    stmt = execute_sql(spark, "SHOW CREATE TABLE customer_desc2", root=scratch_root()).collect()[0][0]
    n_versions = len(SnapshotTable(spark, "customer_desc2", scratch_root())._versions())
    desc = execute_sql(spark, "DESCRIBE TABLE customer_desc2", root=scratch_root())
    w = Window.orderBy(F.monotonically_increasing_id())
    return (
        desc.withColumn("ord", F.row_number().over(w).cast("int"))
        .withColumn("renamed_from", F.lit(res_rn["audit"]["renamed_from"]))
        .withColumn("versions_survived", F.lit(n_versions).cast("int"))
        .withColumn("show_create", F.lit(stmt))
        .orderBy("ord")
    )


@register(
    "table_partition_transforms_sql",
    oracle=f"""
    WITH adj AS (
        SELECT CAST(ts AS DATE) AS d,
               CASE WHEN CAST(ts AS DATE) = DATE '2024-01-03'
                    THEN 1.0 ELSE value END AS value
        FROM events
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           count(*) AS n_rows,
           round({sql_sum2("value")}, 2) AS sum_value,
           CAST(1 AS INT) AS dirs_pruned,
           CAST(1 AS INT) AS subdirs_selected,
           CAST(1 AS INT) AS pruned_read_exact,
           CAST(1 AS INT) AS replaced_eq_live_buckets,
           CAST(1 AS INT) AS carried_eq_rest,
           CAST(0 AS INT) AS dirs_rewritten,
           'CREATE TABLE events_hidden (' || chr(10) ||
           '  event_id bigint,' || chr(10) ||
           '  ts timestamp,' || chr(10) ||
           '  user_id bigint,' || chr(10) ||
           '  event_type string,' || chr(10) ||
           '  value double)' || chr(10) ||
           'USING snapshot' || chr(10) ||
           'PARTITIONED BY (days(ts), bucket(4, user_id))' AS show_create
    FROM adj
    WHERE d BETWEEN DATE '2024-01-02' AND DATE '2024-01-04'
    GROUP BY d
    ORDER BY day
    """,
    doc="Hidden partitioning (Iceberg partition transforms, VERDICT r13 "
    "ask #3): `CREATE TABLE ... PARTITIONED BY (days(ts), "
    "bucket(4, user_id)) AS SELECT ...` derives partition values from "
    "the SOURCE columns at write time (date_format / xxhash64+pmod "
    "shadow columns, JVM-side) — the user never pre-materializes a date "
    "column. The story CTAS-loads the first half-month, INSERTs the "
    "second, then (a) prunes a one-day read through the transform "
    "(read_pruned_transform: the second dir has no 2024-01-03 subdir "
    "and is PRUNED from the listing — dirs_pruned=1, subdirs_selected="
    "1, and the pruned result equals the full-scan filter, "
    "pruned_read_exact=1), (b) dynamically overwrites exactly that day "
    "(overwrite_partitions replaces the day's live bucket cells and "
    "carries every other hive subdir by reference: replaced_eq_live_"
    "buckets / carried_eq_rest pin the audit against independently "
    "derived expectations, dirs_rewritten=0), and (c) round-trips the "
    "transformed spec through SHOW CREATE TABLE. At 100 TB this is the "
    "standard event-table layout: every day lands in its own prunable "
    "dir set and a day's backfill costs one day's write.",
)
def table_partition_transforms_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).createOrReplaceTempView("ev_hidden_src")
    execute_sql(spark, "DROP TABLE IF EXISTS events_hidden", root=scratch_root())
    execute_sql(
        spark,
        "CREATE TABLE events_hidden PARTITIONED BY (days(ts), "
        "bucket(4, user_id)) AS SELECT * FROM ev_hidden_src "
        "WHERE ts < TIMESTAMP '2024-01-16 00:00:00'",
        root=scratch_root(),
    )
    execute_sql(
        spark,
        "INSERT INTO events_hidden SELECT * FROM ev_hidden_src "
        "WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'",
        root=scratch_root(),
    )
    t = SnapshotTable(spark, "events_hidden", scratch_root())
    day = "2024-01-03"
    # (a) transform-pruned one-day read: exact vs the full-scan filter.
    # ONE action for both sides (r16, guide §2.4): tag each frame and
    # union — the pruned read and the full-scan filter still both
    # evaluate (the equality proof is unchanged), in a single job
    # instead of two.
    pruned, audit = t.read_pruned_transform("days(ts)", day)
    cnt_rows = (
        pruned.select(F.lit("p").alias("_s"))
        .unionByName(
            t.read()
            .filter(F.to_date("ts") == F.lit(day))
            .select(F.lit("f").alias("_s"))
        )
        .groupBy("_s")
        .count()
        .collect()
    )
    cnt = {r["_s"]: r["count"] for r in cnt_rows}
    n_pruned, n_full = int(cnt.get("p", 0)), int(cnt.get("f", 0))
    pruned_read_exact = int(n_pruned == n_full and n_pruned > 0)
    # (b) dynamic overwrite of exactly that day through the transform;
    # expectations derived independently: live bucket cells of the day,
    # and the total hive cell count minus them. Both derive from the
    # SAME distinct hive-cell set — (day, bucket, half) cells exist iff
    # some row maps to them, so the day's distinct buckets are exactly
    # the distinct b over cells with d = day — computed in one pass
    # instead of two source scans (r16).
    src = spark.table("ev_hidden_src")
    day_rows = src.filter(F.to_date("ts") == F.lit(day)).withColumn(
        "value", F.lit(1.0)
    )
    cells_row = (
        src.select(
            F.to_date("ts").alias("d"),
            F.pmod(F.xxhash64("user_id"), F.lit(4)).alias("b"),
            (F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")).alias("half"),
        )
        .distinct()
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.countDistinct(
                F.when(F.col("d") == F.lit(day).cast("date"), F.col("b"))
            ).alias("live"),
        )
        .first()
    )
    live_buckets = int(cells_row["live"])
    total_cells = int(cells_row["total"])
    _v, ow_audit = t.overwrite_partitions(day_rows)
    replaced_eq_live_buckets = int(ow_audit["partitions_replaced"] == live_buckets)
    carried_eq_rest = int(
        ow_audit["subdirs_carried"] == total_cells - live_buckets
    )
    # (c) the transformed spec round-trips through SHOW CREATE
    stmt = execute_sql(
        spark, "SHOW CREATE TABLE events_hidden", root=scratch_root()
    ).collect()[0][0]
    return (
        t.read()
        .filter(F.to_date("ts").between("2024-01-02", "2024-01-04"))
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("value"), 2).alias("sum_value"),
        )
        .withColumn("dirs_pruned", F.lit(audit["dirs_pruned"]).cast("int"))
        .withColumn(
            "subdirs_selected", F.lit(audit["subdirs_selected"]).cast("int")
        )
        .withColumn("pruned_read_exact", F.lit(pruned_read_exact).cast("int"))
        .withColumn(
            "replaced_eq_live_buckets",
            F.lit(replaced_eq_live_buckets).cast("int"),
        )
        .withColumn("carried_eq_rest", F.lit(carried_eq_rest).cast("int"))
        .withColumn(
            "dirs_rewritten", F.lit(ow_audit["dirs_rewritten"]).cast("int")
        )
        .withColumn("show_create", F.lit(stmt))
        .orderBy("day")
    )


@register(
    "table_partition_replace_sql",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d-%H') AS hour,
           count(*) AS n_rows,
           round({sql_sum2("value")}, 2) AS sum_value,
           'days(ts)->hours(ts)' AS spec_evolution,
           CAST(1 AS INT) AS hour_prune_exact,
           CAST(1 AS INT) AS old_era_prune_exact,
           CAST(1 AS INT) AS hourly_dir_pruned_for_old_hour
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-20'
    GROUP BY hour
    ORDER BY hour
    """,
    doc="Partition-spec REPLACEMENT under hidden partitioning (r14): "
    "`ALTER TABLE ... REPLACE PARTITION FIELD days(ts) WITH hours(ts)` "
    "swaps the spec entry IN PLACE in one metadata commit — the move an "
    "event table makes when daily dirs outgrow their usefulness. The "
    "story lands the first half-month under days(ts), replaces the "
    "field, INSERTs the second half under hours(ts), then proves BOTH "
    "eras serve transform-pruned reads: a one-HOUR read of a new-era "
    "hour (the days-era dir full-scans behind the residual filter, the "
    "hourly dir prunes to one subdir, result equals the plain filter — "
    "hour_prune_exact), and a one-hour read of an OLD-era hour (the "
    "hourly dir is PRUNED ENTIRELY — no such subdir — while the days "
    "dir full-scans; old_era_prune_exact). The rollup hashes one day's "
    "hourly aggregate off the mixed-layout table. At 100 TB this is "
    "zero-rewrite spec evolution: old dirs keep their recorded spec "
    "forever, reads consult dir_specs per dir (Iceberg's partition-"
    "evolution model).",
)
def table_partition_replace_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    ).createOrReplaceTempView("ev_repart_src")
    execute_sql(spark, "DROP TABLE IF EXISTS events_repart", root=scratch_root())
    execute_sql(
        spark,
        "CREATE TABLE events_repart PARTITIONED BY (days(ts)) AS "
        "SELECT * FROM ev_repart_src "
        "WHERE ts < TIMESTAMP '2024-01-16 00:00:00'",
        root=scratch_root(),
    )
    execute_sql(
        spark,
        "ALTER TABLE events_repart REPLACE PARTITION FIELD days(ts) "
        "WITH hours(ts)",
        root=scratch_root(),
    )
    execute_sql(
        spark,
        "INSERT INTO events_repart SELECT * FROM ev_repart_src "
        "WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'",
        root=scratch_root(),
    )
    t = SnapshotTable(spark, "events_repart", scratch_root())
    # new-era hour: hourly dir prunes to one subdir, days dir full-scans
    new_hour = "2024-01-20-02"
    pruned_new, audit_new = t.read_pruned_transform("hours(ts)", new_hour)
    n_new = pruned_new.count()
    exact_new = int(
        n_new
        == t.read()
        .filter(F.date_format("ts", "yyyy-MM-dd-HH") == new_hour)
        .count()
        and n_new > 0
        and audit_new["subdirs_selected"] == 1
        and audit_new["dirs_full_scan"] == 1
    )
    # old-era hour: the hourly dir has no such subdir and is pruned away
    old_hour = "2024-01-05-03"
    pruned_old, audit_old = t.read_pruned_transform("hours(ts)", old_hour)
    exact_old = int(
        pruned_old.count()
        == t.read()
        .filter(F.date_format("ts", "yyyy-MM-dd-HH") == old_hour)
        .count()
        and audit_old["dirs_full_scan"] == 1
    )
    return (
        t.read()
        .filter(F.to_date("ts") == "2024-01-20")
        .groupBy(F.date_format("ts", "yyyy-MM-dd-HH").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("value"), 2).alias("sum_value"),
        )
        .withColumn("spec_evolution", F.lit("days(ts)->hours(ts)"))
        .withColumn("hour_prune_exact", F.lit(exact_new).cast("int"))
        .withColumn("old_era_prune_exact", F.lit(exact_old).cast("int"))
        .withColumn(
            "hourly_dir_pruned_for_old_hour",
            F.lit(int(audit_old["dirs_pruned"] == 1)).cast("int"),
        )
        .orderBy("hour")
    )


@register(
    "table_sql_pruned_read",
    oracle=f"""
    SELECT event_type,
           count(*) AS n_rows,
           round({sql_sum2("value")}, 2) AS sum_value,
           CAST(1 AS INT) AS dirs_pruned,
           CAST(1 AS INT) AS subdirs_selected,
           CAST(0 AS INT) AS dirs_full_scan,
           CAST(1 AS INT) AS pruned_eq_full,
           CAST(3 AS INT) AS range_subdirs_selected,
           CAST(1 AS INT) AS range_eq_full,
           CAST(1 AS INT) AS prune_declined_nonpartition
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-03'
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Partition pruning on the SQL READ path (VERDICT r14 ask #1): "
    "`SELECT ... FROM events_sqlp WHERE CAST(ts AS DATE) = d` through "
    "plain execute_sql binds the temp view to a dir-pruned read — the "
    "scoping is proven by CATALYST's own pushed-down filters in the "
    "optimized plan (the CAST rewrites to timestamp range bounds via "
    "UnwrapCastInBinaryComparison), mapped through the monotone "
    "days(ts) transform onto hive subdir selection (sqlprune.py). The "
    "story CTAS-loads the first half-month and INSERTs the second "
    "(two data dirs), then hash-pins: the one-day statement selected "
    "exactly 1 subdir and PRUNED the second dir entirely (dirs_pruned="
    "1, subdirs_selected=1, dirs_full_scan=0) with rows identical to "
    "the full-view evaluation (pruned_eq_full=1); a BETWEEN statement "
    "range-prunes to 3 subdirs (range_subdirs_selected=3, range_eq_"
    "full=1); and a statement whose predicate the front-end cannot "
    "prove (an OR — not a top-level conjunct) correctly declines to "
    "prune (prune_declined_nonpartition=1 — the no-false-prune guard; "
    "plain non-partition equalities are no longer decline cases: "
    "footer stats legitimately file-prune them where ranges miss). At 100 TB this is the difference between "
    "the flat 0.38 s one-day read and the 7.8 s linear full scan the "
    "r14 scaling study measured — now reachable from PLAIN SQL, which "
    "is the path users actually write.",
)
def table_sql_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sqlprune import LAST_SQL_PRUNE_AUDITS

    load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).createOrReplaceTempView("ev_sqlp_src")
    execute_sql(spark, "DROP TABLE IF EXISTS events_sqlp", root=scratch_root())
    execute_sql(
        spark,
        "CREATE TABLE events_sqlp PARTITIONED BY (days(ts)) AS "
        "SELECT * FROM ev_sqlp_src WHERE ts < TIMESTAMP '2024-01-16 00:00:00'",
        root=scratch_root(),
    )
    execute_sql(
        spark,
        "INSERT INTO events_sqlp SELECT * FROM ev_sqlp_src "
        "WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'",
        root=scratch_root(),
    )
    t = SnapshotTable(spark, "events_sqlp", scratch_root())
    # (a) the one-day statement through PLAIN SQL
    LAST_SQL_PRUNE_AUDITS.clear()
    day_df = execute_sql(
        spark,
        "SELECT event_type, count(*) AS n_rows, "
        "round(CAST(sum(CAST(value AS decimal(18,2))) AS DOUBLE), 2) "
        "AS sum_value FROM events_sqlp "
        "WHERE CAST(ts AS DATE) = DATE '2024-01-03' "
        "GROUP BY event_type",
        root=scratch_root(),
    )
    rows = day_df.collect()
    audit = dict(LAST_SQL_PRUNE_AUDITS.get("events_sqlp") or {})
    n_stmt = sum(r["n_rows"] for r in rows)
    # (b) the BETWEEN statement range-prunes across subdirs
    LAST_SQL_PRUNE_AUDITS.clear()
    n_rng = execute_sql(
        spark,
        "SELECT count(*) AS c FROM events_sqlp WHERE ts BETWEEN "
        "TIMESTAMP '2024-01-02 00:00:00' AND TIMESTAMP '2024-01-04 23:59:59'",
        root=scratch_root(),
    ).collect()[0]["c"]
    rng_audit = dict(LAST_SQL_PRUNE_AUDITS.get("events_sqlp") or {})
    # BOTH pruned-eq-full audit counts in ONE full-view pass (r16,
    # guide §2.4 — the two separate .count() actions each scanned the
    # whole table; conditional sums over one scan count the same rows:
    # a NULL predicate falls to the otherwise-0 branch exactly like
    # filter() dropping it). No DML runs between the statements, so
    # counting after statement (b) reads the same snapshot.
    full_row = t.read().agg(
        F.coalesce(
            F.sum(
                F.when(F.to_date("ts") == F.lit("2024-01-03"), 1).otherwise(0)
            ),
            F.lit(0),  # sum over ZERO rows is NULL, unlike count
        ).alias("n_day"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("ts").between(
                        F.lit("2024-01-02 00:00:00").cast("timestamp"),
                        F.lit("2024-01-04 23:59:59").cast("timestamp"),
                    ),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_rng"),
    ).first()
    n_full, n_rng_full = int(full_row["n_day"]), int(full_row["n_rng"])
    pruned_eq_full = int(n_stmt == n_full and n_stmt > 0)
    range_eq_full = int(n_rng == n_rng_full and n_rng > 0)
    # (c) an unprovable predicate (OR — not a top-level conjunct shape)
    # must DECLINE to prune at EVERY scale. A plain non-partition
    # equality is no longer a decline case: footer stats can prune
    # files for it wherever their ranges miss (scale-dependent), which
    # is the correct behavior, not a false prune.
    LAST_SQL_PRUNE_AUDITS.clear()
    execute_sql(
        spark,
        "SELECT count(*) AS c FROM events_sqlp "
        "WHERE user_id = 42 OR event_type = 'click'",
        root=scratch_root(),
    ).collect()
    declined = int("events_sqlp" not in LAST_SQL_PRUNE_AUDITS)
    return (
        day_df.withColumn(
            "dirs_pruned", F.lit(audit.get("dirs_pruned", -1)).cast("int")
        )
        .withColumn(
            "subdirs_selected",
            F.lit(audit.get("subdirs_selected", -1)).cast("int"),
        )
        .withColumn(
            "dirs_full_scan",
            F.lit(audit.get("dirs_full_scan", -1)).cast("int"),
        )
        .withColumn("pruned_eq_full", F.lit(pruned_eq_full).cast("int"))
        .withColumn(
            "range_subdirs_selected",
            F.lit(rng_audit.get("subdirs_selected", -1)).cast("int"),
        )
        .withColumn("range_eq_full", F.lit(range_eq_full).cast("int"))
        .withColumn(
            "prune_declined_nonpartition", F.lit(declined).cast("int")
        )
        .orderBy("event_type")
    )


@register(
    "table_range_mor_pruned_read",
    oracle=f"""
    WITH live AS (
        SELECT CAST(ts AS DATE) AS d, value
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-02' AND DATE '2024-01-04'
          AND NOT (event_type = 'purchase'
                   AND CAST(ts AS DATE) = DATE '2024-01-03')
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           count(*) AS n_rows,
           round({sql_sum2("value")}, 2) AS sum_value,
           CAST(3 AS INT) AS subdirs_selected,
           CAST(1 AS INT) AS dirs_pruned,
           CAST(1 AS INT) AS mor_deletes_applied,
           CAST(1 AS INT) AS range_eq_full
    FROM live
    GROUP BY d
    ORDER BY day
    """,
    doc="Range + merge-on-read composition for transform-pruned reads "
    "(VERDICT r14 ask #2): a 3-day `read_pruned_transform_range` over "
    "a days(ts) table carrying ONE LIVE equality-delete file — the "
    "shape real event tables are in (trickle deletes between "
    "compactions, reads always ranged). The story CTAS-loads the "
    "first half-month, INSERTs the second, MOR-deletes one day's "
    "'purchase' rows by key (no rewrite — the delete file rides the "
    "snapshot), then range-reads days 02–04: the first dir "
    "contributes exactly its 3 in-range subdirs, the second dir has "
    "none and is PRUNED from the listing (subdirs_selected=3, dirs_"
    "pruned=1), the delete file anti-joins INSIDE the pruned read "
    "(mor_deletes_applied=1, the deleted day-03 purchases are gone "
    "from the aggregate the oracle pins), and the result equals the "
    "full MOR read's filter (range_eq_full=1 — pruning is never a "
    "semantics change). Pre-r15 this read RAISED 'compact first'.",
)
def table_range_mor_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).createOrReplaceTempView("ev_rngmor_src")
    execute_sql(
        spark, "DROP TABLE IF EXISTS events_rngmor", root=scratch_root()
    )
    execute_sql(
        spark,
        "CREATE TABLE events_rngmor PARTITIONED BY (days(ts)) AS "
        "SELECT * FROM ev_rngmor_src "
        "WHERE ts < TIMESTAMP '2024-01-16 00:00:00'",
        root=scratch_root(),
    )
    execute_sql(
        spark,
        "INSERT INTO events_rngmor SELECT * FROM ev_rngmor_src "
        "WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'",
        root=scratch_root(),
    )
    t = SnapshotTable(spark, "events_rngmor", scratch_root())
    t.delete_where_mor(
        (F.col("event_type") == "purchase")
        & (F.to_date("ts") == F.lit("2024-01-03")),
        key="event_id",
    )
    df, audit = t.read_pruned_transform_range(
        "days(ts)", "2024-01-02", "2024-01-04"
    )
    n_full = (
        t.read()
        .filter(F.to_date("ts").between("2024-01-02", "2024-01-04"))
        .count()
    )
    agg = (
        df.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("value"), 2).alias("sum_value"),
        )
    )
    n_range = df.count()
    return (
        agg.withColumn(
            "subdirs_selected",
            F.lit(audit["subdirs_selected"]).cast("int"),
        )
        .withColumn("dirs_pruned", F.lit(audit["dirs_pruned"]).cast("int"))
        .withColumn(
            "mor_deletes_applied",
            F.lit(audit["mor_deletes_applied"]).cast("int"),
        )
        .withColumn(
            "range_eq_full",
            F.lit(int(n_range == n_full and n_range > 0)).cast("int"),
        )
        .orderBy("day")
    )


@register(
    "table_stats_pruned_dml",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           round({sql_sum2("o_totalprice")}, 2) AS sum_price,
           CAST(1 AS INT) AS stats_scanned_only_matching_dir,
           CAST(1 AS INT) AS stats_skipped_other_dirs,
           CAST(1 AS INT) AS dirs_rewritten
    FROM orders
    WHERE o_orderkey >= 5000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Per-file column-stat manifests (VERDICT r14 ask #3): the "
    "file-finding pass of predicate DML consults per-file min/max/"
    "null-count derived from the parquet FOOTERS (pyarrow, driver-"
    "side, cached in an immutable-dir `_file_stats.json` sidecar — "
    "Iceberg keeps the same stats in avro manifests) so a "
    "`DELETE ... WHERE o_orderkey < 5000` reads ONLY files whose "
    "stat range intersects the bound instead of scanning the whole "
    "table's predicate column. The story appends three disjoint key "
    "ranges (three data dirs), deletes the first range through "
    "declarative SQL DELETE, and hash-pins that the stats pass "
    "scanned exactly the matching dir's files and skipped every "
    "file of the other two dirs (booleans derived from the dirs' "
    "actual file counts), that exactly one dir was rewritten, and "
    "that the surviving table equals the oracle's filter. At 100 TB "
    "this turns DML file-finding from O(table) into O(candidate "
    "files) — the manifest-pruning shape that makes trickle "
    "corrections affordable.",
)
def table_stats_pruned_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).createOrReplaceTempView("ord_stats_src")
    execute_sql(
        spark, "DROP TABLE IF EXISTS orders_stats", root=scratch_root()
    )
    execute_sql(
        spark,
        "CREATE TABLE orders_stats AS SELECT * FROM ord_stats_src "
        "WHERE o_orderkey < 5000",
        root=scratch_root(),
    )
    execute_sql(
        spark,
        "INSERT INTO orders_stats SELECT * FROM ord_stats_src "
        "WHERE o_orderkey >= 5000 AND o_orderkey < 10000",
        root=scratch_root(),
    )
    execute_sql(
        spark,
        "INSERT INTO orders_stats SELECT * FROM ord_stats_src "
        "WHERE o_orderkey >= 10000",
        root=scratch_root(),
    )
    t = SnapshotTable(spark, "orders_stats", scratch_root())
    meta = t._read_meta(t.current_version())
    n_files = [len(t._walk_parquet(d)) for d in meta["dirs"]]
    res = execute_dml(
        spark,
        "DELETE FROM orders_stats WHERE o_orderkey < 5000",
        root=scratch_root(),
    )
    audit = SnapshotTable._DML_STATS_AUDITS.get("orders_stats", {})
    only_matching = int(audit.get("files_scanned") == n_files[0])
    skipped_rest = int(
        audit.get("files_skipped_by_stats") == n_files[1] + n_files[2]
    )
    dirs_rewritten = int(res["audit"]["dirs_rewritten"] == 1)
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("o_totalprice"), 2).alias("sum_price"),
        )
        .withColumn(
            "stats_scanned_only_matching_dir",
            F.lit(only_matching).cast("int"),
        )
        .withColumn(
            "stats_skipped_other_dirs", F.lit(skipped_rest).cast("int")
        )
        .withColumn("dirs_rewritten", F.lit(dirs_rewritten).cast("int"))
        .orderBy("o_orderstatus")
    )


@register(
    "table_posdel_rewrite_sql",
    oracle="""
    SELECT n_regionkey,
           count(*) AS n_rows,
           CAST(3 AS INT) AS pos_files_before,
           CAST(1 AS INT) AS pos_files_after,
           CAST(1 AS INT) AS cdc_neutral,
           CAST(1 AS INT) AS read_unchanged,
           CAST(0 AS INT) AS data_dirs_rewritten
    FROM nation
    WHERE n_nationkey NOT IN (1, 7, 13)
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
    doc="Position-delete maintenance (VERDICT r14 ask #7 — Iceberg's "
    "`rewrite_position_delete_files` twin): three point corrections "
    "leave three tiny position-delete files on the snapshot; `CALL "
    "rewrite_position_deletes('t')` folds them into ONE without "
    "touching any data file (every data dir rides by reference — "
    "data_dirs_rewritten=0 compares the dir lists before/after). "
    "Hash-pinned: entry count 3 → 1 (pos_files_before/after), the "
    "read is byte-identical across the fold (read_unchanged), the "
    "maintenance commit contributes ZERO rows to changes() "
    "(cdc_neutral — a CDC consumer never sees maintenance), and the "
    "surviving rows equal the oracle's NOT IN filter. The shape a "
    "trickle of point corrections leaves behind at 100 TB: folding "
    "N delete files into one cuts N read-time anti-join probes to "
    "one, for one O(deleted positions) metadata-sized commit.",
)
def table_posdel_rewrite_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    t = SnapshotTable(spark, "nation_pdrw", scratch_root())
    t.drop()
    t.create(nat)
    for k in (1, 7, 13):
        t.delete_where_position(F.col("n_nationkey") == k)
    v_pre = t.current_version()
    meta_pre = t._read_meta(v_pre)
    n_before = len(
        [d for d in meta_pre.get("delete_dirs", []) if d.get("kind") == "position"]
    )
    before_rows = set(
        (r["n_nationkey"], r["n_name"]) for r in t.read().collect()
    )
    res = execute_ddl(
        spark, "CALL rewrite_position_deletes('nation_pdrw')", root=scratch_root()
    )
    v_rw = res["version"]
    meta_post = t._read_meta(v_rw)
    n_after = len(
        [d for d in meta_post.get("delete_dirs", []) if d.get("kind") == "position"]
    )
    after_rows = set(
        (r["n_nationkey"], r["n_name"]) for r in t.read().collect()
    )
    cdc_neutral = int(t.changes(v_rw, v_rw).count() == 0)
    read_unchanged = int(before_rows == after_rows)
    dirs_rewritten = int(
        sorted(meta_pre["dirs"]) != sorted(meta_post["dirs"])
    )
    return (
        t.read()
        .groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("pos_files_before", F.lit(n_before).cast("int"))
        .withColumn("pos_files_after", F.lit(n_after).cast("int"))
        .withColumn("cdc_neutral", F.lit(cdc_neutral).cast("int"))
        .withColumn("read_unchanged", F.lit(read_unchanged).cast("int"))
        .withColumn(
            "data_dirs_rewritten", F.lit(dirs_rewritten).cast("int")
        )
        .orderBy("n_regionkey")
    )
