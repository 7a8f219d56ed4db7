"""Declarative SQL DML over the snapshot tables: `INSERT INTO`,
`UPDATE ... SET ... WHERE ...`, `DELETE FROM ... WHERE ...`, and
`MERGE INTO ... USING ... ON ... WHEN ...` statements, routed to the
manager's engines (append_checked, pruned copy-on-write
update_where/delete_where_pruned, the clause-generalized pruned merge)
or, on request, the merge-on-read delete path.

Spark's own SQL parser reads every statement
(``sessionState().sqlParser().parsePlan``) into an InsertIntoStatement,
UpdateTable, DeleteFromTable or MergeIntoTable node, and the front-end
dispatches on the node's class. Spark executes UPDATE/DELETE/MERGE only
against v2 catalogs like the real Iceberg runtime, absent in this
environment (SURVEY §7 slice 5), so the nodes route to the snapshot
engines instead. No statement text is scanned here: every WHERE and ON
condition, assignment RHS, clause condition and VALUES entry reaches
the engines as its parsed Catalyst expression wrapped in a ``Column``
(the same unresolved expression ``F.expr`` builds from text), and query
bodies (an INSERT source, a ``USING (subquery)``) are analyzed from
their parsed plans.

Scale posture (inherited from `_cow_rewrite`): an UPDATE/DELETE touching
0.1% of a 100 TB table rewrites only the files that contain a matching
row — one column-pruned predicate-pushed scan finds them via
``input_file_name()`` — and carries every other file into the new
snapshot by reference, under the same optimistic-concurrency commit as
MERGE. ``mor_key`` routes DELETE to the O(deleted-keys) merge-on-read
equality-delete path instead (Iceberg v2 semantics).

Reference parity note: the reference repo has no table management
(SURVEY §0); this rounds out the Iceberg-story surface the driver's
north star asks for, cited against the public Iceberg spec's
copy-on-write vs merge-on-read row-level-operation modes.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from empdia_iceberg_spark.functions.exact import exact_sum2, sql_sum2
from empdia_iceberg_spark.registry import register
from empdia_iceberg_spark.sources.tables import load
from empdia_iceberg_spark.tables.manager import (
    DEFAULT_ROOT,
    SnapshotTable,
    scratch_root,
)
from empdia_iceberg_spark.tables.sqlprune import _seq, try_sql_prune

# Spark's parser enforces the merge engine's first-match-wins guard
# itself; these conditions keep the engine's wording for it
_LAST_CLAUSE_SIDES = {
    "NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION": "MATCHED",
    "NON_LAST_NOT_MATCHED_BY_TARGET_CLAUSE_OMIT_CONDITION": "NOT MATCHED",
    "NON_LAST_NOT_MATCHED_BY_SOURCE_CLAUSE_OMIT_CONDITION": "NOT MATCHED BY SOURCE",
}


def _parse(spark: SparkSession, statement: str):
    """The one parse of a statement, shared with `ddl.execute_sql`."""
    try:
        return spark._jsparkSession.sessionState().sqlParser().parsePlan(statement)
    except ParseException as ex:
        side = _LAST_CLAUSE_SIDES.get(ex.getCondition())
        if side is not None:
            raise ValueError(
                f"only the LAST WHEN {side} clause may omit AND <cond> "
                "(first-match-wins makes later clauses unreachable)"
            ) from ex
        raise ValueError(f"cannot parse SQL statement: {str(ex).strip()}") from ex


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _column(spark: SparkSession, expr) -> Column:
    """A parsed Catalyst expression as a Column, with no text round-trip.
    An expression's origin() span is no substitute for its text: a
    BETWEEN condition's span starts at the keyword, dropping the column."""
    sql = spark._jvm.org.apache.spark.sql
    return Column(sql.Column(sql.classic.ExpressionColumnNode.apply(expr)))


def _condition(spark: SparkSession, opt) -> Column | None:
    return _column(spark, opt.get()) if opt.isDefined() else None


def _dataframe(spark: SparkSession, plan) -> DataFrame:
    """Analyze a parsed query node, as ``spark.sql`` does its text. The
    class is looked up by its full name: walking ``spark._jvm`` one
    package at a time costs a py4j round trip per step."""
    dataset = getattr(spark._jvm, "org.apache.spark.sql.classic.Dataset")
    return DataFrame(dataset.ofRows(spark._jsparkSession, plan), spark)


def _table_name(node, what: str) -> str:
    """The one-part name a statement's relation or identifier node
    refers to."""
    kind = _kind(node)
    if kind == "SubqueryAlias":
        raise ValueError(f"{what}: a target alias is not supported")
    parts = _seq(
        node.nameParts() if kind == "UnresolvedIdentifier" else node.multipartIdentifier()
    )
    if len(parts) != 1:
        raise ValueError(
            f"{what}: multipart table name {'.'.join(parts)!r} is not "
            "supported (snapshot tables have one-part names)"
        )
    return parts[0]


def _assignments(spark: SparkSession, seq, t_names: set, what: str) -> dict:
    """SET assignments as {col: Column}. The target column may be
    qualified (``SET t.col = ...``, the canonical Spark/Iceberg MERGE
    form) by the target table or its alias — assigning into the source
    is not a thing."""
    out: dict = {}
    for a in _seq(seq):
        *qual, col = _seq(a.key().nameParts())
        if qual and ".".join(qual).lower() not in t_names:
            raise ValueError(
                f"{what} target {'.'.join(qual)}.{col} does not name the "
                f"target table (expected one of {sorted(t_names)})"
            )
        if col in out:
            raise ValueError(f"column {col!r} assigned twice in SET clause")
        out[col] = _column(spark, a.value())
    return out


def _execute_insert(
    spark: SparkSession,
    plan,
    root: str,
    mor_key: str | None,
    mor_position: bool,
    registered: list,
) -> dict:
    """``INSERT INTO t [(cols)] VALUES (...), (...) | SELECT ...`` —
    the append statement that completes the DML surface. The row source
    is the statement's parsed query, analyzed by Catalyst; the column
    list maps positionally; omitted table columns land NULL (append's
    additive alignment); untyped NULL literals are pinned to the table
    type; everything else goes through `_align_append_to_schema`'s
    conformance guard (safe widenings cast, anything narrower raises
    before any write). Routed to `append_checked` — the OCC commit
    loop, so concurrent inserts both land.

    ``INSERT OVERWRITE [TABLE] t`` replaces the table's CONTENT in one
    snapshot commit (`overwrite`; history and time travel stay intact).
    The table schema wins: overwrite mode requires the statement to
    supply every table column (a column list that omits some would
    silently shrink the schema on a whole-table replace — refused)."""
    if mor_position:
        raise ValueError("mor_position applies to DELETE only")
    if mor_key is not None:
        raise ValueError("mor_key applies to DELETE only; INSERT appends")
    name = _table_name(plan.table(), "INSERT")
    for given, form in (
        (plan.byName(), "BY NAME"),
        (plan.ifPartitionNotExists(), "IF NOT EXISTS"),
    ):
        if given:
            raise ValueError(f"INSERT ... {form} is not supported")
    static: dict | None = None
    partition = _seq(plan.partitionSpec().toSeq())
    if partition:
        # static partition overwrite: INSERT OVERWRITE t PARTITION
        # (col=lit, ...) SELECT <non-partition columns>
        if not plan.overwrite():
            raise ValueError("PARTITION (...) clause requires INSERT OVERWRITE")
        static = {}
        for entry in partition:
            col, value = entry._1(), entry._2()
            if value.isEmpty():
                raise ValueError(
                    f"bad PARTITION entry (expected col = literal): {col!r}"
                )
            # the parser keeps a literal's string form; the cast to the
            # table type below restores its value
            static[col] = F.lit(value.get())
    cols = _seq(plan.userSpecifiedCols()) or None
    if cols is not None and len(set(cols)) != len(cols):
        raise ValueError("INSERT INTO: duplicate target column")
    # partition/stat pruning for the INSERT's source (r15): `INSERT INTO
    # t2 SELECT ... FROM t WHERE <partition pred>` is the backfill
    # shape — the source read prunes exactly like a standalone SELECT
    # (same Catalyst-proven scoping; falls back to the full plan
    # whenever unprovable)
    query = plan.query()
    df = _dataframe(spark, query)
    pruned = try_sql_prune(
        spark, df, lambda: _dataframe(spark, query), root, registered
    )
    if pruned is not None:
        df = pruned
    t = SnapshotTable(spark, name, root)
    cur = t.current_version()
    if cur is None:
        raise ValueError(f"table {name}: cannot INSERT before create")
    import json as _json

    from pyspark.sql.types import StructType

    schema_json = t._read_meta(cur)["schema"]
    schema = StructType.fromJson(_json.loads(schema_json))
    tcols = schema.fieldNames()
    # a static PARTITION clause pins its columns; the positional SELECT
    # then covers only the remaining table columns
    target_cols = cols if cols is not None else (
        tcols if static is None else [c for c in tcols if c not in static]
    )
    unknown = sorted(set(target_cols) - set(tcols))
    if unknown:
        raise ValueError(f"table {name}: INSERT targets unknown column(s) {unknown}")
    if len(df.columns) != len(target_cols):
        raise ValueError(
            f"table {name}: INSERT supplies {len(df.columns)} values for "
            f"{len(target_cols)} target columns"
        )
    df = df.toDF(*target_cols)
    # untyped NULL literals (void) pin to the table type; every other
    # type goes through append's conformance guard unchanged
    ttypes = {f.name: f.dataType for f in schema.fields}
    df = df.select(
        *[
            F.col(c).cast(ttypes[c]).alias(c) if dt == "void" else F.col(c)
            for c, dt in df.dtypes
        ]
    )
    if plan.overwrite():
        spec = t.current_spec()
        if static is not None:
            # static form: the SELECT supplies the non-partition columns
            # (positionally, unless a column list said otherwise); the
            # pinned constants are appended cast to the table types
            if not spec:
                raise ValueError(
                    f"table {name}: PARTITION clause requires a "
                    "partitioned table (this table has no partition spec)"
                )
            # transform-aware (r14 hidden partitioning): the clause
            # names SOURCE columns — PARTITION (ts='2024-01-03 ...') on
            # a days(ts) spec pins that day's dir through the same
            # writer expression (overwrite_partitions derives the value)
            from empdia_iceberg_spark.tables.manager import spec_sources

            bad = sorted(set(static) - spec_sources(spec))
            if bad:
                raise ValueError(
                    f"table {name}: PARTITION clause may only name "
                    f"partition source columns of {spec}; got {bad}"
                )
            overlap = sorted(set(static) & set(target_cols))
            if overlap:
                raise ValueError(
                    f"table {name}: column(s) {overlap} appear in both the "
                    "column list and the PARTITION clause"
                )
            for c, expr_col in static.items():
                df = df.withColumn(c, expr_col.cast(ttypes[c]))
            df = df.select(*tcols)
        missing = sorted(set(tcols) - set(df.columns))
        if missing:
            raise ValueError(
                f"table {name}: INSERT OVERWRITE must supply every table "
                f"column (missing {missing}) — a partial column list would "
                "shrink the schema on a whole-table replace"
            )
        if spec:
            # partitioned table: Iceberg dynamic-overwrite semantics —
            # replace exactly the partitions present in the incoming
            # data (plus the pinned one in the static form), carry the
            # rest untouched; never a whole-table replace
            static_lits = (
                {c: e.cast(ttypes[c]) for c, e in static.items()}
                if static
                else None
            )
            version, audit = t.overwrite_partitions(
                df.select(*tcols), static=static_lits
            )
            return {"op": "overwrite-partitions", "table": name,
                    "version": version, "audit": audit}
        aligned, _ = t._align_append_to_schema(df, schema_json)
        version = t.overwrite(aligned.select(*tcols), op="insert-overwrite")
        return {"op": "insert-overwrite", "table": name, "version": version,
                "audit": None}
    version = t.append_checked(df)
    return {"op": "insert", "table": name, "version": version, "audit": None}



def _merge_source(spark: SparkSession, node, root: str):
    """Resolve the USING relation: a temp view / catalog table name, a
    snapshot table name, or a subquery (analyzed from its parsed plan),
    each with an optional ``[AS] alias`` (required for subqueries).
    Returns (DataFrame, alias)."""
    alias = None
    if _kind(node) == "SubqueryAlias":
        alias, node = node.alias(), node.child()
    if _kind(node) != "UnresolvedRelation":
        if alias is None:
            raise ValueError("MERGE USING: a subquery source requires an alias")
        return _dataframe(spark, node), alias
    name = _table_name(node, "MERGE USING")
    try:
        return spark.table(name), alias or name
    except AnalysisException:
        # not a temp view / catalog table: try the snapshot-table
        # namespace, and say so clearly when that misses too (a typo'd
        # USING name must not surface as a cryptic missing-meta error)
        t = SnapshotTable(spark, name, root)
        if t.current_version() is None:
            raise ValueError(
                f"MERGE USING: unknown source {name!r} (no temp view, "
                f"catalog table, or snapshot table by that name)"
            )
        return t.read(), alias or name


def _merge_key(cond, t_names: set, s_alias: str) -> str:
    """Extract the single shared key column from the parsed ON
    condition. The engine's merge keys on ONE column name present in
    both sides, so the condition must be an equality of the same-named
    column, each side optionally qualified by the target (name or
    alias, ``t_names``) or the source alias."""
    sides = (cond.left(), cond.right()) if _kind(cond) == "EqualTo" else ()
    if not sides or not all(
        _kind(e) == "UnresolvedAttribute" and e.nameParts().size() <= 2
        for e in sides
    ):
        raise ValueError(
            "MERGE ON must be a single key equality "
            f"(t.key = s.key); got {cond.sql()[:60]!r}"
        )
    (*q1, c1), (*q2, c2) = (_seq(e.nameParts()) for e in sides)
    if c1.lower() != c2.lower():
        raise ValueError(
            f"MERGE ON must equate the SAME column name on both sides "
            f"(the engine keys on one shared column); got {c1!r} = {c2!r}"
        )
    s_names = {s_alias.lower()}
    quals = [q[0].lower() for q in (q1, q2) if q]
    for q in quals:
        if q not in t_names | s_names:
            raise ValueError(f"MERGE ON references unknown qualifier {q!r}")
    if len(quals) == 2 and (
        (quals[0] in t_names) == (quals[1] in t_names)
        and (quals[0] in s_names) == (quals[1] in s_names)
    ):
        raise ValueError(
            "MERGE ON must compare a target column to a source column, "
            f"not two of the same side: {cond.sql()[:60]!r}"
        )
    return c1


def _merge_clause(spark: SparkSession, action, t_names: set) -> dict:
    """One parsed WHEN clause as a `SnapshotTable.merge` clause spec.
    The optional AND qualifier is a Catalyst boolean; for MATCHED
    clauses it may reference both aliases, for NOT MATCHED only the
    source. Qualifier semantics are SQL MERGE's: the action applies
    only where the condition is TRUE — a matched row failing it passes
    through unchanged, a not-matched source row failing it is simply
    not inserted."""
    kind = _kind(action)
    cond = _condition(spark, action.condition())
    if kind == "DeleteAction":
        return {"action": "delete", "cond": cond}
    if kind == "UpdateStarAction":
        return {"action": "update", "set": "*", "cond": cond}
    if kind == "UpdateAction":
        assigned = _assignments(
            spark, action.assignments(), t_names, "MERGE UPDATE SET"
        )
        return {"action": "update", "set": assigned, "cond": cond}
    if kind == "InsertStarAction":
        return {"action": "insert", "cols": None, "vals": None, "cond": cond}
    cols, vals = [], []  # InsertAction: INSERT (cols) VALUES (exprs)
    for a in _seq(action.assignments()):
        parts = _seq(a.key().nameParts())
        if len(parts) != 1:
            raise ValueError(f"MERGE INSERT: bad column name {'.'.join(parts)!r}")
        cols.append(parts[0])
        vals.append(_column(spark, a.value()))
    if len(set(cols)) != len(cols):
        raise ValueError("MERGE INSERT: duplicate target column")
    return {"action": "insert", "cols": cols, "vals": vals, "cond": cond}


def _execute_merge(
    spark: SparkSession,
    plan,
    root: str,
    mor_key: str | None,
    mor_position: bool,
) -> dict:
    if mor_position:
        raise ValueError("mor_position applies to DELETE only")
    if mor_key is not None:
        raise ValueError("mor_key applies to DELETE only; MERGE routes to the "
                         "pruned copy-on-write merge engine")
    node, t_alias = plan.targetTable(), None
    if _kind(node) == "SubqueryAlias":
        t_alias, node = node.alias(), node.child()
    target = _table_name(node, "MERGE INTO")
    source_df, s_alias = _merge_source(spark, plan.sourceTable(), root)
    t_names = {target.lower(), (t_alias or target).lower()}
    key = _merge_key(plan.mergeCondition(), t_names, s_alias)
    # multiple clauses per side are legal and evaluate first-match-wins
    # in statement order; the engine enforces that only the last clause
    # of a side may omit AND <cond>
    clauses: dict = {
        side: [_merge_clause(spark, a, t_names) for a in _seq(actions)]
        for side, actions in (
            ("matched", plan.matchedActions()),
            ("not_matched", plan.notMatchedActions()),
            ("not_matched_by_source", plan.notMatchedBySourceActions()),
        )
    }
    clauses["target_alias"] = t_alias or target
    clauses["source_alias"] = s_alias
    t = SnapshotTable(spark, target, root)
    evolved: list[str] = []
    if plan.withSchemaEvolution():
        # WITH SCHEMA EVOLUTION (Delta semantics): every source column
        # absent from the target's committed schema auto-ADDs via the
        # metadata-only evolve — one JSON commit per column, zero data
        # rewrites; files written before the evolve surface it as NULL.
        # Runs BEFORE the clause engine so SET * / INSERT * expansions
        # and assignments see the evolved schema. Each add is its own
        # commit ahead of the merge commit (the engine has no
        # multi-op transactions; Catalog.publish can pin them jointly).
        cur = t.current_version()
        if cur is None:
            raise ValueError(f"MERGE: table {target!r} does not exist")
        import json as _json

        from pyspark.sql import types as _T

        t_cols = set(
            _T.StructType.fromJson(
                _json.loads(t._read_meta(cur)["schema"])
            ).fieldNames()
        )
        for f in source_df.schema.fields:
            if f.name not in t_cols:
                t.add_column(f.name, f.dataType.simpleString())
                evolved.append(f.name)
    version, audit = t.merge(source_df, key, clauses=clauses)
    return {
        "op": "merge",
        "table": target,
        "version": version,
        "audit": audit,
        "evolved_columns": evolved,
    }


def _execute_update(
    spark: SparkSession,
    plan,
    root: str,
    mor_key: str | None,
    mor_position: bool,
) -> dict:
    if mor_key is not None or mor_position:
        raise ValueError("mor_key/mor_position apply to DELETE only "
                         "(Iceberg v2 deletes); UPDATE is copy-on-write")
    name = _table_name(plan.table(), "UPDATE")
    assignments = _assignments(
        spark, plan.assignments(), {name.lower()}, "UPDATE SET"
    )
    cond = _condition(spark, plan.condition())
    t = SnapshotTable(spark, name, root)
    version, audit = t.update_where(
        F.lit(True) if cond is None else cond, assignments
    )
    return {"op": "update", "table": name, "version": version, "audit": audit}


def _execute_delete(
    spark: SparkSession,
    plan,
    root: str,
    mor_key: str | None,
    mor_position: bool,
) -> dict:
    name = _table_name(plan.table(), "DELETE")
    t = SnapshotTable(spark, name, root)
    cond = _column(spark, plan.condition())  # TRUE without a WHERE
    if mor_key is not None and mor_position:
        raise ValueError(
            "mor_key and mor_position are mutually exclusive DELETE "
            "strategies (equality vs position deletes)"
        )
    if mor_key is not None:
        version = t.delete_where_mor(cond, key=mor_key)
        return {"op": "delete-mor", "table": name, "version": version,
                "audit": None}
    if mor_position:
        # Iceberg v2 position deletes (r14): O(1)-sized delete file
        # of (file_path, row_index) coordinates — the cheap point-
        # correction path; see SnapshotTable.delete_where_position
        version = t.delete_where_position(cond)
        return {"op": "delete-mor-position", "table": name,
                "version": version, "audit": None}
    version, audit = t.delete_where_pruned(cond)
    return {"op": "delete", "table": name, "version": version, "audit": audit}


def execute_dml(
    spark: SparkSession,
    statement: str,
    root: str = DEFAULT_ROOT,
    mor_key: str | None = None,
    mor_position: bool = False,
    plan=None,
    registered: list | None = None,
) -> dict:
    """Execute one INSERT, UPDATE, DELETE or MERGE statement against a
    snapshot table. ``plan`` and ``registered`` (the tables it reads, as
    temp views) come from a caller that parsed the statement
    (`ddl.execute_sql`), so nothing is parsed or registered twice.

    Returns {"op", "table", "version", "audit"}; ``audit`` carries the
    pruning decision (dirs_rewritten / dirs_reused) for COW paths and
    is None for a merge-on-read delete (which rewrites nothing).
    A statement whose WHERE matches no row leaves the table at its
    current version (audit shows dirs_rewritten=0).

    MERGE INTO (r11, VERDICT r10 ask #2)::

        MERGE [WITH SCHEMA EVOLUTION] INTO t [AS a]
        USING <view|table|(subquery) alias> s
        ON t.key = s.key
        [WHEN MATCHED [AND cond] THEN UPDATE SET * | SET col = expr, ...]...
        [WHEN MATCHED [AND cond] THEN DELETE]...
        [WHEN NOT MATCHED [AND cond] THEN INSERT * | INSERT (cols) VALUES (exprs)]...
        [WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET col = expr, ... | DELETE]...

    Clauses repeat; each side evaluates FIRST-MATCH-WINS in statement
    order and only its last clause may omit AND <cond>. Star forms
    follow Delta SET * semantics (source must contain every table
    column; extras such as a CDC op column are ignored), so the
    canonical CDC apply statement runs verbatim. MERGE routes to the
    proven pruned merge engine (`SnapshotTable.merge` with a clause
    spec of parsed Columns); the returned audit carries the engine's
    pruning decision.

    Spark's parser reads the statement, so its grammar errors surface
    as ``ValueError("cannot parse SQL statement: <Spark's message>")``.
    Forms it parses that no engine here supports raise a ValueError
    naming the form: a DELETE or UPDATE target alias, a multipart table
    name, and INSERT ... BY NAME, REPLACE WHERE or IF NOT EXISTS."""
    if plan is None:
        plan = _parse(spark, statement)
    kind = _kind(plan)
    if kind == "InsertIntoStatement":
        if registered is None:
            from .ddl import _leaves, _names, materialize_tables

            registered = materialize_tables(spark, _names(_leaves(spark, plan)), root)
        return _execute_insert(spark, plan, root, mor_key, mor_position, registered)
    if kind == "UpdateTable":
        return _execute_update(spark, plan, root, mor_key, mor_position)
    if kind == "DeleteFromTable":
        return _execute_delete(spark, plan, root, mor_key, mor_position)
    if kind == "MergeIntoTable":
        return _execute_merge(spark, plan, root, mor_key, mor_position)
    if kind == "OverwriteByExpression":
        raise ValueError("INSERT ... REPLACE WHERE is not supported")
    raise ValueError(
        f"unsupported DML statement (expected INSERT INTO ..., UPDATE ... "
        f"SET ... [WHERE ...], DELETE FROM ... [WHERE ...], or MERGE INTO "
        f"... USING ... ON ... WHEN ...): {statement[:80]!r}"
    )


def _three_dir_customer(spark: SparkSession, sf_dir: str, name: str):
    """Scratch table landed as three data dirs covering disjoint
    c_custkey thirds — the layout that makes the DML queries' pruning
    decision observable (predicates confined to the top third must
    rewrite exactly 1 dir and carry 2 by reference)."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )
    k_max = cust.agg(F.max("c_custkey")).first()[0]  # 1 metadata scalar
    b1, b2 = k_max // 3, (2 * k_max) // 3
    t = SnapshotTable(spark, name, scratch_root())
    t.drop()
    t.create(cust.filter(F.col("c_custkey") <= b1))
    t.append(cust.filter((F.col("c_custkey") > b1) & (F.col("c_custkey") <= b2)))
    t.append(cust.filter(F.col("c_custkey") > b2))
    return t, b2


def _segment_rollup(t: SnapshotTable, audit: dict) -> DataFrame:
    return (
        t.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .withColumn("dirs_rewritten", F.lit(int(audit["dirs_rewritten"])).cast("int"))
        .withColumn("dirs_reused", F.lit(int(audit["dirs_reused"])).cast("int"))
        .orderBy("c_mktsegment")
    )


@register(
    "table_update_dml",
    oracle=f"""
    WITH bounds AS (SELECT (2 * max(c_custkey)) // 3 AS b2 FROM customer),
    updated AS (
        SELECT c_custkey,
               CASE WHEN c_custkey > b2 AND c_mktsegment = 'BUILDING'
                    THEN c_mktsegment || '_U' ELSE c_mktsegment END AS c_mktsegment,
               CASE WHEN c_custkey > b2 AND c_mktsegment = 'BUILDING'
                    THEN CAST(c_acctbal AS DOUBLE) + 100.0
                    ELSE CAST(c_acctbal AS DOUBLE) END AS c_acctbal
        FROM customer, bounds
    )
    SELECT c_mktsegment, count(*) AS n_rows,
           round({sql_sum2('c_acctbal')}, 2) AS sum_acctbal,
           CAST(1 AS INT) AS dirs_rewritten,
           CAST(2 AS INT) AS dirs_reused
    FROM updated
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Declarative SQL `UPDATE ... SET ... WHERE ...` over a snapshot "
    "table (execute_dml -> pruned copy-on-write update_where). The "
    "statement's WHERE and both assignment RHSs come from Spark's SQL "
    "parser as Columns; assignments apply SIMULTANEOUSLY against pre-update "
    "values (standard SQL UPDATE). The table lands as three key-range "
    "dirs and the predicate is confined to the top third, so the "
    "emitted audit columns (dirs_rewritten=1, dirs_reused=2) hash-check "
    "the PRUNING DECISION itself against the oracle's literals.",
)
def table_update_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, b2 = _three_dir_customer(spark, sf_dir, "customer_dml_upd")
    res = execute_dml(
        spark,
        f"UPDATE customer_dml_upd SET c_acctbal = c_acctbal + 100.0, "
        f"c_mktsegment = concat(c_mktsegment, '_U') "
        f"WHERE c_custkey > {b2} AND c_mktsegment = 'BUILDING'", root=scratch_root(),
    )
    return _segment_rollup(t, res["audit"])


@register(
    "table_delete_dml",
    oracle=f"""
    WITH bounds AS (SELECT (2 * max(c_custkey)) // 3 AS b2 FROM customer),
    kept AS (
        SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer, bounds
        WHERE NOT (c_custkey > b2 AND CAST(c_acctbal AS DOUBLE) < 0.0)
    )
    SELECT c_mktsegment, count(*) AS n_rows,
           round({sql_sum2('c_acctbal')}, 2) AS sum_acctbal,
           CAST(1 AS INT) AS dirs_rewritten,
           CAST(2 AS INT) AS dirs_reused
    FROM kept
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Declarative SQL `DELETE FROM ... WHERE ...` over a snapshot "
    "table (execute_dml -> pruned copy-on-write delete_where_pruned): "
    "files with no matching row carry by reference, matching files are "
    "rewritten without the matching rows. Same three-dir layout and "
    "audit-column proof as table_update_dml (dirs_rewritten=1, "
    "dirs_reused=2). The merge-on-read alternative (mor_key=...) is "
    "exercised in tests/test_tables.py.",
)
def table_delete_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, b2 = _three_dir_customer(spark, sf_dir, "customer_dml_del")
    res = execute_dml(
        spark,
        f"DELETE FROM customer_dml_del "
        f"WHERE c_custkey > {b2} AND c_acctbal < 0.0", root=scratch_root(),
    )
    return _segment_rollup(t, res["audit"])


@register(
    "table_merge_dml",
    oracle=f"""
    WITH bounds AS (
        SELECT (2 * max(c_custkey)) // 3 AS b2, max(c_custkey) AS mk
        FROM customer
    ),
    base AS (
        SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer
    ),
    src AS (
        SELECT c_custkey, CAST(NULL AS VARCHAR) AS seg_new,
               500.0 AS bal_delta, CAST(NULL AS DOUBLE) AS bal_new
        FROM base, bounds WHERE c_custkey > b2 AND c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT mk + i, 'NEWSEG', 0.0, i * 100.5
        FROM bounds, range(1, 4) AS r(i)
    ),
    merged AS (
        SELECT t.c_custkey,
               CASE WHEN s.c_custkey IS NOT NULL
                    THEN t.c_mktsegment || '_M' ELSE t.c_mktsegment
               END AS c_mktsegment,
               CASE WHEN s.c_custkey IS NOT NULL
                    THEN t.c_acctbal + s.bal_delta ELSE t.c_acctbal
               END AS c_acctbal
        FROM base t LEFT JOIN src s ON t.c_custkey = s.c_custkey
        UNION ALL
        SELECT s.c_custkey, s.seg_new, s.bal_new
        FROM src s LEFT JOIN base t ON s.c_custkey = t.c_custkey
        WHERE t.c_custkey IS NULL
    )
    SELECT c_mktsegment, count(*) AS n_rows,
           round({sql_sum2('c_acctbal')}, 2) AS sum_acctbal,
           CAST(CASE WHEN c_mktsegment = 'NEWSEG' THEN count(*) ELSE 0 END
                AS BIGINT) AS n_loyalty,
           CAST(1 AS INT) AS dirs_rewritten,
           CAST(2 AS INT) AS dirs_reused,
           CAST(1 AS INT) AS evolved_cols
    FROM merged
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Declarative SQL `MERGE INTO ... USING ... ON ... WHEN MATCHED "
    "THEN UPDATE SET ... WHEN NOT MATCHED THEN INSERT (...) VALUES "
    "(...)` (VERDICT r10 ask #2), routed to the proven pruned "
    "copy-on-write merge engine. Exercises the general clause path: "
    "assignments referencing BOTH target and source aliases "
    "(t.c_acctbal + s.bal_delta), a column-list INSERT whose source is "
    "NOT table-shaped (it carries deltas, not full rows), and the "
    "bounds-membership pruning — matched keys are confined to the top "
    "key-range dir and inserted keys fall outside every dir's bounds, "
    "so the emitted audit columns (dirs_rewritten=1, dirs_reused=2) "
    "hash-check the pruning decision against the oracle's literals. "
    "A second `MERGE WITH SCHEMA EVOLUTION INTO` (r13, VERDICT r12 ask "
    "#6, Delta semantics) then tags the inserted NEWSEG rows with a "
    "source-only `loyalty` column: the clause auto-ADDs it through the "
    "metadata-only evolve (evolved_cols=1 pins exactly one column "
    "added), every pre-evolution row reads NULL, and the per-segment "
    "non-null count (n_loyalty: 3 for NEWSEG, 0 elsewhere) hash-checks "
    "the evolved write end-to-end.",
)
def table_merge_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, b2 = _three_dir_customer(spark, sf_dir, "customer_dml_mrg")
    cust = load(spark, sf_dir, "customer")
    mk = int(cust.agg(F.max("c_custkey")).first()[0])  # 1 metadata scalar
    key_type = dict(cust.dtypes)["c_custkey"]
    upd = cust.filter(
        (F.col("c_custkey") > b2) & (F.col("c_mktsegment") == "BUILDING")
    ).select(
        "c_custkey",
        F.lit(None).cast("string").alias("seg_new"),
        F.lit(500.0).alias("bal_delta"),
        F.lit(None).cast("double").alias("bal_new"),
    )
    new = spark.range(1, 4).select(
        (F.col("id") + F.lit(mk)).cast(key_type).alias("c_custkey"),
        F.lit("NEWSEG").alias("seg_new"),
        F.lit(0.0).alias("bal_delta"),
        (F.col("id") * 100.5).alias("bal_new"),
    )
    upd.unionByName(new).createOrReplaceTempView("cust_mrg_src")
    res = execute_dml(
        spark,
        """
        MERGE INTO customer_dml_mrg t USING cust_mrg_src s
        ON t.c_custkey = s.c_custkey
        WHEN MATCHED THEN UPDATE SET
            c_acctbal = t.c_acctbal + s.bal_delta,
            c_mktsegment = concat(t.c_mktsegment, '_M')
        WHEN NOT MATCHED THEN INSERT (c_custkey, c_mktsegment, c_acctbal)
            VALUES (s.c_custkey, s.seg_new, s.bal_new)
        """, root=scratch_root(),
    )
    # second act (r13): tag the three inserted NEWSEG rows with a
    # source-only column through MERGE WITH SCHEMA EVOLUTION
    spark.range(1, 4).select(
        (F.col("id") + F.lit(mk)).cast(key_type).alias("c_custkey"),
        F.concat(F.lit("L"), F.col("id").cast("string")).alias("loyalty"),
    ).createOrReplaceTempView("cust_evo_src")
    res2 = execute_dml(
        spark,
        """
        MERGE WITH SCHEMA EVOLUTION INTO customer_dml_mrg t
        USING cust_evo_src s ON t.c_custkey = s.c_custkey
        WHEN MATCHED THEN UPDATE SET loyalty = s.loyalty
        """, root=scratch_root(),
    )
    return (
        t.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("c_acctbal"), 2).alias("sum_acctbal"),
            F.count("loyalty").alias("n_loyalty"),
        )
        .withColumn(
            "dirs_rewritten", F.lit(int(res["audit"]["dirs_rewritten"])).cast("int")
        )
        .withColumn(
            "dirs_reused", F.lit(int(res["audit"]["dirs_reused"])).cast("int")
        )
        .withColumn(
            "evolved_cols", F.lit(len(res2["evolved_columns"])).cast("int")
        )
        .orderBy("c_mktsegment")
    )


@register(
    "table_delete_mor_dml",
    oracle=f"""
    WITH del AS (
        SELECT c_custkey FROM customer WHERE CAST(c_acctbal AS DOUBLE) < 0.0
    ),
    kept AS (
        SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM del)
    ),
    reborn AS (
        SELECT min(c_custkey) AS c_custkey, 'REBORN' AS c_mktsegment,
               CAST(123.45 AS DOUBLE) AS c_acctbal
        FROM customer WHERE CAST(c_acctbal AS DOUBLE) < 0.0
    ),
    allr AS (SELECT * FROM kept UNION ALL SELECT * FROM reborn)
    SELECT c_mktsegment, count(*) AS n_rows,
           round({sql_sum2('c_acctbal')}, 2) AS sum_acctbal,
           'delete-mor' AS op,
           CAST(1 AS INT) AS n_delete_files
    FROM allr
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Declarative SQL `DELETE FROM ... WHERE ...` routed to the "
    "MERGE-ON-READ path (mor_key): the engine commits an O(deleted "
    "keys) equality-delete file instead of rewriting any data file — "
    "the delete mode that stays cheap at 100 TB — and every read "
    "anti-joins it. The query then APPENDS a row reusing a deleted key "
    "('REBORN' segment): Iceberg sequence-number semantics (applies_to "
    "pins the delete to the files that existed at delete time) require "
    "it to SURVIVE, which the rollup hash-checks, along with the "
    "snapshot's delete-file count as an audit column. VERDICT r10 ask "
    "#7: the DML mor_key branch previously rode on tests only.",
)
def table_delete_mor_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _ = _three_dir_customer(spark, sf_dir, "customer_dml_mord")
    res = execute_dml(
        spark,
        "DELETE FROM customer_dml_mord WHERE c_acctbal < 0.0",
        mor_key="c_custkey", root=scratch_root(),
    )
    cust = load(spark, sf_dir, "customer")
    k0 = int(
        cust.filter(F.col("c_acctbal") < 0).agg(F.min("c_custkey")).first()[0]
    )
    key_type = dict(cust.dtypes)["c_custkey"]
    t.append(
        spark.range(1).select(
            F.lit(k0).cast(key_type).alias("c_custkey"),
            F.lit("REBORN").alias("c_mktsegment"),
            F.lit(123.45).cast("double").alias("c_acctbal"),
        )
    )
    n_delete_files = len(t._read_meta(t.current_version()).get("delete_dirs", []))
    return (
        t.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .withColumn("op", F.lit(res["op"]))
        .withColumn("n_delete_files", F.lit(n_delete_files).cast("int"))
        .orderBy("c_mktsegment")
    )


@register(
    "table_insert_overwrite_dml",
    oracle=f"""
    WITH final AS (
        SELECT c_custkey, c_mktsegment,
               CAST(c_acctbal AS DOUBLE) + 1000.0 AS bal
        FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0
        UNION ALL
        SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE)
        FROM customer
        WHERE c_mktsegment NOT IN ('BUILDING', 'MACHINERY')
    )
    SELECT c_mktsegment, count(*) AS n_rows,
           round({sql_sum2('bal')}, 2) AS sum_bal,
           CAST(1 AS INT) AS partitions_replaced,
           CAST(4 AS INT) AS subdirs_carried,
           CAST(0 AS INT) AS dirs_rewritten,
           CAST(1 AS INT) AS clear_replaced,
           CAST(1 AS INT) AS clear_dropped
    FROM final
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Dynamic partition overwrite (r13) — Iceberg `INSERT OVERWRITE` "
    "semantics, the 100 TB backfill primitive: on a table partitioned "
    "by c_mktsegment, an INSERT OVERWRITE whose SELECT holds only "
    "BUILDING rows replaces EXACTLY that partition (audit pins "
    "partitions_replaced=1 with the other 4 partitions carried BY "
    "REFERENCE at hive-subdir granularity — subdirs_carried=4, "
    "dirs_rewritten=0, zero data movement outside the written "
    "partition), and a static `PARTITION (c_mktsegment='MACHINERY')` "
    "overwrite with an EMPTY source clears that partition (Spark's "
    "static-overwrite contract; clear_replaced/clear_dropped pin it). "
    "Replaced-partition identification compares hive subdir names the "
    "writer itself produced, so value escaping can never desync. The "
    "final per-segment rollup hash-checks rows AND exact-decimal sums "
    "against base-table arithmetic; v1 stays intact under time travel.",
)
def table_insert_overwrite_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
    )
    t = SnapshotTable(spark, "customer_dml_dpo", scratch_root())
    t.drop()
    t.create(cust, partition_by=["c_mktsegment"])
    cust.createOrReplaceTempView("cust_dpo_src")
    res = execute_dml(
        spark,
        """
        INSERT OVERWRITE customer_dml_dpo
        SELECT c_custkey, c_mktsegment, c_acctbal + 1000.0
        FROM cust_dpo_src
        WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0
        """, root=scratch_root(),
    )
    res2 = execute_dml(
        spark,
        """
        INSERT OVERWRITE customer_dml_dpo PARTITION (c_mktsegment = 'MACHINERY')
        SELECT c_custkey, c_acctbal FROM cust_dpo_src WHERE 1 = 0
        """, root=scratch_root(),
    )
    a, a2 = res["audit"], res2["audit"]
    return (
        t.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("c_acctbal"), 2).alias("sum_bal"),
        )
        .withColumn(
            "partitions_replaced", F.lit(int(a["partitions_replaced"])).cast("int")
        )
        .withColumn("subdirs_carried", F.lit(int(a["subdirs_carried"])).cast("int"))
        .withColumn("dirs_rewritten", F.lit(int(a["dirs_rewritten"])).cast("int"))
        .withColumn(
            "clear_replaced", F.lit(int(a2["partitions_replaced"])).cast("int")
        )
        .withColumn("clear_dropped", F.lit(int(a2["dirs_rewritten"])).cast("int"))
        .orderBy("c_mktsegment")
    )


@register(
    "table_insert_dml",
    oracle=f"""
    WITH bounds AS (
        SELECT (2 * max(c_custkey)) // 3 AS b2, max(c_custkey) AS mk
        FROM customer
    ),
    base AS (
        SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer
    ),
    ins_sel AS (
        SELECT c_custkey + mk AS c_custkey, 'INSERTED' AS c_mktsegment,
               c_acctbal
        FROM base, bounds WHERE c_custkey > b2 AND c_mktsegment = 'BUILDING'
    ),
    ins_val AS (
        SELECT 2 * mk + 1 AS c_custkey, 'VROW' AS c_mktsegment,
               CAST(NULL AS DOUBLE) AS c_acctbal
        FROM bounds
    ),
    allr AS (
        SELECT * FROM base
        UNION ALL SELECT * FROM ins_sel
        UNION ALL SELECT * FROM ins_val
    )
    SELECT c_mktsegment, count(*) AS n_rows,
           round({sql_sum2('c_acctbal')}, 2) AS sum_acctbal,
           CAST(2 AS INT) AS versions_added
    FROM allr
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Declarative SQL `INSERT INTO` (r11 — completing the DML "
    "surface alongside UPDATE/DELETE/MERGE): one INSERT ... SELECT "
    "(Catalyst-parsed query source, positional mapping to the table "
    "schema) and one INSERT (cols) VALUES (...) whose omitted column "
    "lands NULL via append's additive alignment and whose untyped NULL "
    "would pin to the table type. Both route through append_checked "
    "(the OCC commit loop); the emitted versions_added column "
    "hash-checks that exactly two snapshots were committed, and the "
    "all-NULL VROW group's NULL sum survives both engines' rollups "
    "identically.",
)
def table_insert_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, b2 = _three_dir_customer(spark, sf_dir, "customer_dml_ins")
    cust = load(spark, sf_dir, "customer")
    mk = int(cust.agg(F.max("c_custkey")).first()[0])  # 1 metadata scalar
    cust.createOrReplaceTempView("cust_ins_base")
    v0 = t.current_version()
    execute_dml(
        spark,
        f"INSERT INTO customer_dml_ins "
        f"SELECT c_custkey + {mk}, 'INSERTED', CAST(c_acctbal AS DOUBLE) "
        f"FROM cust_ins_base WHERE c_custkey > {b2} "
        f"AND c_mktsegment = 'BUILDING'", root=scratch_root(),
    )
    execute_dml(
        spark,
        f"INSERT INTO customer_dml_ins (c_custkey, c_mktsegment) "
        f"VALUES ({2 * mk + 1}, 'VROW')", root=scratch_root(),
    )
    versions_added = t.current_version() - v0
    return (
        t.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .withColumn("versions_added", F.lit(int(versions_added)).cast("int"))
        .orderBy("c_mktsegment")
    )


@register(
    "table_merge_sync_dml",
    oracle=f"""
    WITH bounds AS (
        SELECT max(c_custkey) // 3 AS b1, (2 * max(c_custkey)) // 3 AS b2
        FROM customer
    ),
    base AS (
        SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer
    ),
    final AS (
        SELECT c_custkey,
               CASE WHEN c_custkey > b2 AND NOT (c_acctbal < 0.0)
                    THEN c_mktsegment || '_S' ELSE c_mktsegment
               END AS c_mktsegment,
               CASE WHEN c_custkey <= b1 AND c_mktsegment = 'BUILDING'
                    THEN c_acctbal + 50.0 ELSE c_acctbal
               END AS c_acctbal
        FROM base, bounds
        WHERE NOT (c_custkey > b2 AND c_acctbal < 0.0)
    )
    SELECT c_mktsegment, count(*) AS n_rows,
           round({sql_sum2('c_acctbal')}, 2) AS sum_acctbal,
           CAST(2 AS INT) AS dirs_rewritten,
           CAST(1 AS INT) AS dirs_reused
    FROM final
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="`WHEN NOT MATCHED BY SOURCE` (Delta/SQL:2023 MERGE extension — "
    "the full-sync shape): matched rows take the source row (SET *), "
    "and UNMATCHED TARGET rows are claimed first-match-wins by two "
    "qualified BY SOURCE clauses (DELETE negatives, mark the rest). "
    "BY SOURCE is intrinsically one table scan, but the REWRITE stays "
    "pruned: a tagged anti-join scan finds the dirs that actually "
    "contain an affected row, so with the source confined to the "
    "bottom third and the BY SOURCE qualifiers to the top third, the "
    "middle dir carries by reference — dirs_rewritten=2 / dirs_reused=1 "
    "hash-checks that pruning decision.",
)
def table_merge_sync_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, b2 = _three_dir_customer(spark, sf_dir, "customer_dml_sync")
    b1 = b2 // 2  # thirds: b2 = 2*max//3, so b1 = max//3
    t.read().filter(
        (F.col("c_custkey") <= b1) & (F.col("c_mktsegment") == "BUILDING")
    ).withColumn("c_acctbal", F.col("c_acctbal") + F.lit(50.0)).createOrReplaceTempView(
        "sync_src"
    )
    res = execute_dml(
        spark,
        f"""
        MERGE INTO customer_dml_sync t USING sync_src s
        ON t.c_custkey = s.c_custkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE AND t.c_custkey > {b2} AND t.c_acctbal < 0.0
            THEN DELETE
        WHEN NOT MATCHED BY SOURCE AND t.c_custkey > {b2}
            THEN UPDATE SET c_mktsegment = concat(t.c_mktsegment, '_S')
        """, root=scratch_root(),
    )
    return _segment_rollup(t, res["audit"])


@register(
    "table_position_delete_dml",
    oracle=f"""
    WITH k0 AS (SELECT min(c_custkey) AS k FROM customer),
    kept AS (
        SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer
        WHERE c_custkey <> (SELECT k FROM k0)
          AND NOT (CAST(c_acctbal AS DOUBLE) < 0.0
                   AND c_mktsegment = 'BUILDING')
    ),
    reborn AS (
        SELECT k AS c_custkey, 'REBORN' AS c_mktsegment,
               CAST(77.0 AS DOUBLE) AS c_acctbal FROM k0
    ),
    allr AS (SELECT * FROM kept UNION ALL SELECT * FROM reborn)
    SELECT c_mktsegment, count(*) AS n_rows,
           round({sql_sum2('c_acctbal')}, 2) AS sum_acctbal,
           'delete-mor-position' AS op,
           CAST(1 AS INT) AS point_positions,
           CAST(1 AS INT) AS point_applies_dirs,
           CAST(1 AS INT) AS changes_sees_delete,
           CAST(0 AS INT) AS delete_files_after_compact
    FROM allr
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Iceberg v2 POSITION deletes (VERDICT r13 ask #6): `DELETE FROM "
    "... WHERE ...` with mor_position=True commits a tiny file of "
    "(file_path, row_index) coordinates instead of a CoW dir rewrite "
    "or a read-tax-forever equality key — the cheap one-row-correction "
    "path. Coordinates come free from the parquet scan's `_metadata` "
    "(file_path, row_index), so readers anti-join two columns the scan "
    "already produces. The story: a POINT delete of one row "
    "(hash-pinned: the delete file holds exactly 1 position and "
    "applies_to prunes to exactly 1 of the 3 dirs), a stacked second "
    "position delete under a broader predicate, a re-append of the "
    "deleted key that must SURVIVE (later files are never referenced "
    "by older coordinates — sequence-number semantics for free), "
    "changes() surfacing the deleted row, and `CALL compact` folding "
    "every delete file away (delete_files_after_compact=0) with the "
    "row set unchanged.",
)
def table_position_delete_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _ = _three_dir_customer(spark, sf_dir, "customer_dml_posd")
    cust = load(spark, sf_dir, "customer")
    k0 = int(cust.agg(F.min("c_custkey")).first()[0])
    # point correction: one row, one position, one applies-to dir
    res = execute_dml(
        spark,
        f"DELETE FROM customer_dml_posd WHERE c_custkey = {k0}",
        mor_position=True, root=scratch_root(),
    )
    dd = t._read_meta(t.current_version())["delete_dirs"][-1]
    point_positions = spark.read.parquet(dd["dir"]).count()
    point_applies_dirs = len(dd["applies_to"])
    changes_sees_delete = int(
        t.changes(res["version"], res["version"])
        .filter(
            (F.col("_change_type") == "delete") & (F.col("c_custkey") == k0)
        )
        .count()
        == 1
    )
    # stacked position delete under a broader predicate composes
    execute_dml(
        spark,
        "DELETE FROM customer_dml_posd "
        "WHERE c_acctbal < 0.0 AND c_mktsegment = 'BUILDING'",
        mor_position=True, root=scratch_root(),
    )
    # a re-append reusing the deleted key must survive (new file, never
    # referenced by the older coordinates)
    key_type = dict(cust.dtypes)["c_custkey"]
    t.append(
        spark.range(1).select(
            F.lit(k0).cast(key_type).alias("c_custkey"),
            F.lit("REBORN").alias("c_mktsegment"),
            F.lit(77.0).cast("double").alias("c_acctbal"),
        )
    )
    t.compact()
    delete_files_after = len(
        t._read_meta(t.current_version()).get("delete_dirs", [])
    )
    return (
        t.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .withColumn("op", F.lit(res["op"]))
        .withColumn("point_positions", F.lit(int(point_positions)).cast("int"))
        .withColumn(
            "point_applies_dirs", F.lit(point_applies_dirs).cast("int")
        )
        .withColumn(
            "changes_sees_delete", F.lit(changes_sees_delete).cast("int")
        )
        .withColumn(
            "delete_files_after_compact",
            F.lit(delete_files_after).cast("int"),
        )
        .orderBy("c_mktsegment")
    )
