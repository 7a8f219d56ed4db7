"""Streaming SINK into snapshot tables — `df.writeStream.format(
"snapshot_write")` lands every micro-batch as an APPEND commit, the
write-side twin of `snapshot_tail` (sources/table_stream.py), built on
the public Spark 4 Python Data Source streaming API
(pyspark.sql.datasource.DataSourceStreamWriter, SPARK-44076). Closes
the read/write symmetry VERDICT r12 ask #7 names: a pipeline can tail a
table AND land in a table with the engine's own source/sink pair,
no foreachBatch glue.

Exactly-once: the same batch-id stamping contract as the foreachBatch
sinks (`streaming/windows.additive_upsert`) — each commit's snapshot op
is `append@<run_id>#b<N>`, the table's version log IS the transaction
record (stamp and file list publish in ONE atomic metadata create), and
a redelivered micro-batch (foreachBatch/DSv2 sinks are at-least-once)
is recognized by `batch_id <= newest stamp of this lineage` and skipped
with its staged files reclaimed. `run_id` scopes the monotonic batch
ids to one checkpoint lineage, exactly like additive_upsert's guard.

Scale shape: `write()` runs ON THE EXECUTORS — each task streams its
partition's rows into one parquet file (chunked through Arrow, bounded
memory) under a staging dir; only file PATHS travel to the driver,
whose `commit()` is a metadata-sized link per file + one snapshot JSON
publish. The sink scales out exactly like a parquet write.

The op stamp starts with `append@`, which `snapshot_tail` already
treats as an append commit — so a table fed by this sink can itself be
tailed downstream, chaining medallion hops natively.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    WriterCommitMessage,
)

from empdia_iceberg_spark.tables.manager import (
    DEFAULT_ROOT,
    CommitConflictError,
    SnapshotTable,
)


class _StagedFile(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


def _arrow_type(dt: T.DataType):
    """Spark type → the EXACT Arrow type the table's physical parquet
    encoding expects. The committed-schema read path sets an explicit
    reader schema, so a sink writing INT64 into an INT32 table would
    make every subsequent read fail with a physical-type mismatch —
    the same hazard `_align_append_to_schema` guards on the batch path.
    Nested/interval types are refused with a clear error rather than
    silently mis-encoded."""
    import pyarrow as pa

    m = {
        T.ByteType: pa.int8(),
        T.ShortType: pa.int16(),
        T.IntegerType: pa.int32(),
        T.LongType: pa.int64(),
        T.FloatType: pa.float32(),
        T.DoubleType: pa.float64(),
        T.StringType: pa.string(),
        T.BooleanType: pa.bool_(),
        T.DateType: pa.date32(),
        T.BinaryType: pa.binary(),
    }
    if type(dt) in m:
        return m[type(dt)]
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(dt, T.TimestampNTZType):
        return pa.timestamp("us")
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    raise ValueError(
        f"snapshot_write: unsupported sink column type {dt.simpleString()!r} "
        "(primitive types only; land nested payloads as binary/JSON strings)"
    )


class SnapshotStreamWriter(DataSourceStreamWriter):
    """One instance per streaming query run; `write` executes on
    executors, `commit`/`abort` on the driver."""

    _WRITE_CHUNK = 65536  # rows buffered per Arrow batch on an executor

    def __init__(self, options: dict, schema: T.StructType):
        self.table = options["table"]
        self.root = options.get("root", DEFAULT_ROOT)
        # checkpoint lineage token (see additive_upsert): batch ids are
        # monotonic only within one checkpoint, so idempotency stamps
        # must carry the lineage. Callers pass a token derived from
        # their checkpoint dir; the default supports the common
        # one-writer-per-table case.
        self.run_id = options.get("run_id", "default")
        if "#" in self.run_id or "/" in self.run_id:
            raise ValueError("snapshot_write: run_id must not contain '#' or '/'")
        # opt-in small-file hygiene (VERDICT r13 ask #7): a per-trigger
        # sink lands one dir per micro-batch — 1,440 dirs/day at
        # trigger-per-minute. Every N batches the driver runs a MINOR
        # compaction (compact_minor: merges only the sub-threshold
        # trickle dirs, O(small bytes) never O(table)) right after the
        # batch commit. 0 disables; CALL compact_minor('t') is the
        # external-maintenance alternative.
        self.auto_compact_every = int(
            options.get("auto_compact_every", 0) or 0
        )
        if self.auto_compact_every < 0:
            raise ValueError("snapshot_write: auto_compact_every must be >= 0")
        t = SnapshotTable(None, self.table, self.root)
        cur = t.current_version()
        if cur is None:
            raise ValueError(
                f"snapshot_write: table {self.table!r} does not exist under "
                f"{self.root} — CREATE it first (the sink appends; it does "
                "not invent a schema)"
            )
        meta = t._read_meta(cur)
        stored = T.StructType.fromJson(json.loads(meta["schema"]))
        tgt = {f.name: f.dataType.simpleString() for f in stored.fields}
        src = {f.name: f.dataType.simpleString() for f in schema.fields}
        if src != tgt:
            raise ValueError(
                f"snapshot_write: stream schema {src} must exactly match "
                f"table {self.table!r} schema {tgt} (align/cast in the "
                "stream plan; files are written before the driver could "
                "coerce them)"
            )
        # logical → physical names + arrow types, computed ON THE DRIVER
        # (executors get plain picklable lists)
        phys = t._physical_map(meta["schema"])
        self._cols = [
            (f.name, phys.get(f.name, f.name), _arrow_type(f.dataType))
            for f in schema.fields
        ]
        self.base = t.base
        self._last_cache: int | None = None  # newest stamped batch id
        # Session timezone, captured ON THE DRIVER (r13 review): Spark
        # hands write() NAIVE datetimes rendered in the session zone;
        # encoding them straight into timestamp('us', tz='UTC') would
        # shift every stored instant on a non-UTC session. Executors
        # localize with this zone before Arrow conversion.
        from pyspark.sql import SparkSession

        sess = SparkSession.getActiveSession()
        self.tz = (
            (sess.conf.get("spark.sql.session.timeZone") if sess else None)
            or "UTC"
        )
        self._ts_idx = [
            i
            for i, f in enumerate(schema.fields)
            if isinstance(f.dataType, T.TimestampType)
        ]
        self.stage = os.path.join(t.base, ".stream_stage", self.run_id)
        os.makedirs(self.stage, exist_ok=True)
        # Reclaim staging orphans from CRASHED runs (a query killed
        # between write() and commit() leaves its staged files forever;
        # commit/abort clean per-batch, nothing cleans a dead lineage).
        # Same posture as the IVF build-staging sweep: idle-age bound,
        # env-tunable for clock-skewed shared filesystems. Never touches
        # THIS lineage's dir — a concurrent commit may be mid-link.
        import time

        idle = float(os.environ.get("EMPDIA_SINK_STAGE_IDLE_SEC", 24 * 3600))
        ns = os.path.dirname(self.stage)
        now = time.time()
        for name in os.listdir(ns):
            full = os.path.join(ns, name)
            if full == self.stage or not os.path.isdir(full):
                continue
            newest = 0.0
            for r_, _d, fs in os.walk(full):
                for f in fs:
                    try:
                        newest = max(newest, os.path.getmtime(os.path.join(r_, f)))
                    except OSError:
                        pass
            try:
                newest = max(newest, os.path.getmtime(full))
            except OSError:
                continue
            if now - newest > idle:
                shutil.rmtree(full, ignore_errors=True)

    # ------------------------------------------------------- executor side
    def write(self, iterator: Iterator) -> _StagedFile:
        import pyarrow as pa
        import pyarrow.parquet as pq

        aschema = pa.schema([(p, at) for _l, p, at in self._cols])
        path = os.path.join(self.stage, f"part-{uuid.uuid4().hex}.parquet")
        writer = None
        n = 0
        buf: list[tuple] = []

        from zoneinfo import ZoneInfo

        zone = ZoneInfo(self.tz)

        def flush():
            nonlocal writer
            if not buf:
                return
            cols = [list(c) for c in zip(*buf)]
            for i in self._ts_idx:
                cols[i] = [
                    v if v is None or v.tzinfo is not None
                    else v.replace(tzinfo=zone)
                    for v in cols[i]
                ]
            arrays = [
                pa.array(cols[i], type=self._cols[i][2])
                for i in range(len(self._cols))
            ]
            batch = pa.table(arrays, schema=aschema)
            if writer is None:
                writer = pq.ParquetWriter(path, aschema)
            writer.write_table(batch)
            buf.clear()

        for row in iterator:
            buf.append(tuple(row))
            n += 1
            if len(buf) >= self._WRITE_CHUNK:
                flush()
        flush()
        if writer is not None:
            writer.close()
        return _StagedFile(path if writer is not None else "", n)

    # --------------------------------------------------------- driver side
    def _last_stamped(self, t: SnapshotTable) -> int | None:
        """Newest batch id this lineage stamped. Cached after each
        successful commit (r13 review: re-scanning the whole version
        log per micro-batch made a long stream O(versions²) in driver
        metadata reads) — the full reverse scan runs once per writer
        construction (i.e. per query run), which is exactly the restart
        case the scan exists for."""
        if self._last_cache is not None:
            return self._last_cache
        mine = f"append@{self.run_id}#b"
        for v in reversed(t._versions()):
            op = t._read_meta(v).get("op", "")
            if op.startswith(mine) and op[len(mine):].isdigit():
                self._last_cache = int(op[len(mine):])
                return self._last_cache
        return None

    def commit(self, messages, batchId: int) -> None:
        t = SnapshotTable(None, self.table, self.root)
        files = [m.path for m in messages if m is not None and m.path]
        last = self._last_stamped(t)
        stamp = f"append@{self.run_id}#b{batchId}"
        if last is not None and batchId <= last:
            # redelivered batch (crash between table commit and Spark's
            # checkpoint write): already landed — reclaim and return
            for f in files:
                try:
                    os.remove(f)
                except OSError:
                    pass
            return

        def publish(cur: int, meta: dict, staged: list) -> int:
            if not files:
                # empty batch: stamp a metadata-only commit so the
                # lineage stays monotonic through quiet triggers
                return t._carry(stamp, cur, meta)
            # link the staged files into one new data dir (same dir
            # naming as _write_data; same filesystem). Links, not
            # renames: a conflicted attempt's dir is removed whole and
            # the staged files stay put for the rebuild.
            d = os.path.join(t.data_dir, f"s{cur + 1:05d}-{uuid.uuid4().hex[:8]}")
            staged.append(d)
            os.makedirs(d)
            for f in files:
                os.link(f, os.path.join(d, os.path.basename(f)))
            # the sink stages FLAT files (one per task, no hive subdirs),
            # so its dir honestly records an EMPTY dir-spec — claiming
            # the table spec here made read_pruned look for hive subdirs
            # that don't exist and silently drop the dir from pruned
            # listings (r14 review). compact_minor/compact restore the
            # prunable layout later.
            return t._carry(stamp, cur, meta, [d], [[]])

        t._commit_loop("append", publish, what=f"snapshot_write batch {batchId}")
        self._last_cache = batchId
        for f in files:
            os.remove(f)
        if files:
            self._maybe_auto_compact(batchId)

    def _maybe_auto_compact(self, batchId: int) -> None:
        """Every `auto_compact_every` batches, sweep the trickle dirs.
        Runs AFTER the batch's own commit (exactly-once is already
        sealed); a lost compaction race or transient IO failure is
        swallowed — the next interval (or CALL compact_minor) retries.
        The compaction commit is CoW-swap-shaped, so a downstream
        skip_change_commits tail skips it and a CDC tail diffs it to
        zero rows."""
        if not self.auto_compact_every:
            return
        if (batchId + 1) % self.auto_compact_every != 0:
            return
        try:
            # spark=None: commit() runs in the Python Data Source worker
            # subprocess where no SparkSession exists — compact_minor's
            # Arrow fallback merges the flat trickle dirs session-free
            SnapshotTable(None, self.table, self.root).compact_minor()
        except (CommitConflictError, OSError):
            pass  # transient: retried at the next interval

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and getattr(m, "path", ""):
                try:
                    os.remove(m.path)
                except OSError:
                    pass


class SnapshotWriteDataSource(DataSource):
    """`df.writeStream.format("snapshot_write").option("table", name)
    [.option("root", ...)] [.option("run_id", lineage_token)]` — appends
    each micro-batch to the named snapshot table with exactly-once
    batch-id stamping. The table must exist; the stream schema must
    match its committed schema exactly."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_write"

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "snapshot_write supports append mode only (complete/"
                "update rewrite semantics belong to MERGE sinks)"
            )
        return SnapshotStreamWriter(self.options, schema)


# ------------------------------------------------------------------ queries


def _register_query():
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from empdia_iceberg_spark.functions.exact import exact_sum2, sql_sum2
    from empdia_iceberg_spark.registry import register
    from empdia_iceberg_spark.sources.tables import load
    from empdia_iceberg_spark.tables.manager import scratch_root

    @register(
        "stream_native_sink_medallion",
        oracle=f"""
        SELECT o_orderstatus,
               count(*) AS n_rows,
               round({sql_sum2('o_totalprice + 0.0')}, 2) AS sum_price,
               round({sql_sum2("floor(o_totalprice * 0.1 * 100 + 0.5) / 100")}, 2)
                   AS sum_margin
        FROM orders
        WHERE o_totalprice >= 1000.0 AND o_orderstatus IN ('O', 'F')
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """,
        doc="Medallion bronze → silver with the NATIVE table sink (r13, "
        "VERDICT r12 ask #7): the pipeline_medallion story re-expressed "
        "with zero foreachBatch glue — `readStream.format('snapshot_tail')` "
        "tails bronze, the quality gate + margin transform run in the "
        "stream plan, and `writeStream.format('snapshot_write')` appends "
        "each micro-batch to silver with exactly-once batch-id stamping "
        "(op append@<lineage>#b<N>; the snapshot log is the transaction "
        "record). Two availableNow drains against ONE checkpoint cross a "
        "restart boundary: the silver state hash-matches one batch SQL "
        "expression over all bronze rows — nothing lost, nothing doubled. "
        "Executor-side file writes, metadata-sized driver commit.",
    )
    def stream_native_sink_medallion(spark: SparkSession, sf_dir: str) -> DataFrame:
        import uuid as _uuid

        from empdia_iceberg_spark.sources.table_stream import (
            SnapshotTailDataSource,
        )
        from empdia_iceberg_spark.streaming.windows import work_root

        spark.dataSource.register(SnapshotTailDataSource)
        spark.dataSource.register(SnapshotWriteDataSource)
        root = scratch_root()
        orders = load(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        refine = lambda df: df.filter(F.col("o_totalprice") >= 1000.0).select(  # noqa: E731
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            (
                F.floor(F.col("o_totalprice") * 0.1 * 100 + 0.5).cast("double")
                / 100
            ).alias("margin"),
        )
        bronze = SnapshotTable(spark, "orders_bronze_nat", root)
        silver = SnapshotTable(spark, "orders_silver_nat", root)
        bronze.drop(), silver.drop()
        bronze.create(orders.filter(F.col("o_orderstatus") == "O"))
        silver.create(refine(orders).limit(0))  # schema-only, the sink appends
        run = _uuid.uuid4().hex[:8]
        ckpt = os.path.join(work_root(), f"native_sink_ckpt_{run}")

        def drain():
            q = (
                spark.readStream.format("snapshot_tail")
                .option("table", "orders_bronze_nat")
                .option("root", root)
                .load()
                .transform(refine)
                .writeStream.queryName("t_native_sink")
                .format("snapshot_write")
                .option("table", "orders_silver_nat")
                .option("root", root)
                .option("run_id", run)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        try:
            drain()  # silver <- refined 'O' rows
            bronze.append(orders.filter(F.col("o_orderstatus") == "F"))
            drain()  # resumes at the checkpointed offset: ONLY the 'F' rows
        finally:
            for q in spark.streams.active:
                if q.name == "t_native_sink":
                    q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        return (
            silver.read()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(exact_sum2("o_totalprice"), 2).alias("sum_price"),
                F.round(exact_sum2("margin"), 2).alias("sum_margin"),
            )
            .orderBy("o_orderstatus")
        )


_register_query()
