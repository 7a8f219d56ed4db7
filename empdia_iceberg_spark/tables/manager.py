"""Snapshot-versioned table management on plain parquet — the
documented fallback for Apache-Iceberg-style table ops (SURVEY.md §7
slice 5): no ``iceberg-spark-runtime`` jar ships in this environment
(verified: pyspark/jars has neither iceberg nor delta), so the engine
provides the same *semantics* — atomic snapshots, append/overwrite,
copy-on-write MERGE, time travel, snapshot expiry, compaction — on a
minimal self-describing layout:

    <root>/<table>/
        _meta/v00001.json     one JSON per snapshot:
                              {version, op, dirs[], parent, schema}
        data/s00001/...       immutable parquet dirs, one per write

Reads are ``spark.read.parquet(*dirs)`` over the dirs listed by the
chosen snapshot — so predicate pushdown / column pruning / split
planning all work unchanged, and time travel is just "read an older
file list" (exactly Iceberg's model: metadata chooses files; the data
files are immutable).

Scale posture: data moves ONLY through executors (``df.write``); the
driver touches nothing but tiny JSON metadata, like an Iceberg catalog
commit. MERGE is file-pruned copy-on-write (Iceberg's
overwrite-by-filter): only dirs whose cached key envelope intersects
the source's key range are rewritten; every other dir is carried into
the new snapshot by reference.

Reference parity note: the reference repo itself has no table
management (SURVEY §0); this is driver-north-star surface ("data-lake"
category), cited against Iceberg's public spec semantics.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from empdia_iceberg_spark import CHECKOUT_DIR
from empdia_iceberg_spark.functions.exact import sql_sum2, sql_sum8, exact_sum2, exact_sum8
from empdia_iceberg_spark.registry import register
from empdia_iceberg_spark.sources.tables import load, local_df

# Engine-managed table root (inside the checkout; never touches the
# test data).
DEFAULT_ROOT = os.environ.get(
    "SPARK_GRAFT_TABLE_ROOT", os.path.join(CHECKOUT_DIR, ".managed_tables")
)

# ---------------------------------------------------------- scratch catalog
# Registered queries build throwaway SCAFFOLD tables (drop + recreate on
# every run). Under one shared root, two processes running the same query
# concurrently collide on that drop/recreate — observed as FileNotFound
# when a bench and a verify run overlapped (VERDICT r11 what's-wrong #3;
# OCC protects COMMITS, but drop/recreate scaffolding is catalog-level).
# scratch_root() hands every PROCESS its own catalog subdir: table NAMES
# stay stable (statements, SHOW CREATE output, and oracles are unchanged),
# isolation comes from the root. Reclamation mirrors the IVF cache: this
# process's dir is removed at exit; _scratch_* dirs whose newest mtime is
# older than EMPDIA_SCRATCH_IDLE_SEC (default 24 h) are orphans from
# crashed processes and are swept on first use.
_SCRATCH_SUFFIX = uuid.uuid4().hex[:8]
# Readiness keyed PER BASE (ADVICE r12): a first-call-wins boolean meant a
# later call with a different root returned a dir that was never created,
# had no atexit cleanup, and whose orphans were never swept.
_scratch_ready_bases: set[str] = set()


def scratch_root(root: str | None = None) -> str:
    base = root or DEFAULT_ROOT
    mine = os.path.join(base, f"_scratch_{_SCRATCH_SUFFIX}")
    if base not in _scratch_ready_bases:
        os.makedirs(mine, exist_ok=True)
        import atexit

        atexit.register(shutil.rmtree, mine, ignore_errors=True)
        idle = float(os.environ.get("EMPDIA_SCRATCH_IDLE_SEC", 24 * 3600))
        now = time.time()
        for name in os.listdir(base):
            full = os.path.join(base, name)
            if (
                name.startswith("_scratch_")
                and full != mine
                and os.path.isdir(full)
            ):
                newest = 0.0
                for r_, _d, fs in os.walk(full):
                    for f in fs:
                        try:
                            newest = max(newest, os.path.getmtime(os.path.join(r_, f)))
                        except OSError:
                            continue
                try:
                    newest = max(newest, os.path.getmtime(full))
                except OSError:
                    continue
                if now - newest > idle:
                    shutil.rmtree(full, ignore_errors=True)
        _scratch_ready_bases.add(base)
    return mine

# Snapshot writes aim for files of this size (Iceberg's
# write.target-file-size-bytes default), via shuffle-free coalesce.
TARGET_FILE_BYTES = 128 * 1024 * 1024

# A snapshot read whose files (data plus delete files) total fewer bytes
# than SMALL_SCAN_BYTES, in fewer than SMALL_SCAN_FILES files, runs as
# one partition. One task opens the files one after another, so many
# tiny files lose to a parallel scan even when their bytes are few.
# `tools/scaling_study.py small_scan` prints the crossovers both gates
# are set below.
SMALL_SCAN_BYTES = 1024 * 1024
SMALL_SCAN_FILES = 32


def _leaf_sizes(paths):
    """Sizes of the files Spark reads under ``paths`` (dirs or single
    files), listed lazily; names starting with ``.`` or ``_``, like
    checksums and markers, are skipped as Spark skips them."""
    stack = list(paths)
    while stack:
        p = stack.pop()
        try:
            with os.scandir(p) as entries:
                for e in entries:
                    if e.is_dir(follow_symlinks=False):
                        stack.append(e.path)
                    elif not e.name.startswith((".", "_")):
                        yield e.stat().st_size
        except NotADirectoryError:
            yield os.path.getsize(p)


def _fits_one_split(paths) -> bool:
    """Whether the files under ``paths`` stay under both gates. Stats
    files only until a gate is reached; a missing path answers False
    and is left for Spark's reader to report."""
    total = 0
    try:
        for files, size in enumerate(_leaf_sizes(paths), 1):
            total += size
            if total >= SMALL_SCAN_BYTES or files >= SMALL_SCAN_FILES:
                return False
    except FileNotFoundError:
        return False
    return True


def _split_small(df: DataFrame, paths: list[str], one_split: bool | None) -> DataFrame:
    """``df`` coalesced to one partition (no shuffle) when ``one_split``
    says so, or, left None, when the files under ``paths`` fit the gates."""
    if one_split is None:
        one_split = _fits_one_split(paths)
    return df.coalesce(1) if one_split else df


# sentinel: footer stats could not prove a dir's key envelope — the
# caller must fall back to the Spark scan path (None is taken: it is a
# legal cached envelope meaning "conservative must-rewrite")
_ENV_UNPROVEN = object()

# ------------------------------------------------------ partition transforms
# Iceberg hidden partitioning (spec §Partition Transforms): a spec entry
# is either an identity column name or a TRANSFORM over a source column —
# years(ts) / months(ts) / days(ts) / hours(ts), bucket(N, col),
# truncate(W, col). The user writes and filters on the SOURCE column;
# the engine derives the partition value at write time and prunes on it
# at read time — the "hidden" in hidden partitioning is exactly the
# manual pre-materialized date column this removes. Transform values are
# computed by JVM-side expressions (date_format / xxhash64 / pmod /
# substring) so the write path stays whole-stage-codegen; bucket uses
# Spark's xxhash64 where Iceberg pins murmur3_x86_32 — same
# deterministic hash-mod model, not byte-compatible with Iceberg
# manifests (which this layout does not produce).
_TRANSFORM_RE = re.compile(
    r"^(years|months|days|hours|bucket|truncate)\s*\(\s*(?:(\d+)\s*,\s*)?"
    r"(\w+)\s*\)$",
    re.IGNORECASE,
)
_DECIMAL = re.compile(r"decimal\((\d+),(\d+)\)")  # a decimal's simpleString
_TIME_TRANSFORM_FMT = {
    "years": "yyyy",
    "months": "yyyy-MM",
    "days": "yyyy-MM-dd",
    "hours": "yyyy-MM-dd-HH",
}


def parse_transform(entry: str) -> tuple[str, int | None, str]:
    """Parse one partition-spec entry -> (kind, param, source_col).
    Identity entries (a bare column name) return ("identity", None, col).
    Raises on malformed entries so a typo'd spec fails at CREATE, not at
    first write."""
    entry = entry.strip()
    m = _TRANSFORM_RE.match(entry)
    if not m:
        if not re.match(r"^\w+$", entry):
            raise ValueError(
                f"malformed partition-spec entry {entry!r} (expected a "
                "column name or years/months/days/hours(col), "
                "bucket(N, col), truncate(W, col))"
            )
        return ("identity", None, entry)
    kind, n, col = m.group(1).lower(), m.group(2), m.group(3)
    if kind in ("bucket", "truncate"):
        if n is None:
            raise ValueError(f"{kind}() needs a width: {kind}(N, {col})")
        if int(n) <= 0:
            raise ValueError(f"{kind}() width must be positive: {entry!r}")
        return (kind, int(n), col)
    if n is not None:
        raise ValueError(f"{kind}() takes a single column: {kind}({col})")
    return (kind, None, col)


def canonical_transform(entry: str) -> str:
    """Canonical spelling stored in metadata and emitted by SHOW CREATE
    (so the statement round-trips byte-identically)."""
    kind, n, col = parse_transform(entry)
    if kind == "identity":
        return col
    return f"{kind}({col})" if n is None else f"{kind}({n}, {col})"


def transform_source(entry: str) -> str:
    return parse_transform(entry)[2]


def spec_sources(spec: list[str]) -> set[str]:
    """Source columns a spec reads — the set schema guards (DROP/RENAME/
    ALTER TYPE refusal) must check, since dropping days(ts)'s source
    breaks every future write exactly like dropping an identity field."""
    return {transform_source(e) for e in (spec or [])}


def transform_slug(entry: str) -> str:
    """Filesystem-safe shadow-column suffix: identity keeps the bare
    column name (layout-compatible with pre-transform tables);
    days(ts) -> days__ts, bucket(16, k) -> bucket16__k."""
    kind, n, col = parse_transform(entry)
    if kind == "identity":
        return col
    return f"{kind}{n if n is not None else ''}__{col}"


def transform_expr_on(source, dtype: T.DataType, entry: str):
    """The JVM Column computing ``entry``'s partition value from a
    source Column of type ``dtype`` — shared by the write path, the
    dynamic-overwrite probes, and the prune-value evaluation so the
    three can never disagree on a partition value."""
    kind, n, _col = parse_transform(entry)
    if kind == "identity":
        return source
    if kind in _TIME_TRANSFORM_FMT:
        if not isinstance(dtype, (T.TimestampType, T.DateType, T.TimestampNTZType)):
            raise ValueError(
                f"{kind}() needs a timestamp/date source, got {dtype.simpleString()}"
            )
        return F.date_format(source, _TIME_TRANSFORM_FMT[kind])
    if kind == "bucket":
        return F.pmod(F.xxhash64(source), F.lit(n))
    # truncate: strings -> leading W chars; integers -> floor to a
    # multiple of W (pmod keeps negatives on the floor side, Iceberg's
    # truncate contract)
    if isinstance(dtype, T.StringType):
        return F.substring(source, 1, n)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return source - F.pmod(source, F.lit(n))
    raise ValueError(
        f"truncate() supports string/integer sources, got {dtype.simpleString()}"
    )


def with_transform_cols(df: DataFrame, spec: list[str], prefix: str) -> tuple:
    """Append one computed column per spec entry (named ``prefix+slug``)
    -> (augmented df, names). The probe columns dynamic overwrite joins
    on; write paths use prefix='_p_' to get the hive shadow layout."""
    names = []
    out = df
    for e in spec:
        src = transform_source(e)
        name = f"{prefix}{transform_slug(e)}"
        out = out.withColumn(
            name, transform_expr_on(F.col(src), df.schema[src].dataType, e)
        )
        names.append(name)
    return out, names


def _dir_within(d: str, bases: tuple) -> bool:
    """True when data dir ``d`` is one of ``bases`` or nested under one
    (pruned reads list hive SUBdirs of a recorded data dir)."""
    return any(
        d == b or d.startswith(b.rstrip(os.sep) + os.sep) for b in bases
    )


# Spark's partitionBy writer hive-escapes partition VALUES in dir names
# (ExternalCatalogUtils.escapePathName): ASCII 0x01-0x1F plus the chars
# below become %XX (uppercase hex); null/empty values become the
# __HIVE_DEFAULT_PARTITION__ sentinel. Prune-time path probes must
# render values the SAME way or a value containing '/', ':', '=', '%',
# ... probes a subdir that never exists and silently prunes live rows.
_HIVE_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\{[]^\x7f')
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

# value types whose str() provably matches Spark's path rendering
# (decimal ints, ISO dates/timestamps-mod-escaping, plain strings).
# bool is an int subclass but renders 'True' vs Spark's 'true'; floats
# can render scientifically — both fall back to a full dir scan.
_PATH_EXACT_TYPES = (str, int, datetime.date)


def hive_escape_value(v) -> str | None:
    """Render a partition value exactly as the partitionBy writer does,
    or None when the value's str() is not provably the writer's
    rendering. The planner decodes dir names instead of encoding values
    (`hive_unescape_value`); this is the writer-side half of the pair."""
    if v is None:
        return HIVE_DEFAULT_PARTITION
    if isinstance(v, bool) or not isinstance(v, _PATH_EXACT_TYPES):
        return None
    s = str(v)
    if s == "":
        return HIVE_DEFAULT_PARTITION
    return "".join(
        f"%{ord(c):02X}" if (ord(c) < 0x20 or c in _HIVE_ESCAPE_CHARS) else c
        for c in s
    )


def hive_unescape_value(s: str) -> str:
    """Invert the writer's hive path escaping (%XX → char). Decoding
    dir names is always well-defined — unlike encoding probe values,
    which is only provable for _PATH_EXACT_TYPES — so range pruning
    compares DECODED subdir values against the bounds."""
    return re.sub(
        r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), s
    )


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency failure: the table advanced past the
    snapshot this commit was based on (Iceberg's commit-conflict
    semantics). Callers re-read the table and retry."""


def _acquire_excl_lock(
    lock: str, what: str, attempts: int = 4000, sleep_s: float = 0.005,
) -> int:
    """Kernel-arbitrated exclusive lock on ``lock`` (flock, LOCK_EX).

    Release = ``os.close(fd)``. Earlier designs used an O_EXCL
    lockfile with mtime-based stale-break heuristics; every variant of
    "judge stale, then unlink/rename" is a check-then-act race — a
    fresh incarnation created between the check and the removal can be
    destroyed, admitting two holders. flock has no such window: the
    kernel owns the arbitration, a crashed or killed holder's lock is
    released with its file descriptors (no staleness heuristic at
    all), and the lockfile path is NEVER unlinked (unlink+recreate
    would let one waiter lock the orphaned inode while another locks
    the new one — two holders again). Single-host scope — a shared
    object store would use a conditional PUT instead."""
    import fcntl
    import time

    fd = os.open(lock, os.O_CREAT | os.O_WRONLY)
    for _ in range(attempts):
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            return fd
        except OSError:
            time.sleep(sleep_s)
    os.close(fd)
    raise TimeoutError(f"{what}: lock busy")


# the exceptions a Spark call over py4j raises (analysis errors, captured
# JVM errors, gateway failures) — a planner fallback catches these and
# nothing broader
_SPARK_ERRORS = (Py4JError, PySparkException)
_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


@dataclass
class Level:
    """One pruning level's tally (considered = selected + pruned) and
    the first reason it read some of its input whole instead."""

    considered: int = 0
    selected: int = 0
    pruned: int = 0
    reason: str | None = None

    def count(self, keep: bool) -> bool:
        self.considered += 1
        self.selected += keep
        self.pruned += not keep
        return keep

    def decline(self, reason: str) -> None:
        self.reason = self.reason or reason


@dataclass
class Decision:
    """What `SnapshotTable.plan_files` considered, kept and skipped, and
    why, per level: data dirs whose lead partition entry is bounded,
    their hive subdirs, and the files footer stats were consulted for."""

    dirs: Level = field(default_factory=Level)
    subdirs: Level = field(default_factory=Level)
    files: Level = field(default_factory=Level)

    def decline(self, reason: str) -> None:
        for level in (self.dirs, self.subdirs, self.files):
            level.decline(reason)

    def audit(self, meta: dict) -> dict:
        """The pruned-read audit dict the stories and tests pin."""
        return {
            "dirs_pruned": self.dirs.pruned,
            "subdirs_selected": self.subdirs.selected,
            "subdirs_pruned": self.subdirs.pruned,
            "dirs_full_scan": len(meta["dirs"]) - self.dirs.considered,
            "files_skipped_by_stats": self.files.pruned,
            "mor_deletes_applied": len(meta.get("delete_dirs", [])),
        }


class SnapshotTable:
    """One managed table: immutable parquet data dirs + JSON snapshot log."""

    def __init__(self, spark: SparkSession, name: str, root: str = DEFAULT_ROOT):
        self.spark = spark
        self.name = name
        self.root = root
        self.base = os.path.join(root, name)
        self.meta_dir = os.path.join(self.base, "_meta")
        self.data_dir = os.path.join(self.base, "data")

    # ------------------------------------------------------------- metadata

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.meta_dir):
            return []
        return sorted(
            int(f[1:6])
            for f in os.listdir(self.meta_dir)
            if f.startswith("v") and f.endswith(".json")
        )

    def _read_meta(self, version: int) -> dict:
        with open(os.path.join(self.meta_dir, f"v{version:05d}.json")) as f:
            return json.load(f)

    def _commit(
        self,
        op: str,
        dirs: list[str],
        parent: int | None,
        schema: str,
        spec: list[str] | None = None,
        dir_specs: list[list[str]] | None = None,
        expect_parent: int | None = None,
        delete_dirs: list[dict] | None = None,
        retry_on_race: bool = False,
        extra: dict | None = None,
        parent_meta: dict | None = None,
    ) -> int:
        # Table-level governance metadata (TBLPROPERTIES, CHECK
        # constraints) rides every commit: inherited from the parent
        # snapshot unless `extra` overrides a key — so ordinary writes
        # carry it forward untouched and time travel shows the
        # properties/constraints AS OF that version (Iceberg's
        # properties model; Delta's constraints-in-metadata model).
        # ``parent_meta`` is the parent's JSON when the caller already
        # read it.
        pmeta = parent_meta or {}
        if parent_meta is None and parent is not None:
            try:
                pmeta = self._read_meta(parent)
            except FileNotFoundError:
                pass
        carried = {
            k: pmeta[k]
            for k in ("properties", "constraints", "stats", "not_null")
            if pmeta.get(k)
        }
        parent_tz = pmeta.get("tz")
        if extra:
            carried.update(extra)
        carried = {k: v for k, v in carried.items() if v}
        # Time-transform partition values (days/hours/months/years) are
        # date_format strings rendered in the WRITING session's timezone;
        # Iceberg's transforms are tz-independent, this hive emulation's
        # are not (ADVICE r14). Pin the table's tz at first time-
        # partitioned commit and refuse writes from a differently-zoned
        # session — a silent mix would place the same instant in two
        # different day dirs. Prune-time mismatch falls back to full scan.
        all_specs = [spec or []] + list(dir_specs or [])
        if any(
            parse_transform(e)[0] in _TIME_TRANSFORM_FMT
            for s in all_specs
            for e in s
        ):
            # a session-free commit (the snapshot_write sink, the Arrow
            # compaction) lands only flat dirs, which hold no time-
            # transform value of its own: the table's pinned zone stands
            sess_tz = (
                self.spark.conf.get("spark.sql.session.timeZone")
                if self.spark is not None
                else parent_tz
            )
            if parent_tz is not None and parent_tz != sess_tz:
                raise ValueError(
                    f"table {self.name}: time-transform partition values "
                    f"were written under session timezone {parent_tz!r} but "
                    f"this session uses {sess_tz!r} — set "
                    f"spark.sql.session.timeZone={parent_tz} to write"
                )
            carried["tz"] = parent_tz or sess_tz
        elif parent_tz is not None:
            carried["tz"] = parent_tz
        os.makedirs(self.meta_dir, exist_ok=True)
        # The metadata publish must be a true atomic CREATE, not a
        # check-then-rename: two racing writers can both read the same
        # `latest`, and os.rename silently overwrites, losing the first
        # writer's commit. os.link(tmp, final) fails with EEXIST when the
        # slot is taken (POSIX-atomic), so exactly one writer wins each
        # version number — the Iceberg catalog swap.
        while True:
            latest = self.current_version()
            if expect_parent is not None and latest != expect_parent:
                # Optimistic concurrency (Iceberg commit semantics): the
                # caller built its file list against `expect_parent`; if the
                # table moved on, committing would silently drop the other
                # writer's files. Refuse; the caller re-reads and retries.
                raise CommitConflictError(
                    f"table {self.name}: commit based on v{expect_parent} but "
                    f"table is at v{latest} — concurrent writer won; retry"
                )
            version = (latest + 1) if latest is not None else 1
            meta = {
                "version": version,
                "op": op,
                "dirs": dirs,
                "parent": parent,
                "schema": schema,
                # Iceberg-style partition evolution: `spec` is the DEFAULT
                # partitioning for future writes; `dir_specs` records, per
                # data dir, the spec it was written under — reads consult
                # dir_specs so old and new layouts coexist in one table.
                "spec": spec if spec is not None else [],
                "dir_specs": dir_specs if dir_specs is not None else [[] for _ in dirs],
                # merge-on-read equality-delete files riding this snapshot
                "delete_dirs": delete_dirs if delete_dirs is not None else [],
                # commit wall-clock (epoch seconds) — resolves TIMESTAMP
                # AS OF time travel (Iceberg snapshot timestamp-ms).
                # Older metadata lacks the key; readers use .get("ts").
                "ts": time.time(),
                **carried,
            }
            tmp = os.path.join(
                self.meta_dir, f".v{version:05d}.{os.getpid()}.{id(meta):x}.tmp"
            )
            with open(tmp, "w") as f:
                json.dump(meta, f)
            final = os.path.join(self.meta_dir, f"v{version:05d}.json")
            try:
                os.link(tmp, final)  # atomic create; EEXIST = lost the race
                return version
            except FileExistsError:
                if expect_parent is not None or not retry_on_race:
                    # Append-shaped commits (the dirs list extends a parent's)
                    # must NOT auto-retry a lost publish race: the loop would
                    # republish the caller's now-stale dirs under the next
                    # version, silently dropping the concurrent winner's new
                    # dir. Surface the conflict; the caller rebuilds its dir
                    # list against the fresh head (append_checked does).
                    raise CommitConflictError(
                        f"table {self.name}: v{version} was committed by a "
                        "concurrent writer during publish — retry"
                    )
                # whole-table-replacing op (create/overwrite/compact/rollback):
                # last-writer-wins by re-sequencing is the declared semantics
                continue
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)

    def _commit_loop(
        self, verb: str, build, max_retries: int = 3, what: str | None = None
    ):
        """The optimistic commit (Iceberg's commit loop), the one copy
        every writer that builds on the head goes through. Each attempt
        reads the head, refuses a table never created (``cannot <verb>
        before create``) and returns ``build(cur, meta, staged)``, which
        builds against snapshot ``cur`` (JSON ``meta``) and publishes
        with ``expect_parent=cur``. A CommitConflictError means another
        writer moved the head first: the dirs the attempt listed in
        ``staged`` belong to no snapshot, so they are removed and the
        next attempt rebuilds against the fresh head. Session-free (the
        snapshot_write sink commits from the Python worker). ``what``
        names the op in the gave-up error (default ``verb``)."""
        for _ in range(max_retries + 1):
            cur = self.current_version()
            if cur is None:
                raise ValueError(f"table {self.name}: cannot {verb} before create")
            staged: list[str] = []
            try:
                return build(cur, self._read_meta(cur), staged)
            except CommitConflictError:
                for d in staged:
                    shutil.rmtree(d, ignore_errors=True)
        what = verb if what is None else what
        raise CommitConflictError(
            f"table {self.name}: {what + ' ' if what else ''}gave up after "
            f"{max_retries} retries"
        )

    def _carry(
        self, op: str, cur: int, meta: dict, add=(), add_specs=(), **kw
    ) -> int:
        """Publish ``op`` on snapshot ``cur`` (JSON ``meta``) carrying its
        dirs, dir specs, spec, schema and delete files by reference, plus
        the dirs ``add`` written under ``add_specs``; ``kw`` overrides
        any of the carried values. A snapshot that keeps its parent's
        dirs must keep the parent's delete files too, or every MOR-
        deleted row would come back. Conflicts if the head moved past
        ``cur``."""
        kw = {
            "spec": meta.get("spec", []),
            "delete_dirs": meta.get("delete_dirs", []),
            "expect_parent": cur,
            **kw,
        }
        return self._commit(
            op,
            meta["dirs"] + list(add),
            cur,
            kw.pop("schema", meta["schema"]),
            dir_specs=self._dir_specs(meta) + list(add_specs),
            parent_meta=meta,
            **kw,
        )

    def snapshots(self) -> list[dict]:
        return [self._read_meta(v) for v in self._versions()]

    def current_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def version_as_of(self, ts: float) -> int:
        """Greatest version committed at or before epoch ``ts`` —
        `TIMESTAMP AS OF` resolution (Iceberg snapshot-timestamp
        semantics). Commit timestamps are monotone with version numbers
        because every commit is serialized through the atomic metadata
        publish. Raises if the table has no snapshot that old; snapshots
        from metadata written before timestamps existed (no "ts" key)
        are treated as infinitely old, i.e. always visible."""
        best = None
        for v in self._versions():
            committed = self._read_meta(v).get("ts")
            if committed is None or committed <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"table {self.name}: no snapshot committed at or before "
                f"epoch {ts} (earliest is newer)"
            )
        return best

    # ------------------------------------------------------------ write ops

    def _write_data(self, df: DataFrame, spec: list[str] | None = None) -> str:
        version = (self.current_version() or 0) + 1
        # uuid suffix (Iceberg file-UUID pattern): racing writers that both
        # derive `version` from the same stale read still write DISJOINT
        # dirs, so a loser's cleanup (rmtree on conflict) can never delete
        # a directory the winning writer just committed.
        out = os.path.join(self.data_dir, f"s{version:05d}-{uuid.uuid4().hex[:8]}")
        # Target-file-size policy (Iceberg's write.target-file-size-bytes):
        # size each write to ~128 MB files from Catalyst's plan-size
        # estimate, via a shuffle-free coalesce. Prevents the small-files
        # problem every snapshot write would otherwise accumulate (here:
        # 32 splits of a 1 MB table -> 32 tiny files per snapshot).
        # Unknown stats estimate huge -> target clamps high -> coalesce
        # becomes a no-op, never an error.
        # Partitioned writes skip the coalesce: they hash-distribute by
        # the partition transforms instead (Iceberg's
        # write.distribution-mode=hash) — a coalesce(1) feeding
        # partitionBy serializes EVERY dir through one task (measured
        # 2.5-3.6 s vs 1.4-2.1 s for the same sf0.1 events write), and
        # at scale one task writing every partition is the classic
        # distribution-mode=none failure the Iceberg docs warn about.
        if not spec:
            try:
                size = int(
                    df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
                target = max(1, min(4096, -(-size // TARGET_FILE_BYTES)))
                df = df.coalesce(target)
            except _SPARK_ERRORS:
                pass  # stats unavailable: write with the plan's partitioning
        # Write timestamps as INT64 micros, not Spark's INT96 default:
        # INT96 column chunks carry NO footer statistics, so time
        # predicates could never stat-prune (r15; Iceberg likewise
        # mandates int64 micros). Set-and-restore around the write —
        # the engine must not leak a conf change into the user's own
        # writes. Micros is also what the committed schemas declare, so
        # reads are byte-compatible either way. The key has a default, so
        # a bare get() would return it and the finally would pin it as a
        # session setting; None means "never set", restored by unset.
        _TS_KEY = "spark.sql.parquet.outputTimestampType"
        prior_ts = self.spark.conf.get(_TS_KEY, None)
        self.spark.conf.set(_TS_KEY, "TIMESTAMP_MICROS")
        try:
            return self._write_data_inner(df, spec, out)
        finally:
            if prior_ts is not None:
                self.spark.conf.set(_TS_KEY, prior_ts)
            else:
                self.spark.conf.unset(_TS_KEY)

    def _write_data_inner(
        self, df: DataFrame, spec: list[str] | None, out: str
    ) -> str:
        if spec:
            # Hive-layout partitioning on SHADOW columns (_p_<slug>): the
            # real columns stay inside the data files, so reads never
            # depend on dir structure (recursiveFileLookup) and dirs
            # written under DIFFERENT specs union cleanly — Iceberg's
            # partition-evolution model (metadata chooses files; file
            # contents are self-sufficient). Transform entries (days(ts),
            # bucket(N, k), ...) compute their value here — hidden
            # partitioning's write half.
            aug, shadows = with_transform_cols(df, spec, "_p_")
            # Hash-distribute by the shadow partition columns (Iceberg
            # write.distribution-mode=hash): each partition value lands
            # wholly in one task, so dirs write in parallel and a dir
            # below the file-size target gets exactly one file. r16:
            # REBALANCE instead of a plain repartition — AQE's
            # OptimizeSkewInRebalancePartitions splits a reduce
            # partition larger than the advisory size (pinned to
            # TARGET_FILE_BYTES around this write) into map-range
            # chunks, so a HOT partition value writes N target-sized
            # files in parallel instead of one multi-GB file through
            # one task — the classic skew-by-partition-value failure at
            # 100 TB (guide §2.5). Below the target nothing splits and
            # the one-file-per-dir layout is unchanged (test-pinned);
            # coalescing of small partitions respects parallelism
            # (spark.sql.adaptive.coalescePartitions.parallelismFirst,
            # default true).
            # Read with an explicit default, like the timestamp conf
            # above (and session-global like it: a concurrent writer
            # thread would see the pinned value for the write's duration).
            _ADV_KEY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
            prior_adv = self.spark.conf.get(_ADV_KEY, None)
            self.spark.conf.set(_ADV_KEY, str(TARGET_FILE_BYTES))
            try:
                aug.hint("rebalance", *shadows).write.mode(
                    "overwrite"
                ).partitionBy(*shadows).parquet(out)
            finally:
                if prior_adv is not None:
                    self.spark.conf.set(_ADV_KEY, prior_adv)
                else:
                    self.spark.conf.unset(_ADV_KEY)
        else:
            df.write.mode("overwrite").parquet(out)
        return out

    def current_spec(self) -> list[str]:
        cur = self.current_version()
        return self._read_meta(cur).get("spec", []) if cur is not None else []

    def _dir_specs(self, meta: dict) -> list[list[str]]:
        return meta.get("dir_specs", [[] for _ in meta["dirs"]])

    def _validate_spec(self, spec: list[str], schema: T.StructType) -> list[str]:
        """Canonicalize spec entries and fail fast on unknown source
        columns / untransformable source types — a typo'd
        PARTITIONED BY must error at CREATE/evolve, not at first write."""
        out = []
        for e in spec:
            canon = canonical_transform(e)  # raises on malformed entries
            src = transform_source(canon)
            if src not in schema.fieldNames():
                raise ValueError(
                    f"table {self.name}: partition source column {src!r} "
                    f"not in schema (entry {canon!r})"
                )
            # type-check the transform now (identity passes any type)
            transform_expr_on(F.col(src), schema[src].dataType, canon)
            out.append(canon)
        return out

    def create(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        if self._versions():
            raise ValueError(f"table {self.name} already exists")
        spec = self._validate_spec(partition_by or [], df.schema)
        d = self._write_data(df, spec)
        return self._commit(
            "create", [d], None, df.schema.json(), spec=spec, dir_specs=[spec],
            retry_on_race=True,
        )

    def _append_on(
        self, op: str, cur: int, meta: dict, df: DataFrame, staged: list, **kw
    ) -> int:
        """Write ``df`` conformed to snapshot ``cur``'s schema and checked
        against its constraints, then publish it on top of ``cur``."""
        spec = meta.get("spec", [])
        aligned, schema_json = self._align_append_to_schema(df, meta["schema"])
        self._enforce_constraints(aligned, meta)
        d = self._write_data(self._to_physical(aligned, schema_json), spec)
        staged.append(d)
        return self._carry(op, cur, meta, [d], [spec], schema=schema_json, **kw)

    def append(self, df: DataFrame) -> int:
        """Append without retrying: a concurrent writer that moved the
        head first makes this raise CommitConflictError (append_checked
        rebuilds instead)."""
        cur = self.current_version()
        if cur is None:
            return self.create(df)
        staged: list[str] = []
        try:
            return self._append_on("append", cur, self._read_meta(cur), df, staged)
        except CommitConflictError:
            # the new dir is in no snapshot, so expire/GC would never
            # reclaim it — clean up before surfacing the conflict
            for d in staged:
                shutil.rmtree(d, ignore_errors=True)
            raise

    def append_checked(self, df: DataFrame, max_retries: int = 3) -> int:
        """Append with optimistic-concurrency conflict detection: the
        commit declares the parent it was built on; if another writer
        advanced the table between read and commit, CommitConflictError
        fires and the append is REBUILT against the fresh state (data
        is rewritten under the new version — file lists are immutable).
        This is the Iceberg commit loop."""
        if self.current_version() is None:
            return self.create(df)
        return self._commit_loop(
            "append",
            lambda cur, meta, staged: self._append_on(
                "append", cur, meta, df, staged
            ),
            max_retries,
            what="",
        )

    def evolve_partitioning(self, partition_by: list[str], max_retries: int = 3) -> int:
        """Iceberg partition-spec evolution: change the partitioning of
        FUTURE writes only. Existing data dirs keep their layout (their
        spec stays recorded in dir_specs); no data is rewritten."""

        def build(cur: int, meta: dict, staged: list) -> int:
            schema = T.StructType.fromJson(json.loads(meta["schema"]))
            spec = self._validate_spec(partition_by, schema)
            return self._carry("evolve-partitioning", cur, meta, spec=spec)

        return self._commit_loop("evolve", build, max_retries)

    def add_column(
        self,
        col: str,
        sql_type: str,
        max_retries: int = 3,
        default: str | None = None,
    ) -> int:
        """Iceberg `ALTER TABLE ... ADD COLUMN`: METADATA-ONLY schema
        evolution — the commit carries every data dir by reference and
        only the stored schema grows, so adding a column to a 100 TB
        table costs one JSON write, never a rewrite. Reads resolve
        against the committed schema (`_read_dirs`), so files written
        before the evolution surface the column as typed NULL, and
        time travel to an earlier version shows the schema AS OF then.

        ``sql_type`` is a DDL type string (``string``, ``decimal(12,2)``,
        ``array<double>``, ...) parsed by Spark itself via an empty
        createDataFrame — no hand-rolled type grammar.

        ``default`` (r13, the Iceberg-v3 initial-default model): a SQL
        literal expression. Files written BEFORE the evolve surface the
        default instead of NULL — still metadata-only: the field
        metadata records the default plus the pre-evolve data dirs
        (immutable once written), and the read path coalesces the
        default over exactly those dirs; files written after carry
        their values physically (an append omitting the column gets the
        default filled at write — Iceberg's write-default — while an
        EXPLICIT NULL in a post-evolve write stays NULL). A compaction
        reads through the same path, so it materializes defaults into
        the rewritten files, after which the coalesce is a no-op."""
        # Spark parses the DDL type (raises on nonsense); driver-only.
        field = self.spark.createDataFrame([], f"`{col}` {sql_type}").schema[0]
        if default is not None:
            # Catalyst parses + type-checks the literal (raises on
            # nonsense or an uncastable default); driver-only, no job
            self.spark.createDataFrame([], "dummy int").select(
                F.expr(default).cast(field.dataType)
            )

        def build(cur: int, meta: dict, staged: list) -> int:
            schema = T.StructType.fromJson(json.loads(meta["schema"]))
            if col in schema.fieldNames():
                raise ValueError(
                    f"table {self.name}: column {col!r} already exists"
                )
            if col in set(self._physical_map(meta["schema"]).values()):
                raise ValueError(
                    f"table {self.name}: {col!r} is the physical name of a "
                    "renamed column — data files carry its bytes; use a "
                    "different name"
                )
            # Name-based schema model guard: a PHYSICAL name that appears
            # in any HISTORICAL schema but not the current one was
            # dropped, and pre-drop files still physically contain it —
            # re-adding the name would RESURRECT those old values instead
            # of reading NULL (Iceberg's field-id model gives the
            # re-added column a fresh id, hence NULL). Refuse; pick a new
            # name or rewrite. Checked against physical names: only they
            # touch file bytes — a purely LOGICAL historical name (e.g.
            # the old name of a renamed column… which stays physical, or
            # a dropped renamed column's logical name) is safe to reuse.
            # O(|versions|) local JSON reads, metadata-sized. Caveat:
            # expire_snapshots can erase the history that records a drop
            # — the data dirs it keeps are the current version's, whose
            # files may still carry dropped bytes.
            for v in self._versions():
                if v == cur:
                    continue
                if col in set(
                    self._physical_map(self._read_meta(v)["schema"]).values()
                ):
                    raise ValueError(
                        f"table {self.name}: column {col!r} was previously "
                        "dropped and old files still contain its bytes — "
                        "re-adding the name would resurrect them; use a new "
                        "name or rewrite the table"
                    )
            added = field
            if default is not None:
                added = T.StructField(
                    field.name,
                    field.dataType,
                    True,
                    {
                        **(field.metadata or {}),
                        "default": default,
                        # dirs existing BEFORE the evolve: exactly the
                        # files that lack the column physically (every
                        # write path conforms frames to the full schema)
                        "default_pre_dirs": list(meta["dirs"]),
                    },
                )
            evolved = T.StructType(list(schema.fields) + [added])
            return self._carry("add-column", cur, meta, schema=evolved.json())

        return self._commit_loop("add a column", build, max_retries, "add_column")

    def _alterable(self, meta: dict, col: str) -> T.StructType:
        """The committed schema, after refusing a column change that data
        layout or live delete files depend on."""
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        if col not in schema.fieldNames():
            raise ValueError(f"table {self.name}: no column {col!r}")
        if col in spec_sources(meta.get("spec", [])) or any(
            col in spec_sources(ds) for ds in self._dir_specs(meta)
        ):
            raise ValueError(
                f"table {self.name}: {col!r} is a partition field — "
                "evolve the partition spec first"
            )
        if any(dd.get("key") == col for dd in meta.get("delete_dirs", [])):
            raise ValueError(
                f"table {self.name}: {col!r} keys live merge-on-read "
                "delete files — compact them in first"
            )
        return schema

    def drop_column(self, col: str, max_retries: int = 3) -> int:
        """Iceberg `ALTER TABLE ... DROP COLUMN`: METADATA-ONLY — the
        stored schema loses the field and every data dir rides by
        reference; reads resolve against the committed schema, so the
        physical column still present in old files is simply never
        projected (parquet column pruning makes that free). Refuses to
        drop a partition-spec field (reads/writes key on it) or a live
        MOR equality-delete key (the read-time anti-join needs it).

        Name-based schema model caveat: pre-drop files still contain
        the column's bytes, so re-introducing the NAME would resurrect
        old values instead of reading NULL — `add_column` refuses names
        found in historical schemas for exactly this reason, and a
        later APPEND whose frame carries the dropped name re-evolves it
        additively (new files carry values, old files' bytes become
        visible again); avoid reusing dropped names without a rewrite."""

        def build(cur: int, meta: dict, staged: list) -> int:
            kept = [f for f in self._alterable(meta, col).fields if f.name != col]
            if not kept:
                raise ValueError(
                    f"table {self.name}: cannot drop the last column"
                )
            return self._carry(
                "drop-column", cur, meta, schema=T.StructType(kept).json()
            )

        return self._commit_loop("drop a column", build, max_retries, "drop_column")

    def rename_column(self, old: str, new: str, max_retries: int = 3) -> int:
        """Iceberg `ALTER TABLE ... RENAME COLUMN`: METADATA-ONLY — the
        commit carries every data dir by reference and only the stored
        schema changes. Iceberg gets this free from field-ids; the
        name-based equivalent here records the field's PHYSICAL name
        (the name its values are written under in files, fixed at the
        field's creation) in the field metadata: reads list physical
        names in the explicit reader schema and project them to logical
        names (`_read_dirs`), writes map logical back to physical
        (`_to_physical`), so files written before AND after the rename
        carry the same physical column and union trivially.

        Logical names never touch file bytes, so renaming TO a
        historically-dropped name is safe (the dropped bytes are only
        reachable through their physical name, which stays out of the
        reader schema). Refused: renaming a partition-spec field (spec
        and shadow dirs key on the name), a live MOR delete key (the
        read-time anti-join joins on the recorded name), or onto any
        current logical OR physical name (the reader schema must stay
        collision-free)."""
        if not re.match(r"^\w+$", new):
            raise ValueError(f"invalid column name: {new!r}")

        def build(cur: int, meta: dict, staged: list) -> int:
            schema = self._alterable(meta, old)
            taken = set(schema.fieldNames()) | set(
                self._physical_map(meta["schema"]).values()
            )
            if new in taken:
                raise ValueError(
                    f"table {self.name}: name {new!r} collides with a "
                    "current logical or physical column name"
                )
            fields = []
            for f in schema.fields:
                if f.name == old:
                    md = dict(f.metadata or {})
                    md["physical"] = md.get("physical", f.name)
                    fields.append(T.StructField(new, f.dataType, f.nullable, md))
                else:
                    fields.append(f)
            return self._carry(
                "rename-column", cur, meta, schema=T.StructType(fields).json()
            )

        return self._commit_loop(
            "rename a column", build, max_retries, "rename_column"
        )

    # Safe type promotions (the Iceberg spec's schema-evolution table,
    # plus Spark's narrower integral types): value-preserving widenings
    # whose OLD physical encoding remains readable under the NEW reader
    # type — Spark 4's parquet reader performs the upcast in the scan
    # (verified: INT32 file under a bigint reader schema, FLOAT under
    # double, DECIMAL(5,2) under DECIMAL(12,2)). Everything else would
    # need a data rewrite and is refused.
    _INTEGRAL_WIDTH = {"byte": 1, "short": 2, "integer": 3, "long": 4}

    @classmethod
    def _is_safe_promotion(cls, old: T.DataType, new: T.DataType) -> bool:
        o, n = old.typeName(), new.typeName()
        if o == n and old == new:
            return False  # no-op: surfaced as an error, not a silent commit
        if o in cls._INTEGRAL_WIDTH and n in cls._INTEGRAL_WIDTH:
            return cls._INTEGRAL_WIDTH[n] > cls._INTEGRAL_WIDTH[o]
        if o == "float" and n == "double":
            return True
        if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
            # Iceberg: precision may grow, scale must stay — a scale
            # change re-scales the stored unscaled ints (data rewrite).
            return new.scale == old.scale and new.precision > old.precision
        return False

    def alter_column_type(self, col: str, sql_type: str, max_retries: int = 3) -> int:
        """Iceberg `ALTER TABLE ... ALTER COLUMN ... TYPE`: METADATA-ONLY
        safe type promotion — one JSON commit, zero rewrites. Old files'
        physical encoding (e.g. parquet INT32) is read under the widened
        committed type by the scan itself; `_align_append_to_schema`
        conforms subsequent appends, so new files carry the wide type and
        both generations union under one reader schema.

        Allowed: integral widening (byte→short→int→long), float→double,
        decimal precision growth at unchanged scale. Refused: narrowings
        and lateral changes (they need a rewrite), partition-spec fields
        (spec + shadow-dir values key on the column), and live MOR
        delete keys (delete files recorded the key under the old type)."""
        field = self.spark.createDataFrame([], f"`{col}` {sql_type}").schema[0]

        def build(cur: int, meta: dict, staged: list) -> int:
            schema = self._alterable(meta, col)
            old_type = schema[col].dataType
            if not self._is_safe_promotion(old_type, field.dataType):
                raise ValueError(
                    f"table {self.name}: cannot promote {col!r} from "
                    f"{old_type.simpleString()} to "
                    f"{field.dataType.simpleString()} — only value-preserving "
                    "widenings (byte/short/int→wider integral, float→double, "
                    "decimal precision growth at the same scale) are "
                    "metadata-only; anything else needs a table rewrite"
                )
            fields = [
                T.StructField(f.name, field.dataType, f.nullable, f.metadata)
                if f.name == col
                else f
                for f in schema.fields
            ]
            return self._carry(
                "alter-column-type", cur, meta, schema=T.StructType(fields).json()
            )

        return self._commit_loop(
            "alter a column", build, max_retries, "alter_column_type"
        )

    # ------------------------------------------- governance (r12): properties
    # TBLPROPERTIES (the Iceberg table-properties model) and CHECK
    # constraints (the Delta constraints model: stored in table metadata,
    # enforced on every write). Both ride commits via _commit's
    # inheritance, so ordinary writes carry them forward and time travel
    # shows them AS OF each version.

    def properties(self) -> dict:
        cur = self.current_version()
        return dict(self._read_meta(cur).get("properties", {})) if cur else {}

    def set_properties(self, props: dict, max_retries: int = 3) -> int:
        """`ALTER TABLE ... SET TBLPROPERTIES`: metadata-only merge-over
        commit (Iceberg property semantics — unmentioned keys survive)."""
        if not props or not all(
            isinstance(k, str) and isinstance(v, str) for k, v in props.items()
        ):
            raise ValueError("TBLPROPERTIES must be a non-empty str->str map")

        def build(cur: int, meta: dict, staged: list) -> int:
            merged = {**meta.get("properties", {}), **props}
            return self._carry(
                "set-properties", cur, meta, extra={"properties": merged}
            )

        return self._commit_loop(
            "set properties", build, max_retries, "set_properties"
        )

    def unset_properties(self, keys: list[str], max_retries: int = 3) -> int:
        def build(cur: int, meta: dict, staged: list) -> int:
            props = dict(meta.get("properties", {}))
            missing = [k for k in keys if k not in props]
            if missing:
                raise ValueError(
                    f"table {self.name}: no such table propert"
                    f"{'y' if len(missing) == 1 else 'ies'}: {missing}"
                )
            for k in keys:
                props.pop(k)
            return self._carry(
                "unset-properties", cur, meta, extra={"properties": props}
            )

        return self._commit_loop(
            "unset properties", build, max_retries, "unset_properties"
        )

    # --------------------------------------------- governance: CHECK constraints

    def constraints(self) -> dict:
        cur = self.current_version()
        return dict(self._read_meta(cur).get("constraints", {})) if cur else {}

    def add_constraint(self, name: str, expr: str, max_retries: int = 3) -> int:
        """`ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)` — Delta
        semantics: the expression (full Spark SQL, parsed by Catalyst)
        must hold on ALL EXISTING rows (one predicate-only validation
        scan, map-side, no shuffle) and is then enforced on every
        subsequent write. SQL three-valued logic: a NULL check passes,
        matching the SQL-standard CHECK."""
        if not re.match(r"^\w+$", name):
            raise ValueError(f"invalid constraint name: {name!r}")

        def build(cur: int, meta: dict, staged: list) -> int:
            cons = dict(meta.get("constraints", {}))
            if name in cons:
                raise ValueError(
                    f"table {self.name}: constraint {name!r} already exists"
                )
            # Catalyst parses/analyzes the expression against the real
            # schema (raises on nonsense), then existing data validates
            bad = self.read(version=cur).filter(~F.expr(expr)).limit(1).collect()
            if bad:
                raise ValueError(
                    f"table {self.name}: existing rows violate CHECK "
                    f"({expr}) — e.g. {bad[0].asDict()}; clean the data "
                    "before adding the constraint"
                )
            cons[name] = expr
            return self._carry(
                "add-constraint", cur, meta, extra={"constraints": cons}
            )

        return self._commit_loop(
            "add a constraint", build, max_retries, "add_constraint"
        )

    def set_not_null(self, col: str, max_retries: int = 3) -> int:
        """`ALTER TABLE ... ALTER COLUMN col SET NOT NULL` (r13, VERDICT
        r12 ask #8) — Delta semantics: one predicate-only validation
        scan proves no existing row is NULL, then the commit records the
        column in the snapshot's `not_null` list and every subsequent
        write enforces it alongside the CHECK constraints (same fused
        map-side job, `_enforce_constraints`). Stored as carried commit
        metadata rather than schema nullability because CoW rewrites
        commit the frame's schema (and reads force nullable for
        file-history safety) — the list survives every commit the way
        properties/constraints do, and time travel shows it AS OF each
        version."""

        def build(cur: int, meta: dict, staged: list) -> int:
            schema = T.StructType.fromJson(json.loads(meta["schema"]))
            if col not in schema.fieldNames():
                raise ValueError(f"table {self.name}: no column {col!r}")
            nn = list(meta.get("not_null", []))
            if col in nn:
                raise ValueError(
                    f"table {self.name}: column {col!r} is already NOT NULL"
                )
            if self.read(version=cur).filter(F.col(col).isNull()).limit(1).collect():
                raise ValueError(
                    f"table {self.name}: existing rows hold NULL in "
                    f"{col!r} — clean the data before SET NOT NULL"
                )
            return self._carry(
                "set-not-null", cur, meta, extra={"not_null": nn + [col]}
            )

        return self._commit_loop("SET NOT NULL", build, max_retries, "set_not_null")

    def drop_not_null(self, col: str, max_retries: int = 3) -> int:
        """`ALTER COLUMN col DROP NOT NULL`: metadata-only removal."""

        def build(cur: int, meta: dict, staged: list) -> int:
            nn = list(meta.get("not_null", []))
            if col not in nn:
                raise ValueError(
                    f"table {self.name}: column {col!r} is not NOT NULL"
                )
            return self._carry(
                "drop-not-null", cur, meta,
                extra={"not_null": [c for c in nn if c != col]},
            )

        return self._commit_loop(
            "DROP NOT NULL", build, max_retries, "drop_not_null"
        )

    def drop_constraint(self, name: str, max_retries: int = 3) -> int:
        def build(cur: int, meta: dict, staged: list) -> int:
            cons = dict(meta.get("constraints", {}))
            if name not in cons:
                raise ValueError(f"table {self.name}: no constraint {name!r}")
            cons.pop(name)
            return self._carry(
                "drop-constraint", cur, meta, extra={"constraints": cons}
            )

        return self._commit_loop(
            "drop a constraint", build, max_retries, "drop_constraint"
        )

    def analyze(self, columns: list[str] | None = None, max_retries: int = 3) -> int:
        """`ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS ...]`:
        ONE aggregation pass over the current snapshot (row count, plus
        per requested column: exact NDV, null count, min/max rendered
        through Spark's string cast), committed into the snapshot
        metadata with the analyzed version pinned. Later writes carry
        the stats forward UNCHANGED — the Iceberg/Spark model: stats
        describe the snapshot they were computed on, and `t.stats`
        exposes `as_of_version` so staleness is visible, never hidden.
        Scale shape: one shuffle-light agg job (count-distinct is the
        only exchange); nothing driver-side but the 1-row result."""
        cols = list(columns or [])

        def build(cur: int, meta: dict, staged: list) -> int:
            schema = T.StructType.fromJson(json.loads(meta["schema"]))
            missing = [c for c in cols if c not in schema.fieldNames()]
            if missing:
                raise ValueError(
                    f"table {self.name}: ANALYZE FOR COLUMNS names unknown "
                    f"column(s) {missing}"
                )
            aggs = [F.count(F.lit(1)).alias("__rows")]
            for c in cols:
                aggs += [
                    F.countDistinct(c).alias(f"__ndv_{c}"),
                    F.sum(F.col(c).isNull().cast("long")).alias(f"__nul_{c}"),
                    F.min(c).cast("string").alias(f"__min_{c}"),
                    F.max(c).cast("string").alias(f"__max_{c}"),
                ]
            row = self.read(version=cur).agg(*aggs).first()
            stats = {
                "as_of_version": cur,
                "row_count": int(row["__rows"]),
                "columns": {
                    c: {
                        "ndv": int(row[f"__ndv_{c}"]),
                        "null_count": int(row[f"__nul_{c}"] or 0),
                        "min": row[f"__min_{c}"],
                        "max": row[f"__max_{c}"],
                    }
                    for c in cols
                },
            }
            return self._carry("analyze", cur, meta, extra={"stats": stats})

        return self._commit_loop("ANALYZE", build, max_retries, "analyze")

    def _enforce_constraints(self, df: DataFrame, meta: dict) -> None:
        """Validate an incoming LOGICAL frame against the snapshot's
        CHECK constraints before any bytes land (Delta write-path
        enforcement). Cost when constraints exist: ONE predicate-only
        job over the incoming frame (all constraints fused into a
        single filter), map-side, no shuffle — `limit(1)` stops at the
        first violating row. Caveat: the frame is evaluated once here
        and once by the write; a non-deterministic source expression
        could pass validation yet write a violating value — same
        read-twice caveat as Delta's CDF-less constraint check.
        A constraint referencing a column the frame lacks fails
        analysis and surfaces as the refusal (overwrite with a new
        schema: drop the constraint first)."""
        cons = dict(meta.get("constraints", {}))
        # NOT NULL columns (r13) fold into the same fused predicate-only
        # job — NOT the SQL CHECK three-valued rule: a NULL must FAIL.
        # A frame omitting a NOT NULL column entirely would land files
        # reading NULL, so that refuses up front (add a DEFAULT or drop
        # the constraint first).
        for c in meta.get("not_null", []):
            if c not in df.columns:
                raise ValueError(
                    f"table {self.name}: write omits NOT NULL column {c!r}"
                )
            cons[f"__not_null_{c}"] = f"{c} IS NOT NULL"
        if not cons:
            return
        import functools

        fused = functools.reduce(
            lambda a, b: a & b, [F.expr(e) for e in cons.values()]
        )
        if df.filter(~fused).limit(1).collect():
            for cname in sorted(cons):
                bad = df.filter(~F.expr(cons[cname])).limit(1).collect()
                if bad:
                    label = (
                        f"NOT NULL column {cname[len('__not_null_'):]!r}"
                        if cname.startswith("__not_null_")
                        else f"CHECK constraint {cname!r} ({cons[cname]})"
                    )
                    raise ValueError(
                        f"table {self.name}: write violates {label} "
                        f"— e.g. {bad[0].asDict()}"
                    )
            raise ValueError(
                f"table {self.name}: write violates a CHECK constraint"
            )

    def overwrite(
        self, df: DataFrame, op: str = "overwrite", spec: list[str] | None = None
    ) -> int:
        cur = self.current_version()
        schema_json = df.schema.json()
        if cur is not None:
            meta = self._read_meta(cur)
            self._enforce_constraints(df, meta)
            # Column DEFAULTs survive a rewrite (r13): the frame's schema
            # (which the rewrite commits) lost the default field metadata
            # when read() projected the columns — re-attach it for fields
            # the rewrite keeps. The rewrite materialized default VALUES
            # into its files (reads flow through the coalesce), so the
            # stale pre-dirs list is harmless (those dirs are gone); what
            # must persist is the WRITE-default for future appends.
            defaults = self._schema_defaults(meta["schema"])
            if defaults:
                fields = []
                for f in df.schema.fields:
                    if f.name in defaults and "default" not in (f.metadata or {}):
                        e, _t, pre = defaults[f.name]
                        f = T.StructField(
                            f.name, f.dataType, f.nullable,
                            {**(f.metadata or {}), "default": e,
                             "default_pre_dirs": list(pre)},
                        )
                    fields.append(f)
                schema_json = T.StructType(fields).json()
        spec = (
            self.current_spec()
            if spec is None
            else self._validate_spec(spec, df.schema)
        )
        d = self._write_data(df, spec)
        return self._commit(
            op, [d], cur, schema_json, spec=spec, dir_specs=[spec],
            retry_on_race=True,
        )

    def overwrite_partitions(
        self,
        df: DataFrame,
        static: dict | None = None,
        max_retries: int = 3,
    ) -> tuple[int, dict]:
        """Dynamic partition overwrite (r13) — Iceberg's `INSERT
        OVERWRITE` semantics on a partitioned table: replace exactly the
        partitions PRESENT IN THE INCOMING DATA, carry every other
        partition untouched. The 100 TB backfill primitive: re-running
        one day's pipeline must cost that day's write, never a table
        rewrite.

        Scale shape: the incoming frame is written once (executor-
        parallel, hive layout under the current spec); for every
        existing data dir written under the SAME spec, surviving
        partitions are carried BY REFERENCE at hive-subdir granularity
        — zero data movement, the commit just lists subdir paths (reads
        are recursive and self-sufficient, so a subdir is as good a
        data dir as its parent). Replaced-partition identification
        compares the subdir NAMES the writer itself produced (both
        sides come from the same Spark partitionBy writer, so hive
        value escaping can never desynchronize). Dirs written under a
        DIFFERENT spec (pre-partition-evolution) and dirs with
        applicable merge-on-read deletes cannot be subdir-carried: they
        get one broadcast semi-join containment probe, ride whole by
        reference when they hold none of the replaced partitions, and
        otherwise rewrite their survivors (folding deletes in — the
        merge engine's force-rewrite rule). A conflicting commit
        rebuilds all of it, the incoming write included, against the
        fresh head.

        ``static`` ({col: Column literal}) is the `PARTITION (col=val)`
        static form: the named partition is replaced even when the
        incoming frame is EMPTY (Spark's static-overwrite contract —
        an empty source clears the partition).

        Returns (version, audit) with partitions_replaced /
        subdirs_carried / dirs_carried / dirs_rewritten."""
        import glob as _glob

        def build(cur: int, meta: dict, staged: list) -> tuple[int, dict]:
            spec = meta.get("spec", [])
            if not spec:
                raise ValueError(
                    f"table {self.name}: overwrite_partitions needs a "
                    "partitioned table (use overwrite() for full replace)"
                )
            aligned, schema_json = self._align_append_to_schema(df, meta["schema"])
            self._enforce_constraints(aligned, meta)
            new_dir = self._write_data(self._to_physical(aligned, schema_json), spec)
            staged.append(new_dir)
            pat = [f"_p_{transform_slug(c)}=*" for c in spec]
            replaced = {
                os.path.relpath(p, new_dir)
                for p in _glob.glob(os.path.join(new_dir, *pat))
            }
            new_has_files = bool(replaced)
            if static:
                # the static partition is replaced even with zero incoming
                # rows: derive its exact hive relpath from the same writer
                probe_dir = new_dir + ".static_probe"
                for c in spec:
                    if transform_source(c) not in static:
                        raise ValueError(
                            f"static PARTITION clause must pin every partition "
                            f"source column (missing {transform_source(c)!r})"
                        )
                row = self.spark.range(1).select(
                    *[v.alias(c) for c, v in static.items()]
                )
                # transform-aware: the probe derives the hive value through
                # the same writer expressions (PARTITION (ts='2024-03-01...')
                # on a days(ts) spec pins that day's dir)
                aug, shadows = with_transform_cols(row, spec, "_p_")
                aug.coalesce(1).write.mode("overwrite").partitionBy(
                    *shadows
                ).parquet(probe_dir)
                replaced |= {
                    os.path.relpath(p, probe_dir)
                    for p in _glob.glob(os.path.join(probe_dir, *pat))
                }
                shutil.rmtree(probe_dir, ignore_errors=True)
            if not new_has_files:
                # empty source: nothing of the new dir to reference
                shutil.rmtree(new_dir, ignore_errors=True)
            if not replaced:
                # dynamic overwrite with an empty source replaces nothing
                return cur, {
                    "partitions_replaced": 0, "subdirs_carried": 0,
                    "dirs_carried": 0, "dirs_rewritten": 0,
                }
            # replaced-partition VALUES in transform space: probes join on
            # the computed partition values (_pt_<slug>), so a days(ts)
            # spec compares days, not raw timestamps
            aug_vals, probe_cols = with_transform_cols(aligned, spec, "_pt_")
            vals_df = aug_vals.select(*probe_cols).distinct()
            if static:
                row_t, _ = with_transform_cols(row, spec, "_pt_")
                vals_df = vals_df.unionByName(row_t.select(*probe_cols)).distinct()
            deletes = meta.get("delete_dirs", [])
            dirs_out: list[str] = [new_dir] if new_has_files else []
            specs_out: list[list[str]] = [spec] if new_has_files else []
            subdirs_carried = dirs_carried = dirs_rewritten = 0
            for d, dspec in zip(meta["dirs"], self._dir_specs(meta)):
                has_del = any(
                    d in dd.get("applies_to", meta["dirs"]) for dd in deletes
                )
                if dspec == spec and not has_del:
                    for p in _glob.glob(os.path.join(d, *pat)):
                        rp = os.path.relpath(p, d)
                        if rp in replaced:
                            continue  # this partition is being replaced
                        dirs_out.append(p)
                        # the subdir's spec levels are fully consumed:
                        # rows inside hold constant partition values
                        specs_out.append([])
                        subdirs_carried += 1
                    continue
                part = self._read_dirs_mor(meta, [d])
                part_t, _ = with_transform_cols(part, spec, "_pt_")
                hit = (
                    part_t.join(F.broadcast(vals_df), probe_cols, "semi")
                    .limit(1)
                    .collect()
                )
                if not hit:
                    dirs_out.append(d)
                    specs_out.append(dspec)
                    dirs_carried += 1
                    continue
                survivors = part_t.join(
                    F.broadcast(vals_df), probe_cols, "left_anti"
                ).drop(*probe_cols)
                dirs_rewritten += 1
                if not survivors.limit(1).collect():
                    continue  # fully-replaced dir: just dropped
                sd = self._write_data(self._to_physical(survivors, schema_json), spec)
                staged.append(sd)
                dirs_out.append(sd)
                specs_out.append(spec)
            v = self._commit(
                "overwrite-partitions", dirs_out, cur, schema_json,
                spec=spec, dir_specs=specs_out, expect_parent=cur,
                delete_dirs=deletes, parent_meta=meta,
            )
            return v, {
                "partitions_replaced": len(replaced),
                "subdirs_carried": subdirs_carried,
                "dirs_carried": dirs_carried,
                "dirs_rewritten": dirs_rewritten,
            }

        return self._commit_loop(
            "OVERWRITE", build, max_retries, "overwrite_partitions"
        )

    def truncate(self) -> int:
        """`TRUNCATE TABLE`: ONE metadata commit with an empty file
        list — O(1) at any table size, no data touched. The old rows
        stay reachable through time travel until expire_snapshots
        reclaims them (Iceberg truncate semantics). Schema and
        partition spec survive, so subsequent INSERTs need no
        re-declaration."""
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"table {self.name}: cannot TRUNCATE before create")
        meta = self._read_meta(cur)
        return self._commit(
            "truncate", [], cur, meta["schema"],
            spec=meta.get("spec", []), dir_specs=[], retry_on_race=True,
            parent_meta=meta,
        )

    @staticmethod
    def _env_encode(v):
        """Type-preserving JSON encoding for envelope bounds: DATE /
        TIMESTAMP / DECIMAL merge keys surface as datetime/Decimal
        values that json.dump rejects — and a default=str fallback
        would reload STRING bounds that compare wrongly (or raise)
        against native source values. Tag them instead so decode
        restores the native type exactly."""
        import datetime
        import decimal

        if isinstance(v, datetime.datetime):
            return {"__t": "ts", "v": v.isoformat()}
        if isinstance(v, datetime.date):
            return {"__t": "date", "v": v.isoformat()}
        if isinstance(v, decimal.Decimal):
            return {"__t": "dec", "v": str(v)}
        return v

    @staticmethod
    def _env_decode(v):
        import datetime
        import decimal

        if isinstance(v, dict) and "__t" in v:
            t = v["__t"]
            if t == "ts":
                return datetime.datetime.fromisoformat(v["v"])
            if t == "date":
                return datetime.date.fromisoformat(v["v"])
            if t == "dec":
                return decimal.Decimal(v["v"])
        return v

    # kinds whose footer stats round-trip losslessly into envelope
    # bounds: ints and dates compare natively; strings rely on the
    # parquet contract that truncated min/max stay conservative (the
    # same contract plan_files' footer-stats step already leans on)
    _ENV_STAT_KINDS = ("int", "str", "date")

    # at most this many candidate dirs ride the source-stats aggregate
    # as inline membership flags (one conditional agg per dir); above
    # it, the broadcast bounds range-join path handles any dir count
    _ENV_FUSE_MAX = 64

    def _envelope_from_stats(self, d: str, pkey: str):
        """Envelope of one dir folded from its parquet-footer stats
        sidecar, or _ENV_UNPROVEN when the footers cannot prove it
        (missing/dropped stats, unsafe kind, mixed kinds, pre-allcols
        sidecar). Returns the same encoded shapes the scan path caches:
        ["empty"] (no non-NULL key in the dir) or [enc_lo, enc_hi]."""
        try:
            files = self._dir_file_stats(d)["files"]
            nk = 0
            lo = hi = None
            kind_seen = None
            for fe in files.values():
                allcols = fe.get("allcols")
                if allcols is None:
                    return _ENV_UNPROVEN  # pre-r15 sidecar: can't tell
                    # column-absent apart from stats-dropped
                rows = fe["rows"]
                if rows == 0 or pkey not in allcols:
                    continue  # rowless, or pre-ADD-COLUMN file: key NULL
                ce = fe["cols"].get(pkey)
                if ce is None or ce["kind"] not in self._ENV_STAT_KINDS:
                    return _ENV_UNPROVEN
                if kind_seen is None:
                    kind_seen = ce["kind"]
                elif kind_seen != ce["kind"]:
                    return _ENV_UNPROVEN  # mixed physical kinds in one dir
                nn = rows - ce["nulls"]
                if nn <= 0:
                    continue
                v_lo = self._stats_decode(ce["min"], ce["kind"])
                v_hi = self._stats_decode(ce["max"], ce["kind"])
                lo = v_lo if lo is None or v_lo < lo else lo
                hi = v_hi if hi is None or v_hi > hi else hi
                nk += nn
            if nk == 0:
                return ["empty"]
            return [self._env_encode(lo), self._env_encode(hi)]
        except Exception:
            return _ENV_UNPROVEN  # any doubt: the scan path decides

    def _ensure_key_envelopes(self, dirs: list[str], key: str) -> dict:
        """(min, max) of `key` for EVERY dir in `dirs` — the per-file
        column bounds an Iceberg manifest stores. Data dirs are
        immutable, so envelopes are computed once and cached in a
        metadata sidecar (bounds round-trip through a type-tagged codec
        so date/decimal keys reload as native comparable values). All
        missing dirs are computed in ONE scan with the owning dir
        recovered from input_file_name() — neither a per-dir job loop
        (10k scheduler round-trips on a 10k-file table) nor a |dirs|-way
        unionByName (a plan with one scan branch per dir that stops
        compiling at that size); the driver receives one (dir, lo, hi)
        row per dir. Per dir the value is ("empty",) when the dir has no
        non-NULL key — rowless, all keys NULL, or written before the key
        column existed (additive evolution): NULL keys equal no source
        key, so such dirs can always be carried by reference. None (the
        conservative must-rewrite marker) remains only for the case
        where the key column exists in NO missing dir at all."""
        # Scans over raw files must use the PHYSICAL column name (stable
        # across metadata-only renames); the cache file is keyed by it
        # too, so a rename neither orphans nor duplicates envelopes.
        cur = self.current_version()
        pkey = (
            self._physical_map(self._read_meta(cur)["schema"]).get(key, key)
            if cur is not None
            else key
        )
        cache_path = os.path.join(self.meta_dir, f"envelopes_{pkey}.json")
        cache: dict = {}
        if os.path.exists(cache_path):
            with open(cache_path) as f:
                cache = json.load(f)
        missing = [d for d in dirs if d not in cache]
        # Footer fast path (r15): the per-file stats sidecar already
        # holds min/max/null_count for the key column, so a missing
        # dir's envelope is a driver-side fold over footers — no Spark
        # scan. This is exactly where Iceberg gets its manifest bounds
        # (write-time file stats), and at 100 TB it is the difference
        # between reading metadata and scanning the table. Restricted to
        # provably-safe kinds: int/str/date. Floats fall back (parquet
        # writers may exclude NaN from min/max, and the merge's NaN
        # correctness rests on envelopes surfacing NaN bounds); ts falls
        # back (footer stats are naive-UTC while the scan path collects
        # in the driver zone — mixing the two would shift bounds).
        if missing:
            still_missing = []
            for d in missing:
                env = self._envelope_from_stats(d, pkey)
                if env is _ENV_UNPROVEN:
                    still_missing.append(d)
                else:
                    cache[d] = env
            if len(still_missing) < len(missing):
                tmp = cache_path + f".{os.getpid()}.tmp"
                with open(tmp, "w") as f:
                    json.dump(cache, f)
                os.rename(tmp, cache_path)
            missing = still_missing
        if missing:
            base_of = {os.path.basename(d): d for d in missing}
            # input_file_name() is a Hadoop URI — percent-encoded (a
            # space in the table root arrives as %20), so matching the
            # raw path against re.escape(data_dir) would silently
            # extract '' (and DEcoding is no better: url_decode turns a
            # legal '+' in the root into a space and throws on a
            # literal '%'). Match STRUCTURE instead of the root: the
            # greedy prefix pins the RIGHTMOST '/data/<seg>/' — every
            # segment right of the true data dir is an engine-generated
            # s<NNNNN>-<hex> dir, a '_p_<col>=…' partition dir, or the
            # filename, none of which is ever the literal segment
            # 'data' (slashes inside partition VALUES stay %2F in raw
            # space), and those generated names are URL-safe, so the
            # raw segment equals the basename. Root-anchored-not-parent
            # because partitioned dirs nest _p_ subdirs under the dir.
            dir_pat = "^.*/data/([^/]+)/"
            df = self._read_dirs(missing, merge_schema=True)
            if pkey not in df.columns:
                for d in missing:
                    cache[d] = None
            else:
                got = {}
                for r in (
                    df.select(
                        F.regexp_extract(
                            F.input_file_name(), dir_pat, 1
                        ).alias("_dir"),
                        F.col(pkey).alias("_k"),
                    )
                    .groupBy("_dir")
                    .agg(
                        F.count("_k").alias("nk"),
                        F.min("_k").alias("lo"),
                        F.max("_k").alias("hi"),
                    )
                    .collect()
                ):
                    owner = base_of.get(r["_dir"])
                    if owner is None:  # fail loud, not KeyError-deep-in-merge
                        raise RuntimeError(
                            f"table {self.name}: envelope scan could not "
                            f"attribute file tag {r['_dir']!r} to a data dir "
                            f"under {self.data_dir!r}"
                        )
                    got[owner] = (r["nk"], r["lo"], r["hi"])
                for d in missing:
                    nk, lo, hi = got.get(d, (0, None, None))
                    if nk == 0:
                        cache[d] = ["empty"]  # no non-NULL key in the dir
                    else:
                        cache[d] = [self._env_encode(lo), self._env_encode(hi)]
            tmp = cache_path + f".{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump(cache, f)
            os.rename(tmp, cache_path)  # best-effort cache; dirs are immutable
        return {
            d: (
                tuple(self._env_decode(x) for x in cache[d])
                if cache[d] is not None
                else None
            )
            for d in dirs
        }

    def merge(
        self,
        source: DataFrame,
        key: str,
        max_retries: int = 3,
        clauses: dict | None = None,
    ) -> tuple[int, dict]:
        """File-pruned copy-on-write MERGE (Iceberg MERGE INTO semantics
        for the update+insert case): matched target rows are replaced by
        the source row, unmatched source rows are inserted.

        Scale posture — overwrite-by-filter, not whole-table COW, with
        EXACT per-dir pruning: each data dir's cached key bounds
        (Iceberg manifest min/max) form a tiny bounds table; the source
        keys range-join against its broadcast, so a dir is rewritten
        only if SOME source key falls inside its bounds. A single
        [min, max] envelope of the source would fatten to the whole
        table the moment the source holds keys near both extremes — the
        membership join keeps a scattered 0.1%-of-keys MERGE at 100 TB
        rewriting only the files that can actually contain those keys.
        Every other dir is carried into the new snapshot BY REFERENCE,
        byte-identical. Bounds false positives cost an extra rewrite,
        never a wrong answer. Dirs with applicable merge-on-read deletes
        are force-rewritten (deletes fold in), so carried-forward delete
        files never apply to a rewritten dir.

        Duplicate non-NULL source keys are REJECTED (ValueError): two
        source rows with the same key would leave duplicate keys in the
        table after the anti-join — real Iceberg/Spark ``MERGE INTO``
        raises on multiple source matches per target row, and we extend
        that to the insert case for a clean primary-key guarantee.
        NULL-key source rows match no target row and insert freely
        (duplicates among them are legal).

        Commits are optimistic-concurrency checked (Iceberg commit
        loop): the merge declares the parent snapshot it read; if a
        concurrent writer advanced the table between read and publish,
        the stale merge is rebuilt against the fresh head (up to
        ``max_retries`` times) instead of silently dropping the other
        writer's files.

        Returns (version, audit) where audit = {"dirs_rewritten": n,
        "dirs_reused": m}.

        ``clauses`` (r11, the SQL ``MERGE INTO`` front-end in
        `tables/dml.py`) generalizes the matched/not-matched actions
        while keeping THIS default path (clauses=None: update-* +
        insert-*) byte-identical. Shape::

            {"matched": None | spec | [spec, ...],     # ordered list
             "not_matched": None | spec | [spec, ...],
             "target_alias": str, "source_alias": str}

        where a matched spec is ``{"action": "update", "set": "*" |
        {col: Column}, "cond": None | Column}`` or ``{"action":
        "delete", "cond": None | Column}``, and a not-matched spec is
        ``{"action": "insert", "cols": None | [col, ...], "vals": None |
        [Column, ...], "cond": None | Column}`` (cols None => INSERT *).
        An optional ``"not_matched_by_source"`` list (Delta/SQL:2023) holds
        update/delete specs applied to UNMATCHED TARGET rows — SET * is
        illegal there (no source row), assignments/conds may reference
        only the target alias, the empty-source no-op short-circuit is
        disabled (an empty source claims every row — truncate-to-source
        sync), and dirs are discovered by one tagged anti-join scan so
        only dirs actually containing an affected row rewrite.

        Multiple clauses per side evaluate FIRST-MATCH-WINS in list
        order (SQL MERGE): each row is claimed by the first clause
        whose ``cond`` is TRUE; rows claimed by none pass through
        unchanged (matched) or are not inserted (not-matched). Only the
        LAST clause of a side may omit ``cond``. This is the shape the
        canonical CDC apply statement needs (WHEN MATCHED AND op='D'
        THEN DELETE / WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED
        AND op<>'D' THEN INSERT *).

        Conditions and assignment/VALUES expressions are Columns
        (``F.expr(...)``, or the parsed expressions the SQL front-end
        hands over); in assignments they may reference both
        ``target_alias.col`` and ``source_alias.col`` (unqualified
        shared names raise Spark's ambiguity error — qualify them).
        Sources for the *-forms must CONTAIN every table column (Delta
        SET * semantics — extras like a CDC op column are legal and
        simply not assigned; the expansions project to the table
        columns and type-conform per piece); assignment/column-list
        forms accept ANY source schema containing the key column —
        standard MERGE lets the source carry deltas, not full rows.
        Scale posture nuance:
        an insert-only merge (no matched clause) never rewrites a dir for
        containing a matched key — matched rows are unchanged, so
        bounds-hit dirs are only READ for the not-matched anti-join and
        carried by reference (a uniformly-spread insert-only MERGE at
        100 TB must cost one new file, not a table rewrite); dirs with
        applicable MOR deletes still rewrite (deletes must fold in
        because this commit drops delete files)."""
        if clauses is not None:
            # normalize each side to an ORDERED clause list (a single
            # dict stays supported for direct API callers); SQL MERGE
            # first-match-wins requires the unconditional clause, if
            # any, to be LAST — later clauses would be unreachable
            def _as_list(spec):
                if spec is None:
                    return []
                return [spec] if isinstance(spec, dict) else list(spec)

            clauses = dict(clauses)
            clauses["matched"] = _as_list(clauses.get("matched"))
            clauses["not_matched"] = _as_list(clauses.get("not_matched"))
            clauses["not_matched_by_source"] = _as_list(
                clauses.get("not_matched_by_source")
            )
            if (
                not clauses["matched"]
                and not clauses["not_matched"]
                and not clauses["not_matched_by_source"]
            ):
                raise ValueError(
                    f"table {self.name}: MERGE requires at least one "
                    "WHEN MATCHED / WHEN NOT MATCHED clause"
                )
            for lst, what in (
                (clauses["matched"], "MATCHED"),
                (clauses["not_matched"], "NOT MATCHED"),
                (clauses["not_matched_by_source"], "NOT MATCHED BY SOURCE"),
            ):
                for i, spec in enumerate(lst):
                    if spec.get("cond") is None and i < len(lst) - 1:
                        raise ValueError(
                            f"table {self.name}: only the LAST WHEN {what} "
                            "clause may omit AND <cond> (first-match-wins "
                            "makes later clauses unreachable)"
                        )
        # merge makes three passes over the source (bounds aggregate,
        # membership join, final write) — cache it so an expensive source
        # pipeline computes once
        source = source.persist()

        def build(cur: int, meta: dict, staged: list) -> tuple[int, dict]:
            # canonicalize the key to the TABLE schema's spelling: Spark
            # resolves column references case-insensitively, but
            # Python-side schema[...] lookups and the envelope cache key
            # by exact string
            tbl_by_lower = {
                f.name.lower(): f.name
                for f in T.StructType.fromJson(json.loads(meta["schema"])).fields
            }
            key_c = tbl_by_lower.get(key.lower())
            if key_c is None:
                raise ValueError(
                    f"table {self.name}: MERGE key {key!r} is not a "
                    "table column"
                )
            if clauses is None:
                aligned = self._align_source_to_schema(source, meta["schema"])
            else:
                # Clause merges never pre-align: the source may carry
                # EXTRA columns the conditions/assignments reference (a
                # CDC feed's `op` column) — SET * / INSERT * expansions
                # project to the table columns and type-conform per piece
                # inside _apply_merge_clauses (Delta's SET * semantics:
                # source must CONTAIN every table column, extras are
                # simply not assigned). Case-INSENSITIVE membership
                # (Spark's own resolution is case-insensitive by default,
                # so `ON t.C_K = s.C_K` against a lowercase column is a
                # valid statement; only Python-side checks were
                # case-sensitive).
                src_lower = {c.lower() for c in source.columns}
                if key_c.lower() not in src_lower:
                    raise ValueError(
                        f"table {self.name}: MERGE source lacks the key "
                        f"column {key_c!r}"
                    )
                star_used = any(
                    s["action"] == "update" and s["set"] == "*"
                    for s in clauses["matched"]
                ) or any(s.get("cols") is None for s in clauses["not_matched"])
                if star_used:
                    missing = [
                        c for c in tbl_by_lower.values() if c.lower() not in src_lower
                    ]
                    if missing:
                        raise ValueError(
                            f"table {self.name}: MERGE SET */INSERT * "
                            f"requires the source to contain every table "
                            f"column; missing {missing}"
                        )
                aligned = source
            return self._merge_impl(
                aligned, key_c, cur, meta, meta.get("delete_dirs", []),
                meta.get("spec", []), clauses, staged,
            )

        try:
            return self._commit_loop("MERGE", build, max_retries, "merge")
        finally:
            source.unpersist()

    # Iceberg type promotion: the only SOURCE→TABLE assignments a MERGE
    # may coerce silently (safe widenings). Everything else — including
    # narrowing bigint→int — is rejected: before this guard a
    # type-mismatched source wrote files whose parquet types disagreed
    # with the table schema, and a reader mixing such files with carried
    # dirs failed with PARQUET_COLUMN_DATA_TYPE_MISMATCH.
    _SAFE_WIDENINGS = {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"),
        ("int", "bigint"), ("float", "double"),
    }

    @classmethod
    def _safe_widening(cls, stype: str, ttype: str) -> bool:
        """A listed widening, or decimal(p1,s1) into a decimal(p2,s2) that
        keeps the scale and the integral digits (1.50 is decimal(3,2))."""
        src, tgt = _DECIMAL.fullmatch(stype), _DECIMAL.fullmatch(ttype)
        if src and tgt:
            (p1, s1), (p2, s2) = map(int, src.groups()), map(int, tgt.groups())
            return s2 >= s1 and p2 - s2 >= p1 - s1
        return (stype, ttype) in cls._SAFE_WIDENINGS

    def _align_append_to_schema(
        self, df: DataFrame, schema_json: str
    ) -> tuple[DataFrame, str]:
        """Conform an APPEND's dataframe to the table schema and compute
        the evolved schema to commit. Additive evolution stays legal
        (new columns append to the schema; columns the df omits stay in
        the schema and read back as NULL for the new files), but a
        SHARED column must keep the table's type — identical passes,
        safe widenings cast down to the table type, anything else
        raises. Before this guard, appending a bigint column onto an
        int table wrote INT64 files next to INT32 ones and every
        subsequent read failed with PARQUET_COLUMN_DATA_TYPE_MISMATCH
        (reads infer from the files, so mixed physical types are
        unreadable, not just mislabeled)."""
        from pyspark.sql.types import StructType

        target = StructType.fromJson(json.loads(schema_json))
        tgt = {f.name: f.dataType.simpleString() for f in target.fields}
        src = dict(df.dtypes)
        cols, changed = [], False
        for name in df.columns:
            stype, ttype = src[name], tgt.get(name)
            if ttype is None or stype == ttype:
                cols.append(F.col(name))
            elif self._safe_widening(stype, ttype):
                cols.append(F.col(name).cast(ttype).alias(name))
                changed = True
            else:
                raise ValueError(
                    f"table {self.name}: append column {name!r} has type "
                    f"{stype}, not assignable to table type {ttype} "
                    "(only Iceberg-style safe widenings are coerced; "
                    "type promotion needs an explicit rewrite)"
                )
        out = df.select(*cols) if changed else df
        # Write-default (r13, Iceberg v3 ADD COLUMN ... DEFAULT): a
        # frame OMITTING a defaulted column gets the default filled at
        # write — an explicit NULL in a present column is respected.
        fills = [
            F.expr(e).cast(t).alias(c)
            for c, (e, t, _pre) in self._schema_defaults(schema_json).items()
            if c not in src
        ]
        if fills:
            out = out.select("*", *fills)
        new_fields = [f for f in out.schema.fields if f.name not in tgt]
        # Additive evolution must not resurrect a renamed column's
        # PHYSICAL name: the committed schema would then hold two fields
        # sharing one file column, and every later explicit-schema read
        # lists that parquet field twice (same hazard add_column guards).
        reserved = set(self._physical_map(schema_json).values()) - set(tgt)
        bad = sorted(f.name for f in new_fields if f.name in reserved)
        if bad:
            raise ValueError(
                f"table {self.name}: append column(s) {bad} collide with "
                "the physical name of a renamed column — data files carry "
                "those bytes; use different names"
            )
        evolved = StructType(list(target.fields) + new_fields)
        return out, evolved.json()

    def _align_source_to_schema(self, source: DataFrame, schema_json: str) -> DataFrame:
        """Conform a MERGE source to the table schema (table wins, like
        Iceberg ``MERGE INTO``): same column set required, safe
        widenings cast, anything else raises. Also normalizes column
        ORDER to the table's, so downstream unions are positional-safe."""
        from pyspark.sql.types import StructType

        target = StructType.fromJson(json.loads(schema_json))
        tgt = {f.name: f.dataType.simpleString() for f in target.fields}
        src = dict(source.dtypes)
        missing = [c for c in tgt if c not in src]
        extra = [c for c in src if c not in tgt]
        if missing or extra:
            raise ValueError(
                f"table {self.name}: MERGE source columns must match the "
                f"table schema (missing={missing}, unexpected={extra})"
            )
        cols = []
        for name, ttype in tgt.items():
            stype = src[name]
            if stype == ttype:
                cols.append(F.col(name))
            elif self._safe_widening(stype, ttype):
                cols.append(F.col(name).cast(ttype).alias(name))
            else:
                raise ValueError(
                    f"table {self.name}: MERGE source column {name!r} has "
                    f"type {stype}, not assignable to table type {ttype} "
                    "(only Iceberg-style safe widenings are coerced)"
                )
        return source.select(*cols)

    # Clause-expression assignability: the engine's safe widenings plus
    # the ANSI store-assignment numeric upcasts SQL users expect for
    # literals and arithmetic (1 into a double column), plus untyped
    # NULL. Anything else raises, mirroring _align_source_to_schema —
    # an unconditional cast here silently wrote NULL/overflow values
    # where the aligned *-forms raise (r11 review).
    _INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")

    def _conform_clause_types(
        self, df: DataFrame, ttypes: dict, what: str
    ) -> DataFrame:
        """Conform an analyzed clause projection to the table types:
        identical passes, safe/ANSI-upcast coercions cast, anything
        else raises. Plan-only (schema analysis, no job)."""
        cols, changed = [], False
        for name, stype in df.dtypes:
            ttype = ttypes[name].simpleString()
            ok_cast = (
                self._safe_widening(stype, ttype)
                or (stype in self._INTEGRAL_TYPES and ttype in ("float", "double"))
                or stype == "void"  # untyped NULL literal
            )
            if stype == ttype:
                cols.append(F.col(name))
            elif ok_cast:
                cols.append(F.col(name).cast(ttype).alias(name))
                changed = True
            else:
                raise ValueError(
                    f"table {self.name}: {what} expression for column "
                    f"{name!r} has type {stype}, not assignable to table "
                    f"type {ttype} (only safe widenings and ANSI numeric "
                    "upcasts are coerced; cast explicitly to force)"
                )
        return df.select(*cols) if changed else df

    def _merge_impl(
        self,
        source: DataFrame,
        key: str,
        cur: int,
        meta: dict,
        deletes: list,
        spec: list,
        clauses: dict | None = None,
        staged: list | None = None,
    ) -> tuple[int, dict]:
        # Envelope + dup-key guard in ONE pass: a per-key partial
        # aggregate (map-side combine, one key shuffle, no Expand — the
        # two-phase plan countDistinct would need) yields row count,
        # key bounds, and the max per-key multiplicity together. The
        # NULL-key group is excluded from the dup test: NULL keys match
        # no target row, so duplicates among them are legal inserts.
        per_key = source.groupBy(F.col(key).alias("_k")).agg(
            F.count(F.lit(1)).alias("_c")
        )
        base_aggs = [
            F.sum("_c").alias("n"),
            F.min("_k").alias("lo"),
            F.max("_k").alias("hi"),
            F.max(F.when(F.col("_k").isNotNull(), F.col("_c"))).alias("max_mult"),
        ]

        def _isnan(x) -> bool:
            return isinstance(x, float) and x != x

        # Dir envelopes first (driver-side footer fold, cached; Spark
        # scan only as fallback) so the source-stats job below can carry
        # the per-dir membership test INLINE: one source pass computes
        # the envelope/dup stats AND which dirs contain a source key,
        # where the old shape needed a second full pass for the
        # membership join. Above _ENV_FUSE_MAX candidate dirs the
        # conditional-aggregate row would get silly-wide, so the
        # broadcast range-join pass (which scales to any dir count)
        # takes over — the 100 TB posture is unchanged.
        envs = self._ensure_key_envelopes(meta["dirs"], key)
        must_touch: set[str] = set()  # unknown/NaN bounds / MOR deletes
        usable: list[tuple[str, object, object]] = []  # (dir, lo_d, hi_d)

        # Bound-vs-source-key KIND gate (r15 ADVICE): the fused
        # membership embeds bounds as F.lit(bound).cast(kt) where kt is
        # the SOURCE key type — under non-ANSI SQL an uncastable bound
        # (e.g. a string envelope vs a numeric source key) silently
        # becomes NULL, the dir is never 'hit', and matched target rows
        # would be carried stale while source rows insert as duplicates.
        # Worse, envelopes of a MISMATCHED kind are ordered by the
        # table type's comparator ("10" < "9" lexicographically), so
        # even castable values bound the wrong range. Any dir whose
        # bounds are not the same KIND as the source key routes to
        # must_touch (a conservative rewrite — never a wrong answer);
        # same-typed merges (the only shape the engine's own stories
        # produce) are unaffected.
        kt = next(
            f.dataType
            for f in source.schema.fields
            if f.name.lower() == key.lower()
        )

        def _kind_ok(v) -> bool:
            import datetime as _dt
            from decimal import Decimal as _Dec

            if v is None:
                return True  # no bound — the membership test is a no-op
            if isinstance(kt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
                return isinstance(v, int) and not isinstance(v, bool)
            if isinstance(kt, (T.DoubleType, T.FloatType)):
                return isinstance(v, (int, float)) and not isinstance(v, bool)
            if isinstance(kt, T.DecimalType):
                return isinstance(v, (int, _Dec)) and not isinstance(v, bool)
            if isinstance(kt, T.StringType):
                return isinstance(v, str)
            if isinstance(kt, T.DateType):
                return isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
            if isinstance(kt, (T.TimestampType, T.TimestampNTZType)):
                return isinstance(v, _dt.datetime)
            return False  # unknown key kind: conservative rewrite

        for d in meta["dirs"]:
            has_deletes = any(
                d in dd.get("applies_to", meta["dirs"]) for dd in deletes
            )
            env = envs[d]
            if has_deletes or env is None:
                must_touch.add(d)  # deletes fold in / conservative rewrite
            elif env == ("empty",):
                # no non-NULL key in the dir (rowless / all-NULL keys /
                # written before the key column existed): matches nothing
                pass
            elif _isnan(env[0]) or _isnan(env[1]):
                must_touch.add(d)  # NaN dir bounds break the membership join
            elif not (_kind_ok(env[0]) and _kind_ok(env[1])):
                must_touch.add(d)  # bound kind mismatches the source key
            else:
                usable.append((d, env[0], env[1]))

        hit: set[str] = set()
        fused = len(usable) <= self._ENV_FUSE_MAX
        nmbs_list = (
            clauses["not_matched_by_source"] if clauses is not None else []
        )

        # WHEN NOT MATCHED BY SOURCE dir discovery (built here so the
        # fused path below can ride it in the SAME collect as the
        # source stats — one driver action instead of two, r16):
        # intrinsically O(one table scan) — ANY target row may be
        # unmatched — but the REWRITE stays pruned Delta-style: one
        # tagged scan finds the dirs that actually CONTAIN an affected
        # row (no source-key match AND some clause's condition holds;
        # for dir discovery the OR of the conditions suffices — first-
        # match-wins only decides WHICH clause claims a row, not
        # whether the row changes its dir's fate). The file tag is
        # captured in the scan projection, before the anti-join
        # shuffle can erase input_file_name(). MOR deletes are NOT
        # applied here: counting a deleted row as affected costs at
        # most a false-positive rewrite (which folds the delete in
        # anyway), never a wrong answer.
        disc_df = None
        base_of: dict = {}
        if nmbs_list:
            t_a_ = (clauses.get("target_alias") or self.name) if clauses else self.name
            claimed = F.lit(False)
            for spec_c in nmbs_list:
                c = spec_c.get("cond")
                ct = (
                    F.lit(True)
                    if c is None
                    else F.coalesce(c.cast("boolean"), F.lit(False))
                )
                claimed = claimed | ct
            base_of = {os.path.basename(d): d for d in meta["dirs"]}
            dir_pat = "^.*/data/([^/]+)/"  # rationale: _ensure_key_envelopes
            tagged = (
                self._read_dirs(meta["dirs"], schema_json=meta["schema"])
                .withColumn("_file", F.input_file_name())
                .alias(t_a_)
            )
            disc_df = (
                tagged.join(source.select(key), on=key, how="left_anti")
                .filter(claimed)
                .select(F.regexp_extract(F.col("_file"), dir_pat, 1).alias("_dir"))
                .distinct()
            )

        def _claim_dirs(rows) -> None:
            for r in rows:
                owner = base_of.get(r["_dir"])
                if owner is None:
                    raise RuntimeError(
                        f"table {self.name}: BY SOURCE scan could not "
                        f"attribute file tag {r['_dir']!r} to a data dir"
                    )
                must_touch.add(owner)

        if fused and usable:
            # kt (the SOURCE key type, case-insensitive lookup above):
            # every usable bound passed the kind gate, so the casts
            # below cannot silently NULL out
            aggs = list(base_aggs)
            for i, (_d, lo_d, hi_d) in enumerate(usable):
                aggs.append(
                    F.max(
                        F.when(
                            (F.col("_k") >= F.lit(lo_d).cast(kt))
                            & (F.col("_k") <= F.lit(hi_d).cast(kt)),
                            1,
                        )
                    ).alias(f"_h{i}")
                )
            stats_df = per_key.agg(*aggs)
            if disc_df is not None:
                # One action for stats + BY-SOURCE discovery: tag the
                # stats row with a NULL _dir (regexp_extract never
                # yields NULL, so the sides are separable), drop the
                # key-typed lo/hi bounds (unused on the fused path —
                # the union must not coerce them), and let unionByName
                # null-fill the missing columns per side.
                rows = (
                    stats_df.drop("lo", "hi")
                    .withColumn("_dir", F.lit(None).cast("string"))
                    .unionByName(disc_df, allowMissingColumns=True)
                    .collect()
                )
                env_row = next(r for r in rows if r["_dir"] is None)
                _claim_dirs([r for r in rows if r["_dir"] is not None])
                disc_df = None  # consumed — skip the standalone collect
            else:
                env_row = stats_df.first()
            hit = {
                usable[i][0]
                for i in range(len(usable))
                if env_row[f"_h{i}"] == 1
            }
        else:
            env_row = per_key.agg(*base_aggs).first()
        n_src = env_row["n"]
        lo = env_row["lo"] if "lo" in env_row else None
        hi = env_row["hi"] if "hi" in env_row else None
        n_src = int(n_src) if n_src is not None else 0
        if env_row["max_mult"] is not None and env_row["max_mult"] > 1:
            raise ValueError(
                f"table {self.name}: MERGE source contains duplicate values "
                f"of key '{key}' (a key occurs {env_row['max_mult']} times) — "
                "Iceberg MERGE INTO semantics forbid multiple source rows "
                "per key; de-duplicate the source first"
            )
        if n_src == 0 and not nmbs_list:
            # Empty source: MERGE is a true no-op. Committing anyway would
            # be worse than useless — the commit below does not carry
            # delete_dirs, so a snapshot published here would drop the MOR
            # equality-delete files while carrying every data dir by
            # reference, silently resurrecting deleted rows on every
            # subsequent read. Leave the table at its current version.
            # NOT skipped when a BY SOURCE clause exists: against an
            # empty source EVERY target row is unmatched, so the clause
            # legitimately touches the whole table (e.g. the classic
            # full-sync `WHEN NOT MATCHED BY SOURCE THEN DELETE`).
            return cur, {
                "dirs_rewritten": 0,
                "dirs_reused": len(meta["dirs"]),
            }

        # NaN notes (still load-bearing for the non-fused path and for
        # must_touch): the coarse test below runs in PYTHON, where IEEE
        # NaN comparisons are all false, so a NaN source bound would
        # silently rule out every dir — we null it out instead (coarse
        # filter disabled, exact pass decides). The membership join/agg
        # runs in SPARK SQL, whose semantics differ from IEEE: NaN sorts
        # GREATER than every value and NaN = NaN is TRUE. Under that
        # ordering a NaN source key satisfies `NaN >= _lo` but never
        # `NaN <= _hi` for non-NaN _hi, so it can only hit a dir whose
        # _hi is itself NaN — and exactly those dirs are force-rewritten
        # (must_touch) above, which is what makes NaN-key matches
        # correct. Do NOT "simplify" the must_touch path away: without
        # it, NaN target keys would be unreachable by the join.
        if not fused:
            # Coarse pass (free, metadata-only): the source envelope
            # rules out dirs wholly outside [lo, hi]; survivors get the
            # exact test — one distributed range-join of the source keys
            # against the broadcast bounds of the candidate dirs (one
            # row per dir), collected as a ≤|dirs|-row set of the dirs
            # that actually contain a source key. NULL source bounds
            # (all keys NULL) match no target row.
            lo_c = None if lo is None or _isnan(lo) else lo
            hi_c = None if hi is None or _isnan(hi) else hi
            candidates = [
                (d, lo_d, hi_d)
                for d, lo_d, hi_d in usable
                if lo is not None
                and (hi_c is None or lo_d <= hi_c)
                and (lo_c is None or hi_d >= lo_c)
            ]
            if candidates:
                bounds = self.spark.createDataFrame(
                    candidates,
                    T.StructType(
                        [
                            T.StructField("_dir", T.StringType()),
                            T.StructField("_lo", kt),
                            T.StructField("_hi", kt),
                        ]
                    ),
                )
                hit = {
                    r["_dir"]
                    for r in source.select(F.col(key).alias("_k"))
                    .join(
                        F.broadcast(bounds),
                        (F.col("_k") >= F.col("_lo"))
                        & (F.col("_k") <= F.col("_hi")),
                    )
                    .select("_dir")
                    .distinct()
                    .collect()
                }

        if disc_df is not None:
            # BY-SOURCE discovery on the non-fused path (built above):
            # the stats row carried typed lo/hi bounds here, so the two
            # collects stay separate rather than coercing bounds
            # through a union.
            _claim_dirs(disc_df.collect())

        # Rewrite set vs read set: with NO matched clause (insert-only
        # MERGE) matched rows are unchanged, so bounds-hit dirs are only
        # READ for the not-matched anti-join and carry by reference —
        # never rewritten for containing a matched key. must_touch still
        # rewrites (this commit drops MOR delete files; they must fold).
        insert_only = clauses is not None and not clauses["matched"]
        rewrite = set(must_touch) | (set() if insert_only else hit)
        read_set = set(must_touch) | hit
        touched: list[str] = []
        untouched: list[str] = []
        untouched_specs: list[list[str]] = []
        for d, ds in zip(meta["dirs"], self._dir_specs(meta)):
            if d in rewrite:
                touched.append(d)
            else:
                untouched.append(d)
                untouched_specs.append(ds)

        if clauses is None:
            if touched:
                target = self._read_dirs_mor(meta, touched)
                kept = target.join(source.select(key), on=key, how="left_anti")
                merged = kept.unionByName(source)
            else:
                merged = source
        else:
            read_dirs = [d for d in meta["dirs"] if d in read_set]
            merged = self._apply_merge_clauses(
                source, key, meta, touched, read_dirs, clauses
            )
            if merged is None:
                # no dir needs rewriting and there is no insert clause:
                # a true no-op (mirrors the empty-source posture above)
                return cur, {
                    "dirs_rewritten": 0,
                    "dirs_reused": len(meta["dirs"]),
                }
        # Pure-insert writes (nothing rewritten) can turn out EMPTY —
        # every source key already matched — which must be a no-op, not
        # a committed snapshot carrying a zero-row dir. An Observation
        # on the write detects it for free (no extra counting job);
        # rewriting branches never take this path (their output
        # legitimately may be empty, e.g. a DELETE of a whole file).
        self._enforce_constraints(merged, meta)
        obs = None
        if clauses is not None and not touched:
            from pyspark.sql import Observation

            obs = Observation(f"merge_ins_{uuid.uuid4().hex[:8]}")
            merged = merged.observe(obs, F.count(F.lit(1)).alias("n"))
        d_new = self._write_data(self._to_physical(merged, meta["schema"]), spec)
        if staged is not None:
            staged.append(d_new)
        if obs is not None and obs.get["n"] == 0:
            shutil.rmtree(d_new, ignore_errors=True)
            return cur, {
                "dirs_rewritten": 0,
                "dirs_reused": len(meta["dirs"]),
            }
        # Every delete-applicable dir was force-touched, so no surviving
        # delete file applies to any dir in the new snapshot.
        # Snapshot schema: when dirs are carried by reference the snapshot
        # must describe THEIR schema (the table's), not the source's —
        # a narrower source would otherwise mislabel the carried files.
        # Clause merges always keep the table schema (every piece is
        # projected to it; MERGE never evolves the schema).
        schema_json = (
            meta["schema"]
            if untouched or clauses is not None
            else merged.schema.json()
        )
        version = self._commit(
            "merge",
            untouched + [d_new],
            cur,
            schema_json,
            spec=spec,
            dir_specs=untouched_specs + [spec],
            expect_parent=cur,
            parent_meta=meta,
        )
        return version, {
            "dirs_rewritten": len(touched),
            "dirs_reused": len(untouched),
        }

    def _apply_merge_clauses(
        self,
        source: DataFrame,
        key: str,
        meta: dict,
        touched: list,
        read_dirs: list,
        clauses: dict,
    ) -> DataFrame | None:
        """Rewritten-rows frame for a clause-form MERGE (see `merge` for
        the clause shape). Returns None when nothing needs writing (no
        rewritten dir and no insert clause). Every piece projects to the
        table schema in table column order so the union — and the
        snapshot that mixes the new dir with carried dirs — agrees.

        Join semantics follow SQL MERGE: key equality only, so NULL-key
        source rows match no target row (they insert, if an insert
        clause exists) and NULL-key target rows are never matched.
        The bounds-pruning proof from `_merge_impl` carries over: any
        target row whose key equals a source key lives in a read_dirs
        dir, so the anti-/semi-/inner-joins below never need the
        carried dirs."""
        m_list = clauses["matched"]  # normalized to lists by merge()
        nm_list = clauses["not_matched"]
        nmbs_list = clauses.get("not_matched_by_source") or []
        t_a = clauses.get("target_alias") or self.name
        s_a = clauses.get("source_alias") or "src"
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        ttypes = {f.name: f.dataType for f in schema.fields}
        tcols = [f.name for f in schema.fields]

        # Statement validation runs UNCONDITIONALLY — before r11's
        # review pass the unknown-column check sat inside the
        # bounds-hit branch, so the same typo'd statement raised or
        # silently succeeded depending on which dirs the source keys
        # happened to envelope (data-dependent validation).
        for spec in m_list:
            if spec["action"] == "update" and spec["set"] != "*":
                unknown = sorted(set(spec["set"]) - set(tcols))
                if unknown:
                    raise ValueError(
                        f"table {self.name}: MERGE UPDATE assigns unknown "
                        f"column(s) {unknown}"
                    )
        for spec in nm_list:
            if spec.get("cols") is not None:
                unknown = sorted(set(spec["cols"]) - set(tcols))
                if unknown:
                    raise ValueError(
                        f"table {self.name}: MERGE INSERT targets unknown "
                        f"column(s) {unknown}"
                    )
        for spec in nmbs_list:
            if spec["action"] == "update":
                unknown = sorted(set(spec["set"]) - set(tcols))
                if unknown:
                    raise ValueError(
                        f"table {self.name}: MERGE UPDATE (BY SOURCE) assigns "
                        f"unknown column(s) {unknown}"
                    )

        def cond_true(spec):
            # SQL MERGE qualifier semantics: a clause claims a row only
            # where its condition is TRUE (NULL = no)
            c = spec.get("cond")
            if c is None:
                return F.lit(True)
            return F.coalesce(c.cast("boolean"), F.lit(False))

        pieces: list[DataFrame] = []
        target_read = (
            self._read_dirs_mor(meta, read_dirs) if read_dirs else None
        )
        if touched:
            # read set == rewrite set whenever a matched clause exists;
            # insert-only merges rewrite only must_touch dirs (their
            # rows pass through unchanged — the rewrite exists to fold
            # MOR deletes in, not to touch matched rows). In that rare
            # combination (insert-only + MOR deletes + bounds hits) the
            # must_touch dirs are referenced by two plan branches
            # (passthrough piece + the anti-join's target side) and so
            # scan twice; deduplicating would need a persist or an
            # input_file_name split for a path that is one compaction
            # away from not existing — accepted.
            target_rw = (
                target_read
                if read_dirs == touched
                else self._read_dirs_mor(meta, touched)
            )

            def unmatched_pieces() -> list[DataFrame]:
                # target rows with NO source-key match: pass through
                # unchanged — unless WHEN NOT MATCHED BY SOURCE clauses
                # exist, in which case they get the same FIRST-MATCH-WINS
                # treatment as matched rows (claimed UPDATE rewrites,
                # claimed DELETE drops, unclaimed passes through). Only
                # target refs are resolvable here — there is no source
                # row by definition.
                anti = target_rw.join(source.select(key), on=key, how="left_anti")
                if not nmbs_list:
                    return [anti]
                a = anti.alias(t_a)
                out: list[DataFrame] = []
                rem = F.lit(True)
                for spec in nmbs_list:
                    ct = cond_true(spec)
                    applies = rem & ct
                    if spec["action"] == "update":
                        proj = [
                            (
                                spec["set"][c]
                                if c in spec["set"]
                                else F.col(f"{t_a}.{c}")
                            ).alias(c)
                            for c in tcols
                        ]
                        out.append(
                            self._conform_clause_types(
                                a.filter(applies).select(*proj),
                                ttypes,
                                "MERGE UPDATE (BY SOURCE)",
                            )
                        )
                    # action == "delete": claimed rows contribute nothing
                    rem = rem & ~ct
                out.append(
                    a.filter(rem).select(
                        *[F.col(f"{t_a}.{c}").alias(c) for c in tcols]
                    )
                )
                return out

            single = m_list[0] if len(m_list) == 1 else None
            if not m_list:
                if nmbs_list:
                    pieces.extend(unmatched_pieces())
                    # matched rows pass through unchanged (no matched clause)
                    pieces.append(
                        target_rw.join(source.select(key), on=key, how="left_semi")
                    )
                else:
                    pieces.append(target_rw)
            elif (
                single is not None
                and single.get("cond") is None
                and single["action"] == "update"
                and single["set"] == "*"
                and not nmbs_list
            ):
                # fast path: unconditional whole-row replace needs no
                # target join — matched source rows ARE the new rows
                # (projected to the table columns: clause sources may
                # carry extras, e.g. a CDC op column)
                pieces.append(
                    target_rw.join(source.select(key), on=key, how="left_anti")
                )
                pieces.append(
                    self._conform_clause_types(
                        source.join(
                            target_rw.select(key), on=key, how="left_semi"
                        ).select(*tcols),
                        ttypes,
                        "MERGE UPDATE SET *",
                    )
                )
            elif (
                single is not None
                and single.get("cond") is None
                and single["action"] == "delete"
                and not nmbs_list
            ):
                pieces.append(
                    target_rw.join(source.select(key), on=key, how="left_anti")
                )
            else:
                # general form: FIRST-MATCH-WINS over the ordered
                # clause list. `remaining` is the conjunction of every
                # earlier clause's negation, so each matched row is
                # claimed by at most one clause; rows claimed by none
                # pass through unchanged.
                pieces.extend(unmatched_pieces())
                j = target_rw.alias(t_a).join(
                    source.alias(s_a),
                    F.col(f"{t_a}.{key}") == F.col(f"{s_a}.{key}"),
                    "inner",
                )
                remaining = F.lit(True)
                for spec in m_list:
                    ct = cond_true(spec)
                    applies = remaining & ct
                    if spec["action"] == "update":
                        assign_of = (
                            {c: F.col(f"{s_a}.{c}") for c in tcols}
                            if spec["set"] == "*"
                            else spec["set"]
                        )
                        proj = [
                            (
                                assign_of[c]
                                if c in assign_of
                                else F.col(f"{t_a}.{c}")
                            ).alias(c)
                            for c in tcols
                        ]
                        pieces.append(
                            self._conform_clause_types(
                                j.filter(applies).select(*proj),
                                ttypes,
                                "MERGE UPDATE SET",
                            )
                        )
                    # action == "delete": claimed rows contribute nothing
                    remaining = remaining & ~ct
                pieces.append(
                    j.filter(remaining).select(
                        *[F.col(f"{t_a}.{c}").alias(c) for c in tcols]
                    )
                )
        if nm_list:
            ins = (
                source
                if target_read is None
                else source.join(target_read.select(key), on=key, how="left_anti")
            )
            ins = ins.alias(s_a)
            # first-match-wins over NOT MATCHED clauses: a source row
            # claimed by no clause is simply not inserted (only source
            # refs are resolvable — there is no target row here)
            remaining = F.lit(True)
            for spec in nm_list:
                ct = cond_true(spec)
                cur_ins = ins.filter(remaining & ct)
                if spec.get("cols") is None:
                    # INSERT *: project to the table columns (extras like
                    # a CDC op column are simply not inserted) + conform
                    pieces.append(
                        self._conform_clause_types(
                            cur_ins.select(*tcols), ttypes, "MERGE INSERT *"
                        )
                    )
                else:
                    by_col = dict(zip(spec["cols"], spec["vals"]))
                    proj = [
                        (
                            by_col[c]
                            if c in by_col
                            else F.lit(None).cast(ttypes[c])
                        ).alias(c)
                        for c in tcols
                    ]
                    pieces.append(
                        self._conform_clause_types(
                            cur_ins.select(*proj), ttypes, "MERGE INSERT"
                        )
                    )
                remaining = remaining & ~ct
        if not pieces:
            return None
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def delete_where_mor(self, condition, key: str) -> int:
        """Merge-on-read DELETE (Iceberg v2 equality deletes): instead
        of rewriting the table (copy-on-write), commit a tiny delete
        file holding only the matching keys; every subsequent read
        anti-joins it. O(deleted keys) write instead of O(table) —
        the delete path that stays cheap at 100 TB; `compact()`
        later folds deletes into a rewritten file set."""

        def build(cur: int, meta: dict, staged: list) -> int:
            keys = self.read(version=cur).filter(condition).select(key).distinct()
            dd = os.path.join(self.data_dir, f"d{cur + 1:05d}-{uuid.uuid4().hex[:8]}")
            staged.append(dd)
            keys.write.mode("overwrite").parquet(dd)
            # prior delete files carry forward so stacked deletes
            # compose; `applies_to` pins the data files that existed at
            # delete time (Iceberg's sequence-number semantics) so rows
            # APPENDED later under the same key are NOT swallowed
            return self._carry(
                "delete-mor", cur, meta,
                delete_dirs=meta.get("delete_dirs", [])
                + [{"dir": dd, "key": key, "applies_to": list(meta["dirs"])}],
            )

        return self._commit_loop("DELETE", build, what="MOR delete")

    def delete_where_position(self, condition, max_retries: int = 3) -> int:
        """Merge-on-read POSITION delete (Iceberg v2's second delete
        form): commit a tiny file of (file_path, row_index) coordinates
        for exactly the predicate rows. The cheap point-correction path:
        a one-row fix on a huge table costs one scan to find the row
        plus an O(1)-sized delete file — no CoW dir rewrite, and unlike
        an equality delete no table-column key that every subsequent
        read must semi-join (readers anti-join two lineage columns the
        scan already produces for free from `_metadata`).

        `applies_to` pins only the dirs that contain a referenced file,
        so unrelated dirs never pay the anti-join; later appends are
        naturally immune (their files are not referenced). compact()
        folds position deletes away like equality deletes — reads flow
        through _read_dirs_mor. Coordinates are found under the CURRENT
        state (prior deletes applied), so stacked deletes compose.

        OCC note (r14 verdict nit, accepted): the coordinates file is
        written BEFORE the commit precondition check, so a conflicting
        concurrent writer costs one re-scan + re-write per retry (≤4).
        Correct and point-shaped — the scan is the unavoidable part
        (coordinates must be found against the fresh head anyway), so
        checking first would save only the tiny parquet write."""

        def build(cur: int, meta: dict, staged: list) -> int:
            hits = (
                self._read_dirs_mor(meta, meta["dirs"], with_lineage=True)
                .filter(condition)
                .select(
                    F.col(self._POS_FILE).alias("file_path"),
                    F.col(self._POS_IDX).alias("row_index"),
                )
            )
            dd = os.path.join(self.data_dir, f"p{cur + 1:05d}-{uuid.uuid4().hex[:8]}")
            staged.append(dd)
            hits.write.mode("overwrite").parquet(dd)
            # prune applies_to to the dirs holding a referenced file —
            # bounded driver probe: one row per distinct FILE (metadata-
            # sized; a position delete is point-shaped by design)
            ref_files = [
                r["f"]
                for r in self.spark.read.parquet(dd)
                .select(F.col("file_path").alias("f"))
                .distinct()
                .collect()
            ]
            if not ref_files:
                # zero matching rows: committing an empty delete entry
                # would be a no-op for reads but permanently flip the
                # table into "has MOR deletes" (ADVICE r14 — it blocked
                # transform-pruned reads until a full compact)
                shutil.rmtree(dd, ignore_errors=True)
                return cur

            def _holds(d: str) -> bool:
                pre = "file:" + d.rstrip(os.sep) + os.sep
                return any(
                    f.startswith(pre) or f.startswith(d.rstrip(os.sep) + os.sep)
                    for f in ref_files
                )

            applies = [d for d in meta["dirs"] if _holds(d)]
            return self._carry(
                "delete-mor-position", cur, meta,
                delete_dirs=meta.get("delete_dirs", [])
                + [{"dir": dd, "kind": "position", "applies_to": applies}],
            )

        return self._commit_loop("DELETE", build, max_retries, "position delete")

    def delete_where(self, condition) -> int:
        # SQL DELETE semantics: only predicate-TRUE rows go; NULL-
        # predicate rows survive (same contract as delete_where_pruned)
        return self.overwrite(
            self.read().filter(~condition | condition.isNull()), op="delete"
        )

    def rewrite_position_deletes(self, max_retries: int = 3) -> int:
        """Iceberg's `rewrite_position_delete_files` maintenance twin
        (r15, VERDICT ask #7): fold MANY small position-delete files —
        the residue a trickle of point corrections leaves behind — into
        ONE, without touching any data file. Every data dir rides into
        the new snapshot by reference; the only write is one tiny
        parquet of the UNION of (file_path, row_index) coordinates
        (distinct — stacked deletes may reference the same row), so the
        commit costs O(total deleted positions), metadata-shaped.

        The merged entry's `applies_to` is the union of the folded
        entries' — safe because a position coordinate can only ever
        match its own immutable file; widening applies_to widens the
        read-tax candidate set, never the deleted row set. Equality
        delete entries are untouched and keep their relative order.

        CDC-NEUTRAL by construction: the new snapshot's delete_dirs
        list is SHORTER than its parent's, so both batch `changes()`
        and the streaming CDC tail see zero added dirs, zero removed
        dirs, zero NEW delete entries — the commit contributes no
        change rows (asserted by the registered story). No-op (current
        version returned) when fewer than two position entries exist."""

        def build(cur: int, meta: dict, staged: list) -> int:
            deletes = meta.get("delete_dirs", [])
            pos = [dd for dd in deletes if dd.get("kind") == "position"]
            if len(pos) <= 1:
                return cur
            other = [dd for dd in deletes if dd.get("kind") != "position"]
            merged = (
                self.spark.read.parquet(*[dd["dir"] for dd in pos])
                .select("file_path", "row_index")
                .distinct()
            )
            dd_dir = os.path.join(
                self.data_dir, f"p{cur + 1:05d}-{uuid.uuid4().hex[:8]}"
            )
            staged.append(dd_dir)
            merged.coalesce(1).write.parquet(dd_dir)
            applies = sorted(
                {d for dd in pos for d in dd.get("applies_to", meta["dirs"])}
            )
            return self._carry(
                "rewrite-position-deletes", cur, meta,
                delete_dirs=other
                + [{"dir": dd_dir, "kind": "position", "applies_to": applies}],
            )

        return self._commit_loop(
            "rewrite position deletes", build, max_retries,
            "rewrite_position_deletes",
        )

    # --------------------------------------------- per-file column stats
    # Iceberg keeps per-data-file min/max/null-count in avro manifests
    # written at commit time; this engine derives the SAME stats from
    # the parquet FOOTERS the files already carry (driver-side pyarrow
    # metadata read — no data pages move) and caches them in a hidden
    # `_file_stats.json` sidecar per data dir. Because data dirs are
    # immutable, the cache can never go stale; the leading underscore
    # keeps it out of Spark's (Hadoop-filtered) file listing. At 100 TB
    # the first-use computation would move into the committing
    # executors (write side), but the read-side contract — metadata-
    # only file pruning — is identical.
    _STATS_SIDECAR = "_file_stats.json"
    # {table name: audit of the last stats-consulting file-finding pass}
    _DML_STATS_AUDITS: dict = {}

    @staticmethod
    def _stats_encode(v) -> tuple | None:
        """footer stat value -> (json-safe value, kind) or None when
        the type has no provably-ordered json round-trip (bytes,
        Decimal, bool)."""
        if isinstance(v, bool):
            return None
        if isinstance(v, int):
            return (v, "int")
        if isinstance(v, float):
            return (v, "float")
        if isinstance(v, str):
            return (v, "str")
        if isinstance(v, datetime.datetime):
            # Spark micros are UTC-adjusted; pyarrow may surface them
            # tz-aware — store as NAIVE UTC so they compare against
            # bounds parsed from session-rendered literals (consults
            # are guarded to UTC sessions)
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return (v.isoformat(), "ts")
        if isinstance(v, datetime.date):
            return (v.isoformat(), "date")
        return None

    @staticmethod
    def _stats_decode(v, kind: str):
        if kind == "ts":
            return datetime.datetime.fromisoformat(v)
        if kind == "date":
            return datetime.date.fromisoformat(v)
        return v

    def _dir_file_stats(self, d: str) -> dict:
        """{'files': {relpath: {'rows': n, 'cols': {physname: {'min',
        'max', 'kind', 'nulls'}}}}} for one immutable data dir,
        computed from parquet footers on first use and cached in the
        sidecar. Parquet writers must keep stored min/max CONSERVATIVE
        under truncation (format contract), so a consult can prune a
        file only when its whole range provably misses the bound."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        side = os.path.join(d, self._STATS_SIDECAR)
        try:
            with open(side) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            pass
        files: dict = {}
        for f in self._walk_parquet(d):
            md = pq.ParquetFile(f).metadata
            per: dict = {}
            bad: set = set()
            for rg_i in range(md.num_row_groups):
                rg = md.row_group(rg_i)
                for ci in range(rg.num_columns):
                    c = rg.column(ci)
                    name = c.path_in_schema
                    if "." in name or name in bad:
                        continue  # nested leaves don't prune top-level
                    st = c.statistics
                    try:
                        # pyarrow cannot extract some logical types'
                        # stats (Spark's int-backed decimals): unusable,
                        # like a chunk without min/max
                        emin, emax = (
                            (self._stats_encode(st.min), self._stats_encode(st.max))
                            if st is not None and st.has_min_max
                            else (None, None)
                        )
                    except pa.ArrowNotImplementedError:
                        emin = emax = None
                    if emin is None or emax is None or emin[1] != emax[1]:
                        bad.add(name)
                        per.pop(name, None)
                        continue
                    nulls = st.null_count if st.null_count is not None else 0
                    ent = per.get(name)
                    if ent is None:
                        per[name] = {
                            "min": emin[0],
                            "max": emax[0],
                            "kind": emin[1],
                            "nulls": nulls,
                        }
                    elif ent["kind"] != emin[1]:
                        bad.add(name)
                        per.pop(name, None)
                    else:
                        lo = self._stats_decode(emin[0], emin[1])
                        hi = self._stats_decode(emax[0], emax[1])
                        cl = self._stats_decode(ent["min"], ent["kind"])
                        ch = self._stats_decode(ent["max"], ent["kind"])
                        ent["min"] = emin[0] if lo < cl else ent["min"]
                        ent["max"] = emax[0] if hi > ch else ent["max"]
                        ent["nulls"] += nulls
            # top-level physical column names present in THIS file —
            # lets consumers distinguish "column absent from the file"
            # (pre-ADD-COLUMN rows: key is NULL everywhere) from "stats
            # unusable" (must fall back to a scan)
            names = sorted(
                {
                    md.row_group(0).column(ci).path_in_schema.split(".")[0]
                    for ci in range(md.row_group(0).num_columns)
                }
                if md.num_row_groups
                else set()
            )
            files[os.path.relpath(f, d)] = {
                "rows": md.num_rows,
                "cols": per,
                "allcols": names,
            }
        out = {"files": files}
        tmp = side + f".tmp.{uuid.uuid4().hex[:8]}"
        try:
            with open(tmp, "w") as fh:
                json.dump(out, fh)
            os.replace(tmp, side)  # atomic: concurrent computes agree
        except OSError:
            pass
        return out

    # ------------------------------------------------------- pruned COW DML

    def _dirs_matching(self, meta: dict, condition) -> set[str]:
        """The data dirs holding a row that matches a predicate DML's
        ``condition``, found in O(candidate files) — Iceberg's manifest
        shape. The predicate's top-level conjuncts become raw bounds
        (the SQL prune walk over its Catalyst condition, ANALYZED over
        an empty frame in the committed schema: driver-only, no job),
        `plan_files` narrows the scan, and `_dirs_hit` runs it exactly
        over raw dirs — a MOR-deleted match costs at most a spurious
        rewrite, never a wrong answer."""
        from .sqlprune import bounds_from_conditions

        bounds: dict = {}
        why = None
        try:
            jplan = (
                self.spark.createDataFrame(
                    [], T.StructType.fromJson(json.loads(meta["schema"]))
                )
                .filter(condition)
                ._jdf.queryExecution()
                .analyzed()
            )
            if jplan.getClass().getSimpleName() == "Filter":
                bounds = bounds_from_conditions([jplan.condition()])
        except _SPARK_ERRORS as ex:
            why = f"predicate not analyzable into bounds: {ex!r}"
        paths, decision = self.plan_files(meta, bounds)
        if why:
            decision.decline(why)
        # class-level so the audit survives across SnapshotTable
        # instances (execute_dml constructs its own): registered
        # stories and tests read the audit of the LAST predicate-DML
        # file-finding pass per table name
        SnapshotTable._DML_STATS_AUDITS[self.name] = {
            "bounded_columns": sorted(bounds),
            "files_scanned": decision.files.selected if bounds else -1,
            "files_skipped_by_stats": decision.files.pruned,
            "decision": decision,
        }
        return self._dirs_hit(meta, paths, condition)

    def _dirs_hit(self, meta: dict, paths: list[str], condition) -> set[str]:
        """The data dirs of ``meta`` owning a file under ``paths`` with a
        row matching ``condition``: ONE filter-pushed scan collects the
        DISTINCT `input_file_name()`s (metadata-sized, never rows), each
        climbed up its dirname chain to its owning dir — O(|files| ×
        partition depth), not O(|files| × |dirs|)."""
        from urllib.parse import unquote, urlparse

        if not paths:
            return set()
        owners = {d.rstrip("/"): d for d in meta["dirs"]}
        hit = set()
        for r in (
            self._read_dirs(paths, schema_json=meta["schema"])
            .filter(condition)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        ):
            # input_file_name returns a URI (file:///...); compare paths
            parsed = urlparse(r[0])
            p = os.path.dirname(unquote(parsed.path) if parsed.scheme else r[0])
            while p and p != "/":
                if p in owners:
                    hit.add(owners[p])
                    break
                p = os.path.dirname(p)
        return hit

    def _cow_rewrite(
        self, op: str, condition, transform, max_retries: int = 3
    ) -> tuple[int, dict]:
        """Shared engine for pruned copy-on-write UPDATE/DELETE: dirs
        with no row matching ``condition`` are carried into the new
        snapshot BY REFERENCE (byte-identical, same posture as merge);
        only matching dirs are read, passed through ``transform``
        (a DataFrame -> DataFrame rewriting rows), and rewritten.
        Dirs with applicable MOR delete files are force-rewritten so
        deletes fold in and no delete file survives the snapshot.
        Optimistic-concurrency checked like merge: the commit declares
        its parent; a concurrent writer forces a rebuild against the
        fresh head. Returns (version, audit)."""

        def build(cur: int, meta: dict, staged: list) -> tuple[int, dict]:
            deletes = meta.get("delete_dirs", [])
            spec = meta.get("spec", [])
            hit = self._dirs_matching(meta, condition)
            touched, untouched, untouched_specs = [], [], []
            for d, ds in zip(meta["dirs"], self._dir_specs(meta)):
                has_deletes = any(
                    d in dd.get("applies_to", meta["dirs"]) for dd in deletes
                )
                if d in hit or has_deletes:
                    touched.append(d)
                else:
                    untouched.append(d)
                    untouched_specs.append(ds)
            if not hit:
                # Predicate matches nothing: a true no-op. Do NOT commit —
                # a snapshot published here would need to carry delete
                # files correctly for zero benefit (mirrors merge's
                # empty-source posture).
                return cur, {"dirs_rewritten": 0, "dirs_reused": len(meta["dirs"])}
            rewritten = transform(self._read_dirs_mor(meta, touched))
            self._enforce_constraints(rewritten, meta)
            d_new = self._write_data(self._to_physical(rewritten, meta["schema"]), spec)
            staged.append(d_new)
            version = self._commit(
                op, untouched + [d_new], cur, meta["schema"], spec=spec,
                dir_specs=untouched_specs + [spec], expect_parent=cur,
                parent_meta=meta,
            )
            return version, {
                "dirs_rewritten": len(touched),
                "dirs_reused": len(untouched),
            }

        return self._commit_loop(op, build, max_retries)

    def update_where(
        self, condition, assignments: dict, max_retries: int = 3
    ) -> tuple[int, dict]:
        """Pruned copy-on-write UPDATE (Iceberg `UPDATE ... SET ...
        WHERE ...` semantics): rows matching ``condition`` get each
        ``assignments`` column replaced by its expression (evaluated
        against the PRE-update row, standard SQL UPDATE semantics —
        all assignments see the same old values); every other row, and
        every FILE with no matching row, is carried unchanged. Scale
        posture in `_cow_rewrite`/`_dirs_matching`: rewrite cost is
        O(matched files), not O(table).

        Column validation reads the snapshot's stored schema JSON —
        metadata-only, no file listing or parquet footer inference
        (the full MOR-composed read it previously built just for
        `.columns` cost a driver-side directory walk per UPDATE)."""
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"table {self.name}: cannot update before create")
        schema = T.StructType.fromJson(json.loads(self._read_meta(cur)["schema"]))
        cols = set(schema.fieldNames())
        unknown = sorted(set(assignments) - cols)
        if unknown:
            raise ValueError(
                f"table {self.name}: UPDATE assigns unknown column(s) {unknown}"
            )
        ttypes = {f.name: f.dataType for f in schema.fields}

        def transform(df: DataFrame) -> DataFrame:
            # withColumns applies simultaneously from one projection, so
            # every RHS sees pre-update values even when one assigned
            # column references another.
            out = df.withColumns(
                {
                    c: F.when(condition, expr).otherwise(F.col(c)).alias(c)
                    for c, expr in assignments.items()
                }
            )
            # MERGE's assignment rule on the types the rewrite would
            # write, before any file is written: `d + 1` on decimal(12,2)
            # makes the column decimal(13,2), which no read of `d`
            # accepts, so it raises naming the column
            return self._conform_clause_types(out, ttypes, "UPDATE")

        return self._cow_rewrite("update", condition, transform, max_retries)

    def delete_where_pruned(self, condition, max_retries: int = 3) -> tuple[int, dict]:
        """Pruned copy-on-write DELETE: matching files are rewritten
        without the matching rows; non-matching files carry by
        reference. The third point on the delete cost spectrum:
        `delete_where` (whole-table COW, simplest), this (COW but
        O(matched files)), `delete_where_mor` (O(deleted keys) write,
        read-time anti-join).

        SQL DELETE deletes rows where the predicate is TRUE — not
        NULL. A bare ``filter(~condition)`` would also drop NULL-
        predicate rows, but ONLY inside rewritten files (pruned files
        keep theirs), making survival depend on physical layout. The
        explicit ``| isNull()`` keeps NULL-predicate rows everywhere,
        consistent with `_dirs_matching`'s cond-IS-TRUE pruning pass
        and with `delete_where_mor`."""
        return self._cow_rewrite(
            "delete",
            condition,
            lambda df: df.filter(~condition | condition.isNull()),
            max_retries,
        )

    def compact(self, target_partitions: int = 1) -> int:
        """Rewrite the current file set into `target_partitions` files
        (Iceberg rewrite_data_files): same logical content, new snapshot."""
        cur = self.read()
        return self.overwrite(cur.coalesce(target_partitions), op="compact")

    def compact_minor(
        self, small_bytes: int = 32 * 1024 * 1024, max_retries: int = 3
    ) -> tuple[int | None, dict]:
        """MINOR compaction (Iceberg rewrite_data_files with a
        small-file filter): merge only the SMALL data dirs — the
        one-dir-per-micro-batch trickle a long-running snapshot_write
        stream lands (1,440 dirs/day at trigger-per-minute) — into one
        dir, carrying every big dir by reference. Cost is O(small
        bytes), never O(table): the full compact() rewrite grows with
        the table, this grows with the trickle since the last sweep.

        Dirs with applicable MOR deletes are left alone (rewriting them
        must fold the deletes — that is full compact()'s job); dirs
        written under a different partition spec than current are
        likewise skipped (the merged dir lands under the CURRENT spec).
        Needs >= 2 qualifying dirs, else no-op (None, audit). The
        commit is a CoW swap of exactly the merged dirs, so changes()
        diffs it to zero rows and a skip_change_commits tail skips it —
        rows were already emitted when they first landed."""

        def _size(d: str) -> int:
            total = 0
            for r_, _ds, fs in os.walk(d):
                for f in fs:
                    if f.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(r_, f))
            return total

        def _flat(d: str) -> bool:
            # flat = no hive _p_ subdirs (sink dirs and unpartitioned
            # writes); the Arrow fallback can only concat flat dirs
            for r_, ds_, _fs in os.walk(d):
                if any(x.startswith("_p_") for x in ds_):
                    return False
            return True

        def build(cur: int, meta: dict, staged: list) -> tuple[int | None, dict]:
            deletes = meta.get("delete_dirs", [])
            spec = meta.get("spec", [])
            small, kept, kept_specs = [], [], []
            merged_bytes = 0
            for d, dspec in zip(meta["dirs"], self._dir_specs(meta)):
                has_del = any(
                    d in dd.get("applies_to", meta["dirs"]) for dd in deletes
                )
                sz = _size(d)
                mergeable = (
                    not has_del
                    and sz < small_bytes
                    and (dspec == spec or dspec == [])
                    and (self.spark is not None or _flat(d))
                )
                if mergeable:
                    small.append(d)
                    merged_bytes += sz
                else:
                    kept.append(d)
                    kept_specs.append(dspec)
            audit = {
                "dirs_merged": len(small),
                "bytes_merged": merged_bytes,
                "dirs_carried": len(kept),
            }
            if len(small) < 2:
                return None, audit
            if self.spark is not None:
                merged = self._write_data(
                    self._to_physical(
                        self._read_dirs(small, schema_json=meta["schema"]),
                        meta["schema"],
                    ),
                    spec,
                )
                merged_spec = spec
            else:
                # session-free Arrow path (the snapshot_write sink's
                # auto-compact runs in the Python Data Source worker,
                # which has no SparkSession): concat the flat dirs'
                # files — physical encodings ride through untouched.
                # Files must share ONE schema (mixed evolution eras are
                # left for full compact()); the merged dir records an
                # EMPTY dir-spec because its layout is flat.
                merged = self._merge_dirs_arrow(small, cur)
                if merged is None:
                    audit["dirs_merged"] = 0
                    return None, audit
                merged_spec = []
            staged.append(merged)
            v = self._commit(
                "compact-minor", kept + [merged], cur, meta["schema"],
                spec=spec, dir_specs=kept_specs + [merged_spec],
                expect_parent=cur, delete_dirs=deletes, parent_meta=meta,
            )
            return v, audit

        return self._commit_loop("compact", build, max_retries, "compact_minor")

    def _merge_dirs_arrow(self, dirs: list[str], cur: int) -> str | None:
        """Concat the parquet files of flat dirs into ONE file in a new
        data dir, pure pyarrow (no SparkSession). None if the files do
        not share a single schema (schema-evolution eras differ —
        full compact() handles those)."""
        import pyarrow.parquet as pq

        files = []
        for d in dirs:
            for r_, ds_, fs in os.walk(d):
                ds_.sort()
                for f in sorted(fs):
                    if f.endswith(".parquet"):
                        files.append(os.path.join(r_, f))
        if not files:
            return None
        tables = [pq.read_table(f) for f in files]
        schema = tables[0].schema
        if any(t_.schema != schema for t_ in tables[1:]):
            return None
        import pyarrow as pa

        out_dir = os.path.join(
            self.data_dir, f"s{cur + 1:05d}-{uuid.uuid4().hex[:8]}"
        )
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(
            pa.concat_tables(tables),
            os.path.join(out_dir, f"merged-{uuid.uuid4().hex[:8]}.parquet"),
        )
        return out_dir

    def rollback(self, version: int) -> int:
        """Iceberg rollback_to_snapshot semantics: commit a NEW snapshot
        whose file set is the target version's — history stays intact
        (the bad snapshot remains auditable), only the current pointer
        moves."""
        if version not in self._versions():
            raise ValueError(f"table {self.name}: no snapshot v{version}")
        meta = self._read_meta(version)
        return self._commit(
            "rollback",
            meta["dirs"],
            self.current_version(),
            meta["schema"],
            spec=meta.get("spec", []),
            dir_specs=self._dir_specs(meta),
            delete_dirs=meta.get("delete_dirs", []),
            # rollback replaces the head with a pinned historical file set —
            # the user's explicit "restore v{version}" wins a publish race
            retry_on_race=True,
        )

    # ------------------------------------------------------- branch refs
    #
    # Iceberg-style named refs (branches + tags, the Nessie/Iceberg
    # `branch` model): a ref is a named pointer into the SAME shared
    # snapshot log. Branch writes commit ordinary snapshots and advance
    # only their ref; other refs keep reading their pinned file sets
    # (writer isolation for write-audit-merge flows). A fast-forward
    # merge moves a ref onto a descendant head; divergence (the target
    # moved since the fork) is detected by walking the parent chain and
    # refused — the caller must rebase, exactly like Iceberg's
    # fast-forward.

    def _refs_path(self) -> str:
        return os.path.join(self.meta_dir, "refs.json")

    def refs(self) -> dict:
        if not os.path.exists(self._refs_path()):
            return {}
        with open(self._refs_path()) as f:
            return json.load(f)

    _REF_UNSET = object()  # sentinel: set_ref without a CAS expectation

    def set_ref(self, name: str, version: int, expect=_REF_UNSET) -> None:
        """Move a ref, optionally compare-and-swap (Nessie commit
        semantics): with `expect` set, the update is refused
        (CommitConflictError) if the ref no longer points where the
        caller last read it — the guard that keeps two concurrent
        branch writers from silently dropping each other's commits.
        The read-modify-write runs under a kernel flock so CAS checks
        cannot interleave; a crashed holder's lock releases with its
        process, no staleness heuristic (single-host scope — a shared
        object store would use a conditional PUT instead)."""
        if version not in self._versions():
            raise ValueError(f"table {self.name}: no snapshot v{version}")
        lock = self._refs_path() + ".lock"
        fd = _acquire_excl_lock(lock, f"table {self.name} refs")
        try:
            refs = self.refs()
            if expect is not SnapshotTable._REF_UNSET and refs.get(name) != expect:
                raise CommitConflictError(
                    f"table {self.name}: ref {name!r} moved to "
                    f"v{refs.get(name)} (expected v{expect}) — concurrent "
                    "branch writer won; re-read and retry"
                )
            refs[name] = version
            tmp = self._refs_path() + ".tmp"
            with open(tmp, "w") as f:
                json.dump(refs, f)
            os.rename(tmp, self._refs_path())  # atomic, like snapshot commits
        finally:
            os.close(fd)  # releases the flock; the lockfile path stays

    def get_ref(self, name: str) -> int:
        refs = self.refs()
        if name not in refs:
            raise KeyError(f"table {self.name}: no ref {name!r}")
        return refs[name]

    def drop_ref(self, name: str) -> None:
        """Remove a branch/tag pointer. The snapshots it pointed to stay
        in the log (history is immutable; expire_snapshots reclaims
        them later) — Iceberg DROP BRANCH/TAG semantics. Same flock
        discipline as set_ref so a concurrent CAS never interleaves."""
        lock = self._refs_path() + ".lock"
        fd = _acquire_excl_lock(lock, f"table {self.name} refs")
        try:
            refs = self.refs()
            if name not in refs:
                raise KeyError(f"table {self.name}: no ref {name!r}")
            del refs[name]
            tmp = self._refs_path() + ".tmp"
            with open(tmp, "w") as f:
                json.dump(refs, f)
            os.rename(tmp, self._refs_path())
        finally:
            os.close(fd)

    def read_ref(self, name: str) -> DataFrame:
        return self.read(version=self.get_ref(name))

    def branch_append(self, branch: str, df: DataFrame, max_retries: int = 3) -> int:
        """Append onto a branch head: the new snapshot's parent is the
        branch ref (not the global latest), and only this ref moves.
        The ref update is a CAS against the head this append was built
        on; if a concurrent writer moved the branch first, the append
        rebuilds against the new head (its superseded snapshot stays in
        the log as auditable history until expire_snapshots)."""
        for _ in range(max_retries + 1):
            parent = self.get_ref(branch)
            v = self._append_on(
                f"append@{branch}", parent, self._read_meta(parent), df, [],
                # the head is the branch ref, not the global latest: a
                # lost publish race only needs the next free version slot
                expect_parent=None, retry_on_race=True,
            )
            try:
                self.set_ref(branch, v, expect=parent)
                return v
            except CommitConflictError:
                continue  # branch moved first: rebuild on the new head
        raise CommitConflictError(
            f"table {self.name}: branch append on {branch!r} gave up after "
            f"{max_retries} retries"
        )

    def is_ancestor(self, ancestor: int, descendant: int) -> bool:
        v: int | None = descendant
        while v is not None:
            if v == ancestor:
                return True
            v = self._read_meta(v).get("parent")
        return False

    def fast_forward(self, target: str, source: str) -> int:
        """Fast-forward merge: move ref `target` to ref `source`'s head,
        allowed only when the target head is an ancestor of the source
        head (no divergence — Iceberg fast_forward semantics)."""
        src, tgt = self.get_ref(source), self.get_ref(target)
        if not self.is_ancestor(tgt, src):
            raise ValueError(
                f"table {self.name}: ref {target!r} (v{tgt}) is not an "
                f"ancestor of {source!r} (v{src}) — diverged; rebase required"
            )
        self.set_ref(target, src)
        return src

    def remove_orphan_files(self, older_than_sec: float = 3 * 24 * 3600) -> list[str]:
        """Iceberg's `remove_orphan_files` (r13): delete data/delete-key
        dirs under this table's data directory referenced by NO retained
        snapshot — the residue of crashed writers (files written, commit
        lost) and OCC losers whose cleanup died. Age-bounded exactly
        like Iceberg's older_than (default 3 days): an IN-FLIGHT
        writer's dir exists before its commit does, so only dirs whose
        newest file write is older than the bound are orphans — never
        a live write. Age is the newest mtime anywhere in the dir (a
        long-running distributed write keeps closing part files, which
        refreshes it — the IVF staging-sweep discipline). Metadata-sized
        driver work: one snapshot-log scan + one top-level listing.
        Partitioned hive subdirs live INSIDE a referenced dir and are
        never listed individually, so they cannot be mis-classified."""
        referenced: set[str] = set()
        for v in self._versions():
            meta = self._read_meta(v)
            referenced |= set(meta["dirs"])
            referenced |= {dd["dir"] for dd in meta.get("delete_dirs", [])}
        removed: list[str] = []
        if not os.path.isdir(self.data_dir):
            return removed
        now = time.time()
        for name in sorted(os.listdir(self.data_dir)):
            full = os.path.join(self.data_dir, name)
            if not os.path.isdir(full):
                continue
            # a dir is LIVE if referenced exactly OR if any referenced
            # path lies inside it (dynamic partition overwrite commits
            # hive SUBDIR paths — r13 code review: exact-match here
            # deleted a parent dir whose subdirs the current snapshot
            # still reads)
            if full in referenced or any(
                _dir_within(r, (full,)) for r in referenced
            ):
                continue
            newest = 0.0
            try:
                newest = os.path.getmtime(full)
            except OSError:
                continue
            for r_, _d, fs in os.walk(full):
                for f in fs:
                    try:
                        newest = max(newest, os.path.getmtime(os.path.join(r_, f)))
                    except OSError:
                        continue
            if now - newest > older_than_sec:
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
        return removed

    def expire_snapshots(
        self, keep_last: int = 1, older_than: float | None = None
    ) -> list[int]:
        """Drop all but the last `keep_last` snapshots and delete data
        AND merge-on-read delete-key dirs no longer referenced by a
        surviving snapshot. Versions still pointed to by named refs
        (branches/tags) are refused — expiring them would leave dangling
        refs whose reads fail mid-flight (Iceberg likewise keeps
        ref-reachable snapshots alive).

        ``older_than`` (r13 — Iceberg's timestamp form, epoch seconds):
        only snapshots COMMITTED BEFORE the bound expire, and the two
        retention rules compose — a snapshot survives if it is in the
        keep_last newest OR at/after the bound. Expiry stays a PREFIX
        of the version log (the scan stops at the first young version
        even if a clock jump put an older ts after it): parent-chain
        consumers (changes(), snapshot_tail replay validation) rely on
        retained history being contiguous. Pre-timestamp metadata (no
        "ts") counts as older than any bound."""
        vs = self._versions()
        expired, survivors = vs[:-keep_last], vs[-keep_last:]
        if older_than is not None:
            cut = 0
            for v in expired:
                if (self._read_meta(v).get("ts") or 0) < older_than:
                    cut += 1
                else:
                    break
            survivors = expired[cut:] + survivors
            expired = expired[:cut]
        referenced = {v for v in self.refs().values() if v in expired}
        if referenced:
            raise ValueError(
                f"table {self.name}: cannot expire snapshots {sorted(referenced)} "
                "— still pointed to by named refs; drop or move the refs first"
            )

        def _all_dirs(meta: dict) -> set[str]:
            return set(meta["dirs"]) | {
                dd["dir"] for dd in meta.get("delete_dirs", [])
            }

        live_dirs = {d for v in survivors for d in _all_dirs(self._read_meta(v))}

        def _overlaps_live(d: str) -> bool:
            # dir-granular reference checks are NOT exact-match (r13
            # code review): dynamic partition overwrite commits hive
            # SUBDIR paths, so an expired whole-dir reference can
            # CONTAIN live subdir references (deleting it would destroy
            # the current snapshot) and an expired subdir reference can
            # live INSIDE a surviving whole-dir reference. Either
            # overlap direction keeps the path; the conservative leak
            # (a replaced partition's bytes inside a kept parent dir)
            # is reclaimed by remove_orphan_files once no retained
            # snapshot references into the parent — expire only ever
            # deletes dirs named by the metas it expires.
            return any(
                d == L or _dir_within(d, (L,)) or _dir_within(L, (d,))
                for L in live_dirs
            )

        for v in expired:
            for d in _all_dirs(self._read_meta(v)):
                if not _overlaps_live(d) and os.path.isdir(d):
                    shutil.rmtree(d)
            os.remove(os.path.join(self.meta_dir, f"v{v:05d}.json"))
        return expired

    # ------------------------------------------------------------- read ops

    def read(self, version: int | None = None, merge_schema: bool = False) -> DataFrame:
        """Current snapshot, or `VERSION AS OF` time travel.

        merge_schema=True unions the column sets of all data files
        (Iceberg-style additive schema evolution: old files surface the
        new columns as NULL)."""
        cur = version if version is not None else self.current_version()
        if cur is None or cur not in self._versions():
            raise ValueError(f"table {self.name}: no snapshot v{version}")
        meta = self._read_meta(cur)
        return self._read_dirs_mor(meta, meta["dirs"], merge_schema)

    def _read_dirs_mor(
        self,
        meta: dict,
        dirs: list[str],
        merge_schema: bool = False,
        with_lineage: bool = False,
    ) -> DataFrame:
        """Read a subset of a snapshot's data dirs with that snapshot's
        merge-on-read equality deletes applied — the shared scan path for
        full reads, bloom-index point reads, and pruned MERGE rewrites.

        Merge-on-read (Iceberg v2 equality-delete files): delete commits
        write only the deleted KEYS; readers anti-join them — but only
        against data files that existed when the delete committed
        (`applies_to`, the sequence-number rule), so later appends of the
        same key survive. Data dirs sharing the same applicable delete
        set are read together."""
        if not dirs:
            return self._read_dirs([], merge_schema, meta["schema"])
        deletes = meta.get("delete_dirs", [])
        defaults = self._schema_defaults(meta["schema"])

        def _defcols(d: str) -> frozenset:
            # columns whose initial-default applies to THIS dir (the dir
            # predates the column's evolve, so its files lack it)
            return frozenset(
                c for c, (_e, _t, pre) in defaults.items() if _dir_within(d, pre)
            )

        if (
            not deletes
            and not with_lineage
            and (not defaults or not any(_defcols(d) for d in dirs))
        ):
            return self._read_dirs(dirs, merge_schema, meta["schema"])
        from collections import defaultdict

        # one gate decision for the whole read, delete files included
        one = _fits_one_split([*dirs, *(dd["dir"] for dd in deletes)])
        groups: dict[tuple, list[str]] = defaultdict(list)
        for d in dirs:
            # _dir_within, not membership: pruned reads pass hive
            # SUBdirs of a recorded data dir, which inherit the parent
            # dir's applicable delete set (equal paths still match)
            applicable = tuple(
                i
                for i, dd in enumerate(deletes)
                if _dir_within(d, tuple(dd.get("applies_to", meta["dirs"])))
            )
            groups[(applicable, _defcols(d))].append(d)
        parts = []
        for (applicable, defcols), group_dirs in groups.items():
            pos_idx = [
                i for i in applicable if deletes[i].get("kind") == "position"
            ]
            eq_idx = [
                i for i in applicable if deletes[i].get("kind") != "position"
            ]
            if pos_idx and not with_lineage:
                # FILE-GRANULAR position application (the read-tax shape
                # that makes position deletes the cheap form): only the
                # files a delete actually references pay the lineage
                # scan + anti-join; every untouched file reads plain —
                # O(referenced files), not O(group). The referenced-path
                # set is a bounded driver probe (position deletes are
                # point-shaped by design; a huge set falls back to the
                # whole-group lineage read below).
                ref = self._referenced_pos_files(pos_idx, deletes)
                if ref is not None:
                    all_files = [
                        f for d in group_dirs for f in self._walk_parquet(d)
                    ]
                    touched = [f for f in all_files if "file:" + f in ref]
                    plain = [f for f in all_files if "file:" + f not in ref]
                    sides = []
                    if plain:
                        sides.append(
                            self._read_dirs(
                                plain, merge_schema, meta["schema"], one
                            )
                        )
                    if touched:
                        hit = self._read_dirs_lineage(
                            touched, meta["schema"], one
                        )
                        for i in pos_idx:
                            hit = self._apply_position_delete(hit, deletes[i])
                        sides.append(hit.drop(self._POS_FILE, self._POS_IDX))
                    part = sides[0]
                    for s_ in sides[1:]:
                        part = part.unionByName(s_)
                    for i in eq_idx:
                        keys = self.spark.read.parquet(deletes[i]["dir"])
                        part = part.join(
                            keys, on=deletes[i]["key"], how="left_anti"
                        )
                    for c in sorted(defcols):
                        expr_s, dtype, _pre = defaults[c]
                        part = part.withColumn(
                            c, F.coalesce(F.col(c), F.expr(expr_s).cast(dtype))
                        )
                    parts.append(part)
                    continue
            # lineage-requesting callers (and the huge-delete fallback)
            # read the whole group through the lineage scan
            need_lineage = with_lineage or bool(pos_idx)
            part = (
                self._read_dirs_lineage(group_dirs, meta["schema"], one)
                if need_lineage
                else self._read_dirs(group_dirs, merge_schema, meta["schema"], one)
            )
            for i in applicable:
                if deletes[i].get("kind") == "position":
                    part = self._apply_position_delete(part, deletes[i])
                else:
                    keys = self.spark.read.parquet(deletes[i]["dir"])
                    part = part.join(keys, on=deletes[i]["key"], how="left_anti")
            if need_lineage and not with_lineage:
                part = part.drop(self._POS_FILE, self._POS_IDX)
            for c in sorted(defcols):
                expr_s, dtype, _pre = defaults[c]
                part = part.withColumn(
                    c, F.coalesce(F.col(c), F.expr(expr_s).cast(dtype))
                )
            parts.append(part)
        out = parts[0]
        for p_ in parts[1:]:
            out = out.unionByName(p_, allowMissingColumns=merge_schema)
        return out.coalesce(1) if one else out

    @staticmethod
    def _schema_defaults(schema_json: str) -> dict:
        """{col: (default SQL literal, DataType, pre-evolve dirs)} for
        fields carrying an initial-default (add_column(default=...))."""
        stored = T.StructType.fromJson(json.loads(schema_json))
        out = {}
        for f in stored.fields:
            md = f.metadata or {}
            if "default" in md:
                out[f.name] = (
                    md["default"],
                    f.dataType,
                    tuple(md.get("default_pre_dirs", [])),
                )
        return out

    @staticmethod
    def _physical_map(schema_json: str) -> dict[str, str]:
        """logical → PHYSICAL column name per the committed schema.

        A field's physical name is the name its values are written
        under in data files; it is set at the field's creation and
        NEVER changes (metadata-only RENAME moves only the logical
        name, recording the original in the field metadata) — so one
        physical name is valid across the table's whole file history,
        the invariant both the explicit-schema read and the
        envelope/bloom scans rely on."""
        stored = T.StructType.fromJson(json.loads(schema_json))
        return {
            f.name: (f.metadata or {}).get("physical", f.name)
            for f in stored.fields
        }

    def _to_physical(self, df: DataFrame, schema_json: str) -> DataFrame:
        """Rename logical → physical column names immediately before a
        file write, so every data file ever written carries the same
        physical names regardless of later renames. No-op (and no plan
        node) for never-renamed tables. Columns not in the schema
        (e.g. additive-evolution columns an append introduces) keep
        their own name — their physical name IS their logical name."""
        m = self._physical_map(schema_json)
        if all(l == p for l, p in m.items()):
            return df
        return df.select(
            *[F.col(c).alias(m.get(c, c), metadata={}) for c in df.columns]
        )

    def _read_dirs(
        self,
        dirs: list[str],
        merge_schema: bool = False,
        schema_json: str | None = None,
        one_split: bool | None = None,
    ) -> DataFrame:
        """Scan frame over data dirs (or files) of one snapshot, read
        under the committed schema when ``schema_json`` is given.

        Every snapshot scan frame (`read`, the views `execute_sql`
        registers and prunes, time travel, `table_changes`, the MOR
        reads) is built here or in `_read_dirs_lineage`. A read whose
        files total less than SMALL_SCAN_BYTES, in fewer than
        SMALL_SCAN_FILES files, comes back as one partition
        (``coalesce(1)``, no shuffle): Spark then reports
        SinglePartition, plans no Exchange, and runs scan plus
        aggregate as one job of one task. Below the gates, the launches
        of a parallel scan stage and of each exchange's stage cost more
        than scanning the files on one core; above them the plan is
        unchanged. ``one_split`` passes a decision the caller already
        made for a larger read (data plus delete files)."""
        if not dirs:
            # a TRUNCATEd snapshot has an empty file list: an empty
            # frame in the committed (logical) schema, no scan at all
            if schema_json is None:
                raise ValueError(
                    f"table {self.name}: cannot read zero dirs without a schema"
                )
            stored = T.StructType.fromJson(json.loads(schema_json))
            return self.spark.createDataFrame(
                [],
                T.StructType(
                    [T.StructField(f.name, f.dataType, True) for f in stored.fields]
                ),
            )
        # recursiveFileLookup: read leaf files only, no partition-column
        # discovery — partition values live INSIDE the files (shadow-
        # column layout), so dirs written under different partition
        # specs union cleanly.
        reader = self.spark.read.option("recursiveFileLookup", "true")
        if schema_json is not None:
            # Iceberg read model: the COMMITTED schema, not file-footer
            # inference, decides the read schema. Files missing a column
            # (written before a metadata-only ADD COLUMN) surface it as
            # NULL; physical types always match because every write path
            # casts to the table type (_align_append_to_schema). This
            # also skips the footer-merge inference job entirely.
            # Fields are forced nullable: a column declared non-null by
            # the frame that created the table CAN be NULL in files
            # written before it existed, and a falsely non-null read
            # schema licenses the optimizer to prune IS NULL branches.
            stored = T.StructType.fromJson(json.loads(schema_json))
            phys = self._physical_map(schema_json)
            if all(f.name == phys[f.name] for f in stored.fields):
                reader = reader.schema(
                    T.StructType(
                        [
                            T.StructField(f.name, f.dataType, True, f.metadata)
                            for f in stored.fields
                        ]
                    )
                )
                return _split_small(reader.parquet(*dirs), dirs, one_split)
            # Metadata-only RENAME support: files carry PHYSICAL names,
            # so the reader schema lists those, and one projection maps
            # physical → logical (aliases push through Catalyst, so
            # pruning/pushdown on logical columns still reach the scan).
            # Metadata is stripped from the output: a frame that flows
            # from here into overwrite() must not re-commit a stale
            # physical mapping against files it will rewrite under
            # logical names.
            reader = reader.schema(
                T.StructType(
                    [
                        T.StructField(phys[f.name], f.dataType, True)
                        for f in stored.fields
                    ]
                )
            )
            df = reader.parquet(*dirs).select(
                *[
                    F.col(phys[f.name]).alias(f.name, metadata={})
                    for f in stored.fields
                ]
            )
            return _split_small(df, dirs, one_split)
        elif merge_schema:
            reader = reader.option("mergeSchema", "true")
        return _split_small(reader.parquet(*dirs), dirs, one_split)

    # row-lineage column names (position-delete coordinates)
    _POS_FILE = "_pos_file"
    _POS_IDX = "_pos_idx"

    def _read_dirs_lineage(
        self, dirs: list[str], schema_json: str, one_split: bool | None = None
    ) -> DataFrame:
        """_read_dirs plus the two ROW-LINEAGE columns position deletes
        key on: `_pos_file` / `_pos_idx` from the parquet scan's hidden
        `_metadata` column (file_path, row_index — Spark 3.5+ public
        surface). Zero extra I/O: the coordinates come from the scan
        itself, which is exactly what makes (file, ordinal) a stable row
        identity over immutable files (Iceberg v2 position deletes)."""
        if not dirs:
            stored = T.StructType.fromJson(json.loads(schema_json))
            return self.spark.createDataFrame(
                [],
                T.StructType(
                    [T.StructField(f.name, f.dataType, True) for f in stored.fields]
                    + [
                        T.StructField(self._POS_FILE, T.StringType(), True),
                        T.StructField(self._POS_IDX, T.LongType(), True),
                    ]
                ),
            )
        stored = T.StructType.fromJson(json.loads(schema_json))
        phys = self._physical_map(schema_json)
        reader = self.spark.read.option("recursiveFileLookup", "true").schema(
            T.StructType(
                [
                    T.StructField(phys[f.name], f.dataType, True)
                    for f in stored.fields
                ]
            )
        )
        df = reader.parquet(*dirs).select(
            *[
                F.col(phys[f.name]).alias(f.name, metadata={})
                for f in stored.fields
            ],
            F.col("_metadata.file_path").alias(self._POS_FILE),
            F.col("_metadata.row_index").alias(self._POS_IDX),
        )
        return _split_small(df, dirs, one_split)

    @staticmethod
    def _walk_parquet(d: str) -> list[str]:
        """Deterministic sorted parquet listing of one data dir — or of
        a single FILE (stat-refined pruned reads pass file paths through
        the same scan-group machinery as dirs)."""
        if os.path.isfile(d):
            return [d] if d.endswith(".parquet") else []
        out = []
        for r_, ds_, fs in os.walk(d):
            ds_.sort()
            for f in sorted(fs):
                if f.endswith(".parquet"):
                    out.append(os.path.join(r_, f))
        return out

    # above this many referenced files, file-granular position-delete
    # application falls back to the whole-group lineage read (the probe
    # is a driver collect of DISTINCT file paths — bounded for the
    # point-shaped deletes the feature exists for)
    _POS_REF_FILE_CAP = 10_000

    def _referenced_pos_files(self, pos_idx, deletes) -> set | None:
        """Distinct file paths the given position-delete entries touch,
        or None when the set exceeds _POS_REF_FILE_CAP."""
        ref: set = set()
        for i in pos_idx:
            rows = (
                self.spark.read.parquet(deletes[i]["dir"])
                .select("file_path")
                .distinct()
                .limit(self._POS_REF_FILE_CAP + 1)
                .collect()
            )
            if len(rows) > self._POS_REF_FILE_CAP:
                return None
            ref |= {r["file_path"] for r in rows}
        return ref if len(ref) <= self._POS_REF_FILE_CAP else None

    def _apply_position_delete(self, part: DataFrame, dd: dict) -> DataFrame:
        """Anti-join one position-delete file against a lineage-bearing
        frame — O(|deleted positions|) broadcast-sized in the common
        point-correction case."""
        keys = self.spark.read.parquet(dd["dir"]).select(
            F.col("file_path").alias(self._POS_FILE),
            F.col("row_index").alias(self._POS_IDX),
        )
        return part.join(keys, on=[self._POS_FILE, self._POS_IDX], how="left_anti")

    def _prune_value(self, entry: str, value, schema_json: str):
        """The hive dir value ``entry`` maps ``value`` to — evaluated by
        the SAME JVM expression the writer used (date_format / xxhash64 /
        truncate), on a one-row frame, so prune and write can never
        disagree on session-timezone or hash details. Bounded driver
        probe (1 row), metadata-sized like the constraint probes."""
        kind, _n, src = parse_transform(entry)
        if kind == "identity":
            return value
        dtype = T.StructType.fromJson(json.loads(schema_json))[src].dataType
        row = (
            self.spark.range(1)
            .select(
                transform_expr_on(F.lit(value).cast(dtype), dtype, entry).alias("v")
            )
            .collect()[0]
        )
        return row["v"]

    def read_pruned(self, col: str, value, version: int | None = None) -> DataFrame:
        """Exactly read().filter(col == value), scanning only what
        `plan_files` keeps. Dirs led by a TRANSFORM over ``col`` (hidden
        partitioning: filtering ts prunes days(ts) dirs) prune on the
        value the writer's own JVM expression maps ``value`` to."""
        cur = version if version is not None else self.current_version()
        meta = self._read_meta(cur)
        bounds = {col: (value, value)}
        for spec in self._dir_specs(meta):
            if spec and spec[0] not in bounds and transform_source(spec[0]) == col:
                tv = self._prune_value(spec[0], value, meta["schema"])
                bounds[spec[0]] = (tv, tv)
        paths, _ = self.plan_files(meta, bounds)
        return self._read_dirs_mor(meta, paths).filter(F.col(col) == F.lit(value))

    def read_pruned_transform(
        self, entry: str, tvalue, version: int | None = None
    ) -> tuple[DataFrame, dict]:
        """Hidden-partitioning point read: exactly read().filter(
        transform(col) == tvalue) (entry='days(ts)', tvalue='2024-01-03'
        reads one day). Returns (df, audit): dirs_pruned /
        subdirs_selected / dirs_full_scan / mor_deletes_applied let a
        registered story hash-check that pruning actually happened."""
        df, audit = self.read_pruned_transform_range(entry, tvalue, tvalue, version)
        del audit["subdirs_pruned"]
        return df, audit

    def read_pruned_transform_range(
        self, entry: str, lo, hi, version: int | None = None
    ) -> tuple[DataFrame, dict]:
        """Hidden-partitioning RANGE read: exactly read().filter(lo <=
        transform(col) <= hi), both ends inclusive, either end None for
        an open range — `ts BETWEEN a AND b` over a days(ts) table is
        the dominant event-table read shape (Iceberg: a manifest range
        scan over partition bounds) — scanning only what `plan_files`
        keeps. Time-transform values compare as fixed-width strings
        (chronological order), integer truncate values numerically;
        bucket() has no ordering, so it serves point reads only.
        Returns (df, audit) like `read_pruned_transform`, plus
        subdirs_pruned."""
        entry = canonical_transform(entry)
        if lo is None and hi is None:
            raise ValueError("range pruning needs at least one bound")
        if parse_transform(entry)[0] == "bucket" and lo != hi:
            raise ValueError(
                "range pruning over bucket() has no ordering semantics"
            )
        cur = version if version is not None else self.current_version()
        meta = self._read_meta(cur)
        paths, decision = self.plan_files(meta, {entry: (lo, hi)})
        src = transform_source(entry)
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        texpr = transform_expr_on(F.col(src), schema[src].dataType, entry)
        if lo == hi:
            residual = texpr == F.lit(lo)
        else:
            residual = F.lit(True)
            if lo is not None:
                residual = residual & (texpr >= F.lit(lo))
            if hi is not None:
                residual = residual & (texpr <= F.lit(hi))
        audit = decision.audit(meta)
        del audit["files_skipped_by_stats"]
        return self._read_dirs_mor(meta, paths).filter(residual), audit

    def plan_files(self, meta: dict, bounds: dict) -> tuple[list[str], Decision]:
        """The one file planner behind every pruned read and predicate
        DML: the paths of snapshot ``meta`` that may hold a row inside
        ``bounds``, and the Decision tallying each level.

        ``bounds`` maps a column to an inclusive raw-value range
        ``(lo, hi)`` (None = open end), or a transform entry such as
        ``days(ts)`` to a range of its partition values. (1) Each dir's
        lead spec entry gets a transform-value range (`_transform_range`);
        (2) such dirs keep only the hive subdirs whose DECODED value is
        in range, other dirs read whole; (3) files whose footer stats
        provably miss a column bound drop out — paths are files only
        then. Anything unprovable keeps its input, so the caller's own
        filter stays the residual."""
        tz = self.spark.conf.get("spark.sql.session.timeZone")
        decision = Decision()
        ranges: dict = {}
        chosen: list[str] = []
        for d, spec in zip(meta["dirs"], self._dir_specs(meta)):
            e = spec[0] if spec else None
            if e is not None and e not in ranges:
                ranges[e] = self._transform_range(e, bounds, meta, tz, decision.dirs)
            if ranges.get(e) is None:
                chosen.append(d)
                continue
            tlo, thi = ranges[e]
            as_int = isinstance(tlo if tlo is not None else thi, int)
            # Spark's writer files '' with NULL under the default
            # partition: a string range reaching '' keeps that subdir
            kind = parse_transform(e)[0]
            keep_default = not (as_int or tlo) and kind in ("identity", "truncate")
            pre = f"_p_{transform_slug(e)}="
            try:
                names = sorted(os.listdir(d))
            except FileNotFoundError:
                names = []
            picked = []
            for nm in names:
                p = os.path.join(d, nm)
                if not (nm.startswith(pre) and os.path.isdir(p)):
                    continue
                v = hive_unescape_value(nm[len(pre):])
                if v == HIVE_DEFAULT_PARTITION:
                    keep = keep_default
                else:
                    try:
                        v = int(v) if as_int else v
                        keep = (tlo is None or v >= tlo) and (thi is None or v <= thi)
                    except ValueError:
                        keep = False
                if decision.subdirs.count(keep):
                    picked.append(p)
            if decision.dirs.count(bool(picked)):
                chosen.extend(picked)
        phys = self._physical_map(meta["schema"])
        raw = {c: b for c, b in bounds.items() if c in phys}
        if not (raw and chosen):
            return chosen, decision
        files = decision.files
        refined: list[str] = []
        for p in chosen:
            try:
                stats = self._dir_file_stats(p)["files"]
            except (OSError, ValueError) as ex:  # ValueError: bad footer
                files.decline(f"footer stats unreadable in {p}: {ex!r}")
                n = len(self._walk_parquet(p))
                files.considered += n
                files.selected += n
                refined.append(p)
                continue
            for rel, ent in stats.items():
                keep = True
                for col, (lo, hi) in raw.items():
                    ce = ent["cols"].get(phys[col])
                    if ce is None:
                        continue
                    if ce["kind"] == "ts" and tz not in ("UTC", "Etc/UTC", "GMT", "Z"):
                        # ts stats are NAIVE UTC, bounds session-rendered
                        files.decline(f"timestamp stats need a UTC session, not {tz}")
                        continue
                    if ent["rows"] > 0 and ce["nulls"] >= ent["rows"]:
                        keep = False  # no bound conjunct is NULL-satisfied
                        break
                    try:
                        mn = self._stats_decode(ce["min"], ce["kind"])
                        mx = self._stats_decode(ce["max"], ce["kind"])
                        keep = not (
                            (lo is not None and mx < lo) or (hi is not None and mn > hi)
                        )
                    except (TypeError, ValueError):
                        continue  # incomparable stats keep the file
                    if not keep:
                        break
                if files.count(keep):
                    refined.append(os.path.join(p, rel))
        return (refined if files.pruned else chosen), decision

    def _transform_range(
        self, e: str, bounds: dict, meta: dict, tz: str, level: Level
    ) -> tuple | None:
        """Inclusive (lo, hi) range of entry ``e``'s partition values
        (str or int ends, None = open) that every row inside ``bounds``
        lies in, or None when ``bounds`` leaves ``e`` open or the range
        is not provable — the reason then goes to ``level``. Given
        transform values pass through; raw bounds map through the
        transform, which is MONOTONE for all but bucket(), whose point
        bounds go through the writer's own xxhash64 probe."""
        kind, n, src = parse_transform(e)
        given = e in bounds and kind != "identity"
        lo, hi = bounds[e] if given else bounds.get(src, (None, None))
        ends = [v for v in (lo, hi) if v is not None]
        if not ends:
            return None
        if kind in _TIME_TRANSFORM_FMT and meta.get("tz") not in (None, tz):
            level.decline(
                f"{e} values were rendered in {meta['tz']}, the session is in {tz}"
            )
            return None

        def all_of(typ) -> bool:
            return all(isinstance(v, typ) and not isinstance(v, bool) for v in ends)

        def each(f) -> tuple:
            return tuple(None if v is None else f(v) for v in (lo, hi))

        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        dtype = schema[src].dataType if src in schema.fieldNames() else None
        res = None
        if given:
            res = (lo, hi) if all_of(str) or all_of(int) else None
        elif kind in _TIME_TRANSFORM_FMT:
            if all_of(datetime.date):  # datetime is a date subclass
                # the writer's date_format pattern as strftime: the same
                # rendering under the matching session timezone, no job
                fmt = _TIME_TRANSFORM_FMT[kind]
                pairs = ("yyyy", "%Y"), ("MM", "%m"), ("dd", "%d"), ("HH", "%H")
                for java, py in pairs:
                    fmt = fmt.replace(java, py)
                res = each(lambda v: v.strftime(fmt))
        elif kind == "bucket":
            if lo == hi:
                try:
                    b = int(self._prune_value(e, lo, meta["schema"]))
                except _SPARK_ERRORS + (TypeError, ValueError) as ex:
                    level.decline(f"{e} probe of {lo!r} failed: {ex!r}")
                    return None
                res = (b, b)
        elif isinstance(dtype, T.StringType) and all_of(str):
            res = (lo, hi) if kind == "identity" else each(lambda v: v[:n])
        elif isinstance(dtype, _INT_TYPES) and all_of(int):
            res = (lo, hi) if kind == "identity" else each(lambda v: v - v % n)
        if res is None:
            level.decline(f"bound {(lo, hi)!r} on {src} does not map to {e} values")
        return res

    def changes(
        self,
        start_version: int,
        end_version: int | None = None,
        key: str | None = None,
    ) -> DataFrame:
        """Row-level CDC read between snapshots — the Delta
        `table_changes` / Iceberg changelog-scan model: every change
        COMMITTED in versions [start_version, end_version] (inclusive,
        Delta's bounds), as table rows plus `_change_type`,
        `_commit_version`, `_commit_timestamp`.

        File-pruned per commit, never a full-table diff:
        - append-shaped commits (create/append) scan ONLY the files the
          commit added → `insert` rows;
        - merge-on-read delete commits scan only the dirs the new
          equality-delete entries apply to, semi-joined on the delete
          keys → `delete` rows;
        - copy-on-write change commits (merge/delete/update/overwrite/
          compact/truncate/rollback) diff ONLY the file sets the commit
          swapped: `exceptAll` both ways between removed and added
          files (exact multiset semantics — a compaction rewrite diffs
          to zero rows), each side read under its own committed schema;
        - metadata-only commits contribute nothing.

        Without stored row lineage an update surfaces as its
        delete+insert pair (exactly Iceberg's changelog scan). Pass
        ``key`` to fold pairs that share a key within one commit into
        `update_preimage`/`update_postimage` (Delta CDF's shape).

        Output columns follow the END version's committed schema (rows
        from older schemas surface later-added columns as NULL). Raises
        if the range references an expired snapshot — same contract as
        time travel."""
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"table {self.name}: no snapshots")
        end = end_version if end_version is not None else cur
        versions = set(self._versions())
        if not (1 <= start_version <= end <= cur):
            raise ValueError(
                f"table {self.name}: invalid change range "
                f"[{start_version}, {end}] (table is at v{cur})"
            )
        for v in range(max(start_version - 1, 1), end + 1):
            if v not in versions:
                raise ValueError(
                    f"table {self.name}: v{v} was expired — CHANGES "
                    f"cannot replay it; start after the earliest "
                    "retained snapshot"
                )
        end_meta = self._read_meta(end)
        end_schema = T.StructType.fromJson(json.loads(end_meta["schema"]))
        out_cols = [f.name for f in end_schema.fields]

        end_defaults = self._schema_defaults(end_meta["schema"])

        def align(df: DataFrame) -> DataFrame:
            # a column missing from a commit-era frame means every row
            # of that frame PREDATES the column's ADD COLUMN — if the
            # field carries an initial-default, the changelog surfaces
            # the default, not NULL (Iceberg v3 initial-default
            # semantics; r15 — matches the streaming CDC tail and the
            # batch read's per-dir coalesce)
            def missing(c, f):
                if c in end_defaults:
                    expr_s, dtype, _pre = end_defaults[c]
                    return F.expr(expr_s).cast(dtype).alias(c)
                return F.lit(None).cast(f.dataType).alias(c)

            return df.select(
                *[
                    F.col(c).cast(f.dataType)
                    if c in df.columns
                    else missing(c, f)
                    for c, f in zip(out_cols, end_schema.fields)
                ]
            )

        def tag(df: DataFrame, ctype: str, v: int, ts: float | None) -> DataFrame:
            return align(df).select(
                "*",
                F.lit(ctype).alias("_change_type"),
                F.lit(v).cast("int").alias("_commit_version"),
                F.lit(ts).cast("double").cast("timestamp").alias("_commit_timestamp"),
            )

        parts: list[DataFrame] = []
        for v in range(start_version, end + 1):
            meta = self._read_meta(v)
            ts = meta.get("ts")
            parent_meta = self._read_meta(v - 1) if v > 1 else None
            p_dirs = parent_meta["dirs"] if parent_meta else []
            p_set, m_set = set(p_dirs), set(meta["dirs"])
            added = [d for d in meta["dirs"] if d not in p_set]
            removed = [d for d in p_dirs if d not in m_set]
            p_ndel = len(parent_meta.get("delete_dirs", [])) if parent_meta else 0
            new_deletes = meta.get("delete_dirs", [])[p_ndel:]
            if not added and not removed and not new_deletes:
                continue  # metadata-only commit
            ins = del_ = None
            if removed or (added and self._op_is_change(meta)):
                # copy-on-write swap: diff exactly the swapped file sets
                old_df = (
                    self._read_dirs_mor(parent_meta, removed)
                    if removed
                    else self._read_dirs([], schema_json=parent_meta["schema"])
                )
                new_df = (
                    self._read_dirs_mor(meta, added)
                    if added
                    else self._read_dirs([], schema_json=meta["schema"])
                )
                old_a, new_a = align(old_df), align(new_df)
                ins, del_ = new_a.exceptAll(old_a), old_a.exceptAll(new_a)
            elif added:
                # append-shaped: the commit's new files ARE the inserts
                # (equality deletes never apply to files newer than the
                # delete commit, so the plain pruned read is exact)
                ins = self._read_dirs(added, schema_json=meta["schema"])
            for dd in new_deletes:
                # merge-on-read delete: deleted rows = parent-state rows
                # in the dirs this delete applies to, matching its keys
                # (equality) or its (file, ordinal) coordinates (position)
                applies = [
                    d for d in dd.get("applies_to", p_dirs) if d in p_set
                ]
                if not applies:
                    continue
                if dd.get("kind") == "position":
                    base = self._read_dirs_mor(
                        parent_meta, applies, with_lineage=True
                    )
                    keys = self.spark.read.parquet(dd["dir"]).select(
                        F.col("file_path").alias(self._POS_FILE),
                        F.col("row_index").alias(self._POS_IDX),
                    )
                    hit = base.join(
                        keys, on=[self._POS_FILE, self._POS_IDX], how="semi"
                    ).drop(self._POS_FILE, self._POS_IDX)
                else:
                    keys = self.spark.read.parquet(dd["dir"])
                    hit = self._read_dirs_mor(parent_meta, applies).join(
                        keys, on=dd["key"], how="semi"
                    )
                del_ = hit if del_ is None else align(del_).unionByName(align(hit))
            if key is not None and ins is not None and del_ is not None:
                # Fold delete+insert pairs sharing a key into update_
                # preimage/postimage in ONE pass: tag each side, union,
                # and decide per row from windowed has-insert/has-delete
                # flags. The old intersect + 4 semi/anti joins evaluated
                # the ins/del subtrees (for CoW commits: the full
                # exceptAll diff) up to five times in one plan and added
                # five key shuffles; this shape computes each diff once
                # and shuffles the commit delta by key once. NULL keys
                # never pair (the legacy semi-join equality semantics):
                # they stay plain insert/delete rows.
                from pyspark.sql import Window as _W

                ins_a, del_a = align(ins), align(del_)
                both = ins_a.withColumn("_side", F.lit("i")).unionByName(
                    del_a.withColumn("_side", F.lit("d"))
                )
                w = _W.partitionBy(key)
                has_i = F.max((F.col("_side") == "i").cast("int")).over(w)
                has_d = F.max((F.col("_side") == "d").cast("int")).over(w)
                paired = (
                    F.col(key).isNotNull() & (has_i == 1) & (has_d == 1)
                )
                ctype = (
                    F.when(
                        paired & (F.col("_side") == "i"),
                        F.lit("update_postimage"),
                    )
                    .when(paired, F.lit("update_preimage"))
                    .when(F.col("_side") == "i", F.lit("insert"))
                    .otherwise(F.lit("delete"))
                )
                parts.append(
                    both.select(
                        *out_cols,
                        ctype.alias("_change_type"),
                        F.lit(v).cast("int").alias("_commit_version"),
                        F.lit(ts)
                        .cast("double")
                        .cast("timestamp")
                        .alias("_commit_timestamp"),
                    )
                )
            else:
                if ins is not None:
                    parts.append(tag(ins, "insert", v, ts))
                if del_ is not None:
                    parts.append(tag(del_, "delete", v, ts))
        if not parts:
            empty = self._read_dirs([], schema_json=end_meta["schema"])
            return tag(empty, "insert", end, None).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _op_is_change(meta: dict) -> bool:
        """True for commits whose added files may REPLACE rows (CoW
        change family) rather than extend the table (append family)."""
        op = meta.get("op", "")
        return not (op in ("create", "append") or op.startswith("append@"))

    def drop(self) -> None:
        if os.path.isdir(self.base):
            shutil.rmtree(self.base)

    def rename_to(self, new_name: str) -> "SnapshotTable":
        """`ALTER TABLE ... RENAME TO`: a catalog-level move — history,
        refs, schema, data, and sidecar indexes all travel. Commits
        record data dirs as ABSOLUTE paths, so the move is the directory
        rename plus a prefix rewrite of the path references in each
        version's metadata JSON (O(|versions|) metadata-sized writes,
        zero data rewrites — file bytes never move; the dirs live under
        the renamed base). Catalog-level like drop(): not OCC-protected
        against a concurrent writer of the SAME table — Iceberg's
        rename is likewise a catalog pointer swap, not a table commit.
        Returns a handle bound to the new name."""
        if not re.match(r"^\w+$", new_name):
            raise ValueError(f"invalid table name: {new_name!r}")
        if self.current_version() is None:
            raise ValueError(f"table {self.name}: cannot RENAME before create")
        new_base = os.path.join(self.root, new_name)
        if os.path.exists(new_base):
            raise ValueError(
                f"cannot rename {self.name!r} to {new_name!r}: target exists"
            )
        os.rename(self.base, new_base)
        old_prefix, new_prefix = self.base + os.sep, new_base + os.sep
        meta_dir = os.path.join(new_base, "_meta")
        for fn in sorted(os.listdir(meta_dir)):
            if not fn.endswith(".json"):
                continue
            p = os.path.join(meta_dir, fn)
            raw = open(p).read()
            if old_prefix in raw:
                # atomic fixup (ADVICE r12): tmp + os.replace, the same
                # publish discipline as _commit — a truncating in-place
                # rewrite could leave a corrupt snapshot JSON on crash
                tmp = p + ".rename_tmp"
                with open(tmp, "w") as fh:
                    fh.write(raw.replace(old_prefix, new_prefix))
                os.replace(tmp, p)
        return SnapshotTable(self.spark, new_name, self.root)


# ------------------------------------------------------------------ queries
#
# Each registered query rebuilds its managed table from the driver's base
# parquet (idempotent: drop + recreate), exercises the lifecycle, and
# returns a read-back result whose oracle is expressible over the base
# tables alone — so the write path is differentially checked end-to-end.


@register(
    "table_snapshot_lifecycle",
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
    doc="CREATE → APPEND → APPEND on the managed snapshot table, then a "
    "time-travel read of EVERY version (VERSION AS OF semantics); "
    "differentially checked against filters over the base table.",
)
def table_snapshot_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_lifecycle", scratch_root())
    t.drop()
    t.create(orders.filter(F.col("o_orderstatus") == "O"))
    t.append(orders.filter(F.col("o_orderstatus") == "F"))
    t.append(orders.filter(F.col("o_orderstatus") == "P"))
    parts = []
    for v in (1, 2, 3):
        parts.append(
            t.read(version=v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n_rows"),
                F.round(exact_sum2("o_totalprice"), 2).alias("total_price"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("version", "n_rows", "total_price").orderBy("version")


@register(
    "table_merge_upsert",
    oracle=f"""
    WITH source AS (
        SELECT c_custkey, c_mktsegment, CAST(c_acctbal + 1000.0 AS DOUBLE) AS c_acctbal
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEWSEG', CAST(42.42 AS DOUBLE)
        FROM customer WHERE c_custkey % 100 = 0
    ),
    merged AS (
        SELECT c.c_custkey, c.c_mktsegment, CAST(c.c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer c LEFT JOIN source s ON c.c_custkey = s.c_custkey
        WHERE s.c_custkey IS NULL
        UNION ALL
        SELECT * FROM source
    )
    SELECT c_mktsegment, count(*) AS n_rows, round({sql_sum2('c_acctbal')}, 2) AS sum_acctbal
    FROM merged
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Copy-on-write MERGE INTO (update matched + insert unmatched) on "
    "the managed table; read-back aggregate checked against the same "
    "merge expressed relationally over the base table.",
)
def table_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )
    t = SnapshotTable(spark, "customer_merge", scratch_root())
    t.drop()
    t.create(cust)
    updates = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", "c_mktsegment", (F.col("c_acctbal") + 1000.0).alias("c_acctbal")
    )
    inserts = cust.filter(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit("NEWSEG").alias("c_mktsegment"),
        F.lit(42.42).cast("double").alias("c_acctbal"),
    )
    t.merge(updates.unionByName(inserts), key="c_custkey")
    return (
        t.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "table_merge_pruned",
    oracle=f"""
    WITH bounds AS (SELECT max(c_custkey) AS kmax FROM customer),
    source AS (
        SELECT c_custkey, c_mktsegment,
               CAST(c_acctbal + 500.0 AS DOUBLE) AS c_acctbal
        FROM customer, bounds
        WHERE c_custkey > (2 * kmax) // 3 AND c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 10 * kmax, 'PRUNESEG', CAST(7.77 AS DOUBLE)
        FROM customer, bounds WHERE c_custkey % 100 = 0
    ),
    merged AS (
        SELECT c.c_custkey, c.c_mktsegment,
               CAST(c.c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer c LEFT JOIN source s ON c.c_custkey = s.c_custkey
        WHERE s.c_custkey IS NULL
        UNION ALL
        SELECT * FROM source
    )
    SELECT c_mktsegment, count(*) AS n_rows,
           round({sql_sum2('c_acctbal')}, 2) AS sum_acctbal,
           CAST(1 AS INT) AS dirs_rewritten,
           CAST(2 AS INT) AS dirs_reused
    FROM merged
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="File-PRUNED MERGE proof (Iceberg overwrite-by-filter): the table "
    "lands as three data dirs covering disjoint c_custkey thirds; the "
    "source's keys live strictly above the 2/3 boundary, so its key "
    "envelope intersects only the top dir — merge() must rewrite "
    "exactly 1 dir and carry 2 by reference. The audit counts "
    "(dirs_rewritten=1, dirs_reused=2) are emitted as result columns "
    "and hash-checked against the oracle's literals, so the PRUNING "
    "DECISION itself — not just the merged values — is "
    "driver-verified. Byte-identity of the reused dirs is asserted in "
    "tests/test_tables.py.",
)
def table_merge_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )
    k_max = cust.agg(F.max("c_custkey")).first()[0]  # 1 audit scalar
    b1, b2 = k_max // 3, (2 * k_max) // 3
    t = SnapshotTable(spark, "customer_merge_pruned", scratch_root())
    t.drop()
    t.create(cust.filter(F.col("c_custkey") <= b1))
    t.append(cust.filter((F.col("c_custkey") > b1) & (F.col("c_custkey") <= b2)))
    t.append(cust.filter(F.col("c_custkey") > b2))
    updates = cust.filter(
        (F.col("c_custkey") > b2) & (F.col("c_custkey") % 10 == 0)
    ).select(
        "c_custkey", "c_mktsegment", (F.col("c_acctbal") + 500.0).alias("c_acctbal")
    )
    inserts = cust.filter(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + 10 * k_max).alias("c_custkey"),
        F.lit("PRUNESEG").alias("c_mktsegment"),
        F.lit(7.77).cast("double").alias("c_acctbal"),
    )
    _, audit = t.merge(updates.unionByName(inserts), key="c_custkey")
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
    "table_expire_compact",
    oracle="""
    SELECT 3 AS version, 'compact' AS op, count(*) AS n_rows
    FROM nation
    """,
    doc="Snapshot expiry + compaction: 3 snapshots built, compacted to one "
    "file, all but the last expired; the surviving snapshot listing and "
    "its row count are the observable output.",
)
def table_expire_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation")
    t = SnapshotTable(spark, "nation_expire", scratch_root())
    t.drop()
    t.create(nation.filter(F.col("n_nationkey") < 10))
    t.append(nation.filter(F.col("n_nationkey") >= 10))
    t.compact(target_partitions=1)
    t.expire_snapshots(keep_last=1)
    snaps = t.snapshots()
    rows = t.read().count()
    return local_df(
        spark,
        [(s["version"], s["op"], rows) for s in snaps],
        "version int, op string, n_rows bigint",
    )


@register(
    "table_schema_evolution",
    oracle="""
    SELECT count(*)                                    AS n_rows,
           CAST(count(*) FILTER (n_nationkey >= 100) AS BIGINT) AS n_evolved,
           CAST(sum(CASE WHEN n_nationkey >= 100 THEN (n_nationkey - 100) * 2 END) AS BIGINT) AS sum_extra
    FROM (
        SELECT n_nationkey FROM nation
        UNION ALL
        SELECT n_nationkey + 100 FROM nation
    )
    """,
    doc="Additive schema evolution on the snapshot table: v1 is written "
    "without the `n_extra` column, v2 appends rows WITH it; a "
    "merge-schema read surfaces the union schema with NULLs for v1 rows "
    "(Iceberg add-column semantics on plain parquet).",
)
def table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = SnapshotTable(spark, "nation_evolve", scratch_root())
    t.drop()
    t.create(nation)  # v1: two columns
    evolved = nation.select(
        (F.col("n_nationkey") + 100).alias("n_nationkey"),
        "n_name",
        (F.col("n_nationkey") * 2).cast("long").alias("n_extra"),  # new column
    )
    t.append(evolved)  # v2: three columns
    back = t.read(merge_schema=True)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_extra").cast("bigint").alias("n_evolved"),
        F.sum("n_extra").cast("bigint").alias("sum_extra"),
    )


@register(
    "table_rollback_restore",
    oracle=f"""
    WITH v2 AS (SELECT * FROM orders WHERE o_orderstatus IN ('O', 'F')),
         v3 AS (SELECT * FROM v2 WHERE NOT o_totalprice > 150000)
    SELECT 'after_delete' AS step, count(*) AS n_rows,
           round({sql_sum2('o_totalprice')}, 2) AS total_price, 3 AS version FROM v3
    UNION ALL
    SELECT 'after_rollback', count(*), round({sql_sum2('o_totalprice')}, 2), 4 FROM v2
    ORDER BY step
    """,
    doc="Snapshot ROLLBACK (Iceberg rollback_to_snapshot): create v1, "
    "append v2, run a (bad) DELETE as v3, then roll back — a NEW "
    "snapshot v4 restores v2's exact file set while the bad v3 stays "
    "in history for audit. Read-back differentially checked against "
    "the base table; metadata-only restore, no data rewrite.",
)
def table_rollback_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_rollback", scratch_root())
    t.drop()
    t.create(orders.filter(F.col("o_orderstatus") == "O"))  # v1
    v2 = t.append(orders.filter(F.col("o_orderstatus") == "F"))  # v2
    t.delete_where(F.col("o_totalprice") > 150000)  # v3: the bad delete
    stats3 = t.read().agg(
        F.count(F.lit(1)).alias("n"),
        F.round(exact_sum2("o_totalprice"), 2).alias("s"),
    ).collect()[0]
    v4 = t.rollback(v2)  # restore, keeping v3 in history
    stats4 = t.read().agg(
        F.count(F.lit(1)).alias("n"),
        F.round(exact_sum2("o_totalprice"), 2).alias("s"),
    ).collect()[0]
    assert [m["version"] for m in t.snapshots()] == [1, 2, 3, 4]
    return local_df(
        spark,
        [
            ("after_delete", int(stats3["n"]), float(stats3["s"]), 3),
            ("after_rollback", int(stats4["n"]), float(stats4["s"]), int(v4)),
        ],
        "step string, n_rows long, total_price double, version int",
    )


@register(
    "table_incremental_diff",
    oracle="""
    WITH added_v2 AS (
        SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F'
    ),
    removed_v3 AS (
        SELECT count(*) AS n FROM orders
        WHERE o_orderstatus IN ('O', 'F') AND o_totalprice < 10000.0
    )
    SELECT 1 AS from_version, 2 AS to_version, 'added' AS change,
           CAST((SELECT n FROM added_v2) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 1, 2, 'removed', CAST(0 AS BIGINT)
    UNION ALL
    SELECT 2, 3, 'added', CAST(0 AS BIGINT)
    UNION ALL
    SELECT 2, 3, 'removed', CAST((SELECT n FROM removed_v3) AS BIGINT)
    ORDER BY from_version, change
    """,
    doc="Incremental snapshot diff (Iceberg incremental-read / CDC "
    "semantics on the snapshot table): CREATE(status=O) → "
    "APPEND(status=F) → DELETE(totalprice<10000), then for each "
    "consecutive snapshot pair report rows added and removed via "
    "anti-joins between the time-travel reads. Each diff is one "
    "orderkey-keyed left-anti join whose sides are column-pruned to "
    "the key, reduced to a scalar count — at scale the anti-join "
    "shuffles on the uniformly-distributed key and nothing else "
    "moves. Differentially checked against the same change sets "
    "expressed over the base orders table.",
)
def table_incremental_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_incremental", scratch_root())
    t.drop()
    t.create(orders.filter(F.col("o_orderstatus") == "O"))
    t.append(orders.filter(F.col("o_orderstatus") == "F"))
    t.delete_where(F.col("o_totalprice") < 10000.0)

    def diff_count(a: DataFrame, b: DataFrame) -> DataFrame:
        """rows in b and not in a, by primary key, as a 1-row count"""
        return (
            b.select("o_orderkey")
            .join(a.select("o_orderkey"), "o_orderkey", "left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        )

    v1, v2, v3 = (t.read(version=v) for v in (1, 2, 3))
    parts = []
    for frm, to, change, d in (
        (1, 2, "added", diff_count(v1, v2)),
        (1, 2, "removed", diff_count(v2, v1)),
        (2, 3, "added", diff_count(v2, v3)),
        (2, 3, "removed", diff_count(v3, v2)),
    ):
        parts.append(
            d.select(
                F.lit(frm).alias("from_version"),
                F.lit(to).alias("to_version"),
                F.lit(change).alias("change"),
                "n_rows",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("from_version", "change")


@register(
    "table_partition_evolution",
    oracle=f"""
    SELECT o_orderstatus,
           o_orderpriority,
           count(*) AS n_rows,
           round({sql_sum2('o_totalprice')}, 2) AS sum_price
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """,
    doc="Iceberg-style partition-spec evolution: half the orders are "
    "written partitioned by o_orderstatus, the spec is then evolved "
    "to o_orderpriority, and the other half lands under the new "
    "layout — no data rewritten, both layouts coexist in one table "
    "because partition values live inside the files (shadow-column "
    "hive layout) and reads are layout-independent. The read-back "
    "aggregate must equal the plain aggregate over ALL base orders; "
    "metadata-driven pruning across the mixed specs is asserted in "
    "tests/test_tables.py.",
)
def table_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_partevo", scratch_root())
    t.drop()
    t.create(
        orders.filter(F.col("o_orderkey") % 2 == 0), partition_by=["o_orderstatus"]
    )
    t.evolve_partitioning(["o_orderpriority"])
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1))
    return (
        t.read()
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_sum2(F.col("o_totalprice")), 2).alias("sum_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


# ------------------------------------------------- write-audit-publish


@register(
    "table_wap_publish",
    oracle="""
    WITH base AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F'),
         batch AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'O'),
         bad AS (SELECT count(*) AS n FROM orders
                 WHERE o_orderstatus = 'O' AND o_orderkey % 97 = 0)
    SELECT '1_staged' AS step, 2 AS version,
           CAST(base.n + batch.n AS BIGINT) AS n_rows,
           CAST(bad.n AS BIGINT) AS n_violations
    FROM base, batch, bad
    UNION ALL
    SELECT '2_rolled_back', 3, CAST(base.n AS BIGINT), 0 FROM base
    UNION ALL
    SELECT '3_published', 4, CAST(base.n + batch.n AS BIGINT), 0
    FROM base, batch
    ORDER BY step
    """,
    doc="Iceberg write-audit-publish (WAP) pattern on the snapshot "
    "table: stage a batch as an unpublished snapshot, run the "
    "data-quality audit against the staged state, and either publish "
    "or rollback_to_snapshot — history keeps the rejected snapshot "
    "auditable. The audit is a filter-aggregate (map-side partial "
    "counts); the publish decision reads ONE scalar on the driver, "
    "exactly the orchestrator role Iceberg's WAP workflow assigns it. "
    "Differentially checked against base-table arithmetic.",
)
def table_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderstatus") == "F")
    batch = orders.filter(F.col("o_orderstatus") == "O")
    # The staged batch arrives with a corrupted slice: negated prices on
    # the %97 keys — the deterministic stand-in for a bad upstream file.
    staged = batch.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 97 == 0, -F.col("o_totalprice")).otherwise(
            F.col("o_totalprice")
        ),
    )

    t = SnapshotTable(spark, "orders_wap", scratch_root())
    t.drop()
    t.create(base)  # v1: published base

    def audit() -> tuple[int, int]:
        row = t.read().agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("bad"),
        ).collect()[0]
        return int(row["n"]), int(row["bad"])

    v_staged = t.append(staged)  # v2: staged, NOT yet published
    n_staged, bad_staged = audit()
    steps = [("1_staged", v_staged, n_staged, bad_staged)]

    if bad_staged > 0:  # audit failed: reject the stage
        v_rb = t.rollback(1)  # v3: pointer back to base, v2 stays in history
        n_rb, bad_rb = audit()
        steps.append(("2_rolled_back", v_rb, n_rb, bad_rb))
        v_pub = t.append(batch)  # v4: corrected batch publishes clean
        n_pub, bad_pub = audit()
        steps.append(("3_published", v_pub, n_pub, bad_pub))

    out = spark.createDataFrame(
        steps, "step string, version int, n_rows bigint, n_violations bigint"
    )
    return out.orderBy("step")


# --------------------------------------------- CDC changelog compaction


@register(
    "cdc_log_compaction",
    oracle=f"""
    WITH changelog AS (
        -- deterministic synthetic CDC feed: one I/U/D op per order,
        -- op decided by the key, change-sequence = the key itself,
        -- updates add 10%% to the price
        SELECT o_orderkey AS key,
               CASE WHEN o_orderkey % 10 = 0 THEN 'D'
                    WHEN o_orderkey % 3 = 0  THEN 'U'
                    ELSE 'I' END AS op,
               o_orderkey AS seq,
               CASE WHEN o_orderkey % 3 = 0
                    THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                              * CAST(1.1 AS DECIMAL(3,1)) AS DOUBLE)
                    ELSE o_totalprice END AS price,
               o_orderstatus
        FROM orders
    ),
    latest AS (
        SELECT key, arg_max(op, seq) AS op,
               arg_max(price, seq) AS price,
               arg_max(o_orderstatus, seq) AS o_orderstatus
        FROM changelog GROUP BY key
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           round({sql_sum8('price')}, 2) AS sum_price
    FROM latest WHERE op <> 'D'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="CDC changelog compaction (the Debezium→lake apply): an "
    "insert/update/delete log with per-key change sequences collapses "
    "to final state by last-writer-wins (max_by over the sequence), "
    "deletes dropped — ONE hash aggregate on the key, map-side "
    "partials, no sort and no window; then the read-back rollup is "
    "hash-checked against the same compaction in SQL. This is the "
    "log-to-snapshot shape every lakehouse ingestion pipeline runs.",
)
def cdc_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    changelog = orders.select(
        F.col("o_orderkey").alias("key"),
        F.when(F.col("o_orderkey") % 10 == 0, "D")
        .when(F.col("o_orderkey") % 3 == 0, "U")
        .otherwise("I")
        .alias("op"),
        F.col("o_orderkey").alias("seq"),
        F.when(
            F.col("o_orderkey") % 3 == 0,
            (
                F.col("o_totalprice").cast("decimal(18,2)")
                * F.lit("1.1").cast("decimal(3,1)")
            ).cast("double"),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        "o_orderstatus",
    )
    latest = changelog.groupBy("key").agg(
        F.max_by("op", "seq").alias("op"),
        F.max_by("price", "seq").alias("price"),
        F.max_by("o_orderstatus", "seq").alias("o_orderstatus"),
    )
    return (
        latest.filter(F.col("op") != "D")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(exact_sum8(F.col("price")), 2).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


# ------------------------------------------------- crypto-shredding


@register(
    "table_crypto_shred",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (WHERE c_custkey % 10 <> 0) AS BIGINT) AS n_readable,
           CAST(count(*) FILTER (WHERE c_custkey % 10 = 0) AS BIGINT)  AS n_shredded,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                      FILTER (WHERE c_custkey % 10 <> 0) AS DOUBLE), 2) AS readable_acctbal,
           CAST(0 AS BIGINT) AS n_decrypt_mismatch
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="GDPR crypto-shredding: PII (c_name) is stored AES-GCM-"
    "encrypted under a PER-CUSTOMER key held in a separate keyring; "
    "'deleting' a customer destroys only their key row — the "
    "ciphertext becomes permanently unreadable without rewriting a "
    "single data file (the right-to-erasure pattern for immutable "
    "lakes). The query shreds every 10th key, re-reads through the "
    "keyring join, and emits per-segment readable/shredded counts "
    "PLUS a decrypt-mismatch counter that the oracle pins to 0 — so "
    "the hash check proves the encrypt→shred→decrypt roundtrip, not "
    "just the bookkeeping.",
)
def table_crypto_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    key = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 16)
    encrypted = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        "c_name",
        F.expr(
            "aes_encrypt(c_name, substr(md5(cast(c_custkey as string)), 1, 16), 'GCM')"
        ).alias("enc_name"),
    )
    keyring = cust.select("c_custkey", key.alias("k")).filter(
        F.col("c_custkey") % 10 != 0  # shredded: every 10th key destroyed
    )
    read_back = encrypted.join(
        keyring.withColumnRenamed("c_custkey", "k_custkey"),
        encrypted["c_custkey"] == F.col("k_custkey"),
        "left",
    ).select(
        "c_mktsegment",
        "c_acctbal",
        "c_name",
        F.col("k").isNotNull().alias("readable"),
        F.expr("cast(aes_decrypt(enc_name, k, 'GCM') as string)").alias("name_back"),
    )
    return (
        read_back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.count(F.when(F.col("readable"), 1)).cast("bigint").alias("n_readable"),
            F.count(F.when(~F.col("readable"), 1)).cast("bigint").alias("n_shredded"),
            F.round(
                F.sum(
                    F.when(
                        F.col("readable"), F.col("c_acctbal").cast("decimal(18,2)")
                    )
                ).cast("double"),
                2,
            ).alias("readable_acctbal"),
            F.count(
                F.when(F.col("readable") & (F.col("name_back") != F.col("c_name")), 1)
            )
            .cast("bigint")
            .alias("n_decrypt_mismatch"),
        )
        .orderBy("c_mktsegment")
    )


# ----------------------------------- incremental materialized view
#
# The lakehouse MV-maintenance pattern (Iceberg + Trino/Databricks
# "incremental refresh", Materialize-style delta aggregation): a
# revenue-by-(year, status) MV over the orders snapshot table is
# refreshed after an append by aggregating ONLY the rows added
# between the two snapshots (incremental read = key-pruned anti-join)
# and merging the delta into the MV — refresh cost is O(delta) +
# O(MV), never O(base table). The MV stores its sums as
# DECIMAL(18,2), so delta addition is exact and the refreshed MV is
# bit-identical to a full recompute — which is exactly what the
# oracle checks: the hash-match against a plain aggregate over ALL
# base orders PROVES incremental == full.


@register(
    "mv_incremental_refresh",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round({sql_sum2('o_totalprice')}, 2) AS revenue
    FROM orders
    GROUP BY year(o_orderdate), o_orderstatus
    ORDER BY yr, o_orderstatus
    """,
    doc="Incremental materialized-view maintenance: MV = revenue by "
    "(year, status) built over half the orders, base table appended "
    "with the other half, then refreshed by aggregating ONLY the "
    "incremental-read delta (anti-join between snapshots, key-pruned) "
    "and merging counts/decimal-exact sums into the MV — O(delta+MV) "
    "refresh, never O(base). Hash-matching the full aggregate over "
    "all orders proves incremental == full recompute.",
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")

    def agg_mv(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.col("o_orderstatus"),
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_dec"),
        )

    base = SnapshotTable(spark, "orders_mv_base", scratch_root())
    base.drop()
    base.create(orders.filter(F.col("o_orderkey") % 2 == 0))
    mv = SnapshotTable(spark, "orders_mv", scratch_root())
    mv.drop()
    mv.create(agg_mv(base.read()))

    base.append(orders.filter(F.col("o_orderkey") % 2 == 1))

    # incremental read: rows added v1 → v2 (for an append this prunes
    # to the appended files' keys; expressed as the general anti-join)
    added = base.read(version=2).join(
        base.read(version=1).select("o_orderkey"), "o_orderkey", "left_anti"
    )
    delta = agg_mv(added).withColumnsRenamed(
        {"n_orders": "d_n", "rev_dec": "d_rev"}
    )
    refreshed = (
        mv.read()
        .join(delta, ["yr", "o_orderstatus"], "full_outer")
        .select(
            "yr",
            "o_orderstatus",
            (
                F.coalesce(F.col("n_orders"), F.lit(0))
                + F.coalesce(F.col("d_n"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_orders"),
            (
                F.coalesce(F.col("rev_dec"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("d_rev"), F.lit(0).cast("decimal(18,2)"))
            ).alias("rev_dec"),
        )
    )
    mv.overwrite(refreshed, op="refresh")
    return (
        mv.read()
        .select(
            "yr",
            "o_orderstatus",
            "n_orders",
            F.round(F.col("rev_dec").cast("double"), 2).alias("revenue"),
        )
        .orderBy("yr", "o_orderstatus")
    )


# --------------------------------------------- branch / tag lifecycle


@register(
    "table_branch_merge",
    oracle="""
    WITH o AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'O'),
    f AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F')
    SELECT 'main_before_merge' AS step, CAST((SELECT n FROM o) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'branch_head', CAST((SELECT n FROM o) + (SELECT n FROM f) AS BIGINT)
    UNION ALL
    SELECT 'main_after_merge', CAST((SELECT n FROM o) + (SELECT n FROM f) AS BIGINT)
    UNION ALL
    SELECT 'tag_pre_merge', CAST((SELECT n FROM o) AS BIGINT)
    UNION ALL
    SELECT 'audit_violations', CAST(0 AS BIGINT)
    ORDER BY step
    """,
    doc="Iceberg/Nessie-style branch-and-merge (write-audit-merge with "
    "named refs): fork branch 'etl' from main, append to the branch "
    "(main's pinned file set is untouched — writer isolation), run a "
    "DQ audit on the branch head, fast-forward main onto it only "
    "after the audit passes (divergence is refused by ancestor-chain "
    "walk), and pin a pre-merge tag that time-travels forever. Refs "
    "are named pointers into the shared snapshot log — branch state "
    "is metadata, no data is copied. The oracle derives every step's "
    "row count from base-table arithmetic.",
)
def table_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_branching", scratch_root())
    t.drop()
    v1 = t.create(orders.filter(F.col("o_orderstatus") == "O"))
    t.set_ref("main", v1)
    t.set_ref("etl", v1)  # branch fork: a pointer, no data copied
    t.set_ref("tag_pre_merge", v1)  # tag: immutable named snapshot

    t.branch_append("etl", orders.filter(F.col("o_orderstatus") == "F"))
    main_before = t.read_ref("main").count()  # isolation: still v1's files

    # write-audit-merge: the DQ gate runs on the BRANCH head
    audit_violations = (
        t.read_ref("etl").filter(F.col("o_totalprice") <= 0).count()
    )
    if audit_violations == 0:
        t.fast_forward("main", "etl")
    branch_head = t.read_ref("etl").count()
    main_after = t.read_ref("main").count()
    tag_rows = t.read_ref("tag_pre_merge").count()

    return local_df(
        spark,
        sorted(
            [
                ("main_before_merge", int(main_before)),
                ("branch_head", int(branch_head)),
                ("main_after_merge", int(main_after)),
                ("tag_pre_merge", int(tag_rows)),
                ("audit_violations", int(audit_violations)),
            ]
        ),
        "step string, n_rows long",
    )


# ------------------------------------------------ history audit table


@register(
    "table_history_audit",
    oracle="""
    WITH o AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'O'),
    f AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F'),
    kept AS (
        SELECT count(*) AS n FROM orders
        WHERE o_orderstatus IN ('O', 'F') AND o_totalprice <= 200000.0
    )
    SELECT 1 AS version, 'create' AS op, CAST((SELECT n FROM o) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 2, 'append', CAST((SELECT n FROM o) + (SELECT n FROM f) AS BIGINT)
    UNION ALL
    SELECT 3, 'delete', CAST((SELECT n FROM kept) AS BIGINT)
    UNION ALL
    SELECT 4, 'compact', CAST((SELECT n FROM kept) AS BIGINT)
    ORDER BY version
    """,
    doc="Queryable table history (Iceberg's .history/.snapshots "
    "metadata tables): after a create→append→delete→compact "
    "lifecycle, the snapshot log surfaces as a DataFrame of "
    "(version, op, n_rows) with each version's row count read via "
    "time travel — at scale the counts come from snapshot metadata, "
    "not data scans. The oracle derives every row from base-table "
    "arithmetic, pinning both the operation sequence and the "
    "per-version contents.",
)
def table_history_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_history_audit", scratch_root())
    t.drop()
    t.create(orders.filter(F.col("o_orderstatus") == "O"))
    t.append(orders.filter(F.col("o_orderstatus") == "F"))
    t.delete_where(F.col("o_totalprice") > 200000.0)
    t.compact()
    rows = [
        (int(m["version"]), str(m["op"]), int(t.read(version=m["version"]).count()))
        for m in t.snapshots()
    ]
    return local_df(spark, rows, "version int, op string, n_rows long").orderBy(
        "version"
    )


# ------------------------------------------- concurrent-writer race


@register(
    "table_concurrent_appends",
    oracle="""
    WITH o AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'O'),
    f AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F'),
    p AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'P')
    SELECT 'conflicts_detected' AS metric, CAST(1 AS BIGINT) AS value
    UNION ALL
    SELECT 'final_version', CAST(3 AS BIGINT)
    UNION ALL
    SELECT 'final_rows',
           CAST((SELECT n FROM o) + (SELECT n FROM f) + (SELECT n FROM p) AS BIGINT)
    UNION ALL
    SELECT 'writer_b_rows_present', CAST((SELECT n FROM f) AS BIGINT)
    ORDER BY metric
    """,
    doc="Optimistic-concurrency commit race (Iceberg commit semantics): "
    "writer A reads the table at v1 and prepares an append; writer B "
    "commits first (v2); A's commit DECLARES its base snapshot and is "
    "REFUSED (CommitConflictError — silently committing would drop "
    "B's files), then retries against the fresh state and lands v3. "
    "The oracle pins the conflict count, final version, and final "
    "row count containing BOTH writers' rows — lost-update "
    "prevention proven by hash, not asserted in prose.",
)
def table_concurrent_appends(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_concurrent", scratch_root())
    t.drop()
    t.create(orders.filter(F.col("o_orderstatus") == "O"))  # v1

    # writer A reads its base snapshot
    writer_a = SnapshotTable(spark, "orders_concurrent", scratch_root())
    base_a = writer_a.current_version()
    meta_a = writer_a._read_meta(base_a)
    # writer B wins the race
    writer_b = SnapshotTable(spark, "orders_concurrent", scratch_root())
    writer_b.append(orders.filter(F.col("o_orderstatus") == "F"))  # v2

    conflicts = 0
    d = writer_a._write_data(orders.filter(F.col("o_orderstatus") == "P"))
    try:
        writer_a._commit(
            "append",
            meta_a["dirs"] + [d],
            base_a,
            meta_a["schema"],
            spec=meta_a.get("spec", []),
            dir_specs=writer_a._dir_specs(meta_a) + [[]],
            expect_parent=base_a,
        )
    except CommitConflictError:
        conflicts += 1
        shutil.rmtree(d, ignore_errors=True)
        writer_a.append_checked(orders.filter(F.col("o_orderstatus") == "P"))  # v3

    final_version = t.current_version()
    final_rows = t.read().count()
    b_rows = t.read().filter(F.col("o_orderstatus") == "F").count()
    return local_df(
        spark,
        sorted(
            [
                ("conflicts_detected", conflicts),
                ("final_version", int(final_version)),
                ("final_rows", int(final_rows)),
                ("writer_b_rows_present", int(b_rows)),
            ]
        ),
        "metric string, value long",
    )


# ------------------------------------------- merge-on-read deletes


@register(
    "table_mor_deletes",
    oracle="""
    WITH o AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'O'),
    o_cheap AS (
        SELECT count(*) AS n FROM orders
        WHERE o_orderstatus = 'O' AND o_totalprice >= 50000.0
    ),
    f AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F'),
    f_cheap AS (
        SELECT count(*) AS n FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice >= 50000.0
    )
    SELECT 'after_mor_delete' AS step,
           CAST((SELECT n FROM o_cheap) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'after_reinsert_append',
           CAST((SELECT n FROM o_cheap) + (SELECT n FROM f) AS BIGINT)
    UNION ALL
    SELECT 'after_second_delete',
           CAST((SELECT n FROM o_cheap) + (SELECT n FROM f_cheap) AS BIGINT)
    UNION ALL
    SELECT 'after_compaction',
           CAST((SELECT n FROM o_cheap) + (SELECT n FROM f_cheap) AS BIGINT)
    UNION ALL
    SELECT 'time_travel_v1',
           CAST((SELECT n FROM o) AS BIGINT)
    ORDER BY step
    """,
    doc="Merge-on-read DELETE lifecycle (Iceberg v2 equality deletes): "
    "a delete commits only the matching KEYS (O(deleted), never an "
    "O(table) rewrite); reads anti-join the delete files — pinned to "
    "the data files that existed at delete time (sequence-number "
    "semantics), so APPENDED rows with previously-deleted values "
    "survive; stacked deletes compose; compaction folds deletes into "
    "a rewritten file set; time travel before the delete still sees "
    "every row. Every step's count is pinned by base-table "
    "arithmetic.",
)
def table_mor_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_mor", scratch_root())
    t.drop()
    t.create(orders.filter(F.col("o_orderstatus") == "O"))  # v1
    t.delete_where_mor(F.col("o_totalprice") < 50000.0, key="o_orderkey")  # v2
    n_after_delete = t.read().count()
    # appended rows are NOT affected by the earlier delete file, even
    # though many F-orders are cheap (sequence semantics)
    t.append(orders.filter(F.col("o_orderstatus") == "F"))  # v3
    n_after_append = t.read().count()
    t.delete_where_mor(F.col("o_totalprice") < 50000.0, key="o_orderkey")  # v4
    n_after_second = t.read().count()
    t.compact()  # folds both delete files into a rewritten file set
    assert not t._read_meta(t.current_version())["delete_dirs"]
    n_after_compact = t.read().count()
    n_v1 = t.read(version=1).count()
    return local_df(
        spark,
        sorted(
            [
                ("after_mor_delete", int(n_after_delete)),
                ("after_reinsert_append", int(n_after_append)),
                ("after_second_delete", int(n_after_second)),
                ("after_compaction", int(n_after_compact)),
                ("time_travel_v1", int(n_v1)),
            ]
        ),
        "step string, n_rows long",
    )


# ------------------------------------------- bloom-filter file skipping

BLOOM_MIN_BITS = 4096
BLOOM_BITS_PER_KEY = 12  # ~12 bits/key with k=3 → FP rate ≈ 1%
BLOOM_HASHES = 3


def _bloom_bits_for(n_keys: int) -> int:
    """Per-file bloom sizing (what real formats do — Iceberg puffin
    blobs scale with the file): next power of two above 12 bits/key,
    floored at 4 Kib so tiny files stay cheap."""
    bits = max(BLOOM_MIN_BITS, BLOOM_BITS_PER_KEY * max(n_keys, 1))
    return 1 << (bits - 1).bit_length()


def _bloom_positions_col(key: str, bits) -> list:
    """BLOOM_HASHES bit positions per key value: independent md5 slices
    reduced mod `bits` — deterministic, engine-replicable. `bits` may be
    an int or a Column (per-dir bitset sizes in the one-job build)."""
    return [
        (
            F.conv(
                F.md5(
                    F.concat(F.col(key).cast("string"), F.lit(f"#bloom{h}")).cast(
                        "binary"
                    )
                ).substr(1, 12),
                16,
                10,
            ).cast("bigint")
            % bits
        ).cast("bigint")  # int32 would overflow past ~2^31 bits/dir
        for h in range(BLOOM_HASHES)
    ]


class BloomIndex:
    """Sidecar file-skipping index (Iceberg puffin-style bloom filters,
    Hudi bloom index): one BLOOM_BITS bitset per data dir over a key
    column. Point lookups test the probe's BLOOM_HASHES bits against
    each dir's bitset and read ONLY passing dirs — O(matching files)
    instead of O(table) for needle queries; false positives cost an
    extra file read, never a wrong answer (the exact filter still
    applies)."""

    def __init__(self, table: "SnapshotTable", key: str):
        self.table = table
        self.key = key
        self.path = os.path.join(table.meta_dir, f"bloom_{key}.json")

    def build(self) -> int:
        """Build every dir's bitset in ONE distributed job and write the
        packed blobs FROM THE EXECUTORS (Iceberg puffin shape): tag each
        dir's keys, size each bitset from a per-dir count (one row per
        dir), dedupe the set-bit positions per dir executor-side
        (collect_set partially aggregates map-side), then a
        foreachPartition packs each dir's bitmap and writes
        `<meta>/bloom_<key>_v<N>/<dir>.bloom` directly from the task.
        Driver traffic is strictly O(|dirs|): the sizing counts row-set
        plus the path sidecar JSON — never a set-bit list. The blob dir
        lives beside the table metadata, i.e. on the same shared
        storage (HDFS/S3 in production) the data dirs use, so executor
        writes land where every reader can see them."""
        meta = self.table._read_meta(self.table.current_version())
        dirs = meta["dirs"]
        blob_root = os.path.join(
            self.table.meta_dir, f"bloom_{self.key}_v{meta['version']:05d}"
        )
        os.makedirs(blob_root, exist_ok=True)
        index: dict[str, dict] = {}
        if dirs:
            # ONE scan over every data dir with the owning dir recovered
            # from input_file_name() — NOT a |dirs|-way unionByName,
            # whose plan has one scan branch per dir and stops compiling
            # long before the 10k-file design point. Dir basenames are
            # unique by construction (uuid-suffixed in _write_data).
            base_of = {os.path.basename(d): d for d in dirs}
            # Structural match on the RAW percent-encoded URI — the
            # rightmost '/data/<seg>/' is always the table's data dir
            # (rationale + '+'/'%'-in-root hazard: _ensure_key_envelopes)
            dir_pat = "^.*/data/([^/]+)/"
            # raw-file scan: use the PHYSICAL key name (rename-stable)
            pkey = self.table._physical_map(meta["schema"]).get(self.key, self.key)
            tagged = self.table._read_dirs(dirs, merge_schema=True).select(
                F.regexp_extract(
                    F.input_file_name(), dir_pat, 1
                ).alias("_dir"),
                F.col(pkey).alias("_k"),
            ).persist()  # sizing pass + bit pass share one scan
            try:
                counts = {}
                for r in (
                    tagged.groupBy("_dir")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                ):
                    owner = base_of.get(r["_dir"])
                    if owner is None:
                        raise RuntimeError(
                            f"bloom build for {self.table.name}.{self.key}: "
                            f"cannot attribute file tag {r['_dir']!r} to a "
                            f"data dir under {self.table.data_dir!r}"
                        )
                    counts[owner] = r["n"]
                ms = {d: _bloom_bits_for(counts.get(d, 0)) for d in dirs}
                # per-dir bitset size joins in as a broadcast (dir, m)
                # table — a create_map literal would put 2·|dirs| literals
                # in the plan and scan them per row (O(rows·dirs) at the
                # 10k-file scale this build targets). bigint: a >179M-key
                # dir sizes past int32.
                m_df = self.table.spark.createDataFrame(
                    [(os.path.basename(d), ms[d]) for d in dirs],
                    "_dir string, _m bigint",
                )
                agg = (
                    tagged.join(F.broadcast(m_df), "_dir")
                    .select(
                        "_dir",
                        "_m",
                        F.explode(
                            F.array(*_bloom_positions_col("_k", F.col("_m")))
                        ).alias("b"),
                    )
                    .groupBy("_dir")
                    .agg(
                        F.first("_m").alias("_m"),
                        F.sort_array(F.collect_set("b")).alias("bits"),
                    )
                )
                root = blob_root  # plain-string closure for the executor fn

                def _write_blobs(rows):
                    # runs ON EXECUTORS: pack m/8 bytes per dir, write
                    # atomically (tmp + replace) so task retries are
                    # idempotent — the last replace wins, byte-identical
                    import os as _os
                    import uuid as _uuid

                    for r in rows:
                        m = int(r["_m"])
                        buf = bytearray(m // 8)
                        for b in r["bits"]:
                            buf[b >> 3] |= 1 << (b & 7)
                        name = _os.path.basename(r["_dir"]) + ".bloom"
                        tmp = _os.path.join(
                            root, f".{name}.{_uuid.uuid4().hex[:8]}.tmp"
                        )
                        with open(tmp, "wb") as f:
                            f.write(bytes(buf))
                        _os.replace(tmp, _os.path.join(root, name))

                agg.foreachPartition(_write_blobs)
            finally:
                tagged.unpersist()
            for d in dirs:
                name = os.path.basename(d) + ".bloom"
                blob = os.path.join(blob_root, name)
                if not os.path.exists(blob):  # rowless dir → empty bitset
                    with open(blob, "wb") as f:
                        f.write(bytes(ms[d] // 8))
                index[d] = {
                    "m": ms[d],
                    "blob": os.path.join(os.path.basename(blob_root), name),
                }
        # Blob roots the ABOUT-TO-BE-REPLACED sidecar references: they
        # get a one-generation grace period below, so a reader that
        # loaded that sidecar moments before the swap still finds every
        # blob it points at (the swap is atomic for the sidecar but a
        # lookup holds its parsed copy across the blob reads).
        prev_roots: set = set()
        if os.path.exists(self.path):
            try:
                with open(self.path) as f:
                    for entry in json.load(f).get("dirs", {}).values():
                        if "blob" in entry:
                            prev_roots.add(entry["blob"].split("/", 1)[0])
            except (json.JSONDecodeError, OSError):
                pass
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"key": self.key, "version": meta["version"], "dirs": index}, f)
        os.rename(tmp, self.path)
        # Reclaim superseded blob sets only AFTER the sidecar swap, and
        # only those at least TWO generations old: deleting the current
        # set pre-swap would break readers of the still-current sidecar,
        # and deleting the immediately-superseded set right after the
        # swap would break a reader that parsed that sidecar just before
        # it — the same snapshot-isolation window the table stack's MOR
        # readers get. Dirs older than the kept generation have been
        # unreferenced for a full build cycle; at most two generations
        # of blobs ever sit on disk, so storage stays bounded the way
        # expire_snapshots bounds data dirs.
        prefix = f"bloom_{self.key}_v"
        keep = {os.path.basename(blob_root)} | prev_roots
        for old in os.listdir(self.table.meta_dir):
            full = os.path.join(self.table.meta_dir, old)
            if old.startswith(prefix) and old not in keep and os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
        return len(index)

    @staticmethod
    def _probe_bits(value, m: int) -> list[int]:
        import hashlib

        return [
            int(hashlib.md5(f"{value}#bloom{h}".encode()).hexdigest()[:12], 16) % m
            for h in range(BLOOM_HASHES)
        ]

    def lookup_dirs(self, value) -> tuple[list[str], int]:
        # One retry on FileNotFoundError: a concurrent build() can
        # reclaim a blob dir between this reader's sidecar parse and its
        # blob reads (build keeps one superseded generation, so the
        # window needs TWO builds to bite — but two quick rebuilds after
        # appends are legal). Re-reading the sidecar resolves it either
        # way: the fresh sidecar points at live blobs, or the version
        # gate below reports staleness instead of a spurious IO error.
        for attempt in (0, 1):
            try:
                return self._lookup_dirs_once(value)
            except FileNotFoundError:
                if attempt:
                    raise
        raise AssertionError("unreachable")

    def _lookup_dirs_once(self, value) -> tuple[list[str], int]:
        with open(self.path) as f:
            index = json.load(f)
        # Staleness gate: the index was built against one snapshot's file
        # set. Consulting it after the table advanced would silently MISS
        # keys in newer data files — a false NEGATIVE, i.e. a wrong
        # answer, which breaks the index's "false positives only"
        # contract. Refuse instead; the caller rebuilds (Iceberg drops
        # puffin stats on snapshot change the same way).
        current = self.table.current_version()
        if index.get("version") != current:
            raise ValueError(
                f"bloom index for {self.table.name}.{self.key} was built at "
                f"v{index.get('version')} but the table is at v{current} — "
                "rebuild with BloomIndex.build()"
            )
        def _contains(entry: dict, probe: list[int]) -> bool:
            if "blob" in entry:  # executor-written packed blob (r7+)
                # seek to the k probed bytes — reading the whole blob
                # would make one point lookup O(total index bytes)
                # (a 10M-key dir's bitmap is ~15 MB; ×10k dirs = GBs)
                with open(os.path.join(self.table.meta_dir, entry["blob"]), "rb") as f:
                    for b in probe:
                        f.seek(b >> 3)
                        byte = f.read(1)
                        if not byte or not byte[0] & (1 << (b & 7)):
                            return False
                return True
            if "bitmap" in entry:  # inline hex bitmap (r6)
                buf = bytes.fromhex(entry["bitmap"])
                return all(buf[b >> 3] & (1 << (b & 7)) for b in probe)
            return set(probe) <= set(entry["bits"])  # legacy position list

        passing = [
            d
            for d, entry in index["dirs"].items()
            if _contains(entry, self._probe_bits(value, entry["m"]))
        ]
        return passing, len(index["dirs"])

    def read_point(self, value) -> DataFrame:
        dirs, _total = self.lookup_dirs(value)
        if not dirs:
            return self.table.read().filter(F.lit(False))
        # MOR-aware: apply the snapshot's equality-delete anti-joins to
        # the passing dirs (raw _read_dirs would resurrect deleted rows).
        meta = self.table._read_meta(self.table.current_version())
        return self.table._read_dirs_mor(meta, dirs).filter(
            F.col(self.key) == F.lit(value)
        )


@register(
    "table_bloom_point_lookup",
    oracle="""
    WITH probe AS (
        SELECT o_orderkey FROM orders WHERE o_orderstatus = 'P'
        ORDER BY o_orderkey LIMIT 5
    )
    SELECT o.o_orderkey, o.o_orderstatus,
           round(o.o_totalprice, 2) AS totalprice
    FROM orders o JOIN probe USING (o_orderkey)
    ORDER BY o.o_orderkey
    """,
    doc="Point lookups through a bloom-filter secondary index (Iceberg "
    "puffin / Hudi bloom-index pattern): the table lands as three "
    "per-status data files, a 4096-bit md5 bloom is built per file "
    "over o_orderkey, and each probe reads ONLY the files whose "
    "bitset contains all its bits — O(matching files) needle "
    "lookups; false positives cost an extra read, never a wrong "
    "answer (the exact filter still applies — which is what the "
    "oracle checks). File skipping itself is asserted in "
    "tests/test_tables.py.",
)
def table_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_bloom", scratch_root())
    t.drop()
    t.create(orders.filter(F.col("o_orderstatus") == "O"))
    t.append(orders.filter(F.col("o_orderstatus") == "F"))
    t.append(orders.filter(F.col("o_orderstatus") == "P"))
    idx = BloomIndex(t, "o_orderkey")
    idx.build()
    probes = [
        r["o_orderkey"]
        for r in orders.filter(F.col("o_orderstatus") == "P")
        .orderBy("o_orderkey")
        .limit(5)
        .collect()
    ]  # 5 scalars — driver-bounded probe set
    parts = [idx.read_point(k) for k in probes]
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("totalprice"),
    ).orderBy("o_orderkey")


# ------------------------------------------------- CDC changelog emit


@register(
    "table_changelog_emit",
    oracle="""
    WITH o AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'O'),
    f AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F'),
    upd AS (
        SELECT count(*) AS n FROM orders
        WHERE o_orderstatus = 'O' AND o_totalprice > 150000.0
    )
    SELECT 'delete' AS op, CAST(0 AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'insert', CAST((SELECT n FROM f) AS BIGINT)
    UNION ALL
    SELECT 'update', CAST((SELECT n FROM upd) AS BIGINT)
    ORDER BY op
    """,
    doc="CDC changelog EMISSION between snapshots (the read side of "
    "Iceberg's changelog / Delta CDF — the inverse of "
    "cdc_log_compaction): after a MERGE that updates expensive "
    "orders and inserts the F-orders, diff v1→v2 BY KEY into "
    "insert (key only in v2), delete (key only in v1), update (key "
    "in both, any non-key column changed — compared via a "
    "whole-row hash, never column-by-column plans). Two key-pruned "
    "anti-joins + one inner join on the uniform key; counts pinned "
    "by base arithmetic.",
)
def table_changelog_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_changelog", scratch_root())
    t.drop()
    t.create(orders.filter(F.col("o_orderstatus") == "O"))  # v1
    source = (
        orders.filter(F.col("o_orderstatus") == "O")
        .filter(F.col("o_totalprice") > 150000.0)
        .withColumn("o_orderpriority", F.lit("0-RUSH"))  # the update
        .unionByName(orders.filter(F.col("o_orderstatus") == "F"))  # inserts
    )
    t.merge(source, key="o_orderkey")  # v2

    v1, v2 = t.read(version=1), t.read(version=2)
    key = "o_orderkey"
    cols = sorted(v1.columns)

    def hashed(df: DataFrame) -> DataFrame:
        return df.select(
            key, F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])).alias("h")
        )

    h1, h2 = hashed(v1), hashed(v2)
    inserts = h2.join(h1.select(key), key, "left_anti").count()
    deletes = h1.join(h2.select(key), key, "left_anti").count()
    updates = (
        h1.withColumnRenamed("h", "h_old")
        .join(h2, key)
        .filter(F.col("h_old") != F.col("h"))
        .count()
    )
    return local_df(
        spark,
        sorted(
            [
                ("insert", int(inserts)),
                ("delete", int(deletes)),
                ("update", int(updates)),
            ]
        ),
        "op string, n_rows long",
    )


# ------------------------------------------- multi-table transactions


class Catalog:
    """Atomic multi-table publish (the Nessie / Iceberg-REST-catalog
    transaction model): consumers resolve every table version through
    ONE catalog pointer file, and a commit swaps the whole mapping in
    a single atomic rename — so a reader sees either all of a
    transaction's table versions or none of them, never a torn mix.
    Tables stage their snapshots normally (snapshots are inert until
    referenced); the catalog commit is the only publication point."""

    def __init__(self, spark: SparkSession, name: str, root: str = DEFAULT_ROOT):
        self.spark = spark
        self.root = root
        self.path = os.path.join(root, f"_catalog_{name}.json")

    def pins(self) -> dict[str, int]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def publish(
        self, updates: dict[str, int], expect: dict[str, int] | None = None
    ) -> None:
        """Atomically move the catalog to a new table→version mapping
        (merging over current pins). One rename = one transaction.

        The merge runs under a kernel flock so two concurrent
        transactions updating DISJOINT tables cannot drop each other's
        pins (read-modify-write race). `expect` adds true transactional
        conflict detection: {table: version} the transaction read its
        base state from — if any of those pins moved, the publish is
        REFUSED (CommitConflictError) so the caller re-reads, re-stages,
        and retries (Nessie/Iceberg-REST commit semantics)."""
        lock = self.path + ".lock"
        fd = _acquire_excl_lock(lock, f"catalog {self.path}")
        try:
            pins = self.pins()
            if expect is not None:
                moved = {
                    t: (v, pins.get(t))
                    for t, v in expect.items()
                    if pins.get(t) != v
                }
                if moved:
                    raise CommitConflictError(
                        f"catalog {self.path}: pins moved since the "
                        f"transaction's base read: {moved} — concurrent "
                        "transaction won; re-stage and retry"
                    )
            pins.update(updates)
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(pins, f)
            os.rename(tmp, self.path)
        finally:
            os.close(fd)  # releases the flock; the lockfile path stays

    def read(self, table: str) -> DataFrame:
        # resolve through the catalog's OWN root: pinned versions are
        # only meaningful for the tables that share its namespace
        return SnapshotTable(self.spark, table, self.root).read(
            version=self.pins()[table]
        )

    def drop(self) -> None:
        if os.path.exists(self.path):
            os.remove(self.path)


@register(
    "catalog_multi_table_txn",
    oracle="""
    WITH o AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'O'),
    f AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F'),
    li_o AS (
        SELECT count(*) AS n FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O')
    ),
    li_of AS (
        SELECT count(*) AS n FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                             WHERE o_orderstatus IN ('O', 'F'))
    )
    SELECT 'before_txn_orders' AS step, CAST((SELECT n FROM o) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'before_txn_lineitem', CAST((SELECT n FROM li_o) AS BIGINT)
    UNION ALL
    SELECT 'mid_txn_orders', CAST((SELECT n FROM o) AS BIGINT)
    UNION ALL
    SELECT 'mid_txn_lineitem', CAST((SELECT n FROM li_o) AS BIGINT)
    UNION ALL
    SELECT 'after_txn_orders', CAST((SELECT n FROM o) + (SELECT n FROM f) AS BIGINT)
    UNION ALL
    SELECT 'after_txn_lineitem', CAST((SELECT n FROM li_of) AS BIGINT)
    ORDER BY step
    """,
    doc="Multi-table ACID transaction through a catalog pointer "
    "(Nessie / Iceberg-REST model): orders and their lineitems are "
    "appended as STAGED snapshots — a reader resolving through the "
    "catalog mid-transaction still sees the OLD versions of BOTH "
    "tables (the torn-read the single-pointer design prevents) — "
    "then one atomic catalog publish flips both tables together. "
    "The oracle pins all three phases' row counts for both tables "
    "from base arithmetic; referential consistency (every lineitem's "
    "order visible in the same catalog view) holds at every step.",
)
def catalog_multi_table_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    o_keys = orders.select("o_orderkey", "o_orderstatus")

    t_orders = SnapshotTable(spark, "txn_orders", scratch_root())
    t_li = SnapshotTable(spark, "txn_lineitem", scratch_root())
    cat = Catalog(spark, "txn_demo", scratch_root())
    for t in (t_orders, t_li):
        t.drop()
    cat.drop()

    v_o1 = t_orders.create(orders.filter(F.col("o_orderstatus") == "O"))
    v_l1 = t_li.create(
        li.join(
            o_keys.filter(F.col("o_orderstatus") == "O").select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_semi",
        )
    )
    cat.publish({"txn_orders": v_o1, "txn_lineitem": v_l1})
    before = (cat.read("txn_orders").count(), cat.read("txn_lineitem").count())

    # stage the F-orders in BOTH tables — snapshots exist but are unpublished
    v_o2 = t_orders.append(orders.filter(F.col("o_orderstatus") == "F"))
    v_l2 = t_li.append(
        li.join(
            o_keys.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_semi",
        )
    )
    mid = (cat.read("txn_orders").count(), cat.read("txn_lineitem").count())

    cat.publish({"txn_orders": v_o2, "txn_lineitem": v_l2})  # ONE atomic flip
    after = (cat.read("txn_orders").count(), cat.read("txn_lineitem").count())

    return local_df(
        spark,
        sorted(
            [
                ("before_txn_orders", int(before[0])),
                ("before_txn_lineitem", int(before[1])),
                ("mid_txn_orders", int(mid[0])),
                ("mid_txn_lineitem", int(mid[1])),
                ("after_txn_orders", int(after[0])),
                ("after_txn_lineitem", int(after[1])),
            ]
        ),
        "step string, n_rows long",
    )


@register(
    "pipeline_wap",
    oracle="""
    WITH o AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'O'),
    p AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'P'),
    f AS (SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F')
    SELECT 'audit_bad_violations' AS step, CAST((SELECT n FROM p) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'audit_good_violations', CAST(0 AS BIGINT)
    UNION ALL
    SELECT 'reader_before', CAST((SELECT n FROM o) AS BIGINT)
    UNION ALL
    SELECT 'reader_during_bad_stage', CAST((SELECT n FROM o) AS BIGINT)
    UNION ALL
    SELECT 'reader_after_publish', CAST((SELECT n FROM o) + (SELECT n FROM f) AS BIGINT)
    ORDER BY step
    """,
    doc="Write-Audit-Publish (r13) -- THE Iceberg quality-gate workflow "
    "for production writes, composed entirely from existing pieces: "
    "writers STAGE appends as inert snapshots, an AUDIT queries the "
    "staged version (time travel -- never the published view), and "
    "only a passing audit PUBLISHES by flipping the catalog pin "
    "(consumers resolve through the catalog, so an unpublished stage "
    "is invisible no matter how many snapshots land). The failing "
    "path is exercised for real: a staged batch carrying negated "
    "prices trips the audit (violation count pinned by base "
    "arithmetic), the catalog reader STILL sees the pre-stage rows "
    "(the isolation WAP exists to provide), and the stage is aborted "
    "with rollback() -- a NEW snapshot restoring the audited-good file "
    "set, the bad version left in history for forensics until expiry. "
    "The good batch then stages, audits clean, and publishes; every "
    "phase's reader-visible count is hash-checked.",
)
def pipeline_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    t = SnapshotTable(spark, "orders_wap", scratch_root())
    cat = Catalog(spark, "wap_demo", scratch_root())
    t.drop()
    cat.drop()
    v1 = t.create(orders.filter(F.col("o_orderstatus") == "O"))
    cat.publish({"orders_wap": v1})
    reader_before = cat.read("orders_wap").count()

    def audit(version: int) -> int:
        # the quality gate: no non-positive prices may publish
        return (
            t.read(version=version)
            .filter(F.col("o_totalprice") <= 0)
            .count()
        )

    # WAP attempt 1: a corrupted batch (negated prices) stages...
    bad = orders.filter(F.col("o_orderstatus") == "P").withColumn(
        "o_totalprice", -F.col("o_totalprice")
    )
    v_bad = t.append(bad)
    bad_violations = audit(v_bad)
    reader_mid = cat.read("orders_wap").count()  # catalog still pins v1
    assert bad_violations > 0
    # ...fails the audit: NO publish; abort the stage (rollback restores
    # v1's exact file set as a new snapshot; v_bad stays for forensics)
    t.rollback(v1)
    # WAP attempt 2: the good batch stages, audits clean, publishes
    v_good = t.append(orders.filter(F.col("o_orderstatus") == "F"))
    good_violations = audit(v_good)
    assert good_violations == 0
    cat.publish({"orders_wap": v_good}, expect={"orders_wap": v1})
    reader_after = cat.read("orders_wap").count()
    return local_df(
        spark,
        sorted(
            [
                ("audit_bad_violations", int(bad_violations)),
                ("audit_good_violations", int(good_violations)),
                ("reader_before", int(reader_before)),
                ("reader_during_bad_stage", int(reader_mid)),
                ("reader_after_publish", int(reader_after)),
            ]
        ),
        "step string, n_rows long",
    )
