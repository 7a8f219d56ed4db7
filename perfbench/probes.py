"""Readers that measure the engine's layers from outside the package.

Everything here runs only in the traced run and between timed calls
(except the py4j counter, whose cost is the tracing overhead):

- ``JobLog`` reads Spark's own status store (readable with
  ``spark.ui.enabled=false``): the jobs an op started, their spans, and
  the task metrics of their stages.
- ``catalyst_phases`` reads ``queryExecution().tracker().phases()`` of a
  returned DataFrame.
- ``stream_progress`` sums the ``StreamingQueryProgress`` records of one
  drain.
- ``Py4jCounter`` wraps the py4j client's ``send_command``.
- ``FileLedger`` diffs a table root's parquet files around a write and
  reads the footers of the new files.

``host_cpu_ticks`` is the exception: both modes read it around every op.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

PHASES = ("analysis", "optimization", "planning")


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host from /proc/stat. On a
    shared VM the latencies follow the share of CPU time the hypervisor
    steals, so every op and every run records it."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


class Py4jCounter:
    """Counts py4j round-trips and the seconds spent in them."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self.calls = 0
        self.seconds = 0.0
        self.paused = False

        def send_command(*args, **kwargs):
            if self.paused:
                return self._orig(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return self._orig(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1

        self._client.send_command = send_command

    def snapshot(self) -> tuple[int, float]:
        return self.calls, self.seconds


def _opt(jopt, default=None):
    return jopt.get() if jopt.isDefined() else default


class JobLog:
    """Jobs and stage metrics from the status store, by job-id range."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        # stageData's trailing Scala defaults must be passed through py4j
        self._stage_args = (False, sc._jvm.java.util.ArrayList(), False,
                            sc._gateway.new_array(sc._jvm.double, 0))

    def next_job_id(self) -> int:
        # waits for the listener bus so the store has every finished job
        self._sc.listenerBus().waitUntilEmpty()
        return int(self._sc.dagScheduler().nextJobId())

    def jobs(self, first: int, end: int) -> list[dict]:
        """Jobs ``first <= id < end``: epoch-second spans and stage ids."""
        out = []
        for jid in range(first, end):
            try:
                j = self._store.job(jid)
            except Exception:  # noqa: BLE001 - evicted or never registered
                continue
            sub = _opt(j.submissionTime())
            done = _opt(j.completionTime())
            if sub is None:
                continue
            stages = j.stageIds()
            out.append({
                "id": jid,
                "t0": sub.getTime() / 1000.0,
                "t1": (done.getTime() if done is not None else time.time() * 1000) / 1000.0,
                "stages": [int(stages.apply(i)) for i in range(stages.size())],
            })
        return out

    def stage_metrics(self, stage_ids) -> dict:
        tot = {"stages": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
               "input_records": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "peak_exec_mem_mb": 0.0}
        for sid in sorted(set(stage_ids)):
            attempts = self._store.stageData(sid, *self._stage_args)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if str(s.status()) == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += int(s.numCompleteTasks())
                tot["executor_run_s"] += s.executorRunTime() / 1000.0
                tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
                tot["input_records"] += int(s.inputRecords())
                tot["shuffle_read_bytes"] += int(s.shuffleReadBytes())
                tot["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
                tot["peak_exec_mem_mb"] = max(
                    tot["peak_exec_mem_mb"], s.peakExecutionMemory() / 2**20
                )
        return tot


def union_seconds(spans, lo: float, hi: float) -> float:
    """Length of the union of ``(t0, t1)`` spans clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def catalyst_phases(df) -> dict:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        ph = phases.get(name)
        out[name] = (ph.get().durationMs() / 1000.0) if ph.isDefined() else 0.0
    return out


def stream_progress(query) -> dict:
    """Sums over the progress records of one availableNow drain."""
    tot = {"batches": 0, "input_rows": 0, "trigger_s": 0.0, "latest_offset_s": 0.0,
           "planning_s": 0.0, "add_batch_s": 0.0, "wal_commit_s": 0.0}
    for p in query.recentProgress:
        d = p.durationMs or {}
        tot["trigger_s"] += d.get("triggerExecution", 0) / 1000.0
        tot["latest_offset_s"] += d.get("latestOffset", 0) / 1000.0
        tot["planning_s"] += d.get("queryPlanning", 0) / 1000.0
        tot["add_batch_s"] += d.get("addBatch", 0) / 1000.0
        tot["wal_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
        if p.numInputRows:
            tot["batches"] += 1
            tot["input_rows"] += int(p.numInputRows)
    return tot


class FileLedger:
    """Parquet files under a table root, diffed around writes."""

    def __init__(self, root: str):
        self.root = root
        self._seen = self._files()

    def _files(self) -> dict[str, int]:
        out = {}
        for dirpath, _dirs, files in os.walk(self.root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    try:
                        out[p] = os.path.getsize(p)
                    except OSError:
                        continue
        return out

    def new_files(self) -> dict:
        now = self._files()
        fresh = [p for p in now if p not in self._seen]
        self._seen = now
        rows = 0
        for p in fresh:
            rows += pq.read_metadata(p).num_rows
        return {"files": len(fresh), "bytes": sum(now[p] for p in fresh), "rows": rows}


def version_count(table_dir: str) -> int:
    meta = os.path.join(table_dir, "_meta")
    return sum(1 for f in os.listdir(meta) if f.startswith("v") and f.endswith(".json"))
