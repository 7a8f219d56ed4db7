"""Ops, spans and per-op layer attribution.

Every timed call the benchmark makes into the engine is one *op*. An op
holds named child spans that share its op id: ``build`` (a registry
query function), ``sql`` (an ``execute_sql`` call), ``collect``
(``toPandas``), ``append`` and ``drain``. Walls come from these spans in both modes; the
traced mode additionally reads the Spark-side probes once the op has
returned, so the probes add nothing to the op's own wall except the
py4j counter's wrapper.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from probes import JobLog, Py4jCounter, catalyst_phases, host_cpu_ticks, union_seconds


@dataclass
class Op:
    id: int
    kind: str  # query, merge, update, delete, insert, select, ingest
    name: str
    primary: bool = False  # the workload's main op (query, commit, ingest)
    read: bool = False  # returns rows to the client
    t0: float = 0.0
    t1: float = 0.0
    steal: float = 0.0  # share of the host's CPU ticks stolen during the op
    ok: bool = True
    error: str = ""
    spans: list = field(default_factory=list)  # (name, t0, t1)
    jobs: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # per-layer metric -> value
    parts: dict = field(default_factory=dict)
    frame: object = None  # DataFrame whose Catalyst phases to read

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Recorder:
    def __init__(self, spark, traced: bool):
        self.traced = traced
        self.ops: list[Op] = []
        self._op: Op | None = None
        if traced:
            self.jobs = JobLog(spark)
            self.py4j = Py4jCounter(spark)

    def reset(self) -> None:
        """Drops the warm-up ops so they stay out of every metric."""
        self.ops = []

    @contextmanager
    def op(self, kind: str, name: str, primary: bool = False, read: bool = False):
        op = Op(id=len(self.ops), kind=kind, name=name, primary=primary, read=read)
        if self.traced:
            self.py4j.paused = True
            op.layer["_job_mark"] = self.jobs.next_job_id()
            self.py4j.paused = False
            calls0, secs0 = self.py4j.snapshot()
        self._op = op
        steal0, total0 = host_cpu_ticks()
        op.t0 = time.time()
        try:
            yield op
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
            op.ok = False
            op.error = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        finally:
            op.t1 = time.time()
            steal1, total1 = host_cpu_ticks()
            op.steal = (steal1 - steal0) / max(1, total1 - total0)
            self._op = None
            self.ops.append(op)
        if self.traced:
            calls1, secs1 = self.py4j.snapshot()
            op.layer["py4j.calls"] = calls1 - calls0
            op.layer["py4j.s"] = secs1 - secs0
            self.py4j.paused = True
            try:
                self._attribute(op)
            finally:
                self.py4j.paused = False

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self._op.spans.append((name, t0, time.time()))

    def _attribute(self, op: Op) -> None:
        L = op.layer
        mark = L.pop("_job_mark")
        op.jobs = self.jobs.jobs(mark, self.jobs.next_job_id())
        spans = [(j["t0"], j["t1"]) for j in op.jobs]
        in_jobs = union_seconds(spans, op.t0, op.t1)
        L["spark.jobs"] = len(op.jobs)
        L["spark.in_jobs_s"] = in_jobs
        L["spark.outside_jobs_s"] = op.wall - in_jobs
        for k, v in self.jobs.stage_metrics(
            [s for j in op.jobs for s in j["stages"]]
        ).items():
            L[f"spark.{k}"] = v
        op.parts = {"in_jobs": in_jobs}
        for name, a, b in op.spans:
            inside = union_seconds(spans, a, b)
            op.parts[name] = (b - a) - inside
            if name == "build":
                L["operators.build_s"] = b - a
                L["operators.build_jobs"] = sum(1 for j in op.jobs if a <= j["t0"] < b)
            elif name == "collect":
                last = max([j["t1"] for j in op.jobs if a <= j["t1"] <= b] or [a])
                L["collect.tail_s"] = b - last
        if op.frame is not None:
            for phase, secs in catalyst_phases(op.frame).items():
                L[f"catalyst.{phase}_s"] = secs
            op.frame = None

    def dump(self, path: str, extra: dict) -> None:
        """Writes every op with its spans and jobs (traced runs only)."""
        rows = []
        for op in self.ops:
            rows.append({
                "op": op.id, "kind": op.kind, "name": op.name,
                "primary": op.primary, "read": op.read,
                "t0": op.t0, "t1": op.t1, "ok": op.ok, "error": op.error,
                "spans": [{"op": op.id, "name": n, "t0": a, "t1": b} for n, a, b in op.spans],
                "jobs": [{"op": op.id, **j} for j in op.jobs],
                "layer": op.layer, "parts": op.parts,
            })
        with open(path, "w") as f:
            json.dump({"ops": rows, **extra}, f)


def layer_medians(ops: list[Op], names: list[str]) -> dict:
    """Median over the ops that ran each layer; 0 where none did."""
    out = {}
    for n in names:
        vals = [op.layer[n] for op in ops if n in op.layer]
        out[n] = float(statistics.median(vals)) if vals else 0.0
    return out
