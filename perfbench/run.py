"""Run one benchmark workload in this process and print its metrics.

    python3 perfbench/run.py --workload analytic_read --seed 1 --seconds 15 --trace 0

Run it from the repository root. The run builds its inputs inside the
checkout (``.perfbench_work/``), starts the engine's own SparkSession on
``local[<cpus>]``, sets the workload up, then runs whole seeded rounds of
ops in a closed loop with one client until ``--seconds`` have passed.
Every op's output is checked. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics of BENCHMARK.json for ``--trace 0`` and its per-layer metrics for
``--trace 1``; the line before it carries the details (rounds, error
rate, failures and every op wall).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
STALE_RUN_SEC = 3600
# A fixed, pre-touched heap: G1 grows the heap and touches fresh regions
# when collections take longer, so an untouched heap made the peak RSS
# follow the host's speed. With the heap resident from the start, it is
# a constant the benchmark sets, and peak_nonheap_rss_mb leaves it out:
# what is left moves with what an engine change can move, the JVM's
# native memory, the Python driver and the Python workers.
DRIVER_MEM = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["analytic_read", "table_commit", "stream_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


# ------------------------------------------------------------ statistics
def shape_gmean(ops) -> float:
    """Geometric mean over op shapes (query, SELECT kind, ingest) of each
    shape's median wall. Every shape weighs the same however often it ran,
    and the median drops any op that a burst of CPU steal or a GC pause
    hit."""
    walls: dict[str, list[float]] = {}
    for o in ops:
        walls.setdefault(o.name, []).append(o.wall)
    return float(statistics.geometric_mean([statistics.median(w) for w in walls.values()]))


# ------------------------------------------------------------ processes
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids, out, todo = kids or _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> tuple[str, int]:
    """(process name, resident kB); ("", 0) once the process is gone."""
    name, kb = "", 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmRSS:"):
                    kb = int(line.split()[1])
    except OSError:
        pass
    return name, kb


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree: the Python driver, its
    JVM (a java child of the driver) and the Python workers under it.
    Other processes are skipped: the JVM's short-lived helpers (chmod
    through jspawnhelper) can be caught while they still share the JVM's
    memory and would count it twice."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self.peak_by_kind = {"driver": 0, "jvm": 0, "workers": 0}
        self._halt = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        kids = _children_map()
        now = {"driver": _rss_kb(me)[1], "jvm": 0, "workers": 0}
        for pid in descendants(me, kids):
            name, kb = _rss_kb(pid)
            if name == "java" and pid in kids.get(me, ()):
                now["jvm"] += kb
            elif name.startswith("python"):
                now["workers"] += kb
        self.peak_kb = max(self.peak_kb, sum(now.values()))
        for k, kb in now.items():
            self.peak_by_kind[k] = max(self.peak_by_kind[k], kb)

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        if self._halt.is_set():
            return
        self._halt.set()
        self.join(timeout=5)
        self.sample()


def stop_spark(spark) -> None:
    """Stops the session and its JVM, and waits for every child to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(os.getpid())
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    if proc is not None:
        # The session is stopped and its scratch dirs are in the run dir,
        # which is removed anyway: the JVM's own shutdown (about 2 s) has
        # nothing left to do.
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 20
    alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tree_cpu_s() -> float:
    """CPU seconds of this process tree so far: the driver, its JVM, the
    Python workers and the children they have reaped. A guest kernel
    leaves stolen time out of a task's CPU time, so this grows when the
    host runs the same work on slower CPUs, but not with the steal."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            pass
    return total / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ environment
def configure_env(run_dir: str) -> None:
    """Points every engine and Spark scratch location into the run dir."""
    cpus = len(os.sched_getaffinity(0))
    sub = {k: os.path.join(run_dir, k) for k in
           ("tables", "stream", "sink", "ann", "bucketed", "local", "tmp", "warehouse")}
    for d in sub.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_TABLE_ROOT": sub["tables"],
        "SPARK_GRAFT_STREAM_ROOT": sub["stream"],
        "SPARK_GRAFT_SINK_ROOT": sub["sink"],
        "SPARK_GRAFT_ANN_ROOT": sub["ann"],
        "SPARK_GRAFT_BUCKET_ROOT": sub["bucketed"],
        "SPARK_LOCAL_DIRS": sub["local"],
        "TMPDIR": sub["tmp"],
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={sub['warehouse']}",
            f"--driver-java-options '-Djava.io.tmpdir={sub['tmp']} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch'",
            "pyspark-shell",
        ]),
    })


def sweep_stale_runs() -> None:
    """Removes run dirs left behind by killed runs."""
    now = time.time()
    for name in os.listdir(WORK):
        full = os.path.join(WORK, name)
        if name.startswith("run-") and now - os.path.getmtime(full) > STALE_RUN_SEC:
            shutil.rmtree(full, ignore_errors=True)


# ------------------------------------------------------------ the run
def run(args, spec: dict, run_dir: str, data_dir: str, prep_s: float,
        sampler: RssSampler) -> dict:
    import numpy as np

    from probes import host_cpu_ticks
    from spans import Recorder, layer_medians
    from workloads import WORKLOADS, Ctx

    t = time.perf_counter()
    import empdia_iceberg_spark  # noqa: F401  (populates the registry)

    registry_s = time.perf_counter() - t
    from empdia_iceberg_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t
    heap_mb = spark._jvm.java.lang.Runtime.getRuntime().totalMemory() / 2**20
    try:
        from empdia_iceberg_spark.tables.manager import scratch_root

        rec = Recorder(spark, traced=bool(args.trace))
        ctx = Ctx(spark=spark, rec=rec, rng=np.random.default_rng(args.seed),
                  data_dir=data_dir,
                  table_root=scratch_root(os.path.join(run_dir, "tables")), run_dir=run_dir)
        work = WORKLOADS[args.workload](ctx)
        work.setup()
        rec.reset()
        setup_s = time.perf_counter() - T_START - prep_s
        loop_t0 = time.perf_counter()
        steal0, total0 = host_cpu_ticks()
        cpu0 = tree_cpu_s()
        rounds = 0
        while True:
            work.round()
            rounds += 1
            if time.perf_counter() - loop_t0 >= args.seconds:
                break
        loop_s = time.perf_counter() - loop_t0
        steal1, total1 = host_cpu_ticks()
        loop_cpu_s = tree_cpu_s() - cpu0
        # the output checks are not the workload: the first analytic_read
        # run in a checkout loads DuckDB into this process for the oracle
        sampler.stop()
        extra = work.finish()
    finally:
        stop_spark(spark)

    ops = rec.ops
    primary = [o for o in ops if o.primary and o.ok]
    reads = [o for o in ops if o.read and o.ok]
    final_ok = extra.pop("final_ok", None)
    failed = sum(not o.ok for o in ops) + (final_ok is False)
    attempted = len(ops) + (final_ok is not None)
    end_to_end = {
        "setup_s": setup_s,
        "op_gmean_s": shape_gmean(primary),
        "ops_per_s": len(primary) / loop_s,
        "read_gmean_s": shape_gmean(reads),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "rounds": rounds, "loop_s": loop_s, "ops": len(ops),
        "loop_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "loop_cpu_s": loop_cpu_s,
        "error_rate": failed / max(1, attempted),
        "errors": [f"{o.name}: {o.error}" for o in ops if not o.ok][:10],
        "op_walls": {}, "op_steal": {},
    }
    for o in ops:
        detail["op_walls"].setdefault(o.name, []).append(round(o.wall, 4))
        detail["op_steal"].setdefault(o.name, []).append(round(o.steal, 4))
    layers = {}
    if args.trace:
        # BENCHMARK.json's metrics plus any other layer the ops reached
        # (stream.* on stream_ingest); the trace file keeps them all
        names = {m["name"] for m in spec["per_layer"]} | {k for o in ops for k in o.layer}
        layers = layer_medians(ops, sorted(names))
        layers["session.get_spark_s"] = session_s
        layers["registry.import_s"] = registry_s
        layers.update({k: v for k, v in extra.items() if k in layers})
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        rec.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
                 {"detail": detail, "end_to_end": end_to_end, "per_layer": layers})
    return {"failed": failed, "attempted": attempted, "end_to_end": end_to_end,
            "per_layer": layers, "detail": detail, "heap_mb": heap_mb}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "empdia_iceberg_spark", "__init__.py")):
        print("perfbench: the engine package empdia_iceberg_spark/ is not in this checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    sweep_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{uuid.uuid4().hex[:6]}")
    configure_env(run_dir)
    sys.path.insert(0, ROOT)

    import data

    t = time.perf_counter()
    data_dir = data.ensure(os.path.join(WORK, "data", "sf0.1"), 0.1)
    prep_s = time.perf_counter() - t
    sampler = RssSampler()
    sampler.start()
    try:
        res = run(args, spec, run_dir, data_dir, prep_s, sampler)
    finally:
        sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    # the heap is committed and resident for the whole run (see DRIVER_MEM)
    res["end_to_end"]["peak_nonheap_rss_mb"] = sampler.peak_kb / 1024.0 - res["heap_mb"]
    res["detail"]["heap_mb"] = res["heap_mb"]
    res["detail"]["peak_rss_mb_by_kind"] = {
        k: round(kb / 1024.0, 1) for k, kb in sampler.peak_by_kind.items()}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["per_layer"] if args.trace else res["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": units[m["name"]]} for m in chosen}
    print(json.dumps({**res["detail"], "end_to_end": res["end_to_end"]}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
