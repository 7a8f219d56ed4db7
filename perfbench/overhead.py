"""Tracing overhead: the same workload and seed run untraced and traced.

    python3 perfbench/overhead.py --seeds 1 2

Each run is its own process (``run.py``). The traced run writes its own
end-to-end values into the detail line, so the overhead of a metric is
the traced value minus the untraced one, reported per workload as the
median over the seeds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def end_to_end(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        check=True, timeout=300,
    ).stdout.splitlines()
    detail = json.loads(out[-2])
    if detail["errors"]:
        raise RuntimeError(f"{workload} seed {seed}: {detail['errors']}")
    return detail["end_to_end"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    p.add_argument("--seconds", type=int, default=None)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    report = {}
    for w in (w["name"] for w in spec["workloads"]):
        diffs: dict[str, list[float]] = {}
        for seed in args.seeds:
            plain = end_to_end(w, seed, seconds, 0)
            traced = end_to_end(w, seed, seconds, 1)
            for k, v in plain.items():
                diffs.setdefault(k, []).append((traced[k] - v, v))
        report[w] = {
            k: {"traced_minus_untraced": statistics.median(d for d, _ in pairs),
                "share_of_untraced": statistics.median(d / v for d, v in pairs if v)}
            for k, pairs in diffs.items()
        }
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
