"""Guard the driver's sweep order (VERDICT r8 "what's wrong" #4).

The driver's CORRECTNESS sweep covers the FIRST 50 names of
``__spark_entry__.queries()``. That order is computed: the hand-kept
``CHANGED_THIS_ROUND`` head, then names with no driver row, then the
stalest. These tests read the driver rows with their own helper, not
the code under test, and pin the order's invariants: full-registry
coverage without duplicates, every name that still lacks a driver row
inside the 50-slot window, and nothing staler left outside it."""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess

import pytest

import __spark_entry__
from empdia_iceberg_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50  # driver sweeps exactly this many names per round (r2+)


def _round(path: str) -> int:
    return int(re.search(r"_r(\d+)", os.path.basename(path)).group(1))


def _driver_swept(before: int | None = None) -> dict[str, int]:
    """Name -> the latest round whose CORRECTNESS file has its row,
    over the rounds below ``before`` (all of them when None)."""
    latest: dict[str, int] = {}
    for f in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = _round(f)
        if before is not None and rnd >= before:
            continue
        with open(f) as fh:
            for name in json.load(fh):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def test_sweep_priority_is_a_permutation_of_the_registry():
    order = list(__spark_entry__.queries())
    assert len(order) == len(set(order))
    assert sorted(order) == sorted(registry.specs())
    head = __spark_entry__.CHANGED_THIS_ROUND
    assert tuple(order[: len(head)]) == tuple(head)
    assert list(__spark_entry__.oracle_sql()) == [
        n for n in order if registry.specs()[n].oracle is not None
    ]


def test_all_never_swept_names_sit_inside_the_driver_window():
    order = list(__spark_entry__.queries())
    swept = _driver_swept()
    never = {n for n in order if n not in swept}
    outside = never - set(order[:WINDOW])
    assert not outside, (
        f"{len(outside)} never-driver-swept queries are outside the "
        f"{WINDOW}-slot sweep window and would miss this round's "
        f"CORRECTNESS rows: {sorted(outside)}"
    )


def test_no_name_outside_the_window_is_staler_than_one_inside():
    order = list(__spark_entry__.queries())
    latest = _driver_swept(before=__spark_entry__.SWEEP_ROUND)
    head = len(__spark_entry__.CHANGED_THIS_ROUND)
    inside = [latest.get(n, 0) for n in order[head:WINDOW]]
    outside = [latest.get(n, 0) for n in order[WINDOW:]]
    assert not inside or not outside or max(inside) <= min(outside)


def test_unregistered_changed_name_is_an_error(monkeypatch):
    monkeypatch.setattr(
        __spark_entry__, "CHANGED_THIS_ROUND",
        (*__spark_entry__.CHANGED_THIS_ROUND, "no_such_query"),
    )
    with pytest.raises(KeyError, match="no_such_query"):
        __spark_entry__.queries()
    with pytest.raises(KeyError, match="no_such_query"):
        __spark_entry__.oracle_sql()


def test_sweep_comment_round_matches_latest_correctness_file():
    """``SWEEP_ROUND`` must be the CURRENT round (latest COMMITTED
    CORRECTNESS_r{N}.json + 1); a stale round means the rotation was not
    rethought this round, and its window reads last round's rows.

    Only committed artifacts count (r9 ADVICE): the driver drops the
    current round's own CORRECTNESS file as an untracked artifact
    mid-round, and counting it would flip this suite red on every
    artifact-bearing checkout. Gating on ``git ls-files`` makes the
    forcing function fire at the START of the next code round (when the
    round-N artifacts get committed) instead. Falls back to the glob if
    git is unavailable (fresh tarball)."""
    try:
        tracked = subprocess.run(
            ["git", "ls-files", "CORRECTNESS_r*.json"],
            cwd=REPO,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.split()
        files = [os.path.join(REPO, f) for f in tracked]
    except (OSError, subprocess.CalledProcessError):
        files = glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    rounds = [_round(f) for f in files]
    if not rounds:  # fresh clone without driver artifacts
        return
    current = max(rounds) + 1
    assert __spark_entry__.SWEEP_ROUND == current, (
        f"SWEEP_ROUND is {__spark_entry__.SWEEP_ROUND} but driver artifacts "
        f"say the current round is {current} — rotate the sweep first"
    )
