"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json). All real logic lives in the
``empdia_iceberg_spark`` package (one registry entry per SURVEY.md §2
operator).

Sweep order: the driver checks the FIRST 50 names (exactly 50 since r2),
so the order rotates every round and no query goes long without a driver
row. It is ``CHANGED_THIS_ROUND`` (kept by hand: a changed query gets a
driver row the round it changes), then names with no driver row, then
the rest by oldest latest-swept round in ``CORRECTNESS_r{N}.json`` with
N < ``SWEEP_ROUND`` (a file dropped mid-round cannot shift the window),
ties by name. Each round, set ``SWEEP_ROUND`` to the latest committed
CORRECTNESS round + 1 and list the round's changed queries.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from empdia_iceberg_spark import registry

_SMOKE_SF_DIR = "/root/testdata/sf0.001"
_REPO = os.path.dirname(os.path.abspath(__file__))

SWEEP_ROUND = 17

# round 17 merged the pruning paths into SnapshotTable.plan_files
CHANGED_THIS_ROUND = (
    "table_sql_pruned_read",  # SQL read path plans through plan_files
    "table_partition_transforms_sql",  # read_pruned_transform adapter
    "table_partition_replace_sql",  # read_pruned_transform adapter
    "table_range_mor_pruned_read",  # read_pruned_transform_range adapter
    "table_stats_pruned_dml",  # DML file-finding through plan_files
    "table_update_dml",  # DML file-finding through plan_files
    "table_delete_dml",  # DML file-finding through plan_files
    "table_ddl_lifecycle",  # UPDATE file-finding through plan_files
    "table_rename_column_sql",  # UPDATE file-finding through plan_files
    "table_alter_type_sql",  # _raw_dtypes hoisted, fails loudly
)


def _latest_swept() -> dict[str, int]:
    """Name -> the latest round before ``SWEEP_ROUND`` with its driver row."""
    latest: dict[str, int] = {}
    for rnd in range(1, SWEEP_ROUND):
        path = os.path.join(_REPO, f"CORRECTNESS_r{rnd:02d}.json")
        if os.path.exists(path):
            with open(path) as fh:
                latest.update(dict.fromkeys(json.load(fh), rnd))
    return latest


def _sweep_order(names: Iterable[str]) -> list[str]:
    names = set(names)
    unknown = [n for n in CHANGED_THIS_ROUND if n not in names]
    if unknown:
        raise KeyError(f"CHANGED_THIS_ROUND names unregistered queries {unknown}")
    latest = _latest_swept()
    rest = sorted(
        names.difference(CHANGED_THIS_ROUND),
        key=lambda n: (n in latest, latest.get(n, 0), n),
    )
    return [*CHANGED_THIS_ROUND, *rest]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H-Q1-style pricing aggregate: scan → pushed filter → groupBy →
    7 aggregates → sort (SURVEY.md §7 slice 0).
    """
    return registry.queries()["q1_pricing_agg"](spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in sweep order."""
    fns = registry.queries()
    return {n: fns[n] for n in _sweep_order(fns)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query, in sweep order; omitted => rows-only check."""
    specs = registry.specs()
    return {n: specs[n].oracle for n in _sweep_order(specs) if specs[n].oracle is not None}
