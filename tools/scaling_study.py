"""Reproducible scaling studies for SURVEY.md §6 (VERDICT asks).

Small-SF bench ratios vs the in-process DuckDB baseline are LATENCY
bound: every fresh Spark plan pays a fixed ~0.1–0.3 s floor an
in-process library doesn't, so the honest question is how the ratio
moves as the data grows toward the scales this engine targets. This
tool builds ×k replicas of the sf0.1 tables (key/time offsets preserve
referential integrity and group-size structure — scaling adds GROUPS,
it doesn't inflate groups), then times the REAL registered query
function against its own DuckDB oracle on the same files, fresh plan
per run, best-of-3 both engines (the bench.py methodology).

Studies:
  window_rank   window_rank_topk_per_customer over orders ×k
                (custkey+orderkey offsets: k× more customers, window
                sizes unchanged — per-group top-k at growing group count)
  events_hourly events_hourly_rollup over events ×k (ts offset by 35
                days per replica: k× more hour buckets, rows per bucket
                unchanged; event_id offset keeps ids unique)
  q3            q3_join3_topk over customer/orders/lineitem ×k
                (matching custkey/orderkey offsets keep every join edge)
  q3_bucketed   the identical q3 shape with orders and lineitem
                PRE-BUCKETED by the join key (bucketBy(32, orderkey),
                sortBy) — the pay-once layout that removes the per-query
                big-big exchange; the bucketed write is untimed prep,
                exactly the trade a 100 TB deployment makes. DuckDB has
                no bucketed twin — compare against the q3 study's
                DuckDB column at the same scale.

  dedup_hexkey  doc_exact_dedup with the pre-r11 hex-string group key
                forced back ON — same process and files as `dedup`,
                isolating what the 32-byte binary key buys
  minhash       doc_minhash_near_dup over documents ×k with WORD-level
                replica salting (a bijection on words: within-replica
                Jaccard structure exact, zero cross-replica shingles —
                near-dup GROUPS scale ×k, pair inflation impossible)
  minhash_direct the same query with the ≥64 MB candidate-restricted
                verify gate forced OFF — same process + files as
                `minhash`, isolating what the restriction buys
  clusters      doc_dedup_clusters (LSH pairs → connected components)
                on the same neardup datasets
  profile_sim   user_profile_similarity over events ×k USERS (user_id
                offset, ts unshifted so per-replica hour profiles are
                the base ones): the O(users²) pairwise stage at k× users
  profile_sim_nobroadcast  the same with the 200k-user broadcast
                ceiling forced to 0 (shuffle-join fallback cost)
  dpo           dynamic partition overwrite: INSERT OVERWRITE replacing
                one partition (~2.5% of rows) vs DuckDB re-COPYing the
                whole merged table — the backfill cost claim priced
  cdc_apply     incremental declarative MERGE (batch confined to 1 of 8
                key-range dirs; pruning audit asserted per scale) vs
                the single-node COW equivalent (DuckDB COPY of the
                fully-merged table to parquet — what an engine without
                file pruning must write)

  small_scan    snapshot-table reads below and above the one-split
                gate (tables/manager.py SMALL_SCAN_BYTES): a projection
                collect, a one-exchange GROUP BY and a two-exchange
                COUNT(DISTINCT) through execute_sql, each timed with
                the read forced to one task and forced parallel, over
                tables of SMALL_SCAN_MB megabytes in 256 KB files and
                of SMALL_SCAN_TINY_MB in SMALL_SCAN_TINY_FILES tiny
                files; prints the size and the file count at which the
                one-task read stops winning. Ignores --scales.

Usage:
  python tools/scaling_study.py small_scan --reps 7
  python tools/scaling_study.py window_rank events_hourly --scales 10,30,100
  python tools/scaling_study.py q3 q3_bucketed --scales 10,30,100
  python tools/scaling_study.py q1 --scales 10,30,100
  python tools/scaling_study.py dedup --scales 100,1000
  python tools/scaling_study.py minhash minhash_direct clusters --scales 100,1000 --check
  python tools/scaling_study.py profile_sim profile_sim_nobroadcast --scales 3,10 --check

Scaled datasets land under $SPARK_GRAFT_SCALE_ROOT (default
/tmp/scale_study) and are reused across invocations; `--check` also
value-compares Spark vs oracle rows on the scaled data (sorted,
column-name-canonical — the driver's compare), proving the replication
recipe preserves query semantics, not just row counts.
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF = "/root/testdata/sf0.1"
ROOT = os.environ.get("SPARK_GRAFT_SCALE_ROOT", "/tmp/scale_study")
EVENT_TS_STRIDE_DAYS = 35  # base events span <35 days: replicas never collide
_TS_TICKS_PER_DAY = {"s": 86_400, "ms": 86_400_000, "us": 86_400_000_000, "ns": 86_400_000_000_000}

STUDY_TABLES = {
    "q1": ["lineitem"],
    "window_rank": ["orders"],
    "events_hourly": ["events"],
    "q3": ["customer", "orders", "lineitem"],
    "q3_bucketed": ["customer", "orders", "lineitem"],
    "q3_bucketed_part": ["customer", "orders", "lineitem"],
    "dedup": ["documents"],
    "dedup_hexkey": ["documents"],
    "minhash": ["documents"],
    "minhash_direct": ["documents"],
    "clusters": ["documents"],
    "profile_sim": ["events"],
    "profile_sim_nobroadcast": ["events"],
    "cdc_apply": ["orders"],
    "dpo": ["orders"],
    "hidden_prune": ["events"],
    "posdel_read_tax": ["orders"],
    "dml_stats": ["orders"],
    "bucket_join": ["orders", "customer"],
    "sql_prune": ["events"],
    "small_scan": [],  # generates its own tables
}
STUDY_QUERY = {
    "q1": "q1_pricing_agg",
    "window_rank": "window_rank_topk_per_customer",
    "events_hourly": "events_hourly_rollup",
    "q3": "q3_join3_topk",
    "q3_bucketed": "q3_join3_topk",  # oracle + unbucketed twin source
    "q3_bucketed_part": "q3_join3_topk",  # + month-partitioned scan pruning
    "dedup": "doc_exact_dedup",
    "dedup_hexkey": "doc_exact_dedup",  # hex-string group key forced (A/B)
    "minhash": "doc_minhash_near_dup",
    "minhash_direct": "doc_minhash_near_dup",  # verify gate forced OFF (A/B)
    "clusters": "doc_dedup_clusters",
    "profile_sim": "user_profile_similarity",
    "profile_sim_nobroadcast": "user_profile_similarity",  # ceiling forced 0
    "cdc_apply": "table_merge_dml",  # nominal; custom runner below
    "dpo": "table_insert_overwrite_dml",  # nominal; custom runner below
    "hidden_prune": "table_partition_transforms_sql",  # nominal; custom runner below
    "posdel_read_tax": "table_position_delete_dml",  # nominal; custom runner below
}
# Studies sharing one scaled dataset (the A/B variants must time the
# SAME files, and q3_bucketed layers a layout on q3's data).
_DATASET_ALIAS = {
    "q3_bucketed": "q3",
    "q3_bucketed_part": "q3",
    "dedup_hexkey": "dedup",
    "minhash": "neardup",
    "minhash_direct": "neardup",
    "clusters": "neardup",
    "profile_sim": "profile",
    "profile_sim_nobroadcast": "profile",
    "cdc_apply": "window_rank",  # shares the orders ×k replicas
    "dpo": "window_rank",  # shares the orders ×k replicas
    "hidden_prune": "events_hourly",  # shares the events ×k replicas
    "posdel_read_tax": "window_rank",  # shares the orders ×k replicas
    "sql_prune": "events_hourly",  # shares the events ×k replicas
}
# q1 is the one study whose scaling mode is BIGGER groups, not more
# groups (its output is always the 4 returnflag/linestatus rows):
# replication just multiplies rows per group, which is exactly what the
# partial-aggregation path must absorb. dedup replicates documents with
# a per-replica text salt so duplicate-GROUP structure is preserved
# within each replica and no cross-replica dups appear.


# Pack replicas into files of roughly this many base-table bytes. A
# one-file-per-replica layout hands BOTH engines a file-count artifact
# at high scale factors (e.g. ×1000 of a 0.6 MB table = 1000 tiny
# files: Spark pays ~1 s of per-file open/task overhead that a REAL
# corpus — written at the 64–256 MB targets every production writer
# uses, including tables/manager.py's 128 MB — never exhibits). Each
# replica still lands as its own ROW GROUP, so per-replica structure
# (and the tests' replica-range assertions) are unchanged.
_TARGET_FILE_BYTES = 64 * 1024**2


def _replicate(table: str, scale: int, dest_dir: str, offsets: dict) -> None:
    """Write `scale` replicas of the base table, each with its key
    columns shifted by replica_index × (max_key + 1) so replicas are
    disjoint but referential integrity (customer↔orders↔lineitem, and
    per-replica group sizes) is preserved exactly. Replicas are packed
    into ~64 MB files (one row group per replica)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base_path = os.path.join(BASE_SF, f"{table}.parquet")
    base = pq.read_table(base_path)
    per_file = max(1, _TARGET_FILE_BYTES // max(1, os.path.getsize(base_path)))
    os.makedirs(dest_dir, exist_ok=True)
    writer = None
    file_no = 0
    for i in range(scale):
        cols = {}
        for name in base.schema.names:
            col = base.column(name)
            if name in offsets:
                kind, stride = offsets[name]
                if kind == "int":
                    col = pc.add(col, i * stride).cast(col.type)
                elif kind == "salt":
                    # per-replica text suffix: duplicate groups stay
                    # intact within a replica, never merge across them
                    col = pc.binary_join_element_wise(
                        col.cast(pa.string()), pa.scalar(f" repl{i:04d}"), ""
                    ).cast(base.schema.field(name).type)
                elif kind == "wordsalt":
                    # per-replica suffix on EVERY whitespace token: a
                    # bijection on words, so word-shingle (Jaccard)
                    # relationships within a replica are preserved
                    # EXACTLY (same n_common, same set sizes) while NO
                    # shingle is shared across replicas — the similarity
                    # analogue of `salt` (whose doc-level suffix changes
                    # only the tail shingles, which would leave replica
                    # twins at J≈1 and quadratically inflate near-dup
                    # pairs instead of scaling their GROUP COUNT)
                    col = pc.replace_substring_regex(
                        col.cast(pa.string()),
                        pattern=r"(\S+)",
                        replacement=rf"\1~r{i:04d}",
                    ).cast(base.schema.field(name).type)
                else:  # timestamp shift by `stride` DAYS, in the column's
                    # own tick unit (a fixed-unit constant silently shifts
                    # a timestamp[us] column ~1e3 too far), type preserved
                    ticks = stride * _TS_TICKS_PER_DAY[col.type.unit]
                    shifted = pc.add(col.cast(pa.int64()), i * ticks)
                    col = shifted.cast(col.type)
            cols[name] = col
        if writer is None:
            writer = pq.ParquetWriter(
                os.path.join(dest_dir, f"part-{file_no:04d}.parquet"), base.schema
            )
        writer.write_table(pa.table(cols, schema=base.schema))
        if (i + 1) % per_file == 0:
            writer.close()
            writer = None
            file_no += 1
    if writer is not None:
        writer.close()


def build_dataset(study: str, scale: int) -> str:
    """Build (or reuse) the ×scale dataset dir; returns an sf_dir-shaped
    path usable by both sources.tables.load and the DuckDB views."""
    import pyarrow.parquet as pq

    sf_dir = os.path.join(ROOT, f"{_DATASET_ALIAS.get(study, study)}_x{scale}")
    done = os.path.join(sf_dir, "_done")
    if os.path.exists(done):
        return sf_dir

    import pyarrow.compute as pc

    def mx(table, col):
        t = pq.read_table(os.path.join(BASE_SF, f"{table}.parquet"), columns=[col])
        return int(pc.max(t.column(col)).as_py()) + 1

    # key maxima read lazily: only the tables this study replicates are
    # touched (the q3 studies must not require events.parquet to exist)
    tables = STUDY_TABLES[study]
    o_off = mx("orders", "o_orderkey") if {"orders", "lineitem"} & set(tables) else 0
    c_off = mx("customer", "c_custkey") if {"orders", "customer"} & set(tables) else 0
    offsets = {
        "orders": {"o_orderkey": ("int", o_off), "o_custkey": ("int", c_off)},
        "customer": {"c_custkey": ("int", c_off)},
        "lineitem": {"l_orderkey": ("int", o_off)},
        "events": {
            "event_id": ("int", mx("events", "event_id") if "events" in tables else 0),
            "ts": ("ts", EVENT_TS_STRIDE_DAYS),
        },
        "documents": {
            "doc_id": (
                "int",
                mx("documents", "doc_id") if "documents" in tables else 0,
            ),
            "text": ("salt", None),
        },
    }
    dataset = _DATASET_ALIAS.get(study, study)
    if dataset == "neardup":
        # similarity-preserving document replication (see `wordsalt`)
        offsets["documents"]["text"] = ("wordsalt", None)
    elif dataset == "profile":
        # scale USER COUNT: user_id offset per replica; ts NOT shifted —
        # each replica's users keep the base hour-of-day profiles, so
        # per-replica profile vectors (and norms) are exactly the base
        # ones and the pairwise stage grows as (k·users)², the O(n²)
        # growth the study measures. event_id stays unique across
        # replicas.
        offsets["events"] = {
            "event_id": ("int", mx("events", "event_id")),
            "user_id": ("int", mx("events", "user_id")),
        }
    for table in tables:
        _replicate(table, scale, os.path.join(sf_dir, f"{table}.parquet"), offsets[table])
    open(done, "w").close()
    return sf_dir


def _bucketed_part_q3(spark, sf_dir: str, scale: int):
    """q3 over a month-PARTITIONED + orderkey-bucketed layout (ask #4's
    'one more concrete cut'): lineitem partitioned by ship month and
    orders by order month (hive dirs), both bucketBy(32, orderkey)
    within each partition. The query carries the coarse month predicate
    alongside the exact date one — the standard partition-pruning
    contract for a date-partitioned lakehouse table (Delta/Iceberg
    generated-column pruning automates exactly this) — so the scan
    SKIPS every month dir strictly outside its side of the date cut
    at plan time, while the orderkey join still reads both sides
    bucket-local (bucket spec is table-level, valid across partition
    dirs). Same answer, value-checked against the plain q3 oracle."""
    from pyspark.sql import functions as F

    from empdia_iceberg_spark.functions.exact import det_round, exact_sum8_bounded
    from empdia_iceberg_spark.operators.relational import _Q3_DATE
    from empdia_iceberg_spark.sources.tables import load

    warehouse = os.path.join(ROOT, "bucketed_warehouse")
    names = {t: f"scale_{t}_bktpart_x{scale}" for t in ("orders", "lineitem")}
    month = {"orders": ("o_orderdate", "_om"), "lineitem": ("l_shipdate", "_sm")}
    for t, tbl in names.items():
        path = os.path.join(warehouse, tbl)
        if not spark.catalog.tableExists(tbl) or not os.path.isdir(path):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            shutil.rmtree(path, ignore_errors=True)
            key = "o_orderkey" if t == "orders" else "l_orderkey"
            dcol, mcol = month[t]
            (
                load(spark, sf_dir, t)
                .withColumn(mcol, (F.year(dcol) * 100 + F.month(dcol)).cast("int"))
                .repartition(32, F.col(key))
                .write.format("parquet")
                .partitionBy(mcol)
                .bucketBy(32, key)
                .sortBy(key)
                .option("path", path)
                .saveAsTable(tbl)
            )
    cut = int(_Q3_DATE[:4]) * 100 + int(_Q3_DATE[5:7])  # 199503
    orders = spark.table(names["orders"]).filter(
        (F.col("_om") <= cut)
        & (F.col("o_orderdate") < F.lit(_Q3_DATE).cast("timestamp"))
    )
    li = spark.table(names["lineitem"]).filter(
        (F.col("_sm") >= cut)
        & (F.col("l_shipdate") > F.lit(_Q3_DATE).cast("timestamp"))
    )
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    li_rev = li.groupBy("l_orderkey").agg(
        det_round(
            exact_sum8_bounded(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            2,
        ).alias("revenue")
    )
    orders_b = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return (
        li_rev.join(orders_b, li_rev.l_orderkey == orders_b.o_orderkey)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def _bucketed_q3(spark, sf_dir: str, scale: int):
    """The q3 shape over pre-bucketed orders/lineitem: both sides
    bucketBy(32, orderkey).sortBy(orderkey). Mirrors the registered
    query's r9 agg-below-join shape, where bucketing removes EVERY
    remaining exchange: the per-orderkey revenue pre-agg runs
    bucket-local (the scan's HashPartitioning(l_orderkey) already
    satisfies the agg's distribution), and the orderkey join reads
    both sides straight off their buckets; customer stays a plain
    broadcast dim. The bucketed write happens once per dataset
    (untimed prep — the layout investment bucketing is)."""
    from pyspark.sql import functions as F

    from empdia_iceberg_spark.functions.exact import det_round, exact_sum8_bounded
    from empdia_iceberg_spark.operators.relational import _Q3_DATE
    from empdia_iceberg_spark.sources.tables import load

    warehouse = os.path.join(ROOT, "bucketed_warehouse")
    names = {t: f"scale_{t}_bkt_x{scale}" for t in ("orders", "lineitem")}
    for t, tbl in names.items():
        path = os.path.join(warehouse, tbl)
        if not spark.catalog.tableExists(tbl) or not os.path.isdir(path):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            shutil.rmtree(path, ignore_errors=True)
            key = "o_orderkey" if t == "orders" else "l_orderkey"
            # repartition by the bucket column first (same Murmur3 hash
            # as bucketBy): each write task then holds exactly one
            # bucket's rows, so the table is 32 files, not
            # input-tasks × 32 tiny ones — the layout a production
            # bucketed write targets.
            (
                load(spark, sf_dir, t)
                .repartition(32, F.col(key))
                .write.format("parquet")
                .bucketBy(32, key)
                .sortBy(key)
                .option("path", path)
                .saveAsTable(tbl)
            )
    orders = spark.table(names["orders"]).filter(
        F.col("o_orderdate") < F.lit(_Q3_DATE).cast("timestamp")
    )
    li = spark.table(names["lineitem"]).filter(
        F.col("l_shipdate") > F.lit(_Q3_DATE).cast("timestamp")
    )
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    li_rev = li.groupBy("l_orderkey").agg(
        det_round(
            exact_sum8_bounded(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            2,
        ).alias("revenue")
    )
    # identical join order to the registered q3: orders semi-reduced by
    # the broadcast customer dim FIRST, then the orderkey join
    orders_b = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return (
        li_rev.join(orders_b, li_rev.l_orderkey == orders_b.o_orderkey)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = lambda v: round(v, 9) if isinstance(v, float) and not math.isnan(v) else v  # noqa: E731
    return sorted([tuple(norm(r[i]) for i in order) for r in rows], key=repr)


import contextlib


@contextlib.contextmanager
def _study_variant(study: str):
    """A/B variants run the SAME registered query with one engine knob
    forced, so the comparison against the default study is same-process
    and same-files (the only comparison the ±30% cross-process page-
    cache wobble allows — SURVEY §6 note):

    - minhash_direct: the ≥64 MB candidate-restricted verify gate is
      forced OFF (corpus-wide shingle verify sides), isolating what the
      restriction buys at scale.
    - profile_sim_nobroadcast: the 200k-user broadcast ceiling is
      forced to 0, exercising the shuffle-join fallback the ceiling
      protects (SMJ norm joins + predicate pair join)."""
    if study == "minhash_direct":
        from empdia_iceberg_spark.operators import dedup

        old = dedup.CAND_RESTRICT_MIN_CORPUS_BYTES
        dedup.CAND_RESTRICT_MIN_CORPUS_BYTES = 1 << 62
        try:
            yield
        finally:
            dedup.CAND_RESTRICT_MIN_CORPUS_BYTES = old
    elif study == "dedup_hexkey":
        # r11: the pre-r11 hex-string group key forced back on — the
        # 64-char-key plan, same process + files as `dedup`
        from empdia_iceberg_spark.operators import dedup

        old = dedup.EXACT_DEDUP_BINARY_KEY
        dedup.EXACT_DEDUP_BINARY_KEY = False
        try:
            yield
        finally:
            dedup.EXACT_DEDUP_BINARY_KEY = old
    elif study == "profile_sim_nobroadcast":
        from empdia_iceberg_spark.operators import similarity

        old = similarity._PROFILE_BROADCAST_MAX_USERS
        similarity._PROFILE_BROADCAST_MAX_USERS = 0
        try:
            yield
        finally:
            similarity._PROFILE_BROADCAST_MAX_USERS = old
    else:
        yield


def run_cdc_apply_study(
    spark, scale: int, reps: int, check: bool, spark_only: bool = False
) -> dict:
    """Incremental declarative-MERGE apply vs the single-node
    copy-on-write equivalent (VERDICT r11 direction: at-scale evidence
    for the DML/MERGE family and the CDC-apply flagship).

    Prep (untimed): the ×scale orders land as a snapshot table in 8
    equal key-range dirs; one warm-up merge populates the per-dir key
    envelope cache (the pay-once Iceberg manifest analog). Timed Spark:
    ONE `MERGE INTO` applying a CDC batch whose keys all live in the
    TOP key range — the pruned engine must rewrite exactly 1 dir and
    carry 7 by reference (the returned audit is asserted, so the claim
    is pinned per scale, not assumed). Timed DuckDB: the same logical
    apply WITHOUT file pruning — `CREATE OR REPLACE TABLE ... AS` the
    merged SELECT, i.e. the whole-table rewrite a single-node COW pays.
    After every timed Spark run the table rolls back to the base
    version (a metadata commit), so each rep applies against identical
    state and the immutable-dir envelope cache stays warm — the
    steady-state trickle-feed shape `stream_cdc_apply` runs per
    micro-batch."""
    import duckdb

    from pyspark.sql import functions as F

    from empdia_iceberg_spark.sources.tables import load
    from empdia_iceberg_spark.tables.dml import execute_dml
    from empdia_iceberg_spark.tables.manager import SnapshotTable

    sf_dir = build_dataset("cdc_apply", scale)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    kmax = int(orders.agg(F.max("o_orderkey")).first()[0])
    n_dirs = 8
    t = SnapshotTable(spark, "orders_cdc_scale")
    t.drop()
    bounds = [kmax * i // n_dirs for i in range(n_dirs + 1)]
    t.create(orders.filter(F.col("o_orderkey") <= bounds[1]))
    for i in range(1, n_dirs):
        t.append(
            orders.filter(
                (F.col("o_orderkey") > bounds[i])
                & (F.col("o_orderkey") <= bounds[i + 1])
            )
        )
    base_v = t.current_version()
    lo_k = kmax - 1000  # batch keys confined to the top key-range dir
    orders.filter(F.col("o_orderkey") > lo_k).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(10.0)).alias("price"),
    ).createOrReplaceTempView("cdc_scale_batch")
    stmt = (
        "MERGE INTO orders_cdc_scale t USING cdc_scale_batch s "
        "ON t.o_orderkey = s.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET o_totalprice = s.price"
    )
    execute_dml(spark, stmt)  # warm-up: envelope cache + codegen
    t.rollback(base_v)
    s_best, audit = float("inf"), None
    for _ in range(reps):
        t0 = time.perf_counter()
        res = execute_dml(spark, stmt)
        s_best = min(s_best, time.perf_counter() - t0)
        audit = res["audit"]
        t.rollback(base_v)
    assert audit == {"dirs_rewritten": 1, "dirs_reused": n_dirs - 1}, audit

    if spark_only:
        t.drop()
        return {
            "study": "cdc_apply",
            "scale": scale,
            "rows": None,
            "spark_sec": round(s_best, 3),
            "duckdb_sec": None,
            "ratio": None,
        }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf_dir}/orders.parquet/*.parquet')"
    )
    # The single-node COW equivalent must WRITE the rewritten table the
    # way the engine writes parquet — an in-memory CTAS understates it
    # ~10x (measured). COPY ... TO parquet is the honest twin; `applied`
    # stays as a VIEW for the value check.
    merged_select = f"""
        SELECT o.o_orderkey, o.o_orderstatus,
               coalesce(b.price, CAST(o.o_totalprice AS DOUBLE)) AS o_totalprice
        FROM orders o
        LEFT JOIN (
            SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) + 10.0 AS price
            FROM orders WHERE o_orderkey > {lo_k}
        ) b ON o.o_orderkey = b.k
    """
    out_pq = os.path.join(ROOT, f"cdc_apply_out_x{scale}.parquet")
    apply_sql = f"COPY ({merged_select}) TO '{out_pq}' (FORMAT PARQUET)"
    con.execute(f"CREATE VIEW applied AS {merged_select}")
    con.execute(apply_sql)  # warm OS page cache
    d_best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        con.execute(apply_sql)
        d_best = min(d_best, time.perf_counter() - t0)

    n_rows = None
    if check:
        execute_dml(spark, stmt)
        rollup = (
            t.read()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("s"),
            )
        )
        srows = [tuple(r) for r in rollup.collect()]
        res = con.execute(
            "SELECT o_orderstatus, count(*) AS n_rows, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s "
            "FROM applied GROUP BY o_orderstatus"
        )
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        assert len(srows) == len(orows) and _canon(
            srows, rollup.columns
        ) == _canon(orows, ocols), f"cdc_apply x{scale}: mismatch"
        n_rows = sum(r[1] for r in srows)
        t.rollback(base_v)
    con.close()
    if os.path.exists(out_pq):
        os.remove(out_pq)  # full-table-sized COPY output: do not leak it
    t.drop()
    return {
        "study": "cdc_apply",
        "scale": scale,
        "rows": n_rows,
        "spark_sec": round(s_best, 3),
        "duckdb_sec": round(d_best, 3),
        "ratio": round(s_best / d_best, 2),
    }


def run_dpo_study(
    spark, scale: int, reps: int, check: bool, spark_only: bool = False
) -> dict:
    """Dynamic partition overwrite vs the single-node COW equivalent
    (r13): the backfill claim is that replacing ONE partition costs
    that partition's write, never a table rewrite — the audit pins it
    structurally (partitions_replaced=1, dirs_rewritten=0, the other
    partitions carried by reference at subdir granularity), and this
    study prices it against DuckDB re-COPYing the whole merged table to
    parquet (what a single-node engine without partition-granular file
    replacement pays for the same logical update).

    Timed Spark: ONE `INSERT OVERWRITE` replacing the 'P' partition
    (~2.5% of rows) of the ×scale orders table partitioned by status;
    each rep rolls back to base (a metadata commit) so state is
    identical. Timed DuckDB: COPY of the full post-update table."""
    import duckdb

    from pyspark.sql import functions as F

    from empdia_iceberg_spark.sources.tables import load
    from empdia_iceberg_spark.tables.dml import execute_dml
    from empdia_iceberg_spark.tables.manager import SnapshotTable

    sf_dir = build_dataset("dpo", scale)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    t = SnapshotTable(spark, "orders_dpo_scale")
    t.drop()
    t.create(orders, partition_by=["o_orderstatus"])
    base_v = t.current_version()
    orders.filter(F.col("o_orderstatus") == "P").createOrReplaceTempView(
        "dpo_scale_batch"
    )
    stmt = (
        "INSERT OVERWRITE orders_dpo_scale "
        "SELECT o_orderkey, o_orderstatus, o_totalprice + 10.0 "
        "FROM dpo_scale_batch"
    )
    execute_dml(spark, stmt)  # warm-up (codegen, file listing)
    t.rollback(base_v)
    s_best, audit = float("inf"), None
    for _ in range(reps):
        t0 = time.perf_counter()
        res = execute_dml(spark, stmt)
        s_best = min(s_best, time.perf_counter() - t0)
        audit = res["audit"]
        t.rollback(base_v)
    assert audit["partitions_replaced"] == 1 and audit["dirs_rewritten"] == 0, audit

    if spark_only:
        t.drop()
        return {
            "study": "dpo", "scale": scale, "rows": None,
            "spark_sec": round(s_best, 3), "duckdb_sec": None, "ratio": None,
        }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf_dir}/orders.parquet/*.parquet')"
    )
    merged_select = """
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderstatus = 'P'
                    THEN CAST(o_totalprice AS DOUBLE) + 10.0
                    ELSE CAST(o_totalprice AS DOUBLE) END AS o_totalprice
        FROM orders
    """
    out_pq = os.path.join(ROOT, f"dpo_out_x{scale}.parquet")
    apply_sql = f"COPY ({merged_select}) TO '{out_pq}' (FORMAT PARQUET)"
    con.execute(f"CREATE VIEW applied AS {merged_select}")
    con.execute(apply_sql)  # warm OS page cache
    d_best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        con.execute(apply_sql)
        d_best = min(d_best, time.perf_counter() - t0)

    n_rows = None
    if check:
        execute_dml(spark, stmt)
        rollup = (
            t.read()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("s"),
            )
        )
        srows = [tuple(r) for r in rollup.collect()]
        res = con.execute(
            "SELECT o_orderstatus, count(*) AS n_rows, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s "
            "FROM applied GROUP BY o_orderstatus"
        )
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        assert len(srows) == len(orows) and _canon(
            srows, rollup.columns
        ) == _canon(orows, ocols), f"dpo x{scale}: mismatch"
        n_rows = sum(r[1] for r in srows)
        t.rollback(base_v)
    con.close()
    if os.path.exists(out_pq):
        os.remove(out_pq)
    t.drop()
    return {
        "study": "dpo", "scale": scale, "rows": n_rows,
        "spark_sec": round(s_best, 3), "duckdb_sec": round(d_best, 3),
        "ratio": round(s_best / d_best, 2),
    }


def run_posdel_read_tax_study(spark, scale: int, reps: int) -> dict:
    """The read tax of the two MOR delete forms priced (r14): after ONE
    point delete on a ×scale orders table, what does every subsequent
    full read pay? An equality delete anti-joins a table-column key
    against every applies-to row forever (until compaction); a position
    delete anti-joins the two lineage columns the scan already produces.
    Timed: the identical count+sum rollup over (a) the clean base table,
    (b) the table after delete_where_mor (equality), (c) the table after
    delete_where_position — same files, same rollup, fresh plans,
    best-of-reps. Value parity asserted: (b) and (c) read identical row
    sets. Spark-only by design (this prices two engine paths against
    each other; there is no DuckDB twin of a MOR read)."""
    from pyspark.sql import functions as F

    from empdia_iceberg_spark.sources.tables import load
    from empdia_iceberg_spark.tables.manager import SnapshotTable

    sf_dir = build_dataset("posdel_read_tax", scale)
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    k0 = orders.agg(F.min("o_orderkey")).first()[0]

    def rollup(df):
        return (
            df.groupBy(F.lit(1).alias("g"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("s"),
            )
            .collect()
        )

    def best_of(t):
        rollup(t.read())  # warm
        b = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            rows = rollup(t.read())
            b = min(b, time.perf_counter() - t0)
        return b, rows

    # 16-file layout: the representative shape (every production writer
    # targets 64-256 MB files, so a point delete touches ONE of many
    # files); a single-file table would make the file-granular position
    # path degenerate to a whole-table lineage scan. The create path's
    # target-file-size coalesce would fold a small-SF study table back
    # to 1-2 files, so the study pins a proportionally smaller target —
    # same files-per-table SHAPE a 100 TB table has at 128 MB files.
    import empdia_iceberg_spark.tables.manager as _M

    # file COUNT scales with the table so file SIZE stays fixed — the
    # production invariant (128 MB files). Holding count fixed instead
    # would grow the touched file with the table and mismeasure the
    # position tax as O(table).
    n_files = max(8, scale // 6)
    orders16 = orders.repartition(n_files, "o_orderkey")
    _saved_target = _M.TARGET_FILE_BYTES
    _M.TARGET_FILE_BYTES = 8 * 1024 * 1024

    base = SnapshotTable(spark, "orders_posdel_base")
    base.drop()
    base.create(orders16)
    clean_sec, _ = best_of(base)

    eq = SnapshotTable(spark, "orders_posdel_eq")
    eq.drop()
    eq.create(orders16)
    eq.delete_where_mor(F.col("o_orderkey") == k0, key="o_orderkey")
    eq_sec, eq_rows = best_of(eq)

    pos = SnapshotTable(spark, "orders_posdel_pos")
    pos.drop()
    pos.create(orders16)
    pos.delete_where_position(F.col("o_orderkey") == k0)
    meta = pos._read_meta(pos.current_version())
    n_files = sum(
        len(pos._walk_parquet(d)) for d in meta["dirs"]
    )
    n_touched = (
        spark.read.parquet(meta["delete_dirs"][-1]["dir"])
        .select("file_path").distinct().count()
    )
    assert n_files >= 8 and n_touched == 1, (n_files, n_touched)
    pos_sec, pos_rows = best_of(pos)
    _M.TARGET_FILE_BYTES = _saved_target
    assert eq_rows == pos_rows, "the two delete forms must read identically"

    base.drop(), eq.drop(), pos.drop()
    print(
        f"|   posdel_read_tax x{scale}: clean {round(clean_sec, 3)} s, "
        f"equality-MOR read {round(eq_sec, 3)} s "
        f"(+{round((eq_sec - clean_sec) * 1000)} ms), "
        f"position-MOR read {round(pos_sec, 3)} s "
        f"(+{round((pos_sec - clean_sec) * 1000)} ms)",
        flush=True,
    )
    return {
        "study": "posdel_read_tax", "scale": scale, "rows": eq_rows[0]["n"],
        "spark_sec": round(pos_sec, 3), "duckdb_sec": round(eq_sec, 3),
        "ratio": round(pos_sec / eq_sec, 2),
    }


def run_hidden_prune_study(
    spark, scale: int, reps: int, check: bool, spark_only: bool = False
) -> dict:
    """Hidden partitioning's read claim priced (r14): a ONE-DAY read of
    a days(ts)-partitioned table must cost that day — flat as the table
    grows ×k — while the same logical read without partition pruning
    scans the table. The events ×k replicas shift ts by 35 days per
    replica, so scaling adds DAYS and the probed day's row count stays
    constant: exactly the shape where pruning is the whole ballgame.

    Timed Spark (pruned): read_pruned_transform('days(ts)', day) →
    count/sum rollup, fresh plan per rep. Also timed: the identical
    rollup over read().filter(to_date(ts) = day) — what the engine
    pays WITHOUT the transform dirs (spark_full_sec, printed). Timed
    DuckDB: the same rollup over the raw parquet (row-group zone maps
    give DuckDB its own pruning — an honest single-node baseline).
    The prep write (partitionBy over ~30×k day dirs) is untimed: the
    pay-once layout trade, like q3_bucketed."""
    import duckdb

    from pyspark.sql import functions as F

    from empdia_iceberg_spark.sources.tables import load
    from empdia_iceberg_spark.tables.manager import SnapshotTable

    sf_dir = build_dataset("hidden_prune", scale)
    events = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", F.col("value").cast("double").alias("value")
    )
    t = SnapshotTable(spark, "events_hidden_scale")
    t.drop()
    t.create(events, partition_by=["days(ts)"])  # untimed prep
    day = "2024-01-03"  # a base-replica day; row count constant in scale

    def rollup(df):
        return (
            df.groupBy(F.lit(1).alias("g"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("s"),
            )
            .collect()
        )

    pruned_df, audit = t.read_pruned_transform("days(ts)", day)
    rollup(pruned_df)  # warm-up
    s_best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        df, audit = t.read_pruned_transform("days(ts)", day)
        srows = rollup(df)
        s_best = min(s_best, time.perf_counter() - t0)
    full_best = float("inf")
    rollup(t.read().filter(F.to_date("ts") == F.lit(day)))  # warm-up
    for _ in range(reps):
        t0 = time.perf_counter()
        rollup(t.read().filter(F.to_date("ts") == F.lit(day)))
        full_best = min(full_best, time.perf_counter() - t0)
    # the same logical read over the RAW unpartitioned parquet — the
    # honest "no hidden partitioning" comparator (the partitioned
    # table's own full scan also pays its many-small-dirs layout)
    raw_best = float("inf")
    rollup(events.filter(F.to_date("ts") == F.lit(day)))  # warm-up
    for _ in range(reps):
        t0 = time.perf_counter()
        rollup(events.filter(F.to_date("ts") == F.lit(day)))
        raw_best = min(raw_best, time.perf_counter() - t0)

    if spark_only:
        t.drop()
        print(
            f"|   hidden_prune x{scale}: pruned {round(s_best, 3)} s vs "
            f"full-filter {round(full_best, 3)} s "
            f"(dirs_pruned={audit['dirs_pruned']})",
            flush=True,
        )
        return {
            "study": "hidden_prune", "scale": scale, "rows": None,
            "spark_sec": round(s_best, 3), "duckdb_sec": None, "ratio": None,
        }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    osql = (
        "SELECT 1 AS g, count(*) AS n, "
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s "
        f"FROM events WHERE CAST(ts AS DATE) = DATE '{day}'"
    )
    con.execute(osql).fetchall()  # warm page cache
    d_best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        orows = con.execute(osql).fetchall()
        d_best = min(d_best, time.perf_counter() - t0)

    n_rows = None
    if check:
        res = con.execute(osql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        assert _canon([tuple(r) for r in srows], ["g", "n", "s"]) == _canon(
            orows, ocols
        ), f"hidden_prune x{scale}: mismatch"
        n_rows = srows[0]["n"]
    con.close()
    t.drop()
    print(
        f"|   hidden_prune x{scale}: pruned {round(s_best, 3)} s vs "
        f"full-filter {round(full_best, 3)} s vs "
        f"raw-parquet-filter {round(raw_best, 3)} s "
        f"(subdirs_selected={audit['subdirs_selected']})",
        flush=True,
    )
    return {
        "study": "hidden_prune", "scale": scale, "rows": n_rows,
        "spark_sec": round(s_best, 3), "duckdb_sec": round(d_best, 3),
        "ratio": round(s_best / d_best, 2),
    }


def run_dml_stats_study(spark, scale: int, reps: int) -> dict:
    """Per-file column-stat manifests priced (r15, VERDICT ask #3):
    predicate DML's file-finding pass over a trickle-append table —
    one append per replica, so the table holds `scale` data dirs with
    disjoint o_orderkey ranges — probing a FIXED key range that lives
    entirely in replica 0. WITH the footer-stat manifests
    (`_dirs_matching`, planned by `plan_files`) the pass reads only
    replica 0's files: flat in table size. WITHOUT them (the same
    exact scan over every dir of the snapshot, `_dirs_hit` on all of
    meta["dirs"]) the pass scans the predicate column of EVERY file:
    linear. The hit-dir sets are
    asserted identical every rep — stats pruning narrows the scan,
    never the answer. Iceberg pays exactly this shape via manifest
    min/max; the sidecar warm-up (footer reads) is untimed pay-once
    prep, like the bucketed-layout studies."""
    from pyspark.sql import functions as F

    from empdia_iceberg_spark.sources.tables import load
    from empdia_iceberg_spark.tables.manager import SnapshotTable

    base = load(spark, BASE_SF, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    off = base.agg(F.max("o_orderkey")).first()[0] + 1
    t = SnapshotTable(spark, "orders_dml_stats_scale")
    t.drop()
    t.create(base)
    for i in range(1, scale):
        t.append(
            base.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * off))
        )
    meta = t._read_meta(t.current_version())
    cond = F.col("o_orderkey").between(100, 200)  # replica-0 keys only

    def find(pass_) -> tuple[set, float]:
        best, hit = float("inf"), None
        pass_()  # warm (and build sidecars)
        for _ in range(reps):
            t0 = time.perf_counter()
            h = pass_()
            best = min(best, time.perf_counter() - t0)
            hit = h
        return hit, best

    hit_stats, with_best = find(lambda: t._dirs_matching(meta, cond))
    audit = dict(SnapshotTable._DML_STATS_AUDITS["orders_dml_stats_scale"])
    hit_plain, without_best = find(lambda: t._dirs_hit(meta, meta["dirs"], cond))
    assert hit_stats == hit_plain, (
        f"dml_stats x{scale}: hit-dir parity violated"
    )
    n_rows = scale * base.count()
    t.drop()
    print(
        f"|   dml_stats x{scale}: file-finding with stats "
        f"{round(with_best, 3)} s (files_scanned="
        f"{audit['files_scanned']}, skipped="
        f"{audit['files_skipped_by_stats']}) vs without "
        f"{round(without_best, 3)} s",
        flush=True,
    )
    return {
        "study": "dml_stats", "scale": scale, "rows": n_rows,
        "spark_sec": round(with_best, 3),
        "duckdb_sec": round(without_best, 3),  # the no-stats comparator
        "ratio": round(with_best / without_best, 2),
    }


def run_sql_prune_study(spark, scale: int, reps: int) -> dict:
    """The SQL read path's pruning priced end-to-end (r15, the ask-#1
    follow-through): the r14 hidden_prune study showed the PYTHON API's
    one-day read flat vs linear; this times the same one-day read as a
    PLAIN SQL statement through execute_sql — plan walk, bounds
    extraction, subdir selection, re-analysis and all — against the
    identical statement through `spark.sql` over the full `t.read()`
    registered as the view (no prune pass). Same events ×k shape
    (replicas shift ts 35 days: scaling adds DAYS, the probed day stays
    constant). Row values asserted identical between the arms."""
    from pyspark.sql import functions as F

    from empdia_iceberg_spark.sources.tables import load
    from empdia_iceberg_spark.tables.ddl import execute_sql
    from empdia_iceberg_spark.tables.manager import SnapshotTable

    sf_dir = build_dataset("sql_prune", scale)
    events = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", F.col("value").cast("double").alias("value")
    )
    t = SnapshotTable(spark, "events_sqlprune_scale")
    t.drop()
    t.create(events, partition_by=["days(ts)"])  # untimed prep
    stmt = (
        "SELECT count(*) AS n, "
        "CAST(sum(CAST(value AS decimal(18,2))) AS DOUBLE) AS s "
        "FROM events_sqlprune_scale "
        "WHERE CAST(ts AS DATE) = DATE '2024-01-03'"
    )

    def run(query):
        rows = query().collect()  # warm
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            rows = query().collect()
            best = min(best, time.perf_counter() - t0)
        return [tuple(r) for r in rows], best

    pruned_rows, pruned_best = run(lambda: execute_sql(spark, stmt))
    t.read().createOrReplaceTempView("events_sqlprune_scale")
    full_rows, full_best = run(lambda: spark.sql(stmt))
    assert pruned_rows == full_rows, f"sql_prune x{scale}: value mismatch"
    n_rows = pruned_rows[0][0]
    t.drop()
    print(
        f"|   sql_prune x{scale}: SQL one-day read pruned "
        f"{round(pruned_best, 3)} s vs full-view "
        f"{round(full_best, 3)} s",
        flush=True,
    )
    return {
        "study": "sql_prune", "scale": scale, "rows": n_rows,
        "spark_sec": round(pruned_best, 3),
        "duckdb_sec": round(full_best, 3),  # the full-view comparator
        "ratio": round(pruned_best / full_best, 2),
    }


def run_bucket_join_study(spark, scale: int, reps: int) -> dict:
    """Storage-partitioned joins over co-bucketed tables (r15, VERDICT
    ask #6): orders and customer both `bucket(16, custkey)`-partitioned
    — what can a Python-datasource engine recover of Iceberg's SPJ
    (which needs JVM-side KeyGroupedPartitioning reporting this engine
    cannot reach)? Three value-identical plans measured:

    (a) naive      — full reads joined: both sides shuffle on the key;
    (b) cell-union — 16 per-bucket joins of transform-pruned reads,
                     unioned: the same bytes still shuffle, but each
                     exchange carries 1/16 of the data (tests whether
                     smaller exchanges + AQE beat one big one);
    (c) cell-bcast — per-bucket joins BROADCASTING the customer cell:
                     truly shuffle-free on the fact side — the SPJ
                     recovery actually reachable from Python, valid
                     whenever one table's cells fit the broadcast
                     threshold (a dim-table property that co-bucketing
                     makes scale-stable: cells grow as dim/16).

    The verdict (win or honest negative) is recorded in SURVEY §6."""
    from pyspark.sql import functions as F

    from empdia_iceberg_spark.sources.tables import load
    from empdia_iceberg_spark.tables.manager import SnapshotTable

    N_BUCKETS = 16
    orders = load(spark, BASE_SF, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    cust = load(spark, BASE_SF, "customer").select(
        "c_custkey", "c_acctbal"
    )
    o_off = orders.agg(F.max("o_custkey")).first()[0] + 1
    t_o = SnapshotTable(spark, "orders_spj_scale")
    t_c = SnapshotTable(spark, "customer_spj_scale")
    t_o.drop(); t_c.drop()
    o_parts, c_parts = orders, cust
    for i in range(1, scale):
        o_parts = o_parts.unionByName(
            orders.withColumn("o_custkey", F.col("o_custkey") + F.lit(i * o_off))
        )
        c_parts = c_parts.unionByName(
            cust.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * o_off))
        )
    t_o.create(o_parts, partition_by=[f"bucket({N_BUCKETS}, o_custkey)"])
    t_c.create(c_parts, partition_by=[f"bucket({N_BUCKETS}, c_custkey)"])

    def agg(df):
        return (
            df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("s"),
            ).collect()[0]
        )

    def plan_naive():
        return t_o.read().join(
            t_c.read(), F.col("o_custkey") == F.col("c_custkey")
        )

    def cells(t, entry):
        out = []
        for b in range(N_BUCKETS):
            df, _a = t.read_pruned_transform(entry, b)
            out.append(df)
        return out

    def plan_cells(broadcast: bool):
        o_cells = cells(t_o, f"bucket({N_BUCKETS}, o_custkey)")
        c_cells = cells(t_c, f"bucket({N_BUCKETS}, c_custkey)")
        parts = []
        for oc, cc in zip(o_cells, c_cells):
            rhs = F.broadcast(cc) if broadcast else cc
            parts.append(oc.join(rhs, F.col("o_custkey") == F.col("c_custkey")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    results, times = {}, {}
    for name, mk in (
        ("naive", plan_naive),
        ("cell_union", lambda: plan_cells(False)),
        ("cell_bcast", lambda: plan_cells(True)),
    ):
        agg(mk())  # warm
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            r = agg(mk())
            best = min(best, time.perf_counter() - t0)
        results[name], times[name] = (r["n"], r["s"]), best
    assert len(set(results.values())) == 1, (
        f"bucket_join x{scale}: plans disagree: {results}"
    )
    n_rows = results["naive"][0]
    t_o.drop(); t_c.drop()
    print(
        f"|   bucket_join x{scale}: naive {round(times['naive'], 3)} s vs "
        f"cell-union {round(times['cell_union'], 3)} s vs "
        f"cell-broadcast {round(times['cell_bcast'], 3)} s "
        f"({N_BUCKETS} buckets, {n_rows} joined rows)",
        flush=True,
    )
    return {
        "study": "bucket_join", "scale": scale, "rows": n_rows,
        "spark_sec": round(times["cell_bcast"], 3),
        "duckdb_sec": round(times["naive"], 3),  # the naive comparator
        "ratio": round(times["cell_bcast"] / times["naive"], 2),
    }


# small_scan: table sizes in MB and the file size they are written in,
# then file counts for tables of SMALL_SCAN_TINY_MB in tiny files
SMALL_SCAN_MB = (0.25, 0.5, 1, 2, 4, 8)
SMALL_SCAN_FILE_BYTES = 256 * 1024
SMALL_SCAN_TINY_FILES = (16, 32, 64, 200)
SMALL_SCAN_TINY_MB = 0.5
SMALL_SCAN_SHAPES = {
    "projection": "SELECT event_id, user_id, value FROM {t}",
    "group_by": (
        "SELECT user_id, count(*) AS n, sum(value) AS s FROM {t} GROUP BY user_id"
    ),
    "count_distinct": (
        "SELECT count(*) AS n, count(DISTINCT event_id) AS n_ids, "
        "coalesce(sum(event_id), 0) AS s_id, coalesce(sum(user_id), 0) AS s_user "
        "FROM {t}"
    ),
}


def _small_scan_table(spark, root, name: str, rows: int, n_files: int):
    """A snapshot table of the stream_ingest silver shape: ``rows`` rows
    in ``n_files`` files. Returns the table and its parquet bytes."""
    import empdia_iceberg_spark.tables.manager as M

    df = spark.range(0, rows, numPartitions=n_files).selectExpr(
        "id AS event_id",
        "timestamp_seconds(1706745600 + id * 7 % 86400) AS ts",
        "xxhash64(id) % 1500 AS user_id",
        "element_at(array('click','error','purchase','signup','view'), "
        "CAST(pmod(xxhash64(id, 1), 5) + 1 AS int)) AS event_type",
        "round(pmod(xxhash64(id, 2), 100000) / 100.0 + 1, 2) AS value",
        "hour(timestamp_seconds(1706745600 + id * 7 % 86400)) AS hour",
    )
    t = M.SnapshotTable(spark, name, root)
    t.drop()
    saved, M.TARGET_FILE_BYTES = M.TARGET_FILE_BYTES, 1  # one file per partition
    try:
        t.create(df)
    finally:
        M.TARGET_FILE_BYTES = saved
    meta = t._read_meta(t.current_version())
    files = [f for d in meta["dirs"] for f in t._walk_parquet(d)]
    assert len(files) == n_files, (len(files), n_files)
    return t, sum(os.path.getsize(f) for f in files)


def run_small_scan_study(
    spark, sizes_mb, reps: int, tiny_files=SMALL_SCAN_TINY_FILES, root: str | None = None
) -> list[dict]:
    """Each SMALL_SCAN_SHAPES statement over each table, timed with the
    snapshot read forced to one task (both gates raised past the table)
    and forced parallel (gates 0); arms alternate within each repetition,
    the view-frame cache is cleared before every run so each run
    builds its scan under the arm's gate, and the two arms' rows must
    be equal. Reports medians; negative delta = one task is faster."""
    import statistics

    import empdia_iceberg_spark.tables.manager as M
    from empdia_iceberg_spark.tables import ddl

    tables = [
        ("mb", mb * 1024 * 1024, max(1, round(mb * 1024 * 1024 / SMALL_SCAN_FILE_BYTES)))
        for mb in sizes_mb
    ] + [("files", SMALL_SCAN_TINY_MB * 1024 * 1024, n) for n in tiny_files]
    root = root or M.DEFAULT_ROOT
    _pilot, pilot_bytes = _small_scan_table(spark, root, "small_scan_t", 50_000, 1)
    rows_per_byte = 50_000 / pilot_bytes
    saved = M.SMALL_SCAN_BYTES, M.SMALL_SCAN_FILES
    out = []
    try:
        for kind, target, n_files in tables:
            rows = max(n_files, int(target * rows_per_byte))
            t, nbytes = _small_scan_table(spark, root, "small_scan_t", rows, n_files)
            for shape, stmt in SMALL_SCAN_SHAPES.items():
                sql = stmt.format(t=t.name)
                times = {"one": [], "parallel": []}
                got = {}
                for rep in range(reps + 1):  # rep 0 warms both arms
                    arms = ("one", "parallel") if rep % 2 else ("parallel", "one")
                    for arm in arms:
                        gate = 1 << 62 if arm == "one" else 0
                        M.SMALL_SCAN_BYTES = M.SMALL_SCAN_FILES = gate
                        ddl._VIEW_FRAME_CACHE.clear()
                        t0 = time.perf_counter()
                        pdf = ddl.execute_sql(spark, sql, root=root).toPandas()
                        if rep:
                            times[arm].append(time.perf_counter() - t0)
                        got[arm] = sorted(map(tuple, pdf.itertuples(index=False)))
                assert got["one"] == got["parallel"], f"small_scan {n_files} files {shape}: arms differ"
                one = statistics.median(times["one"])
                par = statistics.median(times["parallel"])
                r = {
                    "study": "small_scan", "kind": kind, "mb": round(nbytes / 2**20, 2),
                    "files": n_files, "shape": shape, "one_s": round(one, 4),
                    "parallel_s": round(par, 4), "delta_pct": round(100 * (one / par - 1), 1),
                }
                print(
                    f"| small_scan | {r['mb']} MB | {n_files} files | {shape} | "
                    f"one {r['one_s']} s | parallel {r['parallel_s']} s | {r['delta_pct']:+}% |",
                    flush=True,
                )
                out.append(r)
            t.drop()
    finally:
        M.SMALL_SCAN_BYTES, M.SMALL_SCAN_FILES = saved
        ddl._VIEW_FRAME_CACHE.clear()
    # the crossover in size and in file count, per shape and for the
    # three shapes' summed time
    for kind, unit in (("mb", "MB"), ("files", "files")):
        sized = [r for r in out if r["kind"] == kind]
        if not sized:
            continue
        points = sorted({r[kind] for r in sized})
        for shape in [*SMALL_SCAN_SHAPES, "all shapes"]:
            lost = [
                x for x in points
                if sum(r["one_s"] - r["parallel_s"] for r in sized
                       if r[kind] == x and shape in (r["shape"], "all shapes")) >= 0
            ]
            at = f"{min(lost)} {unit}" if lost else f"> {max(points)} {unit}"
            print(f"| small_scan crossover | {shape} | one task stops winning at {at} |", flush=True)
    return out


def run_study(
    spark, study: str, scale: int, reps: int, check: bool, spark_only: bool = False
) -> dict:
    import duckdb

    from empdia_iceberg_spark import registry

    sf_dir = build_dataset(study, scale)
    qname = STUDY_QUERY[study]
    spec = registry.specs()[qname]

    def spark_df():
        if study == "q3_bucketed":
            return _bucketed_q3(spark, sf_dir, scale)
        if study == "q3_bucketed_part":
            return _bucketed_part_q3(spark, sf_dir, scale)
        return spec.fn(spark, sf_dir)

    with _study_variant(study):
        spark_df().toPandas()  # warm: listing, codegen, JIT, bucketed prep
        s_best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            pdf = spark_df().toPandas()  # fresh plan every run (bench.py rule)
            s_best = min(s_best, time.perf_counter() - t0)

    d_best = None
    con = duckdb.connect()
    for t in STUDY_TABLES[study]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
        )
    # bucketed/variant studies have no DuckDB TIMING twin of their own
    # (compare them against their default-study row at the same scale);
    # --spark-only skips the oracle entirely for scales where the
    # oracle's all-pairs shape is itself intractable single-node (that
    # intractability is part of the posture finding, not a gap).
    if (
        study
        not in (
            "q3_bucketed",
            "q3_bucketed_part",
            "minhash_direct",
            "dedup_hexkey",
            "profile_sim_nobroadcast",
        )
        and not spark_only
    ):
        con.execute(spec.oracle).fetchall()  # warm OS page cache
        d_best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            orows = con.execute(spec.oracle).fetchall()
            d_best = min(d_best, time.perf_counter() - t0)
    if check and not spark_only:
        # the VALUE check runs for every study — including q3_bucketed,
        # whose rows must equal the plain q3 oracle on the same files
        # (the bucketed layout may not change the answer)
        res = con.execute(spec.oracle)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        srows = [tuple(r) for r in pdf.itertuples(index=False)]
        ok = len(srows) == len(orows) and _canon(srows, list(pdf.columns)) == _canon(
            orows, ocols
        )
        assert ok, f"{study} x{scale}: Spark/oracle mismatch on scaled data"
    con.close()

    return {
        "study": study,
        "scale": scale,
        "rows": len(pdf),
        "spark_sec": round(s_best, 3),
        "duckdb_sec": round(d_best, 3) if d_best is not None else None,
        "ratio": round(s_best / d_best, 2) if d_best else None,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("studies", nargs="+", choices=list(STUDY_TABLES))
    ap.add_argument("--scales", default="10,30,100")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--check", action="store_true", help="value-compare Spark vs oracle on the scaled data")
    ap.add_argument("--spark-only", action="store_true", help="skip DuckDB timing+check (oracle intractable at this scale)")
    args = ap.parse_args()

    from empdia_iceberg_spark.session import get_spark

    spark = get_spark(app_name="scaling-study")
    for study in args.studies:
        if study == "small_scan":  # sized in MB, not by --scales
            run_small_scan_study(spark, SMALL_SCAN_MB, args.reps)
            continue
        for scale in [int(s) for s in args.scales.split(",")]:
            if study == "cdc_apply":
                r = run_cdc_apply_study(
                    spark, scale, args.reps, args.check, args.spark_only
                )
            elif study == "dpo":
                r = run_dpo_study(
                    spark, scale, args.reps, args.check, args.spark_only
                )
            elif study == "hidden_prune":
                r = run_hidden_prune_study(
                    spark, scale, args.reps, args.check, args.spark_only
                )
            elif study == "posdel_read_tax":
                r = run_posdel_read_tax_study(spark, scale, args.reps)
            elif study == "dml_stats":
                r = run_dml_stats_study(spark, scale, args.reps)
            elif study == "bucket_join":
                r = run_bucket_join_study(spark, scale, args.reps)
            elif study == "sql_prune":
                r = run_sql_prune_study(spark, scale, args.reps)
            else:
                r = run_study(spark, study, scale, args.reps, args.check, args.spark_only)
            print(
                f"| {r['study']} | x{r['scale']} | {r['spark_sec']} s | "
                f"{r['duckdb_sec']} s | {r['ratio']}x | rows={r['rows']} |",
                flush=True,
            )


if __name__ == "__main__":
    main()
