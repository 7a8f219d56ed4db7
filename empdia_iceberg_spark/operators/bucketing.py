"""Bucketed co-located join (SURVEY.md §2.B joins row; the
pre-partitioning strategy the 100 TB posture calls for).

Both join sides are written as BUCKETED tables (same bucket count,
bucketed + sorted by the join key). A sort-merge join between them then
needs NO exchange and NO sort — the scan itself satisfies the join's
distribution and ordering requirements. At cluster scale this is the
difference between re-shuffling two 10 TB fact tables per join and
reading pre-co-located buckets; `tests/test_bucketing.py` asserts the
executed plan contains no Exchange on the bucketed path.

The broadcast strategy is explicitly disabled for this query (merge
hint) — otherwise Catalyst would broadcast the small side at test
scale and the co-location property would be unobservable.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from empdia_iceberg_spark import CHECKOUT_DIR
from empdia_iceberg_spark.functions.exact import exact_sum2, sql_sum2
from empdia_iceberg_spark.registry import register
from empdia_iceberg_spark.sources.tables import load

BUCKET_ROOT = os.environ.get(
    "SPARK_GRAFT_BUCKET_ROOT",
    os.path.join(CHECKOUT_DIR, ".managed_tables", "bucketed"),
)
N_BUCKETS = 8


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = N_BUCKETS
) -> None:
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    path = os.path.join(BUCKET_ROOT, table)
    if os.path.isdir(path):
        shutil.rmtree(path)
    (
        df.write.format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )


def bucketed_orders_customer(spark: SparkSession, sf_dir: str):
    write_bucketed(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "orders_bkt",
        "o_custkey",
    )
    write_bucketed(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        "customer_bkt",
        "c_custkey",
    )
    orders_b = spark.table("orders_bkt")
    cust_b = spark.table("customer_bkt")
    # merge hint: force SMJ so the exchange-free bucketed path is the plan
    return orders_b.hint("merge").join(
        cust_b, orders_b.o_custkey == cust_b.c_custkey
    )


@register(
    "bucketed_join_colocated",
    oracle=f"""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           round({sql_sum2('o_totalprice')}, 2) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="Co-located join: both sides bucketBy(8, key).sortBy(key) tables; "
    "the sort-merge join runs with zero Exchange and zero Sort (asserted "
    "in tests) — the pre-partitioned layout that removes per-query "
    "shuffles of big fact tables at scale.",
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = bucketed_orders_customer(spark, sf_dir)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(exact_sum2("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )
