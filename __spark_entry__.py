"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is the flagship smoke query; ``queries()`` /
``oracle_sql()`` are the declared conformance surface (SURVEY.md §2),
implemented in the ``salesforce_plugin_spark/conformance/`` package and
checked by the driver against DuckDB at sf=0.01 (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from salesforce_plugin_spark.conformance import ORACLES, QUERIES
from salesforce_plugin_spark.sources.catalog import load_table

SMOKE_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §3.1 restatement): scan → broadcast parent
    lookup join → filter → hash agg → top-k. Runs on sf0.001; driver
    checks rows > 0 and a stable schema."""
    li = load_table(spark, SMOKE_DIR, "lineitem")
    o = load_table(spark, SMOKE_DIR, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-01-01").cast("timestamp"))
        .join(F.broadcast(o), li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(
            F.sum(revenue.cast("decimal(18,4)")).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "o_orderpriority", "l_returnflag")
        .limit(20)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query. Every declared query carries an
    oracle (since round 3 there are no rows-only entries: nondeterministic
    ops project deterministic evidence, hash-family-specific ops use the
    engine-portable md5 family, and approximate ops pin a deterministic
    seeded variant)."""
    return dict(ORACLES)
