"""Catalog layer + property-style checks (SURVEY §5.4/§5.5): fixture loads,
lowercase normalization, nanos-timestamp repair, reconcile convergence,
serialization round-trip."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from salesforce_plugin_spark.operators.schema_reconcile import (
    FieldDescriptor,
    reconcile_table,
)
from salesforce_plugin_spark.sources.catalog import (
    TABLES,
    load_table,
    lowercase_columns,
    parallelized,
    register_views,
)

SF = "/root/testdata/sf0.001"
needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver fixtures not present"
)


@needs_fixtures
def test_all_fixture_tables_load(spark):
    for t in TABLES:
        df = load_table(spark, SF, t)
        assert df.columns == [c.lower() for c in df.columns]
        assert df.limit(1).count() == 1


@needs_fixtures
def test_events_nanos_timestamp_repair(spark):
    e = load_table(spark, SF, "events")
    assert dict(e.dtypes)["ts"] == "timestamp"
    lo, hi = e.agg(F.min("ts"), F.max("ts")).collect()[0]
    assert lo.year == 2024 and hi.year == 2024


@needs_fixtures
def test_register_views_sql_addressable(spark):
    register_views(spark, SF, ["region", "nation"])
    n = spark.sql(
        "SELECT count(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey"
    ).collect()[0].n
    assert n == 25


def test_lowercase_columns_noop_when_already_lower(spark):
    df = spark.createDataFrame([(1,)], ["already_lower"])
    assert lowercase_columns(df) is df


def test_parallelized_raises_partitions(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], ["x"]).coalesce(1)
    out = parallelized(df, min_partitions=4)
    assert out.rdd.getNumPartitions() == 4
    # no-op when already parallel enough
    assert parallelized(out, min_partitions=2) is out


def test_reconcile_converges_under_random_add_only_evolution(spark):
    """Property: any sequence of add-only field evolutions converges — the
    destination accumulates the union of fields and re-runs are no-ops."""
    import random

    rng = random.Random(42)
    pool = [
        FieldDescriptor(sf_name=f"f{i}", soap_type=t, length=20)
        for i, t in enumerate(
            ["string", "int", "boolean", "dateTime", "double", "email"] * 3
        )
    ]
    spark.sql("DROP TABLE IF EXISTS t_converge")
    seen: list[FieldDescriptor] = []
    for _ in range(5):
        new = rng.sample([d for d in pool if d not in seen], k=2)
        seen.extend(new)
        reconcile_table(spark, "t_converge", list(seen))
    # converged: one more reconcile with the full set is a no-op
    assert reconcile_table(spark, "t_converge", list(seen)) == []
    cols = {c.name for c in spark.catalog.listColumns("t_converge")}
    assert {d.name for d in seen} <= cols
    spark.sql("DROP TABLE t_converge")


def test_ndjson_roundtrip_preserves_values(spark, tmp_path):
    """Property: df → ndjson → read back is value-identical (modulo column
    order) for flat schemas."""
    from salesforce_plugin_spark.sources.io import write_ndjson

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -0.25)], "id long, s string, v double"
    )
    out = str(tmp_path / "rt")
    write_ndjson(df, out)
    back = spark.read.json(out)
    a = sorted(df.select("id", "s", "v").collect())
    b = sorted(back.select("id", "s", "v").collect())
    assert a == b


def test_configure_s3_sets_credentials_and_committer(spark):
    from salesforce_plugin_spark.session import configure_s3

    configure_s3(spark, access_key="AK", secret_key="SK", endpoint="s3.local")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.access.key") == "AK"
    assert hconf.get("fs.s3a.secret.key") == "SK"
    assert hconf.get("fs.s3a.endpoint") == "s3.local"
    assert hconf.get("fs.s3a.committer.name") == "magic"

    configure_s3(spark, role_arn="arn:aws:iam::1:role/x")
    assert "AssumedRole" in hconf.get("fs.s3a.aws.credentials.provider")


def test_scan_cache_invalidates_on_fixture_rewrite(spark, tmp_path):
    """The base-scan memo keys on (session, path, mtime): rewriting a
    table at the same path (the between-rounds regeneration hazard) must
    re-resolve the source, not serve the stale plan/values — and while
    the file is unchanged, repeated loads return the SAME cached plan."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": [1, 2]}), path)
    d1 = load_table(spark, str(tmp_path), "t")
    assert d1.count() == 2
    assert load_table(spark, str(tmp_path), "t") is d1  # memo hit

    time.sleep(0.01)
    pq.write_table(pa.table({"x": [10, 20, 30]}), path)
    os.utime(path)
    d2 = load_table(spark, str(tmp_path), "t")
    assert d2 is not d1
    assert d2.count() == 3 and sorted(r.x for r in d2.collect()) == [10, 20, 30]


def test_load_table_repairs_a_nanos_timestamp_file(spark, tmp_path):
    """A real TIMESTAMP(NANOS) parquet file: ``ts`` reads back as a
    timestamp truncated to µs, and ``ts_range`` keeps exactly the rows in
    ``[lo, hi)`` with both bounds pushed into the scan as raw-long
    comparisons (epoch nanos), not as a filter over the repaired column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = 1_704_844_800 * 10**9  # 2024-01-10 00:00:00 UTC in epoch nanos
    nanos = [base + h * 3_600 * 10**9 + 123_456_789 for h in range(48)]
    pq.write_table(
        pa.table({"id": list(range(48)), "ts": pa.array(nanos, pa.timestamp("ns"))}),
        str(tmp_path / "ev.parquet"),
        version="2.6",
    )

    df = load_table(spark, str(tmp_path), "ev")
    assert dict(df.dtypes)["ts"] == "timestamp"
    micros = df.select("id", F.unix_micros("ts").alias("us")).collect()
    assert {r.id: r.us for r in micros} == {i: n // 1000 for i, n in enumerate(nanos)}

    lo, hi = "2024-01-10 05:00:00", "2024-01-11 02:00:00"
    cut = load_table(spark, str(tmp_path), "ev", ts_range=("TS", lo, hi))
    assert sorted(r.id for r in cut.collect()) == list(range(5, 26))
    plan = cut._jdf.queryExecution().executedPlan().toString()
    pushed = plan[plan.index("PushedFilters: ["):].split("]", 1)[0]
    lo_ns, hi_ns = base + 5 * 3_600 * 10**9, base + 26 * 3_600 * 10**9
    assert f"GreaterThanOrEqual(ts,{lo_ns})" in pushed
    assert f"LessThan(ts,{hi_ns})" in pushed


def test_timestamp_unit_logs_an_uninspectable_footer(tmp_path, caplog):
    from salesforce_plugin_spark.sources.catalog import timestamp_unit

    path = tmp_path / "x.parquet"
    path.write_bytes(b"not a parquet file")
    with caplog.at_level("DEBUG", logger="salesforce_plugin_spark.sources.catalog"):
        assert timestamp_unit(str(path), "ts") is None
    records = [r for r in caplog.records if r.name == "salesforce_plugin_spark.sources.catalog"]
    assert len(records) == 1 and records[0].levelname == "DEBUG"
    assert str(path) in records[0].getMessage()
