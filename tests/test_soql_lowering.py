"""SOQL lowering to one Spark SQL text: each object resolved once per call,
a small Py4J round-trip budget per query, printed literals equal to
``F.lit``, temp views that never outlive a call, and concurrent calls that
keep to their own views."""

from __future__ import annotations

import datetime as dt
import gc
import logging
import os
import sys
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from salesforce_plugin_spark.plans import SoqlError, soql_to_df
from salesforce_plugin_spark.plans.soql import (
    _DATE_RANGES,
    _datelit_range_py,
    _datelit_sql,
    _sql_lit,
)
from salesforce_plugin_spark.sources.catalog import fixture_relationships

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
import soqlgen  # noqa: E402

TS = dt.datetime(1996, 3, 4, 5, 6, 7)
SCHEMAS = {
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        [(1, 10, "F", 300000.0, TS, "1-URGENT"), (2, 11, "O", 60000.0, TS, "2-HIGH")],
    ),
    "customer": (
        "c_custkey bigint, c_name string, c_mktsegment string, "
        "c_acctbal double, c_nationkey bigint",
        [(10, "Customer#10", "BUILDING", 8000.0, 0), (11, "Customer#11", "MACHINERY", 10.0, 1)],
    ),
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_size int, "
        "p_retailprice double",
        [(5, "red bolt", "Brand#1", 7, 901.0)],
    ),
    "lineitem": (
        "l_orderkey bigint, l_linenumber int, l_partkey bigint, l_suppkey bigint, "
        "l_quantity double, l_discount double, l_extendedprice double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp",
        [(1, 1, 5, 7, 20.0, 0.05, 100.0, "N", "O", TS), (1, 2, 5, 7, 47.0, 0.0, 9.5, "R", "F", TS)],
    ),
    "supplier": ("s_suppkey bigint, s_name string, s_nationkey bigint", [(7, "Supplier#7", 1)]),
    "nation": ("n_nationkey bigint, n_name string, n_regionkey bigint",
               [(0, "ALGERIA", 0), (1, "BRAZIL", 1)]),
    "region": ("r_regionkey bigint, r_name string", [(0, "AFRICA"), (1, "AMERICA")]),
    "events": (
        "event_id bigint, event_type string, user_id bigint, value double, ts timestamp",
        [(1, "click", 10, 9.0, TS), (2, "error", 7, 7.5, TS), (3, "signup", 1, 6.0, TS),
         (4, "view", 10, 1.0, TS)],
    ),
}
TYPEOF_Q = (
    "SELECT event_id, TYPEOF who WHEN customer THEN c_name WHEN supplier "
    "THEN s_name ELSE n_name END FROM events WHERE value > 5.0"
)
CHILD_Q = (
    "SELECT o_orderkey, (SELECT l_linenumber FROM lineitems WHERE l_quantity > 1) "
    "FROM orders"
)
RELS = fixture_relationships()


@pytest.fixture(scope="module")
def frames(spark):
    """Small in-test tables. Like ``catalog.load_table``'s memoized scans,
    the resolver hands out the same DataFrame per object, schema known."""
    out = {}
    for name, (schema, rows) in SCHEMAS.items():
        out[name] = spark.createDataFrame(rows, schema)
        out[name].schema  # noqa: B018 - fetch once, as a warm scan has
    return out


def soql_views(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables() if t.name.startswith("__soql_")]


# --------------------------------------------------- one resolve per object


@pytest.mark.parametrize(
    "soql, objects",
    [
        (TYPEOF_Q, {"events", "customer", "supplier", "nation"}),
        ("SELECT o_orderkey, customer.c_name, customer.nation.n_name, "
         "customer.nation.region.r_name FROM orders WHERE customer.c_acctbal > 0",
         {"orders", "customer", "nation", "region"}),
        ("SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey "
         "FROM customer WHERE c_mktsegment = 'BUILDING') AND o_orderkey NOT IN "
         "(SELECT l_orderkey FROM lineitem WHERE l_quantity > 100)",
         {"orders", "customer", "lineitem"}),
        (CHILD_Q, {"orders", "lineitem"}),
        ("SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT o_custkey "
         "FROM orders WHERE o_totalprice > 100000)", {"orders"}),
    ],
)
def test_each_object_resolved_once(spark, frames, soql, objects):
    calls = []

    def resolve(name):
        calls.append(name.lower())
        return frames[name.lower()]

    soql_to_df(spark, soql, resolve=resolve, relationships=RELS)
    assert Counter(calls) == Counter(objects)


def test_semi_join_against_own_table(spark, frames):
    df = soql_to_df(
        spark,
        "SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT o_custkey "
        "FROM orders WHERE o_totalprice > 100000)",
        resolve=lambda n: frames[n.lower()],
    )
    assert [r.o_orderkey for r in df.collect()] == [1]


# ------------------------------------------------------- Py4J round trips


def _budget_queries():
    shapes = [(shape, soql) for shape, soql, _ in soqlgen.generate(1, 1)]
    assert {s for s, _ in shapes} == {g.__name__[4:] for g in soqlgen.SHAPES}
    return shapes + [("typeof", TYPEOF_Q), ("child_sub", CHILD_Q)]


@pytest.mark.parametrize("shape, soql", _budget_queries())
def test_py4j_round_trip_budget(spark, frames, shape, soql):
    """One query of every benchmark shape, TYPEOF and a
    child subselect each lower in at most 20 Py4J round trips; building
    the plan node by node through Py4J takes hundreds. Releases of
    garbage Python proxies (py4j ``m`` commands) are not counted: they
    depend on what earlier code left to collect, not on this call."""
    import py4j.clientserver as cs
    import py4j.protocol as proto

    resolve = lambda n: frames[n.lower()]  # noqa: E731
    soql_to_df(spark, soql, resolve=resolve, relationships=RELS)  # first-use costs
    gc.collect()
    sent = []
    orig = cs.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(proto.MEMORY_COMMAND_NAME):
            sent.append(command)
        return orig(self, command, *args, **kwargs)

    cs.ClientServerConnection.send_command = counting
    try:
        soql_to_df(spark, soql, resolve=resolve, relationships=RELS)
    finally:
        cs.ClientServerConnection.send_command = orig
    assert len(sent) <= 20, f"{shape}: {len(sent)} round trips"


# ------------------------------------------------- literals and escaping


def _lit_matches(spark, values) -> None:
    import pyspark.sql.functions as F

    n = len(values)
    df = spark.sql(
        "SELECT " + ", ".join(f"{_sql_lit(v)} AS c{i}" for i, v in enumerate(values))
    ).select("*", *[F.lit(v).alias(f"w{i}") for i, v in enumerate(values)])
    assert df.dtypes[:n] == [(f"c{i}", t) for i, (_, t) in enumerate(df.dtypes[n:])]
    row = df.collect()[0]
    for v, g, w in zip(values, row[:n], row[n:]):
        assert repr(g) == repr(w), (v, g, w)


TRICKY = st.sampled_from(["'", "\\", "%", "_", "\n", "\\'", "''", "é", "日本", "\\u0041", "--"])
strings = st.lists(
    st.text(st.characters(blacklist_categories=("Cs",)), max_size=12)
    | st.lists(TRICKY, max_size=6).map("".join),
    min_size=1, max_size=20,
)
numbers = st.lists(
    st.integers(-(2**63), 2**63 - 1)
    | st.sampled_from([2**31 - 1, 2**31, -(2**31), -(2**31) - 1, 0, -1])
    | st.floats(allow_nan=False, allow_infinity=False)
    | st.booleans(),
    min_size=1, max_size=20,
)


@given(values=strings)
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
def test_string_literals_match_f_lit(spark, values):
    _lit_matches(spark, values)


@given(values=numbers)
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
def test_number_and_bool_literals_match_f_lit(spark, values):
    _lit_matches(spark, values)


def test_date_and_iso_literals_match_f_lit(spark):
    _lit_matches(spark, [
        dt.date(2024, 1, 20), dt.date(1970, 1, 1), dt.datetime(2024, 1, 20, 12, 30, 5, 120),
        "2024-01-14", "2024-01-14 00:00:00", "2024-01-14T10:00:00Z",
    ])


def test_injection_string_matches_only_itself(spark):
    spark.createDataFrame(
        [(1, "x' OR 1=1 --"), (2, "x"), (3, "y")], "id int, c_name string"
    ).createOrReplaceTempView("inject_t")
    df = soql_to_df(spark, "SELECT id FROM inject_t WHERE c_name = 'x\\' OR 1=1 --'")
    assert [r.id for r in df.collect()] == [1]


def test_date_literal_sql_matches_python_mirror(spark):
    """The SQL range bounds and ``_datelit_range_py`` (which the scan-side
    pushdown and the differential fuzzer use) agree for every literal."""
    today = dt.date(2024, 2, 29)
    cases = [{"fn": fn, "n": n} for fn in _DATE_RANGES for n in (1, 3)]
    cols = []
    for i, e in enumerate(cases):
        s, end = _datelit_sql(e, _sql_lit(today))
        cols += [f"{s} AS s{i}", f"{end} AS e{i}"]
    row = spark.sql("SELECT " + ", ".join(cols)).collect()[0]
    for i, e in enumerate(cases):
        assert (row[f"s{i}"], row[f"e{i}"]) == _datelit_range_py(e, today), e


# ---------------------------------------------- temp views and concurrency


def test_no_view_outlives_a_call(spark, frames):
    resolve = lambda n: frames[n.lower()]  # noqa: E731
    soql_to_df(spark, TYPEOF_Q, resolve=resolve, relationships=RELS).collect()
    assert soql_views(spark) == []
    with pytest.raises(SoqlError):
        soql_to_df(spark, "SELECT o_orderkey FROM orders WHERE o_totalprice = 'x'",
                   resolve=resolve)
    assert soql_views(spark) == []
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        soql_to_df(spark, "SELECT no_such_column FROM orders", resolve=resolve)
    assert soql_views(spark) == []


def test_caller_caches_survive_a_call(spark, frames):
    """Dropping the call's views leaves a cached table or DataFrame that
    the resolver handed out cached."""
    frames["region"].createOrReplaceTempView("cached_region")
    spark.catalog.cacheTable("cached_region")
    cached = frames["nation"].cache()
    try:
        soql_to_df(spark, "SELECT r_name FROM cached_region").collect()
        soql_to_df(spark, "SELECT n_name FROM nation", resolve=lambda n: cached).collect()
        assert spark.catalog.isCached("cached_region")
        assert cached.storageLevel.useMemory
    finally:
        spark.catalog.uncacheTable("cached_region")
        spark.catalog.dropTempView("cached_region")
        cached.unpersist()
    assert soql_views(spark) == []


def test_concurrent_calls_get_their_own_rows(spark, frames):
    resolve = lambda n: frames[n.lower()]  # noqa: E731
    cases = [
        ("SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'", [(1,)]),
        ("SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'", [(2,)]),
        ("SELECT c_name FROM customer WHERE c_acctbal > 100", [("Customer#10",)]),
        ("SELECT n_name FROM nation ORDER BY n_name DESC", [("BRAZIL",), ("ALGERIA",)]),
        ("SELECT r_name FROM region WHERE r_regionkey = 0", [("AFRICA",)]),
        ("SELECT l_linenumber FROM lineitem WHERE l_quantity > 30", [(2,)]),
        ("SELECT COUNT() n FROM events", [(4,)]),
        ("SELECT o_orderkey, customer.nation.n_name FROM orders ORDER BY o_orderkey",
         [(1, "ALGERIA"), (2, "BRAZIL")]),
    ]

    def run(case):
        soql, _ = case
        df = soql_to_df(spark, soql, resolve=resolve, relationships=RELS)
        return [tuple(r) for r in df.collect()]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(pool.map(run, cases, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert got == [want for _, want in cases]
    assert soql_views(spark) == []


def test_printed_sql_is_logged_at_debug(spark, frames, caplog):
    with caplog.at_level(logging.DEBUG, logger="salesforce_plugin_spark.plans.soql"):
        soql_to_df(spark, "SELECT r_name FROM region", resolve=lambda n: frames[n.lower()])
    (rec,) = [r for r in caplog.records if r.name == "salesforce_plugin_spark.plans.soql"]
    assert "SELECT `r_name` AS `r_name` FROM `__soql_" in rec.getMessage()


def test_having_without_group_by_is_rejected(spark, frames):
    """HAVING filters groups; without GROUP BY it is a typed error rather
    than a predicate that is silently dropped."""
    for soql in ("SELECT COUNT() n FROM orders HAVING COUNT() > 5",
                 "SELECT o_orderkey FROM orders HAVING COUNT() > 5"):
        with pytest.raises(SoqlError, match="HAVING requires GROUP BY"):
            soql_to_df(spark, soql, resolve=lambda n: frames[n.lower()])
