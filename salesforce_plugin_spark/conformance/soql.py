"""The SOQL string front door end-to-end (plans/soql.py parser driving the same engine).

Split from the single-file conformance registry in round 6; byte-identical
query builders and oracle SQL. The ordered public registry lives in
``salesforce_plugin_spark.conformance`` (the package __init__).
"""

from __future__ import annotations

from salesforce_plugin_spark.conformance._common import *  # noqa: F401,F403


def q_soql_typeof(spark, sf_dir):
    """SOQL TYPEOF through the string front door: events.who is a
    polymorphic lookup (event_type is the runtime-type discriminator —
    'click' rows reference a customer, 'error' a supplier, 'signup' a
    nation). Each WHEN branch lowers to a discriminator-guarded broadcast
    left join, so a row only joins the table its runtime type selects;
    ELSE coalesces over the types no WHEN names (nation here). Flattened
    contract: WHEN fields emit {type}_{field}, ELSE fields else_{field}.
    Oracle: one LEFT JOIN per registered type with the discriminator in
    the join condition."""
    from salesforce_plugin_spark.plans import soql_to_df
    from salesforce_plugin_spark.sources.catalog import fixture_relationships

    def resolve(name):
        return load_table(spark, sf_dir, name.lower())

    return soql_to_df(
        spark,
        "SELECT event_id, event_type, TYPEOF who "
        "WHEN Customer THEN c_name, c_mktsegment "
        "WHEN Supplier THEN s_name "
        "ELSE n_name END "
        "FROM events WHERE value > 5.0",
        resolve=resolve,
        relationships=fixture_relationships(),
    )


def q_soql_front_door(spark, sf_dir):
    """D1-D17 via the string entry point: a SOQL query parsed and lowered to
    a DataFrame plan (plans/soql.py), honoring the reference's free-form
    ``soql``/``query`` params (salesforce_to_s3_operator.py:29,127)."""
    from salesforce_plugin_spark.plans import soql_to_df

    def resolve(name):
        return load_table(spark, sf_dir, name.lower())

    return soql_to_df(
        spark,
        "SELECT o_orderpriority, COUNT() n, MAX(o_totalprice) max_price "
        "FROM Orders WHERE o_orderstatus IN ('F', 'O') AND o_totalprice > 1000 "
        "GROUP BY o_orderpriority",
        resolve=resolve,
    )


def q_soql_rollup_having(spark, sf_dir):
    """D6+D12+D14+D19 composed through the string front door: semi-join
    subquery, ROLLUP over a date-function key, HAVING, and ordered LIMIT —
    the densest single SOQL statement the reference could forward. Exact
    aggregates only (COUNT/MAX), so the rollup levels hash identically
    across engines."""
    from salesforce_plugin_spark.plans import soql_to_df

    def resolve(name):
        return load_table(spark, sf_dir, name.lower())

    return soql_to_df(
        spark,
        "SELECT o_orderstatus, CALENDAR_YEAR(o_orderdate) yr, "
        "COUNT() n, MAX(o_totalprice) mx "
        "FROM Orders "
        "WHERE o_custkey IN (SELECT c_custkey FROM Customer "
        "WHERE c_acctbal > 5000) "
        "GROUP BY ROLLUP(o_orderstatus, CALENDAR_YEAR(o_orderdate)) "
        "HAVING COUNT() > 2 "
        "ORDER BY o_orderstatus NULLS FIRST, yr LIMIT 50",
        resolve=resolve,
    )


def q_soql_date_parts(spark, sf_dir):
    """D19 beyond the ISO-week trap: WEEK_IN_YEAR / WEEK_IN_MONTH are
    SOQL's simple 7-day blocks from Jan 1 / the 1st (NOT ISO weeks — they
    diverge at year boundaries), and DAY_IN_WEEK is 1=Sunday; all three
    verified value-for-value against the oracle's explicit arithmetic."""
    from salesforce_plugin_spark.plans import soql_to_df

    def resolve(name):
        return load_table(spark, sf_dir, name.lower())

    return soql_to_df(
        spark,
        "SELECT CALENDAR_YEAR(o_orderdate) yr, "
        "WEEK_IN_YEAR(o_orderdate) wk, "
        "WEEK_IN_MONTH(o_orderdate) wm, "
        "DAY_IN_WEEK(o_orderdate) dw, "
        "DAY_IN_YEAR(o_orderdate) dy, COUNT() n "
        "FROM Orders "
        "GROUP BY CALENDAR_YEAR(o_orderdate), WEEK_IN_YEAR(o_orderdate), "
        "WEEK_IN_MONTH(o_orderdate), DAY_IN_WEEK(o_orderdate), "
        "DAY_IN_YEAR(o_orderdate) "
        "ORDER BY yr, dy",
        resolve=resolve,
    )


def q_soql_relationship(spark, sf_dir):
    """D8 via the string front door: a two-level child-to-parent dot path
    (customer.nation.n_name from orders) lowered to broadcast lookup joins
    by the relationship registry."""
    from salesforce_plugin_spark.plans import soql_to_df
    from salesforce_plugin_spark.sources.catalog import fixture_relationships

    def resolve(name):
        return load_table(spark, sf_dir, name.lower())

    return soql_to_df(
        spark,
        "SELECT o_orderkey, customer.c_name cust_name, "
        "customer.nation.n_name nation_name "
        "FROM orders WHERE o_totalprice > 300000",
        resolve=resolve,
        relationships=fixture_relationships(),
    )


def q_soql_relationship3(spark, sf_dir):
    """D8, deep-traversal form through the string front door: three- and
    four-level child-to-parent dot paths (order.customer.nation.n_name
    and order.customer.nation.region.r_name from lineitem) exercising the
    ≤5-level SOQL relationship contract (reference:
    salesforce_to_s3_operator.py:29 forwards such paths verbatim to the
    API). Each hop lowers to one broadcast lookup join via the
    relationship registry — the chain shares every common prefix
    (per-path hop memoization in plans/soql.py), so the four distinct
    paths here cost four joins total, not ten."""
    from salesforce_plugin_spark.plans import soql_to_df
    from salesforce_plugin_spark.sources.catalog import fixture_relationships

    def resolve(name):
        return load_table(spark, sf_dir, name.lower())

    return soql_to_df(
        spark,
        "SELECT l_orderkey, l_linenumber, order.o_orderpriority prio, "
        "order.customer.c_name cust_name, "
        "order.customer.nation.n_name nation_name, "
        "order.customer.nation.region.r_name region_name "
        "FROM lineitem WHERE l_quantity > 49",
        resolve=resolve,
        relationships=fixture_relationships(),
    )


def q_soql_child_sub(spark, sf_dir):
    """D9 via the string front door: a nested parent-to-child subselect
    produces an array-of-structs column per parent; serialized to sorted
    JSON so the nested shape itself is oracle-checked (DuckDB builds the
    same arrays with list(struct_pack(...)))."""
    from salesforce_plugin_spark.plans import soql_to_df
    from salesforce_plugin_spark.sources.catalog import fixture_relationships

    def resolve(name):
        return load_table(spark, sf_dir, name.lower())

    df = soql_to_df(
        spark,
        "SELECT o_orderkey, (SELECT l_linenumber FROM lineitems "
        "WHERE l_quantity > 45) FROM orders WHERE o_totalprice > 400000",
        resolve=resolve,
        relationships=fixture_relationships(),
    )
    return df.select(
        "o_orderkey",
        F.to_json(F.sort_array(F.col("lineitems"))).alias("kids"),
    )


def q_soql_date_literal(spark, sf_dir):
    """D18 through the front door with SOQL *range* semantics, anchored to
    an injected today=2024-01-20 for deterministic replay: ``= LAST_N_DAYS:7``
    is containment in the half-open day range [2024-01-13, 2024-01-21) and
    ``< THIS_WEEK`` means strictly before Monday 2024-01-15. The resolver
    accepts ts_range, so the parser's static-bound extraction pushes the
    range into the parquet scan whichever way the fixture encodes ``ts`` —
    as epoch-nanos bounds on a raw-long legacy-nanos column, or as plain
    timestamp bounds on a native µs/ms column; both forms are row-group
    prunable (see _Lowerer._static_ts_range / SCALE.md;
    tests/test_plans_regression.py asserts the form matching the footer)."""
    import datetime

    from salesforce_plugin_spark.plans import soql_to_df

    def resolve(name, ts_range=None):
        return load_table(spark, sf_dir, name.lower(), ts_range=ts_range)

    return soql_to_df(
        spark,
        "SELECT event_type, COUNT() n, COUNT_DISTINCT(user_id) users "
        "FROM events WHERE ts = LAST_N_DAYS:7 AND NOT ts < THIS_WEEK "
        "GROUP BY event_type ORDER BY event_type",
        resolve=resolve,
        today=datetime.date(2024, 1, 20),
    )


def q_soql_fiscal(spark, sf_dir):
    """D19 fiscal functions through the front door under a February
    fiscal-year start (fiscal year named by its ending calendar year —
    Salesforce's default convention)."""
    from salesforce_plugin_spark.plans import soql_to_df

    def resolve(name):
        return load_table(spark, sf_dir, name.lower())

    return soql_to_df(
        spark,
        "SELECT FISCAL_YEAR(o_orderdate) fy, FISCAL_QUARTER(o_orderdate) fq, "
        "COUNT() n, MAX(o_totalprice) max_total "
        "FROM orders GROUP BY FISCAL_YEAR(o_orderdate), FISCAL_QUARTER(o_orderdate) "
        "ORDER BY fy, fq",
        resolve=resolve,
        fiscal_start_month=2,
    )


def q_soql_fields(spark, sf_dir):
    """SOQL FIELDS(ALL) dynamic column expansion through the parser
    (plans/soql.py _expand_fields): resolved against the object's
    catalog schema — the describe()-analog of Salesforce's field
    registry — with the real bounded-query contract enforced
    (FIELDS(ALL)/(CUSTOM) demand LIMIT ≤ 200; STANDARD is unbounded; no
    mixing with aggregates). The timestamp column leaves the gate as
    epoch micros per the conformance determinism discipline (the parser
    output itself keeps native types)."""
    from salesforce_plugin_spark.plans import soql_to_df

    def resolve(name):
        return load_table(spark, sf_dir, name.lower())

    df = soql_to_df(
        spark,
        "SELECT FIELDS(ALL) FROM Orders "
        "WHERE o_orderstatus = 'F' ORDER BY o_orderkey LIMIT 200",
        resolve=resolve,
    )
    return df.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.unix_micros(F.col("o_orderdate")).alias("o_orderdate_us"),
        "o_orderpriority",
    )



ORACLES: dict[str, str] = {}

ORACLES["q_soql_front_door"] = """
        SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS max_price
        FROM orders
        WHERE o_orderstatus IN ('F', 'O') AND o_totalprice > 1000
        GROUP BY o_orderpriority
    """

ORACLES["q_soql_rollup_having"] = """
        SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS yr,
               count(*) AS n, max(o_totalprice) AS mx
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_acctbal > 5000)
        GROUP BY ROLLUP(o_orderstatus, CAST(year(o_orderdate) AS INTEGER))
        HAVING count(*) > 2
        ORDER BY o_orderstatus NULLS FIRST, yr NULLS FIRST
        LIMIT 50
    """

ORACLES["q_soql_date_parts"] = """
        SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST((dayofyear(o_orderdate) - 1) // 7 + 1 AS INTEGER) AS wk,
               CAST((dayofmonth(o_orderdate) - 1) // 7 + 1 AS INTEGER) AS wm,
               CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dw,
               CAST(dayofyear(o_orderdate) AS INTEGER) AS dy,
               count(*) AS n
        FROM orders
        GROUP BY yr, wk, wm, dw, dy
        ORDER BY yr, dy
    """

ORACLES["q_soql_relationship"] = """
        SELECT o_orderkey, c_name AS cust_name, n_name AS nation_name
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_totalprice > 300000
    """

ORACLES["q_soql_relationship3"] = """
        SELECT l_orderkey, l_linenumber, o_orderpriority AS prio,
               c_name AS cust_name, n_name AS nation_name,
               r_name AS region_name
        FROM lineitem
        LEFT JOIN orders ON l_orderkey = o_orderkey
        LEFT JOIN customer ON o_custkey = c_custkey
        LEFT JOIN nation ON c_nationkey = n_nationkey
        LEFT JOIN region ON n_regionkey = r_regionkey
        WHERE l_quantity > 49
    """

ORACLES["q_soql_date_literal"] = """
        SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-13 00:00:00'
          AND ts < TIMESTAMP '2024-01-21 00:00:00'
          AND ts >= TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY event_type
        ORDER BY event_type
    """

ORACLES["q_soql_fiscal"] = """
        SELECT year(o_orderdate)
                 + CASE WHEN month(o_orderdate) >= 2 THEN 1 ELSE 0 END AS fy,
               ((month(o_orderdate) - 2 + 12) % 12) // 3 + 1 AS fq,
               count(*) AS n, max(o_totalprice) AS max_total
        FROM orders
        GROUP BY 1, 2
        ORDER BY fy, fq
    """

ORACLES["q_soql_child_sub"] = """
        WITH kids AS (
            SELECT l_orderkey,
                   to_json(list_sort(list(struct_pack(l_linenumber := l_linenumber)))) AS kids
            FROM lineitem WHERE l_quantity > 45 GROUP BY l_orderkey
        )
        SELECT o_orderkey, kids::VARCHAR AS kids
        FROM orders LEFT JOIN kids ON o_orderkey = l_orderkey
        WHERE o_totalprice > 400000
    """

ORACLES["q_soql_typeof"] = """
    SELECT e.event_id, e.event_type,
           c.c_name AS customer_c_name,
           c.c_mktsegment AS customer_c_mktsegment,
           s.s_name AS supplier_s_name,
           n.n_name AS else_n_name
    FROM events e
    LEFT JOIN customer c ON e.event_type = 'click'
                        AND e.user_id = c.c_custkey
    LEFT JOIN supplier s ON e.event_type = 'error'
                        AND e.user_id = s.s_suppkey
    LEFT JOIN nation n ON e.event_type = 'signup'
                      AND e.user_id = n.n_nationkey
    WHERE e.value > 5.0
"""

ORACLES["q_soql_fields"] = """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority
    FROM orders
    WHERE o_orderstatus = 'F'
    ORDER BY o_orderkey
    LIMIT 200
"""

