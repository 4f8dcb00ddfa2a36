"""Seeded SOQL workload: (SOQL, DuckDB SQL) pairs over the fixture tables.

Each generator draws one query shape from ``random.Random`` and renders it
in both dialects from the same choices, so the two strings are equivalent
by construction (the approach of ``tests/test_soql_fuzz2.py``, applied to
the star schema instead of a toy table). Every result is bounded: plain
selects end in ``ORDER BY <unique key> LIMIT 100`` and grouped ones have few
groups. The shapes cover projection, comparison/IN/LIKE predicates,
GROUP BY with HAVING, ROLLUP, semi-join subqueries, relationship dot paths
and date functions.
"""

from __future__ import annotations

import random

DATE_FNS = {  # SOQL fn -> DuckDB SQL over {x}
    "CALENDAR_YEAR": "CAST(year({x}) AS INT)",
    "CALENDAR_MONTH": "CAST(month({x}) AS INT)",
    "CALENDAR_QUARTER": "CAST(quarter({x}) AS INT)",
    "DAY_IN_WEEK": "CAST(dayofweek({x}) + 1 AS INT)",
}
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
#: row bound of every plain select, so result sizes do not move with the seed
LIMIT = 100


def _q(values: list[str]) -> str:
    return ", ".join(f"'{v}'" for v in values)


def gen_projection(rng: random.Random, variant: int) -> tuple[str, str]:
    """Orders projection with a compound predicate, ordered LIMIT."""
    extra = rng.sample(
        ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
         "o_orderpriority"],
        rng.randint(2, 4),
    )
    cols = ", ".join(["o_orderkey"] + extra)
    lo = rng.choice([50000, 100000, 200000, 300000])
    status = rng.choice(STATUSES)
    if variant % 2 == 0:
        where = f"o_totalprice > {lo} AND o_orderstatus = '{status}'"
        sql_where = where
    else:
        where = f"(o_totalprice < {lo} OR o_orderstatus != '{status}')"
        sql_where = f"(o_totalprice < {lo} OR o_orderstatus <> '{status}')"
    tail = f" ORDER BY o_orderkey LIMIT {LIMIT}"
    return (
        f"SELECT {cols} FROM Orders WHERE {where}{tail}",
        f"SELECT {cols} FROM orders WHERE {sql_where}{tail}",
    )


def gen_in_like(rng: random.Random, variant: int) -> tuple[str, str]:
    """IN lists and case-insensitive LIKE on customer or part."""
    if variant % 2 == 0:
        segs = _q(rng.sample(SEGMENTS, 2))
        pat = f"%{rng.randint(0, 9)}{rng.randint(0, 9)}"
        neg = rng.random() < 0.3
        kw = "NOT IN" if neg else "IN"
        where = f"c_mktsegment {kw} ({segs}) AND c_name LIKE '{pat}'"
        sql_where = f"c_mktsegment {kw} ({segs}) AND c_name ILIKE '{pat}'"
        tail = f" ORDER BY c_custkey LIMIT {LIMIT}"
        cols = "c_custkey, c_name, c_mktsegment, c_acctbal"
        return (
            f"SELECT {cols} FROM Customer WHERE {where}{tail}",
            f"SELECT {cols} FROM customer WHERE {sql_where}{tail}",
        )
    noun = rng.choice(NOUNS)
    color = rng.choice(COLORS).upper()
    sizes = ", ".join(str(s) for s in sorted(rng.sample(range(1, 51), 5)))
    where = f"(p_name LIKE '%{noun}' OR p_name LIKE '{color}%') AND p_size IN ({sizes})"
    sql_where = (
        f"(p_name ILIKE '%{noun}' OR p_name ILIKE '{color}%') "
        f"AND p_size IN ({sizes})"
    )
    tail = f" ORDER BY p_partkey LIMIT {LIMIT}"
    cols = "p_partkey, p_name, p_brand, p_size, p_retailprice"
    return (
        f"SELECT {cols} FROM Part WHERE {where}{tail}",
        f"SELECT {cols} FROM part WHERE {sql_where}{tail}",
    )


def gen_grouped(rng: random.Random, variant: int) -> tuple[str, str]:
    """GROUP BY a categorical key with two aggregates (plus a distinct count
    from the third draw on) and optional HAVING."""
    if variant % 2 == 0:
        key = rng.choice(["o_orderpriority", "o_orderstatus"])
        aggs = rng.sample(
            [("COUNT()", "count(*)"), ("MAX(o_totalprice)", "max(o_totalprice)"),
             ("MIN(o_orderdate)", "min(o_orderdate)"),
             ("AVG(o_totalprice)", "avg(o_totalprice)")],
            2,
        )
        distinct = ("COUNT_DISTINCT(o_custkey)", "count(DISTINCT o_custkey)")
        table, sql_table = "Orders", "orders"
        lo = rng.choice([10000, 100000, 250000])
        where = f"o_totalprice > {lo}"
    else:
        key = rng.choice(["l_returnflag", "l_linestatus"])
        aggs = rng.sample(
            [("COUNT()", "count(*)"), ("SUM(l_quantity)", "sum(l_quantity)"),
             ("AVG(l_discount)", "avg(l_discount)"),
             ("MAX(l_extendedprice)", "max(l_extendedprice)")],
            2,
        )
        distinct = ("COUNT_DISTINCT(l_suppkey)", "count(DISTINCT l_suppkey)")
        table, sql_table = "Lineitem", "lineitem"
        q = rng.randint(5, 45)
        where = f"l_quantity >= {q}"
    if variant >= 2:
        aggs.append(distinct)
    a_soql = ", ".join(f"{a} a{i}" for i, (a, _) in enumerate(aggs))
    a_sql = ", ".join(f"{b} AS a{i}" for i, (_, b) in enumerate(aggs))
    having = having_sql = ""
    if rng.random() < 0.5:
        hv = rng.choice([1, 10, 100])
        having, having_sql = f" HAVING COUNT() > {hv}", f" HAVING count(*) > {hv}"
    return (
        f"SELECT {key}, {a_soql} FROM {table} WHERE {where} "
        f"GROUP BY {key}{having}",
        f"SELECT {key}, {a_sql} FROM {sql_table} WHERE {where} "
        f"GROUP BY {key}{having_sql}",
    )


def gen_rollup(rng: random.Random, variant: int) -> tuple[str, str]:
    """ROLLUP over a categorical key and a date-function key."""
    fn = rng.choice(["CALENDAR_YEAR", "CALENDAR_QUARTER"])
    key = rng.choice(["o_orderstatus", "o_orderpriority"])
    dkey_sql = DATE_FNS[fn].format(x="o_orderdate")
    hv = rng.choice([0, 5, 50])
    return (
        f"SELECT {key}, {fn}(o_orderdate) d, COUNT() n, MAX(o_totalprice) mx "
        f"FROM Orders GROUP BY ROLLUP({key}, {fn}(o_orderdate)) "
        f"HAVING COUNT() > {hv}",
        f"SELECT {key}, {dkey_sql} AS d, count(*) AS n, max(o_totalprice) AS mx "
        f"FROM orders GROUP BY ROLLUP({key}, {dkey_sql}) HAVING count(*) > {hv}",
    )


def gen_semi_join(rng: random.Random, variant: int) -> tuple[str, str]:
    """Semi-join subquery: orders of customers matching a predicate."""
    seg = rng.choice(SEGMENTS)
    bal = rng.choice([0, 2500, 5000, 7500])
    sub = (
        f"SELECT c_custkey FROM Customer WHERE c_mktsegment = '{seg}' "
        f"AND c_acctbal > {bal}"
    )
    sub_sql = sub.replace("Customer", "customer")
    if variant % 2 == 0:
        tail = f" ORDER BY o_orderkey LIMIT {LIMIT}"
        cols = "o_orderkey, o_custkey, o_totalprice"
        return (
            f"SELECT {cols} FROM Orders WHERE o_custkey IN ({sub}){tail}",
            f"SELECT {cols} FROM orders WHERE o_custkey IN ({sub_sql}){tail}",
        )
    return (
        f"SELECT o_orderpriority, COUNT() n, SUM(o_totalprice) s FROM Orders "
        f"WHERE o_custkey IN ({sub}) GROUP BY o_orderpriority",
        f"SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS s "
        f"FROM orders WHERE o_custkey IN ({sub_sql}) GROUP BY o_orderpriority",
    )


def gen_relationship(rng: random.Random, variant: int) -> tuple[str, str]:
    """Child-to-parent dot paths lowered to lookup joins: two levels deep, and
    three from the third draw on."""
    if variant % 2 == 0:
        items = [("o_orderkey", "o_orderkey"),
                 ("customer.c_name cn", "c_name AS cn"),
                 ("customer.nation.n_name nn", "n_name AS nn")]
        if variant >= 2:
            items.append(("customer.nation.region.r_name rn", "r_name AS rn"))
        lo = rng.choice([100000, 250000, 400000])
        tail = f" ORDER BY o_orderkey LIMIT {LIMIT}"
        return (
            f"SELECT {', '.join(s for s, _ in items)} FROM orders "
            f"WHERE o_totalprice > {lo}{tail}",
            f"SELECT {', '.join(q for _, q in items)} FROM orders "
            "LEFT JOIN customer ON o_custkey = c_custkey "
            "LEFT JOIN nation ON c_nationkey = n_nationkey "
            "LEFT JOIN region ON n_regionkey = r_regionkey "
            f"WHERE o_totalprice > {lo}{tail}",
        )
    items = [("l_orderkey", "l_orderkey"), ("l_linenumber", "l_linenumber"),
             ("order.o_orderpriority op", "o_orderpriority AS op"),
             ("part.p_brand pb", "p_brand AS pb"),
             ("supplier.s_name sn", "s_name AS sn")]
    qty = rng.randint(1, 50)
    disc = rng.randint(0, 10) / 100
    return (
        f"SELECT {', '.join(s for s, _ in items)} FROM lineitem "
        f"WHERE l_quantity = {qty} AND l_discount = {disc}",
        f"SELECT {', '.join(q for _, q in items)} FROM lineitem "
        "LEFT JOIN orders ON l_orderkey = o_orderkey "
        "LEFT JOIN part ON l_partkey = p_partkey "
        "LEFT JOIN supplier ON l_suppkey = s_suppkey "
        f"WHERE l_quantity = {qty} AND l_discount = {disc}",
    )


def gen_date_fn(rng: random.Random, variant: int) -> tuple[str, str]:
    """Date functions as grouping keys and in predicates."""
    g = rng.choice(["CALENDAR_YEAR", "CALENDAR_QUARTER"])
    p = rng.choice(["CALENDAR_MONTH", "DAY_IN_WEEK"])
    v = rng.randint(1, 7)
    if variant % 2 == 0:
        col, table, sql_table = "o_orderdate", "Orders", "orders"
    else:
        col, table, sql_table = "l_shipdate", "Lineitem", "lineitem"
    gs, ps = DATE_FNS[g].format(x=col), DATE_FNS[p].format(x=col)
    return (
        f"SELECT {g}({col}) g, COUNT() n FROM {table} "
        f"WHERE {p}({col}) = {v} GROUP BY {g}({col})",
        f"SELECT {gs} AS g, count(*) AS n FROM {sql_table} "
        f"WHERE {ps} = {v} GROUP BY 1",
    )


#: the stratified mix: each seed draws the same number of queries per shape,
#: a shape's draws alternate between its two variants, and the draw index
#: (not the seed) decides what sets a query's cost -- join depth, distinct
#: counts -- so the seed moves constants and columns but not the run's cost
SHAPES = [
    gen_projection,
    gen_in_like,
    gen_grouped,
    gen_rollup,
    gen_semi_join,
    gen_relationship,
    gen_date_fn,
]


def generate(seed: int, per_shape: int) -> list[tuple[str, str, str]]:
    """``per_shape`` (shape, SOQL, SQL) triples for every shape, from one
    seeded stream."""
    rng = random.Random(f"soql:{seed}")
    return [
        (gen.__name__[4:], *gen(rng, i)) for gen in SHAPES for i in range(per_shape)
    ]
