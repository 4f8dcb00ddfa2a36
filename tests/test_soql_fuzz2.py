"""Differential SOQL fuzzer (VERDICT r6 #7): spec-based random queries
over the widened round-4/5 grammar — date/fiscal functions, date
literals, grouped aggregates with HAVING, explicit null ordering with
LIMIT/OFFSET, and multi-level relationship paths — rendered BOTH as a
SOQL string for the engine and as ANSI SQL for DuckDB, then compared
value-for-value. Every sample must either hash-match DuckDB or raise a
typed ``SoqlError``; any other exception is an engine crash and fails.

Unlike ``test_soql_fuzz.py`` (hypothesis robustness: "runs or typed
error"), this file checks the ANSWERS. The generator emits a structured
spec first and renders both dialects from it, so the two strings are
equivalent by construction and a mismatch is an engine bug, not a
generator artifact.

Sample count: 60 differential + 40 relationship + robustness extras by
default (suite-budget friendly); ``SOQL_FUZZ_SAMPLES=1000`` or
``python tests/test_soql_fuzz2.py 1000`` runs the big battery the
round log records.

TYPEOF / FIELDS() / child subselects produce nested or dynamic shapes
DuckDB can't mirror mechanically, so they get robustness fuzz here
(typed-error-or-runs over randomized registries) rather than
differential fuzz.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from salesforce_plugin_spark.plans import (  # noqa: E402
    RelationshipRegistry,
    SoqlError,
    soql_to_df,
)
from salesforce_plugin_spark.plans.soql import _datelit_range_py  # noqa: E402

TODAY = dt.date(2024, 3, 7)
N_SAMPLES = int(os.environ.get("SOQL_FUZZ_SAMPLES", "0")) or None

# ---------------------------------------------------------------- fixture

ROWS = []
_names = ["Alpha", "beta", "GAMMA", "delta x", "ALPHA", None, "", "a%b"]
_states = ["NY", "CA", None, "tx", "NY"]
for i in range(1, 41):
    ROWS.append(
        (
            i,
            _names[i % len(_names)],
            _states[i % len(_states)],
            None if i % 7 == 0 else (i - 20) * 0.25,      # exact doubles
            None if i % 11 == 0 else (i * 3) % 13,         # small ints
            None if i % 13 == 0 else (i % 2 == 0),         # booleans
            dt.date(2023, 12, 1) + dt.timedelta(days=i * 3),  # spans NY bdry
            dt.datetime(2024, 1, 1, (i * 5) % 24, 0, 0)
            + dt.timedelta(days=i),
        )
    )

COLS = ["id", "name", "state", "amount", "qty", "flag", "d", "ts"]
NUM_FIELDS = ["id", "amount", "qty"]
STR_FIELDS = ["name", "state"]
DATE_FIELDS = ["d", "ts"]

DATE_FNS = {  # SOQL fn -> DuckDB SQL template over {x}
    "CALENDAR_YEAR": "CAST(year({x}) AS INT)",
    "CALENDAR_MONTH": "CAST(month({x}) AS INT)",
    "CALENDAR_QUARTER": "CAST(quarter({x}) AS INT)",
    "DAY_ONLY": "CAST({x} AS DATE)",
    "DAY_IN_WEEK": "CAST(dayofweek({x}) + 1 AS INT)",  # 1=Sunday both sides
    "DAY_IN_MONTH": "CAST(day({x}) AS INT)",
    "DAY_IN_YEAR": "CAST(dayofyear({x}) AS INT)",
    "WEEK_IN_YEAR": "CAST((dayofyear({x}) - 1) // 7 + 1 AS INT)",
    "WEEK_IN_MONTH": "CAST((day({x}) - 1) // 7 + 1 AS INT)",
}
FISCAL_FNS = ["FISCAL_YEAR", "FISCAL_QUARTER", "FISCAL_MONTH"]
DATELITS = [
    ("TODAY", None), ("YESTERDAY", None), ("THIS_WEEK", None),
    ("LAST_MONTH", None), ("THIS_QUARTER", None), ("LAST_YEAR", None),
    ("LAST_90_DAYS", None), ("NEXT_90_DAYS", None),
    ("LAST_N_DAYS", 45), ("NEXT_N_DAYS", 30), ("N_DAYS_AGO", 10),
    ("LAST_N_WEEKS", 6), ("LAST_N_MONTHS", 2), ("LAST_N_QUARTERS", 1),
    ("LAST_N_YEARS", 1), ("NEXT_N_MONTHS", 3),
]


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    return repr(v)


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE fuzz_d (id INT, name VARCHAR, state VARCHAR, "
        "amount DOUBLE, qty INT, flag BOOLEAN, d DATE, ts TIMESTAMP)"
    )
    con.executemany(
        "INSERT INTO fuzz_d VALUES (?,?,?,?,?,?,?,?)", ROWS
    )
    # relationship schema: kid -> par -> gp
    con.execute("CREATE TABLE gp (gid INT, glabel VARCHAR)")
    con.execute("CREATE TABLE par (pid INT, pname VARCHAR, gp_id INT, rank INT)")
    con.execute(
        "CREATE TABLE kid (kid_id INT, kname VARCHAR, par_id INT, score INT)"
    )
    con.executemany("INSERT INTO gp VALUES (?,?)", GP_ROWS)
    con.executemany("INSERT INTO par VALUES (?,?,?,?)", PAR_ROWS)
    con.executemany("INSERT INTO kid VALUES (?,?,?,?)", KID_ROWS)
    return con


@pytest.fixture(scope="module")
def sdf(spark):
    from pyspark.sql.types import (
        BooleanType, DateType, DoubleType, IntegerType, StringType,
        StructField, StructType, TimestampType,
    )

    schema = StructType([
        StructField("id", IntegerType()),
        StructField("name", StringType()),
        StructField("state", StringType()),
        StructField("amount", DoubleType()),
        StructField("qty", IntegerType()),
        StructField("flag", BooleanType()),
        StructField("d", DateType()),
        StructField("ts", TimestampType()),
    ])
    spark.createDataFrame(ROWS, schema).createOrReplaceTempView("fuzz_d")
    spark.createDataFrame(GP_ROWS, "gid int, glabel string").createOrReplaceTempView("gp")
    spark.createDataFrame(
        PAR_ROWS, "pid int, pname string, gp_id int, rank int"
    ).createOrReplaceTempView("par")
    spark.createDataFrame(
        KID_ROWS, "kid_id int, kname string, par_id int, score int"
    ).createOrReplaceTempView("kid")
    return spark


GP_ROWS = [(1, "G-one"), (2, "G-two"), (3, None)]
PAR_ROWS = [
    (10, "P-a", 1, 5), (11, "P-b", 2, 3), (12, None, 3, 7),
    (13, "P-d", None, 1),
]
KID_ROWS = [
    (100 + i, f"k{i}", [10, 11, 12, 13, None][i % 5], (i * 7) % 20)
    for i in range(25)
]

REG = RelationshipRegistry(
    lookups={
        ("kid", "parent"): ("par", "par_id", "pid"),
        ("par", "grand"): ("gp", "gp_id", "gid"),
    },
    children={("par", "kids"): ("kid", "par_id", "pid")},
)


def canon(v):
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    return v


def rows_of(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(canon(r[i]) for i in order) for r in rows), key=repr
    )


# ------------------------------------------------------------- generator


def gen_pred(rng: random.Random) -> tuple[str, str]:
    """One predicate leaf -> (soql, sql)."""
    kind = rng.choice(
        ["numcmp", "strcmp", "null", "in", "like", "datefn", "fiscal",
         "datelit", "boolcmp"]
    )
    if kind == "numcmp":
        f = rng.choice(NUM_FIELDS)
        op = rng.choice(["=", "!=", "<", "<=", ">", ">="])
        v = rng.choice([0, 1, 3.5, -2.25, 7, 12])
        sop = "<>" if op == "!=" else op
        return f"{f} {op} {v}", f"{f} {sop} {v}"
    if kind == "strcmp":
        f = rng.choice(STR_FIELDS)
        op = rng.choice(["=", "!="])
        v = rng.choice(["Alpha", "beta", "NY", "tx", "nope"])
        if op == "=":
            return f"{f} = '{v}'", f"{f} = '{v}'"
        # SOQL != on strings: engine compares bytewise like ANSI but
        # keeps NULL rows out (standard UNKNOWN) — same as SQL <>
        return f"{f} != '{v}'", f"{f} <> '{v}'"
    if kind == "null":
        f = rng.choice(COLS[:6])
        if rng.random() < 0.5:
            return f"{f} = NULL", f"{f} IS NULL"
        return f"{f} != NULL", f"{f} IS NOT NULL"
    if kind == "in":
        if rng.random() < 0.5:
            f = rng.choice(["id", "qty"])
            vals = sorted(rng.sample(range(0, 15), 3))
            lst = ", ".join(str(v) for v in vals)
            neg = rng.random() < 0.3
            kw = "NOT IN" if neg else "IN"
            return f"{f} {kw} ({lst})", f"{f} {kw} ({lst})"
        f = rng.choice(STR_FIELDS)
        vals = rng.sample(["Alpha", "beta", "NY", "CA", "tx", "zz"], 2)
        lst = ", ".join(f"'{v}'" for v in vals)
        neg = rng.random() < 0.3
        kw = "NOT IN" if neg else "IN"
        return f"{f} {kw} ({lst})", f"{f} {kw} ({lst})"
    if kind == "like":
        pat = rng.choice(["%a%", "A%", "%A", "%lph%", "delta%", "%x", "_eta"])
        return f"name LIKE '{pat}'", f"name ILIKE '{pat}'"
    if kind == "datefn":
        fn = rng.choice(list(DATE_FNS))
        f = rng.choice(DATE_FIELDS)
        op = rng.choice(["=", "<", ">=", "!="])
        v = rng.choice([1, 2, 3, 4, 7, 12, 2024])
        sop = "<>" if op == "!=" else op
        return (
            f"{fn}({f}) {op} {v}",
            f"{DATE_FNS[fn].format(x=f)} {sop} {v}",
        )
    if kind == "fiscal":
        # fiscal start month pinned per-sample by the caller via fsm
        return "FISCAL", "FISCAL"  # placeholder; expanded by caller
    if kind == "datelit":
        f = "d"
        fn, n = rng.choice(DATELITS)
        lit = f"{fn}:{n}" if n is not None else fn
        op = rng.choice(["=", "!=", "<", "<=", ">", ">="])
        start, end = _datelit_range_py(
            {"fn": fn, "n": n} if n is not None else {"fn": fn}, TODAY
        )
        s, e = _sql_lit(start), _sql_lit(end)
        sql = {
            "=": f"({f} >= {s} AND {f} < {e})",
            "!=": f"({f} < {s} OR {f} >= {e})",
            "<": f"{f} < {s}",
            "<=": f"{f} < {e}",
            ">": f"{f} >= {e}",
            ">=": f"{f} >= {s}",
        }[op]
        return f"{f} {op} {lit}", sql
    # boolcmp
    v = rng.choice(["TRUE", "FALSE"])
    op = rng.choice(["=", "!="])
    sop = "<>" if op == "!=" else op
    return f"flag {op} {v}", f"flag {sop} {v}"


def gen_fiscal_pred(rng: random.Random, fsm: int) -> tuple[str, str]:
    fn = rng.choice(FISCAL_FNS)
    f = rng.choice(DATE_FIELDS)
    op = rng.choice(["=", "<", ">="])
    v = rng.choice([1, 2, 3, 4, 2024, 2025])
    fm = f"((month({f}) - {fsm} + 12) % 12 + 1)"
    sql_expr = {
        "FISCAL_MONTH": fm,
        "FISCAL_QUARTER": f"(({fm} - 1) // 3 + 1)",
        "FISCAL_YEAR": (
            f"(year({f}) + CASE WHEN month({f}) >= {fsm} THEN 1 ELSE 0 END)"
            if fsm > 1 else f"year({f})"
        ),
    }[fn]
    return f"{fn}({f}) {op} {v}", f"{sql_expr} {op} {v}"


def gen_where(rng: random.Random, fsm: int) -> tuple[str, str]:
    def leaf():
        s, q = gen_pred(rng)
        if s == "FISCAL":
            s, q = gen_fiscal_pred(rng, fsm)
        return s, q

    shape = rng.random()
    a = leaf()
    if shape < 0.4:
        return a
    b = leaf()
    if shape < 0.65:
        return f"{a[0]} AND {b[0]}", f"{a[1]} AND {b[1]}"
    if shape < 0.85:
        return f"({a[0]} OR {b[0]})", f"({a[1]} OR {b[1]})"
    return f"NOT ({a[0]})", f"NOT ({a[1]})"


def gen_plain(rng: random.Random) -> tuple[str, str, int]:
    """Plain select: fields + optional datefn/fiscal computed column,
    WHERE, explicit-null ORDER BY + id tiebreak, optional LIMIT/OFFSET."""
    fsm = rng.choice([1, 1, 2, 4, 7])
    fields = rng.sample(["id", "name", "state", "amount", "qty", "d"],
                        rng.randint(1, 4))
    if "id" not in fields:
        fields.insert(0, "id")
    items_soql, items_sql = list(fields), list(fields)
    if rng.random() < 0.5:
        fn = rng.choice(list(DATE_FNS) + FISCAL_FNS)
        f = rng.choice(DATE_FIELDS)
        if fn in DATE_FNS:
            items_soql.append(f"{fn}({f}) fx")
            items_sql.append(f"{DATE_FNS[fn].format(x=f)} AS fx")
        else:
            s, q = gen_fiscal_pred(random.Random(rng.random()), fsm)
            # reuse the expr part before the comparison operator
            items_soql.append(f"{fn}({f}) fx")
            fm = f"((month({f}) - {fsm} + 12) % 12 + 1)"
            expr = {
                "FISCAL_MONTH": fm,
                "FISCAL_QUARTER": f"(({fm} - 1) // 3 + 1)",
                "FISCAL_YEAR": (
                    f"(year({f}) + CASE WHEN month({f}) >= {fsm} "
                    "THEN 1 ELSE 0 END)" if fsm > 1 else f"year({f})"
                ),
            }[fn]
            items_sql.append(f"CAST({expr} AS INT) AS fx")
    w = gen_where(rng, fsm) if rng.random() < 0.85 else None

    ob_f = rng.choice(fields)
    direction = rng.choice(["ASC", "DESC"])
    nulls = rng.choice(["NULLS FIRST", "NULLS LAST"])
    order = f"ORDER BY {ob_f} {direction} {nulls}, id ASC"
    lim = ""
    if rng.random() < 0.5:
        lim = f" LIMIT {rng.randint(1, 30)}"
        if rng.random() < 0.4:
            lim += f" OFFSET {rng.randint(0, 10)}"
    soql = (
        f"SELECT {', '.join(items_soql)} FROM fuzz_d"
        + (f" WHERE {w[0]}" if w else "")
        + f" {order}{lim}"
    )
    sql = (
        f"SELECT {', '.join(items_sql)} FROM fuzz_d"
        + (f" WHERE {w[1]}" if w else "")
        + f" {order}{lim}"
    )
    return soql, sql, fsm


def gen_grouped(rng: random.Random) -> tuple[str, str, int]:
    fsm = rng.choice([1, 2, 4])
    key_kind = rng.random()
    if key_kind < 0.4:
        key_soql = key_sql = rng.choice(["state", "qty", "flag", "name"])
        key_alias = key_soql
    else:
        fn = rng.choice(list(DATE_FNS) + FISCAL_FNS)
        f = rng.choice(DATE_FIELDS)
        key_soql = f"{fn}({f})"
        if fn in DATE_FNS:
            key_sql = DATE_FNS[fn].format(x=f)
        else:
            fm = f"((month({f}) - {fsm} + 12) % 12 + 1)"
            key_sql = {
                "FISCAL_MONTH": f"CAST({fm} AS INT)",
                "FISCAL_QUARTER": f"CAST((({fm} - 1) // 3 + 1) AS INT)",
                "FISCAL_YEAR": (
                    f"CAST((year({f}) + CASE WHEN month({f}) >= {fsm} "
                    f"THEN 1 ELSE 0 END) AS INT)" if fsm > 1
                    else f"CAST(year({f}) AS INT)"
                ),
            }[fn]
        key_alias = "k"
    aggs = rng.sample(
        [
            ("COUNT()", "COUNT(*)"),
            ("SUM(qty)", "SUM(qty)"),
            ("AVG(amount)", "AVG(amount)"),
            ("MIN(id)", "MIN(id)"),
            ("MAX(amount)", "MAX(amount)"),
            ("COUNT_DISTINCT(state)", "COUNT(DISTINCT state)"),
        ],
        rng.randint(1, 3),
    )
    w = gen_where(rng, fsm) if rng.random() < 0.6 else None
    having = ""
    having_sql = ""
    if rng.random() < 0.5:
        hv = rng.randint(0, 4)
        having = f" HAVING COUNT() > {hv}"
        having_sql = f" HAVING COUNT(*) > {hv}"
    a_soql = ", ".join(f"{a} a{i}" for i, (a, _) in enumerate(aggs))
    a_sql = ", ".join(f"{b} AS a{i}" for i, (_, b) in enumerate(aggs))
    if key_alias == "k":
        soql = (
            f"SELECT {key_soql} k, {a_soql} FROM fuzz_d"
            + (f" WHERE {w[0]}" if w else "")
            + f" GROUP BY {key_soql}{having}"
        )
        sql = (
            f"SELECT {key_sql} AS k, {a_sql} FROM fuzz_d"
            + (f" WHERE {w[1]}" if w else "")
            + f" GROUP BY 1{having_sql}"
        )
    else:
        soql = (
            f"SELECT {key_soql}, {a_soql} FROM fuzz_d"
            + (f" WHERE {w[0]}" if w else "")
            + f" GROUP BY {key_soql}{having}"
        )
        sql = (
            f"SELECT {key_sql} AS {key_alias}, {a_sql} FROM fuzz_d"
            + (f" WHERE {w[1]}" if w else "")
            + f" GROUP BY 1{having_sql}"
        )
    return soql, sql, fsm


def gen_relationship(rng: random.Random) -> tuple[str, str]:
    """kid -> parent -> grand dot paths, optionally predicated on a
    parent-level field; SQL mirror is the LEFT JOIN chain."""
    items = [("kid_id", "k.kid_id")]
    if rng.random() < 0.8:
        items.append(("parent.pname", "p.pname AS parent_pname"))
    if rng.random() < 0.6:
        items.append(("parent.rank pr", "p.rank AS pr"))
    if rng.random() < 0.7:
        items.append(("parent.grand.glabel", "g.glabel AS parent_grand_glabel"))
    preds = []
    if rng.random() < 0.6:
        v = rng.randint(0, 15)
        preds.append((f"score >= {v}", f"k.score >= {v}"))
    if rng.random() < 0.5:
        choice = rng.random()
        if choice < 0.4:
            preds.append(("parent.rank > 2", "p.rank > 2"))
        elif choice < 0.7:
            preds.append(
                ("parent.pname != NULL", "p.pname IS NOT NULL")
            )
        else:
            preds.append(
                ("parent.grand.glabel = 'G-one'", "g.glabel = 'G-one'")
            )
    where_soql = " AND ".join(s for s, _ in preds)
    where_sql = " AND ".join(q for _, q in preds)
    soql = (
        f"SELECT {', '.join(s for s, _ in items)} FROM kid"
        + (f" WHERE {where_soql}" if preds else "")
        + " ORDER BY kid_id"
    )
    sql = (
        f"SELECT {', '.join(q for _, q in items)} FROM kid k "
        "LEFT JOIN par p ON k.par_id = p.pid "
        "LEFT JOIN gp g ON p.gp_id = g.gid"
        + (f" WHERE {where_sql}" if preds else "")
        + " ORDER BY k.kid_id"
    )
    return soql, sql


# ----------------------------------------------------------------- tests


def _run_one(spark, duck, soql, sql, fsm=1, relationships=None):
    """Execute both sides; returns 'match' | 'rejected' | raises."""
    try:
        df = soql_to_df(
            spark, soql, relationships=relationships,
            today=TODAY, fiscal_start_month=fsm,
        )
        s_cols = [c.lower() for c in df.columns]
        s_rows = [tuple(r) for r in df.collect()]
    except SoqlError:
        return "rejected"
    cur = duck.execute(sql)
    d_cols = [c[0].lower() for c in cur.description]
    d_rows = cur.fetchall()
    assert sorted(s_cols) == sorted(d_cols), (
        f"columns differ for\n  {soql}\n  {sql}\n  "
        f"spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    assert rows_of(s_cols, s_rows) == rows_of(d_cols, d_rows), (
        f"values differ for\n  SOQL: {soql}\n  SQL:  {sql}\n"
        f"  spark({len(s_rows)})={rows_of(s_cols, s_rows)[:4]}\n"
        f"  duck({len(d_rows)})={rows_of(d_cols, d_rows)[:4]}"
    )
    return "match"


def _run_many(sdf, duck, cases):
    """Run independent differential cases from a small driver thread
    pool (optimization guide §2.6): each case is a tiny Spark collect +
    a DuckDB replay, wholly independent, and serial execution just
    stacks ~0.2 s driver barriers. Queries are pre-generated serially
    so the rng draw sequence (and thus the corpus) is byte-identical
    to the old loop; each thread replays SQL on its own ``duck.cursor()``
    (DuckDB connections are not safe for concurrent queries, cursors
    are separate connections over the same database), closed when its
    case is done."""
    from concurrent.futures import ThreadPoolExecutor
    from contextlib import closing

    def one(case):
        soql, sql, fsm, relationships = case
        with closing(duck.cursor()) as cur:
            return _run_one(sdf, cur, soql, sql, fsm, relationships=relationships)

    with ThreadPoolExecutor(max_workers=8) as pool:
        return list(pool.map(one, cases))


def test_differential_plain_and_grouped(sdf, duck):
    n = N_SAMPLES or 60
    rng = random.Random(20240307)
    cases = []
    for i in range(n):
        if rng.random() < 0.6:
            soql, sql, fsm = gen_plain(rng)
        else:
            soql, sql, fsm = gen_grouped(rng)
        cases.append((soql, sql, fsm, None))
    outs = _run_many(sdf, duck, cases)
    matched = sum(o == "match" for o in outs)
    rejected = sum(o == "rejected" for o in outs)
    # the generator only emits well-typed queries: rejections should be
    # rare (none expected), and matches must dominate — a fuzzer that
    # rejects everything would be vacuous
    assert matched >= 0.9 * n, f"{matched}/{n} matched, {rejected} rejected"


def test_differential_relationship_paths(sdf, duck):
    n = N_SAMPLES or 40
    rng = random.Random(77)
    cases = [(*gen_relationship(rng), 1, REG) for _ in range(n)]
    outs = _run_many(sdf, duck, cases)
    assert outs == ["match"] * n


def test_typeof_fields_child_sub_robustness(sdf):
    """Randomized TYPEOF / FIELDS() / child-subselect statements (plus
    mutated-broken variants): every sample either runs or raises
    SoqlError — never a foreign engine error."""
    rng = random.Random(4242)
    poly_reg = RelationshipRegistry(
        lookups=REG.lookups,
        children=REG.children,
        poly={
            ("kid", "what"): (
                "par_id", "kname",
                {"Par": ("par", "pid", "k1"), "Gp": ("gp", "gid", "k2")},
            )
        },
    )
    samples = []
    for _ in range(40):
        kind = rng.random()
        if kind < 0.3:
            branches = ["WHEN Par THEN pname"]
            if rng.random() < 0.5:
                branches.append("WHEN Gp THEN glabel")
            if rng.random() < 0.4:
                branches.append("ELSE glabel")
            q = (
                "SELECT kid_id, TYPEOF what "
                + " ".join(branches)
                + " END FROM kid LIMIT 10"
            )
        elif kind < 0.5:
            scope = rng.choice(["ALL", "STANDARD", "CUSTOM", "BOGUS"])
            q = f"SELECT FIELDS({scope}) FROM kid LIMIT 5"
        elif kind < 0.75:
            inner_w = (
                f" WHERE score > {rng.randint(0, 15)}"
                if rng.random() < 0.6 else ""
            )
            q = (
                f"SELECT pid, (SELECT kid_id FROM Kids{inner_w} "
                f"ORDER BY kid_id LIMIT {rng.randint(1, 5)}) ks FROM par"
            )
        else:  # mutated/broken variants must be typed rejections
            q = rng.choice([
                "SELECT TYPEOF what WHEN Par THEN pname FROM kid",
                "SELECT TYPEOF what END FROM kid",
                "SELECT FIELDS() FROM kid",
                "SELECT pid, (SELECT kid_id FROM Nope) x FROM par",
                "SELECT kid_id, TYPEOF bogus WHEN Par THEN pname END FROM kid",
            ])
        samples.append(q)
    ran = 0
    for q in samples:
        try:
            df = soql_to_df(sdf, q, relationships=poly_reg)
            df.collect()
            ran += 1
        except SoqlError:
            pass
    assert ran >= 10  # the well-formed majority actually executed


if __name__ == "__main__":
    # big-battery mode: python tests/test_soql_fuzz2.py [N]
    os.environ["SOQL_FUZZ_SAMPLES"] = sys.argv[1] if len(sys.argv) > 1 else "1000"
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))
