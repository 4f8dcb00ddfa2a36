"""The benchmark's workloads: seeded operation lists and the operations.

``plan(workload, seed)`` is pure Python: it decides every input the package
will see (query names, generated SOQL, extract field subsets, describe
lists) and imports nothing from Spark, so the operation list of a seed can
be checked byte for byte without starting a session.

An operation is executed three ways by the harness (``run.py``):

* ``check(ctx)`` once per run, before the timed passes: runs the operation
  and verifies its output (row count plus an order-insensitive comparison of
  every value against DuckDB, or the sink read back); returns the rows it
  delivers to its sink per execution. This pass is also the warm-up pass.
* ``prepare(ctx)`` before every timed execution, untimed: resets state the
  operation writes (sink directories, tables, stream checkpoints).
* ``run(ctx)`` timed: the user-visible call, closed loop.
"""

from __future__ import annotations

import json
import os
import random
import shutil

from perfbench import soqlgen

SOQL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem")
ELT_TABLES = ("customer", "supplier", "orders", "lineitem", "events")

#: the TPC-H-shape registry entries plus the analytic ones
ANALYTICS_QUERIES = tuple(f"q_tpch_q{i}" for i in range(1, 23)) + (
    "q_agg_cube", "q_agg_count_distinct", "q_asof_join", "q_range_join",
    "q_event_window", "q_event_session", "q_soql_rollup_having",
    "q_soql_relationship",
)

#: SOQL statements generated per query shape (7 shapes). Each workload has an
#: odd number of distinct operations: a pass then puts the median sample in
#: the middle of one operation's latencies, not in the gap between two.
SOQL_PER_SHAPE = 3


class Op:
    """One distinct operation of a workload."""

    kind = "op"

    def __init__(self, uid: str) -> None:
        self.uid = uid

    @property
    def group(self) -> str:
        """Name of the ``op.<group>_s`` per-layer metric this op counts in."""
        return self.uid

    def spec(self) -> dict:
        return {"uid": self.uid, "kind": self.kind}

    def prepare(self, ctx) -> None:
        pass

    def run(self, ctx) -> None:
        raise NotImplementedError

    def check(self, ctx) -> tuple[bool, int, str]:
        raise NotImplementedError


# ------------------------------------------------------------------ checks


def _canon(v):
    """Cell canonical form shared by both engines: numbers compare to nine
    significant digits (aggregation order moves the last bits of a float
    sum), containers element-wise."""
    from decimal import Decimal

    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, Decimal)):
        return ("n", format(float(v), ".9g"))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def rowset(cols: list[str], rows) -> list:
    """Order-insensitive canonical form of a result: columns by name, rows
    sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


def compare(df_cols, df_rows, ctx, sql: str) -> tuple[bool, str]:
    d_cols, d_rows = ctx.oracle(sql)
    s_cols = [c.lower() for c in df_cols]
    if sorted(s_cols) != sorted(d_cols):
        return False, f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    if len(df_rows) != len(d_rows):
        return False, f"rows {len(df_rows)} != {len(d_rows)}"
    if rowset(s_cols, df_rows) != rowset(d_cols, d_rows):
        return False, "values differ"
    return True, ""


def _duck_count(ctx, sql: str) -> int:
    return int(ctx.oracle(f"SELECT count(*) FROM ({sql})")[1][0][0])


# ----------------------------------------------------------- analytics_batch


class ConformanceOp(Op):
    """A registry entry (``conformance.QUERIES``) forced with a noop write."""

    kind = "conformance"

    def __init__(self, name: str) -> None:
        super().__init__(name)

    def run(self, ctx) -> None:
        from salesforce_plugin_spark.conformance import QUERIES

        tr = ctx.tracer
        with tr.span("build"):
            ctx.group(self.uid, "build")
            df = QUERIES[self.uid](ctx.spark, ctx.data_dir)
        with tr.span("exec"):
            ctx.group(self.uid, "exec")
            df.write.format("noop").mode("overwrite").save()

    def check(self, ctx):
        from salesforce_plugin_spark.conformance import ORACLES, QUERIES

        df = QUERIES[self.uid](ctx.spark, ctx.data_dir)
        rows = [tuple(r) for r in df.collect()]
        ok, why = compare(df.columns, rows, ctx, ORACLES[self.uid])
        return ok, len(rows), why


# ---------------------------------------------------------- soql_interactive


class SoqlOp(Op):
    """A generated SOQL string through ``plans.soql.soql_to_df`` with the
    ``load_table`` resolver, its bounded result collected like REST
    ``query_all``."""

    kind = "soql"

    def __init__(self, uid: str, shape: str, soql: str, sql: str) -> None:
        super().__init__(uid)
        self.shape, self.soql, self.sql = shape, soql, sql

    @property
    def group(self) -> str:
        return f"soql_{self.shape}"

    def spec(self) -> dict:
        return {**super().spec(), "shape": self.shape, "soql": self.soql,
                "sql": self.sql}

    def _df(self, ctx):
        from salesforce_plugin_spark.plans.soql import soql_to_df

        return soql_to_df(
            ctx.spark, self.soql, resolve=ctx.resolver,
            relationships=ctx.relationships,
        )

    def run(self, ctx) -> None:
        tr = ctx.tracer
        with tr.span("build"):
            ctx.group(self.uid, "build")
            with tr.span("soql.to_df"):
                df = self._df(ctx)
        with tr.span("exec"):
            ctx.group(self.uid, "exec")
            df.collect()

    def check(self, ctx):
        df = self._df(ctx)
        rows = [tuple(r) for r in df.collect()]
        ok, why = compare(df.columns, rows, ctx, self.sql)
        return ok, len(rows), why


# ------------------------------------------------------------- elt_roundtrip


class EltOp(Op):
    """Base for write-path operations: each owns one sink under the run's
    temp directory."""

    def sink(self, ctx) -> str:
        return os.path.join(ctx.run_dir, "sinks", self.uid)

    def prepare(self, ctx) -> None:
        shutil.rmtree(self.sink(ctx), ignore_errors=True)

    def bytes_written(self, ctx) -> int:
        total = 0
        for dirpath, _, files in os.walk(self.sink(ctx)):
            for f in files:
                if not f.startswith(".") and not f.startswith("_"):
                    total += os.path.getsize(os.path.join(dirpath, f))
        return total


class ObjectExtractOp(EltOp):
    kind = "object_extract"

    def __init__(self, uid, table, fields, fmt) -> None:
        super().__init__(uid)
        self.table, self.fields, self.fmt = table, fields, fmt

    def spec(self) -> dict:
        return {**super().spec(), "table": self.table, "fields": self.fields,
                "fmt": self.fmt}

    def run(self, ctx) -> None:
        from salesforce_plugin_spark.operators.elt import ObjectExtract

        with ctx.tracer.span("elt.object_extract"):
            ctx.group(self.uid, "exec")
            ObjectExtract(
                object_name=self.table, dest=self.sink(ctx), fields=self.fields,
                fmt=self.fmt, coerce_to_timestamp=self.fmt != "json",
                record_time_added=self.fmt != "json",
            ).execute(ctx.spark)

    def check(self, ctx):
        self.prepare(ctx)
        self.run(ctx)
        want = _duck_count(ctx, f"SELECT * FROM {self.table}")
        got_cols = set()
        if self.fmt == "csv":
            back = ctx.spark.read.option("header", True).csv(self.sink(ctx))
            got, got_cols = back.count(), set(back.columns)
        elif self.fmt == "ndjson":
            back = ctx.spark.read.json(self.sink(ctx))
            got, got_cols = back.count(), set(back.columns)
        else:
            records = []
            for name in sorted(os.listdir(self.sink(ctx))):
                if name.startswith("part-"):
                    with open(os.path.join(self.sink(ctx), name)) as f:
                        records.extend(json.loads(f.read()))
            got = len(records)
            got_cols = set(records[0]) if records else set()
        missing = {c.lower() for c in self.fields} - got_cols
        if got != want or missing:
            return False, got, f"{got} rows (want {want}), missing {sorted(missing)}"
        return True, got, ""


class BulkExtractOp(EltOp):
    kind = "bulk_extract"

    def __init__(self, uid, soql, sql) -> None:
        super().__init__(uid)
        self.soql, self.sql = soql, sql

    def spec(self) -> dict:
        return {**super().spec(), "soql": self.soql, "sql": self.sql}

    def run(self, ctx) -> None:
        from salesforce_plugin_spark.operators.elt import BulkQueryExtract

        with ctx.tracer.span("elt.bulk_extract"):
            ctx.group(self.uid, "exec")
            BulkQueryExtract(soql=self.soql, dest=self.sink(ctx)).execute(ctx.spark)

    def check(self, ctx):
        self.prepare(ctx)
        self.run(ctx)
        back = ctx.spark.read.json(self.sink(ctx))
        rows = [tuple(r) for r in back.collect()]
        ok, why = compare(back.columns, rows, ctx, self.sql)
        return ok, len(rows), why


class SchemaReconcileOp(EltOp):
    """Two-phase ``SchemaReconcileLoad``: CREATE from a describe list that
    lacks the drift columns and load, then the full describe list (drift
    ALTERs plus a compound field whose component is null-filled) and an
    aligned append."""

    kind = "schema_reconcile"

    def __init__(self, uid, describe, drift) -> None:
        super().__init__(uid)
        self.describe, self.drift = describe, drift
        self.table = f"bench_{uid}"

    def spec(self) -> dict:
        return {**super().spec(), "describe": self.describe, "drift": self.drift}

    def prepare(self, ctx) -> None:
        ctx.spark.sql(f"DROP TABLE IF EXISTS {self.table}")

    def run(self, ctx) -> None:
        from salesforce_plugin_spark.operators.elt import SchemaReconcileLoad

        base = ctx.spark.table("customer")
        first = [d for d in self.describe if d["name"].lower() not in self.drift]
        with ctx.tracer.span("elt.schema_reconcile_load"):
            ctx.group(self.uid, "exec")
            SchemaReconcileLoad(self.table, first).execute(
                ctx.spark, base.drop(*self.drift)
            )
        with ctx.tracer.span("elt.schema_reconcile_load"):
            SchemaReconcileLoad(self.table, self.describe).execute(ctx.spark, base)

    def check(self, ctx):
        self.prepare(ctx)
        self.run(ctx)
        want = 2 * _duck_count(ctx, "SELECT * FROM customer")
        table = ctx.spark.table(self.table)
        got = table.count()
        want_cols = {
            d["name"].lower() for d in self.describe
            if d["name"] not in {x.get("compoundFieldName") for x in self.describe}
        }
        if got != want or set(table.columns) != want_cols:
            return False, got, f"{got} rows (want {want}), cols {table.columns}"
        return True, got, ""


class StreamUpsertOp(EltOp):
    """``streaming.upsert.run_stream_upsert`` draining ``events``: newest row
    per user wins, key-bucketed partitions."""

    kind = "stream_upsert"

    def __init__(self, uid, buckets) -> None:
        super().__init__(uid)
        self.buckets = buckets

    def spec(self) -> dict:
        return {**super().spec(), "buckets": self.buckets}

    def run(self, ctx) -> None:
        import pyspark.sql.functions as F

        from salesforce_plugin_spark.streaming.upsert import run_stream_upsert
        from salesforce_plugin_spark.streaming.windows import stream_events

        with ctx.tracer.span("streaming.upsert"):
            ctx.group(self.uid, "exec")
            stream = (
                stream_events(ctx.spark, os.path.join(ctx.data_dir, "events.parquet"))
                .withColumn("__ver", F.struct(F.col("ts"), F.col("event_id")))
                .withColumn("__bucket", F.pmod(F.col("user_id"), F.lit(self.buckets)))
            )
            q = run_stream_upsert(
                stream, os.path.join(self.sink(ctx), "table"),
                os.path.join(self.sink(ctx), "ckpt"), key_cols=["user_id"],
                version_col="__ver", partition_col="__bucket",
            )
        ctx.stream_batches = len(q.recentProgress)

    def check(self, ctx):
        self.prepare(ctx)
        self.run(ctx)
        back = ctx.spark.read.parquet(os.path.join(self.sink(ctx), "table"))
        rows = [tuple(r) for r in back.select("user_id", "event_id").collect()]
        ok, why = compare(
            ["user_id", "event_id"], rows, ctx,
            "SELECT user_id, event_id FROM (SELECT user_id, event_id, "
            "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, "
            "event_id DESC) AS rn FROM events) WHERE rn = 1",
        )
        return ok, len(rows), why


#: extract fields by type; the seed draws a fixed number of each type, so
#: that it changes which columns an extract writes but not what it costs
LINEITEM_KEYS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
LINEITEM_NUMS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
LINEITEM_FLAGS = ["l_returnflag", "l_linestatus"]
LINEITEM_COLS = LINEITEM_KEYS + LINEITEM_NUMS + LINEITEM_FLAGS
ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderpriority"]
SUPPLIER_COLS = ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]


def _pick(rng: random.Random, *groups: tuple[list[str], int]) -> list[str]:
    """``n`` columns from each ``(columns, n)`` group, in table order."""
    picked = {c for cols, n in groups for c in rng.sample(cols, n)}
    order = [c for cols, _ in groups for c in cols]
    return sorted(picked, key=order.index)


def _describe(rng: random.Random) -> list[dict]:
    """A Salesforce describe() field list for ``customer``, with seeded
    string lengths and mixed-case names, plus a compound Address field."""
    return [
        {"name": "C_CustKey", "soapType": "xsd:int"},
        {"name": "C_Name", "soapType": "xsd:string",
         "length": rng.choice([40, 80, 255])},
        {"name": "C_NationKey", "soapType": "xsd:int"},
        {"name": "C_AcctBal", "soapType": "xsd:double"},
        {"name": "C_MktSegment", "soapType": "xsd:picklist",
         "length": rng.choice([20, 40])},
        {"name": "BillingAddress", "soapType": "urn:address"},
        {"name": "BillingCity", "soapType": "xsd:string", "length": 40,
         "compoundFieldName": "BillingAddress"},
    ]


def _elt_ops(seed: int) -> list[Op]:
    # the seed picks columns and equally common category values; thresholds
    # and bucket counts, which set how many rows and files an op writes, stay
    # fixed so that the seed does not move the run's cost
    rng = random.Random(f"elt:{seed}")
    status = rng.choice(["F", "O", "P"])
    bulk_cols = ["o_orderkey"] + _pick(
        rng, (["o_custkey", "o_totalprice"], 1),
        (["o_orderstatus", "o_orderpriority"], 1),
    )
    where = f"o_totalprice > 200000 AND o_orderstatus = '{status}'"
    line_cols = LINEITEM_KEYS[:2] + _pick(
        rng, (LINEITEM_KEYS[2:], 1), (LINEITEM_NUMS, 1)
    )
    line_where = f"l_quantity >= 30 AND l_returnflag = '{rng.choice(['A', 'N', 'R'])}'"
    return [
        ObjectExtractOp(
            "extract_csv", "lineitem",
            _pick(rng, (LINEITEM_KEYS, 2), (LINEITEM_NUMS, 3), (LINEITEM_FLAGS, 1))
            + ["l_shipdate"], "csv",
        ),
        ObjectExtractOp(
            "extract_ndjson", "orders",
            _pick(rng, (["o_orderkey", "o_custkey"], 1),
                  (["o_orderstatus", "o_orderpriority"], 1), (["o_totalprice"], 1))
            + ["o_orderdate"], "ndjson",
        ),
        ObjectExtractOp(
            "extract_json", "supplier",
            sorted(rng.sample(SUPPLIER_COLS, 3), key=SUPPLIER_COLS.index), "json",
        ),
        BulkExtractOp(
            "bulk_extract",
            f"SELECT {', '.join(bulk_cols)} FROM Orders WHERE {where}",
            f"SELECT {', '.join(bulk_cols)} FROM orders WHERE {where}",
        ),
        BulkExtractOp(
            "bulk_extract_lineitem",
            f"SELECT {', '.join(line_cols)} FROM Lineitem WHERE {line_where}",
            f"SELECT {', '.join(line_cols)} FROM lineitem WHERE {line_where}",
        ),
        SchemaReconcileOp(
            "schema_reconcile", _describe(rng),
            rng.sample(["c_nationkey", "c_acctbal", "c_mktsegment"], 2),
        ),
        StreamUpsertOp("stream_upsert", 16),
    ]


# ------------------------------------------------------------------ registry

#: the ``op.<group>_s`` metrics of the workloads in BENCHMARK.json: SOQL ops
#: by shape (the SOQL text changes with the seed), write-path ops by name
OP_GROUPS = tuple(f"soql_{g.__name__[4:]}" for g in soqlgen.SHAPES) + (
    "extract_csv", "extract_ndjson", "extract_json", "bulk_extract",
    "bulk_extract_lineitem", "schema_reconcile", "stream_upsert",
)


#: workload -> the tables ``register_views`` sets up before the first pass.
#: ``analytics_batch`` runs on request only; BENCHMARK.json leaves it out
#: because its 30 cold queries make a run too long for the benchmark's budget
WORKLOADS = {
    "analytics_batch": SOQL_TABLES + ("events",),
    "soql_interactive": SOQL_TABLES,
    "elt_roundtrip": ELT_TABLES,
}


def plan(workload: str, seed: int) -> list[Op]:
    """Every distinct operation of ``workload`` for ``seed``, in the seed's
    order."""
    if workload == "analytics_batch":
        ops: list[Op] = [ConformanceOp(n) for n in ANALYTICS_QUERIES]
    elif workload == "soql_interactive":
        ops = [
            SoqlOp(f"soql_{i:02d}_{shape}", shape, soql, sql)
            for i, (shape, soql, sql) in enumerate(
                soqlgen.generate(seed, SOQL_PER_SHAPE)
            )
        ]
    elif workload == "elt_roundtrip":
        ops = _elt_ops(seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    random.Random(f"order:{workload}:{seed}").shuffle(ops)
    return ops


def pass_order(ops: list[Op], seed: int, pass_no: int) -> list[Op]:
    """The order of one timed pass: every operation once, shuffled per seed
    and pass."""
    out = list(ops)
    random.Random(f"pass:{seed}:{pass_no}").shuffle(out)
    return out


def op_list_bytes(workload: str, seed: int, passes: int = 3) -> bytes:
    """Canonical bytes of a seed's operation list and first pass orders."""
    ops = plan(workload, seed)
    doc = {
        "ops": [op.spec() for op in ops],
        "passes": [[op.uid for op in pass_order(ops, seed, p)] for p in range(passes)],
    }
    return json.dumps(doc, sort_keys=True).encode()
