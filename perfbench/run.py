"""Benchmark entry point: one workload, one seed, one closed-loop client.

Usage (from the root of a checkout that holds ``salesforce_plugin_spark``)::

    python3 perfbench/run.py --workload soql_interactive --seed 1 --seconds 10 --trace 0

``--seconds`` must equal ``run_seconds`` in ``BENCHMARK.json``. The run
length itself is fixed per workload (``PASSES``: whole passes over the
operations, about that many seconds on a quiet 4-CPU host), so both sides of
a comparison time the same executions and report the same percentiles.

A run starts ``get_spark()`` cold on ``local[$SPARK_GRAFT_CPUS]`` (default:
the CPUs this process may use) and sets the workload's tables up with
``register_views``. It then runs every distinct operation once while
checking its output, and then ``WARM_PASSES`` more times untimed; these
passes are the warm-up and run in one fixed order, so that every seed
leaves the JIT compiler in a like state. Then it times the passes, each
shuffled per seed. Each operation is sent only after the previous one
returned. ``setup_s`` covers the cold start, the table set-up and the
warm-up (less the DuckDB oracle's share): what a fresh job pays before it
runs at speed.

The bounded metrics count CPU time, not wall time: seconds on a CPU of this
client and of the threads that run operations in the Spark JVM (see
``trace.CpuClock``). On a shared host, the time the hypervisor gives other
guests moved wall latency by up to 2.5x between runs of the same code, and
the JVM's JIT compiler and garbage collector, which run in the background,
moved total CPU by a third. The timed passes' CPU is further scaled to one
host speed (``REF_CPU_S``), because even with no steal the CPU an operation
used drifted between runs. Wall-clock figures and the JVM's background CPU
are reported too (``wall.*``, ``jvm.*``), unbounded.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` times the same
untraced passes, then as many traced passes, and prints the per-layer
metrics, each layer's self time and the tracing overhead (traced minus
untraced median latency); its spans are written to
``.bench_build/perfbench/traces/``.

Inputs come from ``perfbench/datagen.py`` (fixed tables, built once per
checkout under ``.bench_build/perfbench/data``) and from ``--seed`` (the
operation list). Everything a run writes goes under a fresh directory in
``.bench_build/perfbench`` that is deleted when the run ends. The last
stdout line is the JSON result; the line before it holds the host record
and run details.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback

#: scale factor of the generated tables (60,000 lineitem rows)
SF = 0.01
#: timed passes per workload (21, 7 and 30 distinct operations). Only the
#: first two workloads are in BENCHMARK.json; see workloads.WORKLOADS.
PASSES = {"soql_interactive": 2, "elt_roundtrip": 4, "analytics_batch": 1}
#: untimed passes after the check pass. The first executions of a fresh JVM
#: are still compiling: on ``elt_roundtrip``, with one warm-up pass, each
#: timed pass used up to 13% less CPU than the one before
WARM_PASSES = {"soql_interactive": 1, "elt_roundtrip": 3, "analytics_batch": 1}
#: samples the tail percentile must leave beyond it
TAIL_SAMPLES = 10
#: host-speed reference: the CPU time of sorting ``REF_LONGS`` seeded longs
#: in the Spark JVM, read ``REF_REPEATS`` times after every timed pass,
#: outside the timed spans. The timed passes' CPU metrics are scaled by ``REF_CPU_S`` over
#: the median of the timed passes' readings, so they read as CPU seconds at
#: one fixed host speed. On a shared host, the CPU an operation used drifted
#: by up to a quarter between runs of the same code, with no hypervisor steal;
#: over ten soql seeds the scaling cut the p50 spread from 0.18 to 0.07.
REF_LONGS = 2_000_000
REF_REPEATS = 3
REF_CPU_S = 0.3

SPAN_LAYERS = {  # per-layer metric -> span name whose median duration it is
    "catalog.load_table_s": "catalog.load_table",
    "io.write_csv_s": "io.write_csv",
    "io.write_ndjson_s": "io.write_ndjson",
    "io.write_json_array_s": "io.write_json_array",
    "elt.object_extract_s": "elt.object_extract",
    "elt.bulk_extract_s": "elt.bulk_extract",
    "elt.schema_reconcile_load_s": "elt.schema_reconcile_load",
    "streaming.upsert_s": "streaming.upsert",
}
SELF_LAYERS = {  # self-time metric -> span names of that layer
    "self.op_s": ("op",),
    "self.build_s": ("build",),
    "self.soql_to_df_s": ("soql.to_df",),
    "self.catalog_load_table_s": ("catalog.load_table",),
    "self.exec_s": ("exec",),
    "self.elt_s": ("elt.object_extract", "elt.bulk_extract",
                   "elt.schema_reconcile_load"),
    "self.io_write_s": ("io.write_csv", "io.write_ndjson", "io.write_json_array"),
    "self.schema_reconcile_ddl_s": ("schema_reconcile.ddl",),
    "self.streaming_upsert_s": ("streaming.upsert",),
}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail_rank(n: int) -> int:
    """1-based nearest rank of the highest percentile that leaves
    ``TAIL_SAMPLES`` samples beyond it (the top sample if there are fewer)."""
    return n - TAIL_SAMPLES if n > TAIL_SAMPLES else n


class Context:
    """What operations see: the session, inputs, DuckDB oracle, tracer."""

    def __init__(self, spark, data_dir, run_dir, duck, tracer, counters) -> None:
        import salesforce_plugin_spark.sources.catalog as catalog

        self.spark, self.data_dir, self.run_dir = spark, data_dir, run_dir
        self.duck, self.tracer, self.counters = duck, tracer, counters
        self.relationships = catalog.fixture_relationships()
        self.oracle_s = 0.0
        self.oracle_cpu_s = 0.0
        self.load_table_calls = 0
        self.ddl_statements = 0
        self.stream_batches = 0
        self.pass_counts: dict[str, int] = {}
        self.groups: list[str] = []
        # looked up at call time, so a traced pass sees the wrapped function
        self.resolver = lambda name: catalog.load_table(spark, data_dir, name.lower())

    def oracle(self, sql: str) -> tuple[list[str], list[tuple]]:
        """Column names and rows of ``sql`` on DuckDB; the time it takes is
        kept out of ``setup_s``."""
        t0, c0 = time.perf_counter(), time.process_time()
        cur = self.duck.execute(sql)
        cols = [d[0].lower() for d in cur.description]
        rows = cur.fetchall()
        self.oracle_s += time.perf_counter() - t0
        self.oracle_cpu_s += time.process_time() - c0
        return cols, rows

    def group(self, uid: str, phase: str) -> None:
        """Tag the Spark jobs that follow (traced passes only)."""
        if self.tracer.enabled:
            name = f"{self.tracer._op}|{phase}"
            self.groups.append(name)
            self.counters.set_group(name)


class Patches:
    """Wrap module-level functions the package looks up at call time, so a
    traced pass records their spans and counts; ``undo`` restores them."""

    def __init__(self, ctx) -> None:
        import salesforce_plugin_spark.operators.schema_reconcile as sr
        import salesforce_plugin_spark.plans as plans
        import salesforce_plugin_spark.sources.catalog as catalog
        import salesforce_plugin_spark.sources.io as io

        self.saved = []
        tr = ctx.tracer
        for fn in ("write_csv", "write_ndjson", "write_json_array"):
            self._patch(io, fn, tr.wrap(getattr(io, fn), f"io.{fn}"))
        self._patch(plans, "soql_to_df", tr.wrap(plans.soql_to_df, "soql.to_df"))

        load_table = catalog.load_table

        def counted_load(*args, **kwargs):
            ctx.load_table_calls += 1
            with tr.span("catalog.load_table"):
                return load_table(*args, **kwargs)

        # every module that bound the name (the conformance queries import it)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if (name.startswith("salesforce_plugin_spark")
                    and getattr(mod, "load_table", None) is load_table):
                self._patch(mod, "load_table", counted_load)

        reconcile = sr.reconcile_table

        def counted_ddl(*args, **kwargs):
            with tr.span("schema_reconcile.ddl"):
                executed = reconcile(*args, **kwargs)
            ctx.ddl_statements += len(executed)
            return executed

        self._patch(sr, "reconcile_table", counted_ddl)

    def _patch(self, mod, name, fn) -> None:
        self.saved.append((mod, name, getattr(mod, name)))
        setattr(mod, name, fn)

    def undo(self) -> None:
        for mod, name, fn in reversed(self.saved):
            setattr(mod, name, fn)


class Sample:
    """One timed execution of an operation; ``cpu`` is ``CpuClock.since``."""

    __slots__ = ("op", "latency_s", "cpu", "ok")

    def __init__(self, op, latency_s: float, cpu: dict, ok: bool) -> None:
        self.op, self.latency_s, self.cpu, self.ok = op, latency_s, cpu, ok


class Passes:
    """Samples, wall time and CPU time of a series of shuffled passes."""

    def __init__(self) -> None:
        self.samples: list[Sample] = []
        self.wall_s = 0.0
        self.cpu = {"op": 0.0, "jit": 0.0, "gc": 0.0, "vm": 0.0}
        self.pass_op_cpu_s: list[float] = []
        self.pass_steal: list[float] = []
        self.rss_mb: list[float] = []
        self.retained_mb: list[float] = []
        self.ref_cpu_s: list[float] = []

    def run(self, ctx, ops, seed: int, passes: int, first_pass: int,
            timed: bool = True) -> None:
        """Run passes ``first_pass`` .. ``first_pass + passes - 1``: timed
        passes each in the seed's order for that pass and followed by the
        host-speed reference readings, warm-up passes in the order of
        ``ops``. After each pass, outside the timed spans, force a full
        collection in the Spark JVM, then sample the resident memory of the
        process tree and the memory the JVM retains (live heap plus
        metaspace and code cache). Resident memory after a collection still
        moved by a third between runs, with the heap size the collector had
        chosen; retained memory tracks what the program keeps."""
        from perfbench.trace import CpuClock, child_rss_mb, cpu_ticks, steal_share
        from perfbench.workloads import pass_order

        clock = CpuClock()
        for p in range(first_pass, first_pass + passes):
            ticks = cpu_ticks()
            start, pass_mark = time.perf_counter(), clock.start()
            for op in pass_order(ops, seed, p) if timed else ops:
                op.prepare(ctx)
                mark = clock.start()
                t0 = time.perf_counter()
                ok = True
                try:
                    with ctx.tracer.op(f"{op.uid}#{p}"):
                        op.run(ctx)
                except Exception:  # counted as failed; the loop keeps going
                    ok = False
                    traceback.print_exc(file=sys.stderr)
                lat = time.perf_counter() - t0
                self.samples.append(Sample(op, lat, clock.since(mark), ok))
                if ctx.tracer.enabled:
                    ctx.counters.set_group(None)
            self.wall_s += time.perf_counter() - start
            cpu = clock.since(pass_mark)
            for k, v in cpu.items():
                self.cpu[k] += v
            self.pass_op_cpu_s.append(cpu["op"])
            self.pass_steal.append(steal_share(ticks, cpu_ticks()))
            jvm = ctx.spark.sparkContext._jvm
            jvm.System.gc()
            self.rss_mb.append(child_rss_mb())
            mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            self.retained_mb.append((mx.getHeapMemoryUsage().getUsed()
                                     + mx.getNonHeapMemoryUsage().getUsed()) / 2**20)
            for _ in range(REF_REPEATS if timed else 0):
                # sorted and summed in the JVM, so no array outlives the call
                mark = clock.start()
                jvm.java.util.Random(1).longs(REF_LONGS).sorted().sum()
                self.ref_cpu_s.append(clock.since(mark)["op"])

    def done(self, failed_uids) -> list[Sample]:
        """Executions that returned and whose operation passed its check."""
        return [s for s in self.samples if s.ok and s.op.uid not in failed_uids]


def _wall(timed: Passes, rows_of, failed_uids, setup_wall_s) -> dict:
    """Wall-clock figures of the timed passes: reported with every run, but
    not bounded (see ``_end_to_end``)."""
    done = timed.done(failed_uids)
    lats = sorted(s.latency_s for s in done)
    rows = sum(rows_of[s.op.uid] for s in done)
    return {
        "wall.setup_s": (setup_wall_s, "s"),
        "wall.latency_p50_s": (_median(lats), "s"),
        "wall.latency_p90_s": (lats[tail_rank(len(lats)) - 1] if lats else 0.0, "s"),
        "wall.ops_per_s": (len(done) / timed.wall_s, "1/s"),
        "wall.rows_written_per_s": (rows / timed.wall_s, "rows/s"),
    }


def host_scale(timed: Passes) -> float:
    """Factor that turns the timed passes' CPU seconds into CPU seconds at
    the reference host speed (``REF_CPU_S``)."""
    return REF_CPU_S / _median(timed.ref_cpu_s)


def _end_to_end(timed: Passes, rows_of, failed_uids, setup_cpu_s):
    """The bounded metrics. Times are seconds of CPU the operations' own
    threads used (``CpuClock`` kind ``op``): this client, and the JVM's and
    Python workers' threads less the JVM's JIT compiler, collector and
    housekeeping threads. Those of the timed passes are scaled to the
    reference host speed."""
    done = timed.done(failed_uids)
    scale = host_scale(timed)
    cpus = sorted(s.cpu["op"] * scale for s in done)
    cpu_s = timed.cpu["op"] * scale
    attempted = len(timed.samples)
    rows = sum(rows_of[s.op.uid] for s in done)
    return attempted, attempted - len(done), {
        "setup_s": (setup_cpu_s, "s"),
        "op_cpu_p50_s": (_median(cpus), "s"),
        "op_cpu_p90_s": (cpus[tail_rank(len(cpus)) - 1] if cpus else 0.0, "s"),
        "ops_per_cpu_s": (len(done) / cpu_s, "1/cpu_s"),
        "rows_written_per_cpu_s": (rows / cpu_s, "rows/cpu_s"),
        "ok_rate": (len(done) / attempted, "ratio"),
        "jvm_retained_mb": (max(timed.retained_mb), "MB"),
    }


def _per_layer(ctx, untraced: Passes, traced: Passes, first_traced_pass, setup,
               bytes_per_row, failed_uids):
    from perfbench.workloads import OP_GROUPS

    tr = ctx.tracer
    out: dict[str, tuple[float, str]] = {}
    out["session.start_s"] = (setup["start_s"], "s")
    out["catalog.register_views_s"] = (setup["register_views_s"], "s")
    out["warmup_pass_s"] = (setup["warmup_s"], "s")
    out["mem.peak_rss_mb"] = (max(untraced.rss_mb), "MB")
    for metric, span in SPAN_LAYERS.items():
        out[metric] = (_median(tr.durations(span)), "s")

    totals: dict[str, dict[str, float]] = {}
    for s in tr.spans:
        if s["end"] is not None and s["op"] is not None:
            t = totals.setdefault(s["op"], {})
            t[s["name"]] = t.get(s["name"], 0.0) + s["end"] - s["start"]
    for span, key in (("build", "build_s"), ("exec", "exec_s"),
                      ("soql.to_df", "soql.to_df_s")):
        out[key] = (_median([t[span] for t in totals.values() if span in t]), "s")
    shares = [t["soql.to_df"] / t["op"] for t in totals.values()
              if "soql.to_df" in t and t.get("op")]
    out["soql.to_df_share"] = (_median(shares), "ratio")
    per_op = tr.self_times()
    for metric, names in SELF_LAYERS.items():
        vals = [sum(v.get(n, 0.0) for n in names) for v in per_op.values()
                if any(n in v for n in names)]
        out[metric] = (_median(vals), "s")

    # counts: the first traced pass, once over every distinct operation
    ctx.counters.drain()
    agg: dict[str, dict[str, int]] = {"build": {}, "exec": {}}
    for g in ctx.groups:
        op_id, phase = g.split("|")
        if op_id.endswith(f"#{first_traced_pass}"):
            for k, v in ctx.counters.counts(g).items():
                agg[phase][k] = agg[phase].get(k, 0) + v
    out["build.spark_jobs"] = (agg["build"].get("jobs", 0), "count")
    out["exec.spark_jobs"] = (agg["exec"].get("jobs", 0), "count")
    out["exec.spark_stages"] = (agg["exec"].get("stages", 0), "count")
    out["exec.spark_tasks"] = (agg["exec"].get("tasks", 0), "count")
    out["exec.tasks_failed"] = (agg["exec"].get("failed", 0), "count")
    out["catalog.load_table_calls"] = (ctx.pass_counts["load_table_calls"], "count")
    out["schema_reconcile.ddl_statements"] = (ctx.pass_counts["ddl_statements"], "count")
    out["streaming.batches"] = (ctx.pass_counts["stream_batches"], "count")
    out["io.bytes_written_per_row"] = (bytes_per_row, "B/row")

    # per operation, from the untraced passes; groups of other workloads read 0
    done = untraced.done(failed_uids)
    for kind in ("jit", "gc", "vm"):
        kind_cpu = untraced.cpu[kind] / len(untraced.samples)
        out[f"jvm.{kind}_cpu_per_op_s"] = (kind_cpu, "s")
    groups = list(OP_GROUPS) + sorted({s.op.group for s in done} - set(OP_GROUPS))
    for g in groups:
        out[f"op.{g}_s"] = (_median([s.latency_s for s in done if s.op.group == g]), "s")
    p50_un = _median([s.latency_s for s in done])
    p50_tr = _median([s.latency_s for s in traced.done(failed_uids)])
    out["trace.overhead_s"] = (p50_tr - p50_un, "s")
    return out


def run(args, root: str) -> dict:
    from perfbench import datagen
    from perfbench.trace import (CpuClock, SparkCounters, Tracer, cpu_ticks,
                                 loadavg, steal_share)
    from perfbench.workloads import WORKLOADS, EltOp, plan

    run_t0 = time.perf_counter()
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    data_dir = datagen.write_tier(
        os.path.join(work, "data", f"sf{SF}-v{datagen.VERSION}"), SF
    )
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=work)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    host = {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "python": platform.python_version(),
        "loadavg_before": loadavg(),
    }
    ticks = cpu_ticks()
    spark = None
    duck = None
    try:
        from salesforce_plugin_spark.session import get_spark
        from salesforce_plugin_spark.sources.catalog import register_views

        # set-up, as a fresh job pays it: cold session, tables, warm-up
        setup_clock = CpuClock()
        t0, setup_mark = time.perf_counter(), setup_clock.start()
        spark = get_spark("perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        register_views(spark, data_dir, WORKLOADS[args.workload])
        setup = {"start_s": t1 - t0, "register_views_s": time.perf_counter() - t1}
        host["spark"] = spark.version
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")

        import duckdb

        duck = duckdb.connect()
        duck.execute(f"SET threads TO {int(os.environ['SPARK_GRAFT_CPUS'])}")
        for t in sorted(os.listdir(data_dir)):
            if t.endswith(".parquet"):
                duck.execute(
                    f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}')"
                )
        tracer = Tracer()
        ctx = Context(spark, data_dir, run_dir, duck, tracer, SparkCounters(spark))

        # warm-up, in one order for every seed: the check pass (less its
        # DuckDB time), then untimed passes
        ops = plan(args.workload, args.seed)
        rows_of: dict[str, int] = {}
        failed_uids: set[str] = set()
        io_bytes = io_rows = 0
        t0 = time.perf_counter()
        warm_ops = sorted(ops, key=lambda op: op.uid)
        for op in warm_ops:
            try:
                ok, rows, why = op.check(ctx)
            except Exception as e:  # a crashing check fails the op
                ok, rows, why = False, 0, f"{type(e).__name__}: {e}"
            rows_of[op.uid] = rows
            if not ok:
                failed_uids.add(op.uid)
                print(f"perfbench: check failed: {op.uid}: {why[:300]}", file=sys.stderr)
            if isinstance(op, EltOp) and op.kind in ("object_extract", "bulk_extract"):
                io_bytes += op.bytes_written(ctx)
                io_rows += rows
        check_s = time.perf_counter() - t0 - ctx.oracle_s
        warm = Passes()
        n_warm = WARM_PASSES[args.workload]
        warm.run(ctx, warm_ops, args.seed, n_warm, -n_warm, timed=False)
        failed_uids.update(s.op.uid for s in warm.samples if not s.ok)
        setup["warmup_s"] = check_s + warm.wall_s
        setup["wall_s"] = setup["start_s"] + setup["register_views_s"] + setup["warmup_s"]
        setup["cpu_s"] = setup_clock.since(setup_mark)
        setup["cpu_s"]["op"] -= ctx.oracle_cpu_s

        passes = PASSES[args.workload]
        timed = Passes()
        timed.run(ctx, ops, args.seed, passes, 0)
        wall = _wall(timed, rows_of, failed_uids, setup["wall_s"])
        if args.trace:
            tracer.enabled = True
            patches = Patches(ctx)
            traced = Passes()
            try:
                # the first traced pass alone, so its counts are one pass
                traced.run(ctx, ops, args.seed, 1, passes)
                ctx.pass_counts = {
                    "load_table_calls": ctx.load_table_calls,
                    "ddl_statements": ctx.ddl_statements,
                    "stream_batches": ctx.stream_batches,
                }
                traced.run(ctx, ops, args.seed, passes - 1, passes + 1)
            finally:
                patches.undo()
                tracer.enabled = False
            metrics = _per_layer(ctx, timed, traced, passes, setup,
                                 io_bytes / io_rows if io_rows else 0.0, failed_uids)
            metrics.update(wall)
            tracer.dump(os.path.join(
                work, "traces", f"{args.workload}-seed{args.seed}.jsonl"
            ))
            all_samples = timed.samples + traced.samples
            attempted = len(all_samples)
            failed = sum(1 for s in all_samples if not s.ok or s.op.uid in failed_uids)
        else:
            attempted, failed, metrics = _end_to_end(timed, rows_of, failed_uids,
                                                     setup["cpu_s"]["op"])
        host["loadavg_after"] = loadavg()
        host["cpu_steal_share"] = steal_share(ticks, cpu_ticks())
        n_ok = len(timed.done(failed_uids))
        details = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "sf": SF,
            "distinct_ops": len(ops),
            "passes": passes,
            "samples": len(timed.samples),
            "pass_p50_s": [
                _median([s.latency_s for s in timed.samples[i:i + len(ops)]])
                for i in range(0, len(timed.samples), len(ops))
            ],
            "pass_rss_mb": timed.rss_mb,
            "pass_retained_mb": timed.retained_mb,
            "ref_cpu_s": timed.ref_cpu_s,
            "host_scale": host_scale(timed),
            "pass_op_cpu_s": timed.pass_op_cpu_s,
            "pass_steal_share": timed.pass_steal,
            "cpu_s_by_thread_kind": timed.cpu,
            "wall": {k: v for k, (v, _) in wall.items()},
            "run_wall_s": time.perf_counter() - run_t0,
            "tail_percentile": round(100 * tail_rank(n_ok) / n_ok, 1) if n_ok else None,
            "closed_loop_clients": 1,
            "failed_checks": sorted(failed_uids),
            "setup_parts_s": setup,
            "oracle_s": ctx.oracle_s,
            "host": host,
        }
        return {
            "details": details,
            "result": {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()
                },
            },
        }
    finally:
        if duck is not None:
            duck.close()
        if spark is not None:
            spark.stop()
            _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def _stop_jvm() -> None:
    """End the Spark JVM this process launched and wait until it and the
    Python workers it forked have exited."""
    from pyspark import SparkContext

    from perfbench.trace import child_pids

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = child_pids()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:  # workers that outlived the JVM
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "salesforce_plugin_spark", "__init__.py")):
        print("perfbench: run from a checkout root holding salesforce_plugin_spark/",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    if args.seconds != run_seconds:
        print(f"perfbench: --seconds must be {run_seconds} (BENCHMARK.json); the "
              "run length is fixed per workload", file=sys.stderr)
        return 2
    # import ``perfbench.*`` and the package from the checkout root, and keep
    # this directory's module names (``trace``) from shadowing the stdlib
    sys.path[0] = root
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    out = run(args, root)
    print(json.dumps(out["details"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
