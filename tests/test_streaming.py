"""F6 streaming: the readStream event pipeline produces the same results as
the batch conformance queries on the same input (Spark's unified semantics),
and streaming dedup/watermark plumbing works end to end."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from salesforce_plugin_spark.streaming.windows import (
    dedup_stream,
    incremental_predicate,
    run_to_memory_sink,
    sessionized_events,
    stream_events,
    windowed_event_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """A small parquet events directory, written with the fixture's nanos
    encoding shape (timestamps as long ns, repaired by stream_events)."""
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(100):
        ts = base + dt.timedelta(minutes=i * 7)  # 7-min spacing → session splits
        rows.append((i, int(ts.timestamp() * 1_000_000_000), i % 3,
                     ["view", "click"][i % 2], float(i), "{}"))
    # duplicate event ids to exercise streaming dedup
    rows += rows[:5]
    df = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, "
              "value double, props string"
    )
    out = str(tmp_path_factory.mktemp("events_stream"))
    df.write.mode("overwrite").parquet(out)
    return out


def test_windowed_counts_match_batch(spark, events_dir):
    # complete mode: append would hold back the final windows (the watermark
    # never advances past end-of-input, so they never "close")
    stream = windowed_event_counts(stream_events(spark, events_dir))
    got = run_to_memory_sink(stream, "t_win", mode="complete")
    batch = (
        spark.read.parquet(events_dir)
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    s = {(r.w_start, r.event_type): r.n for r in got.collect()}
    b = {(r.w["start"], r.event_type): r.n for r in batch.collect()}
    assert s == b and len(s) > 0


def test_sessionization_streaming(spark, events_dir):
    got = run_to_memory_sink(
        sessionized_events(stream_events(spark, events_dir), gap="10 minutes"),
        "t_sess",
    )
    rows = got.collect()
    assert len(rows) > 0
    # per-user event spacing is 21 min > 10-min gap → every distinct event
    # time is its own session; the 5 duplicated events double their session
    per_user = [r for r in rows if r.user_id == 0]
    assert all(r.n_events in (1, 2) for r in per_user)
    assert sum(r.n_events == 2 for r in per_user) == 2  # dup ids 0 and 3


def test_streaming_dedup_drops_duplicate_ids(spark, events_dir):
    got = run_to_memory_sink(
        dedup_stream(stream_events(spark, events_dir)).select("event_id"),
        "t_dedup",
    )
    ids = [r.event_id for r in got.collect()]
    assert len(ids) == len(set(ids)) == 100  # 105 input rows, 5 dupes dropped


def test_incremental_predicate(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1),), (dt.datetime(2024, 2, 1),)], "ts timestamp"
    )
    out = df.filter(incremental_predicate("ts", "2024-01-15 00:00:00")).collect()
    assert len(out) == 1 and out[0].ts.month == 2


def test_stream_static_enrichment_join(spark, events_dir):
    from salesforce_plugin_spark.streaming.windows import enrich_stream

    users = spark.createDataFrame(
        [(0, "basic"), (1, "pro"), (2, "basic")], "user_id long, tier string"
    )
    stream = enrich_stream(
        stream_events(spark, events_dir),
        users,
        "user_id",
        select=["event_id", "tier"],
    )
    got = run_to_memory_sink(stream, "t_enrich")
    rows = got.collect()
    assert len(rows) == 105  # left join preserves every stream row
    tiers = {r.tier for r in rows}
    assert tiers == {"basic", "pro"}  # every user id resolved


def test_stream_static_join_is_stateless(spark, events_dir):
    """Stream-static joins must not require watermark state: the plan
    carries no stateful join operator, so an unbounded run can't OOM on
    join state."""
    from salesforce_plugin_spark.streaming.windows import enrich_stream

    users = spark.createDataFrame([(0, "x")], "user_id long, tag string")
    stream = enrich_stream(stream_events(spark, events_dir), users, "user_id")
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert "Join" in plan


def test_stream_upsert_latest_row_wins_across_batches(spark, tmp_path):
    """Two micro-batches with overlapping keys: the upsert sink must keep
    exactly one row per key — the newest by version — and only rewrite
    the touched partitions."""
    import datetime as dt

    from salesforce_plugin_spark.streaming.upsert import run_stream_upsert
    from salesforce_plugin_spark.streaming.windows import stream_events

    base = dt.datetime(2024, 3, 1)

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )

    ns = lambda m: int((base + dt.timedelta(minutes=m)).timestamp() * 1e9)  # noqa: E731
    src = str(tmp_path / "src")
    # file 1: keys 0-9 version-minute 0..9 ; file 2: keys 5-14, minutes 10..19
    mk([(i, ns(i), i, "v1", 1.0, "{}") for i in range(10)]).coalesce(
        1
    ).write.mode("append").parquet(src)
    mk([(i, ns(10 + i - 5), i, "v2", 2.0, "{}") for i in range(5, 15)]).coalesce(
        1
    ).write.mode("append").parquet(src)

    # one file per trigger → the overlapping keys genuinely cross batches
    raw = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream = raw.withColumn(
        "ts", F.expr("timestamp_micros(ts div 1000)")
    ).withColumn("day", F.to_date("ts"))
    table = str(tmp_path / "table")
    run_stream_upsert(
        stream,
        table,
        str(tmp_path / "ckpt"),
        key_cols=["event_id"],
        version_col="ts",
        partition_col="day",
    )
    got = {r.event_id: r for r in spark.read.parquet(table).collect()}
    assert len(got) == 15
    assert got[3].event_type == "v1" and got[7].event_type == "v2"
    assert got[14].event_type == "v2"


def test_watermark_drops_late_events_in_append_mode(spark, tmp_path):
    """The bounded-state contract, observed end to end: once the watermark
    has passed a window and append mode emitted it, a later micro-batch's
    event falling into that window is DROPPED — the window is not
    resurrected and no duplicate append row appears. (Note the deliberate
    3-batch shape: Spark's late filter compares against the watermark
    computed from prior batches, so a late row arriving in the same batch
    that closes its window still merges — the drop guarantee applies to
    windows already finalized, which is what this pins.)"""
    import os
    import shutil as _sh
    import time

    import pyspark.sql.functions as F

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def stage(rows, name):
        src = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        return src

    rows_a = [  # on-time through 15:00 -> watermark 14:30 after this batch
        (1, base, 7, "view", 1.0, "{}"),
        (2, base + dt.timedelta(hours=1), 7, "view", 1.0, "{}"),
        (3, base + dt.timedelta(hours=3), 7, "view", 1.0, "{}"),
    ]
    rows_b = [  # advances watermark to 15:30; 12:00-14:00 windows finalize
        (5, base + dt.timedelta(hours=4), 7, "view", 1.0, "{}"),
    ]
    rows_c = [  # LATE: 12:10 vs watermark 15:30 -> must be dropped
        (9, base + dt.timedelta(minutes=10), 7, "view", 100.0, "{}"),
    ]
    d = tmp_path / "events_late"
    d.mkdir()
    for name, rows in (("a", rows_a), ("b", rows_b), ("c", rows_c)):
        src = stage(rows, name)
        part = next(p for p in os.listdir(src) if p.endswith(".parquet"))
        _sh.copy(os.path.join(src, part), str(d / f"{name}.parquet"))
        time.sleep(1.1)  # distinct mtimes: the file source batches in order

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withWatermark("ts", "30 minutes")
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.sum("value").alias("sv"), F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "sv", "n")
    )
    q = (
        agg.writeStream.format("memory").queryName("t_late")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = [(r.ws, r.sv, r.n) for r in spark.table("t_late").collect()]
    noon = base.replace(tzinfo=None)
    # exactly ONE append row for the 12:00 window, without the late value
    assert [(sv, n) for ws, sv, n in rows if ws == noon] == [(1.0, 1)], rows


def test_stream_events_sniffs_int64_millis(spark, tmp_path):
    """An int64 ts column holding epoch-MILLIS (the legacy-extract shape
    the old nanos assumption silently compressed 1000×) must sniff as ms
    from row-group stats and decode to the right instants end-to-end."""
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        (i, int((base + dt.timedelta(hours=i)).timestamp() * 1000),
         1, "view", 1.0, "{}")
        for i in range(3)
    ]
    out = str(tmp_path / "ev_ms")
    spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, "
              "value double, props string"
    ).write.mode("overwrite").parquet(out)

    got = run_to_memory_sink(stream_events(spark, out), "ms_sniff")
    ts = sorted(r.ts for r in got.select("ts").collect())
    assert ts[0] == dt.datetime(2024, 1, 1, 0, 0) and len(ts) == 3
    assert (ts[1] - ts[0]) == dt.timedelta(hours=1)

    # explicit override beats the sniff (caller knows the unit)
    got2 = run_to_memory_sink(
        stream_events(spark, out, ts_unit="ms"), "ms_explicit"
    )
    assert sorted(r.ts for r in got2.select("ts").collect()) == ts


def test_stream_scd2_folds_batches_into_intervals(spark, tmp_path):
    """Two micro-batches: a key whose attr flips across the batch
    boundary must get its open interval closed at the batch-2 change —
    and the streamed result equals the batch build over all rows."""
    import datetime as dt
    import os
    import time as _time

    import pyspark.sql.functions as F

    from salesforce_plugin_spark.operators.scd import scd2_intervals
    from salesforce_plugin_spark.streaming.upsert import run_stream_scd2

    t0 = dt.datetime(2024, 1, 1)

    def m(minute):
        return t0 + dt.timedelta(minutes=minute)

    schema = "k int, attr string, ts timestamp, chg_id int"
    b1 = [(1, "a", m(0), 1), (1, "a", m(5), 2), (2, "x", m(1), 3)]
    b2 = [(1, "b", m(10), 4), (3, "n", m(11), 5)]
    src = str(tmp_path / "src")
    os.makedirs(src)
    now = _time.time()
    for i, rows in enumerate([b1, b2]):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"batch-{i}.parquet")
        os.rename(os.path.join(stage, pf), dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table = str(tmp_path / "scd2")
    run_stream_scd2(
        stream, table, str(tmp_path / "ckpt"),
        key_cols=["k"], attr_cols=["attr"], ts_col="ts",
        tiebreak_cols=["chg_id"],
    )
    got = spark.read.parquet(table)
    expect = scd2_intervals(
        spark.createDataFrame(b1 + b2, schema),
        ["k"], ["attr"], "ts", ["chg_id"],
    )
    key = lambda r: (  # noqa: E731
        r.k, r.attr, r["__valid_from"], r["__valid_to"], r["__is_current"]
    )
    assert sorted(map(key, got.collect())) == sorted(map(key, expect.collect()))
    # the cross-batch flip genuinely closed batch-1's open interval
    k1 = sorted(
        got.filter(F.col("k") == 1).collect(), key=lambda r: r["__valid_from"]
    )
    assert [r.attr for r in k1] == ["a", "b"]
    assert k1[0]["__valid_to"] == m(10) and k1[1]["__is_current"]


def test_stream_near_dedup_accumulates_full_equivalence(spark, tmp_path):
    """Two micro-batches of documents: cross-batch duplicates adopt the
    earlier batch's cluster id, and the accumulated assignments equal a
    from-scratch run over all rows."""
    import os
    import time as _time

    from salesforce_plugin_spark.functions.dedup import (
        near_dedup_clusters_portable,
    )
    from salesforce_plugin_spark.streaming.upsert import run_stream_near_dedup

    b1 = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "an entirely different document about spark engines"),
    ]
    b2 = [
        (10, "the quick brown fox jumps over the lazy dog today"),  # dup of 1
        (11, "fresh unseen content with its own shingle set here"),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    now = _time.time()
    for i, rows in enumerate([b1, b2]):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(stage)
        pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"batch-{i}.parquet")
        os.rename(os.path.join(stage, pf), dst)
        os.utime(dst, (now + i * 10, now + i * 10))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "state")
    run_stream_near_dedup(
        stream, state, str(tmp_path / "ckpt"),
        id_col="doc_id", text_col="text",
        num_hashes=8, bands=2, shingle_n=3,
    )
    from salesforce_plugin_spark.streaming.upsert import (
        read_near_dedup_assignments,
    )

    got = sorted(
        map(tuple, read_near_dedup_assignments(spark, state, "doc_id").collect())
    )
    full = near_dedup_clusters_portable(
        spark.createDataFrame(b1 + b2, "doc_id long, text string"),
        "doc_id", "text", num_hashes=8, bands=2, shingle_n=3,
    )
    assert got == sorted(map(tuple, full.collect()))
    assert dict(got)[10] == 1    # cross-batch dup adopted batch-1's id


def test_stream_histogram_state_is_additive(spark, tmp_path):
    """A genuine two-batch run's summed state equals one batch histogram."""
    import os

    from salesforce_plugin_spark.functions.sketch import histogram_counts
    from salesforce_plugin_spark.streaming.upsert import (
        read_histogram_state,
        run_stream_histogram,
    )

    a = spark.createDataFrame([(float(v),) for v in range(50)], "value double")
    b = spark.createDataFrame([(float(v),) for v in range(25, 75)], "value double")
    src = str(tmp_path / "src")
    os.makedirs(src)
    a.coalesce(1).write.mode("append").parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_histogram(
        stream, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        "value", lo=0.0, hi=100.0, n_bins=100,
    )
    streamed = {
        (r.bin, r.cnt)
        for r in read_histogram_state(spark, str(tmp_path / "state")).collect()
    }
    batch = {
        (r.bin, r.cnt)
        for r in histogram_counts(
            a.unionAll(b), "value", 0.0, 100.0, 100
        ).collect()
    }
    assert streamed == batch


def test_quantiles_from_counts_matches_binned_quantiles(spark):
    from salesforce_plugin_spark.functions.sketch import (
        binned_quantiles,
        histogram_counts,
        quantiles_from_counts,
    )

    df = spark.createDataFrame([(float(v % 100),) for v in range(500)], "v double")
    direct = sorted(
        map(tuple, binned_quantiles(df, "v", [0.5, 0.9], 0.0, 100.0, 100).collect())
    )
    via_state = sorted(
        map(
            tuple,
            quantiles_from_counts(
                histogram_counts(df, "v", 0.0, 100.0, 100),
                [0.5, 0.9], 0.0, 100.0, 100,
            ).collect(),
        )
    )
    assert direct == via_state


def test_stream_cusum_equals_batch(spark, tmp_path):
    import os
    import time as _time
    import datetime as dt

    from salesforce_plugin_spark.operators.timeseries import cusum_alarms
    from salesforce_plugin_spark.streaming.upsert import run_stream_cusum

    rows = [
        ("k", dt.datetime(2024, 1, 1, 0, 0, i), i, v)
        for i, v in enumerate([5, 9, 2, 14, 1, 9, 30, 0])
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, id long, v long")
    src = str(tmp_path / "src")
    os.makedirs(src)
    now = _time.time()
    for i, half in enumerate([df.filter("id < 4"), df.filter("id >= 4")]):
        part = str(tmp_path / f"stage{i}")
        half.coalesce(1).write.mode("overwrite").parquet(part)
        pf = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        dst = os.path.join(src, f"b{i}.parquet")
        os.rename(os.path.join(part, pf), dst)
        os.utime(dst, (now + i * 10, now + i * 10))
    stream = (
        spark.readStream.schema("k string, ts timestamp, id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    run_stream_cusum(
        stream, out_dir, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        ["k"], "ts", "v", target=5, slack=1, threshold=6,
        tiebreak_cols=["id"],
    )
    got = sorted(
        (r.k, r.ts, r.v, r.id, r.cusum, r.alarm)
        for r in spark.read.parquet(out_dir).collect()
    )
    want = sorted(
        (r.k, r.ts, r.v, r.id, r.cusum, r.alarm)
        for r in cusum_alarms(
            df, ["k"], "ts", "v", target=5, slack=1, threshold=6,
            tiebreak_cols=["id"],
        ).collect()
    )
    assert got == want and len(got) == 8


def test_stream_upsert_leaves_session_conf_alone(spark, tmp_path, monkeypatch):
    """The dynamic partition overwrite is a writer option: the upsert never
    sets ``partitionOverwriteMode`` on the session, which every thread's
    writes would see, and a batch still rewrites only its own partitions."""
    from pyspark.sql.conf import RuntimeConfig

    from salesforce_plugin_spark.streaming.upsert import run_stream_upsert

    keys = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    schema = "id long, day int, v string"
    src = str(tmp_path / "src")
    for rows in ([(i, i % 3, "v1") for i in range(6)], [(0, 0, "v2")]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    table = str(tmp_path / "table")
    run_stream_upsert(stream, table, str(tmp_path / "ckpt"), ["id"], "v", "day")
    got = {r.id: r.v for r in spark.read.parquet(table).collect()}
    assert got == {0: "v2", 1: "v1", 2: "v1", 3: "v1", 4: "v1", 5: "v1"}
    assert not [k for k in keys if "partitionOverwriteMode" in k]


def test_upsert_corrupt_table_raises_and_keeps_files(spark, tmp_path):
    """A partition directory holding a non-parquet file is a read failure,
    not a first batch: ``upsert_batch`` raises and overwrites nothing."""
    from salesforce_plugin_spark.streaming.upsert import upsert_batch

    part = tmp_path / "table" / "day=1"
    part.mkdir(parents=True)
    bad = part / "part-000.parquet"
    bad.write_bytes(b"not parquet")
    batch = spark.createDataFrame([(1, 1, "a")], "id long, day int, v string")
    with pytest.raises(Exception):
        upsert_batch(str(tmp_path / "table"), batch, ["id"], "v", "day")
    assert bad.read_bytes() == b"not parquet"
    assert [p.name for p in part.iterdir()] == ["part-000.parquet"]


def _one_file_stream(spark, tmp_path, rows, schema):
    src = tmp_path / "src"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src))
    return spark.readStream.schema(schema).parquet(str(src))


@pytest.mark.parametrize("face", ["upsert", "scd2", "near_dedup"])
def test_stream_corrupt_state_raises_and_keeps_files(spark, tmp_path, face):
    """A non-parquet file in a face's existing state is a read failure,
    not a first batch: the run raises and the file stays in place."""
    import datetime as dt

    from salesforce_plugin_spark.streaming import upsert as U

    ckpt = str(tmp_path / "ckpt")
    if face == "upsert":
        bad_dir = tmp_path / "table" / "day=1"
        stream = _one_file_stream(
            spark, tmp_path, [(1, 1, "a")], "id long, day int, v string"
        )
        run = lambda: U.run_stream_upsert(  # noqa: E731
            stream, str(tmp_path / "table"), ckpt, ["id"], "v", "day"
        )
    elif face == "scd2":
        bad_dir = tmp_path / "table"
        stream = _one_file_stream(
            spark, tmp_path, [(1, "a", dt.datetime(2024, 1, 1))],
            "k int, attr string, ts timestamp",
        )
        run = lambda: U.run_stream_scd2(  # noqa: E731
            stream, str(tmp_path / "table"), ckpt, ["k"], ["attr"], "ts"
        )
    else:
        bad_dir = tmp_path / "state" / "bands" / "__b=-1"
        stream = _one_file_stream(
            spark, tmp_path, [(1, "the quick brown fox jumps over")],
            "doc_id long, text string",
        )
        run = lambda: U.run_stream_near_dedup(  # noqa: E731
            stream, str(tmp_path / "state"), ckpt, "doc_id", "text"
        )
    bad_dir.mkdir(parents=True)
    bad = bad_dir / "part-000.parquet"
    bad.write_bytes(b"not parquet")
    with pytest.raises(Exception):
        run()
    assert bad.read_bytes() == b"not parquet"
    assert [p.name for p in bad_dir.iterdir()] == ["part-000.parquet"]


def test_upsert_unresolvable_batch_schema_raises_and_keeps_rows(spark, tmp_path):
    """Only the table read may mean "first batch": a batch whose columns
    the merge cannot resolve against the table raises instead of
    overwriting the touched partition with batch-only rows."""
    from salesforce_plugin_spark.streaming.upsert import upsert_batch

    table = str(tmp_path / "table")
    upsert_batch(
        table,
        spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "id long, day int, v string"),
        ["id"], "v", "day",
    )
    batch = spark.createDataFrame([(1, 1, "c", 0)], "id long, day int, v string, extra int")
    with pytest.raises(Exception, match="extra"):
        upsert_batch(table, batch, ["id"], "v", "day")
    got = {r.id: r.v for r in spark.read.parquet(table).collect()}
    assert got == {1: "a", 2: "b"}


def _three_slices(spark):
    return [
        spark.createDataFrame(
            [(i * 10 + j, f"s{i}", [float(j)]) for j in range(3)],
            "id long, tag string, v array<float>",
        )
        for i in range(3)
    ]


def test_staged_stream_drains_slices_as_ordered_batches(spark):
    """A fold over a three-slice staged stream sees three micro-batches,
    slice ``i`` as batch ``i``."""
    import os

    from salesforce_plugin_spark.conformance.streaming import _staged_stream

    slices = _three_slices(spark)
    seen = []
    with _staged_stream(spark, slices, "test_staged_") as (stream, tmp):
        stream().writeStream.foreachBatch(
            lambda b, bid: seen.append((bid, sorted(r.id for r in b.collect())))
        ).option("checkpointLocation", os.path.join(tmp, "ckpt")).trigger(
            availableNow=True
        ).start().awaitTermination()
    assert seen == [
        (i, sorted(r.id for r in sl.collect())) for i, sl in enumerate(slices)
    ]


def test_staged_stream_has_the_slices_schema(spark):
    from salesforce_plugin_spark.conformance.streaming import _staged_stream

    slices = _three_slices(spark)
    with _staged_stream(spark, slices, "test_staged_") as (stream, _):
        s = stream()
        assert s.isStreaming
        assert s.schema.simpleString() == slices[0].schema.simpleString()


def test_staged_stream_removes_its_dir_on_success_and_error(spark):
    import os

    from salesforce_plugin_spark.conformance.streaming import _staged_stream

    slices = _three_slices(spark)
    with _staged_stream(spark, slices, "test_staged_") as (_, tmp):
        assert len(os.listdir(os.path.join(tmp, "src"))) == 3
    assert not os.path.exists(tmp)
    with pytest.raises(RuntimeError, match="fold failed"):
        with _staged_stream(spark, slices, "test_staged_") as (_, tmp):
            raise RuntimeError("fold failed")
    assert not os.path.exists(tmp)
