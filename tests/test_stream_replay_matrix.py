"""Round-9 verdict item 8: the per-face replay guarantees as a
FAMILY-LEVEL invariant — one parametrized matrix over every engine
stream-fold face:

- **fold twice**: a full fresh-checkpoint replay of every batch id
  against the same state (the worst-case foreachBatch retry storm)
  leaves the state read-out value-identical;
- **crash mid-compaction** (``__b=`` faces): an interrupted compaction
  (merged tmp durable + manifest written + partitions half-deleted) is
  recovered by the next reader with identical values;
- **replay pre-watermark** (``__b=`` faces): after compaction, a retry
  of a folded batch id is fenced to a no-op even with different rows;
- **stale uncommitted carry** (fenced-carry faces): a ``__c=`` version
  written by a crashed attempt whose pointer never flipped is
  invisible to readers and overwritten by the retry.

The mapping table at the bottom ties every ``q_stream_*`` conformance
face to the engine mechanism that makes it replay-safe; a test asserts
it covers the registry exactly, so a new stream face cannot land
without declaring its replay story here.
"""

import datetime as dt
import json
import os
import shutil
import time as _time

import pyspark.sql.functions as F
import pytest

from salesforce_plugin_spark.streaming import upsert as U

SCHEMA = "k string, ts timestamp, id long, v long, txt string"


def _events(spark):
    rows = [
        (
            "k%d" % (i % 3),
            dt.datetime(2024, 1, 1, 0, 0, i),
            i,
            (i * 7) % 13,
            "tok%d tok%d tok%d words alpha beta" % (i % 5, i % 7, i % 3),
        )
        for i in range(24)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _sliced_source(spark, tmp_path, n_slices=3):
    df = _events(spark)
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    now = _time.time()
    per = 24 // n_slices
    for i in range(n_slices):
        sl = df.filter(f"id >= {i * per} and id < {(i + 1) * per}")
        part = str(tmp_path / f"stage{i}")
        sl.coalesce(1).write.mode("overwrite").parquet(part)
        pf = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        dst = os.path.join(src, f"b{i}.parquet")
        os.rename(os.path.join(part, pf), dst)
        os.utime(dst, (now + i * 10, now + i * 10))
    return src


def _stream(spark, src):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --- engine-face matrix -------------------------------------------------
# Each entry: run(spark, src, state_root, ck) drains the sliced stream
# into state under state_root; read(spark, state_root) -> DataFrame of
# the state read-out; protocol is "partials" (__b= layout; also needs a
# reduce_fn for the compaction-crash and fence scenarios, and the state
# dir the partials live in), "carry" (fenced __c= layout), or "table"
# (deterministic read-modify-write parquet table).

FACES = {
    "additive_counts": dict(
        protocol="partials",
        run=lambda spark, src, st, ck: U.run_stream_additive_counts(
            _stream(spark, src), st, ck, ["k"]
        ),
        read=lambda spark, st: U.read_summed_counts(spark, st, ["k"]),
        reduce_fn=lambda d: d.groupBy("k").agg(
            F.sum("n").cast("long").alias("n")
        ),
        fake_rows=lambda spark: spark.createDataFrame(
            [("k0", 999)], "k string, n long"
        ),
    ),
    "additive_sums": dict(
        protocol="partials",
        run=lambda spark, src, st, ck: U.run_stream_additive_sums(
            _stream(spark, src), st, ck, ["k"], ["v"]
        ),
        read=lambda spark, st: U.read_summed_sums(spark, st, ["k"], ["v"]),
        reduce_fn=lambda d: d.groupBy("k").agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_v").cast("long").alias("sum_v"),
        ),
        fake_rows=lambda spark: spark.createDataFrame(
            [("k0", 9, 999)], "k string, n long, sum_v long"
        ),
    ),
    "max_registers": dict(
        protocol="partials",
        run=lambda spark, src, st, ck: U.run_stream_max_registers(
            _stream(spark, src), st, ck, ["k"], "txt"
        ),
        read=lambda spark, st: U.read_max_registers(spark, st, ["k"]),
        reduce_fn=lambda d: d.groupBy("k", "bucket").agg(
            F.max("m_j").alias("m_j")
        ),
        fake_rows=None,  # MAX absorbs anything below; fence tested via layout
    ),
    "distinct_set": dict(
        protocol="partials",
        run=lambda spark, src, st, ck: U.run_stream_distinct_set(
            _stream(spark, src), st, ck, ["k", "v"]
        ),
        read=lambda spark, st: U.read_distinct_set(spark, st, ["k", "v"]),
        reduce_fn=lambda d: d.select("k", "v").distinct(),
        fake_rows=lambda spark: spark.createDataFrame(
            [("zz", 999)], "k string, v long"
        ),
    ),
    "active_days": dict(
        protocol="partials",
        run=lambda spark, src, st, ck: U.run_stream_active_days(
            _stream(spark, src), st, ck, "k", "ts"
        ),
        read=lambda spark, st: U.read_rolling_distinct(spark, st, 7),
        reduce_fn=lambda d: d.select("key", "day").distinct(),
        fake_rows=lambda spark: spark.createDataFrame(
            [("zz", dt.date(2030, 1, 1))], "key string, day date"
        ),
    ),
    "cm": dict(
        protocol="partials",
        run=lambda spark, src, st, ck: U.run_stream_cm(
            _stream(spark, src), st, ck, "k"
        ),
        read=lambda spark, st: U.read_cm_state(spark, st),
        reduce_fn=lambda d: d.groupBy("row", "bucket").agg(
            F.sum("n").alias("n")
        ),
        fake_rows=lambda spark: spark.createDataFrame(
            [(0, 0, 999)], "row int, bucket int, n long"
        ),
    ),
    "histogram": dict(
        protocol="partials",
        run=lambda spark, src, st, ck: U.run_stream_histogram(
            _stream(spark, src), st, ck, "v", 0.0, 13.0, 16
        ),
        read=lambda spark, st: U.read_histogram_state(spark, st),
        reduce_fn=lambda d: d.groupBy("bin").agg(F.sum("cnt").alias("cnt")),
        fake_rows=lambda spark: spark.createDataFrame(
            [(0, 999)], "bin int, cnt long"
        ),
    ),
    "near_dedup": dict(
        protocol="partials",
        run=lambda spark, src, st, ck: U.run_stream_near_dedup(
            _stream(spark, src).select(
                F.col("id").alias("doc_id"), F.col("txt").alias("text")
            ),
            st,
            ck,
            "doc_id",
            "text",
            num_hashes=4,
            bands=2,
            shingle_n=2,
        ),
        read=lambda spark, st: U.read_near_dedup_assignments(
            spark, st, "doc_id"
        ),
        # scenarios B/C run on the assign side of the state root
        partials_subdir="assign",
        reduce_fn=lambda d: d.select("doc_id", "cluster_id").distinct(),
        fake_rows=lambda spark: spark.createDataFrame(
            [(999, 999)], "doc_id long, cluster_id long"
        ),
    ),
    "cusum": dict(
        protocol="carry",
        run=lambda spark, src, st, ck: U.run_stream_cusum(
            _stream(spark, src),
            os.path.join(st, "out"),
            os.path.join(st, "carry"),
            ck,
            key_cols=["k"],
            ts_col="ts",
            value_col="v",
            target=5,
            slack=1,
            threshold=6,
            tiebreak_cols=["id"],
        ),
        read=lambda spark, st: spark.read.parquet(
            os.path.join(st, "out")
        ).select("k", "ts", "v", "id", "cusum", "alarm"),
        carry_subdir="carry",
        carry_schema="k string, __ccum long, __cm long",
    ),
    "interarrival": dict(
        protocol="carry",
        run=lambda spark, src, st, ck: U.run_stream_interarrival(
            _stream(spark, src), os.path.join(st, "carry"), ck, ["k"], "ts"
        ),
        read=lambda spark, st: U.read_interarrival_state(
            spark, os.path.join(st, "carry")
        ),
        carry_subdir="carry",
        carry_schema=(
            "k string, last_us long, n_gaps long, sum_us long, "
            "min_us long, max_us long"
        ),
    ),
    "upsert": dict(
        protocol="table",
        run=lambda spark, src, st, ck: U.run_stream_upsert(
            _stream(spark, src),
            os.path.join(st, "table"),
            ck,
            key_cols=["k"],
            version_col="id",
            partition_col="v",
        ),
        read=lambda spark, st: spark.read.parquet(
            os.path.join(st, "table")
        ).select("k", "ts", "id", "v"),
    ),
    "scd2": dict(
        protocol="table",
        run=lambda spark, src, st, ck: U.run_stream_scd2(
            _stream(spark, src),
            os.path.join(st, "table"),
            ck,
            key_cols=["k"],
            attr_cols=["v"],
            ts_col="ts",
            tiebreak_cols=["id"],
        ),
        read=lambda spark, st: spark.read.parquet(
            os.path.join(st, "table")
        ),
    ),
}


@pytest.mark.parametrize("face", sorted(FACES))
def test_fold_twice_is_identical(spark, tmp_path, face):
    """Scenario A for every face: full fresh-checkpoint replay of all
    batch ids against the same state — read-out value-identical."""
    spec = FACES[face]
    src = _sliced_source(spark, tmp_path)
    st = str(tmp_path / "state")
    spec["run"](spark, src, st, str(tmp_path / "ck1"))
    once = _rows(spec["read"](spark, st))
    assert once, face  # non-trivial state
    spec["run"](spark, src, st, str(tmp_path / "ck2"))
    twice = _rows(spec["read"](spark, st))
    assert twice == once, face


@pytest.mark.parametrize(
    "face", sorted(k for k, v in FACES.items() if v["protocol"] == "partials")
)
def test_crash_mid_compaction_recovers(spark, tmp_path, face):
    """Scenario B for the __b= faces: merged tmp durable + manifest
    written + half the folded partitions already deleted — the next
    reader completes the transaction with identical values."""
    spec = FACES[face]
    src = _sliced_source(spark, tmp_path)
    st = str(tmp_path / "state")
    spec["run"](spark, src, st, str(tmp_path / "ck1"))
    before = _rows(spec["read"](spark, st))

    pdir = os.path.join(st, spec.get("partials_subdir", ""))
    folded = sorted(
        n for n in os.listdir(pdir) if n.startswith("__b=")
    )
    assert len(folded) >= 2, (face, folded)
    watermark = max(int(n.split("=")[1]) for n in folded) + 1
    merged = spec["reduce_fn"](
        spark.read.parquet(*[os.path.join(pdir, n) for n in folded])
    )
    merged.write.parquet(os.path.join(pdir, U._COMPACT_TMP))
    with open(os.path.join(pdir, U._COMPACT_MANIFEST), "w") as fh:
        json.dump({"watermark": watermark, "fold": folded}, fh)
    for n in folded[: len(folded) // 2]:  # the crash deleted some already
        shutil.rmtree(os.path.join(pdir, n))

    after = _rows(spec["read"](spark, st))
    assert after == before, face
    assert U.compacted_below(spark, pdir) == watermark, face
    assert not os.path.exists(os.path.join(pdir, U._COMPACT_MANIFEST))


@pytest.mark.parametrize(
    "face", sorted(k for k, v in FACES.items() if v["protocol"] == "partials")
)
def test_pre_watermark_replay_is_fenced(spark, tmp_path, face):
    """Scenario C for the __b= faces: after compaction, a retry of a
    folded batch id is a no-op — even carrying DIFFERENT rows (the
    strongest form: a crashed attempt's rows were never durable, but a
    pre-watermark id by definition WAS folded, so rewriting it would
    double-count)."""
    spec = FACES[face]
    src = _sliced_source(spark, tmp_path)
    st = str(tmp_path / "state")
    spec["run"](spark, src, st, str(tmp_path / "ck1"))
    pdir = os.path.join(st, spec.get("partials_subdir", ""))
    ids = sorted(
        int(n.split("=")[1])
        for n in os.listdir(pdir)
        if n.startswith("__b=")
    )
    n_folded = U.compact_batch_partials(
        spark, pdir, max(ids) + 1, spec["reduce_fn"]
    )
    assert n_folded == len(ids), face
    before = _rows(spec["read"](spark, st))
    fake = spec.get("fake_rows")
    if fake is None:
        # MAX-register face: fence proven at the storage layer — the
        # partition must not reappear (values are absorbed by MAX)
        U.write_batch_partials(
            spark.read.parquet(os.path.join(pdir, "__b=-1")), pdir, ids[0]
        )
        assert not os.path.exists(os.path.join(pdir, f"__b={ids[0]}"))
    else:
        U.write_batch_partials(fake(spark), pdir, ids[0])
    after = _rows(spec["read"](spark, st))
    assert after == before, face
    assert sorted(
        int(n.split("=")[1])
        for n in os.listdir(pdir)
        if n.startswith("__b=")
    ) == [-1], face


@pytest.mark.parametrize(
    "face", sorted(k for k, v in FACES.items() if v["protocol"] == "carry")
)
def test_stale_uncommitted_carry_is_invisible(spark, tmp_path, face):
    """Scenario B' for the fenced-carry faces: a __c= version from a
    crashed attempt (pointer never flipped) is ignored by readers and
    the committed carry still governs."""
    spec = FACES[face]
    src = _sliced_source(spark, tmp_path)
    st = str(tmp_path / "state")
    spec["run"](spark, src, st, str(tmp_path / "ck1"))
    cdir = os.path.join(st, spec["carry_subdir"])
    committed = U.carry_folded_through(spark, cdir)
    assert committed >= 1, face
    before = _rows(spec["read"](spark, st))
    # crashed attempt: next batch's carry written, pointer not flipped
    spark.createDataFrame([], spec["carry_schema"]).write.parquet(
        os.path.join(cdir, f"__c={committed + 1}")
    )
    assert U.carry_folded_through(spark, cdir) == committed, face
    assert _rows(spec["read"](spark, st)) == before, face
    got = _rows(U.read_current_carry(spark, cdir))
    assert got, face  # the committed (non-empty) carry, not the stale one


def test_carry_fold_lists_state_dir_once_per_batch(
    spark, tmp_path, monkeypatch
):
    """A fenced-carry fold lists its state dir once per micro-batch
    before committing: the fence, the flat-file check and the carry
    read share one listing."""
    lists = []
    at_commit = []

    class CountingFs:
        def __init__(self, fs):
            self._fs = fs

        def listStatus(self, path):
            if path.getName() == "carry":  # not the alarms' out dir
                lists.append(path)
            return self._fs.listStatus(path)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real_fs, real_commit = U._fs, U.commit_carry

    def counting_fs(spark, path_str):
        fs, p, jvm = real_fs(spark, path_str)
        return CountingFs(fs), p, jvm

    def counting_commit(carry, state_dir, batch_id):
        at_commit.append(len(lists))
        real_commit(carry, state_dir, batch_id)
        lists.clear()  # the commit's own GC listing is not the fold's

    monkeypatch.setattr(U, "_fs", counting_fs)
    monkeypatch.setattr(U, "commit_carry", counting_commit)
    src = _sliced_source(spark, tmp_path, n_slices=2)
    FACES["cusum"]["run"](
        spark, src, str(tmp_path / "state"), str(tmp_path / "ck")
    )
    # batch 0 finds no state dir; batch 1 lists the committed one once
    assert at_commit == [0, 1]


def test_conformance_faces_all_mapped():
    """Every q_stream_* conformance face must declare its replay
    mechanism here — engine fold (rows of FACES) or Spark's own
    checkpointed state store. A new face cannot land unmapped."""
    from salesforce_plugin_spark.conformance import QUERIES

    MAPPING = {
        # Spark-checkpoint-managed state (watermark windows,
        # dropDuplicates, applyInPandasWithState): replay safety is the
        # streaming checkpoint's own exactly-once contract
        "q_stream_window": "spark-checkpoint",
        "q_stream_dedup": "spark-checkpoint",
        "q_stream_stateful": "spark-checkpoint",
        "q_stream_join": "spark-checkpoint",
        "q_stream_kmv": "spark-checkpoint",
        # engine folds
        "q_stream_near_dedup": "near_dedup",
        "q_stream_upsert": "upsert",
        "q_stream_scd2": "scd2",
        "q_stream_heavy_hitters": "cm",
        "q_stream_quantiles": "histogram",
        "q_stream_rolling_wau": "active_days",
        "q_stream_user_growth": "active_days",
        "q_stream_cusum": "cusum",
        "q_stream_interarrival": "interarrival",
        "q_stream_hll": "max_registers",
        "q_stream_repeated_spans": "distinct_set",
        "q_stream_kanonymity": "distinct_set",
        "q_stream_class_balance": "additive_counts",
        "q_stream_vocab_coverage": "additive_counts",
        "q_stream_rolling_quantiles": "additive_counts",
        "q_stream_fano": "additive_counts",
        "q_stream_dow": "additive_counts",
        "q_stream_theil_sen": "additive_counts",
        "q_stream_temperature_mix": "additive_counts",
        "q_stream_wilson": "additive_counts",
        "q_stream_abtest": "additive_counts",
        "q_stream_changepoint": "additive_counts",
        "q_stream_benford": "additive_counts",
        "q_stream_autocorr": "additive_counts",
        "q_stream_kneser_ney": "additive_counts",
        "q_stream_itemcf": "additive_counts",
        "q_stream_calibration": "additive_sums",
        "q_stream_zscore": "additive_sums",
        "q_stream_ks": "additive_sums",
        "q_stream_gram_power": "additive_sums",
        "q_stream_distill": "additive_sums",
    }
    registry_faces = {k for k in QUERIES if k.startswith("q_stream_")}
    assert registry_faces == set(MAPPING), (
        registry_faces ^ set(MAPPING)
    )
    engine_faces = {v for v in MAPPING.values() if v != "spark-checkpoint"}
    assert engine_faces <= set(FACES), engine_faces - set(FACES)
    # and the matrix has no dead rows
    assert set(FACES) <= engine_faces | {"upsert", "scd2"}
