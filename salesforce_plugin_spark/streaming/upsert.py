"""Streaming upsert sink: ``foreachBatch`` + dynamic partition overwrite —
the streaming form of the reference's idempotent load posture
(``replace=True`` everywhere: salesforce_to_s3_operator.py:57,223;
``IF NOT EXISTS`` DDL: salesforce_schema_to_redshift_operator.py:115).

Plain file sinks can only append; upsert (latest row per key wins) needs a
read-modify-write per micro-batch. The scalable shape is to rewrite ONLY
the table partitions the batch touches:

1. restrict the existing table to the batch's partition values (semi-join
   → partition pruning at the scan);
2. union with the batch and keep the newest row per key
   (``row_number`` over key, ordered by the version column);
3. rewrite just those partitions (``partitionOverwriteMode=dynamic``).

Cost per batch is O(touched partitions), not O(table) — with a time-based
partition column and mostly-recent updates, that is the small hot tail of
a 100 TB table. The merged frame is localCheckpoint'ed before the write
because Spark (correctly) refuses to overwrite a path it is still reading
lazily.

Exactly-once: the checkpoint makes batch replay idempotent — re-running a
batch re-derives the same merged partitions (last-writer-wins by the
version column is deterministic given unique (key, version) pairs).

Every ``run_stream_*`` face drains its stream through :func:`_drain`
and folds each micro-batch in one of three state shapes:

- per-batch ``__b=`` partials (cm, histogram, additive counts/sums,
  MAX registers, distinct sets, active days, near-dedup): each batch
  overwrites its own partition; one ``_*_reducer`` per face is the
  merge its fold's auto-compaction, its ``compact_*`` wrapper and its
  ``read_*`` reader all apply (:func:`_partials_fold`,
  :func:`_read_merged`);
- a fenced ``__c=`` carry (CUSUM, inter-arrival): one row per key,
  rewritten per batch behind an immutable commit marker
  (:func:`_carry_fold`, :func:`commit_carry`);
- a read-modify-write table (upsert, SCD2): the batch merges into
  the table read by :func:`_read_existing`, whose ``None`` is the
  first batch and nothing else.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Window

# --- __b=<batch_id> partitioned-state housekeeping ---------------------
#
# The per-batch-partition layout (write_batch_partials) makes additive
# folds at-least-once-safe, but a long-lived stream accumulates one Hive
# partition per micro-batch: state reads degrade to a many-small-files
# listing problem at 10^4-10^5 batches (the classic small-files failure
# at the 100 TB posture). compact_batch_partials folds every partition
# below a batch-id WATERMARK into one base partition __b=-1, via a
# manifest-logged protocol so a crash at any step recovers without
# double-counting; the durable watermark makes a replay of a
# pre-watermark batch id a NO-OP in write_batch_partials (its rows are
# already inside the base). All filesystem mutation goes through the
# Hadoop FileSystem API so the same code runs on HDFS/local; the
# rename step is atomic on HDFS and local FS — on S3 use a
# rename-atomic layer (HBOSS/S3Guard successor) or a table format for
# this state dir, as with any rename-based commit protocol.

_COMPACT_MANIFEST = "_compact_manifest.json"   # durable intent record
_COMPACT_WATERMARK = "_compacted_below.json"   # durable replay fence
_COMPACT_TMP = ".compact_tmp"                  # hidden from scans ('.')
_CARRY_MARKER = "_CARRY_COMMITTED"             # per-version commit marker

_legacy_checked: set[str] = set()


def _fs(spark, path_str: str):
    """(Hadoop FileSystem, Path, jvm) for a path string — the
    FS-portable seam every state mutation below goes through."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p, jvm


def _write_json(spark, path_str: str, payload: dict) -> None:
    fs, p, _ = _fs(spark, path_str)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()


def _read_json(spark, path_str: str):
    fs, p, jvm = _fs(spark, path_str)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        txt = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(txt)


def compacted_below(spark, state_dir: str) -> int:
    """The durable replay fence: every batch id below this has been
    folded into the ``__b=-1`` base partition (0 when never
    compacted — Spark batch ids are ≥ 0, so nothing is fenced)."""
    meta = _read_json(spark, os.path.join(state_dir, _COMPACT_WATERMARK))
    return int(meta["compacted_below"]) if meta else 0


def _recover_compaction(spark, state_dir: str) -> None:
    """Complete a compaction the process died inside of. The manifest
    is written only AFTER the merged tmp parquet is fully on disk, so
    its presence means the fold result is durable and the remaining
    steps (delete folded partitions, rename tmp → base, persist
    watermark, drop manifest) are each idempotent — re-running them
    in order finishes the transaction no matter where it stopped."""
    manifest_path = os.path.join(state_dir, _COMPACT_MANIFEST)
    manifest = _read_json(spark, manifest_path)
    if manifest is None:
        return
    fs, _, jvm = _fs(spark, state_dir)
    hp = jvm.org.apache.hadoop.fs.Path
    for name in manifest["fold"]:
        fs.delete(hp(os.path.join(state_dir, name)), True)
    tmp = hp(os.path.join(state_dir, _COMPACT_TMP))
    if fs.exists(tmp):
        fs.rename(tmp, hp(os.path.join(state_dir, "__b=-1")))
    _write_json(
        spark,
        os.path.join(state_dir, _COMPACT_WATERMARK),
        {"compacted_below": int(manifest["watermark"])},
    )
    fs.delete(hp(manifest_path), False)


def _assert_no_legacy_flat_files(spark, state_dir: str) -> None:
    """Pre-partition-layout state dirs hold flat appended parquet
    files at the top level; mixing them with ``__b=`` partition dirs
    makes spark.read.parquet mis-discover the partitioning. Fail
    loudly with the migration step instead (checked once per dir per
    process — underscore/dot names are Spark-invisible and fine)."""
    if state_dir in _legacy_checked:
        return
    fs, root, _ = _fs(spark, state_dir)
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if st.isFile() and not name.startswith(("_", ".")):
                raise ValueError(
                    f"state_dir {state_dir!r} holds flat parquet files "
                    f"(e.g. {name!r}) from the pre-partitioned append "
                    "layout; the __b=<batch_id> layout cannot coexist "
                    "with them. Migrate once: read the old state, write "
                    "it as the base partition (__b=-1) in a fresh dir, "
                    "and point the stream there — see MIGRATION.md."
                )
    _legacy_checked.add(state_dir)


def write_batch_partials(df: DataFrame, state_dir: str, batch_id: int) -> None:
    """Idempotent per-batch state write for the partial-state stream
    faces: each micro-batch's partials land in their own Hive
    partition ``state_dir/__b=<batch_id>/`` with OVERWRITE, so a
    ``foreachBatch`` retry of the same batch id rewrites the identical
    slice instead of appending a duplicate — converting the additive
    folds from exactly-once-only to at-least-once-safe (the same
    guarantee the MAX-register face gets from idempotent merge). The
    readers (`read_summed_counts` / `read_summed_sums` /
    `read_max_registers`) group by their own columns, so the extra
    discovered ``__b`` partition column is invisible to them.

    Replay fence: a batch id below the compaction watermark
    (:func:`compact_batch_partials`) is a NO-OP — its rows were folded
    into the ``__b=-1`` base, so rewriting its partition would
    double-count. An interrupted compaction is completed first."""
    spark = df.sparkSession
    _recover_compaction(spark, state_dir)
    if int(batch_id) < compacted_below(spark, state_dir):
        return
    _assert_no_legacy_flat_files(spark, state_dir)
    df.write.mode("overwrite").parquet(
        os.path.join(state_dir, f"__b={int(batch_id)}")
    )


def compact_batch_partials(
    spark, state_dir: str, watermark: int, reduce_fn
) -> int:
    """Fold every ``__b=<id>`` partition with id < ``watermark``
    (including the current ``__b=-1`` base) into ONE re-reduced base
    partition, so state reads stay O(groups), not O(batches). Returns
    the number of partitions folded (0 = nothing to do).

    ``reduce_fn(df) -> df`` must reduce stacked partial rows to the
    same schema (sum for counts/sums, max for HLL registers — use the
    ``compact_summed_counts`` / ``compact_summed_sums`` /
    ``compact_max_registers`` wrappers). ``watermark`` must not exceed
    the stream's last COMMITTED batch id + 1: an in-flight batch can
    still be retried, and folding it would fence a retry carrying
    rows the crashed attempt never durably wrote.

    Crash safety (the write-ahead order): (1) merged base is written
    to a dot-hidden tmp dir; (2) a manifest records the watermark and
    the exact partitions to drop — only after the tmp write returns;
    (3) folded partitions are deleted; (4) tmp renames to ``__b=-1``;
    (5) the watermark persists and the manifest drops. A crash before
    (2) leaves state untouched; from (2) on,
    :func:`_recover_compaction` — run by every writer/reader — replays
    (3)-(5), each idempotent. Readers between crash and recovery see
    the manifest too, so no reader ever sums a half-deleted layout."""
    _recover_compaction(spark, state_dir)
    fs, root, jvm = _fs(spark, state_dir)
    hp = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(root):
        return 0
    fold = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("__b="):
            if int(name[len("__b="):]) < int(watermark):
                fold.append(name)
    if not fold or fold == ["__b=-1"]:
        return 0
    merged = reduce_fn(
        spark.read.parquet(*[os.path.join(state_dir, n) for n in fold])
    )
    tmp = os.path.join(state_dir, _COMPACT_TMP)
    # the tmp write MATERIALIZES the fold before any source deletion
    merged.write.mode("overwrite").parquet(tmp)
    _write_json(
        spark,
        os.path.join(state_dir, _COMPACT_MANIFEST),
        {"watermark": int(watermark), "fold": sorted(fold)},
    )
    for name in fold:
        fs.delete(hp(os.path.join(state_dir, name)), True)
    fs.rename(hp(tmp), hp(os.path.join(state_dir, "__b=-1")))
    _write_json(
        spark,
        os.path.join(state_dir, _COMPACT_WATERMARK),
        {"compacted_below": int(watermark)},
    )
    fs.delete(hp(os.path.join(state_dir, _COMPACT_MANIFEST)), False)
    return len(fold)


def _counts_reducer(group_cols: list[str]):
    """The additive-count merge — ONE definition shared by the read
    path, the manual compact wrapper, and the fold loop's auto-compact
    (twin lambdas would drift apart)."""
    return lambda df: df.groupBy(*group_cols).agg(
        F.sum("n").cast("long").alias("n")
    )


def _sums_reducer(group_cols: list[str], sum_cols: list[str]):
    return lambda df: df.groupBy(*group_cols).agg(
        F.sum("n").cast("long").alias("n"),
        *[F.sum(f"sum_{c}").cast("long").alias(f"sum_{c}") for c in sum_cols],
    )


def _max_registers_reducer(group_cols: list[str]):
    return lambda df: df.groupBy(*group_cols, "bucket").agg(
        F.max("m_j").alias("m_j")
    )


def _cm_reducer():
    return lambda df: df.groupBy("row", "bucket").agg(F.sum("n").alias("n"))


def _histogram_reducer():
    return lambda df: df.groupBy("bin").agg(F.sum("cnt").alias("cnt"))


def _distinct_reducer(cols: list[str]):
    return lambda df: df.select(*cols).distinct()


def compact_summed_counts(
    spark, state_dir: str, watermark: int, group_cols: list[str]
) -> int:
    """:func:`compact_batch_partials` with the additive-count reduce
    (same merge :func:`read_summed_counts` applies at read time)."""
    return compact_batch_partials(
        spark, state_dir, watermark, _counts_reducer(group_cols)
    )


def compact_summed_sums(
    spark,
    state_dir: str,
    watermark: int,
    group_cols: list[str],
    sum_cols: list[str],
) -> int:
    """:func:`compact_batch_partials` with the additive-sums reduce
    (same merge :func:`read_summed_sums` applies at read time)."""
    return compact_batch_partials(
        spark, state_dir, watermark, _sums_reducer(group_cols, sum_cols)
    )


def compact_max_registers(
    spark, state_dir: str, watermark: int, group_cols: list[str]
) -> int:
    """:func:`compact_batch_partials` with the MAX-register merge
    (same merge :func:`read_max_registers` applies at read time)."""
    return compact_batch_partials(
        spark, state_dir, watermark, _max_registers_reducer(group_cols)
    )


def _maybe_auto_compact(spark, state_dir, batch_id, every, reduce_fn):
    """Every-N-batches auto-compaction hook for the fold loops: when
    ``batch_id`` crosses a multiple of ``every``, fold all partitions
    BELOW it into the base (watermark = batch_id, never beyond — the
    current batch is still in flight and a retry of it must stay
    unfenced/overwrite-idempotent, per compact_batch_partials'
    contract). Keeps a long-lived stream's partition count ≤ every+1
    without a caller-side maintenance job; ``every=None``/0 disables.
    Idempotent under replay: a retried trigger batch re-runs the same
    compaction, which finds nothing left to fold."""
    if every and int(batch_id) > 0 and int(batch_id) % int(every) == 0:
        compact_batch_partials(spark, state_dir, int(batch_id), reduce_fn)


def _partials_fold(state_dir: str, partials, reduce_fn, every):
    """The ``foreachBatch`` fold of a ``__b=`` face: write
    ``partials(batch)`` as the batch's own partition
    (:func:`write_batch_partials`), then auto-compact with the face's
    merge ``reduce_fn`` (:func:`_maybe_auto_compact`)."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        write_batch_partials(partials(batch), state_dir, batch_id)
        _maybe_auto_compact(
            batch.sparkSession, state_dir, batch_id, every, reduce_fn
        )

    return fold


def _read_merged(spark, state_dir: str, reduce_fn) -> DataFrame:
    """A ``__b=`` face's current state: every partition merged by the
    face's ``reduce_fn`` (the reducer's grouping columns project the
    discovered ``__b`` column away). An interrupted compaction is
    completed first, so the merge never sees a half-deleted layout."""
    _recover_compaction(spark, state_dir)
    return reduce_fn(spark.read.parquet(state_dir))


# --- fenced-carry protocol (order-dependent one-row-per-key state) -----
#
# The additive/SET folds above are safe under replay because each batch
# OWNS a state slice (its ``__b=`` partition). The CUSUM and
# inter-arrival faces cannot use that layout: their state is a single
# carry row per key that every batch REWRITES, so a ``foreachBatch``
# retry after a crash between the carry overwrite and the streaming
# checkpoint commit would fold the same batch into an
# already-advanced carry — double-counting. The fix is a versioned
# carry with an IMMUTABLE per-version commit marker as the replay
# fence (no mutable pointer file anywhere: a truncate-in-place
# pointer update has a crash window that destroys the fence; an
# existence-only marker has no partial state, it is either there or
# not):
#
#   1. fold reads the fence (max ``__c=<id>`` dir holding a
#      ``_CARRY_COMMITTED`` marker); a batch id ≤ fence is a NO-OP
#      (its outputs and carry are already durable);
#   2. the new carry is written to its own ``__c=<batch_id>`` dir
#      (overwrite — a retry rewrites the identical content, because
#      the fold is a deterministic function of (committed carry,
#      replayed batch));
#   3. an empty ``_CARRY_COMMITTED`` file is created inside the new
#      version dir (the commit point);
#   4. older ``__c=`` versions are garbage-collected.
#
# A crash at any step leaves either the old fence (replay recomputes
# from the old carry and overwrites steps 2-4 idempotently — a
# version dir without its marker is invisible) or the new fence
# (replay is fenced at step 1). Any per-batch OUTPUT rows (e.g.
# CUSUM alarms) must be written via :func:`write_batch_partials`
# BEFORE step 3, so a fenced replay can skip without losing them.


def _scan_carry(spark, state_dir: str) -> tuple[int, str | None]:
    """One listing of a carry state dir: (the fence, the first flat
    top-level data file or None). The fence is the highest ``__c=<id>``
    dir holding a ``_CARRY_COMMITTED`` marker (−1 = never)."""
    fs, root, jvm = _fs(spark, state_dir)
    if not fs.exists(root):
        return -1, None
    hp = jvm.org.apache.hadoop.fs.Path
    flat = None
    cids = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("__c="):
            cids.append(int(name[len("__c="):]))
        elif st.isFile() and flat is None and not name.startswith(("_", ".")):
            flat = name
    for cid in sorted(cids, reverse=True):
        if fs.exists(hp(os.path.join(state_dir, f"__c={cid}", _CARRY_MARKER))):
            return cid, flat
    return -1, flat


def _carry_fence(spark, state_dir: str) -> int:
    """The fence from one listing; flat top-level files raise (see
    :func:`read_current_carry`)."""
    fence, flat = _scan_carry(spark, state_dir)
    if flat is not None:
        raise ValueError(
            f"carry state_dir {state_dir!r} holds flat files "
            f"(e.g. {flat!r}) from the pre-fence overwrite "
            "layout (or is corrupt); the __c=<batch_id> layout "
            "cannot coexist with them. Migrate once: read the "
            "old carry, commit_carry(df, new_dir, last_batch_id) "
            "into a fresh dir — see MIGRATION.md."
        )
    return fence


def _read_carry(spark, state_dir: str, fence: int) -> DataFrame | None:
    if fence < 0:
        return None
    return spark.read.parquet(os.path.join(state_dir, f"__c={fence}"))


def carry_folded_through(spark, state_dir: str) -> int:
    """The durable fence: the highest batch id whose ``__c=<id>``
    version dir holds a ``_CARRY_COMMITTED`` marker (−1 = never).
    Marker-based, not pointer-based: commitment is the existence of
    an immutable file, so no crash can leave a half-written fence."""
    return _scan_carry(spark, state_dir)[0]


def read_current_carry(spark, state_dir: str) -> DataFrame | None:
    """The last COMMITTED carry (None before the first commit). A
    state dir holding flat top-level files — the pre-fence overwrite
    layout, or corruption — raises with the migration step instead of
    silently reinitializing (discarding state)."""
    return _read_carry(spark, state_dir, _carry_fence(spark, state_dir))


def commit_carry(carry: DataFrame, state_dir: str, batch_id: int) -> None:
    """Commit a fold's new carry: write ``__c=<batch_id>`` (overwrite,
    retry-idempotent), create its empty ``_CARRY_COMMITTED`` marker
    (the commit point — an immutable existence-only file, so there is
    no half-written fence state at any crash point), GC OLDER
    versions. The caller must have written any per-batch output rows
    first — once the marker exists, a replay of this batch id is a
    no-op. Markers start with ``_`` so Spark's parquet reader ignores
    them inside the version dir."""
    spark = carry.sparkSession
    vdir = os.path.join(state_dir, f"__c={int(batch_id)}")
    carry.write.mode("overwrite").parquet(vdir)
    fs, root, jvm = _fs(spark, state_dir)
    hp = jvm.org.apache.hadoop.fs.Path
    fs.create(hp(os.path.join(vdir, _CARRY_MARKER)), True).close()
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if (
            st.isDirectory()
            and name.startswith("__c=")
            and int(name[len("__c="):]) < int(batch_id)
        ):
            fs.delete(hp(os.path.join(state_dir, name)), True)


def _carry_fold(state_dir: str, step):
    """The ``foreachBatch`` fold of a fenced-carry face: skip an empty
    batch, skip a replay at or below the fence (its outputs and carry
    are already durable), otherwise call ``step(batch, batch_id,
    carry)`` with the last committed carry (None before the first
    commit). The state dir is listed once per batch; a corrupt/legacy
    state dir raises, replayed batches included, never reinitializes."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        spark = batch.sparkSession
        fence = _carry_fence(spark, state_dir)
        if int(batch_id) <= fence:
            return
        step(batch, batch_id, _read_carry(spark, state_dir, fence))

    return fold


def _assert_batches_in_order(
    batch: DataFrame,
    carry_last_ts: DataFrame,
    key_cols: list[str],
    ts_us,
    batch_id: int,
    face: str,
) -> None:
    """Runtime check of the order-dependent folds' precondition:
    every row of the batch must carry a timestamp ≥ its key's
    last-FOLDED timestamp (``carry_last_ts``: key cols + a single
    ``__cts`` BIGINT column, microseconds; NULL = unknown/legacy —
    skipped). This must be an ERROR and not a silent fold: an
    out-of-order batch produces rows/schema-matching but value-wrong
    output (hash mismatch) that nothing downstream can detect. The
    probe is one inner join on the per-key batch minimum against the
    one-row-per-key carry — O(batch + keys) — and collects at most ONE
    violating row."""
    viol = (
        batch.groupBy(*key_cols)
        .agg(F.min(ts_us).alias("__bmin"))
        .join(carry_last_ts, key_cols, "inner")
        .filter(F.col("__cts").isNotNull() & (F.col("__bmin") < F.col("__cts")))
        .limit(1)
        .collect()
    )
    if viol:
        r = viol[0].asDict()
        key = {c: r[c] for c in key_cols}
        raise ValueError(
            f"{face}: batch {int(batch_id)} violates the per-key "
            f"observation order precondition — key {key} holds a row at "
            f"{r['__bmin']} us, older than its last folded timestamp "
            f"{r['__cts']} us. Out-of-order micro-batches cannot be "
            "folded through a forward-only carry; fix the source's "
            "file/offset ordering (ascending mtimes, per-key partition "
            "order) or rebuild this key's state from the full feed."
        )


def _assert_integral_sum_cols(df: DataFrame, sum_cols: list[str]) -> None:
    """The additive-sum fold's exactness contract is BIGINT addition;
    a double column would be silently truncated row-by-row by the
    ``cast("long")`` before summing. Fail loudly instead."""
    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DecimalType,
        IntegerType,
        LongType,
        ShortType,
    )

    for c in sum_cols:
        dt = df.schema[c].dataType
        ok = isinstance(
            dt, (BooleanType, ByteType, ShortType, IntegerType, LongType)
        ) or (isinstance(dt, DecimalType) and dt.scale == 0)
        if not ok:
            raise TypeError(
                f"run_stream_additive_sums: column {c!r} has non-integral "
                f"type {dt.simpleString()}; the exact BIGINT fold would "
                "silently truncate it — quantize to an integer column "
                "(or decimal scale 0) in `prepare` first"
            )


def _read_existing(spark, path: str) -> DataFrame | None:
    """The parquet state at ``path``, or None when it does not exist yet
    (the first batch). Only the read is guarded: any OTHER failure
    (a corrupt file, a schema the merge cannot resolve) must raise —
    treating it as a first batch would overwrite durable state with
    batch-only rows."""
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def _drain(stream: DataFrame, checkpoint: str, fold):
    """Run ``fold(batch, batch_id)`` over every micro-batch available
    now, under ``checkpoint``; returns the finished StreamingQuery (a
    fold's exception surfaces from ``awaitTermination``)."""
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def upsert_batch(
    table_path: str,
    batch: DataFrame,
    key_cols: list[str],
    version_col: str,
    partition_col: str,
) -> None:
    """Merge one (batch) DataFrame into the parquet table at ``table_path``,
    keeping the highest-``version_col`` row per key, rewriting only the
    partitions present in the batch."""
    current = _read_existing(batch.sparkSession, table_path)
    merged = batch
    if current is not None:
        touched = batch.select(partition_col).distinct()
        merged = current.join(touched, partition_col, "left_semi").unionByName(
            batch
        )
    w = Window.partitionBy(*key_cols).orderBy(F.col(version_col).desc())
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # materialize before overwriting the path we just read
    latest = latest.localCheckpoint(eager=True)
    # a writer option, unlike the session conf, does not reach other threads
    writer = latest.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    writer.partitionBy(partition_col).parquet(table_path)


def run_stream_upsert(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    key_cols: list[str],
    version_col: str,
    partition_col: str,
):
    """Drain available input through the upsert sink (availableNow); returns
    the finished StreamingQuery. The result parquet at ``table_path`` holds
    exactly one row per key — the newest by ``version_col``."""
    return _drain(
        stream,
        checkpoint,
        lambda b, _id: upsert_batch(
            table_path, b, key_cols, version_col, partition_col
        ),
    )


def run_stream_scd2(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
):
    """Maintain an SCD Type-2 dimension from a change-feed stream: each
    micro-batch folds into the interval table via
    :func:`~salesforce_plugin_spark.operators.scd.scd2_apply_changes`
    (first batch builds it from scratch). The streamed history is
    row-identical to a from-scratch batch rebuild over the same rows —
    the q_stream_scd2 gate checks exactly that equivalence against the
    full-feed SQL oracle.

    Ordering contract (inherited from scd2_apply_changes): micro-batches
    must arrive per-key in observation order — true of any time-ordered
    ingest (file mtime order, Kafka per-key partition order). Late rows
    that time-travel before a key's loaded history need a source-feed
    reprocess, exactly as in the batch incremental path. CHECKED at
    runtime: the stored table compresses non-change observations
    away, so its per-key max ts is the last CHANGE, not the last
    OBSERVATION, and a legitimate replay of a batch whose key had a
    change followed by later non-change rows looks like a frontier
    straddle. Raising on the straddle alone would wedge legal replays
    permanently (every redelivery re-raises). The guard raises only
    when a straddling slice's re-collapse actually CHANGES the key's
    stored history — an identical re-collapse is exactly the
    documented idempotent-replay case and is absorbed; a differing
    one is out-of-order ingest and errors. A slice entirely in the past
    is absorbed without even the compare — this fold has no batch-id
    fence, so checkpointless re-folds of old batches are legal and
    must stay no-ops.

    State lives in the parquet table at ``table_path``; each batch reads
    the AFFECTED keys' change rows, re-collapses them with the batch, and
    rewrites the table (read-modify-write through a localCheckpoint so
    the path can be overwritten). Per-batch cost is O(batch + affected
    keys' history) compute; the rewrite is O(table) here — partition the
    table by a key bucket and rewrite only touched buckets (the
    :func:`upsert_batch` layout) when the dimension itself is large.
    """
    from salesforce_plugin_spark.operators.scd import (
        scd2_apply_changes,
        scd2_intervals,
    )

    def fold(batch: DataFrame, _id: int) -> None:
        current = _read_existing(batch.sparkSession, table_path)
        if current is not None:
            us = F.unix_micros(F.col(ts_col))
            # Order guard: the stored frontier is the last CHANGE ts
            # (non-change observations are compressed away), so a
            # frontier straddle alone does not prove out-of-order
            # ingest — a legal replay of a change-then-nonchange batch
            # straddles too, and raising unconditionally would wedge
            # such replays forever. Probe for straddling keys first
            # (O(batch + keys), one row); only if any exist, compare
            # their re-collapsed history against the stored one and
            # raise only on an ACTUAL difference. An entirely-past
            # slice is absorbed without the compare (idempotent replay).
            frontier = current.groupBy(*key_cols).agg(
                F.max(us).alias("__cts")
            )
            strad = (
                batch.groupBy(*key_cols)
                .agg(F.min(us).alias("__bmin"), F.max(us).alias("__bmax"))
                .join(frontier, key_cols, "inner")
                .filter(
                    (F.col("__bmin") < F.col("__cts"))
                    & (F.col("__bmax") > F.col("__cts"))
                )
                .select(*key_cols)
            )
            has_straddle = bool(strad.limit(1).collect())
            merged = scd2_apply_changes(
                current, batch, key_cols, attr_cols, ts_col, tiebreak_cols
            )
            if has_straddle:
                cols = list(current.columns)
                cur_s = current.join(strad, key_cols, "left_semi").select(
                    *cols
                )
                mrg_s = merged.join(strad, key_cols, "left_semi").select(
                    *cols
                )
                diff = (
                    mrg_s.exceptAll(cur_s)
                    .unionByName(cur_s.exceptAll(mrg_s))
                    .limit(3)
                    .collect()
                )
                if diff:
                    sample = [r.asDict() for r in diff]
                    raise ValueError(
                        f"run_stream_scd2: batch {int(_id)} straddles "
                        "the loaded SCD2 frontier AND its re-collapse "
                        "changes the stored history — out-of-order "
                        "ingest, not a replay (an identical re-collapse "
                        "would have been absorbed idempotently). First "
                        f"differing interval rows: {sample}. Reprocess "
                        "the affected keys from the full source feed "
                        "(see scd2_apply_changes' contract)."
                    )
        else:
            merged = scd2_intervals(
                batch, key_cols, attr_cols, ts_col, tiebreak_cols
            )
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            table_path
        )

    return _drain(stream, checkpoint, fold)


def run_stream_near_dedup(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
    auto_compact_every: int | None = 64,
):
    """Streaming near-dedup: each micro-batch of documents gets its
    MinHash/LSH cluster assignment against the corpus streamed SO FAR —
    the continuous-ingest face of
    :func:`~salesforce_plugin_spark.functions.dedup.near_dedup_apply`
    (same equivalence: with per-batch append-only ids the accumulated
    assignments are row-identical to a from-scratch run over everything,
    which is what the q_stream_near_dedup gate checks).

    State under ``state_dir``: ``bands/`` — the corpus (id, band, bucket)
    table; ``assign/`` — the accumulated (id, cluster_id) assignments.
    Both are per-batch ``__b=<id>`` partitions, like the rest of the
    fold family: a foreachBatch retry OVERWRITES its own slice
    instead of appending a duplicate, and a replayed batch
    recomputes the same assignment — the lazily-read corpus may already
    contain the crashed attempt's band rows, but band rows are a SET and
    every reduction over them is a MIN, so duplicates cannot change any
    bucket minimum; prior batches' assignments are immutable under the
    append-only-id contract either way. Pre-watermark replays are fenced
    to no-ops. Compact both sides with
    :func:`compact_distinct_set` (band and assignment rows are sets).
    Read assignments with :func:`read_near_dedup_assignments`. Per-batch
    cost is the batch's minhash pipeline plus a touched-bucket semi-join
    into the bands table — never a corpus rescan.
    """
    from salesforce_plugin_spark.functions.dedup import (
        minhash_signatures_portable,
        near_dedup_apply,
        near_dedup_clusters_portable,
        portable_bands,
    )

    bands_path = os.path.join(state_dir, "bands")
    assign_path = os.path.join(state_dir, "assign")

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # complete any interrupted compaction BEFORE the corpus read:
        # a crash between the compaction manifest write and the
        # tmp -> __b=-1 rename leaves a torn layout that the raw read
        # below would otherwise see as a corpus missing band rows
        # (wrong cluster assignments, durably written)
        _recover_compaction(spark, bands_path)
        _recover_compaction(spark, assign_path)
        batch_local = batch.localCheckpoint(eager=True)
        new_bands = portable_bands(
            minhash_signatures_portable(
                batch_local, id_col, text_col, num_hashes, shingle_n
            ),
            id_col,
            num_hashes,
            bands,
        )
        corpus = _read_existing(spark, bands_path)
        if corpus is not None:
            assigned, new_bands = near_dedup_apply(
                corpus.select(id_col, "band", "bucket"), batch_local,
                id_col, text_col, num_hashes, bands, shingle_n,
            )
        else:
            assigned = near_dedup_clusters_portable(
                batch_local, id_col, text_col, num_hashes, bands, shingle_n
            )
        # materialize the assignment BEFORE writing the batch's bands:
        # it reads the pre-write bands table lazily (on a replay the
        # corpus may already hold this batch's bands — harmless, every
        # reduction over band rows is a MIN and duplicates can't change
        # a bucket minimum, but the clean-run order stays deterministic)
        write_batch_partials(
            assigned.localCheckpoint(eager=True), assign_path, batch_id
        )
        write_batch_partials(new_bands, bands_path, batch_id)
        _maybe_auto_compact(
            spark, assign_path, batch_id, auto_compact_every,
            _distinct_reducer([id_col, "cluster_id"]),
        )
        _maybe_auto_compact(
            spark, bands_path, batch_id, auto_compact_every,
            _distinct_reducer([id_col, "band", "bucket"]),
        )

    return _drain(stream, checkpoint, fold)


def read_near_dedup_assignments(spark, state_dir: str, id_col: str):
    """The accumulated (id, cluster_id) assignments from
    :func:`run_stream_near_dedup`'s state (projects away the ``__b``
    partition column; completes any interrupted compaction first).
    Distinct: a fenced replay can never duplicate a row, but a reader
    must not depend on that invariant for correctness."""
    return _read_merged(
        spark,
        os.path.join(state_dir, "assign"),
        _distinct_reducer([id_col, "cluster_id"]),
    )


def run_stream_cm(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    value_col: str,
    width: int = 256,
    depth: int = 4,
    auto_compact_every: int | None = 64,
):
    """Streaming count-min maintenance: each micro-batch's sketch grid
    lands in its own ``__b=<batch_id>`` partition under ``state_dir``
    (:func:`write_batch_partials`: a ``foreachBatch`` retry
    OVERWRITES its own slice instead of appending a duplicate grid the
    reader's sum would double-count);
    because a count-min sketch is purely additive (union of sketches =
    element-wise sum of grids), the summed accumulated state is
    bit-identical to one batch sketch over everything streamed so far —
    the equivalence q_stream_heavy_hitters gates. Per-batch cost is one
    depth×width-bounded aggregate; state grows by ≤ depth·width rows
    per batch, auto-compacted every ``auto_compact_every`` batches
    (None/0 disables; :func:`compact_cm_state` for manual runs). Read
    the current grid with :func:`read_cm_state`.
    """
    from salesforce_plugin_spark.functions.sketch import cm_sketch

    fold = _partials_fold(
        state_dir,
        lambda b: cm_sketch(b, value_col, width=width, depth=depth),
        _cm_reducer(),
        auto_compact_every,
    )
    return _drain(stream, checkpoint, fold)


def read_cm_state(spark, state_dir: str) -> DataFrame:
    """Sum the accumulated per-batch count-min grids into the current
    sketch — ≤ depth·width rows out, partial-combined map-side.
    Completes any interrupted compaction first."""
    return _read_merged(spark, state_dir, _cm_reducer())


def compact_cm_state(spark, state_dir: str, watermark: int) -> int:
    """:func:`compact_batch_partials` with the count-min grid's
    element-wise-sum reduce (the merge :func:`read_cm_state` applies
    at read time)."""
    return compact_batch_partials(
        spark, state_dir, watermark, _cm_reducer()
    )


def run_stream_histogram(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 1024,
    auto_compact_every: int | None = 64,
):
    """Streaming quantile-sketch maintenance: each micro-batch's bounded
    histogram lands in its own ``__b=<batch_id>`` partition
    (:func:`write_batch_partials`: a ``foreachBatch`` retry
    overwrites its own slice instead of appending a duplicate the
    reader's sum would double-count);
    histograms are purely additive (union = element-wise sum), so the
    summed state is bit-identical to one batch histogram over
    everything streamed — the equivalence q_stream_quantiles gates
    against the batch oracle. Per-batch cost: one ≤ n_bins-row
    aggregate; state grows ≤ n_bins rows per batch, auto-compacted
    every ``auto_compact_every`` batches (None/0 disables;
    :func:`compact_histogram_state` for manual runs). Read with
    :func:`read_histogram_state`, elect quantiles with
    ``sketch.quantiles_from_counts``."""
    from salesforce_plugin_spark.functions.sketch import histogram_counts

    fold = _partials_fold(
        state_dir,
        lambda b: histogram_counts(b, value_col, lo, hi, n_bins),
        _histogram_reducer(),
        auto_compact_every,
    )
    return _drain(stream, checkpoint, fold)


def read_histogram_state(spark, state_dir: str) -> DataFrame:
    """Sum the accumulated per-batch histograms into the current
    sketch — ≤ n_bins rows out, partial-combined map-side. Completes
    any interrupted compaction first."""
    return _read_merged(spark, state_dir, _histogram_reducer())


def compact_histogram_state(spark, state_dir: str, watermark: int) -> int:
    """:func:`compact_batch_partials` with the histogram's bin-wise-sum
    reduce (the merge :func:`read_histogram_state` applies at read
    time)."""
    return compact_batch_partials(
        spark, state_dir, watermark, _histogram_reducer()
    )


def run_stream_cusum(
    stream,
    out_dir: str,
    state_dir: str,
    checkpoint: str,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    target: int,
    slack: int,
    threshold: int,
    tiebreak_cols: list[str] | None = None,
):
    """Streaming CUSUM maintenance — the stream face of
    ``timeseries.cusum_alarms`` (the q_stream_scd2 / run_stream_cm
    discipline: accumulated streamed output must equal the one-shot
    batch run, which is exactly what its gate proves). The per-key
    carry is just TWO BIGINTs — the last prefix sum ``cum`` and the
    clamped running minimum ``M = min(0, min cums so far)`` — because
    ``S_t = cum_t − M_t`` makes every row of a new batch a pure
    function of (carry, batch prefix): ``cum = carry_cum + local_cum``,
    ``M = min(carry_m, carry_cum + local_prefix_min)``. State is one
    row per key regardless of stream length.

    REQUIRES batches in per-key observation order (time-sliced files
    with ascending mtimes, the SCD2 stream contract — an out-of-order
    row would need a rebuild from its timestamp forward). The
    precondition is CHECKED — the carry stores each key's
    last-folded timestamp (``__cts``, microseconds) and a batch
    holding an older row RAISES instead of silently folding wrong
    CUSUM values (a hash mismatch nothing downstream detects). Keys
    absent from a batch keep their carry unchanged (a plain left join
    would drop them, restarting their CUSUM at the key's next
    appearance). A carry without ``__cts`` (the earlier two-column
    layout) keeps folding (guard skipped until the first commit
    upgrades the schema in place).

    Replay safety: the carry goes through the fenced-carry
    protocol (:func:`commit_carry`) — a ``foreachBatch`` retry of an
    already-committed batch id is a no-op instead of folding the batch
    into an already-advanced carry (double-count); a retry of an
    UNcommitted batch recomputes deterministically from the committed
    carry and overwrites its own outputs. Alarm rows land in per-batch
    ``__b=<batch_id>`` partitions under ``out_dir``
    (:func:`write_batch_partials`, written BEFORE the carry commits),
    so a retry overwrites its own alarm slice instead of appending
    duplicates.
    """
    tiebreaks = tiebreak_cols or []

    def step(batch, batch_id: int, carry) -> None:
        order = [F.col(ts_col), F.col(value_col)] + [
            F.col(c) for c in tiebreaks
        ]
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        dev = F.col(value_col).cast("long") - F.lit(target) - F.lit(slack)
        local = batch.select(
            *key_cols,
            F.col(ts_col),
            F.col(value_col),
            *[F.col(c) for c in tiebreaks],
            F.sum(dev).over(w).alias("__lc"),
        ).withColumn("__lm", F.min("__lc").over(w))
        if carry is None:  # first batch
            carry = batch.sparkSession.createDataFrame(
                [],
                local.select(*key_cols)
                .schema.add("__ccum", "long")
                .add("__cm", "long")
                .add("__cts", "long"),
            )
        elif "__cts" not in carry.columns:  # two-column carry: last-folded
            # ts unknown — guard skipped once, schema upgraded on commit
            carry = carry.withColumn("__cts", F.lit(None).cast("long"))
        _assert_batches_in_order(
            batch,
            carry.select(*key_cols, "__cts"),
            key_cols,
            F.unix_micros(F.col(ts_col)),
            batch_id,
            "run_stream_cusum",
        )
        cum = F.coalesce(F.col("__ccum"), F.lit(0)) + F.col("__lc")
        m = F.least(
            F.coalesce(F.col("__cm"), F.lit(0).cast("long")),
            F.coalesce(F.col("__ccum"), F.lit(0)) + F.col("__lm"),
        )
        joined = local.join(carry, key_cols, "left").select(
            *key_cols,
            F.col(ts_col),
            F.col(value_col),
            *tiebreaks,
            cum.alias("__cum"),
            m.alias("__m"),
        )
        # alarms first (idempotent per-batch overwrite), THEN the
        # carry commit flips the fence — a replay after the flip can
        # skip safely because both are already durable
        write_batch_partials(
            joined.select(
                *key_cols,
                ts_col,
                value_col,
                *tiebreaks,
                (F.col("__cum") - F.col("__m")).alias("cusum"),
                ((F.col("__cum") - F.col("__m")) > threshold).alias(
                    "alarm"
                ),
            ),
            out_dir,
            batch_id,
        )
        new_carry = (
            joined.groupBy(*key_cols)
            .agg(
                F.max_by(
                    F.struct(
                        F.col("__cum").alias("__ccum"),
                        F.col("__m").alias("__cm"),
                        F.unix_micros(F.col(ts_col)).alias("__cts"),
                    ),
                    F.struct(*order),
                ).alias("__last")
            )
            .select(
                *key_cols, "__last.__ccum", "__last.__cm", "__last.__cts"
            )
        )
        # keys ABSENT from this batch keep their carry verbatim — the
        # anti-join side costs O(carry), one row per key (without it a
        # key skipping a batch would restart its CUSUM from 0)
        carried_over = carry.join(
            local.select(*key_cols).distinct(), key_cols, "left_anti"
        ).select(*key_cols, "__ccum", "__cm", "__cts")
        commit_carry(
            new_carry.unionByName(carried_over), state_dir, batch_id
        )

    return _drain(stream, checkpoint, _carry_fold(state_dir, step))


def run_stream_active_days(
    stream,
    state_dir: str,
    checkpoint: str,
    key_col: str,
    ts_col: str,
    auto_compact_every: int | None = 64,
):
    """Streaming state for exact rolling WAU/MAU — the stream face of
    ``analytics.rolling_distinct``: each micro-batch appends its
    DISTINCT (key, active-day) rows. The state is a SET (the reader
    dedups), so unlike the CUSUM/SCD2 stream faces this one is fully
    ARRIVAL-ORDER-INSENSITIVE: any batch slicing, replay, or overlap
    yields the identical accumulated state, and the rolling-distinct
    computed from it equals the one-shot batch run (the
    q_stream_rolling_wau gate's claim). State grows by ≤ keys × days
    regardless of event volume; compact by rewriting the deduped set.
    Read with :func:`read_rolling_distinct`.
    """
    # __b= partition per batch, like the set fold: storage-idempotent
    # replay + compact_distinct_set eligibility
    fold = _partials_fold(
        state_dir,
        lambda b: b.select(
            F.col(key_col).alias("key"), F.to_date(F.col(ts_col)).alias("day")
        ).distinct(),
        _distinct_reducer(["key", "day"]),
        auto_compact_every,
    )
    return _drain(stream, checkpoint, fold)


def read_rolling_distinct(spark, state_dir: str, window_days: int = 7):
    """Trailing-``window_days`` distinct keys per day from the
    accumulated (key, day) set — the same explode/dedup/count plan as
    the batch operator, over deduped state. Completes any interrupted
    compaction first."""
    kd = _read_merged(spark, state_dir, _distinct_reducer(["key", "day"]))
    exploded = kd.select(
        "key",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), window_days - 1)
            )
        ).alias("day2"),
    ).distinct()
    return (
        exploded.groupBy(F.col("day2").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"))
    )


def run_stream_interarrival(
    stream,
    state_dir: str,
    checkpoint: str,
    key_cols: list[str],
    ts_col: str,
):
    """Streaming inter-arrival statistics — the stream face of
    ``timeseries.interarrival_stats`` (the run_stream_cusum
    equivalence discipline: the final state must reproduce the one-shot
    batch stats over everything streamed, which is what its gate
    proves). The per-key carry is five BIGINTs: ``(last_us, n_gaps,
    sum_us, min_us, max_us)``.

    Within a batch the gap multiset is determined by sorting on the
    timestamp alone (ties contribute zero gaps in every tie order), so
    one lag window + one aggregate reduce the batch to per-key partial
    stats; the batch's first event closes a BOUNDARY gap against the
    carry's ``last_us``. REQUIRES time-sliced batches in ascending
    order (the SCD2/CUSUM stream contract) — CHECKED at runtime: a
    batch holding a row older than its key's ``last_us`` raises
    instead of merging negative/aliased gaps silently. State is one
    row per key regardless of stream length.

    Replay safety: the carry goes through the fenced-carry
    protocol (:func:`commit_carry`) — a ``foreachBatch`` retry of an
    already-committed batch id is a no-op instead of re-merging the
    batch's gaps into an already-advanced carry (double-count); a
    retry of an UNcommitted batch recomputes deterministically from
    the committed carry.
    """

    def step(batch, batch_id: int, carry) -> None:
        us = F.unix_micros(F.col(ts_col))
        w = Window.partitionBy(*key_cols).orderBy(us)
        gap = us - F.lag(us).over(w)
        local = (
            batch.select(*key_cols, us.alias("__us"), gap.alias("__gap"))
            .groupBy(*key_cols)
            .agg(
                F.min("__us").alias("__first"),
                F.max("__us").alias("__last"),
                F.count("__gap").cast("long").alias("__n"),
                F.coalesce(F.sum("__gap"), F.lit(0).cast("long")).alias(
                    "__sum"
                ),
                F.min("__gap").alias("__mn"),
                F.max("__gap").alias("__mx"),
            )
        )
        if carry is None:  # first batch
            carry = batch.sparkSession.createDataFrame(
                [],
                local.select(*key_cols)
                .schema.add("last_us", "long")
                .add("n_gaps", "long")
                .add("sum_us", "long")
                .add("min_us", "long")
                .add("max_us", "long"),
            )
        # order precondition is CHECKED: the carry's last_us doubles
        # as the per-key last-folded timestamp
        _assert_batches_in_order(
            batch,
            carry.select(*key_cols, F.col("last_us").alias("__cts")),
            key_cols,
            us,
            batch_id,
            "run_stream_interarrival",
        )
        j = local.join(carry, key_cols, "full_outer")
        boundary = F.when(
            F.col("last_us").isNotNull() & F.col("__first").isNotNull(),
            F.col("__first") - F.col("last_us"),
        )
        in_batch = F.coalesce(F.col("__n"), F.lit(0).cast("long"))
        merged = j.select(
            *key_cols,
            F.coalesce(F.col("__last"), F.col("last_us")).alias("last_us"),
            (
                F.coalesce(F.col("n_gaps"), F.lit(0).cast("long"))
                + in_batch
                + boundary.isNotNull().cast("long")
            ).alias("n_gaps"),
            (
                F.coalesce(F.col("sum_us"), F.lit(0).cast("long"))
                + F.coalesce(F.col("__sum"), F.lit(0).cast("long"))
                + F.coalesce(boundary, F.lit(0).cast("long"))
            ).alias("sum_us"),
            F.least(F.col("min_us"), F.col("__mn"), boundary).alias(
                "min_us"
            ),
            F.greatest(F.col("max_us"), F.col("__mx"), boundary).alias(
                "max_us"
            ),
        )
        commit_carry(merged, state_dir, batch_id)

    return _drain(stream, checkpoint, _carry_fold(state_dir, step))


def read_interarrival_state(spark, state_dir: str) -> DataFrame:
    """Project the accumulated carry into interarrival_stats' output
    shape (keys with at least one gap). Reads the last COMMITTED
    carry version (the fenced-carry protocol)."""
    s = read_current_carry(spark, state_dir)
    if s is None:
        raise ValueError(
            f"no committed inter-arrival carry under {state_dir!r} "
            "(stream never folded a batch)"
        )
    s = s.filter(F.col("n_gaps") > 0)
    return s.select(
        *[c for c in s.columns if c not in (
            "last_us", "n_gaps", "sum_us", "min_us", "max_us")],
        "n_gaps",
        "min_us",
        "max_us",
        F.expr("sum_us div n_gaps").cast("long").alias("mean_us"),
        F.expr(
            "CASE WHEN sum_us div n_gaps > 0 THEN"
            " (max_us * 1000) div (sum_us div n_gaps) END"
        )
        .cast("long")
        .alias("burst_x1000"),
    )


def run_stream_additive_counts(
    stream,
    state_dir: str,
    checkpoint: str,
    group_cols: list[str],
    prepare=None,
    auto_compact_every: int | None = 64,
):
    """Generic additive-count stream face: each micro-batch appends its
    per-group partial row counts; because counting is associative and
    commutative, the SUMMED state equals one batch count over
    everything streamed — the run_stream_cm / run_stream_histogram
    additivity discipline generalized to any categorical count state
    (label balance, vocabulary counts, per-source volumes).

    ``prepare`` (optional) maps the raw batch DataFrame to counting
    rows first (e.g. explode tokens, derive a label cell) — it runs
    INSIDE the fold so the stream carries raw events. DISTINCT batch
    ids must be disjoint row slices (counts add), but replay of the
    SAME batch id — what a ``foreachBatch`` retry after a crash
    produces — is idempotent: each batch's partials overwrite their
    own ``__b=<id>`` partition (:func:`write_batch_partials`), so the
    fold is at-least-once-safe. State grows by ≤ |groups| rows per
    batch, auto-compacted every ``auto_compact_every`` batches
    (None/0 disables; :func:`compact_summed_counts` for manual runs);
    read with :func:`read_summed_counts`.
    """

    def partials(batch):
        rows = prepare(batch) if prepare is not None else batch
        return rows.groupBy(*group_cols).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )

    fold = _partials_fold(
        state_dir, partials, _counts_reducer(group_cols), auto_compact_every
    )
    return _drain(stream, checkpoint, fold)


def read_summed_counts(spark, state_dir: str, group_cols: list[str]):
    """Sum the accumulated per-batch partial counts to the final
    per-group totals (exact: BIGINT addition in any order). An
    interrupted compaction is completed before reading, so the sum
    never sees a half-deleted layout."""
    return _read_merged(spark, state_dir, _counts_reducer(group_cols))


def run_stream_max_registers(
    stream,
    state_dir: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str,
    auto_compact_every: int | None = 64,
):
    """HLL register maintenance from a stream: each micro-batch appends
    its per-(group, bucket) partial max-rank rows
    (functions/sketch.hll_registers over the batch); because register
    merge is MAX — idempotent, commutative, associative — the
    max-merged state equals one batch build over everything streamed,
    and this holds under REPLAYED or overlapping batches even without
    the per-batch-partition write (MAX absorbs duplicates); the
    ``__b=<id>`` overwrite layout (:func:`write_batch_partials`) is
    still used so retries also cannot GROW the state. State grows
    by ≤ |groups|·64 rows per batch; read with
    :func:`read_max_registers` and compact by rewriting the merged
    table."""
    from salesforce_plugin_spark.functions.sketch import hll_registers

    fold = _partials_fold(
        state_dir,
        lambda b: hll_registers(b, group_cols, value_col),
        _max_registers_reducer(group_cols),
        auto_compact_every,
    )
    return _drain(stream, checkpoint, fold)


def read_max_registers(spark, state_dir: str, group_cols: list[str]):
    """Max-merge the accumulated per-batch partial registers to the
    final per-(group, bucket) registers (exact: MAX in any order).
    Completes any interrupted compaction first."""
    return _read_merged(spark, state_dir, _max_registers_reducer(group_cols))


def run_stream_additive_sums(
    stream,
    state_dir: str,
    checkpoint: str,
    group_cols: list[str],
    sum_cols: list[str],
    prepare=None,
    auto_compact_every: int | None = 64,
):
    """Generic additive-SUM stream face — the additive-count fold
    generalized from row counts to column sums: each micro-batch
    appends its per-group partial ``(n, sum(c) …)`` rows; BIGINT
    addition is associative and commutative, so the summed state
    equals one batch aggregate over everything streamed (mean/rate
    artifacts — calibration curves, per-bin score masses — reduce
    from it exactly). ``prepare`` maps the raw batch to (group, value)
    rows first, INSIDE the fold. Disjoint-slice contract across
    DISTINCT batch ids as run_stream_additive_counts; replay of the
    same id is idempotent via the ``__b=<id>`` overwrite
    (:func:`write_batch_partials`). Sum columns must already be
    integral (boolean / byte / short / int / long, or decimal with
    scale 0) — the exact-equivalence contract is BIGINT addition, so
    a fractional double input is a caller bug and raises loudly
    instead of being silently truncated by the long cast.
    Read with :func:`read_summed_sums`."""

    def partials(batch):
        rows = prepare(batch) if prepare is not None else batch
        _assert_integral_sum_cols(rows, sum_cols)
        return rows.groupBy(*group_cols).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            *[
                F.sum(F.col(c).cast("long")).cast("long").alias(f"sum_{c}")
                for c in sum_cols
            ],
        )

    fold = _partials_fold(
        state_dir,
        partials,
        _sums_reducer(group_cols, sum_cols),
        auto_compact_every,
    )
    return _drain(stream, checkpoint, fold)


def read_summed_sums(
    spark, state_dir: str, group_cols: list[str], sum_cols: list[str]
):
    """Merge the accumulated per-batch partials to final per-group
    ``(n, sum_c …)`` totals (exact BIGINT addition in any order).
    Completes any interrupted compaction first."""
    return _read_merged(spark, state_dir, _sums_reducer(group_cols, sum_cols))


def run_stream_distinct_set(
    stream,
    state_dir: str,
    checkpoint: str,
    cols: list[str],
    prepare=None,
    auto_compact_every: int | None = 64,
):
    """Generic SET-state stream face: each micro-batch appends its
    DISTINCT projected rows; the reader dedups, so the accumulated
    state is a set union — associative, commutative AND idempotent,
    making this face fully arrival-order-insensitive (replay/overlap
    safe), unlike the additive folds. The generalization of
    :func:`run_stream_active_days` from (key, day) to any column
    tuple: distinct-bearing read-outs (l-diversity counts, vocabulary
    sets, exact distinct keys) reduce from it exactly. ``prepare``
    maps the raw batch first, inside the fold. Each batch writes its
    own ``__b=<id>`` partition (:func:`write_batch_partials`), the same
    layout as the additive family, so replays are idempotent at the
    STORAGE level too (an overlapping replay does not grow the state by
    duplicate rows awaiting read-time dedup) and a long-lived stream compacts
    with :func:`compact_distinct_set` instead of accumulating one file
    per batch forever. Read with :func:`read_distinct_set`.
    """
    merge = _distinct_reducer(cols)
    fold = _partials_fold(
        state_dir,
        lambda b: merge(prepare(b) if prepare is not None else b),
        merge,
        auto_compact_every,
    )
    return _drain(stream, checkpoint, fold)


def read_distinct_set(spark, state_dir: str, cols: list[str]):
    """The accumulated set: union of all batch partitions, deduped
    (idempotent merge — any replay collapses here). Completes any
    interrupted compaction first."""
    return _read_merged(spark, state_dir, _distinct_reducer(cols))


def compact_distinct_set(
    spark, state_dir: str, watermark: int, cols: list[str]
) -> int:
    """:func:`compact_batch_partials` with the set-union reduce (the
    same dedup :func:`read_distinct_set` applies at read time)."""
    return compact_batch_partials(
        spark, state_dir, watermark, _distinct_reducer(cols)
    )
