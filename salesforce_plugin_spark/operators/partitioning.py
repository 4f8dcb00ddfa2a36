"""Partitioning strategies for the 100 TB posture (SCALE.md): salted joins
for skewed keys, bucketed tables for co-located (shuffle-free) joins,
range-partitioned writes for time-ordered data.

AQE (enabled in ``session.RUNTIME_CONF``) handles moderate skew by
splitting oversized partitions at runtime; explicit salting is the
escape hatch when one key dominates so heavily that even split partitions
bottleneck a single join task (the classic null-key / power-law fact-dim
join). Bucketing removes the shuffle from *repeated* equi-joins on the
same key — pay one clustered write, join free afterwards.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

SALT_COL = "__salt"


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join a skew-keyed fact against a (broadcastable-or-small) dim by
    exploding the dim ``salt`` ways and salting the fact uniformly.

    Each fact row gets ``salt = hash-uniform ∈ [0, salt)``; the dim is
    replicated once per salt value, so every (key, salt) reducer sees
    1/salt of the hot key's rows. Join keys become (key, __salt) — a plain
    shuffle equi-join with the hot key spread over ``salt`` tasks.

    Column contract: output = fact columns + dim columns minus the dim's
    join key (like a plain ``join(dim, key)``).
    """
    if salt < 2:
        return skewed.join(dim, key, how)
    salted_fact = skewed.withColumn(
        SALT_COL, F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt))
    )
    replicated_dim = dim.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return salted_fact.join(replicated_dim, [key, SALT_COL], how).drop(SALT_COL)


def explain_skew(df: DataFrame, key: str, top: int = 5) -> DataFrame:
    """Key-frequency profile (top-N heavy hitters + their share) — the
    measurement step before choosing AQE-only vs salted."""
    total = df.count()
    return (
        df.groupBy(key)
        .agg(F.count("*").alias("n"))
        .withColumn("share", F.round(F.col("n") / F.lit(total), 4))
        .orderBy(F.col("n").desc())
        .limit(top)
    )


def write_bucketed(
    df: DataFrame, table: str, keys: list[str], num_buckets: int = 32
) -> None:
    """Persist as a bucketed (hash-clustered) catalog table: joins and
    aggregations on ``keys`` between tables bucketed the same way skip the
    exchange entirely (observe: no Exchange under the SortMergeJoin in
    ``.explain``). The write itself shuffles once — amortized over every
    subsequent co-located join."""
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, *keys)
        .sortBy(*keys)
        .format("parquet")
        .saveAsTable(table)
    )


def repartition_by_time(
    df: DataFrame, ts_col: str, granularity: str = "day"
) -> DataFrame:
    """Cluster rows by time bucket before a partitioned write
    (``.write.partitionBy(granularity col)``) so each output partition is
    written by few tasks — the layout that makes ``ts_range`` scan pruning
    (sources/catalog.py) effective at 100 TB."""
    bucket = F.date_trunc(granularity, F.col(ts_col)).alias("__tbucket")
    return df.repartition(bucket).sortWithinPartitions(ts_col)


def zorder_key(cols: list[Column], bits: int = 10) -> Column:
    """Z-order (Morton) key: interleave the low ``bits`` bits of each
    column into one long — the multi-dimensional clustering key behind
    lakehouse OPTIMIZE ZORDER BY. Rows sorted by this key are co-located
    along BOTH dimensions at once, so a parquet layout written in z-order
    gives min/max row-group pruning on either predicate column (a single-
    column sort prunes only its own column; see ``write_zordered``).

    Callers must map each column to a non-negative int that fits
    ``bits`` (e.g. ``pmod``-bucketed or rank-quantized) — bits beyond
    that are masked off here. Pure bitwise codegen expressions, no
    shuffle; ``n_cols * bits`` must fit 63 bits.
    """
    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key needs at least two columns")
    if n * bits > 63:
        raise ValueError("n_cols * bits must fit in a signed long")
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        masked = c.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(masked, b).bitwiseAND(F.lit(1)),
                    b * n + ci,
                )
            )
    return z


def write_zordered(
    df: DataFrame, path: str, cols: list[str], bits: int = 10,
    num_files: int | None = None,
) -> None:
    """Write ``df`` clustered by the z-order key of ``cols``:
    range-partition on the key (so each output file owns one contiguous
    z-range), sort within partitions, drop the key. Each file's min/max
    footer statistics then bound BOTH dimensions, and a predicate on
    either column prunes files — the layout a 100 TB table needs when
    queries filter on more than one column."""
    z = zorder_key([F.col(c) for c in cols], bits).alias("__z")
    parts = [num_files] if num_files else []  # else AQE picks (and may
    # coalesce small inputs to one file — pass num_files to pin layout)
    (
        df.withColumn("__z", z)
        .repartitionByRange(*parts, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def salted_count_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    salt: int = 16,
) -> DataFrame:
    """Skew-safe exact COUNT(DISTINCT) via two-stage salted aggregation
    — the pattern that saves the query when ONE group holds most of the
    stream (a power-law event type): a plain
    ``groupBy(group).agg(count_distinct)`` funnels the hot group's
    whole distinct-set state through one reducer; salting by a HASH OF
    THE VALUE first makes stage 1 dedup ``(group, salt-shard)``
    sub-sets independently, and because value-hash sharding PARTITIONS
    the distinct set (a value lands in exactly one shard), the stage-2
    per-shard distinct counts add up to the exact global count — no
    approximation, unlike the sketches, and no single-task hot spot.

    The salt must be a deterministic function of the VALUE (md5 here,
    so the result — not just the count — is engine-replayable under
    the gate); a row-random salt would double-count values seen by two
    shards. Output (scalar-only): ``(*group_cols, n_distinct long)``.
    """
    from salesforce_plugin_spark.functions.dedup import portable_hash32

    # portable_hash32 md5s a BINARY; numeric values go through their
    # string form (the md5 split/shard idiom everywhere else)
    shard = F.pmod(
        portable_hash32(F.col(value_col).cast("string")), F.lit(salt)
    )
    stage1 = (
        df.select(*group_cols, F.col(value_col).alias("__val"), shard.alias(SALT_COL))
        .groupBy(*group_cols, SALT_COL)
        .agg(F.count_distinct(F.col("__val")).alias("__nd"))
    )
    return stage1.groupBy(*group_cols).agg(
        F.sum("__nd").cast("long").alias("n_distinct")
    )


def _global_rank(df: DataFrame, cols, n_parts: int = 32) -> DataFrame:
    """Exact global rank under a tie-free total order WITHOUT a
    single-partition window: range-repartition on the sort key,
    row_number within each (contiguous-range) partition, plus the
    broadcast cumulative partition offsets — the standard distributed
    ranking shape. Output = input columns + ``__rank`` (1-based).
    Correct regardless of where the range boundaries land (AQE
    coalescing included): partitions hold contiguous key ranges in
    partition-id order, so offset + in-partition rank IS the global
    rank; ties are excluded by the caller's total-order contract."""
    part = df.repartitionByRange(n_parts, *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_in = Window.partitionBy("__pid").orderBy(*cols)
    # The offsets branch below re-reads this plan: pin ONE evaluation
    # (range-boundary sampling and AQE coalescing may differ between
    # re-evaluations, which would desynchronize __pid across the join)
    tagged = part.withColumn(
        "__rn", F.row_number().over(w_in)
    ).localCheckpoint(eager=False)
    w_off = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        tagged.groupBy("__pid")
        .agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
        .withColumn(
            "__off",
            F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).cast("long"),
        )
        .select("__pid", "__off")
    )
    return (
        tagged.join(F.broadcast(offsets), "__pid")
        .withColumn("__rank", (F.col("__rn") + F.col("__off")).cast("long"))
        .drop("__pid", "__rn")
    )


def zonemap_prune_eval(
    df: DataFrame,
    order_cols: dict[str, list[Column]],
    value_col: Column,
    lo,
    hi,
    n_files: int = 64,
) -> DataFrame:
    """Quantified answer to "does this layout actually skip data?":
    simulate parquet row-group zone maps under each candidate layout
    and measure how much a range predicate can prune. For each named
    layout, rows are packed into ``n_files`` equal files in that sort
    order (deterministic ``ntile`` over a TOTAL order — caller must
    make ``order_cols`` tie-free), per-file min/max of ``value_col``
    become the zone map, and a file is read iff ``[min, max]``
    intersects ``[lo, hi]`` — exactly the footer-stats pruning a scan
    does at 100 TB, where the difference between 2% and 100% of files
    read IS the query cost. Run it before committing to an OPTIMIZE
    order (:func:`zorder_key` / plain sort): an unevaluated layout is
    a guess, the ann_recall argument applied to storage.

    One window pass + one ``n_files``-bounded aggregate per layout; no
    shuffle beyond the sort being evaluated.

    Output (scalar-only): ``(layout, n_files long, files_read long,
    rows_read long, prune_ppm long)`` — prune_ppm = fraction of files
    SKIPPED, scaled 10⁶, integer-exact.
    """
    out = None
    for name, cols in order_cols.items():
        ranked = _global_rank(
            df.select(*cols, value_col.alias("__v")), cols
        )
        n1 = ranked.agg(F.count(F.lit(1)).cast("long").alias("__N"))
        # Replicate ntile(n_files) from the exact global rank: the
        # first N % n_files tiles get ⌈N/n_files⌉ rows, the rest
        # ⌊N/n_files⌋ — identical to the SQL ntile the oracle runs,
        # but built on the DISTRIBUTED rank (the first cut's global
        # ntile window forced the whole table through ONE task: 4.2×
        # at the 10× probe; this shape is a range shuffle + per-
        # partition windows and probes ~1×).
        files = (
            ranked.crossJoin(F.broadcast(n1))
            .withColumn(
                "__f",
                F.expr(
                    f"CASE WHEN __N div {n_files} = 0 THEN __rank"
                    f" WHEN __rank <= (__N % {n_files})"
                    f" * (__N div {n_files} + 1)"
                    f" THEN (__rank - 1) div (__N div {n_files} + 1) + 1"
                    f" ELSE __N % {n_files}"
                    f" + ((__rank - 1) - (__N % {n_files})"
                    f" * (__N div {n_files} + 1))"
                    f" div (__N div {n_files}) + 1 END"
                ).cast("int"),
            )
            .groupBy("__f")
            .agg(
                F.count(F.lit(1)).cast("long").alias("__rows"),
                F.min("__v").alias("__lo"),
                F.max("__v").alias("__hi"),
            )
        )
        agg = files.agg(
            F.lit(name).alias("layout"),
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(
                ((F.col("__lo") <= F.lit(hi)) & (F.col("__hi") >= F.lit(lo)))
                .cast("long")
            )
            .cast("long")
            .alias("files_read"),
            F.sum(
                F.when(
                    (F.col("__lo") <= F.lit(hi))
                    & (F.col("__hi") >= F.lit(lo)),
                    F.col("__rows"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("rows_read"),
        ).select(
            "layout",
            "n_files",
            "files_read",
            "rows_read",
            F.expr("(n_files - files_read) * 1000000 div n_files")
            .cast("long")
            .alias("prune_ppm"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


def global_cumsum(
    df: DataFrame,
    order_cols,
    sum_cols: list[str],
    n_parts: int = 32,
) -> DataFrame:
    """Exact running sums under a tie-free total order WITHOUT a
    single-partition window — :func:`_global_rank`'s shape generalized
    from ranks to sums: range-repartition on the order key, cumsum
    within each contiguous-range partition, add the broadcast
    cumulative per-partition totals. One localCheckpoint pins the
    range boundaries across the offsets self-join (the zone-map
    lesson: two evaluations of one repartitionByRange may sample
    different boundaries). Adds ``cum_<c>`` (BIGINT) per sum column.
    """
    part = df.repartitionByRange(n_parts, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_in = Window.partitionBy("__pid").orderBy(*order_cols)
    tagged = part.withColumns(
        {f"__in_{c}": F.sum(c).over(w_in).cast("long") for c in sum_cols}
    ).localCheckpoint(eager=False)
    w_off = (
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = tagged.groupBy("__pid").agg(
        *[F.sum(c).cast("long").alias(f"__tot_{c}") for c in sum_cols]
    ).withColumns(
        {
            f"__off_{c}": F.coalesce(
                F.sum(f"__tot_{c}").over(w_off), F.lit(0)
            ).cast("long")
            for c in sum_cols
        }
    )
    out = tagged.join(
        F.broadcast(
            offsets.select("__pid", *[f"__off_{c}" for c in sum_cols])
        ),
        "__pid",
    )
    out = out.withColumns(
        {
            f"cum_{c}": (F.col(f"__in_{c}") + F.col(f"__off_{c}")).cast("long")
            for c in sum_cols
        }
    ).drop(*[f"__in_{c}" for c in sum_cols], *[f"__off_{c}" for c in sum_cols])
    return out.drop("__pid")
