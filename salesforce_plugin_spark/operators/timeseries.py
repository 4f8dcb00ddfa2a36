"""Time-series shaping: calendar resampling with gap-fill, and
range-windowed rolling aggregates.

The two steps every metrics warehouse runs between raw events and a
dashboard/feature store: (1) regularize an irregular event stream onto a
calendar spine (missing periods become explicit rows, last observation
carried forward), (2) rolling aggregates over a trailing time range.
Both are built so every value under a cross-engine gate is an exact
integer (quantized observations, BIGINT sums; the determinism discipline
of conformance.py) and both stay one-exchange-per-keyed-stage plans.

Scale posture: the spine explode emits (days-in-range) rows per key —
bounded by the calendar, not the event count; the day-level
pre-aggregation happens BEFORE the spine join, so the rolling window
runs over key×days rows, never raw events. A pathological key spanning
decades explodes ~10⁴ spine rows — cap with an explicit date range when
the domain allows dormant keys.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def resample_daily_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value: Column,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Daily calendar resample with forward-fill per key.

    Each key gets one row per calendar day from its first to its last
    observation day (inclusive). ``value`` must be an INTEGER-valued
    column (quantize doubles first — exactness is the caller's contract);
    per day the LAST observation wins, ordered by ``(ts, *order_cols)``
    — pass a unique tiebreaker so the election is deterministic. Days
    with no observation carry the previous day's value forward
    (``last(..., ignorenulls)`` over the spine order) and report
    ``n_obs = 0``.

    Plan: one (key, day) aggregate with the row_number election inside
    it, one tiny per-key bounds aggregate feeding the
    ``sequence(first_day, last_day)`` spine explode, a (key, day)
    equijoin, and the forward-fill window on the already-day-bounded
    rows. Output (scalar-only): ``(key, day string 'yyyy-MM-dd',
    n_obs long, filled long)``.
    """
    order_cols = order_cols or []
    day = F.to_date(F.col(ts_col))
    obs = df.select(
        F.col(key_col).alias("__k"),
        day.alias("__d"),
        F.col(ts_col).alias("__ts"),
        *[F.col(c) for c in order_cols],
        value.cast("long").alias("__v"),
    )
    w_el = Window.partitionBy("__k", "__d").orderBy(
        F.col("__ts").desc(), *[F.col(c).desc() for c in order_cols]
    )
    daily = (
        obs.withColumn("__rn", F.row_number().over(w_el))
        .groupBy("__k", "__d")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.max(F.when(F.col("__rn") == 1, F.col("__v"))).alias("__last"),
        )
    )
    bounds = obs.groupBy("__k").agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    )
    spine = bounds.select(
        "__k",
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("__d"),
    )
    w_fill = (
        Window.partitionBy("__k")
        .orderBy("__d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["__k", "__d"], "left")
        .select(
            F.col("__k").alias(key_col),
            F.date_format("__d", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            F.last(F.col("__last"), ignorenulls=True)
            .over(w_fill)
            .alias("filled"),
        )
    )


def rolling_daily_metrics(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value: Column,
    window_days: int = 7,
) -> DataFrame:
    """Trailing ``window_days``-day rolling sum/count per key-day.

    Day-level pre-aggregation first (exact BIGINT sums of the
    integer-valued ``value``), then ONE range window over epoch-day
    integers (``rangeBetween(-(window_days-1), 0)``) — the window state
    is day rows, not events, and a missing day simply contributes
    nothing (no spine needed for trailing sums). Same-key stages reuse
    one partitioning.

    Output (scalar-only): ``(key, day string, day_n long, day_sum long,
    roll_n long, roll_sum long)``.
    """
    if window_days < 1:
        raise ValueError("rolling_daily_metrics requires window_days >= 1")
    epoch_day = F.floor(
        F.unix_micros(F.to_timestamp(F.to_date(F.col(ts_col)))) / F.lit(86_400_000_000)
    )
    daily = (
        df.select(
            F.col(key_col).alias("__k"),
            epoch_day.cast("long").alias("__ed"),
            value.cast("long").alias("__v"),
        )
        .groupBy("__k", "__ed")
        .agg(
            F.count(F.lit(1)).alias("day_n"),
            F.sum("__v").alias("day_sum"),
        )
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__ed")
        .rangeBetween(-(window_days - 1), 0)
    )
    return daily.select(
        F.col("__k").alias(key_col),
        F.date_format(
            F.to_date(F.timestamp_micros(F.col("__ed") * F.lit(86_400_000_000))),
            "yyyy-MM-dd",
        ).alias("day"),
        F.col("day_n").cast("long").alias("day_n"),
        "day_sum",
        F.sum("day_n").over(w).cast("long").alias("roll_n"),
        F.sum("day_sum").over(w).alias("roll_sum"),
    )


def date_dimension(
    spark,
    start: str,
    end: str,
    fiscal_start_month: int = 1,
) -> DataFrame:
    """Generate a conformed calendar dimension for ``[start, end]``
    (inclusive ISO dates) — the warehouse staple every time-keyed fact
    joins against instead of re-deriving date parts per query. One row
    per day:

      ``d date, yr int, mon int, dom int, doy int, dow_iso int
      (1=Monday), wk_iso int, qtr int, is_weekend int, fiscal_yr int,
      fiscal_qtr int, fiscal_mon int`` — fiscal parts under the same
      Salesforce convention as the SOQL FISCAL_* functions
      (plans/soql.py _fiscal_sql: fiscal month 1 = ``fiscal_start_month``,
      FY named by the calendar year it ends in).

    Built as ONE ``sequence()`` explode on the driver-side literal range
    — no source scan, a few KB per decade (3653 rows); broadcast it
    against facts. Deterministic and engine-replayable: every attribute
    is integer date arithmetic.
    """
    if not 1 <= fiscal_start_month <= 12:
        raise ValueError("fiscal_start_month must be in [1, 12]")
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"),
                F.lit(end).cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("d")
    )
    sm = fiscal_start_month
    fm = (F.month("d") - sm + 12) % 12 + 1
    fy = (
        F.year("d")
        if sm == 1
        else F.year("d") + F.when(F.month("d") >= sm, 1).otherwise(0)
    )
    return days.select(
        "d",
        F.year("d").cast("int").alias("yr"),
        F.month("d").cast("int").alias("mon"),
        F.dayofmonth("d").cast("int").alias("dom"),
        F.dayofyear("d").cast("int").alias("doy"),
        F.expr("extract(DAYOFWEEK_ISO FROM d)").cast("int").alias("dow_iso"),
        F.weekofyear("d").cast("int").alias("wk_iso"),
        F.quarter("d").cast("int").alias("qtr"),
        F.expr("extract(DAYOFWEEK_ISO FROM d)")
        .isin(6, 7)
        .cast("int")
        .alias("is_weekend"),
        fy.cast("int").alias("fiscal_yr"),
        ((fm - 1) / 3 + 1).cast("int").alias("fiscal_qtr"),
        fm.cast("int").alias("fiscal_mon"),
    )


def debounce(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_seconds: int,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Burst suppression for at-least-once event streams: keep only the
    FIRST event of each burst, where a burst is a maximal run of
    same-key events each within ``gap_seconds`` of the PREVIOUS event
    (session-gap semantics — the same boundary rule as sessionization,
    applied as a filter). Retry storms, double-clicks, and duplicate
    webhook deliveries collapse to one row; events separated by more
    than the gap all survive.

    The boundary test is exact integer microseconds (no float time
    arithmetic), and a burst's first row is precisely the row whose lag
    gap exceeds the threshold — so the whole operator is ONE exchange
    on the keys + a lag window + a map-side filter; no second election
    pass. ``tiebreak_cols`` (default: none) order equal timestamps
    deterministically.

    Contrast ``dedup_exact`` (same content, any time) and
    ``q_stream_dedup`` (same key, watermark-bounded): debounce is
    time-proximity dedup — the events differ, arriving close is what
    makes them duplicates.
    """
    if gap_seconds <= 0:
        raise ValueError("debounce requires gap_seconds > 0")
    tb = tiebreak_cols or []
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col), *[F.col(c) for c in tb]
    )
    us = F.unix_micros(F.col(ts_col))
    prev_us = F.lag(us).over(w)
    keep = prev_us.isNull() | ((us - prev_us) > gap_seconds * 1_000_000)
    return (
        df.withColumn("__keep", keep)
        .filter(F.col("__keep"))
        .drop("__keep")
    )


def throttle_per_window(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    window_seconds: int,
    max_rows: int,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Ingest shaping: keep at most ``max_rows`` EARLIEST events per key
    per tumbling window of ``window_seconds`` — the rate-limit a
    pipeline applies to hot keys before they skew every downstream
    shuffle (a bot user emitting 10^6 events/hour costs the same as a
    human after the throttle; pair with ``analytics.key_skew`` to find
    the keys that need it).

    Window assignment is ``unix_micros div (window * 10^6)`` — exact
    integers, deterministic under any partitioning; election is a
    row_number per (key, window) with ``tiebreak_cols`` breaking ties.
    ONE exchange on the keys; a hot key sorts one partition — if a
    single key*window overflows a partition, pre-filter with debounce.
    """
    if window_seconds <= 0 or max_rows < 1:
        raise ValueError("throttle requires window_seconds > 0, max_rows >= 1")
    tb = tiebreak_cols or []
    win = F.expr(
        f"unix_micros({ts_col}) div {window_seconds * 1_000_000}"
    ).alias("__win")
    w = Window.partitionBy(*key_cols, "__win").orderBy(
        F.col(ts_col), *[F.col(c) for c in tb]
    )
    return (
        df.withColumn("__win", win)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_rows)
        .drop("__win", "__rn")
    )


def disorder_stats(
    df: DataFrame,
    key_cols: list[str],
    seq_col: str,
    ts_col: str,
) -> DataFrame:
    """Event-time disorder measurement — the number a streaming job
    needs BEFORE choosing its watermark: with events ordered by arrival
    (``seq_col``: an ingest offset, file sequence, or monotonically
    increasing event id), how far does event time run backwards?

    Per key: ``n_events``, ``n_regressions`` (arrivals whose event time
    is earlier than the running event-time maximum so far), and
    ``max_lateness_us`` (the worst such gap — the watermark delay that
    would have captured everything for this key). Aggregate the max
    over keys for the job-wide setting; a watermark smaller than the
    observed lateness silently DROPS those rows, which is why this is
    measured rather than guessed.

    Exact integer microseconds; running max via one cumulative window —
    ONE exchange on the keys, everything after is a bounded aggregate.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(seq_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col(ts_col))
    run_max = F.max(us).over(w)
    lateness = F.when(run_max > us, run_max - us).otherwise(F.lit(0))
    return (
        df.withColumn("__late", lateness)
        .groupBy(*key_cols)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("__late") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_regressions"),
            F.max("__late").cast("long").alias("max_lateness_us"),
        )
    )


def cusum_alarms(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    target: int,
    slack: int,
    threshold: int,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key one-sided CUSUM drift detector over an INTEGER value
    column (pre-quantize floats — the zscore_outliers/group_trend
    contract): the classic recursion ``S_t = max(0, S_{t-1} + (x_t −
    target − slack))``, which looks inherently sequential, rewritten as
    two windows —

        ``S_t = cum_t − min(0, cum_1..cum_t)``  with
        ``cum_t = Σ_{i≤t} (x_i − target − slack)``

    (the clamp-at-zero recursion IS "cumsum minus running minimum"; the
    min(0, ·) seeds S_0 = 0) — so the whole detector is ONE exchange on
    the key + one in-partition sort feeding both running aggregates,
    exact integer end to end, reproducible across engines. Rows are
    ordered by (ts, tie-break on remaining sort stability is not
    needed: both windows use the same total order (ts, value)).

    Output: every input row with its CUSUM statistic and the alarm flag
    ``S_t > threshold`` — the change-point monitor for "has this
    metric drifted above target+slack, cumulatively?" per segment.
    Columns: (keys..., ts, value, tiebreaks..., cusum, alarm boolean).

    The window order must be TOTAL per key or tied rows get
    order-dependent intermediate sums (engine-ambiguous): pass
    ``tiebreak_cols`` (e.g. the event id) whenever (ts, value) can
    repeat within a key — the same total-order discipline as
    resample_daily_ffill's last-observation election.
    """
    tiebreak_cols = tiebreak_cols or []
    order = [F.col(ts_col), F.col(value_col)] + [
        F.col(c) for c in tiebreak_cols
    ]
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = F.col(value_col).cast("long") - F.lit(target) - F.lit(slack)
    cum = F.sum(dev).over(w)
    base = df.select(
        *key_cols,
        F.col(ts_col),
        F.col(value_col),
        *[F.col(c) for c in tiebreak_cols],
        cum.alias("__cum"),
    )
    w2 = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = F.col("__cum") - F.least(F.lit(0).cast("long"), F.min("__cum").over(w2))
    return base.select(
        *key_cols,
        ts_col,
        value_col,
        *tiebreak_cols,
        s.alias("cusum"),
        (s > threshold).alias("alarm"),
    )


def interarrival_stats(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key inter-arrival gap statistics in exact integer
    microseconds — the measurement behind capacity planning, watermark
    choice (pairs with ``disorder_stats``, which measures how far time
    runs BACKWARD; this measures how it runs forward), rate-limit
    tuning, and bot detection (burstiness).

    One exchange on the key feeds the lag window and the aggregate:
    ``(key…, n_gaps long, min_us long, max_us long, mean_us long,
    burst_x1000 long)`` where ``mean_us = Σgap div n`` and
    ``burst_x1000 = max·1000 div mean`` (max-to-mean ratio; 1000 =
    perfectly regular) — all integer floor divides over exact sums.
    Keys with fewer than two events carry no gap and are absent.
    """
    tiebreak = tiebreak_cols or []
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col), *[F.col(c) for c in tiebreak]
    )
    us = F.unix_micros(F.col(ts_col))
    gap = (us - F.lag(us).over(w)).alias("__gap")
    gaps = events.select(*key_cols, gap).filter(F.col("__gap").isNotNull())
    return (
        gaps.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("__gap").cast("long").alias("min_us"),
            F.max("__gap").cast("long").alias("max_us"),
            F.sum("__gap").cast("long").alias("__sum"),
        )
        .select(
            *key_cols,
            "n_gaps",
            "min_us",
            "max_us",
            F.expr("__sum div n_gaps").cast("long").alias("mean_us"),
            F.expr(
                "CASE WHEN __sum div n_gaps > 0 THEN"
                " (max_us * 1000) div (__sum div n_gaps) END"
            )
            .cast("long")
            .alias("burst_x1000"),
        )
    )


def iso_dow(sunday_based: Column) -> Column:
    """ISO weekday (1=Monday..7=Sunday) from Spark's SUNDAY-BASED
    ``dayofweek`` (1=Sunday..7=Saturday). Weekday numbering is a
    classic cross-engine trap — DuckDB's ``isodow`` is already ISO —
    so the normalization lives in exactly ONE place and every consumer
    (dow_profile, seasonal_anomaly_days) shares it."""
    return F.when(sunday_based == 1, F.lit(7)).otherwise(sunday_based - 1)


def dow_profile(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """Day-of-week seasonality profile per key: event count and exact
    integer-ppm share per weekday — the shape consumed by staffing /
    anomaly-baseline / send-time decisions, and the first check before
    fitting any seasonal model. One (key, dow)-bounded
    partial-combined aggregate + a key-bounded window for the shares
    (exactmath decimal division).

    Output (scalar-only): ``(key…, dow int ISO 1-7, n long,
    share_ppm long)``.
    """
    from salesforce_plugin_spark.functions.exactmath import dcast, dfloor

    counts = df.groupBy(
        *key_cols,
        F.dayofweek(F.col(ts_col)).alias("__sundow"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return dow_profile_from_counts(counts, key_cols)


def dow_profile_from_counts(
    counts: DataFrame, key_cols: list[str]
) -> DataFrame:
    """:func:`dow_profile` from a pre-aggregated ``(key…, __sundow,
    n)`` table (Sunday-based weekday as Spark's dayofweek emits it) —
    the entry point for additive weekday-count state (streaming face /
    warehouse rollups)."""
    from salesforce_plugin_spark.functions.exactmath import dcast, dfloor

    iso = iso_dow(F.col("__sundow"))
    w = Window.partitionBy(*key_cols)
    return counts.select(
        *key_cols,
        iso.cast("int").alias("dow"),
        "n",
        F.sum("n").over(w).alias("__tot"),
    ).select(
        *key_cols,
        "dow",
        "n",
        F.expr(dfloor(dcast("n") + " * 1000000", dcast("__tot"))).alias(
            "share_ppm"
        ),
    )


def coverage_gaps(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """Calendar-coverage audit per key: active-day count, first/last
    day, span, and the number of MISSING days inside the span — the
    cheap completeness check run before trusting any per-day metric
    (a feed that skipped days poisons rolling windows silently;
    ``resample_daily_ffill`` is the repair, this is the detector).
    Everything derives from one (key, day)-distinct aggregate —
    exchange bounded by keys × days, never event volume.

    Output (scalar-only): ``(key…, n_active_days long, first_day date,
    last_day date, span_days long, n_missing long)``.
    """
    kd = df.select(
        *key_cols, F.to_date(F.col(ts_col)).alias("__d")
    ).distinct()
    return kd.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_active_days"),
        F.min("__d").alias("first_day"),
        F.max("__d").alias("last_day"),
        (F.datediff(F.max("__d"), F.min("__d")) + 1)
        .cast("long")
        .alias("span_days"),
        (
            F.datediff(F.max("__d"), F.min("__d"))
            + 1
            - F.count(F.lit(1))
        )
        .cast("long")
        .alias("n_missing"),
    )


def seasonal_anomaly_days(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    hi_num: int = 3,
    hi_den: int = 2,
    lo_num: int = 1,
    lo_den: int = 2,
) -> DataFrame:
    """Seasonality-aware daily anomaly flags: each (key, day)'s event
    count compared to the key's SAME-WEEKDAY baseline (the
    :func:`dow_profile` structure), so a naturally-quiet Sunday never
    false-alarms against a Monday average. A day is a ``spike`` when
    ``n·n_dow_days·hi_den > hi_num·dow_total`` and a ``dip`` when
    ``n·n_dow_days·lo_den < lo_num·dow_total`` — cross-multiplied
    integer comparisons (exactmath decimals), no divide or float at
    the boundary (the zscore_outliers discipline; ratio thresholds
    beat σ-thresholds when the baseline is a handful of weekdays).

    Two bounded aggregates (days, then key × dow) + one join back on
    (key, dow). Output (scalar-only): ``(key…, day date, n long,
    dow int, n_dow_days long, dow_total long, spike int, dip int)``.
    """
    from salesforce_plugin_spark.functions.exactmath import dcast

    daily = df.groupBy(
        *key_cols, F.to_date(F.col(ts_col)).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tagged = daily.withColumn(
        "dow", iso_dow(F.dayofweek("day")).cast("int")
    )
    base = tagged.groupBy(*key_cols, "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_dow_days"),
        F.sum("n").cast("long").alias("dow_total"),
    )
    lhs = dcast("n") + " * " + dcast("n_dow_days")
    return (
        tagged.join(base, [*key_cols, "dow"])
        .select(
            *key_cols,
            "day",
            "n",
            "dow",
            "n_dow_days",
            "dow_total",
            F.expr(
                f"CAST(({lhs}) * {hi_den} > {hi_num} * "
                + dcast("dow_total")
                + " AS INT)"
            ).alias("spike"),
            F.expr(
                f"CAST(({lhs}) * {lo_den} < {lo_num} * "
                + dcast("dow_total")
                + " AS INT)"
            ).alias("dip"),
        )
    )


def changepoint_binary(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """Offline changepoint detection, one binary-segmentation split per
    key (the first step of Scott-Knott / binary segmentation, the
    batch companion to :func:`cusum_alarms`' online drift alarm): over
    each key's daily-count series, find the split that maximizes the
    between-segment variance reduction

        gain(t) = S_L²/n_L + S_R²/n_R − total²/n

    (the SSE decrease of a two-mean fit — Σx² cancels, so no squares
    of individual days are needed). The argmax is taken on the
    EXACT-RATIONAL gain brought to the common denominator n·n_L·n_R
    and floor-scaled once to milli units (DECIMAL(38,0) throughout:
    S²·n² ≈ 10³⁰ at 10⁹-events/day × 1000-day scale, far past BIGINT);
    floor of non-negative operands is truncate==floor cross-engine, so
    the winner — including ties, broken by earliest split — replays
    exactly.

    Shape: one daily-count aggregate, one key-partitioned window pass
    (prefix sums), a key-bounded argmax. Candidate splits are the
    n−1 day boundaries — work is series-length-bounded per key, never
    corpus-bounded.

    Output (scalar-only): key cols + ``(split_day string, n_left,
    n_right, mean_left_milli, mean_right_milli, gain_milli)`` — the
    split AFTER ``split_day``; keys with a single active day are
    absent (no candidate split).
    """
    daily = df.groupBy(
        *key_cols, F.to_date(F.col(ts_col)).alias("__d")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    return changepoint_from_daily(daily, key_cols)


def changepoint_from_daily(daily: DataFrame, key_cols: list[str]) -> DataFrame:
    """:func:`changepoint_binary` from a pre-aggregated ``(key…, __d
    date, __c long)`` daily-count table — the entry point for additive
    daily-count state (the streaming face folds per-batch counts and
    feeds the sum here; the fano_from_daily precedent)."""
    from salesforce_plugin_spark.functions.exactmath import dcast, dfloor

    w = Window.partitionBy(*key_cols).orderBy("__d")
    cur = daily.select(
        *key_cols,
        "__d",
        F.row_number().over(w).cast("long").alias("__t"),
        F.sum("__c").over(w).cast("long").alias("__sl"),
    )
    tot = daily.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__c").cast("long").alias("__total"),
    )
    sl = dcast("__sl")
    sr = f"({dcast('__total')} - {sl})"
    nl = dcast("__t")
    nr = f"({dcast('__n')} - {nl})"
    num = (
        f"{dcast('__n')} * ({sl} * {sl} * {nr} + {sr} * {sr} * {nl})"
        f" - {dcast('__total')} * {dcast('__total')} * {nl} * {nr}"
    )
    den = f"{dcast('__n')} * {nl} * {nr}"
    cand = (
        cur.join(tot, key_cols)
        .filter(F.col("__t") < F.col("__n"))
        .withColumn("__gain", F.expr(dfloor(f"({num}) * 1000", den)))
    )
    pick = Window.partitionBy(*key_cols).orderBy(
        F.col("__gain").desc(), F.col("__t").asc()
    )
    return (
        cand.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            *key_cols,
            F.date_format(F.col("__d"), "yyyy-MM-dd").alias("split_day"),
            F.col("__t").alias("n_left"),
            (F.col("__n") - F.col("__t")).alias("n_right"),
            F.expr(dfloor(f"{sl} * 1000", nl)).alias("mean_left_milli"),
            F.expr(dfloor(f"{sr} * 1000", nr)).alias("mean_right_milli"),
            F.col("__gain").alias("gain_milli"),
        )
    )
