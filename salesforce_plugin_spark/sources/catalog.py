"""Named-table catalog over parquet directories.

Plays the role of the reference's "Salesforce object" namespace
(``salesforce_to_s3_operator.py:44,137``): a table is addressed by name and its
schema is discovered from storage, not declared by the caller (SURVEY §1.3,
A3/A4). Column names are normalized to lowercase on load, matching the
reference's destination normalization
(``salesforce_schema_to_redshift_operator.py:97`` — B9).

Scale notes: ``load_table`` is a plain ``spark.read.parquet`` so Catalyst keeps
column pruning and predicate pushdown; nothing is cached or collected here. The
nanos-timestamp repair reads only the parquet *footer* (driver-side, O(1) per
table regardless of data size) to learn which columns need the
long→timestamp_micros conversion forced by ``spark.sql.legacy.parquet.nanosAsLong``.
"""

from __future__ import annotations

import logging
import os
import weakref
from functools import lru_cache

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from salesforce_plugin_spark.session import ensure_runtime_conf

_log = logging.getLogger(__name__)

#: The fixture universe (TESTDATA.md). Mirrors the reference's notion of the
#: set of extractable Salesforce objects.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _resolve_footer_path(path: str) -> str | None:
    """Resolve ``path`` (file, directory, or glob) to a concrete path that
    ``pyarrow.dataset`` can inspect. Globs are resolved to their first
    match (``ds.dataset`` raises on glob patterns — previously the column
    was silently treated as a native timestamp); None when nothing
    matches."""
    if any(ch in path for ch in "*?["):
        import glob

        matches = sorted(glob.glob(path))
        return matches[0] if matches else None
    return path


def _footer_mtime_ns(path: str) -> int:
    """Freshness key for footer-schema caching: the file's mtime, or for a
    directory the max of its own and its direct children's mtimes (fixture
    regeneration rewrites the part files). -1 when not stat-able."""
    try:
        st = os.stat(path)
        m = st.st_mtime_ns
        if os.path.isdir(path):
            for entry in os.scandir(path):
                m = max(m, entry.stat().st_mtime_ns)
        return m
    except OSError:
        return -1


@lru_cache(maxsize=256)
def _footer_schema_at(path: str, mtime_ns: int):
    try:
        import pyarrow.dataset as ds

        return ds.dataset(path, format="parquet").schema
    except Exception as exc:
        _log.debug("footer schema of %s not inspectable: %r", path, exc)
        return None


def footer_schema(path: str):
    """Arrow schema from the parquet footer(s) under ``path`` (file, dir,
    or glob), or None if not inspectable. Cached on ``(path, mtime)`` so a
    path whose fixtures are regenerated between reads — the exact
    between-rounds hazard — is re-sniffed instead of served a stale schema
    decision."""
    resolved = _resolve_footer_path(path)
    if resolved is None:
        return None
    return _footer_schema_at(resolved, _footer_mtime_ns(resolved))


def timestamp_unit(path: str, col: str) -> str | None:
    """Physical parquet timestamp unit ('s'/'ms'/'us'/'ns') of ``col`` under
    ``path``, or None if the column is not a timestamp or the footer cannot
    be inspected. Footer-only read — O(1) per table regardless of data
    size. This is the single source of truth for whether a timestamp column
    needs the legacy nanos→long repair (the fixtures have historically
    shipped both encodings; hardcoding either one is how time units break)."""
    import pyarrow as pa

    schema = footer_schema(path)
    if schema is None:
        return None
    for name, typ in zip(schema.names, schema.types):
        if name.lower() == col.lower():
            return typ.unit if isinstance(typ, pa.TimestampType) else None
    return None


def column_arrow_type(path: str, col: str) -> str | None:
    """Arrow type string (e.g. ``'timestamp[us]'``, ``'int64'``) of ``col``
    under ``path``, or None if absent / footer not inspectable. Footer-only
    read, like :func:`timestamp_unit`."""
    schema = footer_schema(path)
    if schema is None:
        return None
    for name, typ in zip(schema.names, schema.types):
        if name.lower() == col.lower():
            return str(typ)
    return None


def _nanos_timestamp_columns(path: str) -> tuple[str, ...]:
    """Column names stored as parquet TIMESTAMP(NANOS) under ``path``.

    Footer-only read; returns () when pyarrow is unavailable or the path is
    not locally inspectable (in that case no repair is attempted).
    """
    import pyarrow as pa

    schema = footer_schema(path)
    if schema is None:
        return ()
    return tuple(
        name
        for name, typ in zip(schema.names, schema.types)
        if isinstance(typ, pa.TimestampType) and typ.unit == "ns"
    )


def epoch_unit_of(value: int) -> str:
    """Infer the epoch unit of an integer timestamp by magnitude: for any
    date between 1971 and 2262, epoch seconds are ~1e8-1e10, millis
    ~1e11-1e13, micros ~1e14-1e16, nanos ≥1e17 — the decades between the
    ranges make the inference unambiguous for plausible event times."""
    v = abs(int(value))
    if v >= 10**17:
        return "ns"
    if v >= 10**14:
        return "us"
    if v >= 10**11:
        return "ms"
    return "s"


def int64_epoch_unit(path: str, col: str) -> str | None:
    """Epoch unit ('s'/'ms'/'us'/'ns') of an int64 column under ``path``,
    sniffed from parquet row-group *statistics* (footer-only; no data pages
    read) via :func:`epoch_unit_of`. None when no row group publishes
    min/max for the column. An int64 event-time column is ambiguous by
    type alone — assuming one unit silently compresses/expands event time
    1000× when a legacy extract used another (the round-2 failure class)."""
    try:
        import pyarrow.parquet as pq

        resolved = _resolve_footer_path(path)
        if resolved is None:
            return None
        if os.path.isdir(resolved):
            # try every part until one publishes stats — a multi-partition
            # write commonly leads with EMPTY part files (0 row groups)
            parts = sorted(
                e.path
                for e in os.scandir(resolved)
                if e.name.endswith(".parquet")
            )
        else:
            parts = [resolved]
        for part in parts:
            md = pq.ParquetFile(part).metadata
            names = [n.lower() for n in md.schema.to_arrow_schema().names]
            if col.lower() not in names:
                return None
            idx = names.index(col.lower())
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is not None and st.has_min_max and st.max is not None:
                    return epoch_unit_of(st.max)
        return None
    except Exception as exc:
        _log.debug("int64 epoch unit of %s in %s not inspectable: %r", col, path, exc)
        return None


def lowercase_columns(df: DataFrame) -> DataFrame:
    """B9: normalize column names to lowercase (reference :97)."""
    lowered = [c.lower() for c in df.columns]
    if lowered == list(df.columns):
        return df
    return df.toDF(*lowered)


#: analyzed base-scan plans with their TIMESTAMP(NANOS) column names,
#: keyed on (session, path, mtime) — a DataFrame is an immutable logical
#: plan, so reusing one across queries is safe, and re-resolving a parquet
#: source costs a file listing + footer schema read per call (0.03-0.08s ×
#: tables × queries — the dominant plan-construction cost in multi-table
#: workloads). The mtime key gives the same regenerated-fixture freshness
#: contract as footer_schema; a hit costs one mtime walk.
_scan_cache: dict[tuple[int, str, int], tuple[DataFrame, tuple[str, ...]]] = {}


def _base_scan(spark: SparkSession, path: str) -> tuple[DataFrame, tuple[str, ...]]:
    key = (id(spark), path, _footer_mtime_ns(path))
    hit = _scan_cache.get(key)
    if hit is None:
        if len(_scan_cache) > 256:  # bound growth across many dirs/sessions
            _scan_cache.clear()
        nanos = tuple(c.lower() for c in _nanos_timestamp_columns(path))
        hit = _scan_cache[key] = (lowercase_columns(spark.read.parquet(path)), nanos)
    return hit


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_range: tuple[str, str | None, str | None] | None = None,
) -> DataFrame:
    """Load a named table from ``{sf_dir}/{name}.parquet``.

    Equivalent of the reference's generated full-object scan (A3,
    ``salesforce_to_s3_operator.py:186-188,201-202``): schema from storage,
    all columns available, pruning left to the optimizer. The analyzed
    base scan is memoized per (session, path, mtime) — the long-lived
    cluster's cached-catalog behavior — so repeated queries don't re-list
    and re-infer the same source.

    ``ts_range=(col, lo, hi)`` applies an event-time half-open range
    ``lo <= col < hi`` (either bound may be None) *scan-side*. This exists
    because nanos-encoded timestamp columns are repaired from raw longs
    (below), and a predicate on the repaired expression cannot push past the
    projection into the parquet scan — filtering the raw long against the
    epoch-nanos bounds keeps row-group min/max pruning, which at 100 TB of
    time-ordered events is the difference between scanning one day and
    scanning the table. For plain timestamp columns the same API applies an
    ordinary (pushable) timestamp predicate.
    """
    ensure_runtime_conf(spark)
    df, nanos_cols = _base_scan(spark, os.path.join(sf_dir, f"{name}.parquet"))

    if ts_range is not None:
        col, lo, hi = ts_range
        col = col.lower()
        raw = F.col(col)
        if col in nanos_cols:
            to_ns = lambda s: F.unix_micros(F.lit(s).cast("timestamp")) * 1000  # noqa: E731
        else:
            to_ns = lambda s: F.lit(s).cast("timestamp")  # noqa: E731
        if lo is not None:
            df = df.filter(raw >= to_ns(lo))
        if hi is not None:
            df = df.filter(raw < to_ns(hi))

    # Repair TIMESTAMP(NANOS) columns read as raw longs (see session.py):
    # integer-divide to micros (truncation, matching a ns→us timestamp cast)
    # and rebuild the timestamp, in one projection. Stays in whole-stage
    # codegen. `div` (integer division) — ns epochs exceed double's 2^53
    # exact range, so a float divide would corrupt the low-order digits.
    repair = {
        c: F.expr(f"timestamp_micros(`{c}` div 1000)") for c in nanos_cols if c in df.columns
    }
    return df.withColumns(repair) if repair else df


def fixture_relationships():
    """D8/D9 relationship metadata for the fixture star schema — the
    engine-side analog of Salesforce's describe() relationship info, used by
    the SOQL front door for dot-path lookups and nested child subselects."""
    from salesforce_plugin_spark.plans.soql import RelationshipRegistry

    return RelationshipRegistry(
        lookups={
            ("lineitem", "order"): ("orders", "l_orderkey", "o_orderkey"),
            ("lineitem", "part"): ("part", "l_partkey", "p_partkey"),
            ("lineitem", "supplier"): ("supplier", "l_suppkey", "s_suppkey"),
            ("orders", "customer"): ("customer", "o_custkey", "c_custkey"),
            ("customer", "nation"): ("nation", "c_nationkey", "n_nationkey"),
            ("supplier", "nation"): ("nation", "s_nationkey", "n_nationkey"),
            ("nation", "region"): ("region", "n_regionkey", "r_regionkey"),
        },
        children={
            ("orders", "lineitems"): ("lineitem", "l_orderkey", "o_orderkey"),
            ("customer", "orders"): ("orders", "o_custkey", "c_custkey"),
            ("nation", "customers"): ("customer", "c_nationkey", "n_nationkey"),
        },
        # TYPEOF metadata: events.user_id is modeled as a polymorphic
        # lookup ("who") whose runtime type is denoted by event_type —
        # 'click' rows reference a customer, 'error' rows a supplier,
        # 'signup' rows a nation (other event types resolve to no branch,
        # like an unregistered Salesforce object type).
        poly={
            ("events", "who"): (
                "user_id",
                "event_type",
                {
                    "customer": ("customer", "c_custkey", "click"),
                    "supplier": ("supplier", "s_suppkey", "error"),
                    "nation": ("nation", "n_nationkey", "signup"),
                },
            ),
        },
    )


#: partition counts memoized per DataFrame object — the ``.rdd`` probe
#: forces plan analysis + an RDD conversion (tens of ms over py4j), and
#: with base scans memoized the same plan object recurs across queries.
#: Built at import, so concurrent first callers share one cache.
_partition_count_cache: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def parallelized(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a scan whose input splits are coarser than the
    available cores.

    Parquet can't split below a row group, so a small-but-CPU-heavy input
    (text corpus, media payloads) stored as one row group pins the whole
    pipeline to one task. The repartition is applied ONLY when the scan has
    fewer partitions than requested — at real scale (many row groups/files)
    this is a no-op and no shuffle is added.
    """
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    n = _partition_count_cache.get(df)
    if n is None:
        n = df.rdd.getNumPartitions()
        try:
            _partition_count_cache[df] = n
        except TypeError:  # pragma: no cover — non-weakref-able df
            pass
    if n < min_partitions:
        return df.repartition(min_partitions)
    return df


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register each table as a temp view so ``spark.sql`` can address it."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
