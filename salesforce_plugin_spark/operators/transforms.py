"""Row/column transforms the reference plugin performs itself (SURVEY §2 C1-C8).

Each is a pure DataFrame→DataFrame (or Column) function, so Catalyst can fuse
them into the surrounding plan — where the reference ran these single-threaded
over pandas on one Airflow worker (its scalability cliff, SURVEY §6), here they
ride the distributed scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from salesforce_plugin_spark.functions.text import scrub_newlines  # C4 (re-export)

__all__ = [
    "flatten_relationship",
    "drop_attributes",
    "coerce_to_epoch_seconds",
    "decode_epoch_millis",
    "scrub_newlines",
    "add_fetch_time",
    "truncate_varchar",
    "nest_children",
]


def flatten_relationship(df: DataFrame, relationship_col: str) -> DataFrame:
    """C1: child rows replace parent rows.

    Reference: for each parent record, extract
    ``r[relationship_object]['records']`` and concatenate
    (``salesforce_to_s3_operator.py:96-102,148-162``). Here the nested child
    set is an ``array<struct>`` column; explode + star-expand. The reference's
    edge case — a parent with no children contributes nothing — matches
    ``explode`` (not ``explode_outer``) semantics.
    """
    child = "__child"
    return (
        df.select(F.explode(F.col(relationship_col)).alias(child))
        .select(f"{child}.*")
    )


def nest_children(
    parent: DataFrame,
    child: DataFrame,
    parent_key: str,
    child_fk: str,
    rel_name: str,
) -> DataFrame:
    """D9: the parent-to-child nested subquery form — one ``array<struct>``
    column of child records per parent row (SOQL
    ``SELECT …, (SELECT … FROM Contacts) FROM Account``), which C1's
    ``flatten_relationship`` then explodes back to rows.

    One shuffle (groupBy the FK) + a left join; parents without children get
    an empty/null array, matching SOQL.
    """
    nested = child.groupBy(F.col(child_fk).alias("__fk")).agg(
        F.collect_list(F.struct(*child.columns)).alias(rel_name)
    )
    return parent.join(nested, parent[parent_key] == nested["__fk"], "left").drop("__fk")


def drop_attributes(df: DataFrame, meta_cols: tuple[str, ...] = ("attributes",)) -> DataFrame:
    """C2: drop per-record metadata columns (contrib ``write_object_to_file``;
    call site ``salesforce_to_s3_operator.py:208-212``). Names match
    case-insensitively, as Spark's default resolver does, so an
    ``Attributes`` column is dropped too. Returns ``df`` itself when none
    is present, as ``df.drop()`` would build and analyze a new Dataset."""
    meta = {c.lower() for c in meta_cols}
    present = [c for c in df.columns if c.lower() in meta]
    return df.drop(*present) if present else df


def coerce_to_epoch_seconds(df: DataFrame, temporal_cols: list[str] | None = None) -> DataFrame:
    """C3: ``coerce_to_timestamp=True`` — date/dateTime fields → Unix epoch
    seconds, UTC (contrib; call site ``salesforce_to_s3_operator.py:109-113,211``).

    Columns default to every Timestamp/Date column in the schema, mirroring
    the reference's describe-metadata-driven field discovery.
    """
    if temporal_cols is None:
        temporal_cols = [
            f.name for f in df.schema.fields if f.dataType.typeName() in ("timestamp", "date")
        ]
    return df.withColumns({c: F.unix_seconds(F.col(c).cast("timestamp")) for c in temporal_cols})


def decode_epoch_millis(col: Column | str) -> Column:
    """C8: the load-side inverse — numeric epoch-millis → timestamp
    (COPY ``TIMEFORMAT 'epochmillisecs'``,
    ``salesforce_schema_to_redshift_operator.py:282``)."""
    return F.timestamp_millis(F.col(col) if isinstance(col, str) else col)


def add_fetch_time(df: DataFrame, col_name: str = "time_fetched_from_salesforce") -> DataFrame:
    """C5: ``record_time_added=True`` — extraction-timestamp column (contrib;
    call site ``salesforce_to_s3_operator.py:103-107,129,212``). The folded
    timestamp literal is inlined into generated code, so each call compiles."""
    return df.withColumn(col_name, F.current_timestamp())


def truncate_varchar(df: DataFrame, lengths: dict[str, int]) -> DataFrame:
    """C7: TRUNCATECOLUMNS semantics — oversize strings silently truncated to
    the column's declared length (``salesforce_schema_to_redshift_operator.py:283``)."""
    return df.withColumns({c: F.substring(F.col(c), 1, n) for c, n in lengths.items()})


def union_evolve(dfs: list[DataFrame]) -> DataFrame:
    """Schema-evolution-safe union: union inputs whose schemas drifted
    apart (the add-only column drift the reconciliation layer models,
    B5/B6) by aligning on the UNION of column names — a column missing
    from an input contributes NULLs. Column types for shared names must
    agree (mismatches raise from Spark's own analyzer rather than being
    silently coerced).

    This is the read-side counterpart of ALTER-TABLE drift handling:
    historical extract partitions written before a column existed stay
    readable next to current ones without a backfill. Pure projection +
    union — no shuffle, no data movement beyond the scan.

    Column order follows first appearance across ``dfs`` (stable, so
    downstream positional consumers are deterministic).
    """
    if not dfs:
        raise ValueError("union_evolve requires at least one DataFrame")
    all_cols: list[str] = []
    for d in dfs:
        for c in d.columns:
            if c not in all_cols:
                all_cols.append(c)
    aligned = [
        d.select(
            *[
                F.col(c) if c in d.columns else F.lit(None).alias(c)
                for c in all_cols
            ]
        )
        for d in dfs
    ]
    out = aligned[0]
    for d in aligned[1:]:
        out = out.unionByName(d)
    return out


def keyset_page(
    df: DataFrame,
    sort_cols: list[str],
    last_values: list | None,
    page_size: int,
) -> DataFrame:
    """Keyset (cursor) pagination: the first ``page_size`` rows
    STRICTLY AFTER the ``last_values`` tuple in ``sort_cols``
    lexicographic order — the scale-correct replacement for deep
    OFFSET (D17): OFFSET n scans-and-discards n rows on every page
    (O(depth) per page, and Spark must feed a single task to count
    them), while the keyset predicate is an OR-of-ANDs over the sort
    columns that PUSHES TO THE SCAN (row-group min/max skip everything
    before the cursor) and the sort+limit compiles to
    TakeOrderedAndProject — O(page) at any depth. The cursor for the
    next page is the last row's sort tuple; uniqueness of the full
    tuple (include a key column last) makes paging gap- and
    duplicate-free under concurrent appends beyond the cursor.

    NULL sort keys are handled under Spark's ascending default
    (NULLS FIRST): the per-column "greater" test treats any non-NULL
    as after NULL (``isNotNull`` when the cursor value is NULL) and a
    row-side NULL as before every non-NULL cursor value, and the
    per-column "equal" test is null-safe (``<=>``) — so a page
    boundary that falls among NULL-keyed rows resumes exactly after
    the cursor tuple instead of dropping the remaining NULL-keyed
    rows (the strict ``>``/``=`` form evaluates to NULL there and
    filters them out forever).

    ``last_values=None`` returns the first page.
    """
    if page_size < 1:
        raise ValueError("keyset_page requires page_size >= 1")
    if last_values is not None:
        if len(last_values) != len(sort_cols):
            raise ValueError("last_values must match sort_cols")

        def gt(i: int):
            # NULLS FIRST: col > NULL-cursor ⇔ col IS NOT NULL; a
            # NULL col is never after a non-NULL cursor value (the
            # plain `>` returns NULL there, which filter() drops —
            # correct, and now consistent with the <=> equality arm)
            if last_values[i] is None:
                return F.col(sort_cols[i]).isNotNull()
            return F.col(sort_cols[i]) > F.lit(last_values[i])

        pred = None
        for i in range(len(sort_cols)):
            clause = gt(i)
            for j in range(i):
                clause = (
                    F.col(sort_cols[j]).eqNullSafe(F.lit(last_values[j]))
                    & clause
                )
            pred = clause if pred is None else (pred | clause)
        df = df.filter(pred)
    return df.orderBy(*[F.col(c) for c in sort_cols]).limit(page_size)
