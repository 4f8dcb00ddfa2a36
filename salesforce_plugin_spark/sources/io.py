"""Result-set sinks: csv / json-array / ndjson with idempotent overwrite
(SURVEY §2 A5-A7, A11-A13, E5).

The reference spools query results to a temp file and uploads to S3 with
``replace=True`` (``salesforce_to_s3_operator.py:173,206-226``). Spark writes
straight from executors to the destination filesystem (``s3a://`` in
production, local paths in tests) — no driver spool, no single-node
materialization. ``mode('overwrite')`` is the ``replace=True`` analog.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from salesforce_plugin_spark.functions.text import scrub_newlines
# not add_fetch_time: its inlined timestamp literal compiles anew per call
from salesforce_plugin_spark.operators.transforms import (
    coerce_to_epoch_seconds,
    drop_attributes,
)
from salesforce_plugin_spark.sources.catalog import lowercase_columns

#: The csv / json writers' default ``timestampFormat``; the fetch time is
#: written as this text, so the bytes match a TimestampType column's.
WRITER_TIMESTAMP_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"


def _prepare(
    df: DataFrame,
    coerce_to_timestamp: bool = False,
    record_time_added: bool = False,
) -> DataFrame:
    """The contrib ``write_object_to_file`` pre-write pipeline (call site
    ``salesforce_to_s3_operator.py:208-212``): drop metadata, lowercase
    headers, optional epoch coercion (C3) and fetch-time column (C5).

    The C5 column is the fetch time already rendered as the writers'
    timestamp text (:data:`WRITER_TIMESTAMP_FORMAT`), so the sinks write the
    same bytes as for a TimestampType column. The optimizer folds it to a
    string literal, which generated code reads from its references array;
    a folded timestamp is inlined as a ``long`` constant instead, so each
    call would compile new classes that no later call can reuse."""
    df = lowercase_columns(drop_attributes(df))
    if coerce_to_timestamp:
        df = coerce_to_epoch_seconds(df)
    if record_time_added:
        df = df.withColumn(
            "time_fetched_from_salesforce",
            F.date_format(F.current_timestamp(), WRITER_TIMESTAMP_FORMAT),
        )
    return df


def write_csv(df: DataFrame, path: str, **opts) -> None:
    """A11: CSV with header, newline-scrubbed string cells (C4) so rows stay
    single-line, overwrite-idempotent."""
    df = _prepare(df, **opts)
    strings = [f.name for f in df.schema.fields if f.dataType.typeName() == "string"]
    df = df.withColumns({c: scrub_newlines(F.col(c)) for c in strings})
    df.write.mode("overwrite").option("header", True).csv(path)


def write_ndjson(df: DataFrame, path: str, **opts) -> None:
    """A13: one JSON object per line — Spark's native JSON sink *is* ndjson;
    UTF-8 by default (the reference's ``ensure_ascii=False``,
    ``salesforce_to_s3_operator.py:53-55``)."""
    _prepare(df, **opts).write.mode("overwrite").json(path)


def write_json_array(
    df: DataFrame, path: str, order_by: list[str] | None = None, **opts
) -> None:
    """A12: single JSON array of records. Deliberately small-result-only (the
    one non-scalable format, kept for parity with ``fmt='json'``): collapses
    to one file via a single-partition write. Do not point this at 100 TB.

    Record order is made deterministic by sorting within the single output
    partition on ``order_by`` (default: all columns) before concatenation —
    ``collect_list`` alone would inherit partition arrival order, which
    varies run to run, unlike the reference's ordered ``json.dumps`` spool.
    """
    prepared = _prepare(df, **opts)
    keys = order_by if order_by is not None else list(prepared.columns)
    single = prepared.coalesce(1).sortWithinPartitions(*keys)
    arr = single.agg(
        F.concat(
            F.lit("["),
            F.concat_ws(",", F.collect_list(F.to_json(F.struct(*prepared.columns)))),
            F.lit("]"),
        ).alias("value")
    )
    arr.coalesce(1).write.mode("overwrite").text(path)
