"""ELT operator facades — the reference's three Airflow operators
re-expressed as Spark pipeline builders (SURVEY §3 lifecycle traces).

A user of the reference drives three operators; each has a drop-in
counterpart here with the same knobs:

| Reference operator | Here | Lifecycle |
|---|---|---|
| ``SalesforceBulkQueryToS3Operator`` (salesforce_to_s3_operator.py:12-57) | :class:`BulkQueryExtract` | SOQL → ndjson sink (§3.2) |
| ``SalesforceToS3Operator`` (:60-230) | :class:`ObjectExtract` | object/query → csv/json/ndjson with C1-C5 transforms (§3.1) |
| ``SalesforceSchemaToRedshiftOperator`` (salesforce_schema_to_redshift_operator.py) | :class:`SchemaReconcileLoad` | describe → DDL drift → aligned load (§3.3) |

Where the reference materializes the full result set in one worker process
(its scalability cliff — list→joined-string :54-55, pandas temp file
:208-212), these run the whole flow as one lazy DataFrame plan: executors
stream from source scan to sink, the driver only orchestrates.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from salesforce_plugin_spark import plans
from salesforce_plugin_spark.operators.schema_reconcile import (
    FieldDescriptor,
    from_describe,
    load_with_reconciliation,
)
from salesforce_plugin_spark.operators.transforms import (
    drop_attributes,
    flatten_relationship,
    truncate_varchar,
)
from salesforce_plugin_spark.plans.soql import assert_bulk_compatible
from salesforce_plugin_spark.sources import io as sinks
from salesforce_plugin_spark.sources.catalog import lowercase_columns

# ``plans.soql_to_df`` and ``sinks.write_*`` are looked up at call time, so
# a wrapper installed on those modules (a tracer) sees the facades' calls.

Resolver = Callable[[str], DataFrame]


def _default_resolver(spark: SparkSession) -> Resolver:
    def resolve(name: str) -> DataFrame:
        return spark.table(name.lower())

    return resolve


@dataclass
class BulkQueryExtract:
    """§3.2: arbitrary SOQL → ndjson at ``dest`` (the Bulk path's only
    format, salesforce_to_s3_operator.py:53-55), idempotent overwrite
    (``replace=True`` :57 → mode('overwrite')).

    The Bulk API's async batching (:47-50) is Spark's partitioned scan; no
    in-memory join of the result set ever happens.
    """

    soql: str
    dest: str
    resolve: Resolver | None = None

    def execute(self, spark: SparkSession) -> None:
        # Bulk-API fidelity: aggregates / GROUP BY / OFFSET are REST-only
        # (reference Bulk semantics, salesforce_to_s3_operator.py:50) —
        # rejected here with a typed error instead of server-side.
        assert_bulk_compatible(self.soql)
        df = plans.soql_to_df(spark, self.soql, resolve=self.resolve or _default_resolver(spark))
        sinks.write_ndjson(df, self.dest)


@dataclass
class ObjectExtract:
    """§3.1: the flagship extract — object scan or SOQL passthrough, the
    contrib write_object_to_file transform set, csv/json/ndjson sink.

    Knob parity with ``SalesforceToS3Operator``:
      object_name/fields → generated projection (:79-83, :201-202; no field
      list = all fields, A3); query → ``special_query`` passthrough
      (:195-199); relationship_object → C1 flatten (:96-102,148-162);
      fmt (:84-90); coerce_to_timestamp → C3 (:109-113);
      record_time_added → C5 (:103-107). The reference's CamelCase-mangling
      normalizer (C6, :44) is replaced by case-insensitive lookup.
    """

    object_name: str
    dest: str
    fields: list[str] | None = None
    query: str | None = None
    relationship_object: str | None = None
    fmt: str = "csv"
    coerce_to_timestamp: bool = False
    record_time_added: bool = False
    resolve: Resolver | None = None

    def build(self, spark: SparkSession) -> DataFrame:
        """The lazy plan for stages 3-7 of the reference lifecycle."""
        return lowercase_columns(drop_attributes(self._scan(spark)))

    def _scan(self, spark: SparkSession) -> DataFrame:
        """The extracted rows before C2 / B9 column normalization, which
        every sink applies itself."""
        resolve = self.resolve or _default_resolver(spark)
        if self.query:
            df = plans.soql_to_df(spark, self.query, resolve=resolve)
        else:
            df = resolve(self.object_name)
            if self.fields:
                df = df.select(*[f.lower() for f in self.fields])
        if self.relationship_object:
            df = flatten_relationship(df, self.relationship_object)
        return df

    def execute(self, spark: SparkSession) -> None:
        df = self._scan(spark)
        writer = {
            "csv": sinks.write_csv,
            "ndjson": sinks.write_ndjson,
            "json": sinks.write_json_array,
        }.get(self.fmt)
        if writer is None:
            raise ValueError(f"fmt must be csv|json|ndjson, got {self.fmt!r}")
        writer(
            df,
            self.dest,
            coerce_to_timestamp=self.coerce_to_timestamp,
            record_time_added=self.record_time_added,
        )


@dataclass
class SchemaReconcileLoad:
    """§3.3: describe-driven schema convergence + aligned load.

    ``describe_fields`` is the describe()['fields'] list (name/soapType/
    length/precision/compoundFieldName dicts, reference :84-106); compound
    pruning, dt_conv mapping, CREATE-vs-ALTER drift and dest-ordered aligned
    append all run via the schema_reconcile module. C7 truncation applies
    the descriptor lengths before load (TRUNCATECOLUMNS, :283).
    """

    table: str
    describe_fields: list[dict] = field(default_factory=list)

    def descriptors(self) -> list[FieldDescriptor]:
        return from_describe(self.describe_fields)

    def execute(self, spark: SparkSession, df: DataFrame) -> None:
        descs = self.descriptors()
        lengths = {
            d.name: n for d in descs if (n := d.effective_length()) is not None
        }
        df = lowercase_columns(df)
        if lengths:
            df = truncate_varchar(
                df, {c: n for c, n in lengths.items() if c in df.columns}
            )
        load_with_reconciliation(spark, df, self.table, descs)


__all__ = ["BulkQueryExtract", "ObjectExtract", "SchemaReconcileLoad"]
