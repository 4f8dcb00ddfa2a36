"""Schema reconciliation: the reference's schema-on-read → schema-on-write
convergence loop, re-expressed against the Spark catalog (SURVEY §1.3, §2 B1-B9).

Reference flow (``salesforce_schema_to_redshift_operator.py``):
  describe() fields (:88) → compound-field pruning (:90-94,106) → descriptor
  projection (:96-103) → dt_conv type mapping (:41-55) → CREATE TABLE IF NOT
  EXISTS (:108-128) or add-only ALTER diff (:130-151,179-188) → dest-ordered
  column alignment (JSONPaths :217-269 / COPY intersection :322-326).

Here: descriptors become StructFields with length/precision metadata, DDL runs
through ``spark.sql`` on the session catalog, and the whole JSONPath apparatus
collapses into ``df.select(*dest_order)`` + ``unionByName`` — ordered column
alignment is native to DataFrames.

Evolution is **add-only** (columns never dropped or retyped), exactly like the
reference — that invariant is what makes reconciliation idempotent and safe to
re-run (property-tested in tests/test_schema_reconcile.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from salesforce_plugin_spark.sources.catalog import lowercase_columns

# ---------------------------------------------------------------------------
# B3: the dt_conv type contract (reference :41-55 → SURVEY §1.2 table)
# ---------------------------------------------------------------------------

#: Salesforce SOAP type → (Spark DataType, default length). Lengths ride along
#: as metadata (B2) and drive C7 truncation; ``precision`` is captured like the
#: reference does but — improving on it — decimals with explicit precision map
#: to DecimalType instead of degrading to double.
SOAP_TO_SPARK: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "dateTime": T.TimestampType(),
    "double": T.DoubleType(),
    "email": T.StringType(),   # varchar(80)
    "id": T.StringType(),      # varchar(100)
    "ID": T.StringType(),
    "int": T.IntegerType(),
    "picklist": T.StringType(),
    "phone": T.StringType(),   # varchar(40)
    "string": T.StringType(),
    "textarea": T.StringType(),
    "url": T.StringType(),     # varchar(256)
}

#: Fixed lengths the reference hard-codes (:46-48,:51,:54).
FIXED_LENGTHS = {"email": 80, "id": 100, "ID": 100, "phone": 40, "url": 256}

#: varchar sizing cap: lengths beyond this become unbounded ("MAX", :50,:52-53).
VARCHAR_MAX = 65535


@dataclass
class FieldDescriptor:
    """B2: one describe() field → destination descriptor
    (reference :96-103: ``{rs_name, sf_name, path, type, length, precision}``)."""

    sf_name: str
    soap_type: str
    length: int | None = None
    precision: int | None = None
    scale: int | None = None
    compound_field_name: str | None = None

    @property
    def name(self) -> str:
        """B9: destination names are lowercased (reference :97)."""
        return self.sf_name.lower()

    def spark_type(self) -> T.DataType:
        if self.soap_type == "double" and self.precision:
            return T.DecimalType(self.precision, self.scale or 0)
        # Unmapped SOAP types (reference, currency, percent, multipicklist,
        # combobox, address, time, base64, …) fall back to StringType — the
        # reference's dt_conv would KeyError here (same gap,
        # salesforce_schema_to_redshift_operator.py:41-55); a string column
        # is always loadable and preserves the raw value.
        return SOAP_TO_SPARK.get(self.soap_type, T.StringType())

    def ddl_type(self, dialect: str = "spark") -> str:
        """Type string for CREATE/ALTER DDL, carrying the reference's varchar
        sizing semantics (MAX → unbounded STRING in a Spark catalog).

        ``dialect="redshift"`` emits the Postgres-protocol warehouse types
        the reference's dt_conv produced
        (salesforce_schema_to_redshift_operator.py:41-55): unbounded /
        over-cap strings become ``VARCHAR(65535)`` (its ``varchar(MAX)``)
        and doubles become ``FLOAT8`` — the dialect the
        tests/test_postgres_integration.py drive executes against a real
        Postgres server."""
        t = self.spark_type()
        if isinstance(t, T.StringType):
            n = FIXED_LENGTHS.get(self.soap_type, self.length)
            if n and n <= VARCHAR_MAX:
                return f"VARCHAR({n})"
            return "STRING" if dialect == "spark" else f"VARCHAR({VARCHAR_MAX})"
        if dialect != "spark" and isinstance(t, T.DoubleType):
            return "FLOAT8"
        return t.simpleString().upper()

    def effective_length(self) -> int | None:
        """Length used for C7 truncation-on-load.

        Over-cap lengths clamp to VARCHAR_MAX rather than disabling
        truncation: the reference's varchar(MAX) + TRUNCATECOLUMNS
        (salesforce_schema_to_redshift_operator.py:50,283) still truncates
        oversize textarea/string values at the 65535 cap.
        """
        if not isinstance(self.spark_type(), T.StringType):
            return None
        n = FIXED_LENGTHS.get(self.soap_type, self.length)
        if not n:
            return None
        return min(n, VARCHAR_MAX)


def strip_soap_namespace(soap_type: str) -> str:
    """``xsd:string`` → ``string`` (reference :100: ``soapType.split(':')[-1]``)."""
    return soap_type.split(":")[-1]


def from_describe(fields: list[dict]) -> list[FieldDescriptor]:
    """Build descriptors from describe()-shaped dicts, applying B1 compound
    pruning: drop every field whose *name* is some field's compoundFieldName
    (reference :90-94,106 — Address/Name parents go, their components stay)."""
    compounds = {f.get("compoundFieldName") for f in fields} - {None}
    return [
        FieldDescriptor(
            sf_name=f["name"],
            soap_type=strip_soap_namespace(f["soapType"]),
            length=f.get("length"),
            precision=f.get("precision"),
            scale=f.get("scale"),
            compound_field_name=f.get("compoundFieldName"),
        )
        for f in fields
        if f["name"] not in compounds
    ]


#: Spark type name → SOAP type for the reverse mapping (A4's describe output
#: synthesized from a Spark schema — lets any DataFrame play the role of a
#: described Salesforce object in the reconciliation lifecycle).
_SPARK_TO_SOAP = {
    "boolean": "boolean",
    "date": "date",
    "timestamp": "dateTime",
    "double": "double",
    "float": "double",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "long": "int",
    "string": "string",
}


def to_describe(schema: T.StructType) -> list[dict]:
    """A4 inverse: synthesize describe()-shaped field dicts from a Spark
    schema (name/soapType/length/precision), so sources without a Salesforce
    describe endpoint (parquet, JDBC) enter the same reconcile lifecycle.
    Length/precision ride along from field metadata when present."""
    out = []
    for f in schema.fields:
        if isinstance(f.dataType, T.DecimalType):
            soap, precision, scale = "double", f.dataType.precision, f.dataType.scale
        else:
            soap = _SPARK_TO_SOAP.get(f.dataType.typeName(), "string")
            precision = f.metadata.get("precision") if f.metadata else None
            scale = f.metadata.get("scale") if f.metadata else None
        entry = {"name": f.name, "soapType": f"xsd:{soap}"}
        if f.metadata and "length" in f.metadata:
            entry["length"] = f.metadata["length"]
        if precision is not None:
            entry["precision"] = precision
        if scale is not None:
            entry["scale"] = scale
        out.append(entry)
    return out


# ---------------------------------------------------------------------------
# B4-B6: DDL generation + drift detection against the Spark catalog
# ---------------------------------------------------------------------------

def create_table_ddl(
    table: str, descs: list[FieldDescriptor], dialect: str = "spark"
) -> str:
    """B4 (reference :108-128). ``dialect="redshift"`` renders the
    reference's unquoted-identifier Postgres-protocol form (names are
    already lowercased by B9, so quoting is unnecessary there)."""
    if dialect == "spark":
        cols = ", ".join(f"`{d.name}` {d.ddl_type()}" for d in descs)
    else:
        cols = ", ".join(f"{d.name} {d.ddl_type(dialect)}" for d in descs)
    return f"CREATE TABLE IF NOT EXISTS {table} ({cols})"


def missing_columns(spark: SparkSession, table: str, descs: list[FieldDescriptor]) -> list[FieldDescriptor]:
    """B5 (reference :179-188): source-minus-destination, add-only, against the
    analyzed table's columns (no Spark job, unlike ``catalog.listColumns``)."""
    existing = {c.lower() for c in spark.table(table).columns}
    return [d for d in descs if d.name not in existing]


def alter_table_ddl(
    table: str, missing: list[FieldDescriptor], dialect: str = "spark"
) -> list[str]:
    """B6 (reference :130-151): one ADD statement per missing column —
    Spark's ``ADD COLUMNS (…)`` or the warehouse's ``ADD COLUMN name type``
    (reference :140, one ALTER per column)."""
    if dialect == "spark":
        return [
            f"ALTER TABLE {table} ADD COLUMNS (`{d.name}` {d.ddl_type()})"
            for d in missing
        ]
    return [
        f"ALTER TABLE {table} ADD COLUMN {d.name} {d.ddl_type(dialect)}"
        for d in missing
    ]


def reconcile_table(spark: SparkSession, table: str, descs: list[FieldDescriptor]) -> list[str]:
    """The CREATE-vs-ALTER decision (reference :179-188). Returns the DDL it
    executed (for observability, standing in for the reference's XCom push)."""
    executed: list[str] = []
    if not spark.catalog.tableExists(table):
        ddl = create_table_ddl(table, descs)
        spark.sql(ddl)
        executed.append(ddl)
        return executed
    for ddl in alter_table_ddl(table, missing_columns(spark, table, descs)):
        spark.sql(ddl)
        executed.append(ddl)
    return executed


# ---------------------------------------------------------------------------
# B7-B9: ordered alignment (the JSONPath replacement)
# ---------------------------------------------------------------------------

def align_to_destination(df: DataFrame, dest_order: list[str]) -> DataFrame:
    """B7+B8: project the intersection of destination and source columns in
    destination order (reference :217-269 JSONPaths + :322-326 COPY list),
    null-filling destination columns the source lacks — the observable effect
    of Redshift COPY skipping unlisted columns."""
    df = lowercase_columns(df)
    src = set(df.columns)
    # null-filled drift columns are typed (string, the always-loadable
    # fallback B3 uses for unmapped types) rather than VOID — Spark's file
    # sinks (CSV among them) reject VOID columns, and a COPY-bound CSV
    # renders a typed NULL as the same empty cell
    cols = [
        F.col(c) if c in src else F.lit(None).cast("string").alias(c)
        for c in [c.lower() for c in dest_order]
    ]
    return df.select(*cols)


def jsonpaths_document(
    dest_order: list[str], sf_names: dict[str, str]
) -> str:
    """B7: the Redshift JSONPath mapping document (reference :217-269) —
    ``{"jsonpaths": ["$['Field']", …]}`` ordered by destination ordinal
    position, skipping destination columns with no source path. Needed only
    when driving a *real* Redshift COPY; Spark-side loads use
    ``align_to_destination`` instead. The reference's trailing-comma bug
    (:245 strips the *first* comma of the last path) is not reproduced.

    ``sf_names`` maps destination (lowercase) name → source-JSON field name.
    """
    import json

    paths = [
        f"$['{sf_names[c]}']"
        for c in (c.lower() for c in dest_order)
        if c in sf_names
    ]
    return json.dumps({"jsonpaths": paths})


def redshift_copy_command(
    schema: str,
    table: str,
    columns: list[str],
    s3_key: str,
    jsonpath_key: str,
) -> str:
    """A10/E4: the COPY command the reference builds and XCom-pushes
    (salesforce_schema_to_redshift_operator.py:271-294,328-336) for a
    downstream task to execute — column list = dest ∩ source in dest order
    (B8, :322-326), epoch-millis timestamps (C8, :282), TRUNCATECOLUMNS
    (C7, :283), stats/compression analysis off (:284-285). Credentials stay
    ``{creds}`` placeholders exactly like the reference's double-templating
    (:276-279), so the rendered artifact is secret-free until the executing
    task formats it."""
    cols = ", ".join(c.lower() for c in columns)
    return (
        f"COPY {schema}.{table} ({cols})\n"
        f"FROM 's3://{s3_key}'\n"
        "credentials 'aws_access_key_id={creds};aws_secret_access_key={creds}'\n"
        f"JSON 's3://{jsonpath_key}'\n"
        "TIMEFORMAT 'epochmillisecs'\n"
        "TRUNCATECOLUMNS COMPUPDATE OFF STATUPDATE OFF"
    )


def load_with_reconciliation(
    spark: SparkSession, df: DataFrame, table: str, descs: list[FieldDescriptor]
) -> None:
    """End-to-end §3.3 restatement: reconcile DDL, then append through one
    projection of the destination schema read after the DDL — each field, in
    destination order, takes the same-named source column (matched
    case-insensitively) or a NULL, cast to the field's type."""
    reconcile_table(spark, table, descs)
    src = {c.lower() for c in df.columns}
    cols = [
        (F.col(f.name) if f.name.lower() in src else F.lit(None))
        .cast(f.dataType).alias(f.name)
        for f in spark.table(table).schema.fields
    ]
    df.select(*cols).write.mode("append").insertInto(table)
