"""B1-B9: type mapping, compound pruning, drift detection, DDL generation,
aligned loads (SURVEY §5.3) — including the reference's 65535→MAX boundary."""

from __future__ import annotations

import pyspark.sql.types as T
import pytest

from salesforce_plugin_spark.operators.schema_reconcile import (
    VARCHAR_MAX,
    FieldDescriptor,
    align_to_destination,
    alter_table_ddl,
    create_table_ddl,
    from_describe,
    missing_columns,
    reconcile_table,
    strip_soap_namespace,
)


def fd(name, soap, **kw):
    return FieldDescriptor(sf_name=name, soap_type=soap, **kw)


# --- B3: every dt_conv entry (SURVEY §1.2 table) ---------------------------

@pytest.mark.parametrize(
    "soap,expected",
    [
        ("boolean", T.BooleanType()),
        ("date", T.DateType()),
        ("dateTime", T.TimestampType()),
        ("double", T.DoubleType()),
        ("email", T.StringType()),
        ("id", T.StringType()),
        ("ID", T.StringType()),
        ("int", T.IntegerType()),
        ("picklist", T.StringType()),
        ("phone", T.StringType()),
        ("string", T.StringType()),
        ("textarea", T.StringType()),
        ("url", T.StringType()),
    ],
)
def test_soap_type_map(soap, expected):
    assert fd("f", soap).spark_type() == expected


def test_decimal_upgrade_when_precision_known():
    assert fd("f", "double", precision=18, scale=2).spark_type() == T.DecimalType(18, 2)


def test_unmapped_soap_type_falls_back_to_string():
    # reference dt_conv would KeyError on these (same gap); we degrade to string
    for soap in ["currency", "percent", "multipicklist", "combobox", "address", "time", "base64"]:
        assert fd("f", soap).spark_type() == T.StringType()


def test_varchar_sizing_and_max_boundary():
    assert fd("f", "string", length=255).ddl_type() == "VARCHAR(255)"
    assert fd("f", "string", length=VARCHAR_MAX).ddl_type() == f"VARCHAR({VARCHAR_MAX})"
    # > 65535 → MAX → unbounded STRING in a Spark catalog
    assert fd("f", "textarea", length=VARCHAR_MAX + 1).ddl_type() == "STRING"


def test_effective_length_clamps_over_cap():
    # TRUNCATECOLUMNS still truncates varchar(MAX) at the 65535 cap
    assert fd("f", "textarea", length=100000).effective_length() == VARCHAR_MAX
    assert fd("f", "string", length=50).effective_length() == 50
    assert fd("f", "email").effective_length() == 80
    assert fd("f", "int").effective_length() is None


def test_fixed_lengths():
    assert fd("f", "email").ddl_type() == "VARCHAR(80)"
    assert fd("f", "id").ddl_type() == "VARCHAR(100)"
    assert fd("f", "phone").ddl_type() == "VARCHAR(40)"
    assert fd("f", "url").ddl_type() == "VARCHAR(256)"


def test_strip_soap_namespace():
    assert strip_soap_namespace("xsd:string") == "string"
    assert strip_soap_namespace("tns:ID") == "ID"
    assert strip_soap_namespace("double") == "double"


# --- B1/B2: describe → descriptors with compound pruning -------------------

def test_compound_pruning_drops_parent_keeps_components():
    fields = [
        {"name": "BillingAddress", "soapType": "xsd:address"},
        {"name": "BillingCity", "soapType": "xsd:string", "length": 40,
         "compoundFieldName": "BillingAddress"},
        {"name": "Id", "soapType": "tns:ID"},
    ]
    descs = from_describe(fields)
    names = [d.sf_name for d in descs]
    assert "BillingAddress" not in names       # parent pruned
    assert "BillingCity" in names              # component kept
    assert "Id" in names


def test_descriptor_lowercases_destination_name():
    assert fd("SystemModstamp", "dateTime").name == "systemmodstamp"


# --- B4-B6: DDL + drift against a live catalog -----------------------------

def test_reconcile_create_then_alter_then_noop(spark):
    descs = [fd("Id", "id"), fd("Name", "string", length=80)]
    spark.sql("DROP TABLE IF EXISTS t_reconcile")
    done = reconcile_table(spark, "t_reconcile", descs)
    assert len(done) == 1 and done[0].startswith("CREATE TABLE IF NOT EXISTS")

    # add-only drift: one new field → exactly one ALTER
    descs2 = descs + [fd("Email", "email")]
    done2 = reconcile_table(spark, "t_reconcile", descs2)
    assert done2 == ["ALTER TABLE t_reconcile ADD COLUMNS (`email` VARCHAR(80))"]

    # idempotence: re-reconciling the same schema is a no-op
    assert reconcile_table(spark, "t_reconcile", descs2) == []
    spark.sql("DROP TABLE t_reconcile")


def test_missing_columns_is_add_only(spark):
    spark.sql("DROP TABLE IF EXISTS t_drift")
    spark.sql("CREATE TABLE t_drift (a INT, b STRING)")
    descs = [fd("A", "int"), fd("C", "string", length=10)]
    missing = missing_columns(spark, "t_drift", descs)
    assert [d.name for d in missing] == ["c"]  # dest-only column b is never dropped
    spark.sql("DROP TABLE t_drift")


def test_ddl_generation_strings():
    descs = [fd("Id", "id"), fd("N", "int")]
    assert create_table_ddl("s.t", descs) == (
        "CREATE TABLE IF NOT EXISTS s.t (`id` VARCHAR(100), `n` INT)"
    )
    assert alter_table_ddl("s.t", [fd("X", "boolean")]) == [
        "ALTER TABLE s.t ADD COLUMNS (`x` BOOLEAN)"
    ]


# --- B7-B9: aligned projection ---------------------------------------------

def test_to_describe_roundtrips_through_from_describe(spark):
    import pyspark.sql.types as T2

    from salesforce_plugin_spark.operators.schema_reconcile import to_describe

    schema = T2.StructType(
        [
            T2.StructField("Id", T2.LongType()),
            T2.StructField("Name", T2.StringType(), metadata={"length": 40}),
            T2.StructField("Score", T2.DecimalType(12, 2)),
            T2.StructField("When", T2.TimestampType()),
            T2.StructField("Ok", T2.BooleanType()),
        ]
    )
    descs = from_describe(to_describe(schema))
    by_name = {d.sf_name: d for d in descs}
    assert by_name["Id"].spark_type() == T.IntegerType()  # SOAP int
    assert by_name["Name"].ddl_type() == "VARCHAR(40)"
    assert by_name["Score"].spark_type() == T.DecimalType(12, 2)
    assert by_name["When"].spark_type() == T.TimestampType()
    assert by_name["Ok"].spark_type() == T.BooleanType()


def test_align_to_destination_orders_and_null_fills(spark):
    df = spark.createDataFrame([(1, "x")], ["B", "A"])  # uppercase, wrong order
    out = align_to_destination(df, ["a", "b", "c"])
    assert out.columns == ["a", "b", "c"]
    row = out.collect()[0]
    assert (row.a, row.b, row.c) == ("x", 1, None)


def test_jsonpaths_document_ordered_and_skips_unmapped():
    from salesforce_plugin_spark.operators.schema_reconcile import jsonpaths_document
    import json

    doc = jsonpaths_document(
        ["id", "name", "legacy_only", "email"],
        {"id": "Id", "name": "Name", "email": "Email"},
    )
    parsed = json.loads(doc)
    # dest order preserved; dest-only column skipped (B7 reference :250-269)
    assert parsed == {"jsonpaths": ["$['Id']", "$['Name']", "$['Email']"]}


def test_redshift_copy_command_shape():
    from salesforce_plugin_spark.operators.schema_reconcile import (
        redshift_copy_command,
    )

    cmd = redshift_copy_command(
        "analytics", "lead", ["Id", "Name"], "bkt/lead.json", "bkt/lead.jsonpath"
    )
    assert cmd.startswith("COPY analytics.lead (id, name)\nFROM 's3://bkt/lead.json'")
    # secrets hygiene: creds stay double-templated placeholders (E4)
    assert "{creds}" in cmd and "aws_secret_access_key={creds}" in cmd
    assert "TIMEFORMAT 'epochmillisecs'" in cmd
    assert "TRUNCATECOLUMNS COMPUPDATE OFF STATUPDATE OFF" in cmd


# --- §3.3 end to end: cost and case handling of the aligned load ----------

def test_two_phase_load_runs_one_spark_job_per_insert(spark):
    """CREATE from a describe list without the drift columns and load, then
    the full list (two ALTERs plus a null-filled compound component) and
    load again: the destination schema is read without Spark jobs, so the
    only jobs are the two ``insertInto`` writes."""
    from salesforce_plugin_spark.operators.elt import SchemaReconcileLoad

    describe = [
        {"name": "C_CustKey", "soapType": "xsd:int"},
        {"name": "C_Name", "soapType": "xsd:string", "length": 40},
        {"name": "C_NationKey", "soapType": "xsd:int"},
        {"name": "C_AcctBal", "soapType": "xsd:double"},
        {"name": "C_MktSegment", "soapType": "xsd:picklist", "length": 20},
        {"name": "BillingAddress", "soapType": "urn:address"},
        {"name": "BillingCity", "soapType": "xsd:string", "length": 40,
         "compoundFieldName": "BillingAddress"},
    ]
    drift = ["c_nationkey", "c_mktsegment"]
    base = spark.createDataFrame(
        [(1, "a", 7, 1.5, "AUTO"), (2, "b", 8, 2.5, "BUILDING")],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double, "
        "c_mktsegment string",
    )
    first = [d for d in describe if d["name"].lower() not in drift]
    spark.sql("DROP TABLE IF EXISTS t_two_phase")
    sc, group = spark.sparkContext, "test_two_phase_load"
    sc.setJobGroup(group, "two-phase reconcile load")
    try:
        SchemaReconcileLoad("t_two_phase", first).execute(spark, base.drop(*drift))
        SchemaReconcileLoad("t_two_phase", describe).execute(spark, base)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    rows = spark.table("t_two_phase").orderBy("c_custkey", "c_nationkey").collect()
    assert [tuple(r) for r in rows] == [
        (1, "a", 1.5, None, None, None), (1, "a", 1.5, None, 7, "AUTO"),
        (2, "b", 2.5, None, None, None), (2, "b", 2.5, None, 8, "BUILDING"),
    ]
    spark.sql("DROP TABLE t_two_phase")


def test_load_into_mixed_case_destination_keeps_values(spark):
    """Destination columns declared in mixed case match a lower-case source
    frame case-insensitively: values land, not NULLs."""
    from salesforce_plugin_spark.operators.schema_reconcile import (
        load_with_reconciliation,
    )

    spark.sql("DROP TABLE IF EXISTS t_mixed_case")
    spark.sql("CREATE TABLE t_mixed_case (Id INT, Name STRING)")
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, name string")
    load_with_reconciliation(
        spark, df, "t_mixed_case", [fd("Id", "int"), fd("Name", "string")]
    )
    rows = spark.table("t_mixed_case").orderBy("id").collect()
    assert [tuple(r) for r in rows] == [(1, "x"), (2, "y")]
    spark.sql("DROP TABLE t_mixed_case")
