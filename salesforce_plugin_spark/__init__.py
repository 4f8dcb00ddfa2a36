"""salesforce_plugin_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the ``airflow-plugins/salesforce_plugin`` reference.

The reference (surveyed in SURVEY.md) is an Airflow ELT plugin that forwards all
query processing to Salesforce's SOQL executor and all bulk loading to Redshift
COPY. This package replaces those remote executors with Spark: the SOQL surface
(projection, predicates, joins, aggregates, sort/limit/offset, date functions)
is expressed as DataFrame plans optimized by Catalyst, the schema-reconciliation
machinery (describe → create/alter → aligned load) runs against the Spark catalog,
and the serialization transforms (epoch coercion, newline scrub, truncation,
relationship flattening) are column expressions.

Layout (import each name from the module that defines it, e.g.
``salesforce_plugin_spark.operators.elt.ObjectExtract``):
    session        SparkSession factory + runtime conf (UTC, AQE, parquet quirks)
    sources/       catalog (named parquet tables), io (csv/json/ndjson writers),
                   jdbc (JDBC DDL, scan and bulk load), salesforce_auth
    operators/     elt (the reference's three operators), transforms (C1-C8),
                   schema_reconcile (B1-B9: dt_conv, DDL generation, drift),
                   analytics, joins, merge, scd, timeseries, validate, ...
    functions/     vector math, text analysis, dedup (exact/minhash/simhash/
                   jaccard/embedding), graph, sketches, similarity search
    streaming/     windowed/watermarked/sessionized event processing, upsert sinks
    plans/         SOQL front door (string query → DataFrame plan)
    conformance/   the declared query registry checked against the DuckDB oracle
"""

from salesforce_plugin_spark.session import (
    configure_s3,
    ensure_runtime_conf,
    get_spark,
)

__all__ = ["get_spark", "ensure_runtime_conf", "configure_s3"]
__version__ = "0.1.0"
