"""A5-A13 sinks (csv/ndjson/json-array round-trips, deterministic order) and
F4 multimodal plumbing (payload stats, stubbed decoders)."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re
import tempfile

import pyspark.sql.functions as F
import pytest

from salesforce_plugin_spark.functions.multimodal import (
    decode_audio,
    decode_image,
    frame_sample_plan,
    payload_stats,
)
from salesforce_plugin_spark.operators.elt import BulkQueryExtract, ObjectExtract
from salesforce_plugin_spark.sources.io import (
    WRITER_TIMESTAMP_FORMAT,
    write_csv,
    write_json_array,
    write_ndjson,
)


def sample_df(spark):
    return spark.createDataFrame(
        [(2, "B\nB", {"type": "T"}), (1, "a", {"type": "T"})],
        "ID long, Txt string, attributes map<string,string>",
    )


def read_text(path):
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    return "".join(open(p).read() for p in parts)


def test_write_csv_scrubs_newlines_and_lowercases(spark, tmp_path):
    out = str(tmp_path / "csv")
    write_csv(sample_df(spark), out)
    text = read_text(out)
    header = text.splitlines()[0]
    assert header == "id,txt"           # attributes dropped, names lowercased
    assert "BB" in text and "B\nB" not in text


def test_write_ndjson_roundtrip(spark, tmp_path):
    out = str(tmp_path / "nd")
    write_ndjson(sample_df(spark), out)
    lines = [json.loads(x) for x in read_text(out).strip().splitlines()]
    assert sorted(x["id"] for x in lines) == [1, 2]
    assert all("attributes" not in x for x in lines)


def test_write_json_array_deterministic_order(spark, tmp_path):
    df = sample_df(spark).repartition(4)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_json_array(df, a, order_by=["id"])
    write_json_array(df, b, order_by=["id"])
    ja, jb = read_text(a), read_text(b)
    assert ja == jb                      # run-to-run deterministic
    arr = json.loads(ja)
    assert [x["id"] for x in arr] == [1, 2]


def test_write_csv_overwrite_idempotent(spark, tmp_path):
    out = str(tmp_path / "ow")
    write_csv(sample_df(spark), out)
    write_csv(sample_df(spark), out)     # E5: replace=True analog
    assert read_text(out).splitlines()[0] == "id,txt"


# --- C5 fetch time -----------------------------------------------------------

FETCH_TIME_RE = re.compile(r"^\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d\.\d{3}Z$")

#: microseconds, a whole second, the last microsecond, 1 ms
FIXED_TIMES = [
    dt.datetime(2021, 3, 4, 5, 6, 7, 123456),
    dt.datetime(2021, 3, 4, 5, 6, 7),
    dt.datetime(2021, 3, 4, 5, 6, 7, 999999),
    dt.datetime(2021, 3, 4, 5, 6, 7, 1000),
]


def sink_cells(fmt, path, col):
    """The ``col`` cells a csv / ndjson / json sink wrote, as text."""
    text = read_text(path)
    if fmt == "csv":  # every part file starts with the header
        header, *lines = text.splitlines()
        i = header.split(",").index(col)
        return [line.split(",")[i] for line in lines if line != header]
    if fmt == "ndjson":
        return [json.loads(line)[col] for line in text.splitlines()]
    return [rec[col] for rec in json.loads(text)]


def test_writer_timestamp_format_is_the_sinks_timestamp_text(spark, tmp_path):
    """The fetch time's ``date_format`` text equals what each sink writes for
    a TimestampType value, so a Spark upgrade that changes the writers'
    default shows here."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(FIXED_TIMES)], "k long, t timestamp"
    ).coalesce(1)
    want = [r.s for r in df.select(F.date_format("t", WRITER_TIMESTAMP_FORMAT).alias("s")).collect()]
    assert len(set(want)) == len(FIXED_TIMES)
    for fmt, writer in (("csv", write_csv), ("ndjson", write_ndjson), ("json", write_json_array)):
        out = str(tmp_path / fmt)
        writer(df, out)
        assert sink_cells(fmt, out, "t") == want, fmt


@pytest.fixture(scope="module")
def repeated_extracts(spark, tmp_path_factory):
    """Each extract run twice into fresh destinations; returns, per extract,
    the Janino compile count of the second call and its output dir."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    acct = spark.createDataFrame(
        [(i, f"n{i}\r\nx", FIXED_TIMES[i % 4]) for i in range(20)],
        "Id long, Name string, Created timestamp",
    )
    resolve = lambda name: acct  # noqa: E731
    base = tmp_path_factory.mktemp("repeat")
    runs = {}
    for label in ("csv", "ndjson", "json", "bulk"):
        compiles = []
        for k in range(2):
            dest = str(base / f"{label}{k}")
            if label == "bulk":
                op = BulkQueryExtract("SELECT Id, Name FROM Account", dest, resolve=resolve)
            else:
                op = ObjectExtract(
                    "Account", dest, fmt=label, coerce_to_timestamp=True,
                    record_time_added=True, resolve=resolve,
                )
            before = codegen.METRIC_COMPILATION_TIME().getCount()
            op.execute(spark)
            compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
        runs[label] = (compiles[1], dest)
    return runs


def test_repeated_extract_compiles_nothing(repeated_extracts):
    """A second identical extract reuses every generated class: nothing
    call-specific (such as the fetch time) is inlined into the code."""
    assert {k: n for k, (n, _) in repeated_extracts.items()} == {
        "csv": 0, "ndjson": 0, "json": 0, "bulk": 0,
    }


@pytest.mark.parametrize("fmt", ["csv", "ndjson", "json"])
def test_extract_writes_fetch_time_as_writer_text(repeated_extracts, fmt):
    cells = sink_cells(fmt, repeated_extracts[fmt][1], "time_fetched_from_salesforce")
    assert len(cells) == 20
    assert all(FETCH_TIME_RE.match(c) for c in cells), cells[:3]


# --- F4 multimodal ----------------------------------------------------------

def test_payload_stats_real_pipeline(spark):
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(1, "hello"), (2, "")], ["doc_id", "t"]).select(
        "doc_id", F.col("t").cast("binary").alias("payload")
    )
    rows = {r.doc_id: r for r in payload_stats(df, "doc_id", "payload").collect()}
    assert rows[1].byte_len == 5
    assert rows[1].payload_md5 == "5d41402abc4b2a76b9719d911017c592"  # md5('hello')
    assert rows[2].byte_len == 0


def test_decoders_are_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        decode_audio(b"RIFF")
    # injected decoder passes through
    assert decode_image(b"x", decoder=lambda b: ("img", len(b))) == ("img", 1)


def test_byte_histogram_features(spark):
    import pyspark.sql.functions as F

    from salesforce_plugin_spark.functions.multimodal import byte_histogram

    df = spark.createDataFrame(
        [(1, bytes([0, 0, 16, 255])), (2, b"")], ["doc_id", "p"]
    )
    out = byte_histogram(df, "doc_id", "p", n_bins=16)
    assert [f.name for f in out.schema.fields] == ["doc_id", "bin", "n"]
    rows = {(r.doc_id, r.bin): r.n for r in out.collect()}
    # exploded long form: all 16 bins per doc, zeros included
    assert len(rows) == 32
    # bytes 0,0 → bin 0; 16 → bin 1; 255 → bin 15
    assert rows[(1, 0)] == 2 and rows[(1, 1)] == 1 and rows[(1, 15)] == 1
    assert sum(n for (d, _), n in rows.items() if d == 1) == 4
    # empty payload → all-zero bins, still 16 rows
    assert all(rows[(2, b)] == 0 for b in range(16))


def test_histogram_output_survives_pandas_canonicalization(spark):
    """Replica of the driver's failure mode: its checker canonicalizes the
    result as a pandas frame (sort_values over all columns). The round-3
    array<long> output crashed that with 'unhashable type: numpy.ndarray';
    the exploded long form must sort/factorize cleanly."""
    import pandas as pd

    from salesforce_plugin_spark.functions.multimodal import byte_histogram

    df = spark.createDataFrame(
        [(2, b"ab"), (1, bytes([255, 0]))], ["doc_id", "p"]
    )
    pdf = byte_histogram(df, "doc_id", "p", n_bins=16).toPandas()
    out = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    # factorize every column — what a hash-based canonicalizer does
    for c in out.columns:
        pd.factorize(out[c])
    assert len(out) == 32 and out["n"].sum() == 4


def test_resize_plan_with_fake_decoder_and_resizer(spark):
    import pyspark.sql.functions as F

    from salesforce_plugin_spark.functions.multimodal import resize_image_plan

    df = spark.createDataFrame([(1, b"imagebytes")], ["doc_id", "p"])
    out = resize_image_plan(
        df, "doc_id", "p", size=(4, 2),
        decoder=lambda b: b.upper(),                # fake "decoded image"
        resizer=lambda img, sz: img[: sz[0] * sz[1]],  # fake "resize"
    ).collect()[0]
    assert bytes(out.resized) == b"IMAGEBYT"
    assert (out.width, out.height) == (4, 2)
    # without an injected resizer the stub refuses loudly
    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|resiz"):
        resize_image_plan(
            df, "doc_id", "p", decoder=lambda b: b
        ).collect()


def test_frame_sample_plan_with_fake_decoder(spark):
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(1, "abcdef")], ["doc_id", "t"]).select(
        "doc_id", F.col("t").cast("binary").alias("payload")
    )
    # fake decoder: one "frame" per byte
    out = frame_sample_plan(
        df, "doc_id", "payload", every_nth=2,
        decoder=lambda b: [bytes([x]) for x in b],
    ).collect()
    assert [bytes(r.frame) for r in out] == [b"a", b"c", b"e"]
    assert [r.frame_no for r in out] == [0, 1, 2]


def test_capitalized_attributes_column_is_dropped_by_sinks(spark, tmp_path):
    """Spark resolves ``drop("attributes")`` case-insensitively, so the
    metadata column is dropped whatever its case, by the extract and by a
    direct sink call alike."""
    df = spark.createDataFrame(
        [(1, {"type": "T"})], "Id long, Attributes map<string,string>"
    )
    csv_out = str(tmp_path / "csv")
    ObjectExtract("Account", csv_out, fmt="csv", resolve=lambda name: df).execute(spark)
    assert read_text(csv_out).splitlines()[0] == "id"
    nd_out = str(tmp_path / "nd")
    write_ndjson(df, nd_out)
    assert [json.loads(x) for x in read_text(nd_out).splitlines()] == [{"id": 1}]


# --- the Arrow payload stage ------------------------------------------------

def bmp_payloads(spark, n_partitions):
    """Six (doc_id, BMP payload) rows of different heights."""
    import numpy as np

    from salesforce_plugin_spark.functions.multimodal import encode_bmp

    rows = [
        (i, encode_bmp(np.arange(12 * (i + 1), dtype=np.uint8).reshape(-1, 4, 3) + i))
        for i in range(6)
    ]
    return spark.createDataFrame(rows, "doc_id long, payload binary").repartition(n_partitions)


def test_payload_stage_emits_declared_integer_types(spark):
    """int columns come out as int, long columns as long, whatever numpy
    dtype the per-payload function returns (here uint8, Python int and
    the float64 of a weighted bincount)."""
    import numpy as np
    import pyspark.sql.types as T

    from salesforce_plugin_spark.functions.multimodal import _payload_stage

    def per_payload(doc_id, p):
        b = np.frombuffer(p, dtype=np.uint8)
        total = np.bincount(np.zeros(len(b), dtype=int), weights=b)  # float64
        return b, [doc_id * 2**40] * len(b), np.repeat(total, len(b))

    df = spark.createDataFrame([(3, b"\x01\xff")], "doc_id long, p binary")
    out = _payload_stage(df, "doc_id", "p", "doc_id long, v int, big long, total long", per_payload)
    assert [f.dataType for f in out.schema.fields] == [
        T.LongType(), T.IntegerType(), T.LongType(), T.LongType()
    ]
    assert sorted(tuple(r) for r in out.collect()) == [
        (3, 1, 3 * 2**40, 256), (3, 255, 3 * 2**40, 256)
    ]
    assert all(type(x) is int for r in out.collect() for x in r)


def test_payload_stage_explode_is_partition_invariant(spark):
    """A 1:N stage (pixels, frames) gives the same rows over one and over
    two input partitions."""
    from salesforce_plugin_spark.functions.multimodal import image_pixels_long

    def frames(df):
        return frame_sample_plan(
            df, "doc_id", "payload", every_nth=3,
            decoder=lambda b: [b[i : i + 5] for i in range(0, len(b), 5)],
        )

    for stage in (lambda d: image_pixels_long(d, "doc_id", "payload"), frames):
        one, two = (sorted(stage(bmp_payloads(spark, n)).collect()) for n in (1, 2))
        assert one == two and len(one) > 6


def test_payload_stage_zero_rows_keep_declared_schema(spark):
    from salesforce_plugin_spark.functions.multimodal import (
        AHASH_SCHEMA,
        image_pixels_long,
        payload_segment_sums,
        wav_channel_stats,
    )

    empty = bmp_payloads(spark, 2).limit(0)
    out = image_pixels_long(empty, "doc_id", "payload")
    assert out.schema.simpleString() == "struct<doc_id:bigint,r:int,c:int,ch:int,v:int>"
    assert out.collect() == []
    assert payload_segment_sums(empty, "doc_id", "payload").schema == AHASH_SCHEMA
    assert payload_segment_sums(empty, "doc_id", "payload").collect() == []
    wav = wav_channel_stats(empty, "doc_id", "payload")
    assert wav.schema.simpleString() == (
        "struct<doc_id:bigint,channel:int,sample_rate:int,n:bigint,s:bigint,sq:bigint>"
    )
    assert wav.collect() == []
