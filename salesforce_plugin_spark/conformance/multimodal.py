"""F4 multimodal binary-column plumbing (Arrow-batched mapInPandas stages over payload bytes).

Split from the single-file conformance registry in round 6; byte-identical
query builders and oracle SQL. The ordered public registry lives in
``salesforce_plugin_spark.conformance`` (the package __init__).
"""

from __future__ import annotations

import numpy as np

from salesforce_plugin_spark.conformance._common import *  # noqa: F401,F403


# ---------------------------------------------------------------------------
# F4: multimodal column plumbing (Arrow-batched pandas path)
# ---------------------------------------------------------------------------

def _doc_payloads(spark, sf_dir, min_octets=0, encode=None):
    """The documents as ``(doc_id, payload)`` rows, those shorter than
    ``min_octets`` UTF-8 bytes left out. The payload is the text's bytes,
    or, given ``encode(doc_id, octets) -> payload``, a real media file
    made of them inside an Arrow stage."""
    from salesforce_plugin_spark.functions.multimodal import _payload_stage

    docs = load_table(spark, sf_dir, "documents")
    if min_octets:
        docs = docs.filter(F.octet_length("text") >= min_octets)
    if encode is None:
        return parallelized(
            docs.select("doc_id", F.col("text").cast("binary").alias("payload"))
        )
    return _payload_stage(
        parallelized(docs.select("doc_id", "text")), "doc_id", "text",
        "doc_id long, payload binary", lambda i, b: ([encode(i, b)],),
    )


def q_multimodal_bytes(spark, sf_dir):
    """F4: opaque-binary payload pipeline over mapInPandas — the decode step
    is a deterministic fake (utf-8 "payload" of the text column) because no
    media libs ship in this environment; the Spark-side plumbing (schema,
    Arrow batching, UDF signature) is the real deliverable."""
    from salesforce_plugin_spark.functions.multimodal import payload_stats

    return payload_stats(_doc_payloads(spark, sf_dir), "doc_id", "payload")


def q_json_extract(spark, sf_dir):
    """Record-model edge (A12/A13 inverse): the reference moves rows as
    JSON dicts; this is schema-on-read parsing of a semi-structured JSON
    column — ONE typed ``from_json`` parse per row (codegen struct, reused
    by every downstream reference) rather than repeated
    ``get_json_object`` string scans, then a grouped rollup of the
    extracted field."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.select(
        "event_type", F.from_json(F.col("props"), "k int").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("p.k").cast("long")).alias("sum_k"),
        F.sum(F.when(F.col("p.k") > 50, 1).otherwise(0)).alias("n_high"),
    )


def q_multimodal_histogram(spark, sf_dir):
    """F4: per-payload byte histogram (16 bins) via numpy over Arrow
    batches — the deterministic stand-in for real feature extraction
    (MFCC/embeddings once a decoder is injected). Emitted in exploded
    long form (doc_id, bin, n) — scalar-only output schema, so any
    pandas-based canonicalizer can hash it (array<long> outputs cannot
    be factorized; same discipline as the no-DECIMAL rule). Fully
    oracled: the DuckDB mirror recovers payload bytes via hex-pair
    parsing and bins them identically."""
    from salesforce_plugin_spark.functions.multimodal import byte_histogram

    return byte_histogram(
        _doc_payloads(spark, sf_dir), "doc_id", "payload", n_bins=16
    )


def q_event_window(spark, sf_dir):
    """F6: tumbling 1-hour event-time window (batch mode of the streaming
    aggregation; the readStream form is streaming/windows.py)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            _sumd(F.col("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_seconds(F.col("w.start")).alias("w_start_s"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q_event_sliding(spark, sf_dir):
    """F6: sliding 1-hour/15-minute event-time windows — each event lands
    in exactly window/slide = 4 overlapping windows (Spark plans this as
    an Expand of factor 4 before the hash agg, so the input scans once and
    only the 4× expanded rows shuffle on the window keys; partial agg
    collapses them map-side first). Oracle mirrors the window-assignment
    arithmetic: start_k = 15-min-bucket(ts) - k*900s, k = 0..3."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec(F.col("value"), 18, 4)).alias("sum_value"),
        )
        .select(
            F.unix_seconds(F.col("w.start")).alias("w_start_s"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q_event_session(spark, sf_dir):
    """F6: session windows (10-min inactivity gap) per user — batch
    session_window; oracle reproduces the gap semantics with lag+cumsum."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )


def q_multimodal_frames(spark, sf_dir):
    """F4: video frame-sampling plumbing (functions/multimodal.py
    frame_sample_plan) under the oracle gate. The decoder is the documented
    injection seam — here a deterministic fake that slices the payload into
    16-byte 'frames' (no media libs ship in this container); every_nth=4
    keeps every 4th frame. The 1:N explode happens INSIDE the Arrow stage
    so frame bytes never concatenate into one row; the gated output carries
    md5+length per sampled frame, byte-for-byte replayable in SQL."""
    from salesforce_plugin_spark.functions.multimodal import frame_sample_plan

    def fake_decoder(payload: bytes) -> list[bytes]:
        return [payload[i : i + 16] for i in range(0, len(payload), 16)]

    frames = frame_sample_plan(
        _doc_payloads(spark, sf_dir), "doc_id", "payload", every_nth=4,
        decoder=fake_decoder,
    )
    return frames.select(
        "doc_id",
        F.col("frame_no").cast("int").alias("frame_no"),
        F.md5(F.col("frame")).alias("frame_md5"),
        F.length(F.col("frame")).cast("long").alias("frame_len"),
    )


def q_multimodal_channels(spark, sf_dir):
    """F4 depth: per-channel exact sample moments over decoded payloads
    (functions/multimodal.py channel_stats_plan) — the audio-energy /
    band-stats extraction shape: bytes de-interleave into 4 channels
    and reduce to int64 (n, Σv, Σv²) INSIDE the Arrow stage (numpy),
    so only doc × channel rows leave Python. Identity decoder through
    the documented seam; documents are ASCII, so the oracle replays
    byte values via ord(substr(…))."""
    from salesforce_plugin_spark.functions.multimodal import (
        channel_stats_plan,
    )

    return channel_stats_plan(
        _doc_payloads(spark, sf_dir), "doc_id", "payload", n_channels=4,
        decoder=lambda b: b,
    )



ORACLES: dict[str, str] = {}

ORACLES["q_multimodal_bytes"] = """
        SELECT doc_id,
               CAST(strlen(text) AS BIGINT) AS byte_len,
               md5(text) AS payload_md5
        FROM documents
    """

ORACLES["q_json_extract"] = """
        SELECT event_type,
               count(*) AS n,
               CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(sum(CASE WHEN CAST(props->>'k' AS BIGINT) > 50
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        FROM events GROUP BY event_type
    """

ORACLES["q_event_window"] = """
        SELECT epoch_ms(date_trunc('hour', ts)) // 1000 AS w_start_s,
               event_type,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """

ORACLES["q_event_sliding"] = """
        SELECT (epoch_us(ts) // 1000000 // 900) * 900 - 900 * k AS w_start_s,
               event_type,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events, unnest(generate_series(0, 3)) AS g(k)
        GROUP BY 1, 2
    """

ORACLES["q_event_session"] = """
        WITH gaps AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL '10 minutes'
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM gaps
        )
        SELECT user_id, epoch_us(min(ts)) AS session_start_us,
               count(*) AS n_events
        FROM sessions GROUP BY user_id, sid
    """

ORACLES["q_multimodal_histogram"] = _byte_histogram_oracle()

ORACLES["q_multimodal_frames"] = """
    SELECT d.doc_id,
           CAST(t.m AS INT) AS frame_no,
           md5(substr(d.text, 64 * t.m + 1, 16)) AS frame_md5,
           CAST(length(substr(d.text, 64 * t.m + 1, 16)) AS BIGINT)
               AS frame_len
    FROM documents d,
         unnest(generate_series(0, ((strlen(d.text) + 15) // 16 - 1) // 4))
             AS t(m)
"""

ORACLES["q_multimodal_channels"] = """
    WITH pos AS (
        SELECT doc_id,
               CAST((g.i - 1) % 4 AS INT) AS channel,
               ord(substr(text, CAST(g.i AS INT), 1)) AS v
        FROM documents CROSS JOIN LATERAL (
            SELECT unnest(generate_series(1, length(text))) AS i
        ) g
    )
    SELECT doc_id, channel,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v) AS BIGINT) AS s,
           CAST(sum(v * v) AS BIGINT) AS sq
    FROM pos GROUP BY 1, 2
"""



def q_multimodal_ahash(spark, sf_dir):
    """F4 perceptual near-dup (functions/multimodal.py
    perceptual_ahash_pairs): average-hash bits from Arrow-batched
    segment byte sums (bit = exact integer cross-multiply
    seg_sum·total_n > total_sum·seg_n — no division), Hamming-≤1
    candidate pairs via identity+single-bit-flip banding (distance-1
    hashes MUST collide on a band — SimHash's argument at radius 1,
    collision-bounded, never all-pairs). Byte-identical dedup is
    q_dedup_exact on payload md5; this is the re-encode-tolerant tier,
    with the image decoder seam stubbed like the rest of F4 (on real
    images the injected decoder yields the n_segs luminance thumbnail;
    the fixture's byte view exercises identical plumbing). At corpus
    scale n_segs sizes the hash space (64 segments → 2⁶⁴ buckets);
    the gate's 16 (2¹⁶ buckets) already demonstrates it: the 10×
    probe at 8 segments saturated 256 buckets into an 81× pair
    blowup; at 16 the collision mass collapses to near-dups and the
    probe is bounded."""
    from salesforce_plugin_spark.functions.multimodal import (
        perceptual_ahash_pairs,
    )

    return perceptual_ahash_pairs(
        _doc_payloads(spark, sf_dir), "doc_id", "payload", n_segs=16
    )


def _ahash_oracle(n_segs: int = 16) -> str:
    variants = ", ".join(["0"] + [str(1 << s) for s in range(n_segs)])
    return f"""
    WITH pos AS (
        SELECT doc_id, CAST(g.i AS BIGINT) - 1 AS p,
               length(text) AS len,
               ord(substr(text, CAST(g.i AS INT), 1)) AS v
        FROM documents
        CROSS JOIN LATERAL (
            SELECT unnest(generate_series(1, length(text))) AS i
        ) g
    ), segd AS (
        SELECT doc_id, CAST((p * {n_segs}) // len AS INT) AS seg, v
        FROM pos
    ), segs AS (
        SELECT doc_id, seg, count(*) AS seg_n, sum(v) AS seg_sum
        FROM segd GROUP BY 1, 2
    ), tot AS (
        SELECT doc_id, sum(seg_n) AS tn, sum(seg_sum) AS ts
        FROM segs GROUP BY 1
    ), bits AS (
        SELECT s.doc_id,
               CAST(sum(CASE WHEN s.seg_sum * t.tn > t.ts * s.seg_n
                             THEN 1 << s.seg ELSE 0 END) AS BIGINT) AS ahash
        FROM segs s JOIN tot t USING (doc_id) GROUP BY 1
    ), variants AS (
        SELECT doc_id, ahash, xor(ahash, CAST(u.b AS BIGINT)) AS band
        FROM bits CROSS JOIN LATERAL (
            SELECT unnest([{variants}]) AS b
        ) u
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.ahash AS hash_a, b.ahash AS hash_b
        FROM variants a
        JOIN variants b ON a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hash_a, hash_b,
           CAST(bit_count(xor(hash_a, hash_b)) AS INT) AS hamming
    FROM pairs WHERE bit_count(xor(hash_a, hash_b)) <= 1
"""


ORACLES["q_multimodal_ahash"] = _ahash_oracle()


# --- round 9: the F4 seam through ACTUAL decode (native BMP/WAV) -------


def _bmp_payloads(spark, sf_dir):
    """Deterministic real-BMP fixtures: each document's byte prefix
    (W=4, H=octets//12, truncated) becomes a 24-bit BI_RGB BMP via
    :func:`~salesforce_plugin_spark.functions.multimodal.encode_bmp`
    inside an Arrow stage. ``decode(encode(x)) == x`` byte-exactly, so
    oracles replay pixel statistics straight off the source text bytes
    — the gate proves the decoder really ran (headers, BGR order,
    bottom-up rows, and row padding all had to be undone to match)."""
    from salesforce_plugin_spark.functions.multimodal import encode_bmp

    return _doc_payloads(
        spark, sf_dir, 12,
        lambda _, b: encode_bmp(
            np.frombuffer(b, np.uint8)[: len(b) // 12 * 12].reshape(-1, 4, 3)
        ),
    )


def _png_payloads(spark, sf_dir):
    """Deterministic real-PNG fixtures (round 10): the SAME byte-prefix
    pixels as :func:`_bmp_payloads` (W=4, H=octets//12 RGB), but
    encoded as 8-bit PNGs with the forward filter CYCLING per row
    (y % 5 → None/Sub/Up/Average/Paeth), so the byte-replay oracles
    only match if zlib inflate AND all five unfilter paths reproduce
    the source bytes exactly."""
    from salesforce_plugin_spark.functions.multimodal import encode_png

    def encode(_, b):
        px = np.frombuffer(b, np.uint8)[: len(b) // 12 * 12].reshape(-1, 4, 3)
        return encode_png(px, row_filters=[y % 5 for y in range(len(px))])

    return _doc_payloads(spark, sf_dir, 12, encode)


def q_png_histogram(spark, sf_dir):
    """F4 through ACTUAL decode (round 10): per-image PIXEL histogram
    over REAL PNGs — documents' byte prefixes encode to 8-bit PNGs
    whose rows cycle all five scanline filters, then
    functions/multimodal.py image_pixel_histogram decodes each payload
    through the DEFAULT decode_image seam (native decode_png: stdlib
    zlib inflate + numpy unfiltering — 'no media libs' never excused
    PNG) and bins the RGB bytes. The oracle is q_bmp_histogram's byte
    replay VERBATIM: it matches only if decode∘encode is the exact
    identity through deflate and every filter type."""
    from salesforce_plugin_spark.functions.multimodal import (
        image_pixel_histogram,
    )

    return image_pixel_histogram(
        _png_payloads(spark, sf_dir), "doc_id", "payload", n_bins=16
    )


def q_png_palette_histogram(spark, sf_dir):
    """F4 through ACTUAL decode (round 10): the PALETTE tier of the PNG
    codec — documents' byte prefixes become 8-bit color-type-3 PNGs
    (one index byte per pixel, W=4, rows cycling all five filters) over
    an IDENTITY-RAMP palette (entry i = (i, i, i)), so every decoded
    pixel contributes its source byte three times and the pixel
    histogram is exactly 3× the source byte histogram. The oracle
    replays that arithmetic off the source bytes; it matches only if
    the PLTE lookup (and inflate + unfiltering on 1-byte-per-pixel
    scanlines) is exact."""
    from salesforce_plugin_spark.functions.multimodal import (
        encode_png_palette,
        image_pixel_histogram,
    )

    ramp = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)

    def encode(_, b):
        idx = np.frombuffer(b, np.uint8)[: len(b) // 4 * 4].reshape(-1, 4)
        return encode_png_palette(
            idx, ramp, row_filters=[y % 5 for y in range(len(idx))]
        )

    return image_pixel_histogram(
        _doc_payloads(spark, sf_dir, 4, encode), "doc_id", "payload", n_bins=16
    )


def q_png16_stats(spark, sf_dir):
    """F4 through ACTUAL decode (round 11): the 16-BIT tier of the PNG
    codec — documents' byte prefixes become big-endian u16 grayscale
    samples (W=4, H=octets//8, rows cycling all five filters; the
    filters run on BYTES with a 2-byte offset, so both lanes of every
    sample pass through Sub/Up/Average/Paeth), then
    functions/multimodal.py image_sample_stats decodes each payload
    through the DEFAULT decode_image seam and reduces the u16 samples
    to exact int64 (n, Σv, Σv², min, max). The oracle replays the
    arithmetic off 4-hex-char slices of the source bytes; it matches
    only if deflate + unfiltering + the u16 lane reassembly are
    byte-exact."""
    from salesforce_plugin_spark.functions.multimodal import (
        encode_png,
        image_sample_stats,
    )

    def encode(_, b):
        h = len(b) // 8
        px = np.frombuffer(b[: h * 8], dtype=">u2").astype(np.uint16)
        return encode_png(
            px.reshape(h, 4, 1), row_filters=[y % 5 for y in range(h)]
        )

    return image_sample_stats(
        _doc_payloads(spark, sf_dir, 8, encode), "doc_id", "payload"
    )


def q_png_adam7_histogram(spark, sf_dir):
    """F4 through ACTUAL decode (round 11): the ADAM7-INTERLACE tier —
    the SAME byte-prefix RGB pixels as q_png_histogram, but encoded
    with interlace=1 (seven fixed sub-grids, RFC 2083 §2.6) and the
    filters cycling across the seven-pass scanline STREAM, then binned
    by image_pixel_histogram through the default seam. The oracle is
    q_png_histogram's byte replay VERBATIM: it matches only if every
    pass unfilters independently and scatters back to the exact
    source grid."""
    from salesforce_plugin_spark.functions.multimodal import (
        _adam7_scanlines,
        encode_png,
        image_pixel_histogram,
    )

    def encode(_, b):
        px = np.frombuffer(b, np.uint8)[: len(b) // 12 * 12].reshape(-1, 4, 3)
        rows = _adam7_scanlines(len(px), 4)
        return encode_png(
            px, interlace=True, row_filters=[i % 5 for i in range(rows)]
        )

    return image_pixel_histogram(
        _doc_payloads(spark, sf_dir, 12, encode), "doc_id", "payload", n_bins=16
    )


def q_png_lowdepth_stats(spark, sf_dir):
    """F4 through ACTUAL decode (round 11): the SUB-BYTE depth tier of
    the PNG codec — each document's byte prefix is bit-sliced into raw
    samples at a per-doc depth (doc_id%3: 0→1-bit, 1→2-bit, 2→4-bit;
    big-endian within each byte, the packing order RFC 2083 §2.3
    prescribes), laid out 4 source bytes per scanline (so strides are
    byte-aligned here; the pad-bit path is pinned by the unit matrix),
    encoded at that depth with the filters cycling all five types —
    running over the PACKED bytes with offset 1 — and odd doc_ids
    additionally Adam7-interlaced. image_sample_stats then decodes
    through the DEFAULT decode_image seam and reduces the raw samples
    to exact int64 (n, Σv, Σv², min, max). The oracle bit-slices the
    same source bytes in SQL ((b >> shift) & mask per depth); it
    matches only if inflate + packed-byte unfiltering + big-endian bit
    regrouping (and the Adam7 scatter) are all sample-exact."""
    from salesforce_plugin_spark.functions.multimodal import (
        _adam7_scanlines,
        encode_png,
        image_sample_stats,
    )

    def encode(doc_id, b):
        depth = (1, 2, 4)[doc_id % 3]
        per = 8 // depth  # samples per byte
        shifts = np.arange(per - 1, -1, -1) * depth
        octets = np.frombuffer(b, np.uint8)[: len(b) // 4 * 4]
        samples = (octets[:, None] >> shifts) & ((1 << depth) - 1)
        img = samples.astype(np.uint8).reshape(-1, 4 * per)
        interlace = doc_id % 2 == 1
        rows = _adam7_scanlines(*img.shape) if interlace else len(img)
        return encode_png(
            img,
            depth=depth,
            interlace=interlace,
            row_filters=[i % 5 for i in range(rows)],
        )

    return image_sample_stats(
        _doc_payloads(spark, sf_dir, 4, encode), "doc_id", "payload"
    )


def q_jpeg_gray_stats(spark, sf_dir):
    """F4 through ACTUAL decode (round 11): BASELINE JPEG — each
    document byte becomes a constant 8×8 block (4 blocks per row) of
    a grayscale JPEG encoded with the flat quant table, so only the
    DC coefficient of each block survives and the decode is EXACT
    (the one tier where JPEG's lossy pipeline is bit-predictable:
    DC = 8·(v−128) is power-of-two-exact through the float DCT pair).
    The entropy stream is still the real thing — per-block DC-diff
    magnitude categories through the standard Huffman table, EOB per
    block, byte stuffing — decoded via the DEFAULT decode_image seam
    (FFD8 sniff → decode_jpeg: marker walk, DHT-driven canonical
    Huffman, dequant, IDCT). image_sample_stats reduces to exact
    int64; the oracle replays 64 samples per source byte off the hex
    slices (64·Σ, 64·Σ², min, max)."""
    from salesforce_plugin_spark.functions.multimodal import (
        encode_jpeg,
        image_sample_stats,
    )

    def encode(_, b):
        # one byte per constant 8x8 block, 4 blocks per row
        blocks = np.frombuffer(b, np.uint8)[: len(b) // 4 * 4].reshape(-1, 4)
        return encode_jpeg(np.kron(blocks, np.ones((8, 8), dtype=np.uint8)))

    return image_sample_stats(
        _doc_payloads(spark, sf_dir, 4, encode), "doc_id", "payload"
    )


def q_bmp_histogram(spark, sf_dir):
    """F4 through ACTUAL decode (round 9): per-image PIXEL histogram —
    documents' byte prefixes encode to real 24-bit BMPs, then
    functions/multimodal.py image_pixel_histogram decodes each payload
    through the DEFAULT decode_image seam (native decode_bmp — no
    injected fake) and bins the RGB bytes. The oracle replays the
    statistics off the source bytes (hex-pair recovery, prefix-
    truncated), which only match if decode∘encode is the exact
    identity: headers stripped, BGR undone, bottom-up row order
    undone, 4-byte row padding dropped."""
    from salesforce_plugin_spark.functions.multimodal import (
        image_pixel_histogram,
    )

    return image_pixel_histogram(
        _bmp_payloads(spark, sf_dir), "doc_id", "payload", n_bins=16
    )


def q_wav_channels(spark, sf_dir):
    """F4 through ACTUAL decode (round 9): per-channel exact sample
    moments — documents' byte prefixes become interleaved stereo
    int16 samples in a real 16-bit PCM WAV (16 kHz), then
    functions/multimodal.py wav_channel_stats decodes through the
    DEFAULT decode_audio seam (native decode_wav: RIFF chunk walk,
    fmt parse, little-endian int16 de-interleave) and reduces each
    channel to int64 (n, Σv, Σv²) inside the Arrow stage. Oracle
    replays the moments from the source bytes at matching positions
    (channel = (i-1) mod 2)."""
    from salesforce_plugin_spark.functions.multimodal import (
        encode_wav,
        wav_channel_stats,
    )

    def encode(_, b):
        samples = np.frombuffer(b, np.uint8).astype(np.int16)
        return encode_wav(16000, samples[: len(b) // 2 * 2].reshape(-1, 2))

    return wav_channel_stats(
        _doc_payloads(spark, sf_dir, 2, encode), "doc_id", "payload"
    )


def q_bmp_ahash(spark, sf_dir):
    """F4 through ACTUAL decode (round 9): perceptual average-hash
    pairs over DECODED PIXELS — the real-decoder tier of
    q_multimodal_ahash. The downsample stage decodes each BMP through
    the default seam and segments the flattened RGB bytes; bit
    derivation and Hamming-≤1 banding are the same shared plan. On
    BMP payloads raw-byte hashing would see headers/padding/BGR —
    pixel hashing is framing-invariant, which is the point of
    decoding first."""
    from salesforce_plugin_spark.functions.multimodal import image_ahash_pairs

    return image_ahash_pairs(
        _bmp_payloads(spark, sf_dir), "doc_id", "payload", n_segs=16
    )


ORACLES["q_png_palette_histogram"] = """
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS h,
               (octet_length(encode(text)) // 4) * 4 AS nb
        FROM documents WHERE octet_length(encode(text)) >= 4
    ), bytes AS (
        SELECT doc_id,
               CAST(('0x' || substr(h, 2 * i - 1, 2)) AS INTEGER) // 16 AS bin
        FROM hx, unnest(generate_series(1, nb)) AS g(i)
    ), counts AS (
        SELECT doc_id, bin, count(*) AS n FROM bytes GROUP BY doc_id, bin
    ), bins AS (
        SELECT unnest(generate_series(0, 15)) AS bin
    )
    SELECT d.doc_id, CAST(b.bin AS INTEGER) AS bin,
           CAST(3 * coalesce(c.n, 0) AS BIGINT) AS n
    FROM (SELECT doc_id FROM documents
          WHERE octet_length(encode(text)) >= 4) d
    CROSS JOIN bins b
    LEFT JOIN counts c ON d.doc_id = c.doc_id AND b.bin = c.bin
"""

ORACLES["q_png_histogram"] = """
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS h,
               (octet_length(encode(text)) // 12) * 12 AS nb
        FROM documents WHERE octet_length(encode(text)) >= 12
    ), bytes AS (
        SELECT doc_id,
               CAST(('0x' || substr(h, 2 * i - 1, 2)) AS INTEGER) // 16 AS bin
        FROM hx, unnest(generate_series(1, nb)) AS g(i)
    ), counts AS (
        SELECT doc_id, bin, count(*) AS n FROM bytes GROUP BY doc_id, bin
    ), bins AS (
        SELECT unnest(generate_series(0, 15)) AS bin
    )
    SELECT d.doc_id, CAST(b.bin AS INTEGER) AS bin,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n
    FROM (SELECT doc_id FROM documents
          WHERE octet_length(encode(text)) >= 12) d
    CROSS JOIN bins b
    LEFT JOIN counts c ON d.doc_id = c.doc_id AND b.bin = c.bin
"""

ORACLES["q_png16_stats"] = """
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS h,
               (octet_length(encode(text)) // 8) * 8 AS nb
        FROM documents WHERE octet_length(encode(text)) >= 8
    ), samples AS (
        SELECT doc_id,
               CAST(('0x' || substr(h, 4 * i - 3, 4)) AS BIGINT) AS v
        FROM hx, unnest(generate_series(1, nb // 2)) AS g(i)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v) AS BIGINT) AS s,
           CAST(sum(v * v) AS BIGINT) AS sq,
           CAST(min(v) AS BIGINT) AS vmin,
           CAST(max(v) AS BIGINT) AS vmax
    FROM samples GROUP BY doc_id
"""

# Adam7 re-orders scanlines, not pixel VALUES: the per-image byte
# histogram is q_png_histogram's replay verbatim.
ORACLES["q_png_adam7_histogram"] = ORACLES["q_png_histogram"]

ORACLES["q_jpeg_gray_stats"] = """
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS h,
               (octet_length(encode(text)) // 4) * 4 AS nb
        FROM documents WHERE octet_length(encode(text)) >= 4
    ), bytes AS (
        SELECT doc_id,
               CAST(('0x' || substr(h, 2 * i - 1, 2)) AS BIGINT) AS b
        FROM hx, unnest(generate_series(1, nb)) AS g(i)
    )
    SELECT doc_id,
           CAST(64 * count(*) AS BIGINT) AS n,
           CAST(64 * sum(b) AS BIGINT) AS s,
           CAST(64 * sum(b * b) AS BIGINT) AS sq,
           CAST(min(b) AS BIGINT) AS vmin,
           CAST(max(b) AS BIGINT) AS vmax
    FROM bytes GROUP BY doc_id
"""

ORACLES["q_png_lowdepth_stats"] = """
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS h,
               (octet_length(encode(text)) // 4) * 4 AS nb,
               CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END
                   AS depth
        FROM documents WHERE octet_length(encode(text)) >= 4
    ), bytes AS (
        SELECT doc_id, depth,
               CAST(('0x' || substr(h, 2 * i - 1, 2)) AS INTEGER) AS b
        FROM hx, unnest(generate_series(1, nb)) AS g(i)
    ), samples AS (
        SELECT doc_id,
               (b >> ((8 // depth - 1 - j) * depth))
                   & ((1 << depth) - 1) AS v
        FROM bytes, unnest(generate_series(0, 7)) AS s(j)
        WHERE j < 8 // depth
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v) AS BIGINT) AS s,
           CAST(sum(v * v) AS BIGINT) AS sq,
           CAST(min(v) AS BIGINT) AS vmin,
           CAST(max(v) AS BIGINT) AS vmax
    FROM samples GROUP BY doc_id
"""

ORACLES["q_bmp_histogram"] = """
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS h,
               (octet_length(encode(text)) // 12) * 12 AS nb
        FROM documents WHERE octet_length(encode(text)) >= 12
    ), bytes AS (
        SELECT doc_id,
               CAST(('0x' || substr(h, 2 * i - 1, 2)) AS INTEGER) // 16 AS bin
        FROM hx, unnest(generate_series(1, nb)) AS g(i)
    ), counts AS (
        SELECT doc_id, bin, count(*) AS n FROM bytes GROUP BY doc_id, bin
    ), bins AS (
        SELECT unnest(generate_series(0, 15)) AS bin
    )
    SELECT d.doc_id, CAST(b.bin AS INTEGER) AS bin,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n
    FROM (SELECT doc_id FROM documents
          WHERE octet_length(encode(text)) >= 12) d
    CROSS JOIN bins b
    LEFT JOIN counts c ON d.doc_id = c.doc_id AND b.bin = c.bin
"""

ORACLES["q_wav_channels"] = """
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS h,
               (octet_length(encode(text)) // 2) * 2 AS nb
        FROM documents WHERE octet_length(encode(text)) >= 2
    ), pos AS (
        SELECT doc_id,
               CAST((g.i - 1) % 2 AS INT) AS channel,
               CAST(('0x' || substr(h, 2 * i - 1, 2)) AS INTEGER) AS v
        FROM hx, unnest(generate_series(1, nb)) AS g(i)
    )
    SELECT doc_id, channel,
           CAST(16000 AS INT) AS sample_rate,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v) AS BIGINT) AS s,
           CAST(sum(v * v) AS BIGINT) AS sq
    FROM pos GROUP BY 1, 2
"""


def _ahash_prefix_oracle(n_segs: int = 16) -> str:
    """q_bmp_ahash oracle: the _ahash_oracle computation over each
    document's 12-byte-aligned prefix (= the decoded BMP's pixels,
    because decode∘encode is the identity)."""
    variants = ", ".join(["0"] + [str(1 << s) for s in range(n_segs)])
    return f"""
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS h,
               (octet_length(encode(text)) // 12) * 12 AS nb
        FROM documents WHERE octet_length(encode(text)) >= 12
    ), pos AS (
        SELECT doc_id, CAST(g.i AS BIGINT) - 1 AS p, nb AS len,
               CAST(('0x' || substr(h, 2 * i - 1, 2)) AS INTEGER) AS v
        FROM hx, unnest(generate_series(1, nb)) AS g(i)
    ), segd AS (
        SELECT doc_id, CAST((p * {n_segs}) // len AS INT) AS seg, v
        FROM pos
    ), segs AS (
        SELECT doc_id, seg, count(*) AS seg_n, sum(v) AS seg_sum
        FROM segd GROUP BY 1, 2
    ), tot AS (
        SELECT doc_id, sum(seg_n) AS tn, sum(seg_sum) AS ts
        FROM segs GROUP BY 1
    ), bits AS (
        SELECT s.doc_id,
               CAST(sum(CASE WHEN s.seg_sum * t.tn > t.ts * s.seg_n
                             THEN 1 << s.seg ELSE 0 END) AS BIGINT) AS ahash
        FROM segs s JOIN tot t USING (doc_id) GROUP BY 1
    ), variants AS (
        SELECT doc_id, ahash, xor(ahash, CAST(u.b AS BIGINT)) AS band
        FROM bits CROSS JOIN LATERAL (
            SELECT unnest([{variants}]) AS b
        ) u
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.ahash AS hash_a, b.ahash AS hash_b
        FROM variants a
        JOIN variants b ON a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hash_a, hash_b,
           CAST(bit_count(xor(hash_a, hash_b)) AS INT) AS hamming
    FROM pairs WHERE bit_count(xor(hash_a, hash_b)) <= 1
"""


ORACLES["q_bmp_ahash"] = _ahash_prefix_oracle()


def q_bmp_resize(spark, sf_dir):
    """F4 through ACTUAL decode (round 9): real nearest-neighbor image
    resize — each document's byte-prefix BMP decodes through the
    default seam, resamples to 2×3 with the exact integer index map
    (src_r = (r·H)//3, src_c = (c·4)//2), re-encodes as BMP, and the
    resized payload decodes AGAIN into long-form pixels. The oracle
    replays every output pixel as ONE source-byte lookup (position
    arithmetic over the hex-recovered prefix), so the gate passes only
    if the full encode→decode→resize→encode→decode chain is exact —
    the real-decoder form of resize_image_plan's injected seam."""
    from salesforce_plugin_spark.functions.multimodal import (
        image_pixels_long,
        resize_image_nearest,
    )

    resized = resize_image_nearest(
        _bmp_payloads(spark, sf_dir), "doc_id", "payload", out_w=2, out_h=3
    )
    return image_pixels_long(
        resized.select("doc_id", F.col("resized").alias("payload")),
        "doc_id",
        "payload",
    )


def q_png_resize(spark, sf_dir):
    """F4 through ACTUAL decode (round 10): the q_bmp_resize chain run
    PNG-end-to-end — byte-prefix pixels encode to filter-cycling PNGs,
    decode through the default seam (zlib inflate + unfilter), resample
    2×3 nearest-neighbor, RE-ENCODE AS PNG (encode_png), and decode
    AGAIN into long-form pixels. The oracle is q_bmp_resize's byte
    replay VERBATIM; it matches only if the full
    encode→decode→resize→encode→decode chain is exact through the PNG
    codec twice."""
    from salesforce_plugin_spark.functions.multimodal import (
        encode_png,
        image_pixels_long,
        resize_image_nearest,
    )

    resized = resize_image_nearest(
        _png_payloads(spark, sf_dir), "doc_id", "payload",
        out_w=2, out_h=3, encoder=encode_png,
    )
    return image_pixels_long(
        resized.select("doc_id", F.col("resized").alias("payload")),
        "doc_id",
        "payload",
    )


ORACLES["q_png_resize"] = """
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS h,
               (octet_length(encode(text)) // 12) AS src_h
        FROM documents WHERE octet_length(encode(text)) >= 12
    ), grid AS (
        SELECT unnest(generate_series(0, 2)) AS r
    ), cols AS (
        SELECT unnest(generate_series(0, 1)) AS c
    ), chans AS (
        SELECT unnest(generate_series(0, 2)) AS ch
    )
    SELECT hx.doc_id,
           CAST(g.r AS INT) AS r,
           CAST(co.c AS INT) AS c,
           CAST(k.ch AS INT) AS ch,
           CAST(('0x' || substr(
               hx.h,
               2 * (((g.r * hx.src_h) // 3) * 12
                    + ((co.c * 4) // 2) * 3 + k.ch) + 1,
               2)) AS INTEGER) AS v
    FROM hx CROSS JOIN grid g CROSS JOIN cols co CROSS JOIN chans k
"""

ORACLES["q_bmp_resize"] = """
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS h,
               (octet_length(encode(text)) // 12) AS src_h
        FROM documents WHERE octet_length(encode(text)) >= 12
    ), grid AS (
        SELECT unnest(generate_series(0, 2)) AS r
    ), cols AS (
        SELECT unnest(generate_series(0, 1)) AS c
    ), chans AS (
        SELECT unnest(generate_series(0, 2)) AS ch
    )
    SELECT hx.doc_id,
           CAST(g.r AS INT) AS r,
           CAST(co.c AS INT) AS c,
           CAST(k.ch AS INT) AS ch,
           CAST(('0x' || substr(
               hx.h,
               2 * (((g.r * hx.src_h) // 3) * 12
                    + ((co.c * 4) // 2) * 3 + k.ch) + 1,
               2)) AS INTEGER) AS v
    FROM hx CROSS JOIN grid g CROSS JOIN cols co CROSS JOIN chans k
"""
