"""Property-based spot checks (SURVEY §5.5): random add-only schema
evolutions always converge and reconcile idempotently; serialization
round-trips preserve data; the winnowing match guarantee holds on random
token streams."""

from __future__ import annotations

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

import pyspark.sql.functions as F

from salesforce_plugin_spark.operators.schema_reconcile import (
    from_describe,
    reconcile_table,
)

SOAP_TYPES = ["string", "boolean", "int", "double", "date", "dateTime",
              "email", "id", "picklist", "phone", "url", "textarea"]

field_st = st.builds(
    lambda name, typ, length: {
        "name": name,
        "soapType": f"xsd:{typ}",
        "length": length,
    },
    name=st.text(alphabet="abcdefgh", min_size=1, max_size=6),
    typ=st.sampled_from(SOAP_TYPES),
    length=st.integers(min_value=1, max_value=70000),
)


@st.composite
def evolutions(draw):
    """An add-only evolution: a base field list plus 1-2 growth steps that
    only append new field names (the reference's drift model — columns are
    never dropped or retyped, salesforce_schema_to_redshift_operator.py:130-151)."""
    base = draw(
        st.lists(field_st, min_size=1, max_size=4, unique_by=lambda f: f["name"])
    )
    steps = [base]
    for _ in range(draw(st.integers(min_value=1, max_value=2))):
        prev = steps[-1]
        seen = {f["name"] for f in prev}
        extra = draw(
            st.lists(
                field_st.filter(lambda f: f["name"] not in seen),
                min_size=0,
                max_size=2,
                unique_by=lambda f: f["name"],
            )
        )
        steps.append(prev + extra)
    return steps


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(steps=evolutions())
def test_drift_reconciliation_converges(spark, steps):
    """Every add-only evolution converges: after reconciling each step, a
    final re-reconcile is a no-op, and total DDL is exactly 1 CREATE plus
    one ALTER per field added after the base step (B6 emits one statement
    per column, reference :130-151)."""
    spark.sql("DROP TABLE IF EXISTS t_prop_drift")
    n_ddl = 0
    for step in steps:
        ddl = reconcile_table(spark, "t_prop_drift", from_describe(step))
        n_ddl += len(ddl)
    assert reconcile_table(spark, "t_prop_drift", from_describe(steps[-1])) == []
    assert n_ddl == 1 + (len(steps[-1]) - len(steps[0]))
    spark.sql("DROP TABLE t_prop_drift")


row_st = st.tuples(
    st.integers(min_value=-2**31, max_value=2**31),
    st.text(
        alphabet=st.characters(
            codec="utf-8", categories=("L", "N", "P", "Zs")
        ),
        max_size=24,
    ),
    st.one_of(
        st.none(),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
    ),
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(row_st, min_size=1, max_size=8))
def test_ndjson_roundtrip(spark, rows, tmp_path_factory):
    """df → ndjson → read-back preserves every value (A13: Spark JSON is
    ndjson; doubles survive via full-precision encoding)."""
    from salesforce_plugin_spark.sources.io import write_ndjson

    out = str(tmp_path_factory.mktemp("prop_ndjson"))
    df = spark.createDataFrame(rows, "k long, s string, v double")
    write_ndjson(df, out)
    back = spark.read.schema("k long, s string, v double").json(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    shared=st.lists(st.sampled_from("abcdefg"), min_size=6, max_size=10),
    pre_a=st.lists(st.sampled_from("hijklmn"), max_size=6),
    pre_b=st.lists(st.sampled_from("opqrstu"), max_size=6),
)
def test_winnow_guarantee_property(spark, shared, pre_a, pre_b):
    """Winnowing guarantee on random token streams: any two documents
    sharing a ≥ w+k-1 = 6 token run share at least one fingerprint."""
    from salesforce_plugin_spark.functions.dedup import winnow_fingerprints

    doc_a = " ".join(pre_a + shared)
    doc_b = " ".join(pre_b + shared)
    df = spark.createDataFrame([(1, doc_a), (2, doc_b)], ["id", "t"])
    fps = winnow_fingerprints(df, "id", "t", k=3, w=4).collect()
    a = {r.fp for r in fps if r.id == 1}
    b = {r.fp for r in fps if r.id == 2}
    assert a & b


token_doc_st = st.lists(
    st.text(alphabet="abcxyz", min_size=1, max_size=4), min_size=0, max_size=60
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(toks=token_doc_st, chunk=st.integers(8, 24), overlap=st.integers(0, 7))
def test_chunking_reconstructs_the_document(spark, toks, chunk, overlap):
    """Dropping each chunk's leading ``overlap`` tokens (except the first
    chunk's) and concatenating in chunk order must reproduce the original
    token stream exactly — i.e. windows tile the document with no token
    lost or duplicated beyond the declared overlap."""
    from salesforce_plugin_spark.functions.text import chunk_documents

    stride = chunk - overlap
    doc = " ".join(toks)
    df = spark.createDataFrame([(1, doc)], ["id", "t"])
    rows = sorted(
        chunk_documents(df, "id", "t", chunk, stride).collect(),
        key=lambda r: r.chunk_id,
    )
    rebuilt = []
    for r in rows:
        ts = r.chunk_text.split(" ") if r.chunk_text != "" else [""]
        rebuilt.extend(ts if r.chunk_id == 0 else ts[overlap:])
    # tokenization of "" yields [""] (one empty token) — mirror that
    expect = toks if toks else [""]
    # a final start position inside the last chunk's overlap re-covers
    # already-seen tokens only; reconstruction must still equal the doc
    assert rebuilt[: len(expect)] == expect
    assert set(rebuilt) <= set(expect)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    sizes=st.lists(st.integers(1, 40), min_size=1, max_size=40),
    seq_len=st.integers(16, 64),
)
def test_packing_invariants_hold_for_any_chunk_stream(spark, sizes, seq_len):
    """The distributed window-cumsum packing equals a sequential fold over
    the same order (the ground-truth greedy packer), and no bin exceeds
    seq_len by more than one chunk."""
    from salesforce_plugin_spark.operators.pipeline import pack_token_bins

    rows = [(i, 0, s, "s") for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, ["doc_id", "chunk_id", "n_tokens", "source"])
    packed = pack_token_bins(df, seq_len, ["source"], ["doc_id", "chunk_id"])
    got = {r.doc_id: r.bin_id for r in packed.collect()}

    cum, expect = 0, {}
    for i, s in enumerate(sizes):
        expect[i] = cum // seq_len
        cum += s
    assert got == expect

    mx = max(sizes)
    per_bin: dict[int, int] = {}
    for i, s in enumerate(sizes):
        per_bin[expect[i]] = per_bin.get(expect[i], 0) + s
    assert all(tot < seq_len + mx for tot in per_bin.values())


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vec=st.lists(
        st.floats(-100, 100, allow_nan=False, width=32), min_size=1, max_size=16
    )
)
def test_int8_quantization_error_bound(spark, vec):
    """floor-quantization error is < 1 quantization step per element, and
    values stay in the int8 range [-128, 127]."""
    from salesforce_plugin_spark.functions.vector import (
        as_double,
        int8_scale,
        quantize_int8,
    )

    df = spark.createDataFrame([(vec,)], "v array<float>")
    v = as_double(F.col("v"))
    row = df.select(
        F.col("v"),
        int8_scale(v).alias("scale"),
        quantize_int8(v, int8_scale(v)).alias("q"),
    ).collect()[0]
    if row.scale == 0.0:
        assert all(q == 0 for q in row.q)
        return
    import math

    for x, q in zip(row.v, row.q):
        # int8 range: +max|x| maps to 127; -max|x| can floor to -128
        assert -128 <= q <= 127
        # exact mirror of the engine arithmetic — same double product,
        # same floor; no epsilon needed
        assert q == int(math.floor(float(x) * row.scale))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    corpus=st.lists(
        st.lists(st.floats(0.125, 8.0, allow_nan=False, width=32),
                 min_size=4, max_size=4),
        min_size=3, max_size=12,
    ),
    n_queries=st.integers(1, 3),
    k=st.integers(1, 4),
)
def test_batched_topk_matches_scalar_reference(spark, corpus, n_queries, k):
    """cosine_topk_batch ≡ a per-query scalar loop: same rounded sims, same
    (sim desc, id asc) ranking, exactly min(k, N) rows per query."""
    import math

    from salesforce_plugin_spark.functions.vector import cosine_topk_batch

    n_queries = min(n_queries, len(corpus))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(corpus)], "vec_id long, embedding array<float>"
    )
    q = df.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = {
        (r.q_id, r.vec_id): r.sim
        for r in cosine_topk_batch(df, "vec_id", "embedding", q, k=k).collect()
    }

    def cos(a, b):
        af = [float(np_x) for np_x in a]
        bf = [float(np_x) for np_x in b]
        dot = 0.0
        for x, y in zip(af, bf):
            dot += x * y
        na = math.sqrt(sum(x * x for x in af))
        nb = math.sqrt(sum(x * x for x in bf))
        return round(dot / (na * nb), 6)

    # float32 storage: round-trip the literals through Spark's float cast
    stored = [
        r.embedding for r in df.orderBy("vec_id").collect()
    ]
    expect = {}
    for qi in range(n_queries):
        sims = sorted(
            ((cos(v, stored[qi]), i) for i, v in enumerate(stored)),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        for s, i in sims:
            expect[(qi, i)] = s
    assert got == expect


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12).map(
            lambda cs: " ".join(cs)
        ),
        min_size=1, max_size=6,
    )
)
def test_portable_minhash_matches_pure_python(spark, docs):
    """minhash_signatures_portable ≡ min(int(md5(f'{i}:{shingle}')[:8], 16))
    over the doc's distinct lowercased 3-gram shingles — bit-exact, the
    property that lets any engine reproduce the signatures."""
    import hashlib

    from salesforce_plugin_spark.functions.dedup import (
        minhash_signatures_portable,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "id long, t string"
    )
    rows = {
        r.id: r
        for r in minhash_signatures_portable(
            df, "id", "t", num_hashes=4, shingle_n=3
        ).collect()
    }

    for i, text in enumerate(docs):
        toks = [w.lower() for w in text.strip().split()] if text.strip() else [""]
        sh = {
            " ".join(toks[j : j + 3]) for j in range(len(toks) - 2)
        } if len(toks) >= 3 else set()
        if not sh:
            assert i not in rows  # no shingles → no signature row
            continue
        for h in range(4):
            expect = min(
                int(hashlib.md5(f"{h}:{s}".encode()).hexdigest()[:8], 16)
                for s in sh
            )
            assert getattr(rows[i], f"mh_{h}") == expect


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    vals=st.lists(
        st.one_of(
            st.floats(min_value=-1e5, max_value=1e5, allow_nan=False),
            st.none(),
        ),
        min_size=1, max_size=40,
    ),
    scale=st.sampled_from([2, 4]),
)
def test_sumd_matches_exact_decimal_reference(spark, vals, scale):
    """conformance._sumd ≡ sum of half-up-rounded decimals emitted as the
    correctly-rounded double — against an exact Python Decimal reference.
    This is the money-sum fast path every headline aggregate rides on."""
    from decimal import ROUND_HALF_UP, Decimal

    from salesforce_plugin_spark.conformance import _sumd

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.agg(_sumd(F.col("x"), scale).alias("s")).collect()[0].s

    quant = Decimal(1).scaleb(-scale)
    ref_vals = [
        Decimal(v).quantize(quant, rounding=ROUND_HALF_UP)
        for v in vals
        if v is not None
    ]
    if not ref_vals:
        assert got is None
    else:
        assert got == float(sum(ref_vals))


def test_ivf_assign_deterministic_matches_python_argmax(spark):
    """Seeded-codebook IVF assignment ≡ per-vector argmax of rounded
    cosine with centroid-id tie-break, against a scalar reference."""
    import math
    import random

    from salesforce_plugin_spark.functions.vector import (
        as_double,
        ivf_assign_deterministic,
    )

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(6)] for _ in range(40)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    seeds_py = {cid: vecs[cid] for cid in range(4)}
    seeds = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        as_double(F.col("embedding")).alias("c_vec"),
    )
    got = {
        r.vec_id: r.centroid_id
        for r in ivf_assign_deterministic(df, "vec_id", "embedding", seeds).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    for i, v in enumerate(vecs):
        best = min(
            ((-round(cos(v, c), 6), cid) for cid, c in seeds_py.items())
        )[1]
        assert got[i] == best, i


def test_profile_columns_matches_pandas_reference(spark):
    """Exact profiler ≡ pandas-side counts/nulls/distincts/min/max."""
    from salesforce_plugin_spark.operators.validate import profile_columns

    rows = [
        (1, "a", 2.5), (2, "b", None), (3, None, 1.0),
        (3, "a", 2.5), (None, "c", -1.0),
    ]
    df = spark.createDataFrame(rows, "k long, s string, x double")
    got = {r.column_name: r for r in profile_columns(df, ["k", "s", "x"]).collect()}

    assert (got["k"].n_rows, got["k"].n_nulls, got["k"].n_distinct) == (5, 1, 3)
    assert (got["k"].min_num, got["k"].max_num) == (1.0, 3.0)
    assert got["k"].min_str is None
    assert (got["s"].n_nulls, got["s"].n_distinct) == (1, 3)
    assert (got["s"].min_str, got["s"].max_str) == ("a", "c")
    assert got["s"].min_num is None
    assert (got["x"].n_nulls, got["x"].n_distinct) == (1, 3)
    assert (got["x"].min_num, got["x"].max_num) == (-1.0, 2.5)


# --- round-4 third-session operator properties ---

url_st = st.builds(
    lambda scheme, www, host, path, params, frag: (
        scheme + www + host + ".example.com/" + path
        + ("?" + "&".join(params) if params else "")
        + frag
    ),
    scheme=st.sampled_from(["http://", "https://", ""]),
    www=st.sampled_from(["www.", ""]),
    host=st.text(alphabet="abcXYZ", min_size=1, max_size=6),
    path=st.text(alphabet="abcDEF/", max_size=8),
    params=st.lists(
        st.sampled_from(
            ["utm_source=a", "utm_medium=b", "gclid=x", "fbclid=y",
             "id=3", "q=k", "page=2"]
        ),
        max_size=4,
    ),
    frag=st.sampled_from(["", "#top", "#a/b?c"]),
)


@settings(deadline=None, max_examples=20,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(urls=st.lists(url_st, min_size=1, max_size=12))
def test_url_normalize_is_idempotent(spark, urls):
    """normalize(normalize(u)) == normalize(u) — a canonical form must be
    a fixed point, else dedup keys differ between one-pass and two-pass
    pipelines."""
    from salesforce_plugin_spark.functions.web import url_normalize

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        url_normalize("url").alias("once"),
    ).select("once", url_normalize("once").alias("twice")).collect()
    for r in out:
        assert r.once == r.twice


@settings(deadline=None, max_examples=15,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    feed=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # key
            st.integers(min_value=0, max_value=40),     # minute
            st.sampled_from(["a", "b", None]),          # attr
        ),
        min_size=1,
        max_size=20,
    )
)
def test_scd2_intervals_partition_each_keys_timeline(spark, feed):
    """Per key: change-row intervals are disjoint, contiguous (each
    valid_to equals the next valid_from), start at the key's first
    observation, and exactly one open interval is current."""
    import datetime as dt

    from salesforce_plugin_spark.operators.scd import scd2_intervals

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (k, attr, t0 + dt.timedelta(minutes=m), i)
        for i, (k, m, attr) in enumerate(feed)
    ]
    df = spark.createDataFrame(
        rows, "k int, attr string, ts timestamp, chg_id int"
    )
    out = scd2_intervals(df, ["k"], ["attr"], "ts", ["chg_id"]).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.k, []).append(
            (r["__valid_from"], r["__valid_to"], r["__is_current"])
        )
    firsts = {}
    for k, attr, ts_, i in rows:
        if k not in firsts or (ts_, i) < firsts[k]:
            firsts[k] = (ts_, i)
    for k, ivs in by_key.items():
        ivs.sort(key=lambda x: x[0])
        assert ivs[0][0] == firsts[k][0]            # starts at first obs
        assert sum(1 for iv in ivs if iv[2]) == 1   # exactly one current
        assert ivs[-1][1] is None and ivs[-1][2]
        for (s1, e1, _), (s2, _, _) in zip(ivs, ivs[1:]):
            assert e1 == s2                         # contiguous, disjoint


@settings(deadline=None, max_examples=15,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    feed=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # key
            st.integers(min_value=0, max_value=40),     # minute
            st.sampled_from(["a", "b", None]),          # attr
        ),
        min_size=1,
        max_size=20,
    ),
    split=st.integers(min_value=0, max_value=20),
)
def test_scd2_apply_changes_equals_full_rebuild(spark, feed, split):
    """Append-only contract: for ANY prefix/suffix split of an in-order
    feed, folding the suffix into the prefix's interval table
    (scd2_apply_changes) is row-identical to building from the full feed
    — the equivalence that makes incremental nightly loads sound."""
    import datetime as dt

    from salesforce_plugin_spark.operators.scd import (
        scd2_apply_changes,
        scd2_intervals,
    )

    t0 = dt.datetime(2024, 1, 1)
    ordered = sorted(feed, key=lambda x: x[1])
    rows = [
        (k, attr, t0 + dt.timedelta(minutes=m), i)
        for i, (k, m, attr) in enumerate(ordered)
    ]
    cut = min(split, len(rows))
    schema = "k int, attr string, ts timestamp, chg_id int"
    full = scd2_intervals(
        spark.createDataFrame(rows, schema), ["k"], ["attr"], "ts", ["chg_id"]
    ).collect()
    initial = scd2_intervals(
        spark.createDataFrame(rows[:cut], schema),
        ["k"], ["attr"], "ts", ["chg_id"],
    )
    merged = scd2_apply_changes(
        initial,
        spark.createDataFrame(rows[cut:], schema),
        ["k"], ["attr"], "ts", ["chg_id"],
    ).collect()

    key = lambda r: (  # noqa: E731
        r.k, r.attr, r["__valid_from"], r["__valid_to"], r["__is_current"]
    )
    assert sorted(map(key, merged), key=repr) == sorted(map(key, full), key=repr)


@settings(deadline=None, max_examples=15,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    s=st.text(
        alphabet="abc …’‘“—–éèüöäç ",
        max_size=40,
    )
)
def test_encoding_repair_roundtrips_corruption(spark, s):
    """fix(corrupt(s)) == s for any text of ASCII + repair targets —
    repair applies the chain in the exact reverse order corruption did,
    so even nested damage (the en dash's corrupted form contains a
    corrupted left-quote) unwinds."""
    from salesforce_plugin_spark.functions.encoding import (
        corrupt_encoding,
        fix_encoding,
    )

    df = spark.createDataFrame([(s,)], "t string")
    row = df.select(
        fix_encoding(corrupt_encoding(F.col("t"))).alias("r")
    ).collect()[0]
    assert row.r == s


# --- deletion-neighborhood completeness (entity resolution) ---

_name_st = st.text(
    alphabet="abcdefghij #0123456789", min_size=2, max_size=12
).filter(lambda s: s.strip() == s and s != "")


@given(
    name=_name_st,
    edit=st.tuples(st.sampled_from(["del", "sub", "ins"]), st.data()),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_deletion_link_always_finds_any_single_edit(spark, name, edit):
    """The SymSpell completeness guarantee: for ANY master string and ANY
    single edit (deletion, substitution, insertion), the dirty record
    shares a deletion-neighborhood key with its master and therefore
    links at dist <= 1."""
    from salesforce_plugin_spark.functions.entity import deletion_link

    kind, data = edit
    i = data.draw(st.integers(0, len(name) - 1))
    ch = data.draw(st.sampled_from("xyz"))
    if kind == "del":
        dirty_name = name[:i] + name[i + 1 :]
    elif kind == "sub":
        dirty_name = name[:i] + ch + name[i + 1 :]
    else:
        dirty_name = name[:i] + ch + name[i:]
    if dirty_name.strip() != dirty_name or not dirty_name:
        return  # normalization would trim — out of contract
    master = spark.createDataFrame([(1, name)], "master_id long, name string")
    dirty = spark.createDataFrame(
        [(10, dirty_name)], "dirty_id long, name string"
    )
    rows = deletion_link(
        master, dirty, "master_id", "dirty_id", "name", max_dist=1
    ).collect()
    assert len(rows) == 1 and rows[0].master_id == 1 and rows[0].dist <= 1


# --- Bloom filter one-sidedness ---

@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    build=st.sets(st.integers(min_value=0, max_value=500), min_size=1,
                  max_size=40),
    probe_extra=st.sets(st.integers(min_value=501, max_value=1000),
                        max_size=40),
    n_bits=st.sampled_from([64, 256, 1024]),
    n_hashes=st.integers(min_value=1, max_value=4),
)
def test_bloom_never_drops_a_true_member(spark, build, probe_extra, n_bits,
                                         n_hashes):
    """The Bloom contract is ONE-SIDED: for any build set, any probe set,
    and any (n_bits, n_hashes) configuration — including absurdly small
    filters where false positives abound — every true member of the
    build set survives pruning."""
    from salesforce_plugin_spark.functions.sketch import bloom_build, bloom_prune

    bdf = spark.createDataFrame([(k,) for k in build], "k long")
    probe = spark.createDataFrame(
        [(k,) for k in build | probe_extra], "k long"
    )
    bloom = bloom_build(bdf, "k", n_bits=n_bits, n_hashes=n_hashes)
    passed = {
        r.k for r in bloom_prune(probe, "k", bloom, n_bits, n_hashes).collect()
    }
    assert build <= passed


# --- budget_sample greedy-prefix exactness ---

@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    weights=st.lists(st.integers(min_value=1, max_value=50), min_size=1,
                     max_size=30),
    budget=st.integers(min_value=1, max_value=400),
)
def test_budget_sample_is_the_maximal_hash_prefix(spark, weights, budget):
    """budget_sample keeps EXACTLY the maximal prefix, in md5-hash order
    of the id, whose running weight stays within budget — no more, no
    less, for any weight multiset and any budget."""
    import hashlib

    from salesforce_plugin_spark.operators.pipeline import budget_sample

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "id long, w int")
    kept = sorted(
        r.id for r in budget_sample(df, [], "id", "w", budget).collect()
    )
    order = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode())
                                        .hexdigest(), r[0]))
    expect, cum = [], 0
    for i, w in order:
        cum += w
        if cum > budget:
            break
        expect.append(i)
    assert kept == sorted(expect)


# --- additive rollup: any batching agrees ---

@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=4),
                  st.integers(min_value=-50, max_value=50)),
        min_size=1, max_size=40,
    ),
    cut_points=st.sets(st.integers(min_value=1, max_value=39), max_size=3),
)
def test_fold_additive_rollup_batching_invariance(spark, rows, cut_points):
    """For ANY rows and ANY split into sequential batches, folding the
    per-batch rollups equals the one-shot rollup."""
    from salesforce_plugin_spark.operators.merge import fold_additive_rollup

    def mk(rs):
        return spark.createDataFrame(
            [(k, 1, v) for k, v in rs], "k int, n long, v long"
        )

    one = sorted(map(tuple, fold_additive_rollup(
        None, mk(rows), ["k"], ["n", "v"]
    ).collect()))
    cuts = sorted(c for c in cut_points if c < len(rows))
    bounds = [0, *cuts, len(rows)]
    state = None
    for lo, hi in zip(bounds, bounds[1:]):
        if lo == hi:
            continue
        delta = fold_additive_rollup(None, mk(rows[lo:hi]), ["k"], ["n", "v"])
        state = fold_additive_rollup(state, delta, ["k"], ["n", "v"])
    assert sorted(map(tuple, state.collect())) == one


# --- snapshot_diff -> apply_changes round-trip ---

@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    old_vals=st.dictionaries(st.integers(min_value=0, max_value=15),
                             st.integers(min_value=0, max_value=9),
                             max_size=12),
    new_vals=st.dictionaries(st.integers(min_value=0, max_value=15),
                             st.integers(min_value=0, max_value=9),
                             max_size=12),
)
def test_snapshot_diff_apply_roundtrip(spark, old_vals, new_vals):
    """For ANY two keyed snapshots, applying the diff to the old one
    reproduces the new one exactly."""
    import pyspark.sql.functions as SF

    from salesforce_plugin_spark.operators.merge import (
        apply_changes,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        list(old_vals.items()) or [(None, None)], "k int, v int"
    ).filter("k IS NOT NULL")
    new = spark.createDataFrame(
        list(new_vals.items()) or [(None, None)], "k int, v int"
    ).filter("k IS NOT NULL")
    feed = snapshot_diff(old, new, ["k"], ["v"]).select(
        "k",
        SF.col("v_new").alias("v"),
        SF.when(SF.col("change") == "delete", "d").otherwise("u").alias("op"),
        SF.lit(1).alias("seq"),
    )
    rebuilt = apply_changes(old, feed, ["k"], order_by=["seq"], op_col="op")
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, new.collect())
    )


# --- CUSUM window identity vs the sequential recursion ---

@given(
    vals=st.lists(st.integers(-20, 40), min_size=1, max_size=40),
    target=st.integers(-5, 15),
    slack=st.integers(0, 5),
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cusum_window_identity_property(spark, vals, target, slack):
    """cumsum-minus-running-min == the clamp recursion, for ANY series."""
    import datetime as dt

    from salesforce_plugin_spark.operators.timeseries import cusum_alarms

    rows = [
        ("k", dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, id long, v long")
    out = sorted(
        cusum_alarms(
            df, ["k"], "ts", "v", target=target, slack=slack, threshold=10,
            tiebreak_cols=["id"],
        ).collect(),
        key=lambda r: r.id,
    )
    s, want = 0, []
    for v in vals:
        s = max(0, s + v - target - slack)
        want.append(s)
    assert [r.cusum for r in out] == want


# --- epoch shuffle permutation properties ---

@given(
    ids=st.sets(st.integers(0, 10_000), min_size=1, max_size=60),
    epoch=st.integers(0, 3),
    shards=st.integers(1, 5),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_epoch_shuffle_placement_properties(spark, ids, epoch, shards):
    """Every id placed exactly once; positions dense per shard; the
    SHARD of an id never depends on what else is in the corpus
    (append-stability of the shard assignment)."""
    from salesforce_plugin_spark.operators.pipeline import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in sorted(ids)], "id long")
    out = epoch_shuffle(df, "id", n_shards=shards, epoch=epoch).collect()
    assert {r.id for r in out} == ids and len(out) == len(ids)
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # append-stability: the same ids through a 1-row frame land on the
    # same shard
    probe = sorted(ids)[0]
    solo = epoch_shuffle(
        spark.createDataFrame([(probe,)], "id long"), "id",
        n_shards=shards, epoch=epoch,
    ).collect()[0]
    full = next(r for r in out if r.id == probe)
    assert solo.shard == full.shard


def test_exact_isqrt_correction_at_boundaries(spark):
    """with_exact_cos_ppm's ±2-corrected integer sqrt must equal
    math.isqrt exactly at perfect squares and their neighbors (where a
    double-seeded floor is most likely to land off by one), across
    magnitudes up to the documented 2^104 validity bound."""
    import math

    import pyspark.sql.functions as F

    from salesforce_plugin_spark.functions.vector import with_exact_cos_ppm

    vals = []
    for e in (1, 3, 7, 13, 19, 26, 33, 38, 42):
        k = (1 << e) + 3
        for p in (k * k - 1, k * k, k * k + 1):
            vals.append(p)
    # encode p as na·nb with nb=1 so isqrt(p) is exercised directly;
    # dot=na makes cos_ppm = (na·10⁶) div isqrt(na) — check against
    # Python's exact math.isqrt. (p capped at ~2^84 so the ppm result
    # itself stays inside BIGINT — the surface's own documented bound.)
    rows = [(str(p),) for p in vals]
    df = spark.createDataFrame(rows, "p string").select(
        F.col("p").cast("decimal(38,0)").alias("__na_d"),
        F.lit(1).cast("decimal(38,0)").alias("__nb_d"),
        F.col("p").cast("decimal(38,0)").alias("__dot_d"),
    )
    got = with_exact_cos_ppm(df, "__dot_d", "__na_d", "__nb_d", "cos_ppm")
    out = [r.cos_ppm for r in got.collect()]
    want = [(p * 1_000_000) // math.isqrt(p) for p in vals]
    assert out == want

    # beyond the BIGINT ppm range the cast fails LOUDLY under ANSI —
    # never silent garbage (the exactmath contract)
    import pytest as _pytest

    big = (1 << 51) ** 2
    df2 = spark.createDataFrame([(str(big),)], "p string").select(
        F.col("p").cast("decimal(38,0)").alias("__na_d"),
        F.lit(1).cast("decimal(38,0)").alias("__nb_d"),
        F.col("p").cast("decimal(38,0)").alias("__dot_d"),
    )
    with _pytest.raises(Exception, match="CAST_OVERFLOW|Arithmetic"):
        with_exact_cos_ppm(df2, "__dot_d", "__na_d", "__nb_d", "x").collect()


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    a=st.lists(st.integers(min_value=0, max_value=20), min_size=1,
               max_size=15),
    b=st.lists(st.integers(min_value=0, max_value=20), min_size=1,
               max_size=15),
)
def test_ks_matches_pure_python_reference(spark, a, b):
    """ks_statistic == an independent exact-rational Python KS on any
    small sample pair (supremum value AND location)."""
    from salesforce_plugin_spark.functions.sketch import ks_statistic

    da = spark.createDataFrame([(float(v),) for v in a], "value double")
    db = spark.createDataFrame([(float(v),) for v in b], "value double")
    r = ks_statistic(da, db, "value", quant=1000).collect()[0]

    vals = sorted(set(a) | set(b))
    n1, n2 = len(a), len(b)
    best, at = -1, None
    for v in vals:
        c1 = sum(1 for x in a if x <= v)
        c2 = sum(1 for x in b if x <= v)
        gap = abs(c1 * n2 - c2 * n1)
        if gap > best:
            best, at = gap, v
    assert (r.n1, r.n2) == (n1, n2)
    assert r.d_num == best
    assert r.at_qv == at * 1000
    assert r.d_ppm == best * 10**6 // (n1 * n2)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    counts=st.lists(st.integers(min_value=0, max_value=50), min_size=2,
                    max_size=12),
)
def test_changepoint_gain_nonnegative_and_argmax_matches(spark, counts):
    """changepoint_from_daily: gain is never negative (two means fit at
    least as well as one) and the chosen split matches a brute-force
    exact-rational argmax with earliest-split tiebreak."""
    from fractions import Fraction

    from salesforce_plugin_spark.operators.timeseries import (
        changepoint_from_daily,
    )

    rows = [
        ("k", f"2024-03-{d + 1:02d}", c) for d, c in enumerate(counts)
    ]
    daily = spark.createDataFrame(
        rows, "k string, __d string, __c long"
    ).select("k", F.col("__d").cast("date").alias("__d"), "__c")
    r = changepoint_from_daily(daily, ["k"]).collect()[0]
    assert r.gain_milli >= 0

    n, total = len(counts), sum(counts)
    best, best_t = None, None
    for t in range(1, n):
        sl = sum(counts[:t])
        sr = total - sl
        g = (
            Fraction(sl * sl, t)
            + Fraction(sr * sr, n - t)
            - Fraction(total * total, n)
        )
        gm = (g * 1000).__floor__()
        if best is None or gm > best:
            best, best_t = gm, t
    assert r.n_left == best_t
    assert r.gain_milli == best


#: CR, LF and CRLF among tabs, spaces, other line breaks the scrub keeps,
#: ASCII, non-ASCII and astral text.
scrub_piece_st = st.one_of(
    st.sampled_from(["\r", "\n", "\r\n", "\n\r", "\t", " ", "\x0b", "\x85", "\u2028",
                     "a", "é", "日", "\U0001d11e", "\U0001f600"]),
    st.text(st.characters(blacklist_categories=("Cs",)), max_size=4),
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(cells=st.lists(
    st.one_of(st.none(), st.lists(scrub_piece_st, max_size=8).map("".join)),
    min_size=1, max_size=20,
))
def test_scrub_newlines_matches_the_regex_scrub(spark, cells):
    """C4: the ``translate`` scrub deletes exactly what the regex scrub it
    replaced deletes, NULL included."""
    from salesforce_plugin_spark.functions.text import scrub_newlines

    df = spark.createDataFrame([(c,) for c in cells], "s string")
    rows = df.select(
        scrub_newlines(F.col("s")).alias("got"),
        F.regexp_replace(F.col("s"), r"[\r\n]+", "").alias("want"),
    ).collect()
    assert [r.got for r in rows] == [r.want for r in rows]
