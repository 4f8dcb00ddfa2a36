"""F3/F5 column libraries: tokenization, language ID, quality metrics,
fingerprints, vector math, top-k search."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from salesforce_plugin_spark.functions.text import (
    bpe_token_count,
    distinct_token_count,
    fingerprint,
    lang_id,
    normalized_text,
    quality_metrics,
    token_count,
)
from salesforce_plugin_spark.functions.vector import (
    as_double,
    cosine,
    cosine_topk,
    dot,
    sign_bucket,
)


def one(spark, text, col):
    return spark.createDataFrame([(text,)], ["t"]).select(col.alias("v")).collect()[0].v


def test_token_counts(spark):
    assert one(spark, "a b  c", token_count(F.col("t"))) == 3
    assert one(spark, "A a b", distinct_token_count(F.col("t"))) == 2
    # BPE-ish: letter runs, digit runs, single punct
    assert one(spark, "ab12,cd", bpe_token_count(F.col("t"))) == 4


def test_lang_id_markers(spark):
    assert one(spark, "the cat and the dog", lang_id(F.col("t"))) == "en"
    assert one(spark, "el perro que corre", lang_id(F.col("t"))) == "es"
    assert one(spark, "les chiens dans une rue", lang_id(F.col("t"))) == "fr"
    assert one(spark, "der hund und das haus", lang_id(F.col("t"))) == "de"
    assert one(spark, "xyz qrs", lang_id(F.col("t"))) == "und"


def test_quality_metrics(spark):
    m = quality_metrics(F.col("t"))
    df = spark.createDataFrame([("the cat, a dog!",)], ["t"])
    row = df.select(*[v.alias(k) for k, v in m.items()]).collect()[0]
    assert row.n_chars == 15 and row.n_tokens == 4
    assert row.punct_ratio == pytest.approx(2 / 15, abs=1e-6)
    assert row.stopword_ratio == pytest.approx(2 / 4, abs=1e-6)


def test_fingerprint_is_whitespace_case_invariant(spark):
    a = one(spark, "  Hello   World ", fingerprint(F.col("t")))
    b = one(spark, "hello world", fingerprint(F.col("t")))
    assert a == b and len(a) == 32
    assert one(spark, " A  b ", normalized_text(F.col("t"))) == "a b"


def test_dot_and_cosine(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<double>, b array<double>"
    )
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        cosine(F.col("a"), F.col("b")).alias("c"),
    ).collect()[0]
    assert row.d == 32.0
    assert row.c == pytest.approx(32.0 / (math.sqrt(14) * math.sqrt(77)))


def test_cosine_topk_orders_and_bounds(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])],
        "id long, v array<float>",
    )
    q = df.filter(F.col("id") == 1).select(F.col("v").alias("q_vec"))
    out = cosine_topk(df, "id", "v", q, k=2).collect()
    assert [r.id for r in out] == [1, 2]
    assert out[0].sim == 1.0


def test_sign_bucket_deterministic(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0])], "id long, v array<float>"
    )
    # bits: dim1>=0→1, dim2<0→0, dim3>=0→4, ... = 1+4+16+32+64+128 = 245
    assert df.select(sign_bucket(F.col("v"), 8).alias("b")).collect()[0].b == 245


def test_pii_redact_kinds_and_order(spark):
    from salesforce_plugin_spark.functions.text import pii_counts, pii_redact

    s = "mail a.b+c@ex-1.org, host 10.0.255.7, tel +1-555-0042, clean text"
    out = one(spark, s, pii_redact(F.col("t")))
    assert out == "mail <EMAIL>, host <IP>, tel <PHONE>, clean text"
    counts = {
        k: one(spark, s, c) for k, c in pii_counts(F.col("t")).items()
    }
    assert counts == {"n_email": 1, "n_ip": 1, "n_phone": 1}
    # no PII → identity
    assert one(spark, "nothing to see", pii_redact(F.col("t"))) == "nothing to see"


def test_ngram_repetition_short_and_repeated(spark):
    from salesforce_plugin_spark.functions.text import ngram_repetition_stats, tokens

    def stats(text, n):
        df = spark.createDataFrame([(text,)], ["t"]).select(
            F.transform(tokens(F.col("t")), F.lower).alias("__toks")
        )
        d = ngram_repetition_stats(F.col("__toks"), n)
        row = df.select(*[c.alias(k) for k, c in d.items()]).collect()[0]
        return row.asDict()

    # "a b a b a" → 2-grams: ab ba ab ba → total 4, distinct 2, frac 0.5
    r = stats("a b a b a", 2)
    assert r == {"n_2grams": 4, "distinct_2grams": 2, "dup_2gram_frac": 0.5}
    # fewer tokens than n → zero counts, zero fraction (no 0-index crash)
    assert stats("solo", 2) == {
        "n_2grams": 0, "distinct_2grams": 0, "dup_2gram_frac": 0.0
    }
    assert stats("", 3)["dup_3gram_frac"] == 0.0


def test_wrap_words_and_line_filter(spark):
    """wrap_words: fixed-width word lines, empty-safe; line_filter: short
    lines and blacklisted-term lines drop, order preserved."""
    import pyspark.sql.functions as F

    from salesforce_plugin_spark.functions.text import line_filter, wrap_words

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),   # 8 words → lines of 3: [abc, def, gh]
            (2, ""),                   # empty → no lines
            (3, "   "),                # whitespace only → no lines
            (4, "keep me here now ok BAD word line two three"),
        ],
        ["id", "t"],
    )
    wrapped = df.select(
        "id", wrap_words(F.col("t"), 3).alias("lines")
    )
    rows = {r.id: r.lines for r in wrapped.collect()}
    assert rows[1] == ["a b c", "d e f", "g h"]
    assert rows[2] == [] and rows[3] == []

    kept = df.select(
        "id",
        line_filter(
            wrap_words(F.col("t"), 5), min_words=5, blacklist=("bad",)
        ).alias("k"),
    )
    krows = {r.id: r.k for r in kept.collect()}
    # doc 4: line1 "keep me here now ok" survives; line2 has 'BAD'
    # (blacklist is case-insensitive via lower) → dropped
    assert krows[4] == ["keep me here now ok"]
    # doc 1: lines of 5 → ["a b c d e", "f g h"]; second too short
    assert krows[1] == ["a b c d e"]


def test_hashed_linear_score_learned_weights(spark):
    """Learned-weights path: score is the mean of element_at lookups on
    the broadcast weight array; mismatched lengths fail fast."""
    import pytest

    from salesforce_plugin_spark.functions.text import hashed_linear_score

    # all-equal weights make the expected mean independent of hashing
    w = [0.25] * 8
    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    s = hashed_linear_score("text", n_features=8, weights=w)
    row = df.select(
        s["n_tokens"].alias("n"), s["score"].alias("sc"), s["label"].alias("lb")
    ).first()
    assert row["n"] == 4 and row["sc"] == 0.25 and row["lb"] == "keep"

    with pytest.raises(ValueError):
        hashed_linear_score("text", n_features=16, weights=w)


def test_hashed_linear_score_empty_doc_drops(spark):
    """Empty/whitespace docs: n_tokens 0, NULL score, label 'drop';
    derived-weight scores are deterministic across invocations."""
    from salesforce_plugin_spark.functions.text import hashed_linear_score

    df = spark.createDataFrame(
        [(1, "   "), (2, "quick brown fox")], ["doc_id", "text"]
    )
    s = hashed_linear_score("text")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            s["n_tokens"].alias("n"),
            s["score_raw"].alias("raw"),
            s["score"].alias("sc"),
            s["label"].alias("lb"),
        ).collect()
    }
    assert out[1]["n"] == 0 and out[1]["raw"] is None and out[1]["sc"] is None
    assert out[1]["lb"] == "drop"
    assert out[2]["n"] == 3 and out[2]["raw"] is not None
    s2 = hashed_linear_score("text")
    again = df.select(s2["score_raw"].alias("raw")).collect()[1]["raw"]
    assert again == out[2]["raw"]


def test_bigram_fluency_hand_computed(spark):
    """Scaled-integer mean conditional probability, exact per hand
    calculation; <2-token docs stay in the output with NULL score."""
    from salesforce_plugin_spark.functions.text import bigram_fluency

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "solo")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in bigram_fluency(df, threshold=0.5).collect()}
    # counts: (a,b)=2 (b,a)=1 (a,c)=1; prefixes: a=3, b=1
    # terms: (a,b)=666666 (b,a)=1000000 (a,c)=333333
    assert out[1]["n_bigrams"] == 3
    assert out[1]["fluency"] == round((666666 + 1000000 + 666666) / 3e6, 6)
    assert out[1]["label"] == "fluent"
    assert out[2]["n_bigrams"] == 1 and out[2]["fluency"] == 0.333333
    assert out[2]["label"] == "disfluent"
    assert out[3]["n_bigrams"] == 0 and out[3]["fluency"] is None
    assert out[3]["label"] == "disfluent"


def test_centroids_long_exact_mean(spark):
    """Quantized-long mean matches hand math; one row per (label, dim)."""
    from salesforce_plugin_spark.functions.vector import centroids_long

    df = spark.createDataFrame(
        [("a", [1.0, -2.0]), ("a", [2.0, 4.0]), ("b", [0.5, 0.25])],
        ["label", "embedding"],
    )
    out = {(r["label"], r["dim"]): r for r in centroids_long(df, "label", "embedding").collect()}
    assert len(out) == 4
    assert out[("a", 0)]["centroid"] == 1.5 and out[("a", 0)]["n"] == 2
    assert out[("a", 1)]["centroid"] == 1.0
    assert out[("b", 0)]["centroid"] == 0.5 and out[("b", 1)]["centroid"] == 0.25


def test_kmeans_assign_exact_argmin_and_ties(spark):
    """Integer quantized distances; nearest seed wins; exact ties go to
    the lowest cluster id."""
    from salesforce_plugin_spark.functions.vector import kmeans_assign

    vecs = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [0.6, 0.6]), (4, [0.5, 0.5])],
        ["vec_id", "embedding"],
    )
    seeds = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])], ["cluster", "centroid"]
    )
    out = {r["vec_id"]: r for r in kmeans_assign(vecs, seeds).collect()}
    assert out[1]["cluster"] == 0 and out[1]["dist2"] == 0
    assert out[2]["cluster"] == 1 and out[2]["dist2"] == 0
    assert out[3]["cluster"] == 1 and out[3]["dist2"] == 2 * 400 * 400
    assert out[4]["cluster"] == 0 and out[4]["dist2"] == 2 * 500 * 500  # tie


def test_importance_scores_target_like_docs_higher(spark):
    from salesforce_plugin_spark.functions.text import hashed_ngram_importance

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", True),
        (2, "the quick brown fox runs past the lazy dog", False),  # target-like
        (3, "zzq qqz zqz qzq zzq qqz zqz", False),                 # alien vocab
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, tgt boolean")
    out = {
        r.doc_id: r
        for r in hashed_ngram_importance(
            df, "doc_id", "text", F.col("tgt"), n_buckets=1 << 20
        ).collect()
    }
    # doc 2 shares most bigrams with the target; doc 3 shares none
    assert out[2].importance > out[3].importance
    assert out[1].is_target and not out[2].is_target
    for r in out.values():
        assert r.importance == round(r.score_scaled / (1e6 * r.n_bigrams), 6)


def test_importance_short_docs_score_null(spark):
    from salesforce_plugin_spark.functions.text import hashed_ngram_importance

    df = spark.createDataFrame(
        [(1, "single", False), (2, "two tokens", True)],
        "doc_id int, text string, tgt boolean",
    )
    out = {
        r.doc_id: r
        for r in hashed_ngram_importance(
            df, "doc_id", "text", F.col("tgt")
        ).collect()
    }
    assert out[1].n_bigrams == 0 and out[1].importance is None
    assert out[2].n_bigrams == 1 and out[2].importance is not None


def test_dimension_stats_matches_numpy(spark):
    import numpy as np

    from salesforce_plugin_spark.functions.vector import dimension_stats

    vecs = [[0.5, -0.25, 0.0], [0.1, -0.75, 1.0], [-0.3, 0.05, 0.5]]
    df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    out = {r.dim: r for r in dimension_stats(df, "v", quant=1000).collect()}
    q = np.round(np.array(vecs) * 1000).astype(np.int64)
    for d in range(3):
        col = q[:, d]
        assert out[d].n == 3
        assert out[d].sum_q == int(col.sum())
        assert out[d].sumsq_q == int((col * col).sum())
        assert out[d].var_num == int(3 * (col * col).sum() - col.sum() ** 2)
        assert out[d].var_num >= 0  # n^2 * variance is non-negative


def test_collocation_lift_separates_collocates_from_stop_pairs(spark):
    from salesforce_plugin_spark.functions.text import collocation_lift

    # "machine learning" always co-occurs; "the" pairs with everything
    docs = []
    for i in range(20):
        docs.append((f"machine learning rocks the house {i}",))
        docs.append((f"the cat sat on the mat {i}",))
        docs.append((f"the dog ran to the park {i}",))
    df = spark.createDataFrame(docs, "text string")
    out = {(r.w1, r.w2): r for r in collocation_lift(
        df, "text", min_pair_count=5, top_n=100
    ).collect()}
    ml = out[("machine", "learning")]
    assert ml.lift_ppm > 1_000_000          # above independence
    the_cat = out.get(("the", "cat"))
    if the_cat is not None:
        assert ml.lift_ppm > the_cat.lift_ppm  # stop pair scores lower
    assert ml.n_ab == 20


def test_collocation_lift_margins_sum_to_total(spark):
    from salesforce_plugin_spark.functions.text import collocation_lift

    df = spark.createDataFrame(
        [("a b a b a b",), ("b a b a",)], "text string"
    )
    rows = collocation_lift(df, "text", min_pair_count=1, top_n=10).collect()
    # margins derive from the bigram table itself: every lift is exact
    for r in rows:
        n = sum(x.n_ab for x in rows)  # all pairs present in top_n here
        assert r.lift_ppm == r.n_ab * n * 1_000_000 // (r.n_a * r.n_b)


def test_oov_rate_counts_exactly(spark):
    from salesforce_plugin_spark.functions.text import oov_rate

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "a rare words here"), (3, "b b")],
        "doc_id long, text string",
    )
    # vocab_size=2 -> vocab = {a, b} (tf 4 and 3)
    out = {r.doc_id: r for r in oov_rate(df, "doc_id", "text", 2).collect()}
    assert out[1].n_oov == 0 and out[1].oov_ppm == 0
    assert out[2].n_tokens == 4 and out[2].n_oov == 3
    assert out[2].oov_ppm == 750000
    assert out[3].n_oov == 0


# --- gram matrix ---

def test_gram_matrix_arrow_equals_explode(spark):
    from salesforce_plugin_spark.functions.vector import gram_matrix
    from salesforce_plugin_spark.sources.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = sorted(map(tuple, gram_matrix(e, "embedding", method="arrow").collect()))
    b = sorted(map(tuple, gram_matrix(e, "embedding", method="explode").collect()))
    assert a == b and len(a) > 0


def test_gram_matrix_matches_numpy(spark):
    import numpy as np
    from salesforce_plugin_spark.functions.vector import gram_matrix

    rows = [
        (0, [0.5, -0.25, 0.125]),
        (1, [1.0, 0.75, -0.5]),
        (2, [-0.125, 0.0, 0.25]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = {(r.i, r.j): r for r in gram_matrix(df, "v", quant=1000).collect()}
    q = np.rint(np.array([r[1] for r in rows]) * 1000).astype(np.int64)
    g = q.T @ q
    t = q.sum(axis=0)
    assert len(out) == 6  # upper triangle of 3x3
    for (i, j), r in out.items():
        assert j >= i and r.n == 3
        assert r.s == g[i, j]
        assert r.cov_num == 3 * g[i, j] - t[i] * t[j]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        gram_matrix(df, "v", method="nope")


# --- term-label association ---

def test_term_label_association_cells_and_phi(spark):
    import math
    from salesforce_plugin_spark.functions.text import term_label_association

    # "alpha" appears in both A docs and neither B doc -> perfect +phi
    df = spark.createDataFrame(
        [
            (1, "alpha common", "A"),
            (2, "alpha common", "A"),
            (3, "beta common", "B"),
            (4, "beta common", "B"),
        ],
        "id long, text string, lab string",
    )
    out = {
        (r.term, r.lab if hasattr(r, "lab") else r.label): r
        for r in term_label_association(df, "id", "text", "lab", min_docs=2).collect()
    }
    r = out[("alpha", "A")]
    assert (r.a, r.b, r.c, r.d) == (2, 0, 0, 2)
    assert r.phi == 1.0
    assert out[("alpha", "B")].phi == -1.0
    # margin-degenerate term ("common" in every doc): phi NULL, cells exact
    rc = out[("common", "A")]
    assert (rc.a, rc.b, rc.c, rc.d) == (2, 2, 0, 0)
    assert rc.phi is None
    # hand-checked non-degenerate phi
    df2 = spark.createDataFrame(
        [
            (1, "x", "A"), (2, "x y", "A"), (3, "y", "A"),
            (4, "x", "B"), (5, "y", "B"), (6, "y", "B"),
        ],
        "id long, text string, lab string",
    )
    out2 = {
        (r.term, r.label): r
        for r in term_label_association(df2, "id", "text", "lab", min_docs=1).collect()
    }
    r2 = out2[("x", "A")]
    assert (r2.a, r2.b, r2.c, r2.d) == (2, 1, 1, 2)
    want = (2 * 2 - 1 * 1) / math.sqrt(3 * 3 * 3 * 3)
    assert abs(r2.phi - round(want, 6)) < 1e-12


def test_term_label_association_min_docs_floor(spark):
    from salesforce_plugin_spark.functions.text import term_label_association

    df = spark.createDataFrame(
        [(1, "rare seen", "A"), (2, "seen", "B")],
        "id long, text string, lab string",
    )
    terms = {
        r.term
        for r in term_label_association(df, "id", "text", "lab", min_docs=2).collect()
    }
    assert terms == {"seen"}


# --- skip-gram co-occurrence ---

def test_skipgram_counts_window_and_floor(spark):
    from salesforce_plugin_spark.functions.text import skipgram_counts

    df = spark.createDataFrame([("a b c d",), ("a b x",)], "text string")
    out = {
        (r.center, r.context): r.n
        for r in skipgram_counts(df, "text", window=2, min_count=1).collect()
    }
    # forward-window pairs only, counted across docs
    assert out[("a", "b")] == 2
    assert out[("a", "c")] == 1 and ("a", "d") not in out  # window bound
    assert out[("b", "x")] == 1
    floored = skipgram_counts(df, "text", window=2, min_count=2).collect()
    assert {(r.center, r.context) for r in floored} == {("a", "b")}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        skipgram_counts(df, "text", window=0)


# --- cluster term labeling ---

def test_cluster_terms_lift_and_tiebreak(spark):
    from salesforce_plugin_spark.functions.text import cluster_terms

    rows = (
        [(0, "apple fruit common") for _ in range(4)]
        + [(1, "rocket engine common") for _ in range(4)]
    )
    df = spark.createDataFrame(rows, "cluster int, text string")
    out = [
        (r.cluster, r.rank, r.term, r.lift_ppm)
        for r in cluster_terms(df, "cluster", "text", top_k=2, min_df=1).collect()
    ]
    by_cluster = {}
    for c, rank, term, lift in out:
        by_cluster.setdefault(c, []).append((rank, term, lift))
    # cluster-exclusive terms rank above the shared term, lift = 2x
    top0 = sorted(by_cluster[0])[0:2]
    assert {t for _, t, _ in top0} == {"apple", "fruit"}
    assert all(l == 2_000_000 for _, _, l in top0)
    top1 = {t for _, t, _ in sorted(by_cluster[1])[0:2]}
    assert top1 == {"engine", "rocket"}
    # deterministic alphabetical tiebreak at equal (lift, a)
    assert sorted(by_cluster[0])[0][1] == "apple"
    # "common" (lift 1.0) never outranks exclusives
    assert all(
        term != "common" for _, term, _ in sorted(by_cluster[0])[0:2]
    )


def test_cluster_terms_min_df_floor(spark):
    from salesforce_plugin_spark.functions.text import cluster_terms

    df = spark.createDataFrame(
        [(0, "rare shared"), (1, "shared")], "cluster int, text string"
    )
    out = cluster_terms(df, "cluster", "text", top_k=5, min_df=2).collect()
    assert {r.term for r in out} == {"shared"}


# --- kmeans assignment margin ---

def test_kmeans_margin_agrees_with_assign_and_orders(spark):
    from salesforce_plugin_spark.functions.vector import (
        kmeans_assign,
        kmeans_margin,
    )

    vecs = spark.createDataFrame(
        [
            (10, [0.9, 0.1]),   # clearly cluster 0
            (11, [0.52, 0.48]),  # boundary: tiny margin
            (12, [0.0, 1.1]),   # clearly cluster 1
        ],
        "vec_id long, embedding array<double>",
    )
    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cluster long, centroid array<double>",
    )
    a = {r.vec_id: r.cluster for r in kmeans_assign(vecs, seeds).collect()}
    m = {r.vec_id: r for r in kmeans_margin(vecs, seeds).collect()}
    assert {k: v.cluster for k, v in m.items()} == a
    for r in m.values():
        assert r.dist2_second >= r.dist2 and r.margin == r.dist2_second - r.dist2
    assert m[11].margin < m[10].margin and m[11].margin < m[12].margin
    # k = 1: no runner-up -> NULL margin
    one = kmeans_margin(vecs, seeds.filter("cluster = 0")).collect()
    assert all(r.margin is None for r in one)


# --- exact-integer kernel ---

def test_quantize_rounds_half_up_like_f_round(spark):
    from salesforce_plugin_spark.functions.vector import quantize

    halves = [0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 0.25, -0.25, 0.0]
    df = spark.createDataFrame([(halves,)], "v array<double>")
    for q in (1, 10):
        got, ref = df.select(
            quantize(F.col("v"), q).alias("got"),
            F.transform("v", lambda x: F.round(x * q, 0).cast("long")).alias("ref"),
        ).first()
        assert got == ref
    assert df.select(quantize(F.col("v"), 1)).first()[0] == [1, -1, 2, -2, 3, -3, 0, 0, 0]
    assert df.select(quantize(F.col("v"), 10)).first()[0][6:8] == [3, -3]


def test_quantize_widens_float_before_multiplying(spark):
    """float32(0.0025) is 0.0024999999441...: times 1000 in float32 it
    rounds to exactly 2.5 (-> 3), in double it stays below the half
    (-> 2). quantize must give the double result, as the oracles do."""
    import numpy as np

    from salesforce_plugin_spark.functions.vector import quantize

    x = np.float32(0.0025)
    f32 = float(x * np.float32(1000))
    f64 = float(x) * 1000
    assert f32 == 2.5 and f64 < 2.5  # the two products really differ
    df = spark.createDataFrame([([float(x)],)], "v array<float>")
    assert df.select(quantize(F.col("v"), 1000)).first()[0] == [2]


def test_ldot_lnorm2_exact_past_2_pow_53(spark):
    from salesforce_plugin_spark.functions.vector import ldot, lnorm2, lsum

    a = [2**27 + 1, 2**27 + 3, -(2**27 + 5)]
    b = [2**27 - 1, 2**27 + 7, 2**27 + 9]
    dot_ab = sum(x * y for x, y in zip(a, b))
    norm_a = sum(x * x for x in a)
    assert abs(norm_a) > 2**53 and float(a[0]) ** 2 != a[0] ** 2
    df = spark.createDataFrame([(a, b)], "a array<long>, b array<long>")
    r = df.select(
        ldot(F.col("a"), F.col("b")).alias("d"),
        lnorm2(F.col("a")).alias("na"),
        lnorm2(F.col("b")).alias("nb"),
        lsum(F.col("a")).alias("s"),
    ).first()
    assert r.d == dot_ab
    assert r.na == norm_a
    assert r.nb == sum(y * y for y in b)
    assert r.s == sum(a)


def test_gram_power_step_equals_one_iteration(spark):
    from salesforce_plugin_spark.functions.vector import (
        gram_power_iterations,
        gram_power_step,
    )

    df = spark.createDataFrame(
        [
            (1, [0.5, -0.25, 0.125]),
            (2, [1.0, 0.75, -0.5]),
            (3, [-0.125, 0.0, 0.2505]),
        ],
        "id long, v array<float>",
    )
    v0 = spark.createDataFrame([([0.3, -0.6, 0.9],)], "v0 array<double>")
    step = {r.dim: r.gv for r in gram_power_step(df, "id", "v", v0).collect()}
    it1 = {
        r.dim: r.gv
        for r in gram_power_iterations(df, "id", "v", v0, iterations=1).collect()
    }
    assert step == it1 and len(step) == 3
