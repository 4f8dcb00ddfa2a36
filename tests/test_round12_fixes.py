"""Round-12 fixes (VERDICT r11 #1: the exact-quantization oracle class).

Round 11's forensics proved the four driver-red entries (q_cusum,
q_stream_cusum, q_key_skew, q_dimension_stats) diverge between Spark
and the DuckDB oracle ON THE DRIVER HOST ONLY — every local drive is
green. Round 12 localized the defect class precisely: those four were
exactly the four r11-window oracles whose FINAL projection left a
HUGEINT column (DuckDB widens ``sum(BIGINT)`` and ``BIGINT // HUGEINT``
to HUGEINT; a HUGEINT fetched through a different client path — e.g.
Arrow — surfaces as Decimal instead of int and breaks a type-sensitive
hash even when every value is equal).  Fixes under test here:

1. Every oracle's final columns are now plain engine-stable types —
   the registry-wide DESCRIBE sweep asserts no HUGEINT/DECIMAL ever
   reaches a final projection again (19 oracles were casted).
2. Oracles whose ``//`` numerator (or denominator) can be negative
   (q_contribution, q_theil_sen, q_dimension_stats' mean_q) now spell
   out truncation-toward-zero with sign-explicit CASE arms, because
   DuckDB versions differ on whether integer ``//`` truncates or
   floors for negative operands while Spark's ``div`` (and the
   exactmath.dfloor contract) always truncates.  The negative-operand
   matrix pins the CASE form to Spark ``div`` for every sign
   combination.
3. The four formerly-silent entries now carry an in-entry
   Spark-vs-DuckDB differential probe (``oracle_cross_check``) that
   raises with a bounded two-sided row diff — so a driver red carries
   evidence in ``err`` instead of a bare hash flag.  The probe is
   pinned: silent on agreement, raising (with row samples) on value
   divergence, and a no-op under SPARK_GRAFT_BENCH=1 (bench timings
   must not include an oracle replay).
"""

from __future__ import annotations

import duckdb
import pytest

from salesforce_plugin_spark.conformance import ORACLES
from salesforce_plugin_spark.conformance._common import oracle_cross_check
from salesforce_plugin_spark.sources.catalog import TABLES

SF_DIR = "/root/testdata/sf0.001"

# DuckDB result types that depend on the client fetch path (HUGEINT →
# int via the native API but Decimal via Arrow) or on engine version.
_UNSTABLE = ("HUGEINT", "DECIMAL")


def _oracle_connection(sf_dir: str = SF_DIR):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def test_no_oracle_emits_hugeint_or_decimal_finals():
    """Registry-wide guard: a HUGEINT/DECIMAL final column is exactly
    the class that sat driver-red for three rounds — never again."""
    con = _oracle_connection()
    offenders = {}
    for name, sql in ORACLES.items():
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        bad = [
            (c, t)
            for c, t, *_ in desc
            if any(u in t for u in _UNSTABLE)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracles with fetch-path-unstable final column types: "
        f"{offenders}"
    )


@pytest.mark.parametrize(
    "num,den",
    [(7, 2), (-7, 2), (7, -2), (-7, -2), (6, 3), (-6, 3), (0, 5),
     (-1, 1000000), (999999, -1000000)],
)
def test_sign_explicit_case_div_matches_spark_div(spark, num, den):
    """The oracle CASE form used for signed ``//`` must equal Spark's
    ``div`` (truncation toward zero) for every sign combination,
    REGARDLESS of whether the host DuckDB's ``//`` truncates (<=1.0)
    or floors (later versions)."""
    con = duckdb.connect()
    case_sql = (
        f"SELECT CASE WHEN (({num} < 0) = ({den} < 0)) "
        f"THEN abs({num}) // abs({den}) "
        f"ELSE -(abs({num}) // abs({den})) END"
    )
    duck = con.execute(case_sql).fetchone()[0]
    spark_div = spark.sql(
        f"SELECT CAST({num} AS BIGINT) div CAST({den} AS BIGINT)"
    ).collect()[0][0]
    python_trunc = int(num / den)  # truncation toward zero
    assert duck == spark_div == python_trunc


def test_dimension_stats_mean_q_case_matches_div(spark):
    """The mean_q arm (``-((-sum) // n)`` for negative sums) equals
    Spark's div for signed sums over positive counts."""
    con = duckdb.connect()
    for s, n in [(-7, 2), (7, 2), (-100, 7), (0, 3), (-9, 3)]:
        duck = con.execute(
            f"SELECT CASE WHEN ({s}) >= 0 THEN ({s}) // {n} "
            f"ELSE -((-({s})) // {n}) END"
        ).fetchone()[0]
        sp = spark.sql(
            f"SELECT CAST({s} AS BIGINT) div CAST({n} AS BIGINT)"
        ).collect()[0][0]
        assert duck == sp, (s, n, duck, sp)


def test_oracle_cross_check_silent_on_agreement(spark):
    """q_key_skew at sf0.001: entry output equals its oracle, so the
    probe must return the DataFrame unchanged and raise nothing."""
    from salesforce_plugin_spark.operators.analytics import key_skew
    from salesforce_plugin_spark.sources.catalog import load_table

    e = load_table(spark, SF_DIR, "events")
    out = key_skew(e, "user_id", top_n=10)
    got = oracle_cross_check(out, "q_key_skew", SF_DIR)
    assert got is out


def test_oracle_cross_check_raises_with_row_evidence(spark, monkeypatch):
    """A value divergence must RAISE and the message must carry both
    engine versions and bounded row samples from both sides."""
    from salesforce_plugin_spark.operators.analytics import key_skew
    from salesforce_plugin_spark.sources.catalog import load_table

    broken = ORACLES["q_key_skew"].replace(
        "CAST(r.n * 1000000 // s.total AS BIGINT) AS share_ppm",
        "CAST(r.n * 1000000 // s.total + 1 AS BIGINT) AS share_ppm",
    )
    assert broken != ORACLES["q_key_skew"]
    monkeypatch.setitem(ORACLES, "q_key_skew", broken)
    e = load_table(spark, SF_DIR, "events")
    out = key_skew(e, "user_id", top_n=10)
    with pytest.raises(RuntimeError) as ei:
        oracle_cross_check(out, "q_key_skew", SF_DIR)
    msg = str(ei.value)
    assert "q_key_skew" in msg
    assert "duckdb=" in msg
    assert "spark-only sample" in msg and "oracle-only sample" in msg


def test_oracle_cross_check_raises_over_row_cap(spark, monkeypatch):
    """The probe reads at most CROSS_CHECK_ROW_CAP + 1 rows per side; a
    result over the cap raises naming the entry instead of collecting
    it (q_key_skew has 10 rows)."""
    from salesforce_plugin_spark.conformance import _common
    from salesforce_plugin_spark.operators.analytics import key_skew
    from salesforce_plugin_spark.sources.catalog import load_table

    monkeypatch.setattr(_common, "CROSS_CHECK_ROW_CAP", 3)
    e = load_table(spark, SF_DIR, "events")
    out = key_skew(e, "user_id", top_n=10)
    with pytest.raises(RuntimeError, match="q_key_skew.*at most 3 rows"):
        oracle_cross_check(out, "q_key_skew", SF_DIR)


def test_oracle_cross_check_noop_under_bench_flag(spark, monkeypatch):
    """Under SPARK_GRAFT_BENCH=1 the probe must not even read the
    oracle — a deliberately broken oracle must not raise."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH", "1")
    monkeypatch.setitem(ORACLES, "q_key_skew", "SELECT syntactically !!")
    df = spark.range(3)
    assert oracle_cross_check(df, "q_key_skew", SF_DIR) is df


def test_gopher_and_importance_toks_col_matches_default(spark):
    """r12 capstone fusion (VERDICT r11 #3): passing a precomputed
    tokens(text) column through toks_col must reproduce the default
    path row-for-row for both operators."""
    from salesforce_plugin_spark.functions.text import (
        gopher_quality,
        hashed_ngram_importance,
        tokens,
    )
    import pyspark.sql.functions as F

    rows = [
        (1, "en", "the quick brown fox jumps over the lazy dog"),
        (2, "de", "Der schnelle braune Fuchs   springt"),
        (3, "en", "a b"),
        (4, "en", ""),
        (5, "fr", "punctuation, heavy!!! ... ;;; ###"),
        (6, "en", "one"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    dt = df.withColumn("__pre", tokens(F.col("text")))

    g_def = gopher_quality(df, "doc_id", "text", min_tokens=2).collect()
    g_pre = gopher_quality(
        dt, "doc_id", "text", min_tokens=2, toks_col="__pre"
    ).collect()
    assert sorted(map(tuple, g_def)) == sorted(map(tuple, g_pre))

    i_def = hashed_ngram_importance(
        df, "doc_id", "text", F.col("lang") == "en", n_buckets=64
    ).collect()
    i_pre = hashed_ngram_importance(
        dt, "doc_id", "text", F.col("lang") == "en", n_buckets=64,
        toks_col="__pre",
    ).collect()
    assert sorted(map(tuple, i_def)) == sorted(map(tuple, i_pre))


def test_kmeans_floor_quantization_matches_round_rule(spark):
    """r12: kmeans_assign's diff quantization moved from F.round (a
    ~0.9 us/element BigDecimal path, 2/3 of semantic-dedup's sf1.0
    executor time) to the sign-split floor form. Pin the equivalence on
    a value grid including exact .5 ties of both signs."""
    import pyspark.sql.functions as F

    vals = [2.5, -2.5, 0.5, -0.5, 1.4999, -1.4999, 0.0, 3.49, -3.51]
    df = spark.createDataFrame([(v,) for v in vals], "d double")
    got = df.select(
        F.when(F.col("d") >= 0, F.floor(F.col("d") + F.lit(0.5)))
        .otherwise(-F.floor(F.lit(0.5) - F.col("d")))
        .alias("q"),
        F.round(F.col("d"), 0).cast("long").alias("r"),
    ).collect()
    for row in got:
        assert row.q == row.r, (row.q, row.r)


def test_cosine_pair_sim_stays_out_of_join_condition(spark):
    """r12 plan guard: the rounded-cosine similarity must be evaluated
    in a post-join Project, not inside the join condition (where
    Catalyst's predicate pushdown had placed it — an Interpreted
    per-candidate-pair evaluation measured at ~55 us/pair vs ~0.4 us in
    a projection). The both-branches rand() wrapper holds it out; this
    pins the plan property so an optimizer or refactor regression is
    caught."""
    import pyspark.sql.functions as F

    from salesforce_plugin_spark.functions.dedup import (
        embedding_cosine_pairs,
    )

    df = spark.createDataFrame(
        [(i, i % 3, [float(i % 5), float(i % 7)]) for i in range(30)],
        "vec_id long, blk long, embedding array<double>",
    )
    pairs = embedding_cosine_pairs(
        df, "vec_id", "embedding", threshold=0.1, block_col="blk"
    )
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    join_lines = [l for l in plan.splitlines() if "Join Inner" in l]
    assert join_lines, plan
    for l in join_lines:
        assert "aggregate(" not in l, f"sim pushed into join: {l[:200]}"
