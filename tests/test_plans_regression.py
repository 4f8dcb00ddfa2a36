"""Physical-plan regression guards (SCALE.md): the properties that make
these queries survive 100× scale-up must stay in the plan — pushdown,
broadcast strategies, bounded top-k, partial aggregation, scan-side
event-time ranges."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pytest

from salesforce_plugin_spark.conformance import QUERIES

SF = "/root/testdata/sf0.001"
needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver fixtures not present"
)


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _plan_string(df) -> str:
    """``explain("formatted")`` WITHOUT stdout redirection — the JVM-side
    explainString is what explain() prints; fetching it directly is
    thread-safe (redirect_stdout swaps the process-global sys.stdout,
    which races when plans are derived from a thread pool)."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


@pytest.fixture(scope="module")
def registry_plans(spark):
    """(schema, formatted plan) per registry entry, built ONCE and IN
    PARALLEL: the two whole-registry sweeps below each cost ~3.5 min
    when they re-derive all 340+ plans independently (round-10 suite
    profile: the two slowest tests in the suite, 232 s + 186 s); r11
    shared one serial derivation, which was still the suite's slowest
    item (575 s in the r12 resume profile) because iterative operators
    (CC/louvain/kmeans fixpoints) run real driver-barrier jobs during
    DataFrame CONSTRUCTION and analysis is one py4j round trip per
    entry. Entries are independent, so a small driver thread pool
    overlaps those barriers (optimization guide §2.6 — the scheduler
    happily runs concurrent jobs; plans and schemas are unchanged,
    only the derivation overlaps)."""
    from concurrent.futures import ThreadPoolExecutor

    def build(item):
        name, fn = item
        try:
            df = fn(spark, SF)
            return name, (df.schema, _plan_string(df))
        except Exception as e:
            raise RuntimeError(f"{name}: {e}") from e

    with ThreadPoolExecutor(max_workers=16) as pool:
        return dict(pool.map(build, QUERIES.items()))


@needs_fixtures
def test_filter_pushes_all_predicates(spark):
    plan = formatted_plan(QUERIES["q_filter_compare"](spark, SF))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "GreaterThan(l_quantity" in pushed and "Not(EqualTo(l_returnflag" in pushed


@needs_fixtures
def test_scan_prunes_columns(spark):
    plan = formatted_plan(QUERIES["q_filter_compare"](spark, SF))
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # 5 of 11 lineitem columns — no full-width scan for a 5-column query
    assert read.count(":") - 1 == 5 or read.count(",") == 4


@needs_fixtures
def test_lookup_join_broadcasts_dimension(spark):
    plan = formatted_plan(QUERIES["q_parent_lookup_join"](spark, SF))
    assert "BroadcastHashJoin" in plan


@needs_fixtures
def test_semi_join_pushes_dim_filter_and_broadcasts(spark):
    plan = formatted_plan(QUERIES["q_semi_join"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "GreaterThan(o_totalprice" in plan


@needs_fixtures
def test_topk_is_bounded_not_global_sort(spark):
    for name in ("q_sort_limit", "q_embed_topk"):
        plan = formatted_plan(QUERIES[name](spark, SF))
        assert "TakeOrderedAndProject" in plan, name


@needs_fixtures
def test_groupby_keeps_partial_aggregation(spark):
    plan = formatted_plan(QUERIES["q_agg_groupby"](spark, SF))
    assert "partial_sum" in plan and "HashAggregate" in plan


@needs_fixtures
def test_event_range_pushes_raw_nanos_bounds(spark):
    plan = formatted_plan(QUERIES["q_date_range"](spark, SF))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "GreaterThanOrEqual(ts," in pushed and "LessThan(ts," in pushed


@needs_fixtures
def test_output_schemas_are_scalar_only(registry_plans):
    """Driver-canonicalizer safety sweep over the whole registry: no
    DECIMAL (round-2 failure class: Spark DECIMAL(28) vs DuckDB HUGEINT
    canonicalize differently) and no Array/Struct/Map (round-3 failure
    class: a pandas-based canonicalizer cannot factorize numpy arrays)
    in any query's FINAL output schema. Nested/array data may flow
    freely inside plans — only the result surface must be scalar."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    banned = (ArrayType, DecimalType, MapType, StructType)
    for name, (schema, _plan) in registry_plans.items():
        for f in schema.fields:
            assert not isinstance(f.dataType, banned), (
                f"{name}.{f.name} has non-scalar/decimal type {f.dataType}"
            )


@needs_fixtures
def test_no_cartesian_products_anywhere(registry_plans):
    """Every registry plan must be free of unintended cross joins (the
    broadcast-query-vector crossJoin in top-k is a 1-row broadcast, which
    Spark plans as BroadcastNestedLoopJoin — bounded, allowed)."""
    for name, (_schema, plan) in registry_plans.items():
        assert "CartesianProduct" not in plan, name


@needs_fixtures
def test_tpch_q10_pushdown_and_bounded_topk(spark):
    plan = formatted_plan(QUERIES["q_tpch_q10"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan  # filter reached the scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


@needs_fixtures
def test_tpch_q18_partial_agg_before_join(spark):
    plan = formatted_plan(QUERIES["q_tpch_q18"](spark, SF))
    assert "partial_sum" in plan  # HAVING set built with map-side combine
    assert "TakeOrderedAndProject" in plan


@needs_fixtures
def test_tpch_q6_is_pure_pushdown_scan(spark):
    """Q6 shape: every predicate reaches the parquet scan; no joins."""
    plan = formatted_plan(QUERIES["q_tpch_q6"](spark, SF))
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "GreaterThanOrEqual(l_discount,0.02)" in pushed
    assert "LessThan(l_quantity,24.0)" in pushed
    assert "Join" not in plan
    assert "partial_sum" in plan


@needs_fixtures
def test_tpch_q19_distributes_disjunction_per_side(spark):
    """Q19 shape: Catalyst factors the OR-of-ANDs so each side's scan
    receives its own disjunctive filter before the join."""
    plan = formatted_plan(QUERIES["q_tpch_q19"](spark, SF))
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "GreaterThanOrEqual(l_quantity,1.0)" in pushed  # lineitem side
    assert "EqualTo(p_brand,Brand#1)" in pushed            # part side
    assert "BroadcastHashJoin" in plan


@needs_fixtures
def test_tpch_q7_pushes_nation_pair_filter_to_both_scans(spark):
    """Q7 shape: the disjunctive nation-pair predicate reaches BOTH copies
    of the nation dimension scan, and every dim join is a broadcast."""
    plan = formatted_plan(QUERIES["q_tpch_q7"](spark, SF))
    pushed = [l for l in plan.splitlines() if "Or(EqualTo(n_name" in l]
    assert len(pushed) == 2
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan


@needs_fixtures
def test_winnow_single_shuffle(spark):
    """Winnowing is projections + one explode — the only Exchange is the
    conformance fixture's parallelize repartition, never a data shuffle."""
    plan = formatted_plan(QUERIES["q_winnow_fingerprint"](spark, SF))
    assert plan.count("Exchange") <= 2  # RoundRobin fan-out only
    assert "hashpartitioning" not in plan


@needs_fixtures
def test_corpus_mix_is_shuffle_free(spark):
    """md5-bucket sampling + union must stay a pure scan-side pipeline."""
    plan = formatted_plan(QUERIES["q_corpus_mix"](spark, SF))
    assert "hashpartitioning" not in plan


@needs_fixtures
def test_soql_date_literal_folds_to_constant_bounds(spark):
    """With an injected 'today', range bounds are constant-foldable — the
    filter must not evaluate date arithmetic per row (no date_add/trunc in
    the final predicate)."""
    plan = formatted_plan(QUERIES["q_soql_date_literal"](spark, SF))
    cond = [l for l in plan.splitlines() if "Condition" in l or "Filter" in l]
    txt = " ".join(cond)
    assert "date_add" not in txt and "date_trunc" not in txt


@needs_fixtures
def test_soql_date_literal_pushes_range_to_scan(spark):
    """The front door's static-bound extraction must reach the parquet scan
    as constant range bounds, in the ONE form matching the fixture's
    physical ``ts`` encoding (sniffed from the footer, like the engine
    does): epoch-nanos bounds for a legacy raw-nanos column, timestamp
    bounds for a native unit. Asserting the footer-specific form keeps the
    nanos-repair pushdown property exactly guarded across fixture
    regenerations (an either-or assert silently lost that coverage when
    the fixtures went native-µs)."""
    import os

    from salesforce_plugin_spark.sources.catalog import timestamp_unit

    plan = formatted_plan(QUERIES["q_soql_date_literal"](spark, SF))
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters" in l)
    unit = timestamp_unit(os.path.join(SF, "events.parquet"), "ts")
    if unit == "ns":
        assert "GreaterThanOrEqual(ts,1705104000000000000)" in pushed, pushed
        assert "LessThan(ts,1705795200000000000)" in pushed, pushed
    else:
        assert "GreaterThanOrEqual(ts,2024-01-13 00:00:00" in pushed, pushed
        assert "LessThan(ts,2024-01-21 00:00:00" in pushed, pushed


@needs_fixtures
def test_tpch_q4_exists_is_semi_join_with_residual(spark):
    """Q4 shape: EXISTS lowers to ONE left-semi join (no row explosion, no
    distinct-then-inner rewrite) carrying the cross-table date comparison
    as the join residual, and the orders date filter reaches the scan."""
    import re

    plan = formatted_plan(QUERIES["q_tpch_q4"](spark, SF))
    assert "LeftSemi" in plan
    # exactly one join operator in the tree — no added dedup join
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) == 1
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "LessThan(o_orderdate" in pushed


@needs_fixtures
def test_tpch_q11_reuses_per_part_exchange(spark):
    """Q11 shape: the per-part rollup feeds both the threshold and probe
    sides; after AQE the duplicate shuffle must collapse to a
    ReusedExchange so the fact table is aggregated once."""
    df = QUERIES["q_tpch_q11"](spark, SF)
    df.collect()
    plan = _plan_string(df)
    assert "ReusedExchange" in plan


@needs_fixtures
def test_tpch_q17_correlated_avg_is_grouped_broadcast(spark):
    """Q17 shape (round 9): the correlated per-part AVG lowers to a
    grouped rollup broadcast back onto the brand slice — NO window and
    NO sort anywhere (the old single-window form exchanged and sorted
    the whole brand fact slice wide); the per-part thresholds reach
    the probe side through a broadcast, and the only wide exchange
    carries pre-aggregated rows."""
    import re

    plan = formatted_plan(QUERIES["q_tpch_q17"](spark, SF))
    assert "Window" not in plan and "(Inner) Sort" not in plan
    assert re.search(r"\(\d+\) Sort", plan) is None  # no sort at all
    assert plan.count("BroadcastHashJoin") >= 2  # brand dim + thresholds
    # partial aggregation stays map-side ahead of the one wide exchange
    assert "partial_sum" in plan or "partial_count" in plan


@needs_fixtures
def test_tpch_q21_double_correlation_is_grouped_not_self_joined(spark):
    """Q21 shape: EXISTS + NOT-EXISTS lower to one rollup + per-order
    window — the fact tables are scanned ONCE (no correlated self-joins,
    no recompute of the orders⨝lineitem subtree for a probe side)."""
    import re

    plan = formatted_plan(QUERIES["q_tpch_q21"](spark, SF))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3  # li, o, s
    assert "Window" in plan
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) == 2  # fact join + dim
    assert "TakeOrderedAndProject" in plan  # bounded top-k, no global sort


@needs_fixtures
def test_tpch_q22_scalar_subquery_is_one_row_broadcast(spark):
    """Q22 shape: the global average joins as a 1-row broadcast (nested-loop
    is fine at that cardinality) and NOT EXISTS is a left-anti join; the
    orders date filter reaches the scan."""
    plan = formatted_plan(QUERIES["q_tpch_q22"](spark, SF))
    assert "LeftAnti" in plan
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "GreaterThanOrEqual(o_orderdate" in pushed


@needs_fixtures
def test_tpch_q16_anti_join_precedes_distinct_agg(spark):
    """Q16 shape: the blacklist anti-join is a broadcast and sits BELOW the
    distinct aggregation, so excluded pairs never enter the shuffle."""
    plan = formatted_plan(QUERIES["q_tpch_q16"](spark, SF))
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    # anti join appears before (deeper than) the first HashAggregate
    tree = plan.split("\n\n")[0]
    assert tree.rindex("LeftAnti") > tree.index("HashAggregate")


@needs_fixtures
def test_tpch_q20_chain_shrinks_before_each_shuffle(spark):
    """Q20 shape: one rollup + per-part window + distinct + semi join —
    the fact table is scanned once and never re-joined."""
    import re

    plan = formatted_plan(QUERIES["q_tpch_q20"](spark, SF))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2  # li + s
    assert "Window" in plan and "LeftSemi" in plan


@needs_fixtures
def test_tpch_q2_single_pass_window_argmin(spark):
    """Q2 shape: the per-part argmin must be a window over ONE pass of the
    supply rollup — the groupBy+join-back form scans lineitem twice (no
    ReuseExchange: the probe side de-canonicalizes the subtree). The FACT
    table is scanned exactly once; the tiny dimensions may be re-scanned
    (the broadcast semi-join pre-filter below the rollup trades duplicate
    dim scans for aggregating only the qualifying fact slice — the right
    direction at 100 TB). Semi-join key pruning must reach the fact scan."""
    plan = formatted_plan(QUERIES["q_tpch_q2"](spark, SF))
    assert plan.count("lineitem.parquet") == 1  # fact scanned once
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan  # all dim joins broadcast
    # the rollup input is the semi-filtered fact, not the raw scan
    assert plan.count("LeftSemi") >= 2


@needs_fixtures
def test_tpch_q9_pushes_like_and_broadcasts_dims(spark):
    """Q9 shape: the part LIKE filter must reach the part scan (so the
    broadcast pre-shrinks the fact join), aggregation stays partial→final,
    and each table is scanned exactly once."""
    import re

    plan = formatted_plan(QUERIES["q_tpch_q9"](spark, SF))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 5  # li,p,s,n,o
    assert "StringContains(p_name,red)" in plan.replace(" ", "").replace(
        "'", ""
    ) or "Contains" in plan
    assert "partial_sum" in plan


@needs_fixtures
def test_contamination_probes_broadcast_eval_set(spark):
    """The training corpus must probe a broadcast of the eval shingle set —
    a corpus-side hash shuffle before the join would move 100 TB; the only
    hashpartitioning allowed is the per-doc count aggregation (plus the
    eval-side distinct feeding the broadcast)."""
    plan = formatted_plan(QUERIES["q_contamination"](spark, SF))
    assert "BroadcastHashJoin" in plan
    join_pos = plan.index("BroadcastHashJoin")
    # the corpus side (text above the join in the formatted tree) carries
    # no exchange other than the fixture fan-out
    assert "SortMergeJoin" not in plan


@needs_fixtures
def test_vocab_topk_is_bounded_and_partial_agged(spark):
    """Vocabulary build: Zipf token keys must collapse map-side (partial
    HashAggregate) and the top-k must be TakeOrderedAndProject, not a
    global sort."""
    plan = formatted_plan(QUERIES["q_vocab"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


@needs_fixtures
def test_tfidf_broadcasts_doc_freq(spark):
    """tf-idf joins per-doc term counts against the vocab-sized doc-freq
    relation — that side must broadcast (corpus-side shuffle only for the
    per-doc window)."""
    plan = formatted_plan(QUERIES["q_tfidf"](spark, SF))
    assert "BroadcastHashJoin" in plan


@needs_fixtures
def test_batched_topk_broadcasts_queries_and_prunes_per_query(spark):
    """Batched ANN: the query batch is a broadcast nested-loop against one
    corpus scan; ranking happens in a per-q_id window, so only top-k rows
    per query survive the (single) exchange."""
    plan = formatted_plan(QUERIES["q_embed_batch_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" in plan


@needs_fixtures
def test_sequence_packing_window_is_sharded(spark):
    """The pack window must partition on (split, shard), not split alone —
    per-split-only packing sorts each split's whole chunk set in ONE task
    (3 window partitions at any data size, the round-2 scale-killer). The
    md5 shard key keeps the sharded form oracle-reproducible."""
    plan = formatted_plan(QUERIES["q_training_sequences"](spark, SF))
    window_lines = " ".join(
        l for l in plan.splitlines() if "windowspecdefinition" in l.lower()
    )
    assert "shard" in window_lines, window_lines
    # and the shard fan-out is real: >3 distinct pack partitions at sf0.001
    from salesforce_plugin_spark.operators.pipeline import (
        build_training_corpus,
        corpus_to_sequences,
    )
    from salesforce_plugin_spark.sources.catalog import load_table

    corpus = build_training_corpus(
        load_table(spark, SF, "documents"),
        min_tokens=10, max_punct_ratio=0.5, langs=("en", "es"),
    )
    n_parts = (
        corpus_to_sequences(corpus)
        .select("split", "shard").distinct().count()
    )
    assert n_parts > 3, n_parts


@needs_fixtures
def test_rollup_then_window_share_one_exchange(spark):
    """Q20/Q21 shape: the (key, subkey) rollup and the per-key window must
    share ONE exchange — hash-partitioning on the key alone satisfies both
    stages' clustering requirement (subset rule). A second hashpartitioning
    on the composite rollup key in the plan means the shuffle doubled."""
    for name, composite in (
        ("q_tpch_q20", "l_partkey#"),
        ("q_tpch_q21", "l_orderkey#"),
    ):
        plan = formatted_plan(QUERIES[name](spark, SF))
        # the explicit key repartition feeds both stateful stages
        assert "REPARTITION_BY_COL" in plan, name
        # no exchange keyed on the composite (partkey, suppkey) /
        # (orderkey, suppkey) rollup key anywhere in the plan
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and composite in line:
                assert "l_suppkey" not in line, (name, line)


@needs_fixtures
def test_partitioned_scan_prunes_day_directories(spark):
    """The day-partitioned rewrite must turn the range filter into
    PartitionFilters on event_day — at scale this is directory-level
    pruning, not row filtering."""
    plan = formatted_plan(QUERIES["q_partitioned_scan"](spark, SF))
    part = " ".join(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "event_day" in part, plan
    assert "2024-01-05" in part and "2024-01-15" in part, part


@needs_fixtures
def test_heavy_hitters_broadcasts_the_sketch_grid(spark):
    # the depth x width grid is the broadcast side; the (possibly huge)
    # candidate side must never shuffle into the probe join
    plan = formatted_plan(QUERIES["q_heavy_hitters"](spark, SF))
    assert "BroadcastHashJoin" in plan


@needs_fixtures
def test_power_step_single_wide_exchange(spark):
    # one corpus scan, one dims-bounded shuffle: every other movement is
    # the 1-row v0 broadcast
    plan = formatted_plan(QUERIES["q_power_step"](spark, SF))
    # the only hash-partitioned movement is the dims-bounded aggregate;
    # the remaining Exchanges are the fixture's round-robin fan-out
    # (parallelized(), single-row-group workaround) on each scan
    assert plan.count("hashpartitioning(") == 1, plan


@needs_fixtures
def test_fuzzy_link_is_blocked_equijoin_with_residual_verify(spark):
    # blocking must surface as an equijoin on the block key; levenshtein
    # is a residual verify (join condition or post-join filter), never
    # the join strategy itself (the global no-cartesian sweep enforces
    # no nested-loop fallback)
    plan = formatted_plan(QUERIES["q_fuzzy_link"](spark, SF))
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)
    assert "levenshtein" in plan


@needs_fixtures
def test_bpe_pairs_explode_off_the_vocab_not_the_corpus(spark):
    # two generates: corpus tokenization, then pair expansion which must
    # sit ABOVE the word-level aggregate (vocab-bounded)
    plan = formatted_plan(QUERIES["q_bpe_step"](spark, SF))
    assert plan.count("Generate (") == 2, plan
    gen2 = plan.rindex("Generate (")
    agg1 = plan.index("HashAggregate (")
    assert agg1 < gen2, "pair explode must follow the word aggregate"


def test_plans_md_covers_every_registry_entry():
    """PLANS.md (the audit doc regenerated by scripts/dump_plans.py)
    must have exactly one section per registry query — the doc drifted
    by one entry in round 5 (q_stream_dow landed without a plan
    summary); this pins it."""
    plans_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLANS.md",
    )
    with open(plans_path) as f:
        sections = {
            line[3:].strip()
            for line in f
            if line.startswith("## ")
        }
    missing = set(QUERIES) - sections
    extra = sections - set(QUERIES)
    assert not missing, f"PLANS.md missing sections: {sorted(missing)}"
    assert not extra, f"PLANS.md stale sections: {sorted(extra)}"


def test_registry_is_derived_from_the_family_modules():
    """QUERIES and ORACLES cover the same names, the driver window leads
    the registry in its declared order, and every entry's key is the
    name of a ``q_*`` builder defined in a conformance family module."""
    from salesforce_plugin_spark.conformance import (
        _FAMILIES,
        _R12_WINDOW,
        ORACLES,
    )

    assert set(QUERIES) == set(ORACLES)
    assert list(QUERIES)[:50] == _R12_WINDOW
    families = {m.__name__ for m in _FAMILIES}
    for name, fn in QUERIES.items():
        assert fn.__wrapped__.__name__ == name, name
        assert fn.__wrapped__.__module__ in families, name


def test_registry_merge_rejects_a_name_in_two_families():
    from salesforce_plugin_spark.conformance import _merge_unique, relational

    merged = {"q_a": 1}
    with pytest.raises(ValueError, match="q_a"):
        _merge_unique(merged, {"q_a": 2, "q_b": 3}, relational, "queries")
    assert merged == {"q_a": 1}
