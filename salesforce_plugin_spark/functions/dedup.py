"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine (SURVEY §2 F1/F2).

Design for 100 TB:
- Exact dedup is a hash shuffle on the dedup key only (`row_number` window,
  partial aggregation applies); never a global sort.
- MinHash/LSH avoids the O(N²) pairwise wall: shingle → K min-hashes →
  B bands → shuffle on (band, bucket-hash) so only colliding docs ever meet.
- n-gram Jaccard is the *verifier* for candidate pairs (exact measure, used
  after LSH pruning at scale; the conformance query runs it directly at
  fixture scale via a shingle-equijoin which is itself shuffle-bounded by
  shared shingles, not by N²).
- All hashing is Spark's built-in xxhash64/hash (JVM, codegen) — no UDFs.
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from salesforce_plugin_spark.functions.text import tokens
from salesforce_plugin_spark.functions.vector import as_double, cosine


# ---------------------------------------------------------------------------
# F1: exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """Keep exactly one row per ``keys``, the first under ``order_by``
    (lexicographic; the tuple should be unique within a key for a fully
    deterministic survivor — same requirement the window form had).

    Deterministic alternative to ``dropDuplicates`` (which keeps an
    arbitrary row and therefore can't be oracle-checked). Shaped as a
    ``min_by`` hash aggregation rather than a ``row_number`` window: still
    one shuffle on ``keys``, but the aggregate partial-combines map-side —
    with duplication ratio r the exchange carries ~1/r of the rows, where
    the window form shuffles every duplicate to sort it, and a hot key
    no longer sorts one whole partition.
    """
    ord_struct = F.struct(*[F.col(c) for c in order_by])
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in df.columns]), ord_struct
            ).alias("__survivor")
        )
        .select("__survivor.*")
    )


def global_line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_line: int = 12,
    min_kept: int = 1,
) -> DataFrame:
    """Corpus-global exact line dedup (the C4 rule: any span that occurs
    more than once in the corpus is kept only at its first occurrence —
    C4 uses three-sentence spans; here the span is a deterministic
    ``words_per_line``-word line from :func:`text.wrap_words`).

    Keeper election is "first occurrence": lowest ``(id, line_no)`` per
    normalized (lowercased, trimmed) line. Documents are reassembled from
    their surviving lines in order; documents keeping fewer than
    ``min_kept`` lines are dropped. Returns
    ``(id, n_lines long, n_kept long, cleaned string)``.

    Scale shape (the op is corpus-global, so per-line verdicts are
    inherently one shuffle wide):

    - lines are ``posexplode``'d straight off the scan — no pre-shuffle;
    - ONE exchange on the md5 of the normalized line (32-byte key, not
      the line text) marks keepers via a window ``min(struct(id, pos))``
      — a window *aggregate*, so WindowExec sorts each partition by the
      key only (no secondary sort, unlike a ``row_number`` formulation)
      and every line gets its verdict without a join back;
    - ONE exchange on ``id`` reassembles documents; ``collect_list`` is
      bounded by a single document's line count.

    md5 (engine-portable, oracle-replayable) is the comparison key; a
    collision would merge two distinct lines (~2^-64 at corpus scale —
    the standard exact-dedup-by-hash tradeoff, same as ``fingerprint``).
    """
    from salesforce_plugin_spark.functions.text import wrap_words

    lines = df.select(
        F.col(id_col),
        F.posexplode(wrap_words(F.col(text_col), words_per_line)).alias(
            "__pos", "__line"
        ),
    )
    key = F.md5(F.lower(F.trim(F.col("__line"))).cast("binary"))
    first = F.min(F.struct(F.col(id_col), F.col("__pos"))).over(
        Window.partitionBy("__key")
    )
    marked = (
        lines.withColumn("__key", key)
        .withColumn("__first", first)
        .withColumn(
            "__kept",
            (F.col(id_col) == F.col("__first")[id_col])
            & (F.col("__pos") == F.col("__first")["__pos"]),
        )
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("__kept").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__kept"),
                                F.struct(F.col("__pos"), F.col("__line")),
                            )
                        )
                    ),
                    lambda s: s["__line"],
                ),
                "\n",
            ).alias("cleaned"),
        )
        .filter(F.col("n_kept") >= min_kept)
    )


# ---------------------------------------------------------------------------
# Shingling (shared by MinHash / Jaccard)
# ---------------------------------------------------------------------------

def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct n-gram shingles (space-joined) over a *materialized* token
    array column.

    ``toks`` MUST be a plain column reference, not an expression: Spark does
    no common-subexpression elimination inside higher-order-function lambdas,
    so an inline ``split(...)`` subtree here would re-tokenize the document
    once per shingle (measured 10×+ slowdown at sf0.1).

    Documents with fewer than ``n`` tokens (including empty text, which
    tokenizes to ``[""]``) yield an empty array — a descending
    ``sequence(1, 0)`` would otherwise drive 0-index array access into a
    runtime error.
    """
    starts = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    shingle = lambda i: F.array_join(F.slice(toks, i, n), " ")  # noqa: E731
    return F.when(
        F.size(toks) >= n, F.array_distinct(F.transform(starts, shingle))
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles of the lowercased text. For hot paths over a
    DataFrame prefer ``exploded_shingles`` (materializes tokens first)."""
    return shingles_from_tokens(F.transform(tokens(text), F.lower), n)


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) rows. Tokenizes in one projection, shingles in the next,
    so the token array is computed exactly once per document."""
    toked = df.select(
        F.col(id_col), F.transform(tokens(F.col(text_col)), F.lower).alias("__toks")
    )
    return toked.select(
        F.col(id_col), F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("shingle")
    )


# ---------------------------------------------------------------------------
# F2: MinHash + LSH near-dedup
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """One row per document: ``id_col`` + minhash signature columns mh_0..mh_K.

    K seeded hash families via ``hash(shingle, seed)`` (JVM Murmur3); the
    min per family is a classic MinHash. Single shuffle (groupBy id) with
    map-side partial mins.
    """
    ex = exploded_shingles(df, id_col, text_col, shingle_n)
    aggs = [
        F.min(F.hash(F.col("shingle"), F.lit(i))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Banding: docs sharing any band-hash become candidate pairs (a < b).

    The only join is an equijoin on (band, bucket) — i.e. data volume per
    reducer is bounded by bucket population, never N².
    """
    rows_per_band = num_hashes // bands
    band_cols = [
        F.xxhash64(*[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]).alias(
            f"band_{b}"
        )
        for b in range(bands)
    ]
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), band_cols[b].alias("bucket")) for b in range(bands)])
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col(f"a.bucket") == F.col(f"b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def near_dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Assign every document a cluster id: the min doc id over all LSH buckets
    it lands in (single-hop approximation of connected components — the
    standard first pass of a web-scale dedup pipeline). Always returns one row
    per input document: (id, cluster_id).

    Skew note: the window-min over (band, bucket) sorts each bucket in one
    task; a pathologically hot bucket (boilerplate text shingles) is handled
    by raising bucket granularity — more bands / more rows per band — rather
    than salting, which would change cluster semantics.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]).alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = sigs.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")
    return _assign_clusters(df, id_col, banded)


def _assign_clusters(df: DataFrame, id_col: str, banded: DataFrame) -> DataFrame:
    """(id, band, bucket) rows → (id, cluster_id), one row per input doc.

    Min-id per bucket as a window over the banded rows: one pass over the
    minhash pipeline and two shuffles total — the groupBy+self-join
    formulation recomputes the entire shingle→minhash subtree twice.
    """
    w = Window.partitionBy("band", "bucket")
    assigned = (
        banded.withColumn("bucket_min", F.min(id_col).over(w))
        .groupBy(id_col)
        .agg(F.min("bucket_min").alias("cluster_id"))
    )
    # Shingle-less documents (empty/short text) produce no signature and
    # would vanish in the explode→groupBy chain; left-join the assignment
    # back onto the full id set so they come out as singleton clusters.
    return (
        df.select(id_col)
        .join(assigned, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
    )


def minhash_signatures_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-engine-deterministic MinHash: ``mh_i = min(portable_hash32(
    'i:' || shingle))``. Same plan shape as ``minhash_signatures`` (one
    shuffle, map-side partial mins) but the hash family is md5-derived, so
    any engine can reproduce the exact signatures — used for conformance
    gating and cross-system dedup handoffs. ~3× slower than the
    murmur/xxhash fast path; prefer ``minhash_signatures`` in production."""
    ex = exploded_shingles(df, id_col, text_col, shingle_n)
    aggs = [
        F.min(
            portable_hash32(F.concat(F.lit(f"{i}:"), F.col("shingle")))
        ).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def near_dedup_clusters_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """``near_dedup_clusters`` over the portable hash family, with md5 band
    buckets — every stage reproducible in any md5-capable engine, so the
    full LSH pipeline (shingle → minhash → band → bucket-min cluster) can
    be differentially verified value-by-value rather than rows-only."""
    banded = portable_bands(
        minhash_signatures_portable(df, id_col, text_col, num_hashes, shingle_n),
        id_col,
        num_hashes,
        bands,
    )
    return _assign_clusters(df, id_col, banded)


def portable_bands(
    sigs: DataFrame, id_col: str, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """(id, band, bucket) rows from portable signatures; buckets are md5 of
    the band's minhash values, so bucket identity is engine-reproducible."""
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh_{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ).cast("binary")
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    method: str = "propagation",
) -> DataFrame:
    """Exact connected components. ``method="propagation"`` (default) is
    min-label propagation: every node starts labeled with its own id; each
    iteration takes ``label = min(label, min(neighbor labels))`` until a
    fixpoint — convergence in O(graph diameter) iterations, which for
    dedup graphs (near-clique clusters of duplicates) is 2-3. This is the
    multi-hop closure of ``near_dedup_clusters``' single-hop bucket-min
    pass. ``method="star"`` is the large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond"),
    converging in O(log² n) rounds independent of diameter — use it when
    dup-clusters chain (long-diameter graphs: A≈B≈C≈… at corpus scale),
    where propagation would need diameter-many shuffles.

    Distribution: each iteration is one shuffle join + a groupBy min; the
    driver reads only a 1-row changed-count every SECOND iteration (and
    at max_iter) — an extra min-propagation round past the fixpoint is
    idempotent, so halving the count actions halves the driver barriers
    without changing the labels (no data collect). Lineage is truncated per iteration with ``localCheckpoint``
    — at 100 TB use a reliable ``checkpoint`` dir instead.

    Returns one row per node: (``id_col``, component_id), component_id =
    min node id in the component. Deterministic — oracle-checkable against
    a recursive-CTE transitive closure.
    """
    if method == "star":
        return _connected_components_star(
            nodes, edges, id_col, src, dst, max_iter
        )
    if method != "propagation":
        raise ValueError(f"unknown method: {method!r}")
    # materialize the symmetrized edge list ONCE: every iteration joins
    # against it, and the caller's edges plan may be expensive (the
    # semantic-dedup pair join is O(n²/k) cosine work — re-evaluating it
    # per iteration turned a seconds-scale CC into minutes at the 10×
    # probe). Same lineage-cut note as labels: use a reliable checkpoint
    # dir on a real cluster. Symmetrize with ONE explode rather than a
    # self-union: the union form evaluates the caller's edge plan TWICE
    # before the checkpoint lands (both branches carry the full pair-join
    # subtree — measured as 2× the semantic-dedup pair stage inside the
    # checkpoint job at sf0.1), the explode form scans it once.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("__e")
        )
        .select(F.col("__e.a").alias("a"), F.col("__e.b").alias("b"))
        .localCheckpoint(eager=False)
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=False)
    for i in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        # carry the previous label through the checkpoint so the
        # fixpoint test is a filter+count over the already-materialized
        # RDD — the old new⨝old self-join added a whole shuffle per
        # iteration just to count changes (round-6 stage-count trim;
        # at 2-4 iterations per CC call that join was ~25% of
        # q_semantic_dedup's job count)
        stepped = (
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                "node",
                F.col("label").alias("__old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        labels = stepped.select("node", "label")
        # the changed-count is a whole driver job per iteration; testing
        # the fixpoint only every SECOND iteration halves those jobs for
        # at most one redundant (idempotent) propagation round — measured
        # 3.55 → 2.06 s on the 8-round sf0.1 semantic-dedup graph with
        # bit-identical labels. An extra round past the fixpoint cannot
        # change any label (min over an unchanged neighborhood).
        if (i + 1) % 2 == 0 or i + 1 == max_iter:
            changed = stepped.filter(F.col("label") != F.col("__old")).count()
            if changed == 0:
                break
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("component_id"))


def _connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    src: str,
    dst: str,
    max_iter: int,
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al. 2014). Each round:

    - **large-star**: per node u over its full neighborhood, connect every
      strictly-larger neighbor v > u to m = min(Γ(u) ∪ {u}) — long chains
      short-circuit toward the minimum without waiting for labels to walk.
    - **small-star**: on the resulting bigger→smaller directed edges, per
      node u re-point every smaller neighbor (and u itself) at
      m = min(Γ(u) ∪ {u}) — flattens partial stars.

    Rounds repeat until the edge set is a fixpoint (every edge points a
    node at its component minimum) — O(log² n) rounds on any graph,
    independent of diameter, each round two shuffle joins. The fixpoint
    check is exact and runs as ONE job per round (VERDICT r11 #6): both
    edge sets are distinct, so multiset equality reduces to a
    side-tagged union → (u, v) aggregate → count of one-sided rows —
    one exchange instead of the former two chained ``exceptAll`` scans,
    and the round's lazy checkpoint materializes inside that same job
    (its first consumer reads every partition — the eager=False
    discipline from r11), so each round costs one driver barrier, not
    three."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # large-star over the symmetrized neighborhood
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        nbr_min = sym.groupBy("u").agg(F.min("v").alias("mn"))
        with_m = sym.join(nbr_min, "u").withColumn(
            "m", F.least(F.col("u"), F.col("mn"))
        )
        large = (
            with_m.filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on bigger→smaller edges (large-star output guarantees
        # v < u: m ≤ u < v for every emitted (v, m))
        nbr_min2 = large.groupBy("u").agg(F.min("v").alias("m2"))
        small = (
            large.join(nbr_min2, "u")
            .select(
                F.when(F.col("v") == F.col("m2"), F.col("u"))
                .otherwise(F.col("v"))
                .alias("u"),
                F.col("m2").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # single-job fixpoint test: e and small are both distinct, so
        # set equality is "no (u, v) seen on exactly one side" — tag,
        # union, aggregate, count (sum 3 = both sides). This job is
        # also small's first consumer and touches all its partitions,
        # so it doubles as the checkpoint materializer.
        changed = (
            e.select("u", "v", F.lit(1).alias("__s"))
            .unionByName(small.select("u", "v", F.lit(2).alias("__s")))
            .groupBy("u", "v")
            .agg(F.sum("__s").alias("__m"))
            .filter(F.col("__m") != 3)
            .count()
        )
        e = small
        if changed == 0:
            break
    # at the fixpoint each non-min node carries exactly one (node, min)
    # edge; the min agg also makes a truncated run (max_iter hit before
    # convergence) return a deterministic best-so-far labeling
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(e, F.col("node") == F.col("u"), "left")
        .groupBy(F.col("node").alias(id_col))
        .agg(
            F.min(F.coalesce(F.col("v"), F.col("node"))).alias("component_id")
        )
    )


# ---------------------------------------------------------------------------
# Winnowing (rolling-hash document fingerprints)
# ---------------------------------------------------------------------------

def portable_hash32(c: Column) -> Column:
    """Engine-portable 32-bit hash (first 8 hex chars of md5 → long) — the
    same construction as text.hash_bucket, reproducible in any engine with
    md5. Slower than xxhash64; use only where cross-engine determinism
    matters (conformance oracles, cross-system dedup handoffs)."""
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 8), 16, 10).cast("long")


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    hash_fn: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """(id, fp) rows: winnowed rolling-hash fingerprints (Schleimer,
    Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD'03).

    Hash every k-token gram, slide a w-wide window over the hash sequence,
    keep each window's minimum, emit the distinct set. Guarantee: two
    documents sharing a token run of ≥ w+k-1 tokens share ≥1 fingerprint —
    the standard plagiarism/near-dup detector with a *bounded* fingerprint
    density (~2/(w+1) of positions), unlike full shingle sets.

    All stages are JVM higher-order functions over materialized arrays (no
    Python UDFs, no explode of the full k-gram set — only the winnowed
    survivors are exploded, so the shuffle volume is w-fold smaller than a
    shingle equijoin). Documents with < k tokens emit no fingerprints;
    documents with < w k-grams emit one (the global min), preserving the
    "every non-trivial document is findable" property.

    ``hash_fn`` defaults to xxhash64 (fastest, JVM); pass
    :func:`portable_hash32` when the fingerprints must match another
    engine's md5-based computation bit-for-bit.
    """
    hf = hash_fn or F.xxhash64
    toked = df.select(
        F.col(id_col), F.transform(tokens(F.col(text_col)), F.lower).alias("__toks")
    )
    kstarts = F.sequence(F.lit(1), F.size(F.col("__toks")) - (k - 1))
    hashed = toked.select(
        F.col(id_col),
        F.when(
            F.size(F.col("__toks")) >= k,
            F.transform(
                kstarts,
                lambda i: hf(F.array_join(F.slice(F.col("__toks"), i, k), " ")),
            ),
        ).otherwise(F.array().cast("array<long>")).alias("__hs"),
    )
    wstarts = F.sequence(F.lit(1), F.size(F.col("__hs")) - (w - 1))
    fps = hashed.select(
        F.col(id_col),
        F.when(
            F.size(F.col("__hs")) >= w,
            F.transform(wstarts, lambda j: F.array_min(F.slice(F.col("__hs"), j, w))),
        )
        .when(F.size(F.col("__hs")) > 0, F.array(F.array_min(F.col("__hs"))))
        .otherwise(F.array().cast("array<long>"))
        .alias("__fps"),
    )
    return fps.select(
        F.col(id_col), F.explode(F.array_distinct(F.col("__fps"))).alias("fp")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    hash_fn: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """(id, simhash) per document — the hot-path form: token hashes are
    materialized in one projection so the ``bits`` per-bit vote aggregates
    scan a concrete array instead of re-tokenizing per bit (see
    shingles_from_tokens on lambda subexpression elimination).

    ``hash_fn`` maps a token Column to its hash (default: xxhash64 of the
    lowercased token — fastest, JVM-only). Pass
    ``lambda t: portable_hash32(F.lower(t))`` with ``bits=32`` when the
    fingerprints must be reproducible in another engine (conformance
    oracle, cross-system dedup)."""
    hf = hash_fn or (lambda t: F.xxhash64(F.lower(t)))
    hashed = df.select(
        F.col(id_col),
        F.transform(tokens(F.col(text_col)), hf).alias("__h"),
    )
    return hashed.select(
        F.col(id_col), simhash_from_hashes(F.col("__h"), bits).alias("simhash")
    )


def simhash_from_hashes(hashes: Column, bits: int = 64) -> Column:
    """SimHash from a *materialized* array<long> of token hashes."""
    out = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1)),
        )
        out = out + F.when(vote >= 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
    return out


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise measure)
# ---------------------------------------------------------------------------

def derive_banding(
    threshold: float, max_hashes: int = 256, target_recall: float = 0.9
) -> tuple[int, int]:
    """Pick a self-consistent ``(num_hashes, bands)`` for LSH pruning at a
    given Jaccard ``threshold``: with ``b`` bands of ``r`` rows each, a pair
    of similarity ``s`` becomes a candidate with probability
    ``1-(1-s^r)^b``; we choose the largest ``r`` (fewer false-positive
    candidates) whose band count keeps candidate recall at
    ``s = threshold`` above ``target_recall`` within the ``max_hashes``
    signature budget. Fixing the banding while the threshold moves is the
    classic silent-recall bug (a 16-hash/8-band scheme has a ~0.35 banding
    threshold — at threshold 0.2 it finds ~28% of true pairs)."""
    import math

    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            "LSH pruning needs 0 < threshold <= 1; use prune=None instead"
        )
    need = math.log(1.0 - target_recall)
    for r in (8, 6, 5, 4, 3, 2, 1):
        p = threshold**r
        if p >= 1.0:
            return (r, 1)
        b = math.ceil(need / math.log1p(-p))  # log1p: exact for tiny p
        if b * r <= max_hashes:
            return (b * r, b)
    raise ValueError(
        f"threshold={threshold} needs more than {max_hashes} minhashes for "
        f"{target_recall:.0%} candidate recall; use prune=None or pass an "
        "explicit (num_hashes, bands)"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    prune: str | None = "lsh",
    num_hashes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard: inter/(|A|+|B|-inter) with integer
    counts, one rounded double divide at the end.

    ``prune="lsh"`` (the DEFAULT) verifies only MinHash/LSH candidate pairs:
    the pair space comes from :func:`lsh_candidate_pairs` and the
    intersection counts from two bounded equijoins (candidates ⨝ A-side
    shingles on id, then ⨝ B-side shingles on (id, shingle)) — reducer load
    is candidates × shingles/doc. ``prune=None`` is the exhaustive form —
    every pair sharing ≥1 shingle via a shingle self-equijoin. That join is
    quadratic in the hottest shingle's bucket (one boilerplate shingle
    shared by k docs makes a k² reducer), which is a scale-killer on web
    corpora — reserve it for oracle mirroring and small candidate sets.

    By default ``(num_hashes, bands)`` are DERIVED from ``threshold`` via
    :func:`derive_banding`, so candidate recall at the operating threshold
    stays ≥90% no matter what threshold the caller picks (a fixed banding
    silently loses recall when the threshold drops below its banding
    threshold). Pass both explicitly to pin a custom trade-off — passing
    only one is an error. Both forms agree on the fixtures (pinned in
    tests).
    """
    sh = exploded_shingles(df, id_col, text_col, n)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    if prune == "lsh":
        if (num_hashes is None) != (bands is None):
            raise ValueError(
                "pass both num_hashes and bands or neither (derived from "
                "threshold)"
            )
        if num_hashes is None:
            num_hashes, bands = derive_banding(threshold)
        cands = lsh_candidate_pairs(
            minhash_signatures(df, id_col, text_col, num_hashes, n),
            id_col,
            num_hashes,
            bands,
        )
        sha = sh.select(F.col(id_col).alias("id_a"), "shingle")
        shb = sh.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            cands.join(sha, "id_a")
            .join(shb, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    elif prune is None:
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
            .agg(F.count("*").alias("inter"))
        )
    else:
        raise ValueError(f"unknown prune mode: {prune!r}")
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.round(
        F.col("inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Pairs (a < b) with cosine ≥ threshold.

    ``block_col`` prunes the cross product to same-block pairs (at scale,
    block on an LSH sign-bucket — functions/vector.sign_bucket — so the join
    is an equijoin, not a cartesian)."""
    # the vector norm is a pure per-row function — compute it once per
    # VECTOR before the join instead of once per PAIR per side (the HOF
    # fold over the array dominates the pair stage; same expression on the
    # same array yields the identical double, so the rounded similarity is
    # bit-identical to the per-pair form)
    from salesforce_plugin_spark.functions.vector import dot, norm

    a = df.select(
        F.col(id_col).alias("id_a"),
        as_double(F.col(vec_col)).alias("v_a"),
        *( [F.col(block_col).alias("blk_a")] if block_col else [] ),
    ).withColumn("__na", norm(F.col("v_a")))
    b = df.select(
        F.col(id_col).alias("id_b"),
        as_double(F.col(vec_col)).alias("v_b"),
        *( [F.col(block_col).alias("blk_b")] if block_col else [] ),
    ).withColumn("__nb", norm(F.col("v_b")))
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        joined = a.join(b, (F.col("blk_a") == F.col("blk_b")) & cond)
    else:
        joined = a.join(b, cond)
    sim_val = F.round(
        dot(F.col("v_a"), F.col("v_b")) / (F.col("__na") * F.col("__nb")), 6
    )
    # The similarity must NOT ride in the join condition: Catalyst pushes
    # the post-join ``sim >= threshold`` predicate (and therefore the
    # whole HOF dot) into the SortMergeJoin/BNLJ condition, where it is
    # evaluated per candidate pair by an Interpreted predicate — the r12
    # sf1.0 drill measured that at ~55 µs/pair, 74% of semantic-dedup's
    # executor time, vs ~0.4 µs/pair for the same HOF in a projection.
    # The non-deterministic WHEN wrapper with sim_val in BOTH branches
    # pins sim to a post-join Project the filter cannot be pushed
    # through: the value is bit-identical for every rand() draw and
    # retry-safe, and the optimizer cannot eliminate it (an always-true
    # comparison like rand() >= -1 gets bound-folded away — measured;
    # a genuinely varying condition with identical branches survives).
    sim = F.when(F.rand(7) >= F.lit(0.5), sim_val).otherwise(sim_val)
    return (
        joined.select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
) -> DataFrame:
    """Corpus-global exact repeated-span removal — the token-level form of
    the exact-substring deduplication Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") run with a suffix array.
    A suffix array is a single-machine construction; the distributable
    equivalent is fixed-length span hashing: every ``span_tokens``-token
    shingle occurrence is keyed by md5, any key occurring more than once
    corpus-wide is removed at every occurrence EXCEPT its first
    (lowest ``(id, start)``), and a token survives iff no removed span
    covers it. Spans overlapping a duplicated region chain naturally:
    consecutive duplicated shingles merge into one maximal removed span,
    approximating the suffix-array maximal-match semantics at fixed
    granularity.

    Scale shape:

    - shingle occurrences explode straight off the token array (no
      pre-shuffle; the array is materialized ONCE per doc — HOF lambdas
      get a column reference, see :func:`shingles_from_tokens`);
    - ONE exchange on the 32-byte md5 key; count + first-occurrence
      election are both window *aggregates* over that key (no secondary
      sort);
    - flagged starts fold back per doc (exchange bounded by flagged
      occurrences, ~dup-rate × corpus shingles);
    - the rebuild is a single HOF projection per doc — coverage test is
      ``exists(spans, sp -> sp <= j < sp+n)``, O(tokens × flagged spans
      per doc), no token-level shuffle.

    Returns ``(id, n_tokens long, n_removed long, cleaned string)``;
    ``cleaned`` is whitespace-normalized (tokens re-joined with single
    spaces). Documents shorter than ``span_tokens`` pass through intact.
    """
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    n = span_tokens
    starts = F.sequence(F.lit(1), F.size(F.col("__toks")) - (n - 1))
    occ_structs = F.when(
        F.size(F.col("__toks")) >= n,
        F.transform(
            starts,
            lambda i: F.struct(
                i.alias("spos"),
                F.md5(
                    F.array_join(F.slice(F.col("__toks"), i, n), " ").cast(
                        "binary"
                    )
                ).alias("__key"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<spos:int,__key:string>>"))
    occ = toked.select(
        F.col(id_col), F.explode(occ_structs).alias("__s")
    ).select(
        F.col(id_col),
        F.col("__s.spos").alias("__spos"),
        F.col("__s.__key").alias("__key"),
    )

    w = Window.partitionBy("__key")
    cnt = F.count(F.lit(1)).over(w)
    first = F.min(F.struct(F.col(id_col), F.col("__spos"))).over(w)
    flagged = (
        occ.withColumn("__cnt", cnt)
        .withColumn("__first", first)
        .filter(
            (F.col("__cnt") > 1)
            & ~(
                (F.col(id_col) == F.col("__first")[id_col])
                & (F.col("__spos") == F.col("__first")["__spos"])
            )
        )
        .groupBy(id_col)
        .agg(F.collect_list("__spos").alias("__spans"))
    )

    joined = toked.join(flagged, id_col, "left")
    indexed = F.transform(
        F.col("__toks"),
        lambda t, i: F.struct(t.alias("t"), (i + 1).alias("j")),
    )
    keep = lambda s: F.col("__spans").isNull() | ~F.exists(  # noqa: E731
        F.col("__spans"),
        lambda sp: (sp <= s["j"]) & (s["j"] < sp + n),
    )
    kept = F.filter(indexed, keep)
    return joined.select(
        F.col(id_col),
        F.size(F.col("__toks")).cast("long").alias("n_tokens"),
        (F.size(F.col("__toks")) - F.size(kept)).cast("long").alias(
            "n_removed"
        ),
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias(
            "cleaned"
        ),
    )


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
) -> DataFrame:
    """Variable-length maximal repeated-span inventory — the
    suffix-automaton-grade generalization of :func:`span_dedup`'s fixed
    granularity (VERDICT r7 #7). Where ``span_dedup`` removes covered
    tokens, this reports every MAXIMAL corpus-duplicated region per
    document with its true token length: a repeated region of L >= ``min_
    tokens`` tokens contains exactly L - min_tokens + 1 duplicated
    anchor shingles at consecutive start positions, so merging
    consecutive flagged anchors (gaps-and-islands) recovers the maximal
    extent — variable length, minimum ``min_tokens`` — without a suffix
    structure. This approximates (from above) what Lee et al. 2022 read
    off the suffix array as "maximal duplicated substrings", and is the
    distributional input for dup-length-weighted curation policies
    (remove long verbatim clones, keep short idioms).

    SEMANTICS CAVEAT (differs from true suffix-array maximal repeats): a
    span is a maximal run of FLAGGED ANCHORS, not necessarily itself a
    corpus-repeated substring. When two distinct duplicated regions
    touch or overlap in one document (e.g. doc holds "A B" where A and B
    are each duplicated elsewhere but "A B" is not), their anchor runs
    are adjacent and merge into ONE span whose content — and therefore
    ``span_md5`` — may occur nowhere else in the corpus; Lee et al.'s
    suffix-array construction keeps such regions separate. Every token
    inside a reported span IS covered by some duplicated ``min_tokens``-
    shingle (the coverage guarantee span-removal policies need); only
    the one-span-one-repeated-string reading does not hold across
    merged runs. Split on distinct anchor keys downstream if exact
    repeat identity matters more than coverage.

    Scale shape (all exchanges bounded, nothing quadratic):

    - anchor explode straight off the once-materialized token array;
    - ONE exchange on the 32-byte anchor md5 (window count — same stage
      shape as span_dedup);
    - flagged anchors (~dup-rate x corpus shingles) exchange ONCE on the
      doc id for the island merge: ``spos - row_number()`` is constant
      within a run of consecutive duplicated anchors, so one groupBy
      recovers (start, maximal length);
    - the span content hash joins back to the token array by id
      (broadcast-or-shuffle by AQE; output rows = maximal spans only).

    Returns ``(id, span_start int, span_tokens int, span_md5 string)``;
    one row per maximal duplicated region (ALL occurrences, including
    the first — this is an inventory, not a removal; compose with
    span_dedup for removal).
    """
    n = min_tokens
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    starts = F.sequence(F.lit(1), F.size(F.col("__toks")) - (n - 1))
    occ_structs = F.when(
        F.size(F.col("__toks")) >= n,
        F.transform(
            starts,
            lambda i: F.struct(
                i.alias("spos"),
                F.md5(
                    F.array_join(F.slice(F.col("__toks"), i, n), " ").cast(
                        "binary"
                    )
                ).alias("__key"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<spos:int,__key:string>>"))
    occ = toked.select(
        F.col(id_col), F.explode(occ_structs).alias("__s")
    ).select(
        F.col(id_col),
        F.col("__s.spos").alias("__spos"),
        F.col("__s.__key").alias("__key"),
    )

    flagged = occ.withColumn(
        "__cnt", F.count(F.lit(1)).over(Window.partitionBy("__key"))
    ).filter(F.col("__cnt") > 1)

    # gaps-and-islands: consecutive flagged start positions share
    # (spos - row_number) within a doc
    wd = Window.partitionBy(id_col).orderBy("__spos")
    runs = (
        flagged.withColumn("__grp", F.col("__spos") - F.row_number().over(wd))
        .groupBy(id_col, "__grp")
        .agg(
            F.min("__spos").alias("span_start"),
            (F.max("__spos") - F.min("__spos") + n).alias("span_tokens"),
        )
        .drop("__grp")
    )

    return runs.join(toked, id_col).select(
        F.col(id_col),
        F.col("span_start"),
        F.col("span_tokens"),
        F.md5(
            F.array_join(
                F.slice(
                    F.col("__toks"), F.col("span_start"), F.col("span_tokens")
                ),
                " ",
            ).cast("binary")
        ).alias("span_md5"),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    seeds: DataFrame,
    threshold: float = 0.8,
    quant: int = 1000,
) -> DataFrame:
    """SemDeDup-shape semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with k-means, compare
    pairs ONLY within a cluster, and keep one representative per
    connected group of near-duplicates.

    ``seeds`` holds ``(cluster, centroid array<double>)`` rows — the
    k-means codebook (a data-derived deterministic one for gated runs,
    or trained centers in production), broadcast by the assign step.

    Stages, each engine-reproducible:

    1. :func:`~salesforce_plugin_spark.functions.vector.kmeans_assign`
       blocks every vector to its nearest seed centroid — exact-integer
       distances, broadcast seeds, one exchange;
    2. :func:`embedding_cosine_pairs` with ``block_col="cluster"`` — the
       candidate join is a cluster equijoin, never a cartesian, so pair
       work is bounded by the largest cluster (the SemDeDup argument:
       k-means caps the quadratic term at (n/k)² per cluster — pick k
       proportional to corpus size to hold cluster populations flat);
    3. :func:`connected_components` over the ≥ threshold pairs — near-dup
       groups may chain A≈B≈C across a cluster, the closure makes
       "keep one per group" well-defined;
    4. the keeper is the group's min id (``keep = dup_group == id``).

    Returns ``(id, cluster, dup_group, keep)``. Unlike the sign-LSH
    blocking of the q_embed_dedup composition, k-means blocking adapts to
    the density of the embedding space — the standard production choice
    for corpus-scale semantic dedup. Pairs crossing a cluster boundary
    are unseen by construction (the documented SemDeDup recall trade).
    """
    from salesforce_plugin_spark.functions.vector import kmeans_assign

    # the assignment table is consumed TWICE (the blocked pair join and
    # the final output join) and its plan is the n·k exact-integer
    # distance scan — without a lineage cut each consumer re-runs it
    # (measured as two ~2.2 s single-task stages at sf0.1). It is the
    # narrow (id, cluster) table, the same small side the CC labels are;
    # at 100 TB use a reliable checkpoint dir, same note as
    # :func:`connected_components`.
    assigned = kmeans_assign(
        df, seeds, id_col=id_col, vec_col=vec_col, quant=quant
    ).select(id_col, "cluster").localCheckpoint(eager=False)
    blocked = df.select(id_col, vec_col).join(assigned, id_col)
    pairs = embedding_cosine_pairs(
        blocked, id_col, vec_col, threshold=threshold, block_col="cluster"
    )
    comp = connected_components(
        df.select(id_col), pairs, id_col=id_col, src="id_a", dst="id_b"
    ).withColumnRenamed("component_id", "dup_group")
    return (
        comp.join(assigned, id_col)
        .select(
            id_col,
            "cluster",
            "dup_group",
            (F.col("dup_group") == F.col(id_col)).alias("keep"),
        )
    )


def near_dedup_apply(
    corpus_bands: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Incremental MinHash/LSH near-dedup: assign clusters to a NEW batch
    against an existing corpus — the daily-crawl-vs-100 TB-corpus shape,
    where re-running :func:`near_dedup_clusters_portable` over the whole
    corpus per batch is the thing you cannot afford.

    ``corpus_bands`` is the maintained ``(id, band, bucket)`` table (from
    :func:`portable_bands` over the corpus signatures — O(bands) rows per
    document, the only state the pipeline needs). Returns ``(assigned,
    new_bands)``: the batch's ``(id, cluster_id)`` rows, and the batch's
    band rows for the caller to append to the corpus table (exactly the
    :func:`~salesforce_plugin_spark.streaming.upsert.upsert_batch`
    append cadence).

    Equivalence contract (append-only ids): when every batch id sorts
    after all corpus ids, the result is row-identical to a full
    from-scratch run over corpus ∪ batch — new, larger ids can never
    lower an existing bucket's min, so prior assignments are immutable
    and the batch's cluster (min bucket-min over its buckets) is exactly
    the full run's. The q_incremental_dedup gate checks this against the
    full-corpus oracle; ids that backfill below loaded history need a
    reprocess, as in :func:`~..operators.scd.scd2_apply_changes`.

    Scale shape, per batch: the minhash pipeline runs over the BATCH
    only; corpus band rows are touched only via a semi-join on the
    batch's (band, bucket) set — partition-prunable on a bucketed layout
    — so per-batch cost is O(batch + corpus rows in touched buckets),
    never O(corpus). The bucket-min window sorts only touched buckets.
    """
    new_bands = portable_bands(
        minhash_signatures_portable(
            batch, id_col, text_col, num_hashes, shingle_n
        ),
        id_col,
        num_hashes,
        bands,
    )
    touched = new_bands.select("band", "bucket").distinct()
    relevant = corpus_bands.unionByName(new_bands).join(
        touched, ["band", "bucket"], "left_semi"
    )
    w = Window.partitionBy("band", "bucket")
    assigned = (
        relevant.withColumn("bucket_min", F.min(id_col).over(w))
        .join(batch.select(id_col), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.min("bucket_min").alias("cluster_id"))
    )
    out = (
        batch.select(id_col)
        .join(assigned, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
    )
    return out, new_bands


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    max_df: int = 20,
    threshold_pct: int = 80,
) -> DataFrame:
    """Directional near-containment detection — pairs ``(a → b)`` where at
    least ``threshold_pct`` % of a's distinct shingles also appear in b:
    the doc-in-doc signal (quotes, boilerplate wrappers, excerpt pages)
    that symmetric Jaccard MISSES by construction (a short doc fully
    quoted inside a long one has near-zero Jaccard but containment 1.0,
    so minhash-LSH banding never surfaces the pair; Broder's original
    resemblance/containment distinction).

    Candidate generation blocks on RARE shingles (document frequency in
    ``[2, max_df]``): a contained doc shares its — mostly rare —
    shingles with its container, while stop-phrase shingles (high df)
    never generate pairs, bounding candidates at ``df²`` per rare
    shingle instead of N². Verification counts the FULL shingle
    intersection for candidate pairs only (pair ⨝ a-shingles ⨝
    b-shingles — cost |candidates| × |shingles(a)|, never corpus²) and
    keeps pairs by an integer percent floor: no float at the boundary.

    Output (scalar-only): ``(id_a, id_b, n_int long, n_sh_a long,
    contain_pct long)`` — a's shingle count, the intersection size, and
    ``100 * n_int div n_sh_a``.

    At 100 TB: ``max_df`` is the knob — it caps per-shingle join fan-out
    (quadratic in df, so keep it tens); raising ``shingle_n`` makes
    shingles rarer and blocking sharper at the cost of missing heavily
    edited containers.
    """
    if not 0 < threshold_pct <= 100:
        raise ValueError("threshold_pct must be in (0, 100]")
    if max_df < 2:
        raise ValueError("max_df must be >= 2 (pairs need df >= 2)")
    sh = exploded_shingles(df, id_col, text_col, shingle_n)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("__df"))
        .filter((F.col("__df") >= 2) & (F.col("__df") <= max_df))
        .select("shingle")
    )
    rare_sh = sh.join(rare, "shingle")
    a = rare_sh.select(F.col("shingle"), F.col(id_col).alias("id_a"))
    b = rare_sh.select(F.col("shingle"), F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # size-band prune BEFORE the expensive intersection count: containment
    # >= t% needs n_int >= t*n_sh_a/100, and n_int <= min(n_sh_a, n_sh_b),
    # so any pair with 100*n_sh_b < t*n_sh_a can never qualify — dropping
    # it here is a pure optimization (provably result-preserving; the
    # oracle needs no mirror) that cuts the verification fan-out wherever
    # a tiny doc's shingles are shared by a large one but not vice versa.
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_sh_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_sh_b"))
    cand = (
        cand.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .filter(F.lit(100) * F.col("n_sh_b") >= F.lit(threshold_pct) * F.col("n_sh_a"))
        .select("id_a", "id_b", "n_sh_a")
    )
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "n_sh_a")
        .agg(F.count("*").alias("n_int"))
    )
    out = (
        inter.withColumn("contain_pct", F.expr("100 * n_int div n_sh_a"))
        .filter(F.col("contain_pct") >= threshold_pct)
        .select("id_a", "id_b", "n_int", "n_sh_a", "contain_pct")
    )
    return out


def novelty_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct
    shingles that appear in NO other document — the inverse signal of
    :func:`containment_pairs` (containment finds what a doc shares;
    novelty measures what it alone contributes). Curation uses it both
    ways: near-zero novelty = boilerplate/template mass the dedup
    family should collapse; near-10^6 novelty in a web crawl often
    means OCR noise or gibberish that nothing else corroborates.

    Output (scalar-only): ``(id, n_shingles, n_novel,
    novelty_ppm = n_novel * 10^6 div n_shingles)``; shingle-less
    (short) documents are excluded rather than reported as 0/0.

    Plan: one corpus scan explodes distinct shingles; ONE exchange
    computes document frequency per shingle (map-side combined); the
    df=1 flag rides back to documents on the (id, shingle) relation's
    second bounded aggregate. Cost is the shingle table, never pairs —
    no candidate generation at all.
    """
    sh = exploded_shingles(df, id_col, text_col, shingle_n)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn("novelty_ppm", F.expr("n_novel * 1000000 div n_shingles"))
    )


def cross_contaminated_ids(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.5,
    bits: int = 8,
) -> DataFrame:
    """Corpus ids whose embedding is near ANY probe vector — the
    semantic face of train/eval decontamination (q_contamination's
    n-gram probe catches verbatim leaks; this catches paraphrased ones
    the way production eval-decontamination does). Both sides are
    sign-LSH bucketed (:func:`~salesforce_plugin_spark.functions.vector
    .sign_bucket`), candidates come from the bucket EQUIJOIN — cost
    |corpus|·|probe|/2^bits expected, never a cartesian — and survive a
    rounded-cosine verify (round 6, the q_embed_dedup discipline, so
    the threshold compare is engine-stable). Same recall caveat as all
    sign-LSH blocking, documented there: a near pair split across
    buckets is unseen; raise recall with fewer bits or banded repeats.

    Output: distinct ``(id)`` — one row per contaminated corpus id.
    """
    from salesforce_plugin_spark.functions.vector import sign_bucket

    c = corpus.select(
        F.col(id_col).alias("__cid"),
        as_double(F.col(vec_col)).alias("__cv"),
    ).withColumn("__bkt", sign_bucket(F.col("__cv"), bits))
    p = probe.select(as_double(F.col(vec_col)).alias("__pv")).withColumn(
        "__bkt", sign_bucket(F.col("__pv"), bits)
    )
    sim = F.round(cosine(F.col("__cv"), F.col("__pv")), 6)
    return (
        c.join(p, "__bkt")
        .filter(sim >= threshold)
        .select(F.col("__cid").alias(id_col))
        .distinct()
    )


def embedding_decontaminate(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.5,
    bits: int = 8,
) -> DataFrame:
    """The actuator for :func:`cross_contaminated_ids`: the corpus with
    every semantically-contaminated row removed (left-anti join on the
    contaminated id set — at scale the id set is usually small enough
    that AQE broadcasts the anti side at runtime; deliberately
    un-hinted). Columns pass through unchanged."""
    bad = cross_contaminated_ids(
        corpus, probe, id_col, vec_col, threshold=threshold, bits=bits
    )
    return corpus.join(bad, id_col, "left_anti")


def dup_size_histogram(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Duplicate-cluster size histogram — the dedup PROFILING step run
    before committing to a dedup strategy: how much of the corpus is
    singletons vs hot near-identical clusters decides whether exact
    min_by dedup suffices or hot-fingerprint handling (salting, count
    caps) is needed, and ``n_docs - n_clusters`` at each size is exactly
    the row count dedup will remove.

    Shape: fingerprint projection (map-side md5), one partial-combined
    exchange on the fingerprint (≤ one row per distinct content), then
    a size-bounded histogram aggregate — strictly cheaper than the
    dedup it informs, and the exchange is the same one dedup_exact
    would pay.

    Output (scalar-only): ``(cluster_size long, n_clusters long,
    n_docs long)``.
    """
    from salesforce_plugin_spark.functions.text import fingerprint

    sizes = (
        df.select(fingerprint(F.col(text_col)).alias("__fp"))
        .groupBy("__fp")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )


def component_size_histogram(
    assignments: DataFrame, component_col: str = "component_id"
) -> DataFrame:
    """Size distribution of connected components — the NEAR-dup
    profiling companion of :func:`dup_size_histogram` (exact-dup
    clusters): how big do candidate-graph components get, i.e. is the
    dup structure near-clique pairs or sprawling chains (which decides
    propagation vs star method, and how much text dedup will remove:
    ``n_docs − n_components`` per size). Two bounded aggregates over
    the assignment table.

    Output (scalar-only): ``(cluster_size long, n_components long,
    n_docs long)``.
    """
    sizes = assignments.groupBy(component_col).agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )


def lcs_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 20,
    min_df: int = 2,
    max_df: int = 20,
) -> DataFrame:
    """Exact longest-common-substring between document pairs — the
    cross-document generalization of :func:`span_dedup`'s fixed
    granularity, and the distributable equivalent of the suffix-array
    maximal-match pass in Lee et al. 2022 (exact-substring dedup).

    The identity that makes this a DataFrame job instead of a suffix
    automaton: two documents share a common substring of length
    ``S >= gram_len`` **iff** they share ``S − gram_len + 1``
    character-grams at consecutive start positions on one alignment
    diagonal (``pos_a − pos_b`` constant). So:

    1. every char ``gram_len``-gram occurrence explodes off the text
       with its start position (map-side; one projection on the scan);
    2. grams are blocked by document frequency in ``[min_df, max_df]``
       — df < 2 can't pair, df > max_df are boilerplate n-grams whose
       quadratic bucket joins dominate at corpus scale (the
       containment_pairs rare-shingle discipline; the documented
       recall trade: a pair WHOSE EVERY shared gram is boilerplate is
       unseen);
    3. one gram equijoin (never a cartesian) yields matched position
       pairs; per (pair, diagonal) the classic islands trick
       (``pos − row_number`` grouping) measures the longest run of
       consecutive matched grams, and ``lcs_len = max_run + gram_len
       − 1`` is EXACT — not an estimate — for every surviving pair.

    Scale shape: gram explode is |text|·gram_len bytes map-side (the
    shingling cost every exact-substring method pays); the only
    corpus-scale exchanges are the df aggregate and the blocked
    equijoin, both on the gram key; the islands window partitions by
    (id_a, id_b, diag) — bounded by matched positions, skew-capped by
    max_df.

    Output (scalar-only): ``(id_a, id_b, lcs_len long, n_matches
    long)`` for id_a < id_b, one row per pair sharing >= 1 surviving
    gram. Reference analog: airflow-plugins/salesforce_plugin has no
    dedup surface; this extends the F1/F2 training-data family.
    """
    if gram_len < 2:
        raise ValueError("lcs_pairs requires gram_len >= 2")
    occ = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .filter(F.length("__t") >= gram_len)
        .select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.length(F.col("__t")) - F.lit(gram_len)
                    ),
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.col("__t")
                        .substr(i + F.lit(1), F.lit(gram_len))
                        .alias("gram"),
                    ),
                )
            ).alias("__o"),
        )
        .select("id", F.col("__o.pos").alias("pos"), F.col("__o.gram").alias("gram"))
    )
    keep = (
        occ.groupBy("gram")
        .agg(F.count_distinct("id").alias("__df"))
        .filter(
            (F.col("__df") >= min_df) & (F.col("__df") <= max_df)
        )
        .select("gram")
    )
    blocked = occ.join(keep, "gram")
    a = blocked.select(
        F.col("id").alias("id_a"), F.col("pos").alias("pa"), "gram"
    )
    b = blocked.select(
        F.col("id").alias("id_b"), F.col("pos").alias("pb"), "gram"
    )
    matches = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = matches.select(
        "id_a",
        "id_b",
        "diag",
        (F.col("pa") - F.row_number().over(w)).alias("grp"),
    ).groupBy("id_a", "id_b", "diag", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("__run")
    )
    return runs.groupBy("id_a", "id_b").agg(
        (F.max("__run") + F.lit(gram_len - 1)).cast("long").alias("lcs_len"),
        F.sum("__run").cast("long").alias("n_matches"),
    )


def self_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 20,
) -> DataFrame:
    """Longest INTERNAL repeated substring per document — the
    within-doc face of :func:`lcs_pairs` and the exact form of the
    text-degeneration / memorization signal ``ngram_repetition_stats``
    approximates at fixed granularity: a substring of length S >=
    gram_len occurs twice in the same document iff S − gram_len + 1
    consecutive char-gram starts match on one strict self-alignment
    diagonal (pos_a > pos_b, so the trivial diag-0 self-match is
    excluded; overlapping occurrences — "abab" in "ababab" — are
    counted, matching suffix-tree semantics).

    Entirely self-contained per document: grams explode map-side, the
    self-join key is (id, gram) so matches never cross documents, and
    the islands window partitions by (id, diag). Worst-case cost is
    quadratic in a single document's occurrences of one gram (a
    pathological "aaaa…" doc) — bounded by doc length, never the
    corpus; corpus-level skew cannot occur because the join key
    includes the document id.

    Output (scalar-only): one row per input document —
    ``(id, max_rep_len long, n_rep_grams long)``; documents with no
    repeated gram surface ``(0, 0)`` (shorter-than-gram_len docs
    included).
    """
    if gram_len < 2:
        raise ValueError("self_repetition requires gram_len >= 2")
    occ = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .filter(F.length("__t") >= gram_len)
        .select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.length(F.col("__t")) - F.lit(gram_len)
                    ),
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.col("__t")
                        .substr(i + F.lit(1), F.lit(gram_len))
                        .alias("gram"),
                    ),
                )
            ).alias("__o"),
        )
        .select("id", F.col("__o.pos").alias("pos"), F.col("__o.gram").alias("gram"))
    )
    a = occ.select("id", F.col("pos").alias("pa"), "gram")
    b = occ.select(F.col("id").alias("__idb"), F.col("pos").alias("pb"), "gram")
    matches = (
        a.join(b, (a["gram"] == b["gram"]) & (a["id"] == b["__idb"]))
        .filter(F.col("pa") > F.col("pb"))
        .select("id", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("id", "diag").orderBy("pa")
    runs = (
        matches.select(
            "id", "diag", "pa",
            (F.col("pa") - F.row_number().over(w)).alias("grp"),
        )
        .groupBy("id", "diag", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("__run"))
    )
    per_doc = runs.groupBy("id").agg(
        (F.max("__run") + F.lit(gram_len - 1)).cast("long").alias("max_rep_len"),
        F.sum("__run").cast("long").alias("n_rep_grams"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("max_rep_len"), F.lit(0)).cast("long").alias(
                "max_rep_len"
            ),
            F.coalesce(F.col("n_rep_grams"), F.lit(0)).cast("long").alias(
                "n_rep_grams"
            ),
        )
    )


def minhash_error_eval(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
    min_true_ppm: int = 200_000,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """MinHash estimator accuracy against EXACT Jaccard — the sketch's
    own evaluation harness (the q_ann_recall discipline applied to F2:
    every approximate structure ships with its exact eval, so the
    num_hashes/bands budget is a measured trade, not a guess).

    For every pair with exact shingle-Jaccard ≥ ``min_true_ppm`` (the
    verifier form: pairs sharing ≥ 1 shingle — quadratic in the
    hottest shingle bucket, the documented exhaustive-form caveat of
    :func:`ngram_jaccard_pairs`), compares the portable-MinHash estimate
    ``est_ppm = matches·10⁶ div num_hashes`` (matching signature
    positions — an unbiased estimator of Jaccard with variance
    J(1−J)/num_hashes) to ``true_ppm = inter·10⁶ div union``. Both
    sides exact integers; the error column is their exact difference.

    ``candidates`` (optional, ``(id_a, id_b)`` with id_a < id_b) is
    the corpus-scale path (round-7 probe finding: with duplicate-heavy
    data the exhaustive truth side spilled past a 78 GB disk budget at
    100× — the pair universe, not the plan, is what explodes): when
    given, BOTH the exact-Jaccard truth side and the signature compare
    run only over those pairs — the intersection becomes a
    candidate-anchored two-step join (shingles of id_a ⋈ (pair,
    shingle) ⋈ shingles of id_b), linear in |candidates|·doc size,
    and pairs sharing no shingle still surface with true_ppm 0
    (estimator bias on disjoint pairs is part of what a sampled eval
    must see). Sample LSH candidate pairs, or seeded random pairs,
    upstream. ``min_true_ppm`` is not applied in candidate mode — the
    caller chose the pairs.

    Output (scalar-only): ``(id_a, id_b, true_ppm long, est_ppm long,
    err_ppm long)``.
    """
    sh = exploded_shingles(df, id_col, text_col, shingle_n)
    sizes = sh.groupBy(id_col).agg(F.count("*").cast("long").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    if candidates is not None:
        cand = candidates.select("id_a", "id_b").distinct()
        shb = sh.select(
            F.col(id_col).alias("__idb2"), F.col("shingle").alias("__shb")
        )
        hit = (
            cand.join(
                sh.select(F.col(id_col).alias("id_a"), F.col("shingle")),
                "id_a",
            )
            .join(
                shb,
                (F.col("id_b") == F.col("__idb2"))
                & (F.col("shingle") == F.col("__shb")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").cast("long").alias("__i"))
        )
        inter = cand.join(hit, ["id_a", "id_b"], "left").select(
            "id_a", "id_b",
            F.coalesce(F.col("__i"), F.lit(0).cast("long")).alias("__i"),
        )
    else:
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .agg(F.count("*").cast("long").alias("__i"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("__nb"))
    # Candidate mode keeps EVERY caller-chosen pair, including pairs
    # where a doc yields zero shingles (< shingle_n tokens): sizes and
    # signatures have no row for such ids, so the joins go LEFT with
    # coalesce-to-0 sizes, true_ppm defined 0 on an empty union, and
    # missing signature positions counted as non-matches (est_ppm 0 —
    # the empty set has no MinHash). Exhaustive mode keeps the inner
    # joins: its pairs come from shared shingles, so both sides have
    # rows by construction and the plan stays unchanged.
    size_how = "inner" if candidates is None else "left"
    true_pairs = (
        inter.join(sa, "id_a", size_how)
        .join(sb, "id_b", size_how)
        .select(
            "id_a",
            "id_b",
            F.coalesce(F.col("__na"), F.lit(0).cast("long")).alias("__na"),
            F.coalesce(F.col("__nb"), F.lit(0).cast("long")).alias("__nb"),
            "__i",
        )
        .select(
            "id_a",
            "id_b",
            F.expr(
                "CASE WHEN __na + __nb - __i > 0"
                " THEN __i * 1000000 div (__na + __nb - __i)"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("true_ppm"),
        )
    )
    if candidates is None:
        true_pairs = true_pairs.filter(F.col("true_ppm") >= min_true_ppm)
    sigs = minhash_signatures_portable(
        df, id_col, text_col, num_hashes, shingle_n
    )
    siga = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"__a{i}") for i in range(num_hashes)],
    )
    sigb = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"__b{i}") for i in range(num_hashes)],
    )
    matches = sum(
        F.coalesce(
            (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("long"),
            F.lit(0).cast("long"),
        )
        for i in range(num_hashes)
    )
    return (
        true_pairs.join(siga, "id_a", size_how)
        .join(sigb, "id_b", size_how)
        .select("id_a", "id_b", "true_ppm", matches.alias("__m"))
        .select(
            "id_a",
            "id_b",
            "true_ppm",
            F.expr(f"__m * 1000000 div {num_hashes}").alias("est_ppm"),
        )
        .withColumn("err_ppm", F.col("est_ppm") - F.col("true_ppm"))
    )


def blocking_recall_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    thresholds_ppm: list[int] = (300000, 500000, 700000),
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    id_bound: int = 500,
) -> DataFrame:
    """Candidate-recall of the MinHash/LSH banding vs EXACT Jaccard
    ground truth — the q_ann_recall discipline applied to F2's
    BLOCKING stage (q_minhash_error grades the per-pair estimator;
    this grades what the banding SURFACES: a pair the bands never
    bucket together is lost no matter how good the estimate, and the
    S-curve says how much — so (num_hashes, bands) is sized from
    measured recall at the operating threshold instead of the
    analytic curve alone).

    Truth is the exhaustive shared-shingle Jaccard in integer ppm
    over DISTINCT (id, shingle) sets — the quadratic the banding
    exists to avoid, affordable here BECAUSE this is the eval (run on
    a fixture or a sampled slice at 100 TB; the candidate side is the
    production plan). Output (scalar-only): one row per threshold,
    ``(threshold_ppm long, n_true long, n_hit long,
    recall_ppm long)`` — n_true counts true pairs at Jaccard ≥
    threshold, n_hit those the banding also surfaced; recall on an
    empty truth set is NULL, not 10⁶.

    The eval runs on ids below ``id_bound`` — BOUNDED, the
    knn_classify lesson: an eval harness measures a sample, it does
    not grow with the corpus (the unbounded truth quadratic probed
    24× at 10× data). The slice is a plain predicate so it PUSHES
    INTO THE SCAN rather than re-sorting the corpus the way an
    orderBy+limit slice would on every reuse of the subtree.
    """
    df = df.filter(F.col(id_col) < id_bound)
    sh = exploded_shingles(df, id_col, text_col, shingle_n).distinct()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__n_sh").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n_sh").alias("__nb"))
    truth = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                "CAST((__inter * 1000000) div (__na + __nb - __inter)"
                " AS BIGINT)"
            ).alias("__jac_ppm"),
        )
    )
    bb = portable_bands(
        minhash_signatures_portable(df, id_col, text_col, num_hashes, shingle_n),
        id_col,
        num_hashes,
        bands,
    )
    ca = bb.select(F.col(id_col).alias("id_a"), "band", "bucket")
    cb = bb.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cands = (
        ca.join(cb, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    joined = truth.join(cands, ["id_a", "id_b"], "left")
    out = None
    for t in thresholds_ppm:
        agg = joined.filter(F.col("__jac_ppm") >= t).agg(
            F.lit(int(t)).cast("long").alias("threshold_ppm"),
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out.select(
        "threshold_ppm",
        "n_true",
        "n_hit",
        F.when(
            F.col("n_true") > 0,
            F.expr("CAST((n_hit * 1000000) div n_true AS BIGINT)"),
        ).alias("recall_ppm"),
    )
