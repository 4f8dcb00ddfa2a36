"""Vector math over ``array<float>`` embedding columns — pure column
expressions (JVM-side, whole-stage codegen), no Python UDFs in the hot path.

Determinism contract: embeddings are cast element-wise to double *first* (an
exact widening), then dot products fold sequentially in array order — the same
evaluation order a scalar loop uses, which is what keeps results reproducible
across engines and runs. Every op here is embarrassingly parallel per-row, so
the operators scale with the scan; only top-k adds a (tiny, k-bounded) shuffle.

Exact-integer kernel: the oracle-gated operators do not fold doubles at
all. Each component is rounded to a scaled BIGINT and every dot product or
norm is a long sum, so the result is the same integer in any engine and
any fold order. Four helpers hold that rule, and every such site goes
through them:

- :func:`quantize` rounds ``x·quant`` HALF_UP (``F.round``) to a long,
  after widening ``x`` to double. HALF_UP is the rule the DuckDB oracles
  mirror with ``round()``.
- :func:`lsum`, :func:`ldot` and :func:`lnorm2` are the exact long sum,
  dot product and squared norm of quantized arrays.

k-means scoring is the one other rounding form: ``_kmeans_scored``
rounds each difference half away from zero as a sign-split floor
(``floor(d + 0.5)`` / ``-floor(0.5 - d)``), because ``F.round``'s
BigDecimal path dominated that n·k·dims loop. ``_KMEANS_ASSIGN_CTES``
mirrors it verbatim. Do not move a quantize site to the floor form:
``floor(d + 0.5)`` rounds 0.49999999999999994 to 1 where HALF_UP gives 0.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from salesforce_plugin_spark.functions.exactmath import D38, dfloor


def as_double(vec: Column | str) -> Column:
    """Exact float→double widening of an array column."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product: products first (each rounded to double),
    then left-to-right summation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _quantize_one(x: Column, quant: int) -> Column:
    return F.round(x.cast("double") * float(quant), 0).cast("long")


def quantize(vec: Column, quant: int) -> Column:
    """Element-wise ``round(x·quant)`` HALF_UP as long, ``x`` widened to
    double first (a float32 product would round differently)."""
    return F.transform(vec, lambda x: _quantize_one(x, quant))


def lsum(arr: Column) -> Column:
    """Exact long sum of a long array, folded in array order."""
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)


def ldot(a: Column, b: Column) -> Column:
    return lsum(F.zip_with(a, b, lambda x, y: x * y))


def lnorm2(a: Column) -> Column:
    return lsum(F.transform(a, lambda x: x * x))


def _cos_terms(a: Column, b: Column, tag: str = "d") -> list[Column]:
    """The exact DECIMAL(38,0) ``__dot_{tag}``, ``__na_{tag}``,
    ``__nb_{tag}`` columns that :func:`with_exact_cos_ppm` reads."""
    return [
        ldot(a, b).cast(D38).alias(f"__dot_{tag}"),
        lnorm2(a).cast(D38).alias(f"__na_{tag}"),
        lnorm2(b).cast(D38).alias(f"__nb_{tag}"),
    ]


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int,
    round_digits: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k: the baseline similarity search (SURVEY §2 F3).

    ``query_df`` must contain exactly one row with a ``q_vec`` array column; it
    is broadcast, so the scan side never shuffles — the only exchange is the
    k-row ``TakeOrderedAndProject``. This is the shape that survives 100 TB:
    one pass over the candidates, no pairwise materialization. Similarity is
    rounded before ranking so the ordering is stable under float noise; ties
    break on the id.
    """
    sim = F.round(cosine(as_double(F.col(vec_col)), as_double(F.col("q_vec"))), round_digits)
    return (
        df.crossJoin(F.broadcast(query_df))
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_batch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int,
    round_digits: int = 6,
) -> DataFrame:
    """Batched brute-force cosine top-k: Q query vectors answered in ONE
    corpus scan (the ANN serving/eval shape — embedding-dedup sweeps,
    retrieval eval sets). ``query_df`` holds (q_id, q_vec) rows and is
    broadcast; similarities evaluate in-codegen per (candidate, query)
    pair, and the only shuffle is the per-q_id window top-k — rows are
    pruned to k per query before anything wide moves. Self-matches are the
    caller's policy: filter ``q_id != id_col`` downstream if unwanted."""
    sim = F.round(
        cosine(as_double(F.col(vec_col)), as_double(F.col("q_vec"))),
        round_digits,
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        df.crossJoin(F.broadcast(query_df))
        .select("q_id", F.col(id_col), sim.alias("sim"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    nlist: int = 16,
    seed: int = 42,
    max_iter: int = 8,
):
    """Build an IVF (inverted-file) index: KMeans centroids + per-vector
    nearest-centroid assignment — the standard ANN scale path (F3).

    Returns ``(assigned, centroids)`` where ``assigned`` is the input plus a
    ``centroid_id`` int column (partition/cluster key for the search), and
    ``centroids`` is a list of (centroid_id, center_vector) — index
    *metadata*, O(nlist·dim), intentionally driver-side like any index
    catalog. Training is one MLlib KMeans pass (seeded → deterministic);
    at 100 TB you train on a sample and assign with the broadcast model.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(as_double(F.col(vec_col))).alias("__features"),
    )
    # an IVF index needs stable partitions, not converged clusters —
    # capped iterations keep the one-off build cheap without recall impact
    model = KMeans(
        k=nlist, seed=seed, maxIter=max_iter,
        featuresCol="__features", predictionCol="centroid_id",
    ).fit(feats)
    assigned = model.transform(feats).drop("__features")
    centroids = [(i, c.tolist()) for i, c in enumerate(model.clusterCenters())]
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: list,
    query_vec: list,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF probe search: rank centroids against the query (driver-side —
    nlist rows of metadata), scan only the ``nprobe`` nearest inverted
    lists, brute-force cosine within them. Cuts the scan to ~nprobe/nlist
    of the data at some recall cost; exact within probed lists.
    """
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    probe_ids = [
        cid for cid, _ in sorted(
            centroids, key=lambda c: -cos(c[1], query_vec)
        )[:nprobe]
    ]
    spark = assigned.sparkSession
    q = spark.createDataFrame([(query_vec,)], f"q_vec array<double>")
    sim = F.round(
        cosine(as_double(F.col(vec_col)), F.col("q_vec")), 6
    )
    return (
        assigned.filter(F.col("centroid_id").isin(probe_ids))
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_assign_deterministic(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    seeds_df: DataFrame,
    round_digits: int = 6,
) -> DataFrame:
    """Deterministic IVF quantizer: assign every vector to its nearest seed
    centroid by (rounded) cosine, ties broken on ``centroid_id``.

    ``seeds_df`` holds ``(centroid_id, c_vec array<double>)`` — e.g. the
    first nlist corpus vectors by id, a data-derived codebook any engine can
    reproduce (unlike trained KMeans centers, whose values depend on the
    trainer). The seeds are broadcast and the per-vector argmax is a window
    over an nlist-factor expansion that is pruned back to one row before
    anything shuffles — the same shape as the batched top-k. Production
    indexes use :func:`ivf_index` (seeded KMeans, better-balanced lists);
    this variant exists for cross-engine-verifiable builds.
    """
    sim = F.round(
        cosine(as_double(F.col(vec_col)), F.col("c_vec")), round_digits
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__csim").desc(), F.col("centroid_id")
    )
    return (
        df.crossJoin(F.broadcast(seeds_df))
        .withColumn("__csim", sim)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__csim", "c_vec")
    )


def sign_bucket(vec: Column, bits: int = 8) -> Column:
    """LSH-style bucket id from the sign pattern of the first ``bits`` dims.

    The scale path for ANN search: bucket both sides, then search only within
    the query's bucket — turns an O(N) scan into an O(N/2^bits) one at some
    recall cost. Deterministic and engine-portable (no hashing involved).
    """
    acc = F.lit(0)
    for i in range(bits):
        acc = acc + F.when(F.element_at(vec, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return acc


def max_abs(vec: Column) -> Column:
    """Largest |x| in the (double) array — the symmetric-quantization range."""
    return F.array_max(F.transform(vec, F.abs))


def int8_scale(vec: Column) -> Column:
    """Symmetric int8 quantization scale 127/max|x| (0.0 for all-zero
    vectors, which then quantize to all zeros rather than dividing by 0)."""
    m = max_abs(vec)
    return F.when(m > 0, F.lit(127.0) / m).otherwise(F.lit(0.0))


def quantize_int8(vec: Column, scale: Column) -> Column:
    """Element-wise ``floor(x * scale)`` as int — floor, not round, so there
    is no half-way tie rule to match across engines. One double multiply per
    element of an exact widened double; deterministic and portable.

    Storage math at 100 TB: a 768-dim float32 embedding is 3 KB/row; int8 +
    one double scale is ~776 B — a 4× scan-volume cut for ANN pre-filtering,
    with full-precision re-rank only on the survivors (the standard
    two-stage retrieval layout).
    """
    return F.transform(vec, lambda x: F.floor(x * scale).cast("int"))


def centroids_long(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-label centroid of an embedding column, in exploded long form
    ``(label, dim int, centroid double, n long)`` — the shared primitive
    under k-means steps, per-class mean embeddings, and cluster drift
    monitoring. Long form keeps the output schema scalar-only (no array
    columns cross an engine boundary).

    Determinism: each component is widened to double (exact) and
    quantized to a scaled long (``round(v * scale)``) BEFORE aggregation,
    so the per-(label, dim) sum is an exact BIGINT in any engine and the
    mean is one final divide + round(6) — float accumulation order never
    enters the result. The quantization (≤ 0.5/scale per component) is
    the documented price of cross-engine exactness.

    Scale shape: ``posexplode`` emits (label, dim, q) straight off the
    scan; the groupBy partial-combines map-side, so the ONE exchange
    carries at most ``labels × dims`` rows per map partition — never the
    corpus. No window, no collect, no Python.
    """
    ex = df.select(
        F.col(label_col),
        F.posexplode(F.col(vec_col)).alias("dim", "__v"),
    ).select(
        F.col(label_col),
        F.col("dim"),
        _quantize_one(F.col("__v"), scale).alias("__q"),
    )
    return (
        ex.groupBy(label_col, "dim")
        .agg(F.sum("__q").alias("__s"), F.count(F.lit(1)).alias("n"))
        .select(
            F.col(label_col),
            F.col("dim").cast("int").alias("dim"),
            F.round(F.col("__s") / (float(scale) * F.col("n")), 6).alias(
                "centroid"
            ),
            F.col("n").cast("long").alias("n"),
        )
    )


def _kmeans_scored(
    df: DataFrame,
    seeds: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    centroid_col: str,
    quant: int,
) -> DataFrame:
    """Every vector scored against every (broadcast) seed: ``(id, __cl,
    __d2)``, ``__d2`` the exact long squared distance of the quantized
    differences. Shared by :func:`kmeans_assign` and
    :func:`kmeans_margin`, so the two agree bit-for-bit."""
    sel = seeds.select(
        F.col(cluster_col).alias("__cl"),
        as_double(centroid_col).alias("__cv"),
    )

    # round-half-away-from-zero spelled as sign-split floor (r12): the
    # BigDecimal path inside F.round() cost ~0.9 us PER ELEMENT and was
    # 2/3 of semantic-dedup's sf1.0 executor time (n*k*dims calls); the
    # floor form is the same rounding rule in pure IEEE ops (engine-
    # version-proof, VERDICT r11 #1 discipline) except one ulp below a
    # half (module docstring), mirrored verbatim in the kmeans oracle CTEs.
    def _q(x, y):
        d = (x - y) * quant
        return F.when(d >= 0, F.floor(d + F.lit(0.5))).otherwise(
            -F.floor(F.lit(0.5) - d)
        )

    diff = F.zip_with(as_double(vec_col), F.col("__cv"), _q)
    dist2 = F.aggregate(diff, F.lit(0).cast("long"), lambda acc, z: acc + z * z)
    return df.crossJoin(F.broadcast(sel)).select(
        F.col(id_col), F.col("__cl"), dist2.alias("__d2")
    )


def kmeans_assign(
    df: DataFrame,
    seeds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    centroid_col: str = "centroid",
    quant: int = 1000,
) -> DataFrame:
    """One k-means assignment step: each vector goes to its nearest seed
    centroid, ties broken by lowest cluster id. Returns
    ``(id, cluster, dist2 long)``.

    Distances are EXACT integers: per-dimension differences are widened
    to double (exact), quantized to scaled longs (``round(d * quant)``),
    and the squared distance is an integer sum — so the argmin is fully
    deterministic in any engine, with no float-accumulation-order or
    sqrt in sight (squared distance is monotone in distance). The
    quantization (≤ 0.5/quant per dimension) is the documented price,
    same contract as :func:`centroids_long` — and because both steps
    quantize identically, an assign → centroid → assign loop is exactly
    reproducible end-to-end.

    Scale shape: seeds are k rows — broadcast; the k-way scored rows
    reduce per-id with a ``min(struct)`` partial-combined aggregate, so
    the exchange carries one row per vector, not k. The corpus is
    scanned once; nothing collects on the driver.
    """
    return (
        _kmeans_scored(df, seeds, id_col, vec_col, cluster_col, centroid_col, quant)
        .groupBy(id_col)
        .agg(F.min(F.struct(F.col("__d2"), F.col("__cl"))).alias("__m"))
        .select(
            F.col(id_col),
            F.col("__m.__cl").alias(cluster_col),
            F.col("__m.__d2").alias("dist2"),
        )
    )


def gram_power_step(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    v0: DataFrame,
    quant: int = 1000,
) -> DataFrame:
    """One power-iteration step against the corpus Gram matrix — the
    distributed core of PCA / spectral embedding analysis: computes
    ``g = X^T (X v)`` without ever materializing the dims×dims matrix,
    as two passes expressed in ONE lazy plan (per row the scalar
    ``s_i = <x_i, v>``, then per dimension ``g_d = Σ_i x_{i,d} · s_i``).

    Both the vectors and ``v0`` (a 1-row DataFrame with a ``v0`` array
    column, broadcast) are quantized to scaled longs with
    :func:`quantize`, so every product and
    sum is an exact BIGINT — the step is bit-reproducible cross-engine,
    which is what lets an iterative eigensolver checkpoint/resume
    deterministically at scale. Normalization between steps is the
    caller's (documented) float step outside the gate; the RAW integer
    image is what this returns. Overflow bound: |g_d| <=
    N·(quant·|x|_max)²·dims — at quant 10³, |x|<1, 64 dims this holds
    to N ≈ 10⁸ rows per partition-independent exact sum; lower quant for
    bigger corpora.

    Plan: one corpus scan; ``s_i`` is a codegen array-fold; the
    per-dimension explode carries (dim, x_d·s_i) into ONE
    partial-combined exchange bounded by the dimensionality.

    Output (scalar-only): ``(dim int, gv long)``, one row per dimension
    (1-based).
    """
    return _gram_step_q(df, vec_col, _quantized_v0(v0, quant), quant)


def _quantized_v0(v0: DataFrame, quant: int) -> DataFrame:
    return v0.select(quantize(as_double(F.col("v0")), quant).alias("__vq"))


def _gram_step_q(df: DataFrame, vec_col: str, vq: DataFrame, quant: int) -> DataFrame:
    """One g = Xᵀ(Xv) pass where ``vq`` is a 1-row DataFrame holding an
    ALREADY-quantized long array ``__vq`` (broadcast): the body of
    :func:`gram_power_step`, which quantizes ``v0`` first, and of each
    :func:`gram_power_iterations` step, which feeds the
    integer-renormalized vector straight back in without a float
    round-trip."""
    xq = quantize(as_double(F.col(vec_col)), quant)
    with_s = df.crossJoin(F.broadcast(vq)).select(
        xq.alias("__xq"), ldot(xq, F.col("__vq")).alias("__s")
    )
    terms = with_s.select(
        F.posexplode(F.col("__xq")).alias("__p", "__x"), F.col("__s")
    )
    return terms.groupBy((F.col("__p") + 1).cast("int").alias("dim")).agg(
        F.sum(F.col("__x") * F.col("__s")).alias("gv")
    )


def gram_power_iterations(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    v0: DataFrame,
    iterations: int = 2,
    quant: int = 1000,
) -> DataFrame:
    """Chained power iterations against the corpus Gram matrix with an
    INTEGER renormalization between steps — the full distributed
    eigensolver loop, deterministic across engines at every boundary
    (the property that makes a checkpointed 100 TB PCA resumable
    mid-run, same discipline as the chained k-means gate).

    Between steps the raw integer image g is renormalized without any
    float: ``v' = sign(g) * (|g| * quant div max|g|)`` — a sign-safe
    floor division (both operands non-negative, so truncating and
    flooring engines agree; a signed ``div`` would differ between
    truncate-toward-zero and floor semantics on negatives). The
    renormalized vector is rebuilt into a broadcast array via a
    dims-bounded collect_list — never a driver round-trip.

    Output (scalar-only): ``(dim int, vq long, gv long)`` — the input
    vector to the final step and that step's raw integer image.
    """
    if iterations < 1:
        raise ValueError("gram_power_iterations requires iterations >= 1")
    cur = _quantized_v0(v0, quant)
    for it in range(iterations):
        g = _gram_step_q(df, vec_col, cur, quant)
        if it == iterations - 1:
            break
        gmax = g.agg(F.max(F.abs(F.col("gv"))).alias("__gmax"))
        renorm = (
            g.crossJoin(F.broadcast(gmax))
            .select(
                "dim",
                (
                    F.when(F.col("gv") < 0, F.lit(-1)).otherwise(F.lit(1))
                    * F.expr(f"(abs(gv) * {quant}) div __gmax")
                ).alias("__v"),
            )
        )
        cur = renorm.groupBy().agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "__v"))),
                lambda s: s["__v"],
            ).alias("__vq")
        )
    vq_rows = cur.select(
        F.posexplode(F.col("__vq")).alias("__p", "vq")
    ).select((F.col("__p") + 1).cast("int").alias("dim"), "vq")
    return g.join(vq_rows, "dim").select("dim", "vq", "gv")


def dimension_stats(
    df: DataFrame, vec_col: str, quant: int = 1_000_000
) -> DataFrame:
    """Per-dimension moment statistics of an embedding column — the
    drift-monitoring primitive for embedding pipelines (a model upgrade,
    a preprocessing change, or corrupted ingestion shows up first as a
    shifted per-dimension mean/variance profile; compare two corpora's
    outputs to localize WHICH dimensions moved).

    Components are quantized to scaled longs (``round(v * quant)``)
    BEFORE aggregation — the :func:`centroids_long` idiom — so the sums
    are exact BIGINTs and the whole profile is engine-replayable.
    Output per dimension (scalar-only):

      - ``n`` rows, ``sum_q`` / ``sumsq_q`` exact quantized moments
      - ``mean_q    = sum_q div n``                     (quantized mean)
      - ``var_num   = n * sumsq_q - sum_q^2``           (n² × variance,
        exact — compare ratios cross-corpus without any divide)

    Overflow bound: ``n * sumsq_q < 2^63`` holds to ~9·10^6 rows at
    quant 10^6 with unit-normalized components (|q| ≤ 10^6); drop quant
    to 10^3 for ~10^12 rows. One posexplode (rows × dims, map-side) and
    ONE exchange bounded by the dimension count.
    """
    ex = df.select(F.posexplode(F.col(vec_col)).alias("dim", "__v")).select(
        F.col("dim"),
        _quantize_one(F.col("__v"), quant).alias("__q"),
    )
    return (
        ex.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__q").alias("sum_q"),
            F.sum(F.col("__q") * F.col("__q")).alias("sumsq_q"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            "n",
            "sum_q",
            "sumsq_q",
            F.expr("sum_q div n").alias("mean_q"),
            (F.col("n") * F.col("sumsq_q") - F.col("sum_q") * F.col("sum_q"))
            .alias("var_num"),
        )
    )


def gram_matrix(
    df: DataFrame,
    vec_col: str,
    quant: int = 1000,
    method: str = "explode",
) -> DataFrame:
    """Corpus Gram + covariance-numerator matrix in exploded long form —
    the whitening / PCA / feature-correlation primitive
    (``gram_power_step`` extracts one eigenvector without materializing
    this; ``gram_matrix`` IS the dims×dims materialization for when the
    whole matrix is wanted). Components are quantized to scaled longs
    with :func:`quantize`, so
    every product and sum is an exact BIGINT: the result is
    bit-identical across engines, partitionings, and the two methods
    below. Upper triangle only (i ≤ j, 0-based dims to match
    :func:`dimension_stats`); ``cov_num = n·s_ij − t_i·t_j`` is the
    n²-scaled covariance numerator (divide by n² in float downstream —
    outside the exact-integer core, same contract as dimension_stats'
    var_num).

    ``method="explode"``: pure-JVM double posexplode → one
    partial-combined exchange bounded by d(d+1)/2 rows. The intermediate
    is n·d² generated rows — fine to ~10⁶-row corpora, and the form the
    DuckDB oracle replays.

    ``method="arrow"``: one ``mapInPandas`` stage computes each Arrow
    batch's PARTIAL Gram as a numpy int64 ``Qᵀ·Q`` (BLAS, no n·d² row
    blowup — per batch output is d(d+1)/2 rows regardless of batch
    size), then the same bounded exchange sums partials. Integer sums
    are associative, so arrow ≡ explode bit-for-bit (unit-pinned); this
    is the 100 TB path.

    Overflow bound (documented, not checked row-wise): |s_ij| ≤
    n·(quant·|x|_max)², so quant 10³ with |x| < 1 holds exact to
    n ≈ 10¹² rows; ``cov_num`` additionally needs n·s and t_i·t_j <
    2⁶³ — at quant 10³ that is n ≈ 3·10⁶ (lower quant for bigger
    corpora, exactly the :func:`gram_power_step` trade).

    Output (scalar-only): ``(i int, j int, n long, s long,
    cov_num long)``.
    """
    if method not in ("explode", "arrow"):
        raise ValueError("method must be explode | arrow")
    xq = quantize(as_double(F.col(vec_col)), quant)
    base = df.filter(F.col(vec_col).isNotNull()).select(xq.alias("__xq"))
    totals = (
        base.select(F.posexplode("__xq").alias("__i", "__x"))
        .groupBy("__i")
        .agg(F.sum("__x").alias("__t"))
    )
    if method == "explode":
        a = base.select(
            F.posexplode("__xq").alias("__i", "__xi"), F.col("__xq")
        )
        b = a.select(
            "__i", "__xi", F.posexplode("__xq").alias("__j", "__xj")
        ).filter(F.col("__j") >= F.col("__i"))
        g = b.groupBy("__i", "__j").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("__xi") * F.col("__xj")).alias("s"),
        )
    else:
        import pandas as pd  # noqa: PLC0415

        def partial_gram(batches):
            import numpy as np  # noqa: PLC0415

            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.array(pdf["__xq"].tolist(), dtype=np.int64)
                gm = m.T @ m
                iu, ju = np.triu_indices(m.shape[1])
                yield pd.DataFrame(
                    {
                        "__i": iu.astype("int32"),
                        "__j": ju.astype("int32"),
                        "n": np.full(iu.shape, len(pdf), dtype="int64"),
                        "s": gm[iu, ju],
                    }
                )

        g = (
            base.mapInPandas(
                partial_gram, "__i int, __j int, n long, s long"
            )
            .groupBy("__i", "__j")
            .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        )
    ti = totals.select(
        F.col("__i").alias("__ti_dim"), F.col("__t").alias("__ti")
    )
    tj = totals.select(
        F.col("__i").alias("__tj_dim"), F.col("__t").alias("__tj")
    )
    return (
        g.join(F.broadcast(ti), g["__i"] == ti["__ti_dim"])
        .join(F.broadcast(tj), g["__j"] == tj["__tj_dim"])
        .select(
            F.col("__i").cast("int").alias("i"),
            F.col("__j").cast("int").alias("j"),
            "n",
            "s",
            (F.col("n") * F.col("s") - F.col("__ti") * F.col("__tj"))
            .alias("cov_num"),
        )
    )


def kmeans_margin(
    df: DataFrame,
    seeds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    centroid_col: str = "centroid",
    quant: int = 1000,
) -> DataFrame:
    """Assignment-confidence diagnostic for :func:`kmeans_assign`: per
    vector, the best and second-best exact-integer squared distances
    and their margin — low margin = the vector sits on a cluster
    boundary (route it to review / treat its cluster label as soft;
    SemDeDup-style pipelines use exactly this to pick re-verify
    candidates). Same quantized-integer distance as kmeans_assign, so
    the two agree bit-for-bit on the winner; the two-smallest election
    is one ``min(struct)`` + one conditional ``min`` over the same
    k-scored rows — the exchange still carries ONE row per vector
    (partial-combined), never k.

    Output: (id, cluster, dist2, dist2_second, margin) — margin NULL
    when k = 1 (no runner-up, undefined rather than 0).
    """
    scored = _kmeans_scored(
        df, seeds, id_col, vec_col, cluster_col, centroid_col, quant
    )
    best = scored.groupBy(id_col).agg(
        F.min(F.struct(F.col("__d2"), F.col("__cl"))).alias("__m")
    )
    # second-best: min over the scored rows EXCLUDING the winner's
    # cluster — one more partial-combined aggregate on the same key
    second = (
        scored.join(
            best.select(
                F.col(id_col), F.col("__m.__cl").alias("__win")
            ),
            id_col,
        )
        .filter(F.col("__cl") != F.col("__win"))
        .groupBy(id_col)
        .agg(F.min("__d2").alias("__d2b"))
    )
    return (
        best.join(second, id_col, "left")
        .select(
            F.col(id_col),
            F.col("__m.__cl").alias(cluster_col),
            F.col("__m.__d2").alias("dist2"),
            F.col("__d2b").alias("dist2_second"),
            (F.col("__d2b") - F.col("__m.__d2")).alias("margin"),
        )
    )


def centroid_similarity(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    scale: int = 10_000,
) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids —
    the class-confusability / cluster-drift matrix (which labels sit
    close in embedding space; which clusters should merge). The n in
    each centroid mean CANCELS in the cosine, so the exact-BIGINT
    per-(label, dim) component SUMS of JVM-quantized values stand in
    for the centroids directly: dot and norms are exact integers, and
    the cosine is the single surface float (two IEEE sqrts + one divide
    + round 6 over identical integer operands — deterministic anywhere;
    the q_embed_topk discipline).

    Scale shape: posexplode → ONE partial-combined (label, dim)
    exchange (≤ labels × dims rows); the pairwise self-join on dim and
    everything after is bounded by labels² × dims, never the corpus.

    The cosine surfaces as an EXACT integer, ``cos_ppm = sign(dot) ·
    (|dot|·10⁶ div isqrt(norm2_a·norm2_b))``, where isqrt is the exact
    integer square root (a double-sqrt seed corrected by ±2 integer
    comparisons — the correction makes the double's rounding
    irrelevant, so any engine replays the identical integer). This
    closes the last float on the gate surface (round-5 verdict item:
    the old ``cos double`` relied on both engines' sqrt/divide/round6
    agreeing bit-for-bit, which IEEE nearly-but-not-quite guarantees
    at the half-ulp rounding boundary). Valid while
    ``norm2_a·norm2_b < 2^104`` (seed error ≤ 1 there; the DECIMAL
    product fails loudly under ANSI far past that) — i.e. per-label
    quantized component sums up to ~2^26·scale, far past any real
    corpus.

    Output (scalar-only): ``(label_a, label_b, dot long, norm2_a long,
    norm2_b long, cos_ppm long)`` for label_a < label_b.
    """
    sums = (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "__v"),
        )
        .select(
            "label",
            "dim",
            _quantize_one(F.col("__v"), scale).alias("__q"),
        )
        .groupBy("label", "dim")
        .agg(F.sum("__q").alias("__s"))
    )
    d38 = "decimal(38,0)"
    norms = sums.groupBy("label").agg(
        F.sum(F.col("__s").cast(d38) * F.col("__s").cast(d38)).alias(
            "__norm2_d"
        )
    )
    a = sums.select(
        F.col("label").alias("label_a"), "dim", F.col("__s").alias("__sa")
    )
    b = sums.select(
        F.col("label").alias("label_b"), "dim", F.col("__s").alias("__sb")
    )
    dots = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("__sa").cast(d38) * F.col("__sb").cast(d38)).alias(
                "__dot_d"
            )
        )
    )
    na = norms.select(
        F.col("label").alias("label_a"), F.col("__norm2_d").alias("__na_d")
    )
    nb = norms.select(
        F.col("label").alias("label_b"), F.col("__norm2_d").alias("__nb_d")
    )
    # products of component sums are quadratic in per-label row counts
    # (the zscore_outliers overflow class), so they accumulate in exact
    # DECIMAL(38,0); the long surface columns are exact whenever in
    # range (past 2^63 the cast fails loudly under default ANSI; never
    # silent garbage). The cosine is the exact-integer form documented
    # above (see with_exact_cos_ppm).
    return with_exact_cos_ppm(
        dots.join(na, "label_a").join(nb, "label_b"),
        dot="__dot_d",
        na="__na_d",
        nb="__nb_d",
        out="cos_ppm",
    ).select(
        "label_a",
        "label_b",
        F.col("__dot_d").cast("long").alias("dot"),
        F.col("__na_d").cast("long").alias("norm2_a"),
        F.col("__nb_d").cast("long").alias("norm2_b"),
        "cos_ppm",
    )


def with_exact_cos_ppm(
    df: DataFrame,
    dot: str,
    na: str,
    nb: str,
    out: str = "cos_ppm",
) -> DataFrame:
    """Append the EXACT integer cosine ``out = sign(dot) · (|dot|·10⁶
    div isqrt(na·nb))`` from exact DECIMAL(38,0) columns ``dot``,
    ``na``, ``nb`` (dot product and the two squared norms). The double
    sqrt only SEEDS the integer root; a ±2 CASE correction pins the
    exact floor, so the double's rounding is irrelevant and any engine
    replays the identical integer (valid while na·nb < 2^104 — seed
    error ≤ 1 there; the DECIMAL product fails loudly under ANSI far
    beyond). Zero norms surface NULL. Shared by centroid_similarity /
    mmr_select; the DuckDB oracles replay the same seed-and-correct
    chain in HUGEINT."""
    return (
        df.withColumn("__p", F.expr(f"{na} * {nb}"))
        .withColumn(
            "__y0",
            F.expr("CAST(FLOOR(SQRT(CAST(__p AS DOUBLE))) AS decimal(38,0))"),
        )
        .withColumn(
            "__y",
            F.expr(
                "CASE WHEN (__y0+2)*(__y0+2) <= __p THEN __y0+2 "
                "WHEN (__y0+1)*(__y0+1) <= __p THEN __y0+1 "
                "WHEN __y0*__y0 <= __p THEN __y0 "
                "WHEN (__y0-1)*(__y0-1) <= __p THEN __y0-1 "
                "ELSE __y0-2 END"
            ),
        )
        .withColumn(
            out,
            F.when(F.expr("__p = 0"), F.lit(None).cast("long"))
            .when(
                F.expr(f"{dot} < 0"),
                -F.expr(dfloor(f"ABS({dot}) * 1000000", "__y")),
            )
            .otherwise(F.expr(dfloor(f"{dot} * 1000000", "__y"))),
        )
        .drop("__p", "__y0", "__y")
    )


def projection_signs(n_components: int, dims: int, seed: str = "jl") -> list[list[int]]:
    """The deterministic ±1 sign matrix for :func:`random_projection`:
    ``sign[j][d] = +1 if the first hex digit of md5('{seed}:{j}:{d}')
    is even else -1`` — a pure function of (seed, j, d), so any engine
    (or the oracle generator) reproduces the exact matrix with no RNG
    state, and a resumed/re-sharded job projects identically."""
    import hashlib

    out = []
    for j in range(n_components):
        row = []
        for d in range(dims):
            h = hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) % 2 == 0 else -1)
        out.append(row)
    return out


def random_projection(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_components: int = 8,
    dims: int = 64,
    quant: int = 1000,
    seed: str = "jl",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection with a DETERMINISTIC
    ±1 sign matrix (Achlioptas 2003 database-friendly variant) — the
    dimensionality reducer in front of clustering / LSH / drift checks
    when 64-dim embeddings are still too wide. Components are quantized
    to scaled longs JVM-side (:func:`quantize`), so each output
    component ``y_j = Σ_d sign(j,d)·q_d`` is an exact BIGINT — the
    projection commutes with checkpoint/resume and replays in any
    engine.

    The sign matrix (:func:`projection_signs`) is embedded as literal
    arrays and each component is one codegen ``zip_with``/``aggregate``
    fold: NO shuffle, no join, no Python — per-row cost n_components·d
    on the scan. Output row count is |input|·n_components in exploded
    long form.

    Output (scalar-only): ``(id, j int, y long)``.
    """
    signs = projection_signs(n_components, dims, seed)
    # fail LOUDLY on a dims mismatch: zip_with pads the shorter side
    # with NULLs, which would otherwise propagate through the fold and
    # silently NULL-out y for every mismatched row — quietly emptying
    # downstream clustering/LSH inputs instead of surfacing the bug
    vec_checked = F.when(
        F.size(F.col(vec_col)) == dims, F.col(vec_col)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"random_projection: size({vec_col}) != dims={dims}"
                    " (got "
                ),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(")"),
            )
        )
    )
    q = quantize(vec_checked, quant)
    comps = [
        ldot(q, F.array(*[F.lit(s).cast("long") for s in signs[j]])).alias(
            f"__y{j}"
        )
        for j in range(n_components)
    ]
    wide = df.select(F.col(id_col), *comps)
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("j"), F.col(f"__y{j}").alias("y")
            )
            for j in range(n_components)
        ]
    )
    return wide.select(F.col(id_col), F.explode(pairs).alias("__p")).select(
        F.col(id_col), F.col("__p.j").alias("j"), F.col("__p.y").alias("y")
    )


def ivf_eval_lists(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    seeds_df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int = 3,
):
    """Shared retrieval-eval scaffolding: the exact brute-force top-k
    list and the deterministic-IVF-probed top-k list for each query,
    both ranked under the identical rounded-cosine + id total order so
    every comparison downstream (recall, reciprocal rank, graded NDCG)
    replays cross-engine. Factored out of :func:`ann_recall` verbatim
    when :func:`ann_ndcg` needed the same two lists.

    Returns ``(exact, ann)``: ``(q_id, <id_col>, exact_rank)`` /
    ``(q_id, <id_col>, ann_rank)``, each pruned to k·|Q| rows."""
    q = F.broadcast(query_df)
    sim = F.round(
        cosine(as_double(F.col(vec_col)), F.col("q_vec")), 6
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("sim").desc(), F.col(id_col)
    )
    exact = (
        df.crossJoin(q)
        .select("q_id", F.col(id_col), sim.alias("sim"))
        .withColumn("exact_rank", F.row_number().over(w))
        .filter(F.col("exact_rank") <= k)
        .drop("sim")
    )
    assigned = ivf_assign_deterministic(df, id_col, vec_col, seeds_df)
    probe = (
        seeds_df.crossJoin(q)
        .select(
            "q_id",
            "centroid_id",
            F.round(cosine(F.col("c_vec"), F.col("q_vec")), 6).alias(
                "psim"
            ),
        )
        .withColumn(
            "__pr",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.col("psim").desc(), F.col("centroid_id")
                )
            ),
        )
        .filter(F.col("__pr") <= nprobe)
        .select("q_id", "centroid_id")
    )
    ann = (
        assigned.join(F.broadcast(probe), "centroid_id")
        .join(q, "q_id")
        .select("q_id", F.col(id_col), sim.alias("sim"))
        .withColumn("ann_rank", F.row_number().over(w))
        .filter(F.col("ann_rank") <= k)
        .drop("sim")
    )
    return exact, ann


def ann_recall(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    seeds_df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """Retrieval-quality evaluation: recall@k and reciprocal rank of the
    deterministic IVF search against exact brute force, per query — the
    measurement that decides nprobe/nlist before an ANN index ships (an
    index without a recall number is a guess). Both sides use the
    rounded-cosine total order, so the whole evaluation — including the
    approximate side's misses — replays cross-engine.

    ``query_df`` holds broadcastable ``(q_id, q_vec array<double>)``
    rows; ``seeds_df`` is the deterministic codebook
    (:func:`ivf_assign_deterministic`'s contract). Shape: exact side =
    one corpus scan + per-query window top-k (rows pruned to k·|Q|
    before anything wide moves); ANN side scans only probed lists. The
    eval join is k·|Q| vs k·|Q| rows.

    Output (scalar-only): ``(q_id, n_hits long, recall_ppm long,
    rr_x1000 long)`` — rr_x1000 = 1000 div (ANN rank of the exact
    top-1), 0 when the top-1 is missed entirely.
    """
    exact, ann = ivf_eval_lists(
        df, id_col, vec_col, seeds_df, query_df, k=k, nprobe=nprobe
    )
    hits = exact.join(ann, ["q_id", id_col])
    # recall denominator = |exact results| (min(k, candidates)), NOT the
    # constant k: on corpora (or filtered lists) smaller than k a perfect
    # retrieval must read 100%, not |corpus|/k
    return (
        exact.groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("long").alias("__n_exact"))
        .join(
            hits.groupBy("q_id").agg(
                F.count(F.lit(1)).cast("long").alias("n_hits"),
                F.min(
                    F.when(F.col("exact_rank") == 1, F.col("ann_rank"))
                ).alias("__top1_rank"),
            ),
            "q_id",
            "left",
        )
        .select(
            "q_id",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias(
                "n_hits"
            ),
            F.expr("coalesce(n_hits, 0) * 1000000 div __n_exact")
            .cast("long")
            .alias("recall_ppm"),
            F.coalesce(
                F.expr("1000 div __top1_rank"), F.lit(0).cast("long")
            )
            .cast("long")
            .alias("rr_x1000"),
        )
    )


def _sign_pattern(v, sign_bits: int):
    """The ``sign_bits``-bit sign pattern of the array column ``v``: bit
    ``i`` is set when coordinate ``i`` is >= 0. Size-guarded (ANSI
    element_at errors past the array length), so short vectors
    contribute 0 bits."""
    return sum(
        (
            F.when(
                (F.size(v) > i) & (F.element_at(v, i + 1) >= 0),
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(sign_bits)
        ),
        F.lit(0).cast("long"),
    )


def _bucket_bits(target: int, sign_bits: int):
    """Adaptive sign-LSH bucket width over a row count column ``__cnt``:
    ``msb(__cnt div target)`` bits (pure integer bit arithmetic, the
    length_buckets idiom, no float log2), capped at ``sign_bits``, so a
    bucket holds ~``target`` rows."""
    return F.least(
        F.lit(sign_bits),
        (
            F.length(
                F.bin(
                    F.greatest(
                        F.lit(1).cast("long"), F.expr(f"__cnt div {target}")
                    )
                )
            )
            - 1
        ).cast("int"),
    )


def mutual_nn(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    round_digits: int = 6,
    target_block: int = 64,
    sign_bits: int = 16,
) -> DataFrame:
    """Mutual nearest neighbors WITHIN blocks: pairs (a, b) where b is
    a's top-1 cosine neighbor AND a is b's — the high-precision match
    primitive of entity alignment / translation-pair mining / dedup
    verification (a one-directional top-1 is often asymmetric noise;
    mutuality is the cheap strong filter). The pair generation is a
    block equijoin, never a cartesian.

    Caller blocks (label, cluster id) are ADAPTIVELY SUB-DIVIDED by the
    sign-LSH pattern of the embedding so pair work stays ~linear:
    ``bits = msb(block_count div target_block)`` (pure integer bit
    arithmetic — the length_buckets idiom, no float log2) masks the
    ``sign_bits``-bit sign pattern, splitting any block to ~target
    rows. The 10x probe exposed the fixed-block quadratic this replaces
    (48x wall at 10x data on a fixed label population — the SemDeDup
    fixed-codebook lesson); the price is the usual ANN recall
    tradeoff: cross-sub-block mutual pairs are not found. Sub-blocking
    is derived IN-PLAN from block counts (one bounded aggregate
    broadcast back), so the whole run replays cross-engine.

    Both directions rank by (rounded cosine desc, id) — total orders.
    Output (scalar-only): ``(id_a, id_b, sim double)`` with
    id_a < id_b.
    """
    if target_block < 2:
        raise ValueError("mutual_nn requires target_block >= 2")
    base0 = df.select(
        F.col(block_col).alias("__blk0"),
        F.col(id_col).alias("__id"),
        as_double(F.col(vec_col)).alias("__v"),
    )
    counts = base0.groupBy("__blk0").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    base = (
        base0.join(counts, "__blk0")
        .withColumn("__bits", _bucket_bits(target_block, sign_bits))
        .withColumn("__pat", _sign_pattern(F.col("__v"), sign_bits))
        .select(
            F.concat_ws(
                "#",
                F.col("__blk0").cast("string"),
                # pyspark's shiftleft() only takes a literal shift; the
                # per-block shift goes through the SQL form
                F.expr(
                    "pmod(__pat, shiftleft(CAST(1 AS BIGINT), __bits))"
                ).cast("string"),
            ).alias("__blk"),
            "__id",
            "__v",
        )
    )
    a = base.select(
        F.col("__blk"),
        F.col("__id").alias("__ida"),
        F.col("__v").alias("__va"),
    )
    b = base.select(
        F.col("__blk"),
        F.col("__id").alias("__idb"),
        F.col("__v").alias("__vb"),
    )
    pairs = (
        a.join(b, "__blk")
        .filter(F.col("__ida") != F.col("__idb"))
        .select(
            "__ida",
            "__idb",
            F.round(cosine(F.col("__va"), F.col("__vb")), round_digits).alias(
                "sim"
            ),
        )
    )
    w = Window.partitionBy("__ida").orderBy(
        F.col("sim").desc(), F.col("__idb").asc()
    )
    top1 = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("__ida", "__idb", "sim")
    )
    t2 = top1.select(
        F.col("__ida").alias("__idb2"), F.col("__idb").alias("__ida2")
    )
    return (
        top1.join(
            t2,
            (F.col("__ida") == F.col("__ida2"))
            & (F.col("__idb") == F.col("__idb2")),
        )
        .filter(F.col("__ida") < F.col("__idb"))
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            "sim",
        )
    )


def mmr_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    k: int = 5,
    pool_n: int = 20,
    lam_num: int = 7,
    lam_den: int = 10,
    quant: int = 1000,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein,
    SIGIR'98) — the diversity-aware top-k every retrieval/eval-set
    builder needs: greedily pick the candidate maximizing
    ``λ·relevance − (1−λ)·max-similarity-to-already-selected``, so the
    k results cover the query's neighborhood instead of clustering on
    near-duplicates of the best hit.

    Exact-integer throughout (λ = lam_num/lam_den as integers;
    similarities are the corrected-isqrt cosine ppm of
    :func:`with_exact_cos_ppm` over JVM-quantized vectors):
    ``mmr_scaled = lam_num·rel_ppm − (lam_den−lam_num)·max_sim_ppm``.

    Scale shape — the two-stage discipline: ONE corpus scan computes
    ``rel_ppm`` against the broadcast query (codegen folds, no
    shuffle) and ``TakeOrderedAndProject`` keeps the ``pool_n``
    recall pool; everything after (pool×pool similarity matrix, the k
    greedy rounds expressed as anti-join → max-sim aggregate → 1-row
    top-1 per round) is bounded by pool_n², never the corpus. The
    pool and pair matrix are ``localCheckpoint``'ed (lazily) so the k
    unrolled rounds don't rescan the corpus per branch — the kcore /
    connected_components lineage-cut precedent.

    Output (scalar-only): ``(id_col, pick int, rel_ppm long,
    mmr_scaled long)`` — pick = 1..k in selection order; pick 1 has no
    penalty term (mmr_scaled = lam_num·rel_ppm).
    """
    if k < 1 or pool_n < k:
        raise ValueError("mmr_select requires 1 <= k <= pool_n")
    qz = quantize(F.col(vec_col), quant)
    base = df.select(F.col(id_col).alias("id"), qz.alias("__q"))
    qry = query_df.select(
        quantize(F.col(query_df.columns[0]), quant).alias("__qq")
    )
    rel = base.crossJoin(F.broadcast(qry)).select(
        "id", "__q", *_cos_terms(F.col("__q"), F.col("__qq"))
    )
    rel = with_exact_cos_ppm(rel, "__dot_d", "__na_d", "__nb_d", "rel_ppm")
    pool = (
        rel.select("id", "__q", "rel_ppm")
        .orderBy(F.col("rel_ppm").desc(), F.col("id"))
        .limit(pool_n)
        .localCheckpoint(eager=False)
    )
    pa = pool.select(
        F.col("id").alias("id_a"), F.col("__q").alias("__qa")
    )
    pb = pool.select(
        F.col("id").alias("id_b"), F.col("__q").alias("__qb")
    )
    pairs = (
        pa.join(F.broadcast(pb), F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", *_cos_terms(F.col("__qa"), F.col("__qb")))
    )
    pairs = with_exact_cos_ppm(
        pairs, "__dot_d", "__na_d", "__nb_d", "sim_ppm"
    ).select("id_a", "id_b", "sim_ppm").localCheckpoint(eager=False)

    pen = lam_den - lam_num
    sel = (
        pool.orderBy(F.col("rel_ppm").desc(), F.col("id"))
        .limit(1)
        .select(
            "id",
            F.lit(1).cast("int").alias("pick"),
            "rel_ppm",
            (F.lit(lam_num) * F.col("rel_ppm"))
            .cast("long")
            .alias("mmr_scaled"),
        )
    )
    for r in range(2, k + 1):
        chosen = sel.select("id")
        rem = pool.join(chosen, "id", "left_anti")
        ms = (
            pairs.join(
                chosen.withColumnRenamed("id", "id_b"), "id_b"
            )
            .groupBy("id_a")
            .agg(F.max("sim_ppm").alias("__ms"))
            .withColumnRenamed("id_a", "id")
        )
        scored = rem.join(ms, "id").select(
            "id",
            "rel_ppm",
            (
                F.lit(lam_num) * F.col("rel_ppm")
                - F.lit(pen) * F.col("__ms")
            )
            .cast("long")
            .alias("mmr_scaled"),
        )
        pick = (
            scored.orderBy(F.col("mmr_scaled").desc(), F.col("id"))
            .limit(1)
            .select(
                "id",
                F.lit(r).cast("int").alias("pick"),
                "rel_ppm",
                "mmr_scaled",
            )
        )
        sel = sel.unionByName(pick)
    return sel.withColumnRenamed("id", id_col)


def hard_negatives(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    quant: int = 1000,
) -> DataFrame:
    """Hard-negative mining: for each label's deterministic anchor (the
    min-id vector), the ``k`` nearest vectors carrying a DIFFERENT
    label — the contrastive-training staple (the negatives that are
    hard because they sit close in embedding space) and the
    class-confusion diagnostic at the instance level (q_centroid_sim
    measures it at the centroid level).

    Exact-integer similarities (quantized components, corrected-isqrt
    cosine of :func:`with_exact_cos_ppm`), so the mined set is
    engine-reproducible — eval-set mining must be replayable or the
    benchmark itself drifts.

    Scale shape: anchors are a ``min_by`` aggregate (one bounded
    exchange, ≤ |labels| rows) broadcast against ONE corpus scan; the
    per-anchor top-k is a window over the label-filtered expansion
    pruned to k before anything wide moves (the cosine_topk_batch
    shape). Output (scalar-only): ``(q_label, id_col, label, cos_ppm
    long, rank int)``.
    """
    qz = quantize(F.col(vec_col), quant)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__lbl"),
        qz.alias("__q"),
    )
    anchors = base.groupBy(F.col("__lbl").alias("q_label")).agg(
        F.min_by(F.col("__q"), F.col("__id")).alias("__qa")
    )
    paired = (
        base.crossJoin(F.broadcast(anchors))
        .filter(F.col("__lbl") != F.col("q_label"))
        .select(
            "q_label", "__id", "__lbl", *_cos_terms(F.col("__q"), F.col("__qa"))
        )
    )
    scored = with_exact_cos_ppm(
        paired, "__dot_d", "__na_d", "__nb_d", "cos_ppm"
    )
    w = Window.partitionBy("q_label").orderBy(
        F.col("cos_ppm").desc(), F.col("__id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            "q_label",
            F.col("__id").alias(id_col),
            F.col("__lbl").alias(label_col),
            "cos_ppm",
            F.col("__rn").cast("int").alias("rank"),
        )
    )


def knn_classify(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    holdout_mod: int = 10,
    quant: int = 1000,
    max_queries: int = 200,
) -> DataFrame:
    """k-NN label prediction with a deterministic holdout — the
    embedding-quality eval that closes the F3 loop (q_ann_recall
    measures RETRIEVAL quality; this measures whether the geometry
    carries LABEL structure, the signal curation pipelines use to
    decide if an embedding column is good enough to drive semantic
    dedup / clustering / hard-negative mining at all).

    Split is the reproducible-md5-free arithmetic one: rows with
    ``id % holdout_mod == 0`` are query CANDIDATES, the rest the
    reference set (same family as q_training_corpus's hash split —
    deterministic, engine-portable, no RNG); the eval set is the
    ``max_queries`` LOWEST candidate ids (TakeOrderedAndProject — a
    deterministic bounded sample). Each query votes among its ``k``
    nearest reference vectors by the exact corrected-isqrt cosine;
    majority label wins, ties broken by (count desc, label asc) — a
    total order, so the prediction replays anywhere.

    Scale shape: the eval set is BOUNDED (an eval harness measures a
    sample, it does not grow with the corpus — the 10× probe showed
    the unbounded form going 25× because both sides scaled), so the
    pair stage is |corpus|·max_queries with the queries broadcast
    against ONE reference scan (the cosine_topk_batch /
    hard_negatives shape); the vote is a k-bounded per-query
    aggregate after the window prunes to k. Output (scalar-only):
    ``(id_col, label, pred_label, correct int)``.
    """
    qz = quantize(F.col(vec_col), quant)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__lbl"),
        qz.alias("__q"),
    )
    queries = (
        base.filter(F.col("__id") % holdout_mod == 0)
        .orderBy("__id")
        .limit(max_queries)
        .select(
            F.col("__id").alias("__qid"),
            F.col("__lbl").alias("__qlbl"),
            F.col("__q").alias("__qv"),
        )
    )
    train = base.filter(F.col("__id") % holdout_mod != 0)
    paired = train.crossJoin(F.broadcast(queries)).select(
        "__qid",
        "__qlbl",
        "__id",
        "__lbl",
        *_cos_terms(F.col("__q"), F.col("__qv")),
    )
    scored = with_exact_cos_ppm(paired, "__dot_d", "__na_d", "__nb_d", "cos_ppm")
    w = Window.partitionBy("__qid").orderBy(F.col("cos_ppm").desc(), F.col("__id"))
    votes = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy("__qid", "__qlbl", "__lbl")
        .agg(F.count(F.lit(1)).alias("__votes"))
    )
    wv = Window.partitionBy("__qid").orderBy(
        F.col("__votes").desc(), F.col("__lbl").asc()
    )
    return (
        votes.withColumn("__vr", F.row_number().over(wv))
        .filter(F.col("__vr") == 1)
        .select(
            F.col("__qid").alias(id_col),
            F.col("__qlbl").alias(label_col),
            F.col("__lbl").alias("pred_label"),
            F.when(F.col("__qlbl") == F.col("__lbl"), 1)
            .otherwise(0)
            .cast("int")
            .alias("correct"),
        )
    )


def quant_error_eval(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    quant: int = 1000,
) -> DataFrame:
    """int8-quantization fidelity eval — the measured-error harness for
    the storage-side F3 decision (quantize_int8's 4× scan-volume cut is
    only free if the cosine it feeds stays faithful): over the
    deterministic consecutive-id pair sample, the exact-integer cosine
    of the int8 vectors vs the reference quantization's, signed ppm
    error — the q_ann_recall / q_cm_error / q_hll discipline applied to
    the compression knob. Both cosines run through the corrected-isqrt
    integer chain, so the ERROR surface itself is engine-exact even
    though it measures a lossy transform.

    The pair sample joins ``id+1`` — linear in the corpus, no pair
    blowup, and reproducible anywhere (the id-adjacency sample every
    engine agrees on). int8 components come from quantize_int8's
    floor(x·127/max|x|) — floor, not round, so no tie rule crosses
    engines. Output (scalar-only): ``(id_a, id_b, cos_ref_ppm long,
    cos_int8_ppm long, err_ppm long)``.
    """
    ref = quantize(F.col(vec_col), quant)
    i8 = quantize_int8(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        int8_scale(F.transform(F.col(vec_col), lambda x: x.cast("double"))),
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        ref.alias("__r"),
        F.transform(i8, lambda x: x.cast("long")).alias("__q8"),
    )
    b = base.select(
        (F.col("__id") - 1).alias("__ida"),
        F.col("__id").alias("id_b"),
        F.col("__r").alias("__rb"),
        F.col("__q8").alias("__q8b"),
    )
    pairs = base.join(b, F.col("__id") == F.col("__ida")).select(
        F.col("__id").alias("id_a"),
        "id_b",
        "__r",
        "__rb",
        "__q8",
        "__q8b",
    )
    pairs = pairs.select(
        "id_a",
        "id_b",
        *_cos_terms(F.col("__r"), F.col("__rb"), "r"),
        *_cos_terms(F.col("__q8"), F.col("__q8b"), "q"),
    )
    pairs = with_exact_cos_ppm(pairs, "__dot_r", "__na_r", "__nb_r", "cos_ref_ppm")
    pairs = with_exact_cos_ppm(pairs, "__dot_q", "__na_q", "__nb_q", "cos_int8_ppm")
    return pairs.select(
        "id_a",
        "id_b",
        "cos_ref_ppm",
        "cos_int8_ppm",
        (F.col("cos_int8_ppm") - F.col("cos_ref_ppm"))
        .cast("long")
        .alias("err_ppm"),
    )


def _dbscan_close(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    eps_ppm: int,
    target_bucket: int,
    sign_bits: int,
    quant: int,
):
    """(base ids, ε-close directed pairs) for the DBSCAN family —
    adaptive sign-LSH blocked pair generation shared by
    :func:`dbscan_roles` / :func:`dbscan_clusters` /
    :func:`dbscan_hierarchy`.

    Scale bound (round-7 100× probe finding): the adaptive bucket
    bits stop growing at ``sign_bits``, so past
    ``n > target_bucket · 2^sign_bits`` rows (≈ 500k at the 16-bit
    default) average bucket population — and with it candidate-pair
    volume — grows LINEARLY in n again, i.e. the blocked self-join
    drifts quadratic. At that scale raise ``sign_bits`` toward the
    vector dimension (the pattern reads the first ``sign_bits``
    coordinate signs; 64-dim vectors support up to 63 bits). Kept a
    caller knob, not auto-widened: the bucket structure is part of
    each gated query's pinned contract. Separately, DBSCAN's OUTPUT is
    inherently quadratic in duplicate multiplicity — on data where
    every point has k exact twins the ε-graph carries k² edges per
    original pair no matter how the pairs are blocked; fixed-ε density
    clustering at growing scale needs ε tightened to match (see
    SCALE.md round-7)."""
    qz = quantize(F.col(vec_col), quant)
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cnt = df.agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
    base = (
        df.crossJoin(F.broadcast(cnt))
        .withColumn("__bits", _bucket_bits(target_bucket, sign_bits))
        .select(
            F.col(id_col).alias("__id"),
            qz.alias("__q"),
            _sign_pattern(dv, sign_bits).alias("__pat"),
            F.col("__bits"),
        )
        .withColumn(
            "__bkt",
            F.expr("pmod(__pat, shiftleft(CAST(1 AS BIGINT), __bits))"),
        )
        .select("__id", "__q", "__bkt")
    )

    # squared norm per VECTOR (n rows), not per PAIR (≈ n·target_bucket
    # rows, twice): the per-element HOF fold is the pair stage's dominant
    # cost and the norm is a pure function of the row — exact integer sum,
    # so factoring it out of the join is bit-identical (guide §2.3's
    # "project before the exchange" applied to compute).
    base = base.withColumn("__n2", lnorm2(F.col("__q")))
    a = base.select(
        "__bkt",
        F.col("__id").alias("__ida"),
        F.col("__q").alias("__qa"),
        F.col("__n2").alias("__na"),
    )
    b = base.select(
        "__bkt",
        F.col("__id").alias("__idb"),
        F.col("__q").alias("__qb"),
        F.col("__n2").alias("__nb"),
    )
    pairs = (
        a.join(b, "__bkt")
        .filter(F.col("__ida") != F.col("__idb"))
        .select(
            "__ida",
            "__idb",
            ldot(F.col("__qa"), F.col("__qb")).cast(D38).alias("__dot_d"),
            F.col("__na").cast(D38).alias("__na_d"),
            F.col("__nb").cast(D38).alias("__nb_d"),
        )
    )
    # keep the exact-cosine computation OUT of the join condition: the
    # pushed eps filter otherwise drags the whole DECIMAL cos_ppm (incl.
    # the HOF dot and isqrt CASE — a ~9.7 KB condition string) into the
    # bucket join, evaluated per candidate pair by an Interpreted
    # predicate (the embedding_cosine_pairs finding, r12). The
    # both-branches rand() wrapper is bit-identical for every draw and
    # pins cos_ppm to a post-join Project.
    scored = with_exact_cos_ppm(
        pairs, "__dot_d", "__na_d", "__nb_d", "cos_ppm"
    )
    scored = scored.withColumn(
        "cos_ppm",
        F.when(F.rand(11) >= F.lit(0.5), F.col("cos_ppm")).otherwise(
            F.col("cos_ppm")
        ),
    )
    close = scored.filter(F.col("cos_ppm") >= eps_ppm)
    return base, close


def dbscan_roles(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    eps_ppm: int = 900000,
    min_pts: int = 4,
    target_bucket: int = 8,
    sign_bits: int = 16,
    quant: int = 1000,
) -> DataFrame:
    """DBSCAN's density classification over an embedding column —
    every point labeled ``core`` (≥ min_pts neighbors at cosine ≥
    eps_ppm, self included), ``border`` (not core but ε-close to
    one), or ``noise`` — the outlier/cluster-seed triage a curation
    pipeline runs before density-aware sampling (keep cores, review
    noise) and the precursor of full DBSCAN (cores + ε-edges feed the
    existing connected-components operator for cluster ids).

    Neighborhoods are evaluated WITHIN sign-LSH buckets whose bit
    count ADAPTS to the corpus: ``bits = msb(count div
    target_bucket)`` masked over the ``sign_bits``-bit sign pattern
    (the mutual_nn sub-blocking discipline — a FIXED bucket count
    saturates: the 10× probe showed fixed 6 bits going 36× because
    pair work grows N²/2^bits once buckets fill; adaptive bits keep
    expected bucket size ~target_bucket at any corpus). The count →
    bits derivation happens IN-PLAN (one 1-row aggregate broadcast),
    so the whole run replays cross-engine. Cross-bucket ε-pairs are
    missed — the standard LSH recall trade shared with
    ivf_topk/mutual_nn. Similarities are the exact corrected-isqrt
    cosine, so every role decision replays.

    Output (scalar-only): ``(id_col, n_neighbors long, role string)``.
    """
    base, close = _dbscan_close(
        df, id_col, vec_col, eps_ppm, target_bucket, sign_bits, quant
    )
    neigh = close.groupBy(F.col("__ida").alias("__id")).agg(
        F.count(F.lit(1)).cast("long").alias("__n_eps")
    )
    flagged = (
        base.select("__id")
        .join(neigh, "__id", "left")
        .withColumn("__n_eps", F.coalesce(F.col("__n_eps"), F.lit(0)))
        .withColumn(
            "__is_core", (F.col("__n_eps") + 1 >= min_pts).cast("int")
        )
    )
    cores = flagged.filter(F.col("__is_core") == 1).select(
        F.col("__id").alias("__core_id")
    )
    near_core = (
        close.join(cores, close["__idb"] == cores["__core_id"])
        .select(F.col("__ida").alias("__id"))
        .distinct()
        .withColumn("__near_core", F.lit(1))
    )
    return (
        flagged.join(near_core, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            (F.col("__n_eps") + 1).alias("n_neighbors"),
            F.when(F.col("__is_core") == 1, F.lit("core"))
            .when(F.col("__near_core") == 1, F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
        )
    )


def dbscan_clusters(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    eps_ppm: int = 900000,
    min_pts: int = 4,
    target_bucket: int = 8,
    sign_bits: int = 16,
    quant: int = 1000,
    max_iter: int = 20,
) -> DataFrame:
    """Full DBSCAN over an embedding column: :func:`dbscan_roles`'
    density triage COMPLETED to cluster ids — core points connected by
    ε-edges collapse into one cluster (min-id label via the existing
    connected-components operator), borders attach to the smallest
    cluster among their ε-close cores (a total order, so the
    assignment replays), noise stays unclustered (NULL) — the
    density-aware alternative to k-means for curation (no k to pick,
    outliers excluded by construction instead of dragged into the
    nearest centroid).

    Same adaptive sign-LSH blocking and exact-cosine ε-predicate as
    dbscan_roles (shared pair stage, one plan); the CC stage runs on
    the CORE subgraph only — orders of magnitude smaller than the
    corpus — with per-iteration lineage cuts. Output (scalar-only):
    ``(id_col, role string, cluster long — NULL for noise)``.
    """
    base, close = _dbscan_close(
        df, id_col, vec_col, eps_ppm, target_bucket, sign_bits, quant
    )
    return _dbscan_label(base, close, id_col, min_pts, max_iter)


def _dbscan_label(
    base: DataFrame,
    close: DataFrame,
    id_col: str,
    min_pts: int,
    max_iter: int,
) -> DataFrame:
    """Label one density level: (base, ε-close pairs) → (id, role,
    cluster) — the :func:`dbscan_clusters` completion stage, shared
    with :func:`dbscan_hierarchy` so every ladder level runs the
    identical core/CC/border plan.

    The ε-close pair plan is materialized ONCE up front (round 11):
    this stage consumes ``close`` from four different joins
    (neighbor counts, both core-edge sides, border attachment), and
    without the lineage cut each re-evaluated the full LSH-blocking +
    exact-cosine pair stage — ~5 recomputes that made the sf0.1
    bench read 30 s for a 4.5 k-pair graph. The pair set is already
    the SMALL side (O(ε-neighbourhoods), not O(corpus)); at 100 TB
    use a reliable checkpoint dir, same note as
    :func:`~salesforce_plugin_spark.functions.dedup.connected_components`."""
    from salesforce_plugin_spark.functions.dedup import connected_components

    close = close.localCheckpoint(eager=False)
    neigh = close.groupBy(F.col("__ida").alias("__id")).agg(
        F.count(F.lit(1)).cast("long").alias("__n_eps")
    )
    flagged = (
        base.select("__id")
        .join(neigh, "__id", "left")
        .withColumn("__n_eps", F.coalesce(F.col("__n_eps"), F.lit(0)))
        .withColumn(
            "__is_core", (F.col("__n_eps") + 1 >= min_pts).cast("int")
        )
        # one row per vector, consumed by the core filter AND the
        # final labeling join — cut here too or `base`'s scan+quantize
        # plan re-runs for each (same round-11 note as `close` above)
        .localCheckpoint(eager=False)
    )
    cores = flagged.filter(F.col("__is_core") == 1).select("__id")
    core_edges = (
        close.join(
            cores.withColumnRenamed("__id", "__ca"),
            close["__ida"] == F.col("__ca"),
        )
        .join(
            cores.withColumnRenamed("__id", "__cb"),
            close["__idb"] == F.col("__cb"),
        )
        .select(F.col("__ida").alias("id_a"), F.col("__idb").alias("id_b"))
    )
    cc = connected_components(
        cores.select(F.col("__id").alias("id")),
        core_edges,
        id_col="id",
        max_iter=max_iter,
    ).select(
        F.col("id").alias("__core_id"),
        F.col("component_id").alias("__cluster"),
    )
    border_attach = (
        close.join(cc, close["__idb"] == F.col("__core_id"))
        .groupBy(F.col("__ida").alias("__id"))
        .agg(F.min("__cluster").alias("__border_cluster"))
    )
    return (
        flagged.join(cc, flagged["__id"] == F.col("__core_id"), "left")
        .drop("__core_id")
        .join(border_attach, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.when(F.col("__is_core") == 1, F.lit("core"))
            .when(F.col("__border_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.when(F.col("__is_core") == 1, F.col("__cluster"))
            .otherwise(F.col("__border_cluster"))
            .cast("long")
            .alias("cluster"),
        )
    )


def dbscan_hierarchy(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    eps_ladder_ppm: list[int],
    min_pts: int = 4,
    target_bucket: int = 8,
    sign_bits: int = 16,
    quant: int = 1000,
    max_iter: int = 20,
) -> DataFrame:
    """HDBSCAN-style density hierarchy over the DBSCAN core graph: the
    dendrogram sampled at a pinned ε ladder (cos_ppm thresholds,
    tightest first) instead of HDBSCAN's continuous one — every level
    is an exact DBSCAN labeling, and because loosening ε only ADDS
    ε-edges and core flags (degree is monotone in ε), level-k core
    clusters strictly refine level-k+1 clusters: the per-level labels
    ARE a tree, read out flat. The continuous-λ part of HDBSCAN
    (Campello/Moulavi/Sander 2013) needs per-point core distances and
    an MST — not oracle-replayable in exact integers; the ladder form
    keeps the bit-exact differential gate while giving curation the
    decision that matters (which tight clusters merge at looser
    density, and what stops being noise).

    One pair-generation stage: ε-close pairs are computed ONCE at the
    loosest threshold (lineage-cut with a lazy localCheckpoint, so the
    L level labelings reuse the materialized pairs instead of
    recomputing the blocked self-join), then each level filters
    ``cos_ppm >= eps_l`` and runs the shared core/CC/border plan on
    its shrinking subgraph.

    Output (long format, scalar-only): ``(id_col, level int,
    eps_ppm int, role string, cluster long — NULL for noise)``;
    level 0 is the tightest ε.
    """
    ladder = sorted({int(e) for e in eps_ladder_ppm}, reverse=True)
    if not ladder:
        raise ValueError("dbscan_hierarchy requires a non-empty eps ladder")
    base, close = _dbscan_close(
        df, id_col, vec_col, ladder[-1], target_bucket, sign_bits, quant
    )
    close = close.localCheckpoint(eager=False)
    out = None
    for lvl, eps in enumerate(ladder):
        lab = _dbscan_label(
            base,
            close.filter(F.col("cos_ppm") >= eps),
            id_col,
            min_pts,
            max_iter,
        ).select(
            F.col(id_col),
            F.lit(lvl).cast("int").alias("level"),
            F.lit(eps).cast("int").alias("eps_ppm"),
            "role",
            "cluster",
        )
        out = lab if out is None else out.unionByName(lab)
    return out


def dbscan_tree(
    labels: DataFrame,
    id_col: str,
) -> DataFrame:
    """The condensed merge tree from :func:`dbscan_hierarchy`'s long
    labels: for each consecutive level pair, which level-k CORE
    cluster feeds which level-k+1 cluster, with member counts — the
    HDBSCAN condensed-tree read-out at ladder resolution (a child
    cluster splitting across parents is impossible by the refinement
    property, so each output row is a tree edge; ``n_members`` is the
    child's core population carried into the parent — the branch
    stability mass). Core-only on the child side: borders/noise can
    legitimately re-attach anywhere as ε loosens and are not part of
    the dendrogram.

    Output: ``(level int, child_cluster long, parent_cluster long,
    n_members long)`` — ``level`` is the CHILD's level.
    """
    child = labels.filter(F.col("role") == "core").select(
        F.col(id_col).alias("__id"),
        F.col("level").alias("__lc"),
        F.col("cluster").alias("child_cluster"),
    )
    parent = labels.select(
        F.col(id_col).alias("__id"),
        (F.col("level") - 1).alias("__lc"),
        F.col("cluster").alias("parent_cluster"),
    )
    return (
        child.join(parent, ["__id", "__lc"])
        .groupBy(
            F.col("__lc").cast("int").alias("level"),
            "child_cluster",
            "parent_cluster",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    )


def ndcg_discounts(k: int = 10, quant: int = 10**6) -> list[int]:
    """Pinned integer log2 discount table for NDCG@k:
    ``disc_r = round(quant / log2(r + 1))`` for ranks 1..k, computed
    HERE once in Python (public math, driver-side constants) so neither
    engine ever evaluates a transcendental inside the gated plan — the
    same pinned-constant discipline as the Wilson z and abtest
    thresholds. Rank is bounded by k, so the table is a k-entry literal
    lookup in both engines."""
    import math

    return [round(quant / math.log2(r + 1)) for r in range(1, k + 1)]


def ann_ndcg(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    seeds_df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """Graded ranking quality of the deterministic IVF search: NDCG@k
    per query against exact brute force, in exact integers end to end.
    Relevance is position-graded from the exact list (the true rank-r
    neighbor has rel = k+1-r; results outside the true top-k get 0) —
    the standard self-supervised grading when no human labels exist, and
    a STRICTER signal than recall@k (:func:`ann_recall`): recall counts
    a hit at ANN rank 10 the same as rank 1, NDCG discounts it.

    Exact arithmetic: gain ``2^rel − 1`` (BIGINT shift, rel ≤ k),
    discount from the pinned :func:`ndcg_discounts` table (a k-entry
    literal array lookup — no logs in-plan), DCG/IDCG as BIGINT sums
    (≤ k·quant·2^k ≈ 10^10 at the defaults), and the final
    ``ndcg_ppm = 10^6·DCG div IDCG``. Both ranked lists come from
    :func:`ivf_eval_lists` under rounded-cosine total orders, so the
    whole evaluation replays cross-engine.

    Output (scalar-only): ``(q_id, dcg long, idcg long, ndcg_ppm
    long)``; a query whose probed lists return nothing surfaces dcg 0.

    k is capped at 36: the per-rank term is (2^rel − 1)·disc with
    disc ≤ 10⁶, so the BIGINT DCG sum stays exact only while
    k·2^k·10⁶ < 2^63 — beyond k=36 the shiftleft·discount products
    overflow int64: silently with ANSI off, as a job-killing
    ArithmeticException under Spark 4's default ANSI mode (the
    exactmath.py overflow model), so the bound is enforced loudly
    here instead of either failure mode.
    """
    if not 1 <= k <= 36:
        raise ValueError(
            f"ann_ndcg: k={k} outside [1, 36] — the exact BIGINT DCG "
            "accumulation (gain 2^rel with rel <= k, ppm discounts) "
            "overflows silently past k=36"
        )
    exact, ann = ivf_eval_lists(
        df, id_col, vec_col, seeds_df, query_df, k=k, nprobe=nprobe
    )
    disc = F.array(*[F.lit(d).cast("long") for d in ndcg_discounts(k)])
    rel = (
        ann.join(
            exact.withColumnRenamed("exact_rank", "__xr"),
            ["q_id", id_col],
            "left",
        )
        .select(
            "q_id",
            "ann_rank",
            F.coalesce(
                F.lit(k + 1).cast("int") - F.col("__xr"), F.lit(0)
            ).alias("rel"),
        )
    )
    dcg = rel.groupBy("q_id").agg(
        F.sum(
            (F.expr("shiftleft(CAST(1 AS BIGINT), rel)") - 1)
            * F.element_at(disc, F.col("ann_rank"))
        )
        .cast("long")
        .alias("dcg")
    )
    idcg = exact.groupBy("q_id").agg(
        F.sum(
            (
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), {k + 1} - exact_rank)"
                )
                - 1
            )
            * F.element_at(disc, F.col("exact_rank"))
        )
        .cast("long")
        .alias("idcg")
    )
    return (
        idcg.join(dcg, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("dcg"), F.lit(0).cast("long")).alias("dcg"),
            "idcg",
            F.expr("coalesce(dcg, 0) * 1000000 div idcg")
            .cast("long")
            .alias("ndcg_ppm"),
        )
    )


def pca_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    v0: DataFrame,
    iterations: int = 2,
    quant: int = 1000,
) -> DataFrame:
    """Principal-direction projection + residual: run the deterministic
    integer power iteration (:func:`gram_power_iterations`), renormalize
    its final image into the principal direction p (the same sign-safe
    floor division), then give every vector its component along p and
    its off-axis mass — the spectral outlier/denoising signal (a vector
    whose variance is NOT along the corpus's dominant axis is the
    curation candidate). Exact end to end: proj = ⟨xq, p⟩ in BIGINT,
    and the residual is kept in the CROSS-MULTIPLIED Cauchy-Schwarz
    form ``res_num = |x|²·|p|² − ⟨x,p⟩²`` (≥ 0, zero iff x ∥ p) in
    DECIMAL(38,0) — no division or square root, so no engine can
    disagree at the boundary (the zscore/wilson discipline).

    Shape: the iteration's dims-bounded exchanges, then ONE corpus scan
    with p broadcast — projection adds no shuffle.

    Output (scalar-only): ``(id, proj long, res_num long)``.
    """
    g = gram_power_iterations(df, id_col, vec_col, v0, iterations, quant)
    gmax = g.agg(F.max(F.abs(F.col("gv"))).alias("__gmax"))
    p = (
        g.crossJoin(F.broadcast(gmax))
        .select(
            "dim",
            (
                F.when(F.col("gv") < 0, F.lit(-1)).otherwise(F.lit(1))
                * F.expr(f"(abs(gv) * {quant}) div __gmax")
            ).alias("__p"),
        )
    )
    parr = p.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "__p"))),
            lambda s: s["__p"],
        ).alias("__parr")
    )
    xq = quantize(as_double(F.col(vec_col)), quant)
    return (
        df.crossJoin(F.broadcast(parr))
        .select(
            F.col(id_col),
            ldot(xq, F.col("__parr")).alias("__dot"),
            lnorm2(xq).alias("__x2"),
            lnorm2(F.col("__parr")).alias("__p2"),
        )
        .select(
            id_col,
            F.col("__dot").alias("proj"),
            F.expr(
                "CAST(CAST(__x2 AS DECIMAL(38,0)) * CAST(__p2 AS DECIMAL(38,0))"
                " - CAST(__dot AS DECIMAL(38,0)) * CAST(__dot AS DECIMAL(38,0))"
                " AS BIGINT)"
            ).alias("res_num"),
        )
    )
