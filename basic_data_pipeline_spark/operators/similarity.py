"""Similarity search over embedding columns (SURVEY.md §2.11): exact
cosine top-k (baseline) and LSH-bucketed ANN (scale path).

Absent from the reference; built on `array<float>` columns with pure
built-in expressions — `zip_with` for the elementwise product,
`aggregate` for the fold, both inside whole-stage codegen. No Python in
the distance hot path (a Pandas-UDF variant was benchmarked and loses at
this dimensionality: Arrow transfer dominates a 64-dim dot product).

Scale notes (100 TB / billions of vectors):
- brute force is O(n_queries × n_corpus); it exists as the correctness
  baseline and for small query sets against blocked partitions;
- blocking (label/IVF-coarse-cell) turns the cross join into an equi-join
  on the block key — the shuffle partitions by block, each block computes
  independently;
- random-hyperplane LSH reduces the candidate set further: bucket =
  sign-bit string of `n_planes` fixed hyperplanes; vectors sharing a
  bucket are candidates. Hyperplane components are ±1 derived from md5,
  so buckets are deterministic and replayable. Recall tunes with
  n_planes (fewer planes → bigger buckets → higher recall, more work).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from basic_data_pipeline_spark.caching import tracked_persist
from basic_data_pipeline_spark.partitioning import spread


def as_double_array(c: Column) -> Column:
    """array<float> → array<double> so all distance math accumulates in
    double on both Spark and the oracle."""
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — deterministic accumulation order, so
    results are bit-identical across engines and runs."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def topk_neighbors(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    block_col: str | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank): k nearest corpus vectors per query
    by cosine, self-matches excluded, ties broken by neighbor id.

    With `block_col` the pair space is an equi-join on the block key
    (IVF-style coarse quantization — here the fixture's `label`); without
    it, a broadcast cross join (only sane for small query sets — the
    brute-force baseline)."""
    # Norms are projected BEFORE the join — one fold per input vector,
    # not one per pair; the per-pair cost is a single dot fold. Same
    # floating-point ops as cosine(q, c), so oracle-identical values.
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        as_double_array(F.col("embedding")).alias("qv"),
        *([F.col(block_col).alias("qb")] if block_col else []),
    ).withColumn("qn", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double_array(F.col("embedding")).alias("cv"),
        *([F.col(block_col).alias("cb")] if block_col else []),
    ).withColumn("cn", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    # Distance evaluation is the hot loop: spread the probe side across
    # the cluster before the join — a small/broadcast build side would
    # otherwise leave the fold running on however few partitions the scan
    # produced.
    if block_col:
        pairs = q.join(spread(c, "cb"), F.col("qb") == F.col("cb"))
    else:
        pairs = F.broadcast(q).crossJoin(spread(c, "neighbor_id"))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def cosine_pairs(
    vectors: DataFrame, block_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, cos) embedding near-dup pairs within a block whose
    cosine ≥ threshold — the embedding-space analog of n-gram Jaccard
    dedup. Blocking keeps the join quadratic only per block."""
    a = spread(vectors, block_col).select(
        F.col(block_col).alias("blk"),
        F.col("vec_id").alias("id_a"),
        as_double_array(F.col("embedding")).alias("va"),
    ).withColumn("na", F.sqrt(dot(F.col("va"), F.col("va"))))
    b = vectors.select(
        F.col(block_col).alias("blk"),
        F.col("vec_id").alias("id_b"),
        as_double_array(F.col("embedding")).alias("vb"),
    ).withColumn("nb", F.sqrt(dot(F.col("vb"), F.col("vb"))))
    return (
        a.join(b, on="blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (sign-bit buckets)
# ---------------------------------------------------------------------------


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane components from md5(plane:dim) parity —
    reproducible across runs/machines with no RNG state."""
    return [
        1.0 if hashlib.md5(f"{plane}:{d}".encode()).digest()[0] % 2 else -1.0
        for d in range(dim)
    ]


def lsh_bucket(
    emb: Column,
    dim: int,
    n_planes: int = 8,
    table: int = 0,
    emb_is_double: bool = False,
) -> Column:
    """Sign-bit bucket string ('10110010') of the embedding against
    n_planes fixed ±1 hyperplanes (a distinct plane family per hash
    table). Pure expression — the hyperplanes are compile-time literal
    arrays, the dots are codegen'd folds. Pass ``emb_is_double=True``
    when the caller already cast to array<double> — each transform-cast
    is a per-element loop, so skipping it saves n_planes loops per
    call."""
    v = emb if emb_is_double else as_double_array(emb)
    bits = []
    for p in range(n_planes):
        plane = F.array([F.lit(x) for x in _hyperplane(table * 1000 + p, dim)])
        bits.append(F.when(dot(v, plane) >= 0, "1").otherwise("0"))
    return F.concat(*bits)


def auto_n_planes(n_vectors: int, target_bucket: int = 94, floor: int = 4) -> int:
    """Bucket-resolution rule for hyperplane LSH: enough planes that the
    AVERAGE bucket holds ~``target_bucket`` vectors, never fewer than
    ``floor``. Integer arithmetic (bit_length, no float log) so the same
    n always yields the same resolution on every engine/platform.

    Why this must scale with n: at FIXED resolution the per-bucket
    occupancy grows ∝ n, and the candidate pair space Σ|b|² grows ∝ n² —
    the classic silent quadratic. Holding occupancy constant keeps the
    pair space ∝ n (each extra plane halves buckets' occupancy), which is
    what makes multi-table LSH linear-ish at 100 TB. Recall per table
    drops as planes grow; n_tables is the recall knob (cost ∝ tables,
    recall ≈ 1-(1-r₁)^L)."""
    return max(floor, (n_vectors // target_bucket).bit_length())


def ann_topk_lsh(
    vectors: DataFrame,
    dim: int,
    k: int,
    n_planes: int | None = 4,
    n_tables: int = 8,
    max_bucket_df: int | None = None,
    broadcast_vectors: bool | None = None,
    broadcast_vectors_max_bytes: int = 512 << 20,
    rerank_factor: int = 4,
) -> DataFrame:
    """(query_id, neighbor_id, rank, cos): approximate top-k via
    MULTI-TABLE random-hyperplane LSH — candidates are the union over
    n_tables independent bucketings of same-bucket pairs, deduplicated
    BEFORE the (expensive) distance evaluation.

    Recall ≈ 1 − (1 − r₁)^L for single-table recall r₁ — the standard
    way to buy recall without growing any single bucket. Plan shape: one
    explode (×n_tables) → self-equi-join on (table, bucket) → distinct
    pair set → join vectors back → fold cosine → windowed top-k. The
    pair space is Σ_buckets |b|², never n²; tables add linearly, not
    quadratically. Recall floor asserted in tests/test_llm_ops.py.

    ``n_planes=None`` → `auto_n_planes`: resolution grows with the
    corpus so bucket occupancy (hence the pair space per vector) stays
    constant as n grows — the count is one cheap extra job.

    ``max_bucket_df``: drop (table, bucket) cells holding more than
    this many vectors from candidate generation. Plane resolution can
    only split vectors that DIFFER: a corpus with heavy exact-duplicate
    embeddings (duplicate docs before dedup, the unperturbed probe
    replica) puts every copy in the same cell of every table, and the
    per-cell pair space grows ∝ dup_count² no matter how many planes
    auto-resolution adds (r8-close sim_ann_lsh 256× finding; the image
    pipeline's max_band_df is the same cut). The cap bounds Σ|b|²
    without touching honest cells — size it well above the target
    occupancy (e.g. 10× auto_n_planes' 94); the principled upstream fix
    is exact-deduping identical vectors first.

    ``broadcast_vectors``: attach vectors to candidate pairs by
    BROADCAST instead of shuffle join. The pair set is narrow (two
    ids), but a shuffled vector-attach join widens every pair row by
    two dim-double arrays — at the 256× probe tier (512 k vectors,
    ~10⁸ 8-table candidates) that is a several-hundred-GB shuffle that
    filled the probe machine's disk (r8-close finding), while the
    vector table itself is only ~0.3 GB. Default (None) auto-broadcasts
    when the estimated table size fits ``broadcast_vectors_max_bytes``
    (what a healthy executor comfortably holds once; the 512 MB default
    exists because the 256× tier's 512 k×64-double table estimates at
    283 MB — a 256 MB cut re-ran the wide shuffle join and refilled the
    disk, the exact failure the knob prevents); pairs then stay
    ~24 B each end to end.

    BEYOND the broadcast ceiling (broadcast_vectors False, by auto-cut
    or forced), the r8 design — "the wide shuffle join stands" — is
    retired (r8 verdict item #1: it dies on disk, the exact 256× honest
    failure `broadcast_vectors` was added for). The width-safe path:

    1. **SQ8 code attach**: fit the per-dimension 8-bit quantizer
       (embeddings.sq8_fit — a dim-row model), attach CODES to the
       candidate pairs instead of raw double arrays. Codes broadcast
       when the code table fits the same byte ceiling (raising the
       effective ceiling ~4×); past that they shuffle-attach at ~4×
       less width than raw — and the honest answer at billions of
       vectors remains the IVF-PQ path, whose codes are 32× smaller.
    2. **Shortlist**: top ``k·rerank_factor`` per query by
       reconstructed-cosine (decode is arithmetic on the broadcast
       1-row scale arrays; SQ8's per-coordinate error is bounded by
       (hi-lo)/510, so the true top-k virtually never falls outside a
       4× shortlist).
    3. **Exact rerank**: attach RAW vectors only to the shortlist —
       n·k·rerank_factor rows, linear in n and k-bounded, never
       candidate-bounded — and window the final top-k on exact cosine.
       The arrays are projected away before the top-k window, so no
       exchange anywhere carries two raw vectors on a pair row
       (plan-asserted in tests/test_ann_width.py)."""

    n_vec = None
    if n_planes is None:
        n_vec = vectors.count()
        n_planes = auto_n_planes(n_vec)
    if broadcast_vectors is None:
        if n_vec is None:
            n_vec = vectors.count()
        # rough per-row footprint: dim doubles + norm + id + overhead
        broadcast_vectors = (
            n_vec * (dim * 8 + 40) <= broadcast_vectors_max_bytes
        )
    # persisted: both self-join sides read it, and the n_tables×n_planes
    # hyperplane folds are the expensive part of bucketing. The array
    # cast happens ONCE per row (aliased column) instead of once per
    # plane fold — n_tables×n_planes casts saved per vector.
    buckets = (
        spread(vectors, "vec_id")
        .select(
            F.col("vec_id"),
            as_double_array(F.col("embedding")).alias("_v"),
        )
        .select(
            F.col("vec_id"),
            F.posexplode(
                F.array(
                    *[
                        lsh_bucket(
                            F.col("_v"), dim, n_planes, t, emb_is_double=True
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("t", "bucket"),
        )
    )
    buckets = tracked_persist(buckets)
    if max_bucket_df is not None:
        # candidate-side cut only: overfull cells (exact-duplicate
        # pile-ups resolution cannot split) leave the pair join; one
        # map-side-partial count over the persisted buckets
        cell_ok = (
            buckets.groupBy("t", "bucket")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_bucket_df)
            .select("t", "bucket")
        )
        buckets = buckets.join(cell_ok, ["t", "bucket"])
    cand = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.t") == F.col("b.t")) & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
        )
        .distinct()
    )
    # Norms precomputed ONCE per vector (persisted): the per-pair work
    # drops to a single dot fold + one divide — 3× fewer folds than a
    # naive cosine(q, c) per candidate pair.
    vecs = (
        vectors.select(
            F.col("vec_id"), as_double_array(F.col("embedding")).alias("v")
        )
        .withColumn("norm", F.sqrt(dot(F.col("v"), F.col("v"))))
    )
    vecs = tracked_persist(vecs)
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    # spread by query_id: the cosine folds run at cluster parallelism and
    # the top-k window reuses the same hash partitioning
    cand = spread(cand, "query_id")
    qside = vecs.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
    )
    nside = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cn"),
    )
    if broadcast_vectors:
        return (
            cand.join(F.broadcast(qside), "query_id")
            .join(F.broadcast(nside), "neighbor_id")
            .withColumn(
                "cos",
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cos")
        )
    # ---- width-safe path (raw table beyond the broadcast ceiling) ----
    # SQ8 code attach -> k·rerank_factor shortlist -> exact rerank; no
    # exchange ever carries two raw vectors on a pair row (docstring §).
    from basic_data_pipeline_spark.operators import embeddings as E

    if rerank_factor < 1:
        raise ValueError(f"rerank_factor must be >= 1: {rerank_factor}")
    model = E.sq8_fit(vecs, vec_col="v")
    coded = E.sq8_decode(
        E.sq8_encode(vecs, model, vec_col="v", code_col="_codes"),
        model,
        code_col="_codes",
        out_col="_xhat",
    ).select(
        "vec_id",
        "_codes",
        # reconstructed norm folded ONCE per vector — the per-pair work
        # below is one decode-dot fold, not decode + two norm folds
        F.sqrt(dot(F.col("_xhat"), F.col("_xhat"))).alias("_nhat"),
    )
    qc = coded.select(
        F.col("vec_id").alias("query_id"),
        F.col("_codes").alias("_qc"),
        F.col("_nhat").alias("_qn"),
    )
    nc = coded.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("_codes").alias("_cc"),
        F.col("_nhat").alias("_cn"),
    )
    if n_vec is None:
        n_vec = vectors.count()
    # codes are ~4x narrower than raw doubles: broadcast them under the
    # same byte ceiling (raising the effective ceiling ~4x); past that
    # they shuffle-attach — still 4x less width than the r8 failure mode
    if n_vec * (2 * dim + 48) <= broadcast_vectors_max_bytes:
        qc, nc = F.broadcast(qc), F.broadcast(nc)

    def _rec(code_col: str) -> Column:
        # lo_d + code * scale_d against the broadcast 1-row scale arrays
        return F.transform(
            F.col(code_col),
            lambda c, d: E._sq8_scale(d)[0]
            + c.cast("double") * E._sq8_scale(d)[1],
        )

    shortlist = (
        cand.join(qc, "query_id")
        .join(nc, "neighbor_id")
        .crossJoin(F.broadcast(E._sq8_arrays(model)))
        .withColumn(
            "_acos",
            dot(_rec("_qc"), _rec("_cc")) / (F.col("_qn") * F.col("_cn")),
        )
        .withColumn(
            "_ar",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.desc("_acos"), F.asc("neighbor_id")
                )
            ),
        )
        .filter(F.col("_ar") <= k * rerank_factor)
        .select("query_id", "neighbor_id")
    )
    return (
        shortlist.join(qside, "query_id")
        .join(nside, "neighbor_id")
        .withColumn(
            "cos",
            dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
        )
        # arrays projected away BEFORE the top-k window's exchange
        .select("query_id", "neighbor_id", "cos")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) search: learned coarse cells instead of given labels
# ---------------------------------------------------------------------------


def centroids(vectors: DataFrame, by: str, dim: int) -> DataFrame:
    """(by, centroid array<double>): per-group mean vector via posexplode →
    per-dimension aggregation → re-assembly in position order. The shuffle
    carries (group, dim) partial sums — n_groups × dim rows regardless of
    input size; this is the k-means "update" step / IVF coarse-quantizer
    training on given assignments."""
    exploded = spread(vectors, by).select(
        F.col(by),
        F.posexplode(as_double_array(F.col("embedding"))).alias("pos", "x"),
    )
    per_dim = exploded.groupBy(by, "pos").agg(
        F.sum("x").alias("s"), F.count("*").alias("n")
    )
    return (
        per_dim.withColumn("m", F.col("s") / F.col("n"))
        .groupBy(by)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))), p -> p.m)"
            ).alias("centroid")
        )
    )


# Above this many cells, flat assignment's n_vectors × n_cells scoring
# dominates (with the production nlist ∝ n sizing it is Θ(n²/cell_size)
# — MEASURED going super-linear at the 64× probe, SCALING.md round 7)
# and auto-dispatch switches to the two-level hierarchical assignment.
# Below it, flat is exact and its broadcast scoring is cheap enough.
# Calibration (SCALING.md round-7 micro-probe, 128k vectors): at 2560
# cells flat=324s vs hier=20s — a 16× win; hier's fixed setup (~3
# control-plane jobs over the centroid table) only pays for itself once
# the per-vector comparison saving is real, so the floor sits at 1024.
HIER_ASSIGN_THRESHOLD = 1024


def ivf_assign(
    vectors: DataFrame,
    cents: DataFrame,
    dim: int,
    nprobe: int = 1,
    hier: bool | None = None,
    super_probes: int = 2,
) -> DataFrame:
    """(vec_id, embedding, cell, probe): each vector's `nprobe` nearest
    centroids by cosine, probe = 1..nprobe in similarity order — the IVF
    coarse quantization. probe=1 is the storage assignment (each vector
    lives in exactly one inverted list); probe>1 rows exist only for the
    query side of a search.

    ``hier=None`` (default) auto-dispatches: the centroid frame is
    persisted and counted (control-plane cost — n_cells rows) and the
    hierarchical path engages above HIER_ASSIGN_THRESHOLD cells. Every
    IVF entry point therefore gets the scale path with no signature
    change, and every oracle-scale call (hundreds of cells) keeps the
    exact flat plan.

    ``hier=False``: flat and EXACT — centroids broadcast (n_cells
    rows), every vector scored against every centroid; one pass, no
    shuffle of the vector side. Cost n·n_cells·dim: right whenever
    n_cells is modest, quadratic when nlist ∝ n (the production cell
    sizing).

    ``hier=True``: two-level coarse quantization (the FAISS-style scale
    path). ~√n_cells SUPER-centroids are trained over the centroid
    table itself (control-plane sized: one hash-block seed + one Lloyd
    step, all over n_cells rows); each vector scores the supers
    (n·√n_cells), keeps its ``super_probes`` nearest, and scores only
    those supers' member cells (n·super_probes·√n_cells expected) —
    total Θ(n·√n_cells) instead of Θ(n·n_cells). APPROXIMATE: a
    vector's true nearest cell can live in an unprobed super (recall
    lever: super_probes); every IVF consumer already treats cell
    assignment as approximate. The cell-candidate join keys on the
    super id, so AQE may shuffle both sides when the centroid table
    outgrows broadcast — nothing here requires the centroids to fit on
    one executor."""
    # Output carries only (vec_id, embedding, cell, probe); project the
    # input down NOW so caller columns can't collide with the internal
    # join keys (a caller's own `cell`/`blk` would otherwise be ambiguous)
    vectors = vectors.select("vec_id", "embedding")
    c = cents.select(F.col(cents.columns[0]).alias("cell"), F.col("centroid"))
    n_cells: int | None = None
    if hier is None:
        c = tracked_persist(c)
        n_cells = c.count()
        hier = n_cells > HIER_ASSIGN_THRESHOLD
    if not hier:
        scored = spread(vectors, "vec_id").crossJoin(F.broadcast(c)).withColumn(
            "sim",
            cosine(as_double_array(F.col("embedding")), F.col("centroid")),
        )
        w = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))
        return (
            scored.withColumn("probe", F.row_number().over(w))
            .filter(F.col("probe") <= nprobe)
            .select("vec_id", "embedding", "cell", "probe")
        )

    import math

    if n_cells is None:
        c = tracked_persist(c)
        n_cells = c.count()
    n_super = max(2, math.isqrt(n_cells))
    # super-centroid training, entirely over the n_cells-row table:
    # hash-block seed → mean → one Lloyd step (re-assign + re-mean)
    cent_vecs = c.select(
        F.col("cell").alias("vec_id"), F.col("centroid").alias("embedding")
    )
    seed = centroids(
        cent_vecs.withColumn(
            "blk", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_super))
        ),
        "blk",
        dim,
    )
    refit = centroids(
        ivf_assign(cent_vecs, seed.select(F.col("blk"), "centroid"), dim,
                   hier=False)
        .select(F.col("cell").alias("blk"), "vec_id", "embedding"),
        "blk",
        dim,
    )
    sup = tracked_persist(refit.select(F.col("blk"), "centroid"))
    # final cell → super map under the refit supers
    cmap = (
        ivf_assign(cent_vecs, sup, dim, hier=False)
        .select(F.col("vec_id").alias("cell"), F.col("cell").alias("blk"))
        .join(c, "cell")
        .select("blk", "cell", "centroid")
    )
    cmap = tracked_persist(cmap)
    cmap.count()  # pin the map before the big-side jobs reuse it

    # level 1: every vector scores the ~√n_cells supers (broadcast).
    # Probe only supers that OWN member cells in cmap — a refit super
    # can lose all its members to neighbors in skewed geometries, and a
    # vector whose every probed super were member-less would otherwise
    # get NO cell assignment at all (silently dropped from the index);
    # the restriction guarantees ≥1 candidate cell per probed super.
    sup_live = cmap.select("blk").distinct().join(sup, "blk")
    sup_b = F.broadcast(
        sup_live.select(F.col("blk"), F.col("centroid").alias("_sc"))
    )
    w_sup = W.partitionBy("vec_id").orderBy(F.desc("_ssim"), F.asc("blk"))
    vsup = (
        spread(vectors, "vec_id")
        .crossJoin(sup_b)
        .withColumn(
            "_ssim",
            cosine(as_double_array(F.col("embedding")), F.col("_sc")),
        )
        .withColumn("_sp", F.row_number().over(w_sup))
        .filter(F.col("_sp") <= super_probes)
        .select("vec_id", "embedding", "blk")
    )
    # level 2: score only the probed supers' member cells
    w_cell = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))
    return (
        vsup.join(cmap, "blk")
        .withColumn(
            "sim",
            cosine(as_double_array(F.col("embedding")), F.col("centroid")),
        )
        .withColumn("probe", F.row_number().over(w_cell))
        .filter(F.col("probe") <= nprobe)
        .select("vec_id", "embedding", "cell", "probe")
    )


def kmeans_refine(
    vectors: DataFrame, cents: DataFrame, dim: int, iters: int
) -> DataFrame:
    """Lloyd's algorithm on seeded centroids: re-assign every vector to
    its nearest centroid (broadcast, narrow), then recompute per-cell
    means ((cell, dim) partial shuffle — n_cells × dim rows regardless of
    input size). Deterministic end to end: no random init (the seed
    centroids come from a grouping column or a hash split), ties broken
    by cell id. Each iteration is one bounded shuffle, so `iters`
    iterations over 100 TB cost iters × (one scan + one tiny shuffle) —
    the standard IVF coarse-quantizer training loop."""
    for _ in range(iters):
        assigned = ivf_assign(vectors, cents, dim).select(
            "vec_id", "embedding", "cell"
        )
        cents = centroids(assigned, "cell", dim)
    return cents


def ivf_topk(
    vectors: DataFrame,
    dim: int,
    k: int,
    train_by: str = "label",
    nprobe: int = 2,
    train_iters: int = 0,
) -> DataFrame:
    """(query_id, neighbor_id, rank): approximate top-k where the blocking
    key is a LEARNED coarse cell (centroids trained on `train_by` groups,
    every vector re-assigned to its nearest centroid) — real IVF.

    `nprobe` is the standard recall lever: the DATA side keeps exactly one
    cell per vector (probe=1 inverted list), the QUERY side fans out to
    its `nprobe` nearest cells, and the candidate join stays an equi-join
    on cell — cost grows linearly in nprobe, never quadratically. A
    (query, neighbor) pair cannot duplicate across probes because the
    neighbor lives in exactly one cell. `train_iters` runs Lloyd
    iterations on the seeded centroids (kmeans_refine) so cells fit the
    data instead of the seed grouping. Recall vs brute force (and its
    monotonicity in nprobe) asserted in tests/test_llm_ops.py."""
    cents = centroids(vectors, train_by, dim)
    if train_iters:
        cents = kmeans_refine(vectors, cents, dim, train_iters)
    assigned = tracked_persist(ivf_assign(vectors, cents, dim, nprobe=nprobe))
    q = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("query_id"),
        as_double_array(F.col("embedding")).alias("qv"),
    ).withColumn("qn", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    c = (
        assigned.filter(F.col("probe") == 1)
        .select(
            F.col("cell"),
            F.col("vec_id").alias("neighbor_id"),
            as_double_array(F.col("embedding")).alias("cv"),
        )
        .withColumn("cn", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        q.join(c, on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---------------------------------------------------------------------------
# Persisted IVF index: build once, add increments, search without re-train
# ---------------------------------------------------------------------------


def ivf_build_index(
    vectors: DataFrame,
    index_path: str,
    dim: int,
    train_by: str = "label",
    train_iters: int = 2,
) -> None:
    """Train centroids (seed grouping + Lloyd refinement) and persist the
    index: `centroids/` (n_cells rows) and `assigned/` (vec_id, embedding,
    cell — the inverted lists, written partitioned BY CELL so a probe
    reads only its cells' files). Training never reruns for increments —
    the standard IVF contract: cells drift only on explicit re-build."""
    import os

    cents = centroids(vectors, train_by, dim)
    if train_iters:
        cents = kmeans_refine(vectors, cents, dim, train_iters)
    cents.write.mode("overwrite").parquet(os.path.join(index_path, "centroids"))
    # re-read: the assigned lists must reference the PERSISTED centroids,
    # not the lazy training lineage
    spark = vectors.sparkSession
    cents_stored = spark.read.parquet(os.path.join(index_path, "centroids"))
    ivf_assign(vectors, cents_stored, dim).select(
        "vec_id", "embedding", "cell"
    ).write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(index_path, "assigned")
    )


def ivf_index_add(vectors: DataFrame, index_path: str, dim: int) -> None:
    """Assign new vectors to the EXISTING centroids and append to the
    inverted lists — one broadcast pass, no training, no index rewrite."""
    import os

    spark = vectors.sparkSession
    cents = spark.read.parquet(os.path.join(index_path, "centroids"))
    ivf_assign(vectors, cents, dim).select(
        "vec_id", "embedding", "cell"
    ).write.mode("append").partitionBy("cell").parquet(
        os.path.join(index_path, "assigned")
    )


def ivf_index_search(
    queries: DataFrame,
    index_path: str,
    dim: int,
    k: int,
    nprobe: int = 2,
    assigned: DataFrame | None = None,
    dedup_candidates: bool = False,
) -> DataFrame:
    """Top-k against the persisted index: queries fan out to their nprobe
    nearest stored centroids; the candidate join hits only those cells'
    partitions (partition pruning on the `cell` directory key).
    ``assigned`` overrides the inverted-list source (the streaming
    maintainer passes base ∪ epoch deltas — streaming/ann_stream.py);
    ``dedup_candidates`` collapses duplicate (query, neighbor) candidates
    before ranking — needed only when the source can transiently hold a
    vector twice (the crashed-compaction window in ann_stream), and
    applied on the PROBED candidate set, never the whole index."""
    import os

    spark = queries.sparkSession
    cents = spark.read.parquet(os.path.join(index_path, "centroids"))
    if assigned is None:
        assigned = spark.read.parquet(os.path.join(index_path, "assigned"))
    q = ivf_assign(queries, cents, dim, nprobe=nprobe).select(
        F.col("cell"),
        F.col("vec_id").alias("query_id"),
        as_double_array(F.col("embedding")).alias("qv"),
    ).withColumn("qn", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    c = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("neighbor_id"),
        as_double_array(F.col("embedding")).alias("cv"),
    ).withColumn("cn", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    scored = (
        q.join(c, on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
    )
    if dedup_candidates:
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization: 8-bit codes instead of float vectors (memory path)
# ---------------------------------------------------------------------------
#
# PQ (Jégou et al., "Product Quantization for Nearest Neighbor Search",
# IEEE TPAMI 2011 — public literature) is the standard memory-compression
# layer under IVF: split each vector into `m` subvectors, learn a small
# per-subspace codebook (k_codes centroids), store each vector as m small
# ints. A 64-dim float32 vector (256 B) becomes m=8 one-byte codes — 32×
# smaller, which at billions of vectors is the difference between an index
# that fits the cluster's memory and one that doesn't. Search uses
# Asymmetric Distance Computation: per query, precompute the m × k_codes
# table of subspace distances once, then score every candidate with m
# table lookups instead of a dim-wide float scan.
#
# Everything below is built-in expressions (slice/transform/aggregate
# inside codegen) + bounded (j, code)-keyed shuffles — no Python in any
# per-vector path, same design rules as the IVF section.


def _subvec(c: Column, j: int, d_sub: int) -> Column:
    return F.slice(c, j * d_sub + 1, d_sub)


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared euclidean distance, sequential fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_train(
    vectors: DataFrame,
    dim: int,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """(j, code, centroid): per-subspace codebooks. Init is a
    deterministic hash split of ids into k_codes groups (no RNG — same
    codebook every run, any partitioning); each Lloyd iteration re-assigns
    every subvector to its nearest centroid (codebooks broadcast; m ×
    k_codes rows) and recomputes means via a (j, code, pos) partial
    shuffle whose size is m × k_codes × d_sub regardless of input size."""
    d_sub = dim // m
    sub = vectors.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    _subvec(as_double_array(F.col("embedding")), j, d_sub).alias("sv"),
                )
                for j in range(m)
            ])
        ).alias("e"),
    ).select(id_col, F.col("e.j").alias("j"), F.col("e.sv").alias("sv"))
    sub = tracked_persist(spread(sub, id_col))

    assigned = sub.withColumn(
        "code", F.pmod(F.xxhash64(F.lit("pq"), F.col(id_col)), F.lit(k_codes))
    )
    for _ in range(iters + 1):
        book = (
            assigned.select("j", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("j", "code", "pos")
            .agg(F.avg("x").alias("mu"))
            .groupBy("j", "code")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, mu))), p -> p.mu)"
                ).alias("centroid")
            )
        )
        scored = sub.join(F.broadcast(book), "j").withColumn(
            "d", _sq_l2(F.col("sv"), F.col("centroid"))
        )
        assigned = scored.groupBy(id_col, "j").agg(
            F.min_by(F.struct("code", "sv"), F.struct("d", "code")).alias("b")
        ).select(id_col, "j", F.col("b.code").alias("code"), F.col("b.sv").alias("sv"))
    return book


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    dim: int,
    m: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>): each vector's nearest code per subspace,
    codes ordered by subspace. One broadcast join + a per-id aggregation
    that reuses the exploded frame's id partitioning — the output is the
    compressed index (m small ints per vector)."""
    d_sub = dim // m
    sub = vectors.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    _subvec(as_double_array(F.col("embedding")), j, d_sub).alias("sv"),
                )
                for j in range(m)
            ])
        ).alias("e"),
    ).select(id_col, F.col("e.j").alias("j"), F.col("e.sv").alias("sv"))
    best = (
        spread(sub, id_col)
        .join(F.broadcast(codebook), "j")
        .withColumn("d", _sq_l2(F.col("sv"), F.col("centroid")))
        .groupBy(id_col, "j")
        .agg(F.min_by("code", F.struct("d", "code")).alias("code"))
    )
    return best.groupBy(id_col).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(j, code))), p -> CAST(p.code AS INT))"
        ).alias("codes")
    )


def pq_search_adc(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, rank): approximate euclidean top-k via
    Asymmetric Distance Computation — the query stays a float vector, the
    corpus stays codes. Per (query, subspace, code) the distance table
    entry is computed ONCE (n_queries × m × k_codes rows, broadcast-sized
    for a BOUNDED query batch — that assumption is what
    ``broadcast_queries=True`` asserts; pass False when the query side is
    query-proportional-large, e.g. corpus-as-queries self-search, and the
    (j, code) equi-join shuffles both sides instead); every candidate is
    then scored by summing its m lookups — no float vector ever leaves
    the codebook.

    At full scale this runs UNDER an IVF probe (per-cell candidate sets);
    standalone it scans all codes, which is still m ints per corpus
    vector instead of dim floats."""
    q_tab = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(F.col("embedding")).alias("qv"),
        )
        .crossJoin(F.broadcast(codebook))
        .select(
            "query_id",
            "j",
            "code",
            _sq_l2(_subvec(F.col("qv"), F.col("j"), dim // m), F.col("centroid")).alias(
                "d"
            ),
        )
    )
    cand = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("j", "code"),
    )
    if broadcast_queries:
        q_tab = F.broadcast(q_tab)
    w = W.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        cand.join(q_tab, ["j", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def pq_search_rerank(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    vectors: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, rank): the production PQ pattern — ADC over
    the compressed codes produces a `shortlist`-deep candidate set per
    query, then ONLY those candidates' float vectors are fetched and
    reranked by exact distance. ``broadcast_queries`` gates the
    bounded-query-batch broadcast exactly as in ``pq_search_adc``. The wide scan stays on 8-int codes; float
    vectors are touched shortlist × n_queries times total, independent of
    corpus size. `shortlist` is the recall lever (measured on the fixture:
    recall@5 ≈ 0.12 raw ADC → ≥ 0.6 with a 50-deep rerank), exactly the
    ADC-then-rerank trade described in the PQ literature."""
    short = pq_search_adc(
        queries,
        codes,
        codebook,
        dim,
        m,
        k=shortlist,
        id_col=id_col,
        broadcast_queries=broadcast_queries,
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(F.col("embedding")).alias("qv"),
    )
    if broadcast_queries:
        qv = F.broadcast(qv)
    cv = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(F.col("embedding")).alias("cv"),
    )
    w = W.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        short.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .withColumn("dist", _sq_l2(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivfpq_search(
    vectors: DataFrame,
    dim: int,
    k: int = 5,
    train_by: str = "label",
    nprobe: int = 2,
    train_iters: int = 1,
    m: int = 8,
    k_codes: int = 16,
    shortlist: int = 50,
    id_col: str = "vec_id",
) -> DataFrame:
    """(query_id, neighbor_id, rank): the composed production ANN
    architecture — IVF coarse cells bound WHERE to look, PQ codes bound
    WHAT is scanned there, exact rerank restores precision:

      1. coarse: centroids (+ Lloyd refinement), every vector assigned to
         its nearest cell; queries fan out to `nprobe` cells (ivf_assign);
      2. scan: within probed cells candidates are scored from m-int PQ
         codes via the query's ADC lookup table — the per-cell scan never
         touches a float vector;
      3. rerank: the ADC shortlist (per query) is reranked with exact
         distances over just `shortlist` fetched vectors.

    Cost at scale: coarse training is bounded shuffles (see
    kmeans_refine); the cell-restricted ADC join is an equi-join on
    (cell, j, code)-partitioned code rows; float vectors are read
    shortlist × n_queries times total. Every stage is deterministic.
    Self-search convention matches ivf_topk: every vector is both query
    and corpus, self-matches excluded."""
    cents = centroids(vectors, train_by, dim)
    if train_iters:
        cents = kmeans_refine(vectors, cents, dim, train_iters)
    assigned = tracked_persist(ivf_assign(vectors, cents, dim, nprobe=nprobe))
    book = pq_train(vectors, dim, m, k_codes, iters=train_iters, id_col=id_col)
    codes = pq_encode(vectors, book, dim, m, id_col=id_col)

    # corpus side: each vector's codes live in its probe=1 cell
    cell_codes = (
        assigned.filter(F.col("probe") == 1)
        .select(F.col("vec_id").alias("neighbor_id"), "cell")
        .join(codes.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
        .select("cell", "neighbor_id", F.posexplode("codes").alias("j", "code"))
    )
    # query side: ADC table per (query, probed cell, j, code)
    q_tab = (
        assigned.select(F.col("vec_id").alias("query_id"), "cell")
        .join(
            vectors.select(
                F.col(id_col).alias("query_id"),
                as_double_array(F.col("embedding")).alias("qv"),
            ),
            "query_id",
        )
        .crossJoin(F.broadcast(book))
        .select(
            "query_id",
            "cell",
            "j",
            "code",
            _sq_l2(
                _subvec(F.col("qv"), F.col("j"), dim // m), F.col("centroid")
            ).alias("d"),
        )
    )
    # NO broadcast hint on q_tab: in this self-search convention the
    # queries ARE the corpus, so q_tab is n_vectors × nprobe × m × k_codes
    # rows — query-proportional, never broadcast-sized. The (cell, j,
    # code) equi-join lets Catalyst/AQE shuffle both sides (and AQE will
    # still broadcast on its own if a future caller's q_tab is tiny).
    w_short = W.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    short = (
        cell_codes.join(q_tab, ["cell", "j", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("dist"))
        .withColumn("rank", F.row_number().over(w_short))
        .filter(F.col("rank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    qv = vectors.select(
        F.col(id_col).alias("query_id"),
        as_double_array(F.col("embedding")).alias("qv"),
    )
    cv = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(F.col("embedding")).alias("cv"),
    )
    w = W.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        short.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .withColumn("dist", _sq_l2(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index: compressed codes on disk, cell-partitioned
# ---------------------------------------------------------------------------


def ivfpq_build_index(
    vectors: DataFrame,
    index_path: str,
    dim: int,
    train_by: str = "label",
    train_iters: int = 1,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
) -> None:
    """Train coarse centroids + PQ codebooks and persist the compressed
    index: `centroids/` (n_cells rows), `codebook/` (m × k_codes rows),
    `codes/` — (id, codes) PARTITIONED BY CELL so a probe reads only its
    cells' files — and `vectors/` (the floats, same cell layout, read
    only for shortlist rerank). The scan-side state on disk is m bytes-ish
    per vector instead of dim floats; training never reruns for adds."""
    import os

    cents = centroids(vectors, train_by, dim)
    if train_iters:
        cents = kmeans_refine(vectors, cents, dim, train_iters)
    cents.write.mode("overwrite").parquet(os.path.join(index_path, "centroids"))
    book = pq_train(vectors, dim, m, k_codes, iters=train_iters, id_col=id_col)
    book.write.mode("overwrite").parquet(os.path.join(index_path, "codebook"))
    _ivfpq_append(vectors, index_path, dim, m, id_col, mode="overwrite")


def _ivfpq_append(
    vectors: DataFrame,
    index_path: str,
    dim: int,
    m: int,
    id_col: str,
    mode: str,
) -> None:
    import os

    spark = vectors.sparkSession
    cents = spark.read.parquet(os.path.join(index_path, "centroids"))
    book = spark.read.parquet(os.path.join(index_path, "codebook"))
    assigned = ivf_assign(
        vectors.withColumnRenamed(id_col, "vec_id"), cents, dim
    ).select(F.col("vec_id").alias(id_col), "cell")
    codes = pq_encode(vectors, book, dim, m, id_col=id_col)
    assigned.join(codes, id_col).write.mode(mode).partitionBy("cell").parquet(
        os.path.join(index_path, "codes")
    )
    vectors.select(id_col, "embedding").join(assigned, id_col).write.mode(
        mode
    ).partitionBy("cell").parquet(os.path.join(index_path, "vectors"))


def ivfpq_index_add(
    vectors: DataFrame,
    index_path: str,
    dim: int,
    m: int = 8,
    id_col: str = "vec_id",
) -> None:
    """Encode new vectors against the STORED centroids/codebook and append
    — one broadcast pass each, no retraining, no index rewrite."""
    _ivfpq_append(vectors, index_path, dim, m, id_col, mode="append")


def ivfpq_index_search(
    queries: DataFrame,
    index_path: str,
    dim: int,
    k: int = 5,
    nprobe: int = 2,
    m: int = 8,
    shortlist: int = 50,
    id_col: str = "vec_id",
    broadcast_queries: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, rank) against the persisted compressed
    index: queries fan out to their `nprobe` nearest stored centroids,
    the ADC scan touches only those cells' code partitions (directory
    pruning on `cell`), and the shortlist reranks from `vectors/`.

    ``broadcast_queries=True`` asserts the BOUNDED-BATCH assumption: the
    ADC table is n_queries × nprobe × m × k_codes rows and is broadcast
    only because interactive query batches are small. Pass False for a
    query-proportional batch (e.g. re-searching a whole corpus against
    the index) and the (cell, j, code) equi-join shuffles instead."""
    import os

    spark = queries.sparkSession
    cents = spark.read.parquet(os.path.join(index_path, "centroids"))
    book = spark.read.parquet(os.path.join(index_path, "codebook"))
    codes = spark.read.parquet(os.path.join(index_path, "codes"))
    stored = spark.read.parquet(os.path.join(index_path, "vectors"))

    q_assigned = ivf_assign(
        queries.withColumnRenamed(id_col, "vec_id"), cents, dim, nprobe=nprobe
    ).select(F.col("vec_id").alias("query_id"), "cell")
    q_tab = (
        q_assigned.join(
            queries.select(
                F.col(id_col).alias("query_id"),
                as_double_array(F.col("embedding")).alias("qv"),
            ),
            "query_id",
        )
        .crossJoin(F.broadcast(book))
        .select(
            "query_id",
            "cell",
            "j",
            "code",
            _sq_l2(
                _subvec(F.col("qv"), F.col("j"), dim // m), F.col("centroid")
            ).alias("d"),
        )
    )
    if broadcast_queries:
        q_tab = F.broadcast(q_tab)
    cell_codes = codes.select(
        "cell",
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("j", "code"),
    )
    w_short = W.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    short = (
        cell_codes.join(q_tab, ["cell", "j", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("dist"))
        .withColumn("rank", F.row_number().over(w_short))
        .filter(F.col("rank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(F.col("embedding")).alias("qv"),
    )
    if broadcast_queries:
        qv = F.broadcast(qv)
    cv = stored.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(F.col("embedding")).alias("cv"),
    )
    w = W.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        short.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .withColumn("dist", _sq_l2(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): cluster, then near-dedup within clusters
# ---------------------------------------------------------------------------


def semantic_dedup(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_cells: int | None = None,
    train_iters: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup (Abbas et al. 2023, public literature): k-means-cluster
    the embedding space, then treat within-cluster pairs with cosine ≥
    ``threshold`` as semantic duplicates and keep the lowest vec_id of
    each. Returns (survivors, dup_pairs) — survivors has the input
    schema; dup_pairs is (id_a, id_b, cos) with id_a < id_b.

    Semantic dedup removes REPHRASINGS — near-identical meaning with
    different surface text — that MinHash/SimHash (lexical overlap)
    cannot see. The clustering bounds the pair space: quadratic only in
    cell occupancy (~`target` vectors/cell, held constant by the cell
    rule below), linear in corpus size overall — the same argument as
    the banded LSH dedup, with the coarse quantizer as the blocker.

    Deterministic end to end: hash-seeded initial cells (xxhash64 of
    vec_id), Lloyd refinement with cell-id tie-breaks, no RNG — retries
    and repartitioning cannot change which documents survive.

    Scale: centroid training shuffles only (cell, dim) partial sums;
    assignment broadcasts centroids (n_cells × dim doubles); the
    within-cell pair join is the only data-sized shuffle. At 10⁹ vectors
    with target occupancy 50 the pair space is ~50× corpus size, not
    corpus²."""
    if n_cells is None:
        # ~50 vectors per cell, min 2 cells: pair space ∝ 50 × n
        n_cells = max(2, vectors.count() // 50)
    seeded = vectors.withColumn(
        "_blk", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_cells))
    )
    cents = centroids(seeded.withColumnRenamed("_blk", "blk"), "blk", dim)
    cents = kmeans_refine(vectors, cents, dim, train_iters)
    assigned = ivf_assign(vectors, cents, dim, nprobe=1).select(
        F.col("cell").alias("_sem_cell"), "vec_id", "embedding"
    )
    pairs = cosine_pairs(assigned, "_sem_cell", threshold)
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    survivors = vectors.join(dropped, "vec_id", "left_anti")
    return survivors, pairs
