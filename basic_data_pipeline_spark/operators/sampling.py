"""Corpus mixing & splitting (SURVEY.md §2.11): the sampling operators a
training-data pipeline runs after filtering/dedup — per-source mixture
ratios and leakage-proof train/validation splits.

Both are DETERMINISTIC BY CONTENT KEY, not by RNG state: `rand()`-based
sampling changes membership when partitioning changes or a stage retries,
which silently breaks train/val hygiene. Hashing the id gives the same
membership on every run, any cluster, any partitioning — and a doc keeps
its split assignment even when the corpus around it grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from basic_data_pipeline_spark.caching import (
    tracked_local_checkpoint,
    tracked_persist,
)


def _bucket(id_col: str, salt: str, n: int = 1_000_000) -> F.Column:
    """Stable bucket in [0, n): xxhash64 of (salt, id) — uniform, cheap,
    and independent across salts (different salt → independent split)."""
    return F.pmod(F.xxhash64(F.lit(salt), F.col(id_col)), F.lit(n))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-stratum subsampling: keep a row iff its id-hash
    bucket falls under its stratum's fraction. The mixture tool: e.g.
    {'web': 0.3, 'wiki': 1.0, 'code': 0.8} downsamples web 3.3× while
    keeping all wiki. Strata absent from `fractions` are DROPPED (an
    explicit mixture is a whitelist). One codegen filter — no shuffle, no
    sampleBy RNG, exact same members every run."""
    if not fractions:
        # empty whitelist keeps nothing; F.create_map() with no args
        # types as map<void,void> and the lookup would not even resolve
        return df.filter(F.lit(False))
    n = 1_000_000
    frac = F.create_map(
        *[x for k, v in fractions.items() for x in (F.lit(k), F.lit(float(v)))]
    )
    keep_frac = frac[F.col(strata_col)]
    return df.filter(
        keep_frac.isNotNull() & (_bucket(id_col, salt) < keep_frac * n)
    )


def weighted_mix(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Per-stratum mixing that also UPSAMPLES: fraction 2.5 yields each
    row 2 or 3 times (floor + deterministic fractional extra), fraction
    0.3 keeps ~30% — generalizing `stratified_sample` to epoch-style
    repetition of rare, high-value sources. Output carries a `replica`
    column (1..k) so downstream keys can stay unique.

    Replication is `explode(sequence(...))` on a per-row copy count — one
    codegen projection, no join, no RNG; membership and copy counts are
    pure functions of (salt, id), so any partitioning/retry produces the
    same multiset. Strata absent from `fractions` are dropped."""
    if not fractions:
        # empty whitelist (e.g. temperature_mix over an EMPTY corpus —
        # every upstream filter dropped everything): keep nothing, with
        # the contract's `replica` column in place. The r9 pipeline
        # probe found the raw F.create_map() path crashing here with
        # DATATYPE_MISMATCH instead of returning the empty frame.
        return df.filter(F.lit(False)).withColumn("replica", F.lit(1))
    n = 1_000_000
    frac = F.create_map(
        *[x for k, v in fractions.items() for x in (F.lit(k), F.lit(float(v)))]
    )
    f = frac[F.col(strata_col)]
    extra = (_bucket(id_col, salt) < (f - F.floor(f)) * n).cast("int")
    copies = (F.floor(f) + extra).cast("int")
    return (
        df.withColumn("_copies", F.when(f.isNotNull(), copies).otherwise(F.lit(0)))
        .filter(F.col("_copies") > 0)
        .withColumn("replica", F.explode(F.expr("sequence(1, _copies)")))
        .drop("_copies")
    )


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    temperature: float,
    id_col: str = "doc_id",
    salt: str = "mix",
    target_rows: int | None = None,
) -> DataFrame:
    """Temperature-weighted source mixing (the multilingual/multi-domain
    rebalancing rule): sample stratum i with probability ∝ (n_i/N)^(1/T),
    so T=1 preserves the natural distribution and larger T flattens it
    toward uniform, upsampling rare sources (via `weighted_mix` fractional
    replication) and downsampling dominant ones.

    The per-stratum counts come from one groupBy collected to the driver —
    bounded control-plane data (#sources rows, not corpus rows). The
    resulting expected output size is `target_rows` (default: the input
    size N)."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    counts = {
        r["k"]: r["n"]
        for r in df.groupBy(F.col(strata_col).alias("k"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total = sum(counts.values())
    if not total:
        return weighted_mix(df, strata_col, {}, id_col, salt)
    weights = {k: (v / total) ** (1.0 / temperature) for k, v in counts.items()}
    z = sum(weights.values())
    target = target_rows if target_rows is not None else total
    # Round away float-summation noise so e.g. T=1 yields exactly 1.0 per
    # stratum (a 0.999999999 fraction would deterministically drop the
    # highest hash buckets instead of keeping the corpus bit-identical).
    fractions = {
        k: round((weights[k] / z) * target / counts[k], 9) for k in counts
    }
    return weighted_mix(df, strata_col, fractions, id_col, salt)


def _approx_rows(df: DataFrame, row_bytes: int) -> int | None:
    """Row-count ESTIMATE from the frame's scanned file sizes (Hadoop
    FileSystem — scheme-agnostic: local, HDFS, object stores): total
    bytes ÷ ``row_bytes``. Metadata-only — no data pass. None for
    file-less in-memory frames — including a file-backed frame whose
    identical plan someone cached (Spark substitutes the
    InMemoryRelation and inputFiles() turns []); callers fall back to
    counting, which such a frame serves from memory anyway.
    Order-of-magnitude accuracy is the contract (compression vs per-row
    overhead roughly cancel for float arrays); use it only where the
    consumer saturates quickly, never where exactness matters."""
    files = df.inputFiles()
    if not files:
        return None
    sc = df.sparkSession.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        fs = p.getFileSystem(hconf)
        total += fs.getFileStatus(p).getLen()
    return max(1, total // max(row_bytes, 1))


def cluster_balanced_mix(
    docs: DataFrame,
    embeddings: DataFrame,
    dim: int,
    id_col: str = "doc_id",
    n_clusters: int | None = None,
    temperature: float = 2.0,
    train_iters: int = 2,
    salt: str = "mix",
    target_rows: int | None = None,
) -> DataFrame:
    """Learned-DOMAIN rebalancing: k-means the documents' embedding
    space into latent domains (deterministic hash-seeded cells + Lloyd
    refinement — the SemDeDup clustering machinery), label every doc
    with its domain, and temperature-rebalance the DOMAIN sizes with
    the existing deterministic mixing.

    Why: `source`-keyed mixing (temperature_mix over a metadata column)
    needs labels that are present and meaningful; web-scale corpora are
    dominated by one coarse source whose internal topic skew the label
    can't see. Clustering the embeddings recovers latent domains and the
    same (n_i/N)^(1/T) rule then flattens over- vs under-represented
    topics — the public cluster-reweighting recipe (MiniPile-style
    curation). Deterministic end to end: hash-seeded cells, tie-broken
    Lloyd, hash-bucket sampling — no RNG anywhere.

    ``embeddings`` is (vec_id, embedding) with vec_id matching
    ``docs[id_col]``; docs without an embedding are DROPPED (no domain →
    no quota; filter upstream if that is not intended). ``n_clusters``
    defaults to ~1 domain per 200 docs, capped at 64 — domains are for
    REBALANCING, so they stay coarse (unlike dedup cells at ~50/cell).
    The default's row count is a FILE-SIZE ESTIMATE (scanned bytes ÷
    ~4·dim bytes/row), not a count() — an extra full pass over 100 TB
    just to pick a default that saturates at 12.8k rows would be pure
    waste; only file-less in-memory frames (which by definition fit the
    driver-session scale) fall back to counting. Output: the mixed docs
    plus their `_domain` and `replica` columns.

    Scale: clustering is the bounded-shuffle k-means (centroid partial
    sums only); labeling is one broadcast/hier assignment pass + one
    equi-join on the id; the quota arithmetic is #domains driver rows.
    """
    from basic_data_pipeline_spark.operators import similarity as S

    if n_clusters is None:
        est = _approx_rows(embeddings, row_bytes=4 * dim)
        if est is None:
            est = embeddings.count()
        n_clusters = max(2, min(64, est // 200))
    seeded = embeddings.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_clusters))
    )
    cents = S.centroids(seeded, "blk", dim)
    cents = S.kmeans_refine(embeddings, cents, dim, train_iters)
    labels = S.ivf_assign(embeddings, cents, dim, nprobe=1).select(
        F.col("vec_id").alias(id_col), F.col("cell").alias("_domain")
    )
    labeled = docs.join(labels, id_col)
    return temperature_mix(
        labeled, "_domain", temperature, id_col=id_col, salt=salt,
        target_rows=target_rows,
    )


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> dict[str, DataFrame]:
    """Disjoint, exhaustive, deterministic splits: {'train': .98,
    'val': .01, 'test': .01} → dict of DataFrames. Membership depends
    only on (salt, id), so re-running on a grown corpus never moves an
    existing doc across splits — the property that prevents train/val
    leakage over pipeline iterations. Weights must sum to 1 (±1e-9)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    n = 1_000_000
    b = _bucket(id_col, salt)
    out: dict[str, DataFrame] = {}
    lo = 0.0
    items = list(weights.items())
    for i, (name, w) in enumerate(items):
        hi = 1.0 if i == len(items) - 1 else lo + w
        out[name] = df.filter((b >= F.lit(lo * n)) & (b < F.lit(hi * n)))
        lo = hi
    return out


def token_budget_mix(
    docs: DataFrame,
    budgets: dict[str, int],
    ntok_col,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
    parts: int | None = None,
) -> DataFrame:
    """Greedy-fill each source to a TOKEN budget — the unit trainers
    actually specify ("500B tokens of web, 50B of code"), where
    stratified_sample's doc-count fractions misallocate whenever doc
    length differs across sources. Documents are taken in a
    deterministic pseudo-random order (md5-prefix of (salt, id) — the
    engine-portable convention, reproducible on any partitioning) until
    the source's budget is crossed; the crossing document is KEPT, so
    each source overshoots by less than one document. Sources absent
    from ``budgets`` are dropped (an explicit mixture is a whitelist,
    as in stratified_sample). Returns the surviving full rows.

    Scale shape — the per-source prefix sum is the packing two-phase
    scan GENERALIZED to groups, never a per-source single-task window:
    range-partition by (source, rank) so each partition holds a
    contiguous slice of one or a few sources' orders, per-(partition,
    source) local running sums, one driver prefix over the
    per-(partition, source) totals (≤ partitions + sources rows —
    control-plane), broadcast the offsets back, one codegen filter. A
    hot source's scan fans across as many partitions as its data needs,
    unlike ``Window.partitionBy(source)`` which would serialize 500B
    tokens through one task."""
    spark = docs.sparkSession
    n = parts or spark.sparkContext.defaultParallelism
    rank = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    d = (
        docs.select(
            F.col(id_col),
            F.col(source_col).alias("_src"),
            ntok_col.cast("long").alias("_n_tok"),
            rank.alias("_rk"),
        )
        .repartitionByRange(n, F.col("_src"), F.col("_rk"), F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
    )
    # pin the partition assignment (repartitionByRange samples its
    # boundaries per-execution — the packing._cum_before rationale);
    # mode-aware so `reliable` stages the pin durably at cluster scale;
    # session lifetime, since the returned plan reads it
    d = tracked_local_checkpoint(d)
    w = (
        W.partitionBy("_pid", "_src")
        .orderBy("_rk", id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    d = d.withColumn(
        "_local_before", F.coalesce(F.sum("_n_tok").over(w), F.lit(0))
    )
    totals = (
        d.groupBy("_pid", "_src").agg(F.sum("_n_tok").alias("tot")).collect()
    )
    acc: dict[str, int] = {}
    offsets = []
    for r in sorted(totals, key=lambda r: (r["_src"], r["_pid"])):
        offsets.append((r["_pid"], r["_src"], acc.get(r["_src"], 0)))
        acc[r["_src"]] = acc.get(r["_src"], 0) + r["tot"]
    off_df = F.broadcast(
        spark.createDataFrame(offsets, "_pid int, _src string, _offset long")
    )
    bud = F.create_map(
        *[x for k, v in budgets.items() for x in (F.lit(k), F.lit(int(v)))]
    )
    kept = (
        d.join(off_df, ["_pid", "_src"])
        .withColumn("_cum_before", F.col("_local_before") + F.col("_offset"))
        .filter(
            bud[F.col("_src")].isNotNull()
            & (F.col("_cum_before") < bud[F.col("_src")])
        )
        .select(id_col)
    )
    return docs.join(kept, id_col, "left_semi")


def leakage_safe_splits(
    docs: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split",
) -> dict[str, DataFrame]:
    """hash_split with near-duplicate GROUP atomicity: every document in
    a duplicate cluster takes its CLUSTER's split, so near-dups never
    straddle train/val/test — the leakage per-doc hashing cannot
    prevent (a near-copy of a train document landing in test silently
    inflates eval). ``pairs`` is any (id_a, id_b) near-dup pair frame
    (LSH-verified at scale — dedup.lsh_candidate_pairs → jaccard_verify);
    the group label is the connected component's minimum id
    (dedup.duplicate_clusters), unpaired documents are their own group.

    Membership depends only on (salt, group label) via the
    engine-portable md5-prefix bucket (the selection.py convention —
    xxhash64 would work but could not be replayed by the DuckDB oracle),
    so it is stable under partitioning and corpus growth — EXCEPT when
    growth merges two clusters, in which case the merged group moves
    TOGETHER: atomicity wins over per-doc stability, by design.

    Scale shape: the cluster frame is bounded by documents that appear
    in a pair (not corpus-sized), one id-keyed left join attaches
    labels, and each split is a codegen filter — no extra shuffle beyond
    the label join."""
    from basic_data_pipeline_spark.operators.dedup import duplicate_clusters

    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    clusters = duplicate_clusters(pairs).withColumnRenamed("doc_id", id_col)
    lab = docs.join(clusters, id_col, "left").withColumn(
        "_grp", F.coalesce(F.col("cluster"), F.col(id_col))
    )
    n = 1_000_000
    b = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(salt + ":"), F.col("_grp").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(n),
    )
    out: dict[str, DataFrame] = {}
    lo = 0.0
    items = list(weights.items())
    for i, (name, w) in enumerate(items):
        hi = 1.0 if i == len(items) - 1 else lo + w
        out[name] = lab.filter(
            (b >= F.lit(lo * n)) & (b < F.lit(hi * n))
        ).drop("cluster", "_grp")
        lo = hi
    return out


def negative_samples(
    docs: DataFrame,
    id_col: str = "doc_id",
    k: int = 5,
    salt: str = "negatives",
    parts: int | None = None,
) -> DataFrame:
    """(id, neg_id, j): exactly min(k, N-1) deterministic pseudo-random
    negatives per document — the contrastive-training sampler (negative
    pairs for embedding/reranker training) WITHOUT a cross join and
    WITHOUT RNG state.

    Construction: documents get dense row indexes (assign_contiguous_ids
    — the distributed prefix sum), then ``k`` distinct STRIDES are drawn
    from md5(salt, counter) mod (N-1) + 1 on the driver (a bounded loop
    over k+collisions ints); document at index r is paired with the
    documents at (r + stride_j) mod N. Every document gets exactly the
    same number of negatives (a k-regular pairing, so no doc is over- or
    under-sampled), no self-pairs (strides are nonzero mod N), and the
    whole sample is a pure function of (salt, corpus) — rerun, retry, or
    repartition and the pairs are identical; change the salt for a fresh
    epoch of negatives.

    Plan: one prefix sum + a k-way literal explode + ONE equi-join on
    the partner index. Linear in N·k at any corpus size."""
    import hashlib

    from basic_data_pipeline_spark.operators.packing import (
        assign_contiguous_ids,
    )

    # the returned pairs read `ids`: session lifetime
    ids = tracked_persist(
        assign_contiguous_ids(docs.select(id_col), id_col, parts)
    )
    n = ids.count()
    if n < 2:
        return docs.sparkSession.createDataFrame(
            [], f"{id_col} string, neg_id string, j int"
        )
    k_eff = min(k, n - 1)
    strides: list[int] = []
    i = 0
    while len(strides) < k_eff:
        h = int.from_bytes(
            hashlib.md5(f"{salt}:{i}".encode()).digest()[:8], "big"
        )
        s = h % (n - 1) + 1
        if s not in strides:
            strides.append(s)
        i += 1

    pairs = ids.select(
        F.col(id_col),
        F.col("row_idx"),
        F.posexplode(F.array(*[F.lit(s) for s in strides])).alias(
            "j", "_stride"
        ),
    ).withColumn("_partner", (F.col("row_idx") + F.col("_stride")) % n)
    partner = ids.select(
        F.col(id_col).alias("neg_id"), F.col("row_idx").alias("_partner")
    )
    out = pairs.join(partner, "_partner").select(id_col, "neg_id", "j")
    return out
