"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash
(SURVEY.md §2.11) — the near-dup removal stage of a training-data pipeline.

Absent from the reference (single-table CDC demo, no analytics code); built
here as compositions of DataFrame ops so every stage is a shuffle we chose:

  shingle    explode word n-grams           narrow, codegen
  minhash    groupBy(doc, hash_j) min       1 shuffle on doc_id
  band       groupBy(doc, band) concat      reuses the doc_id partitioning
  candidate  self-join on (band, bandkey)   shuffle on band key — the
                                            whole point of LSH: the join
                                            key space is tiny vs O(n²)
  verify     exact Jaccard on candidates    candidate set ≪ all pairs

Determinism: hash functions are md5-derived (hash_j(g) = md5(j || '|' || g),
minimum taken lexicographically over hex strings), so signatures are
reproducible across engines and runs — the DuckDB oracle computes the SAME
signatures. Production would swap md5 for xxhash64 (same plan shape,
~5× cheaper); md5 is the only 128-bit hash both engines share bit-for-bit.

Scale notes (100 TB corpus):
- the O(n²) pair space never materializes; candidates come from the
  banded join whose key cardinality ≈ n_docs × n_bands / collision_rate;
- the shingle explode multiplies rows by ~doc_len, but it feeds a
  map-side partial min — the shuffle carries only (doc, j, min_hash);
- banding is embarrassingly partition-parallel; skewed band keys (a
  boilerplate shingle shared by millions of docs) are AQE skew-split, and
  a production run would cap bucket sizes before the pair join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from basic_data_pipeline_spark.caching import (
    free_local_checkpoint,
    track_release,
    tracked_local_checkpoint,
    tracked_persist,
)
from basic_data_pipeline_spark.partitioning import spread

N_HASHES = 16
N_BANDS = 4  # 4 rows per band

# Default hot-bucket cap for the PRODUCTION entry points (near_dedup_corpus,
# incremental.incremental_dedup). The 16× probe measured the uncapped
# adversarial case at 10.4× super-linear (665k candidates) vs 137k with
# K=8; 50 is comfortably above every organic bucket in the fixtures
# (SCALING.md) while bounding the worst case to n_buckets×2500 pairs.
# Low-level lsh_candidate_pairs keeps None (exact) — the oracle-checked
# queries pin the uncapped candidate set.
DEFAULT_MAX_BUCKET = 50

# One-row stats frame planted by the most recent CAPPED
# lsh_candidate_pairs call (None when the last call ran uncapped) — read
# via last_cap_stats(). A frame, not an Observation: the capped bands
# feed a self-join, and a CollectMetrics node referenced from both join
# branches breaks (JVM assertion / never fires); an explicit aggregate
# over the already-persisted pre-cap frame is deterministic and costs
# one tiny cache-read job, only when actually asked for.
_LAST_CAP_STATS_SRC: DataFrame | None = None


def last_cap_stats() -> dict | None:
    """Stats of the most recent capped `lsh_candidate_pairs` call:
    ``{"capped_rows": band memberships dropped, "capped_buckets":
    approx distinct (band, bandkey) buckets that hit the cap}``.

    Returns None if the last call was uncapped. Runs one small aggregate
    job over the persisted pre-cap bands (cache-local while the candidate
    pipeline's persists are live)."""
    if _LAST_CAP_STATS_SRC is None:
        return None
    row = _LAST_CAP_STATS_SRC.first()
    return {
        "capped_rows": row["capped_rows"],
        "capped_buckets": row["capped_buckets"],
    }


def word_shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, shingle) — word n-grams of the lower-cased text. Documents
    shorter than n words contribute their whole text as one shingle.

    `distinct=True` gives set semantics (required for Jaccard);
    min-hashing is idempotent under duplicates, so the minhash path passes
    `distinct=False` and saves a full shuffle of the exploded shingles.

    The input repartitions by id BEFORE the explode: the ~doc_len×
    row multiplication and the per-shingle hashing must spread across the
    cluster even when the scan itself is few partitions (small file,
    or coalesced splits), and hash-partitioning by id pre-positions every
    downstream per-document aggregation — the groupBy(id) reuses this
    exchange instead of shuffling the exploded rows."""
    docs = spread(docs, id_col)
    out = docs.select(
        F.col(id_col),
        F.split(F.lower(F.col(text_col)), r"\s+").alias("w"),
    ).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, greatest(size(w) - {n}, 0)),"
                f" i -> concat_ws(' ', slice(w, i + 1, {n})))"
            )
        ).alias("shingle"),
    )
    return out.distinct() if distinct else out


def minhash_signatures(
    shingles: DataFrame, id_col: str, family: str = "md5"
) -> DataFrame:
    """(id, mh0..mh{N-1}): the N_HASHES column-wise minima of
    hash_j(shingle) over the document's shingle multiset, where
    hash_j(g) = family(j || '|' || g).

    All N hashes are computed as COLUMNS of one projection and reduced by
    ONE hash aggregation — no ×N row explosion, and the shuffle carries
    only the per-partition partial minima (one row of N values per doc
    per map partition). ~3× faster than the exploded formulation at equal
    results; min() over a multiset == min() over the set, so duplicate
    shingles need no pre-distinct either.

    `family`: ``md5`` (default) is the ORACLE family — the only 128-bit
    hash DuckDB reproduces bit-for-bit, so every oracle-checked query
    stays on it. ``xxhash64`` is the PRODUCTION family: same plan shape,
    signatures are longs instead of 32-char strings (8 vs ~40 bytes per
    value in the shuffle and the band keys), and the hash itself is far
    cheaper than a cryptographic digest — measured in SCALING.md. Both
    are valid min-hash families; only the signatures differ, not the
    banding/candidate semantics downstream."""
    if family == "md5":
        h = lambda j: F.md5(F.concat_ws("|", F.lit(str(j)), F.col("shingle")))  # noqa: E731
    elif family == "xxhash64":
        h = lambda j: F.xxhash64(F.lit(str(j)), F.col("shingle"))  # noqa: E731
    else:
        raise ValueError(f"unknown minhash family {family!r}")
    return shingles.groupBy(id_col).agg(
        *[F.min(h(j)).alias(f"mh{j}") for j in range(N_HASHES)]
    )


def lsh_bands(signatures: DataFrame, id_col: str) -> DataFrame:
    """(id, band, bandkey): concatenate each band's minhashes (in j order)
    into one join key. Two docs agree on a band iff all rows in the band
    match — the classic AND-within-band / OR-across-bands LSH. Pure
    projection + posexplode over the wide signature row — no shuffle."""
    rows_per_band = N_HASHES // N_BANDS
    band_keys = [
        F.concat_ws(
            ",",
            *[
                F.concat_ws(":", F.lit(f"{j:02d}"), F.col(f"mh{j}"))
                for j in range(b * rows_per_band, (b + 1) * rows_per_band)
            ],
        )
        for b in range(N_BANDS)
    ]
    return signatures.select(
        F.col(id_col),
        F.posexplode(F.array(*band_keys)).alias("band", "bandkey"),
    )


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str, max_bucket: int | None = None
) -> DataFrame:
    """(id_a, id_b) distinct pairs sharing at least one band. The join key
    is (band, bandkey) — cardinality ~n_docs×N_BANDS, never O(n²).

    `max_bucket` caps the per-bucket contribution: a bucket of m docs
    yields m² join rows, so one adversarial bucket (a boilerplate band
    key shared by millions of docs) turns the banded join quadratic. With
    the cap, each bucket keeps its max_bucket lowest ids (deterministic)
    and contributes ≤ max_bucket² pairs — candidates are bounded by
    n_buckets × max_bucket² no matter how skewed the input. Dropped
    members of a giant bucket still pair up via their OTHER bands (OR
    across bands), and a bucket that big is boilerplate, not signal —
    near-dup sets of real documents collide on several bands at once.
    Pass None for the exact (uncapped) candidate set — the oracle-checked
    queries use that; production at corpus scale sets a cap. When capped,
    the dropped row/bucket counts are readable via `last_cap_stats()`
    (one small cache-read job) — a corpus whose ORGANIC buckets exceed
    the cap is under-deduped and should be noticed, not silent
    (incremental_dedup warns for you).

    `bands` feeds BOTH join sides: persist it so the whole shingle→
    minhash pipeline runs once, not twice (it is O(n_docs×N_BANDS) rows —
    tiny next to its input)."""
    global _LAST_CAP_STATS_SRC
    if max_bucket is not None:
        w = W.partitionBy("band", "bandkey").orderBy(id_col)
        ranked = tracked_persist(bands.withColumn("_r", F.row_number().over(w)))
        _LAST_CAP_STATS_SRC = ranked.filter(F.col("_r") > max_bucket).agg(
            F.count("*").alias("capped_rows"),
            F.approx_count_distinct(
                F.concat_ws("\x1f", "band", "bandkey")
            ).alias("capped_buckets"),
        )
        bands = ranked.filter(F.col("_r") <= max_bucket).drop("_r")
    else:
        _LAST_CAP_STATS_SRC = None
        bands = tracked_persist(bands)
    a = bands.select(
        F.col("band"), F.col("bandkey"), F.col(id_col).alias("id_a")
    )
    b = bands.select(
        F.col("band"), F.col("bandkey"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, on=["band", "bandkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with shingle-set Jaccard ≥
    threshold, via the inverted-index join: pairs sharing a shingle →
    intersection counts → |A∪B| = |A|+|B|−|A∩B|.

    This is the EXACT verifier; on a full corpus it runs only on LSH
    candidates (`lsh_candidate_pairs` → semi-join the shingle lists), here
    it doubles as the ground-truth oracle for the approximate paths."""
    a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_from_intersections(shingles, inter, id_col, threshold)


def _jaccard_from_intersections(
    shingles: DataFrame, inter: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Shared tail of the exact and verify paths: |A∩B| counts →
    |A∪B| = |A|+|B|−|A∩B| → threshold filter."""
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_verify(
    shingles: DataFrame, candidates: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard computed ONLY for candidate pairs — the scalable
    verify stage of the LSH pipeline.

    The all-pairs inverted-index join (`jaccard_pairs`) explodes when
    duplicates are dense: a shingle shared by d documents contributes d²
    join rows (measured: 16× input → 97 s vs ~2 s, entirely hot-shingle
    blowup). Here the pair space is fixed up front by `candidates`
    (id_a, id_b), so cost is |candidates| × avg_shingles — linear in what
    LSH surfaced, independent of how hot any shingle is.

    `shingles` must carry SET semantics (word_shingles distinct=True) and
    is consumed three times (two intersection joins + sizes): persist it.
    Candidate pairs are deduplicated defensively — duplicate pairs would
    multiply the intersection counts and push jaccard past 1.

    The shingle frame is pruned to PARTICIPANT docs (one semi-join on
    the candidate id set — AQE converts it to a broadcast when the set
    is small) before anything shuffles: without the prune, the
    (id_b, shingle) intersection join shuffles the WHOLE corpus's
    shingles even when LSH surfaced only a handful of pairs — measured
    at the 64× perturbed probe tier as the difference between per-4×
    7.6 (corpus-shuffle bound) and linear (SCALING.md round 8). The
    prune keeps every shingle of each participant doc, so intersection
    counts and set sizes are unchanged."""
    candidates = tracked_persist(candidates.select("id_a", "id_b").distinct())
    part = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = tracked_persist(shingles.join(part, id_col, "left_semi"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    # sizes come from the pruned frame too: the semi-join prunes by DOC,
    # never by shingle, so participant set sizes are exact — and docs
    # outside the candidate set never reach the size join anyway
    return _jaccard_from_intersections(sh, inter, id_col, threshold)


HEX = "0123456789abcdef"


def simhash_signatures(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash): 64-bit SimHash over the distinct lower-cased word
    set, emitted as 16 hex chars. Bit i of md5(token) votes ±1; the
    signed sums' signs form the signature. Near-dup docs differ in few
    bits (Hamming), unlike minhash which models set Jaccard.

    Plan shape (r11): the 64 bit votes are COLUMNS of one projection
    reduced by ONE hash aggregation — the minhash_signatures
    formulation; the old ×64 row explode pushed corpus_tokens×64 rows
    through two aggregation levels to compute the same sums (measured
    ~2× slower at sf0.1 at equal results — the votes, signs and hex
    assembly are arithmetic-identical). The input is spread by id, so
    the per-doc aggregation reuses that exchange. Arithmetic only — no
    UDFs, no Python."""
    toks = (
        spread(docs, id_col)
        .select(F.col(id_col), F.split(F.lower(F.col(text_col)), r"\s+").alias("w"))
        .select(F.col(id_col), F.explode("w").alias("t"))
        .distinct()
        .withColumn("m", F.md5("t"))
    )

    # vote for bit i (0..63): hex digit at 1-based position i//4 + 1,
    # bit i%4 of its value, mapped to ±1 — per-i constants fold into the
    # expression, so this is 64 codegen'd sum columns over token rows.
    # Each aggregate/char is ONE F.expr string (not composed Column
    # operators): the composed form cost ~1 s of py4j round trips per
    # query construction for the ~800 operator nodes.
    votes = toks.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum((((instr('{HEX}', substr(m, {i // 4 + 1}, 1)) - 1)"
                f" div {2 ** (i % 4)}) % 2) * 2 - 1)"
            ).alias(f"_s{i}")
            for i in range(64)
        ]
    )
    chars = [
        F.expr(
            f"substr('{HEX}', "
            + " + ".join(
                f"if(_s{4 * p + j} > 0, {1 << j}, 0)" for j in range(4)
            )
            + " + 1, 1)"
        )
        for p in range(16)
    ]
    return votes.select(F.col(id_col), F.concat(*chars).alias("simhash"))


def simhash_pairs(
    signatures: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    keep_sigs: bool = False,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs within Hamming distance ≤ max_hamming,
    via 4-chunk banding: with 4 chunks of 16 bits, any pair within
    distance 3 shares at least one identical chunk (pigeonhole), so the
    candidate join runs on chunk equality and the exact popcount filter
    runs only on candidates."""
    # both join sides read `chunks`: persist so the simhash pipeline
    # (explode ×64 + 3 aggregations) computes once
    chunks = (
        signatures.select(
            F.col(id_col),
            F.col("simhash"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("c"),
        )
        .withColumn("chunk", F.expr("substr(simhash, CAST(c * 4 AS INT) + 1, 4)"))
    )
    chunks = tracked_persist(chunks)
    a = chunks.select(
        F.col("c"), F.col("chunk"), F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a")
    )
    b = chunks.select(
        F.col("c"), F.col("chunk"), F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b")
    )
    cand = (
        a.join(b, on=["c", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    # hamming = sum over 16 hex positions of popcount(nib_a XOR nib_b)
    ham = F.expr(
        f"""aggregate(sequence(1, 16), 0, (acc, p) -> acc + (
              CAST(bit_count(
                (instr('{HEX}', substr(sig_a, p, 1)) - 1) ^
                (instr('{HEX}', substr(sig_b, p, 1)) - 1)
              ) AS INT)))"""
    )
    out_cols = (
        ["id_a", "id_b", "sig_a", "sig_b", "hamming"]
        if keep_sigs
        else ["id_a", "id_b", "hamming"]
    )
    return (
        spread(cand, "id_a", "id_b")  # popcount loop at cluster parallelism
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select(*out_cols)
    )


def exact_dedup_survivors(docs: DataFrame, id_col: str, key: F.Column) -> DataFrame:
    """One surviving row per duplicate group (minimum id wins) plus the
    group size — the hash-groupBy exact dedup. `key` is any expression
    (raw text, normalized text, content hash)."""
    return (
        docs.withColumn("_k", key)
        .groupBy("_k")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("group_size"),
        )
        .drop("_k")
    )


def duplicate_clusters(
    pairs: DataFrame, max_iters: int = 20, checkpoint_every: int = 1
) -> DataFrame:
    """(doc_id, cluster) — connected components over the duplicate-pair
    graph via min-label propagation ACCELERATED by pointer jumping: each
    iteration takes the min over the neighbors' labels (one hop through
    the edges) and then follows the new label one more step
    (label(label(v)) — path halving). Plain propagation moves a min one
    hop per iteration (O(diameter) iterations); the jumping step doubles
    the reach each round, so convergence is O(log diameter) — 20
    iterations cover any realistic chain (diameter ~2²⁰ with jumping,
    vs only 20 hops without it, which is why the jump step exists).

    `checkpoint_every` defaults to 1 — NOT an optimization knob: each
    iteration references the previous labels frame twice (neighbor join +
    pointer jump), so un-checkpointed lineage DOUBLES per iteration and
    any downstream consumer that renders the plan tree (persist/cache
    materialization, explain) hits exponential `generateTreeString` cost
    — observed as a driver heap OOM on tiny data when the round-5 corpus
    pipeline persisted this function's output after 4 un-checkpointed
    iterations. The labels frame is V rows, so an eager localCheckpoint
    per iteration is control-plane cost.

    The greedy keep-lowest-id rule drops any id appearing as the higher
    side of a pair, which over-drops on transitive CHAINS (a~b, b~c, a≁c
    drops both b and c even though c's only partner b is itself gone).
    Clustering keeps exactly one survivor per connected component — the
    policy large corpus dedups actually want.

    Scale shape: per iteration, one edge⋈labels join + min-aggregation
    (O(E) shuffled rows) and one labels⋈labels jump join (O(V)).
    Converges early: iteration stops when no label changed (one count per
    iteration — acceptable driver chatter for a maintenance job, not a
    per-query path). If the loop exits WITHOUT reaching fixpoint, raises
    RuntimeError rather than silently returning a component split across
    labels."""
    edges = (
        pairs.select("id_a", "id_b")
        .unionByName(
            pairs.select(
                F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
            )
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("id_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster", F.col("doc_id"))
        .persist()
    )
    converged = False
    try:
        for it in range(max_iters):
            neighbor_min = (
                edges.join(
                    labels.select(
                        F.col("doc_id").alias("id_b"),
                        F.col("cluster").alias("nb_cluster"),
                    ),
                    "id_b",
                )
                .groupBy(F.col("id_a").alias("doc_id"))
                .agg(F.min("nb_cluster").alias("nb_min"))
            )
            hop = labels.join(neighbor_min, "doc_id", "left").select(
                "doc_id",
                F.col("cluster").alias("_old"),
                F.least(
                    F.col("cluster"),
                    F.coalesce(F.col("nb_min"), F.col("cluster")),
                ).alias("cluster"),
            )
            # pointer jump (path halving): follow the label one more step —
            # label values are doc ids, so looking them up in the same frame
            # yields label(label(v)); min-labels only ever decrease, so
            # taking the least is safe and doubles propagation reach.
            parent = hop.select(
                F.col("doc_id").alias("cluster"), F.col("cluster").alias("_gp")
            )
            # the changed flag rides in the materialized frame (labels only
            # ever decrease, so changed ⇔ new < old) and is tested with one
            # cached filter — not a separate join-shaped action per round
            # (r11: at label-frame sizes the job floor dominated the wall)
            new_labels = hop.join(parent, "cluster", "left").select(
                "doc_id",
                F.least(
                    F.col("cluster"),
                    F.coalesce(F.col("_gp"), F.col("cluster")),
                ).alias("cluster"),
                (
                    F.least(
                        F.col("cluster"),
                        F.coalesce(F.col("_gp"), F.col("cluster")),
                    )
                    < F.col("_old")
                ).alias("_chg"),
            )
            if (it + 1) % checkpoint_every == 0:
                # cut the lineage: without this, each iteration's plan
                # nests the previous one's and planning cost grows
                # linearly
                new_labels = tracked_local_checkpoint(new_labels)
            else:
                new_labels = new_labels.persist()
            converged = new_labels.where(F.col("_chg")).isEmpty()
            _drop(labels)
            # keep the materialized HANDLE (freeing needs it); every loop
            # consumer selects its columns explicitly, so _chg rides along
            labels = new_labels
            if converged:
                break
    finally:
        edges.unpersist()
        if not converged:
            _drop(labels)
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iters} iterations"
            " — raise max_iters (component diameter exceeds 2^max_iters)"
        )
    out = labels.select("doc_id", "cluster")
    # hand ownership to the caller's action; release on next tracked cycle.
    # `out` is a projection, so releasing it frees nothing of labels:
    # register the labels handle too (persisted or checkpointed)
    _ = tracked_persist(out)
    track_release(labels)
    return out


def _drop(df: DataFrame) -> None:
    df.unpersist()
    free_local_checkpoint(df)


def cluster_survivors(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """One surviving doc per duplicate cluster (the component's minimum
    id) plus every unpaired doc — the connected-components alternative to
    greedy keep-lowest-id."""
    clusters = duplicate_clusters(pairs)
    dropped = clusters.filter(F.col("doc_id") != F.col("cluster")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(dropped, id_col, "left_anti")


def quality_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """One surviving doc per duplicate cluster — the HIGHEST-``quality_col``
    member (ties → minimum id) — plus every unpaired doc.

    Min-id survivor selection (cluster_survivors) is arbitrary: when a
    boilerplate-laden scrape and a clean article are near-duplicates, a
    corpus pipeline wants to KEEP THE BETTER ONE. Same component machinery
    (duplicate_clusters), then one row_number window per cluster keyed by
    (quality desc, id asc) — one extra shuffle on the cluster label,
    cluster-count-sized, never corpus-quadratic."""
    clusters = duplicate_clusters(pairs)
    scored = clusters.join(
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(quality_col).alias("_q")
        ),
        "doc_id",
    )
    w = W.partitionBy("cluster").orderBy(F.desc("_q"), F.asc("doc_id"))
    dropped = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(F.col("doc_id").alias(id_col))
    )
    return docs.join(dropped, id_col, "left_anti")


def near_dedup_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    family: str = "md5",
    survivor_policy: str = "cluster",
    quality_col: str | None = None,
) -> DataFrame:
    """The one-call production near-dedup pipeline: shingle → MinHash →
    LSH candidates (hot-bucket-capped by default — see DEFAULT_MAX_BUCKET;
    pass max_bucket=None for the exact candidate set) → exact-Jaccard
    verify on candidates only → survivor selection. Returns the surviving
    docs with all their columns.

    survivor_policy: ``cluster`` (default) keeps one doc per connected
    duplicate component (correct on transitive chains); ``quality``
    keeps the highest-``quality_col`` member per component (what corpus
    pipelines actually want when a quality score exists); ``greedy``
    keeps lowest-id per pair (single pass, no iteration — what the
    oracle-checked queries pin). family/max_bucket as documented on
    minhash_signatures / lsh_candidate_pairs. After the first action on
    the result, `last_cap_stats()` reports how much the hot-bucket cap
    dropped (zero extra jobs — plan-observed). For batch-over-batch
    corpora use operators/incremental.py instead — it reuses a persisted
    index rather than re-deduping everything."""
    sh = tracked_persist(word_shingles(docs, id_col, text_col))
    sig = minhash_signatures(sh, id_col, family=family)
    cand = lsh_candidate_pairs(
        lsh_bands(sig, id_col), id_col, max_bucket=max_bucket
    )
    pairs = jaccard_verify(sh, cand, id_col, threshold)
    if survivor_policy == "cluster":
        return cluster_survivors(docs, pairs, id_col)
    if survivor_policy == "quality":
        if quality_col is None:
            raise ValueError("survivor_policy='quality' needs quality_col")
        return quality_survivors(docs, pairs, id_col, quality_col)
    if survivor_policy == "greedy":
        dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
        return docs.join(dropped, id_col, "left_anti")
    raise ValueError(f"unknown survivor_policy {survivor_policy!r}")


# ---------------------------------------------------------------------------
# Line-level (sub-document) dedup — C4/RefinedWeb-style boilerplate removal
# ---------------------------------------------------------------------------
#
# Document-level dedup (above) cannot touch the dominant duplication mode of
# web corpora: the SAME navigation/footer/cookie line pasted into millions of
# otherwise-distinct pages. The line-granular operators below segment each
# document, dedup at line granularity across the whole corpus, and reassemble
# the surviving text:
#
# - ``drop_common``: remove EVERY occurrence of a line appearing in more than
#   `max_doc_freq` distinct documents (boilerplate removal — the line is
#   noise wherever it appears);
# - ``keep_first``: keep only the globally first occurrence (lexicographic
#   (doc_id, line_no)) of each duplicated line (span dedup — the content is
#   kept once, repeats are cut).
#
# Scale design: the corpus-wide line statistics shuffle on a 128-bit line
# hash (never the raw text twice); the stats side is one narrow row per
# DISTINCT line, so the join back is hash-partition-friendly and AQE can
# broadcast it when the distinct-line count is small. Reassembly is one
# groupBy per document with sort_array over (line_no, line) structs — group
# size is bounded by lines-per-document, not corpus size.


def segment_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_regex: str = r"\n",
) -> DataFrame:
    """(id, line_no, line): split each document on ``sep_regex``. Zero
    shuffle — one projection + posexplode."""
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_regex)).alias(
            "line_no", "line"
        ),
    )


def segment_word_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_line: int = 8,
) -> DataFrame:
    """(id, line_no, line): segment into fixed ``words_per_line``-word
    groups (lowercased) — the segmenter for corpora without newline
    structure (and the deterministic unit tests/oracles use). The final
    segment may be shorter. Zero shuffle."""
    if words_per_line < 1:
        raise ValueError("words_per_line must be >= 1")
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    n_seg = F.ceil(F.size("_tk") / F.lit(words_per_line)).cast("int")
    return (
        docs.select(F.col(id_col), toks.alias("_tk"))
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(n_seg, F.lit(1)) - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.slice(
                            F.col("_tk"),
                            i * words_per_line + 1,
                            F.lit(words_per_line),
                        ),
                    ),
                )
            ).alias("line_no", "line"),
        )
    )


def dedup_lines(
    lines: DataFrame,
    id_col: str = "doc_id",
    mode: str = "drop_common",
    max_doc_freq: int = 2,
) -> DataFrame:
    """Corpus-wide line dedup over a segmented (id, line_no, line) frame;
    returns the KEPT rows with the same columns.

    ``drop_common``: drop all occurrences of lines in > ``max_doc_freq``
    distinct docs. ``keep_first``: keep one occurrence per distinct line —
    the lexicographically first (doc_id, line_no) — dropping repeats both
    across and within documents. Both shuffle on md5(line), and the
    per-distinct-line stats frame is the small join side."""
    if mode not in ("drop_common", "keep_first"):
        raise ValueError(f"unknown mode {mode!r}")
    lh = lines.withColumn("_lh", F.md5(F.col("line")))
    stats = lh.groupBy("_lh").agg(
        F.countDistinct(id_col).alias("_doc_freq"),
        F.min(F.struct(F.col(id_col), F.col("line_no"))).alias("_first"),
    )
    j = lh.join(stats, "_lh")
    if mode == "drop_common":
        kept = j.filter(F.col("_doc_freq") <= F.lit(max_doc_freq))
    else:
        kept = j.filter(
            F.struct(F.col(id_col), F.col("line_no")) == F.col("_first")
        )
    return kept.select(id_col, "line_no", "line")


def reassemble_lines(
    kept: DataFrame,
    id_col: str = "doc_id",
    sep: str = "\n",
    text_col: str = "text",
) -> DataFrame:
    """Rebuild (id, text, n_lines) from kept lines, preserving original
    line order. Documents whose every line was dropped do not appear."""
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("line_no"), F.col("line")))
            ).alias("_ls"),
            F.count("*").alias("n_lines"),
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                sep, F.transform(F.col("_ls"), lambda s: s["line"])
            ).alias(text_col),
            "n_lines",
        )
    )


def line_dedup_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_regex: str = r"\n",
    sep: str = "\n",
    mode: str = "drop_common",
    max_doc_freq: int = 2,
) -> DataFrame:
    """One-call line-granular corpus rewrite: segment → corpus-wide line
    dedup → reassemble. Returns (id, text, n_lines) for documents with at
    least one surviving line."""
    return reassemble_lines(
        dedup_lines(
            segment_lines(docs, id_col, text_col, sep_regex),
            id_col,
            mode,
            max_doc_freq,
        ),
        id_col,
        sep,
        text_col,
    )


# --- winnowing fingerprints (Schleimer et al. 2003) -----------------------

# Position packing for the tie rule: (hash, pos) pairs are encoded into
# ONE int64 so a plain window MIN implements "minimum hash, rightmost
# position on ties" (robust winnowing) identically in every engine —
# no struct-typed window aggregates needed. 2^21 positions per document
# (2M tokens) is generous; hashes are 32-bit, so enc < 2^53 and even a
# double-routed division stays exact.
_WINNOW_POS_BITS = 2_097_152  # 2^21


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """(id, pos, fp) — robust winnowing (Schleimer, Wilkerson, Aiken
    2003: the MOSS local fingerprinting scheme): hash every word
    ``k``-gram, slide a window of ``window`` consecutive hashes, keep
    each window's minimum (rightmost position on ties), dedupe. The
    guarantees the scheme is chosen for: any shared token run of
    ≥ k + window - 1 words between two documents yields at least one
    SHARED fingerprint (detection), and at least one fingerprint is
    selected per window (density ≤ 1, expected 2/(window+1)) — a
    position-aware overlap primitive between minhash (set-level, no
    positions) and the exact substring index (every gram).

    Scale shape: one posexplode (spread by id first, the word_shingles
    convention), ONE window shuffle on (id, pos) — reusing the spread's
    hash partitioning — and a distinct that rides the same exchange.
    Hashes are md5-prefix 32-bit (the engine's deterministic hash
    convention), so fingerprints are reproducible across engines and
    partitionings. Documents shorter than ``k`` words contribute their
    whole text as one gram; documents with fewer than ``window`` hashes
    contribute their single minimum."""
    if k < 1 or window < 1:
        raise ValueError("need k >= 1 and window >= 1")
    docs = spread(docs, id_col)
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    grams = docs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(F.split(F.lower(F.col(text_col)), r"\s+"),
                                 i + 1, k)
                ),
            )
        ).alias("pos", "gram"),
    )
    h = F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10).cast("long")
    enc = h * F.lit(_WINNOW_POS_BITS) + (
        F.lit(_WINNOW_POS_BITS - 1) - F.col("pos")
    )
    wspec = (
        W.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(window - 1), W.currentRow)
    )
    sel = (
        grams.withColumn("enc", enc)
        .withColumn("em", F.min("enc").over(wspec))
        .withColumn("mp", F.max("pos").over(W.partitionBy(id_col)))
        # every full window ends at pos >= window-1; a document with
        # fewer hashes than the window gets its single global min from
        # the partial window ending at its last position
        .filter((F.col("pos") >= window - 1) | (F.col("pos") == F.col("mp")))
        .select(
            F.col(id_col),
            (
                F.lit(_WINNOW_POS_BITS - 1)
                - F.pmod(F.col("em"), F.lit(_WINNOW_POS_BITS))
            ).alias("pos"),
            F.floor(F.col("em") / F.lit(_WINNOW_POS_BITS))
            .cast("long")
            .alias("fp"),
        )
        .distinct()
    )
    return sel


def winnow_overlap_pairs(
    fps: DataFrame,
    id_col: str,
    min_shared: int = 2,
    max_fp_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, shared) — document pairs sharing ≥ ``min_shared``
    winnowing fingerprints, the MOSS overlap report. Self-join on the
    fingerprint VALUE: pair volume is Σ_fp df(fp)², so common-boilerplate
    fingerprints are the blowup risk — ``max_fp_df`` prunes fingerprints
    appearing in more than that many documents before the join (the
    maxdf cut BM25 applies to stopword postings; a fingerprint half the
    corpus shares identifies nothing anyway). At production scale ALWAYS
    set it: with the cap, pair volume is bounded by n_fps · max_fp_df."""
    keyed = fps.select(F.col(id_col).alias("_wid"), "fp").distinct()
    if max_fp_df is not None:
        ok = (
            keyed.groupBy("fp")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_fp_df)
            .select("fp")
        )
        keyed = keyed.join(ok, "fp", "left_semi")
    a = keyed.select(F.col("_wid").alias("id_a"), "fp")
    b = keyed.select(F.col("_wid").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
