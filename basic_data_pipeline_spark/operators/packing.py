"""Training-sequence packing and benchmark-contamination operators.

Two corpus-preparation stages every LLM training pipeline runs after
dedup/filtering, absent from the reference (its pipeline stops at CDC
ingest, /root/reference/consumer_to_file.py) and from round-4's surface:

* ``pack_sequences`` — assign each document a position in the stream of
  fixed-length training windows (the "sequence packing" step that turns a
  ragged corpus into dense ``seq_len``-token rows). The core is a GLOBAL
  prefix sum of token counts in a deterministic document order. A naive
  ``Window.orderBy(id)`` computes it on ONE partition — a non-starter at
  corpus scale — so this implements the classic two-phase distributed scan:
  range-partition by id, per-partition partial sums, a driver-side prefix
  over the per-partition totals (#partitions rows, bounded control-plane
  data), then a broadcast join of the offsets back onto each partition's
  local running sum. Every heavy stage stays fully parallel.

* ``contamination_hits`` — per-document count of word n-grams shared with
  a benchmark/eval set (the train-test decontamination check). Expressed
  as a shingle-explode + equi-join + per-doc countDistinct: never an
  all-pairs document comparison; the join key space is the benchmark's
  shingle set, which is small by construction (eval suites are ~10^3-10^6
  docs even when the corpus is 100 TB). The benchmark side is aggregated
  to distinct shingles and broadcast when small.

* ``contamination_hits_bloom`` — the same check behind a Bloom PREFILTER
  built distributed over the benchmark shingles and applied to the corpus
  side as a pure codegen expression (k xxhash64 probes into a bigint-array
  literal; no UDF, no join, no shuffle). Identical results — the exact
  join still verifies every candidate and the filter has no false
  negatives — but the corpus-side row volume entering the join drops by
  ~(1 − fpp): the difference between shuffling the CORPUS's shingles and
  shuffling roughly the BENCHMARK's volume when the bench side outgrows a
  broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from basic_data_pipeline_spark.operators.dedup import word_shingles
from basic_data_pipeline_spark.caching import tracked_local_checkpoint


def _cum_before(
    docs: DataFrame,
    id_col: str,
    ntok_col: Column,
    parts: int | None = None,
) -> DataFrame:
    """(id, n_tok, cum_before): global prefix sum of token counts in
    ``id_col`` order, without a single-partition global sort — range
    partition by id, local running sums, a driver prefix over the
    per-partition totals (the one ``collect()``, bounded by the partition
    count: control-plane size, not data size), broadcast the offsets
    back. Deterministic — range boundaries only split the id order,
    never permute it."""
    n = parts or docs.sparkSession.sparkContext.defaultParallelism
    d = (
        docs.select(F.col(id_col), ntok_col.cast("long").alias("n_tok"))
        .repartitionByRange(n, F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
    )
    # Pin the partition assignment: repartitionByRange samples its
    # boundaries per-execution, so without materializing here the totals
    # job and the caller's downstream job could see DIFFERENT _pid
    # assignments for boundary rows, silently corrupting the prefix sum.
    # The eager cut is immune to cache eviction and inherits the
    # session's lineage-cut mode — on a real cluster `reliable` stages
    # the pinned assignment durably, because this pin is for
    # DETERMINISM: executor loss must re-read the same boundary rows,
    # never recompute a fresh sample. Session lifetime: the returned
    # plan reads it.
    d = tracked_local_checkpoint(d)
    w = (
        W.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    d = d.withColumn("_local_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
    totals = {
        r["_pid"]: r["tot"]
        for r in d.groupBy("_pid").agg(F.sum("n_tok").alias("tot")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid]
    off_df = F.broadcast(
        d.sparkSession.createDataFrame(offsets, "_pid int, _offset long")
    )
    return (
        d.join(off_df, "_pid")
        .select(
            F.col(id_col),
            F.col("n_tok"),
            (F.col("_local_before") + F.col("_offset")).alias("cum_before"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str,
    ntok_col: Column,
    seq_len: int,
    parts: int | None = None,
) -> DataFrame:
    """(id, n_tok, seq_bin, bin_pos): chunked packing of documents, in
    ``id_col`` order, into a stream of ``seq_len``-token windows.

    ``seq_bin`` is the window index where the document STARTS
    (= floor(tokens_before / seq_len)) and ``bin_pos`` its offset inside
    that window — enough for a writer to lay out dense training rows.
    Documents longer than ``seq_len`` simply span multiple windows, as in
    standard packed-causal-LM preprocessing. See ``_cum_before`` for the
    distributed prefix-sum design.
    """
    cum = _cum_before(docs, id_col, ntok_col, parts)
    return cum.select(
        F.col(id_col),
        F.col("n_tok"),
        F.floor(F.col("cum_before") / seq_len).alias("seq_bin"),
        (F.col("cum_before") % seq_len).alias("bin_pos"),
    )


def pack_token_windows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    seq_len: int,
    parts: int | None = None,
) -> DataFrame:
    """(seq_bin, n_tokens, n_docs, tokens): the MATERIALIZED packed
    training rows — every window is exactly ``seq_len`` lower-cased
    whitespace tokens (the final window may be shorter), documents
    crossing a boundary contribute their head to one window and their
    tail to the next, exactly as a packed-causal-LM data loader lays out
    the token stream.

    Plan shape: the per-document global offset comes from the distributed
    prefix sum (``_cum_before``); tokens then posexplode with
    ``global_pos = cum_before + pos`` and group by
    ``floor(global_pos / seq_len)``. The groupBy shuffles each token row
    once — linear in corpus token count, the unavoidable packing
    shuffle — and each output group is bounded by ``seq_len`` (one
    training row), so no group can overwhelm an executor regardless of
    document-length skew. n_tokens/n_docs derive from the ONE collected
    struct array rather than count(*)/countDistinct aggregates: a
    DISTINCT aggregate next to collect_list would trigger Catalyst's
    expand rewrite and shuttle every token row TWICE through the
    object-hash aggregate (the r11 agg_approx_distinct lesson) — here
    the array is seq_len-bounded, so deriving from it is free."""
    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias(
            "pos", "token"
        ),
    )
    cum = _cum_before(
        docs, id_col, F.size(F.split(F.lower(F.col(text_col)), r"\s+")), parts
    )
    g = F.col("cum_before") + F.col("pos")
    return (
        toks.join(cum.select(id_col, "cum_before"), id_col)
        .select(
            F.col(id_col),
            F.floor(g / seq_len).alias("seq_bin"),
            g.alias("_gpos"),
            "token",
        )
        .groupBy("seq_bin")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("_gpos"), F.col("token"), F.col(id_col))
                )
            ).alias("_s"),
        )
        .select(
            "seq_bin",
            F.size("_s").alias("n_tokens"),
            F.size(
                F.array_distinct(F.transform("_s", lambda s: s[id_col]))
            ).alias("n_docs"),
            F.transform("_s", lambda s: s["token"]).alias("tokens"),
        )
    )


def assign_contiguous_ids(
    docs: DataFrame,
    id_col: str,
    parts: int | None = None,
) -> DataFrame:
    """(id, row_idx): dense contiguous 0-based row indexes in ``id_col``
    order — the distributed replacement for zipWithIndex/monotonically_
    increasing_id when training shards need stable, gap-free numbering.
    Exactly the prefix-sum machinery of ``pack_sequences`` with a token
    count of 1: cum_before of a constant-1 column IS the row index. Same
    scale properties: range partition, local scans, driver prefix over
    #partitions totals, no single-partition sort."""
    cum = _cum_before(docs, id_col, F.lit(1), parts)
    return cum.select(F.col(id_col), F.col("cum_before").alias("row_idx"))


def chunk_documents(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int,
    overlap: int = 0,
) -> DataFrame:
    """(id, chunk_id, chunk_text, n_chunk_tokens): split each document
    into ``chunk_tokens``-token chunks with ``overlap`` tokens repeated
    between consecutive chunks — the RAG/embedding-prep step (bounded
    chunks for an encoder; overlap preserves cross-boundary context).
    Chunk starts step by ``chunk_tokens - overlap``; the final chunk may
    be shorter; every token of the document appears in at least one
    chunk. Deterministic: chunk_id is the 0-based chunk ordinal.

    Pure per-document array work inside one projection + explode — no
    shuffle at all, embarrassingly parallel at any corpus size (the
    output is ~(1 + overlap/chunk) × input tokens)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    n = F.size("_tk")
    # chunk starts: 0, step, 2*step, ... while start < n (at least one)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(step)), F.lit(1)
    ).cast("int")
    return (
        docs.select(F.col(id_col), toks.alias("_tk"))
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda c: F.slice(
                        F.col("_tk"), c * step + 1, F.lit(chunk_tokens)
                    ),
                )
            ).alias("chunk_id", "_chunk"),
        )
        .select(
            F.col(id_col),
            "chunk_id",
            F.array_join("_chunk", " ").alias("chunk_text"),
            F.size("_chunk").alias("n_chunk_tokens"),
        )
    )


def write_shards(
    docs: DataFrame,
    id_col: str,
    path: str,
    docs_per_shard: int,
    parts: int | None = None,
) -> DataFrame:
    """Write the corpus as EXACT-size training shards
    (``shard=K/part-*.parquet``, each with precisely ``docs_per_shard``
    documents in ``id_col`` order except a short final shard) and return
    the manifest (shard, n_docs, min_id, max_id).

    Training loaders want deterministic, equal-size shards —
    ``df.write.parquet`` alone gives whatever file sizes the partitioning
    produced. Built on the distributed prefix sum
    (``assign_contiguous_ids``): shard = row_idx // docs_per_shard,
    ``shard_pos`` preserves the within-shard order. The repartition on
    the shard key puts each shard wholly in one task, so every shard
    directory holds exactly one file; the shuffle is one pass over
    (id, shard) pairs — the document payload joins back by id and moves
    once."""
    if docs_per_shard < 1:
        raise ValueError("need docs_per_shard >= 1")
    ids = assign_contiguous_ids(docs, id_col, parts)
    assigned = docs.join(
        ids.select(
            F.col(id_col),
            (F.col("row_idx") / docs_per_shard).cast("long").alias("shard"),
            (F.col("row_idx") % docs_per_shard).alias("shard_pos"),
        ),
        id_col,
    )
    n_shards = assigned.agg(F.max("shard")).first()[0] + 1
    (
        assigned.repartition(int(n_shards), F.col("shard"))
        .sortWithinPartitions("shard", "shard_pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    spark = docs.sparkSession
    return (
        spark.read.parquet(path)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
        .orderBy("shard")
    )


def contamination_hits(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    broadcast_bench: bool = True,
    *,
    corpus_shingles: DataFrame | None = None,
    bench_stats: DataFrame | None = None,
) -> DataFrame:
    """(id, contam_hits): per-document count of distinct word ``n``-grams
    that also occur in ``bench`` (under a DIFFERENT document id, so a
    benchmark doc is not trivially contaminated by itself when the two
    frames overlap).

    The n-gram length is the decontamination knob: 8-gram overlap is the
    conventional "verbatim leak" signal (long enough that chance collision
    in natural text is negligible). Only documents with at least one hit
    appear — left-join and coalesce to 0 at the call site if a dense
    column is wanted.

    ``corpus_shingles`` / ``bench_stats`` accept pre-built (persisted)
    ``word_shingles(docs)`` / ``bench_shingle_stats(bench)`` frames so a
    caller running BOTH the exact and Bloom-prefiltered paths over the
    same corpus (the losslessness cross-check) shares one shingle pass
    instead of tokenizing everything twice.
    """
    corpus_sh = (
        corpus_shingles
        if corpus_shingles is not None
        else word_shingles(docs, id_col, text_col, n)
    )
    bench_sh = (
        bench_stats
        if bench_stats is not None
        else bench_shingle_stats(bench, id_col, text_col, n)
    )
    return _verify_hits(corpus_sh, bench_sh, id_col, broadcast_bench)


def bench_shingle_stats(
    bench: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(shingle, _n_bench_ids, _bench_witness) — the benchmark side
    aggregated to DISTINCT shingles before the (optional) broadcast:
    benchmark suites repeat boilerplate across docs, and broadcasting
    the raw (shingle, bench_id) pairs inflates the broadcast by exactly
    that repetition. The ≠-id exclusion only needs, per shingle, whether
    it occurs under >1 bench id and one witness id: a shingle is a hit
    for corpus doc X iff it occurs in bench under some id != X ⇔
    n_bench_ids > 1 OR witness_id != X."""
    return (
        word_shingles(bench, id_col, text_col, n)
        .groupBy("shingle")
        .agg(
            F.countDistinct(id_col).alias("_n_bench_ids"),
            F.min(id_col).alias("_bench_witness"),
        )
    )


def _verify_hits(
    corpus_sh: DataFrame,
    bench_sh: DataFrame,
    id_col: str,
    broadcast_bench: bool,
) -> DataFrame:
    if broadcast_bench:
        bench_sh = F.broadcast(bench_sh)
    return (
        corpus_sh.join(bench_sh, "shingle")
        .filter(
            (F.col("_n_bench_ids") > 1)
            | (F.col(id_col) != F.col("_bench_witness"))
        )
        .groupBy(id_col)
        .agg(F.countDistinct("shingle").alias("contam_hits"))
    )


# Bloom prefilter sizing caps: the filter rides in the plan as a literal
# bigint array, so its size is bounded hard — 2^28 bits = 32 MiB covers
# ~26M benchmark shingles at 10 bits/element before the exact join is
# the better plan anyway.
BLOOM_MAX_BITS = 1 << 28


def bloom_build(
    shingles: DataFrame,
    col: str = "shingle",
    bits_per_element: int = 10,
    k_hashes: int = 4,
) -> tuple[list[int], int, int]:
    """(words, m_bits, k_hashes): a Bloom filter over ``shingles[col]``
    as a list of m_bits/64 bigint words — built DISTRIBUTED (each value
    maps to k xxhash64 bit positions; one groupBy(word) bit_or collapses
    them) and collected as bounded control-plane data (m_bits/64 rows,
    never element-count rows). m_bits is the next power of two above
    n·bits_per_element (10 bits/element ≈ 1% false-positive rate at
    k=4)."""
    n = shingles.select(col).distinct().count()
    m_bits = 1024
    while m_bits < n * bits_per_element:
        m_bits <<= 1
    if m_bits > BLOOM_MAX_BITS:
        raise ValueError(
            f"bloom over {n} elements needs {m_bits} bits > cap "
            f"{BLOOM_MAX_BITS}; at that benchmark size skip the "
            "prefilter and use the exact join (contamination_hits)"
        )
    jarr = F.array([F.lit(j) for j in range(k_hashes)])
    pos = F.pmod(F.xxhash64("j", "s"), F.lit(m_bits))
    rows = (
        shingles.select(F.col(col).alias("s"))
        .select(F.explode(jarr).alias("j"), "s")
        .select(pos.alias("pos"))
        .groupBy(F.shiftright(F.col("pos"), 6).alias("widx"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT),"
                " CAST(pos % 64 AS INT)))"
            ).alias("w")
        )
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r["widx"]] = r["w"]
    return words, m_bits, k_hashes


def bloom_might_contain(
    col: Column, words: list[int], m_bits: int, k_hashes: int
) -> Column:
    """Membership test against a bloom_build filter as a PURE codegen
    expression — k xxhash64 probes, an array-literal lookup, and a
    bit_get each; no UDF, no join, no shuffle. False positives at the
    designed rate, never false negatives."""
    arr = F.lit(words)
    cond = None
    for j in range(k_hashes):
        pos = F.pmod(F.xxhash64(F.lit(j), col), F.lit(m_bits))
        word = F.element_at(
            arr, (F.shiftright(pos, 6) + F.lit(1)).cast("int")
        )
        hit = F.bit_get(word, pos.bitwiseAND(F.lit(63)).cast("int")) == 1
        cond = hit if cond is None else cond & hit
    return cond


def contamination_hits_bloom(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    broadcast_bench: bool = True,
    bits_per_element: int = 10,
    k_hashes: int = 4,
    *,
    corpus_shingles: DataFrame | None = None,
    bench_stats: DataFrame | None = None,
) -> DataFrame:
    """contamination_hits with a Bloom PREFILTER on the corpus side —
    identical output (the exact join still verifies every candidate;
    the filter has no false negatives), different scaling shape.

    This is the decontamination plan for when the benchmark side
    outgrows a cheap broadcast (many suites × many versions): without
    it, a shuffle join moves EVERY corpus shingle — ~doc_len rows per
    document at 100 TB — to find the ~0.1% that match. The Bloom filter
    (m_bits/8 bytes riding in the plan as a literal) drops ~99% of
    corpus shingles AT THE SCAN, before any exchange, so the join —
    broadcast or shuffle — only ever sees benchmark-sized row volumes.
    Build cost is one pass over the benchmark shingles plus an
    m_bits/64-row control-plane collect."""
    corpus_sh = (
        corpus_shingles
        if corpus_shingles is not None
        else word_shingles(docs, id_col, text_col, n)
    )
    bench_sh = (
        bench_stats
        if bench_stats is not None
        else bench_shingle_stats(bench, id_col, text_col, n)
    )
    words, m_bits, k = bloom_build(
        bench_sh, "shingle", bits_per_element, k_hashes
    )
    cand = corpus_sh.filter(
        bloom_might_contain(F.col("shingle"), words, m_bits, k)
    )
    return _verify_hits(cand, bench_sh, id_col, broadcast_bench)
