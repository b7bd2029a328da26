"""Incremental BM25 retrieval against a persisted inverted index.

The retrieval sibling of operators/incremental.py (LSH dedup index) and
operators/incremental_substring.py (gram index): ``bm25_topk``
(operators/retrieval.py) rebuilds postings and corpus statistics from
the corpus on every call — right for one-shot analytics, wrong for the
serving/decontamination loop where the corpus arrives continuously and
queries are cheap. Here the corpus is indexed ONCE, every arriving
batch folds in at INCREMENT cost, and a search touches the index, never
the corpus text. The reference provisions the analytics store this
would serve from (spark.sh:17-27) but commits no retrieval code; this
is the Spark-first formulation of a Lucene-style inverted index as
three parquet tables.

Index layout under ``index_path``:

  postings/  (term, neighbor_id, dl, tf) — one row per (document,
             term), BUCKETED and SORTED by term: a search's term-lookup
             predicate reaches the parquet scan as a pushed filter, and
             the sort gives row-group min/max pruning INSIDE each
             bucket — the columnar re-expression of "seek the postings
             list for this term". Appends are bucketed writes of the
             increment only.
  dfreq/     (term, df, _wm) — ADDITIVE document-frequency deltas,
             bucketed by term: build writes the base counts, every
             increment appends its batch's per-term counts, and a
             search sums the (query-term-pruned) deltas. |distinct
             terms|-sized, never corpus-sized.
  stats/     (n_docs, sum_dl, _wm) — one tiny additive row per
             build/append; a search sums them into the exact global
             (N, Σdl) the one-shot operator would compute.
  _meta.json — id_col/text_col, bucket spec, base-corpus max id.

``_wm`` is the writing batch's max document id — the same monotone-id
watermark convention as every incremental index here, and what makes a
mid-append crash recoverable by ONE filtered rewrite per table
(streaming/rebuild.py rebuild_retrieval_index): completed rows have
watermark ≤ the ledger's completed-epoch max id, partial rows sit above
it. Postings rows carry the watermark implicitly in ``neighbor_id``.

Equivalence contract (tested in tests/test_incremental_retrieval.py):
``search_retrieval_index`` over an index built as ANY batch split
returns EXACTLY what ``bm25_topk`` returns over the concatenated
corpus — ranks and scores. That is exact, not approximate: tf/dl/df/N/
Σdl are integers summed exactly under any split, and the per-term
double arithmetic is the SAME expression tree
(retrieval.bm25_contribution) rounded at 6 places then summed as
DECIMAL(18,6). BM25 is order-free, so unlike the dedup indexes no
first-occurrence reasoning is needed — monotone ids are required only
by the crash-recovery watermark.

Scale notes (100 TB): an append shuffles ONLY the increment (one
(doc,term) partial agg + two bucketed writes + one driver-sized stats
row); a search never re-reads or re-shuffles the corpus — the bounded
query batch's term set is collected (retrieval APIs are driven by ≤
millions of queries, not by the corpus) and pushed into the postings
scan as a term predicate, df comes from the pruned delta log, and the
only shuffles are on (query_id, neighbor_id) — candidate-sized, exactly
the shuffles the one-shot operator pays AFTER its corpus passes.
``compact_dfreq`` folds the delta log when it grows long (many small
epochs), same epoch-compaction rationale as the ANN index maintenance;
``compact_index`` adds the bucket-preserving postings rewrite (one file
per bucket). Serving knobs: ``collect_terms=False`` swaps the pushed
term predicate for a semi-join when the query batch's vocabulary is too
large to collect; ``as_of_completed=True`` pins reads to the last
completed epoch's watermark (snapshot-consistent lookups while a stream
appends); ``hybrid_index_search`` fuses this index with the persisted
IVF index by reciprocal rank — the whole serving path off indexes, the
corpus never re-read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basic_data_pipeline_spark.caching import tracked_persist
from basic_data_pipeline_spark.streaming import swapstore as _swapstore
from basic_data_pipeline_spark.operators import indexspec, retrieval

SPEC = indexspec.RETRIEVAL
DEFAULT_INDEX_BUCKETS = SPEC.n_buckets


def _postings_of(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(term, neighbor_id, dl, tf) for ``docs`` — the same one-explode +
    one-groupBy build as retrieval.bm25_topk's corpus side (dl rides
    through the groupBy key: functional on the doc id)."""
    toks = docs.select(
        F.col(id_col).alias("neighbor_id"),
        F.size(retrieval._clean_tokens(F.col(text_col))).alias("dl"),
        F.explode(retrieval._clean_tokens(F.col(text_col))).alias("term"),
    )
    return toks.groupBy("neighbor_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )


def _stats_row(
    docs: DataFrame, text_col: str, wm_col
) -> DataFrame:
    """One additive (n_docs, sum_dl, _wm) row. Computed from the DOC
    side, not the postings: token-less documents count toward N exactly
    as they do in the one-shot operator."""
    return (
        docs.select(
            F.size(retrieval._clean_tokens(F.col(text_col))).alias("dl")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
        )
        .select("n_docs", "sum_dl", wm_col.alias("_wm"))
    )


def _write_increment(
    docs: DataFrame, index_path: str, meta: dict, mode: str
) -> tuple[DataFrame, object]:
    """Postings + dfreq delta + stats row for ``docs``, written in that
    order (all three are watermark-cut on rebuild, so partial-write
    order doesn't matter). Returns (persisted postings, watermark)."""
    id_col, text_col = meta["id_col"], meta["text_col"]
    wm = docs.agg(F.max(id_col)).first()[0]
    # _wm always carries the id column's OWN type: a base corpus whose
    # max id happens to fit an int32 must not freeze the column as INT
    # and overflow when a later batch's BIGINT watermark appends
    wm_col = F.lit(wm).cast(docs.schema[id_col].dataType)
    postings = tracked_persist(_postings_of(docs, id_col, text_col))
    SPEC.write(postings.select("term", "neighbor_id", "dl", "tf"),
               index_path, "postings", meta, mode)
    SPEC.write(
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .select("term", "df", wm_col.alias("_wm")),
        index_path, "dfreq", meta, mode,
    )
    _stats_row(docs, text_col, wm_col).write.mode(mode).parquet(
        SPEC.path(index_path, "stats")
    )
    return postings, wm


@_swapstore.leased("index_path", owner="batch:incremental_retrieval.build_retrieval_index")
def build_retrieval_index(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_INDEX_BUCKETS,
) -> dict:
    """Index the base corpus. Returns a summary dict {n_docs, sum_dl,
    n_postings}."""
    meta = {"id_col": id_col, "text_col": text_col, "n_buckets": n_buckets}
    postings, meta["max_id"] = _write_increment(
        docs, index_path, meta, "overwrite"
    )
    n_postings = postings.count()
    row = spark.read.parquet(SPEC.path(index_path, "stats")).first()
    SPEC.write_meta(index_path, meta)
    return {
        "n_docs": row["n_docs"],
        "sum_dl": row["sum_dl"],
        "n_postings": n_postings,
    }


@_swapstore.leased("index_path", owner="batch:incremental_retrieval.incremental_retrieval_append")
def incremental_retrieval_append(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
) -> DataFrame:
    """Fold ``batch`` into the index (increment-only shuffle — the
    index tables are appended, never read). Returns the batch's indexing
    receipt (neighbor_id, dl, n_terms): one row per batch document,
    computed from the batch alone (a zero-shuffle projection) — the
    natural per-epoch output for the streaming twin."""
    meta = SPEC.read_meta(spark, index_path)
    _write_increment(batch, index_path, meta, "append")
    toks = retrieval._clean_tokens(F.col(meta["text_col"]))
    return batch.select(
        F.col(meta["id_col"]).alias("neighbor_id"),
        F.size(toks).alias("dl"),
        F.size(F.array_distinct(toks)).alias("n_terms"),
    )


def index_stats(spark: SparkSession, index_path: str) -> dict:
    """Current global (n_docs, sum_dl) — the exact integer sums of the
    additive stats rows."""
    row = (
        spark.read.parquet(SPEC.path(index_path, "stats"))
        .agg(F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl"))
        .first()
    )
    return {"n_docs": row["n_docs"], "sum_dl": row["sum_dl"]}


def search_retrieval_index(
    spark: SparkSession,
    queries: DataFrame,
    index_path: str,
    k: int,
    *,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
    max_df_frac: float | None = None,
    exclude_self: bool = False,
    collect_terms: bool = True,
    as_of_completed: bool = False,
) -> DataFrame:
    """(query_id, neighbor_id, rank, score): top-k by BM25 against the
    persisted index — EXACTLY what bm25_topk(corpus-so-far, queries)
    would return, at index-lookup cost.

    ``collect_terms=True`` (default — the bounded-query-batch regime
    every retrieval API here assumes): the batch's distinct term set is
    collected to the driver and pushed into the postings/dfreq scans as
    a term predicate, so the big table is read through its sorted-bucket
    layout with row-group pruning instead of scanned — the columnar
    "seek the postings list". For query batches too large to
    materialize a term list on the driver (corpus-sized query-by-
    document sweeps), ``collect_terms=False`` prunes with a term
    semi-join against the bucketed postings instead — no driver
    collect, no pushed predicate (the index scans once), and only the
    QUERY side shuffles to the bucket layout. Results are identical.
    df and (N, Σdl) are exact sums of the pruned delta log and the
    stats rows. ``max_df_frac`` applies against the CURRENT doc count —
    the same cut the one-shot operator makes over the full corpus.

    ``as_of_completed=True`` pins the read to the last COMPLETED
    epoch's id watermark (the same cutoff the crash rebuild uses):
    postings above it and dfreq/stats rows tagged above it are filtered
    out, so a search that overlaps an in-flight (or crashed) append
    sees a CONSISTENT snapshot — exactly the index as of the last
    completed epoch — instead of partial postings whose df/stats
    haven't landed. The serving-path read-isolation knob for a live
    streaming index; costs three codegen filters, no extra pass."""
    meta, cut = SPEC.pinned(spark, index_path, as_of_completed)
    idx, dlog, stats_src = (
        SPEC.read(spark, index_path, t, meta, cut)
        for t in ("postings", "dfreq", "stats")
    )

    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.array_distinct(retrieval._clean_tokens(F.col(query_text_col)))
        ).alias("term"),
    )
    if collect_terms:
        terms = sorted(
            r["term"] for r in qterms.select("term").distinct().collect()
        )
        postings = idx.filter(F.col("term").isin(terms))
        dfreq = dlog.filter(F.col("term").isin(terms))
    else:
        tset = qterms.select("term").distinct()
        postings = idx.join(tset, "term", "left_semi")
        dfreq = dlog.join(tset, "term", "left_semi")
    dfreq = dfreq.groupBy("term").agg(F.sum("df").alias("df"))
    stats = stats_src.agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("sum_dl").alias("sum_dl"),
    )
    if max_df_frac is not None:
        dfreq = (
            dfreq.join(F.broadcast(stats), how="cross")
            .filter(F.col("df") <= F.col("n_docs") * F.lit(max_df_frac))
            .select("term", "df")
        )

    contrib = (
        postings.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats), how="cross")
        .select(
            "query_id",
            "neighbor_id",
            retrieval.bm25_contribution(k1, b).alias("c"),
        )
    )
    if exclude_self:
        contrib = contrib.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = contrib.groupBy("query_id", "neighbor_id").agg(
        F.sum("c").alias("score")
    )
    return retrieval.ranked_topk(scored, k)


def hybrid_index_search(
    spark: SparkSession,
    queries: DataFrame,
    index_path: str,
    ann_index_path: str,
    dim: int,
    k: int,
    *,
    fetch_k: int | None = None,
    nprobe: int = 2,
    k_rrf: int = 60,
    max_df_frac: float | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Hybrid (sparse + dense) retrieval ENTIRELY from persisted
    indexes: BM25 top-``fetch_k`` against the inverted index RRF-fused
    (retrieval.rrf_fuse) with cosine top-``fetch_k`` against the IVF
    index (similarity.ivf_index_search), re-ranked to the final ``k``.
    ``queries`` carries (query_id, query_text, embedding). The corpus is
    touched by NEITHER side — text goes through the term-bucketed
    postings, vectors through the cell-partitioned inverted lists — so
    a hybrid lookup costs two index probes + one union-and-aggregate
    fusion, the serving-path shape a 100 TB corpus demands.

    ``fetch_k`` (default 3k) controls how deep each list goes before
    fusion — RRF needs deeper inputs than the final cut because a
    neighbor strong in one modality may sit below k in the other. Note
    the IVF side always drops neighbor_id == query_id (its
    query-by-document contract); pass ``exclude_self=True`` to match on
    the BM25 side when the namespaces overlap."""
    from basic_data_pipeline_spark.operators import similarity

    fetch = fetch_k or max(3 * k, 10)
    sparse = search_retrieval_index(
        spark,
        queries.select("query_id", "query_text"),
        index_path,
        fetch,
        max_df_frac=max_df_frac,
        exclude_self=exclude_self,
    )
    dense = similarity.ivf_index_search(
        queries.select(F.col("query_id").alias("vec_id"), "embedding"),
        ann_index_path,
        dim,
        fetch,
        nprobe=nprobe,
    )
    return retrieval.rrf_fuse(
        {
            "bm25": sparse.select("query_id", "neighbor_id", "rank"),
            "cosine": dense.select("query_id", "neighbor_id", "rank"),
        },
        k,
        k_rrf=k_rrf,
    )


def _fold_dfreq(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("term")
        .agg(F.sum("df").alias("df"), F.max("_wm").alias("_wm"))
        .select("term", "df", "_wm")
    )


def compact_dfreq(spark: SparkSession, index_path: str) -> dict:
    """Fold the df delta log to one row per term (keeping each term's
    max watermark, so rebuild semantics survive compaction: folded rows
    cover completed appends only, so every future rebuild cutoff sits at
    or above their watermark). Run BETWEEN appends when many small
    epochs have accumulated; searches stay correct without it — this
    trades a one-off bucket shuffle for shorter delta scans. Refuses
    while a guarded stream's intent marker is pending
    (IndexSpec.compact). Returns {rows_before, rows_after, ...}."""
    return SPEC.compact(
        spark, index_path, ("dfreq",), {"dfreq": _fold_dfreq}
    )["dfreq"]


def compact_index(spark: SparkSession, index_path: str) -> dict:
    """Full index maintenance: rewrite the postings table back to one
    file per bucket AND fold the df delta log (compact_dfreq) —
    IndexSpec.compact with the dfreq fold."""
    return SPEC.compact(spark, index_path, folds={"dfreq": _fold_dfreq})
