"""Incremental link-graph index: persisted edges + weakly-connected
components maintained across appends at INCREMENT cost.

The graph sibling of operators/incremental.py (and the index behind
streaming/dedup_stream.py): a crawl discovers edges continuously; the
questions a curation pipeline asks of the graph — "which site cluster
is this page in?", "how big is its component?" — must not require
re-running connected components over every edge ever seen. This index
keeps the answer current by contracting each increment onto component
LABELS, so per-batch work is bounded by the batch plus the (tiny)
label-merge graph, never the corpus.

Index layout under ``index_path``:

  edges/   (src, dst) DISTINCT accepted edges, BUCKETED by src — the
           batch's already-present check joins with an increment-only
           shuffle (hash(src) co-location satisfies the (src,dst)
           join's clustering), and the bucketing is exactly what
           pagerank / hits / scc want when the full graph IS
           re-analyzed (graph_edges).
  labels/  (node, label, _wm) — one row per node EVER seen, appended
           when first seen; label = its component's min node id AS OF
           that append (current labels resolve through the merge log).
           Bucketed by node; base-build rows carry _wm NULL, appended
           rows the writing batch's watermark (the retrieval-index
           convention, so a rebuild can cut a partial append).
  merges/  (old, new, _wm) APPEND-ONLY merge log: a row means
           component label ``old`` was superseded by ``new``. Reads
           fold the log's chains driver-side (old→A, later A→B ⇒
           old→B) — the log is MERGE-bounded (≤ one row per superseded
           label, cleared by compact_graph_index), the
           bounded-control-plane class of a BPE vocab collect; fold
           order is by (_wm, old), deterministic.
  _meta.json — n_buckets, the base watermark.

Invariant (pinned by tests): after any sequence of ``add_edges``
batches, ``components(...)`` equals ``linkgraph.connected_components``
over the union of all edges — bit-identical, because base labels are
component-min node ids and every merge relabels to the min over the
merged parts, so min-of-mins == the batch min.

Delivery/recovery contract (the standing incremental-index rules):
batch ids are MONOTONE — every edge a batch adds carries a src above
all completed watermarks (the crawl convention: src is the newly
fetched page) — and all three tables cut back to a watermark with one
filter (edges on src, labels and merges on _wm), which is what
streaming/rebuild.py:rebuild_graph_index does after a mid-append crash
(the guarded stream twin is streaming/dedup_stream.py).

Per-batch cost: one distinct + bucketed anti-join for edge dedup, one
bucketed join of the batch's ENDPOINTS against labels/, one
pointer-jumped WCC over the CONTRACTED merge graph (rows ≤ batch
edges — the duplicate_clusters engine on a toy input), bucket-
preserving appends, and one small parquet append for the merge log.
Corpus edges and corpus labels never shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basic_data_pipeline_spark.streaming import swapstore as _swapstore
from basic_data_pipeline_spark import caching
from basic_data_pipeline_spark.operators import indexspec

SPEC = indexspec.GRAPH
DEFAULT_INDEX_BUCKETS = SPEC.n_buckets


def _norm_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).distinct()


def load_alias_map(
    spark: SparkSession, index_path: str, as_of: int | None = None
) -> dict:
    """Fold the merge log into a direct old→current dict (chains
    resolved with path compression). Driver-side on purpose: the log is
    merge-bounded and cleared at compaction — the BPE-collect class.
    ``as_of`` (an id watermark) drops merge rows written after it —
    the snapshot-read cut (base rows carry _wm NULL and are kept)."""
    mg = spark.read.parquet(SPEC.path(index_path, "merges"))
    if as_of is not None:
        mg = SPEC.keep_rows(mg, "merges", indexspec.Cut(as_of, -1, None))
    rows = mg.orderBy("_wm", "old").collect()
    fold: dict = {}
    for r in rows:
        fold[r["old"]] = fold.get(r["new"], r["new"])
    # path-compress older entries whose target merged later
    for k in list(fold):
        v = fold[k]
        seen = [k]
        while v in fold and fold[v] != v:
            seen.append(v)
            v = fold[v]
        for s in seen:
            fold[s] = v
    return fold


def _alias_df(spark: SparkSession, fold: dict, node_t: str) -> DataFrame:
    return spark.createDataFrame(
        list(fold.items()) or [], f"a_old {node_t}, a_new {node_t}"
    )


def _empty_merges(spark: SparkSession, index_path: str, node_t: str) -> None:
    spark.createDataFrame(
        [], f"old {node_t}, new {node_t}, _wm long"
    ).coalesce(1).write.mode("overwrite").parquet(
        SPEC.path(index_path, "merges")
    )


@_swapstore.leased("index_path", owner="batch:incremental_linkgraph.build_graph_index")
def build_graph_index(
    spark: SparkSession,
    edges: DataFrame,
    index_path: str,
    src: str = "src",
    dst: str = "dst",
    n_buckets: int = DEFAULT_INDEX_BUCKETS,
) -> DataFrame:
    """Create the index from a base edge set: distinct edges bucketed
    by src, the full WCC labeling bucketed by node, an empty merge log.
    Returns the (node, label) base labeling."""
    from basic_data_pipeline_spark.operators.linkgraph import (
        connected_components,
    )

    with caching.held() as h:
        e = h.cut(_norm_edges(edges, src, dst))
        labels = connected_components(e).select(
            "node",
            F.col("component").alias("label"),
            F.lit(None).cast("long").alias("_wm"),
        )
        meta = {"n_buckets": n_buckets}
        SPEC.write(e, index_path, "edges", meta, mode="overwrite")
        SPEC.write(labels, index_path, "labels", meta, mode="overwrite")
        _empty_merges(spark, index_path, dict(e.dtypes)["src"])
        meta["max_id"] = e.agg(F.max(F.greatest("src", "dst"))).first()[0]
        SPEC.write_meta(index_path, meta)
        return labels.select("node", "label")


@_swapstore.leased("index_path", owner="batch:incremental_linkgraph.add_edges")
def add_edges(
    spark: SparkSession,
    new_edges: DataFrame,
    index_path: str,
    src: str = "src",
    dst: str = "dst",
    wm: int | None = None,
) -> DataFrame:
    """Fold one batch of edges into the index; returns the batch's
    RESOLVED (node, component) rows (current labels for every endpoint
    the batch touched). ``wm`` is the batch watermark recorded on the
    rows this batch appends — defaults to the batch's max src (the
    monotone-id crawl convention); pass it explicitly when driving from
    the guarded stream."""
    from basic_data_pipeline_spark.operators.dedup import duplicate_clusters

    meta = SPEC.read_meta(spark, index_path)
    idx_e = SPEC.register(spark, index_path, "edges", meta)
    idx_l = SPEC.register(spark, index_path, "labels", meta)

    with caching.held() as h:
        fresh = h.cut(
            _norm_edges(new_edges, src, dst).join(
                idx_e, ["src", "dst"], "left_anti"
            )
        )
        if wm is None:
            wm = fresh.agg(F.max("src")).first()[0]
            if wm is None:  # empty batch
                return spark.createDataFrame(
                    [], idx_l.select("node", "label").schema
                ).withColumnRenamed("label", "component")
        node_t = dict(idx_l.dtypes)["node"]
        fold = load_alias_map(spark, index_path)
        al = _alias_df(spark, fold, node_t)

        ends = (
            fresh.select(F.col("src").alias("node"))
            .union(fresh.select(F.col("dst").alias("node")))
            .distinct()
        )
        # current labels for touched endpoints: base label -> folded merge
        # map (broadcast), unseen node -> itself
        cur = h.cut(
            ends.join(idx_l.select("node", "label"), "node", "left")
            .withColumn("_base", F.coalesce("label", F.col("node")))
            .join(
                F.broadcast(al).withColumnRenamed("a_old", "_base"),
                "_base",
                "left",
            )
            .select(
                "node",
                F.coalesce("a_new", F.col("_base")).alias("cur"),
                F.col("label").isNull().alias("is_new"),
            )
        )
        # contracted merge graph: one row per fresh edge, endpoints -> cur
        s = cur.select(F.col("node").alias("src"), F.col("cur").alias("_ca"))
        d = cur.select(F.col("node").alias("dst"), F.col("cur").alias("_cb"))
        contracted = (
            fresh.join(s, "src").join(d, "dst")
            .where(F.col("_ca") != F.col("_cb"))
            .select(F.col("_ca").alias("id_a"), F.col("_cb").alias("id_b"))
            .distinct()
        )
        merged = duplicate_clusters(contracted)  # (doc_id, cluster=min label)
        new_map = h.cut(
            merged.where(F.col("doc_id") != F.col("cluster")).select(
                F.col("doc_id").alias("m_old"), F.col("cluster").alias("m_new")
            )
        )
        # resolved view of the batch's endpoints (post-merge)
        resolved = h.cut(
            cur.join(
                F.broadcast(new_map).withColumnRenamed("m_old", "cur"),
                "cur",
                "left",
            ).select(
                "node",
                F.coalesce("m_new", F.col("cur")).alias("component"),
                "is_new",
            )
        )
        # -- index mutations: all appends, all cut by one watermark --------
        SPEC.write(fresh, index_path, "edges", meta)
        new_labels = resolved.where("is_new").select(
            "node",
            F.col("component").alias("label"),
            F.lit(wm).cast("long").alias("_wm"),
        )
        SPEC.write(new_labels, index_path, "labels", meta)
        # merge-log append: only for superseded labels that can appear in
        # labels/ — a brand-new node's label row was appended already
        # resolved, so its id never needs an alias entry
        batch_new = resolved.where("is_new").select(
            F.col("node").alias("m_old")
        )
        new_map.join(batch_new, "m_old", "left_anti").select(
            F.col("m_old").alias("old"),
            F.col("m_new").alias("new"),
            F.lit(wm).cast("long").alias("_wm"),
        ).coalesce(1).write.mode("append").parquet(
            SPEC.path(index_path, "merges")
        )
        return h.keep(resolved).select("node", "component")


def components(
    spark: SparkSession, index_path: str, as_of_completed: bool = False
) -> DataFrame:
    """(node, component) — the CURRENT labeling: base labels resolved
    through the folded merge log (broadcast). One in-place index scan,
    no corpus shuffle.

    ``as_of_completed=True`` pins the read to the last COMPLETED
    epoch's id watermark (operators/indexspec.py — the rebuild cuts):
    label rows written after it and merge-log rows tagged after it drop
    out, so a read concurrent with an in-flight add_edges resolves a
    consistent snapshot (base rows carry _wm NULL and always stay)."""
    meta, cut = SPEC.pinned(spark, index_path, as_of_completed)
    idx_l = SPEC.read(spark, index_path, "labels", meta, cut)
    return _resolve(spark, idx_l, index_path, cut.wm if cut else None)


def _resolve(
    spark: SparkSession, labels: DataFrame, index_path: str, as_of=None
) -> DataFrame:
    """(node, component): ``labels`` resolved through the merge log
    folded as of the id watermark ``as_of`` (None: all of it)."""
    node_t = dict(labels.dtypes)["node"]
    al = _alias_df(spark, load_alias_map(spark, index_path, as_of), node_t)
    return (
        labels.select("node", "label")
        .join(
            F.broadcast(al).withColumnRenamed("a_old", "label"),
            "label",
            "left",
        )
        .select(
            "node", F.coalesce("a_new", F.col("label")).alias("component")
        )
    )


def graph_edges(
    spark: SparkSession, index_path: str, as_of_completed: bool = False
) -> DataFrame:
    """The accepted edge set (bucketed scan) — feed to pagerank / hits /
    strongly_connected_components for full re-analysis.
    ``as_of_completed=True`` pins to the last completed epoch's id
    watermark via the monotone-src crawl convention (the rebuild
    cut)."""
    meta, cut = SPEC.pinned(spark, index_path, as_of_completed)
    edges = SPEC.read(spark, index_path, "edges", meta, cut)
    return edges.select("src", "dst")


@_swapstore.leased("index_path", owner="batch:incremental_linkgraph.compact_graph_index")
def compact_graph_index(spark: SparkSession, index_path: str) -> dict:
    """Fold the merge log into labels/ (rewrite with resolved labels,
    then empty the log) while re-compacting both bucketed tables to one
    file per bucket (IndexSpec.compact, so the clean-ledger guard runs
    before the fold) — the read-side fold disappears until the next
    merge."""

    def fold(labels: DataFrame) -> DataFrame:
        return _resolve(spark, labels, index_path).select(
            "node",
            F.col("component").alias("label"),
            F.lit(None).cast("long").alias("_wm"),
        )

    out = SPEC.compact(spark, index_path, folds={"labels": fold})
    labels = spark.read.parquet(SPEC.path(index_path, "labels"))
    _empty_merges(spark, index_path, dict(labels.dtypes)["node"])
    return out
