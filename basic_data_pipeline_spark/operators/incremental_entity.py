"""Incremental entity resolution against a persisted fuzzy-match index.

The entity-resolution sibling of operators/incremental.py: the corpus's
records were resolved once (operators/entity.py); every arriving batch
of new records is matched against a persisted index and assigned a
canonical entity id at INCREMENT cost, never by re-resolving the corpus.

Index layout under ``index_path`` (mirroring the dedup index):

  grams/    (gram, id, _len)    — each indexed record's PREFIX grams
                                  (k·q+1 under the frozen global order +
                                  the short-string sentinel), BUCKETED by
                                  gram: the cross-batch candidate join
                                  shuffles only the increment side.
  strings/  (id, text, entity)  — normalized text + entity assignment,
                                  bucketed by id: the verify-stage text
                                  lookup is exchange-free on the index
                                  side.
  freq/     (gram, f)           — the gram-frequency order FROZEN at
                                  build time. Correctness of the prefix
                                  filter needs one CONSISTENT total
                                  order on grams, not a current one:
                                  re-ranking old grams as frequencies
                                  drift would silently invalidate the
                                  prefixes already stored, so the order
                                  never changes; unseen grams rank
                                  first (f=0 — ties broken by gram).
  aliases/  (entity, canonical) — append-only merge log. A new record
                                  can BRIDGE two previously separate
                                  entities; instead of rewriting every
                                  affected index row (corpus-cost), the
                                  losing entity id gets an alias to the
                                  winning one and every read resolves
                                  through the alias table (bounded by
                                  the number of merges, pointer-jumped
                                  to a fixpoint).

Id convention (same as incremental.py): ids are globally unique and new
batches' ids sort AFTER all existing ids, so "canonical = component
minimum" always means "the oldest record wins" across any batch split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from basic_data_pipeline_spark.caching import tracked_persist
from basic_data_pipeline_spark.streaming import swapstore as _swapstore
from basic_data_pipeline_spark.operators import entity as E
from basic_data_pipeline_spark.operators import indexspec
from basic_data_pipeline_spark.operators.dedup import duplicate_clusters

SPEC = indexspec.ENTITY
DEFAULT_BUCKETS = SPEC.n_buckets


def _prefix_with_frozen_freq(
    tagged: DataFrame, freq: DataFrame, max_edit: int, q: int
) -> DataFrame:
    """(id, _len, gram): prefix grams of (_id, _txt) rows under the
    FROZEN frequency order (unseen grams → f=0, rank first)."""
    k = max_edit
    grams = tagged.select(
        "_id", F.length(F.lower(F.trim(F.col("_txt")))).alias("_len"),
        F.explode(E.qgrams(F.col("_txt"), q)).alias("gram"),
    )
    grams = tracked_persist(grams)
    ranked = grams.join(F.broadcast(freq), "gram", "left").withColumn(
        "_rk",
        F.row_number().over(
            W.partitionBy("_id").orderBy(
                F.asc(F.coalesce(F.col("f"), F.lit(0))), F.asc("gram")
            )
        ),
    )
    prefix = ranked.filter(F.col("_rk") <= k * q + 1).select(
        "_id", "_len", "gram"
    )
    shorts = (
        grams.groupBy("_id", "_len")
        .agg(F.count(F.lit(1)).alias("_ng"))
        .filter(F.col("_ng") <= k * q)
        .select("_id", "_len", F.lit(E._SHORT).alias("gram"))
    )
    return prefix.unionByName(shorts)


@_swapstore.leased("index_path", owner="batch:incremental_entity.build_entity_index")
def build_entity_index(
    spark: SparkSession,
    records: DataFrame,
    index_path: str,
    id_col: str = "id",
    text_col: str = "name",
    max_edit: int = 1,
    q: int = 3,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """One-shot resolution of the initial corpus + index build. Returns
    the (id, entity_id) assignments."""
    assigned = E.resolve_entities(records, id_col, text_col, max_edit, q)
    norm = records.select(
        F.col(id_col).alias("_id"),
        F.lower(F.trim(F.col(text_col))).alias("_txt"),
    )
    # frozen order: frequencies over the FULL gram multiset at build
    freq = (
        norm.select(F.explode(E.qgrams(F.col("_txt"), q)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    freq.write.mode("overwrite").parquet(SPEC.path(index_path, "freq"))
    freq = spark.read.parquet(SPEC.path(index_path, "freq"))

    meta = {"id_col": id_col, "text_col": text_col, "max_edit": max_edit,
            "q": q, "n_buckets": n_buckets}
    pg = _prefix_with_frozen_freq(norm, freq, max_edit, q).select(
        "gram", F.col("_id").alias("id"), "_len"
    )
    SPEC.write(pg, index_path, "grams", meta, mode="overwrite")
    strings = norm.join(
        assigned.select(
            F.col(id_col).alias("_id"), F.col("entity_id").alias("entity")
        ),
        "_id",
    ).select(F.col("_id").alias("id"), F.col("_txt").alias("text"), "entity")
    SPEC.write(strings, index_path, "strings", meta, mode="overwrite")
    # alias rows carry the stream epoch that appended them (_epoch;
    # null for batch callers): the watermark cut of a crashed epoch's
    # half-appended merges
    spark.createDataFrame(
        [], "entity long, canonical long, _epoch int"
    ).write.mode("overwrite").parquet(SPEC.path(index_path, "aliases"))
    meta["max_id"] = records.agg(F.max(id_col)).first()[0]
    SPEC.write_meta(index_path, meta)
    return assigned


def _resolve_aliases(
    assigned: DataFrame, aliases: DataFrame, col: str, max_hops: int = 10
) -> DataFrame:
    """Follow ``col`` through the alias log to its fixpoint (pointer
    jumping on the BROADCAST-small alias table)."""
    out = assigned
    for _ in range(max_hops):
        out2 = out.join(
            F.broadcast(aliases.withColumnRenamed("entity", col)),
            col,
            "left",
        ).withColumn(
            col, F.coalesce(F.col("canonical"), F.col(col))
        ).drop("canonical")
        # fixpoint check is one bounded aggregate over the alias keys only
        changed = (
            out2.join(
                F.broadcast(aliases.withColumnRenamed("entity", col)), col,
                "left_semi",
            ).limit(1).count()
        )
        out = out2
        if changed == 0:
            return out
    raise RuntimeError("alias chain deeper than max_hops — index corrupt?")


@_swapstore.leased("index_path", owner="batch:incremental_entity.incremental_resolve")
def incremental_resolve(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    epoch: int | None = None,
) -> DataFrame:
    """Assign canonical entity ids to ``batch`` at increment cost and
    fold it into the index. Returns (id, entity_id) for the batch.
    ``epoch`` (set by the streaming skeleton) tags this batch's alias
    appends so a crashed epoch's merges are identifiable on rebuild.

    Steps: prefix grams under the frozen order → ONE candidate equi-join
    against the bucketed gram table (increment side shuffles, index side
    scans in place) → levenshtein verify via the id-bucketed strings →
    component clustering over (batch↔batch ∪ batch↔matched-entity)
    edges → canonical = component minimum (the oldest id). Old entities
    bridged into one component are merged via the append-only alias log,
    never by rewriting index rows."""
    meta = SPEC.read_meta(spark, index_path)
    id_col, text_col = meta["id_col"], meta["text_col"]
    k, q = meta["max_edit"], meta["q"]
    idx_grams = SPEC.register(spark, index_path, "grams", meta)
    idx_strings = SPEC.register(spark, index_path, "strings", meta)
    freq = spark.read.parquet(SPEC.path(index_path, "freq"))
    # select the two logical columns: legacy alias dirs lack _epoch and
    # post-upgrade dirs carry it — neither shape may leak into joins
    aliases = spark.read.parquet(SPEC.path(index_path, "aliases")).select(
        "entity", "canonical"
    )

    norm = batch.select(
        F.col(id_col).alias("_id"),
        F.lower(F.trim(F.col(text_col))).alias("_txt"),
    )
    norm = tracked_persist(norm)
    pg = _prefix_with_frozen_freq(norm, freq, k, q)

    cand = (
        idx_grams.alias("ix")
        .join(
            pg.alias("nw"),
            (F.col("ix.gram") == F.col("nw.gram"))
            & (F.abs(F.col("ix._len") - F.col("nw._len")) <= k),
        )
        .select(
            F.col("ix.id").alias("idx_id"), F.col("nw._id").alias("new_id")
        )
        .distinct()
    )
    verified = (
        cand.join(idx_strings.withColumnRenamed("id", "idx_id"), "idx_id")
        .join(norm.withColumnRenamed("_id", "new_id"), "new_id")
        .filter(F.levenshtein(F.col("text"), F.col("_txt")) <= k)
        .select("new_id", "entity")
    )
    # matched old entities, alias-resolved to their CURRENT canonical
    matched = _resolve_aliases(verified, aliases, "entity").distinct()

    intra = E.fuzzy_pairs(norm, "_id", "_txt", k, q).select("id_a", "id_b")
    edges = intra.unionByName(
        matched.select(
            F.col("new_id").alias("id_a"), F.col("entity").alias("id_b")
        )
    )
    edges = tracked_persist(edges)
    if edges.limit(1).count() == 0:
        assigned = norm.select(
            F.col("_id").alias(id_col), F.col("_id").alias("entity_id")
        )
    else:
        clusters = duplicate_clusters(
            edges.withColumn("jaccard", F.lit(1.0))
        )
        assigned = norm.join(
            clusters.withColumnRenamed("doc_id", "_id"), "_id", "left"
        ).select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("cluster"), F.col("_id")).alias("entity_id"),
        )
        # bridge merges: an OLD entity whose component canonical is not
        # itself gets an alias record (bounded by matches, never a rewrite)
        merges = (
            matched.select(F.col("entity").alias("doc_id"))
            .distinct()
            .join(clusters, "doc_id")
            .filter(F.col("doc_id") != F.col("cluster"))
            .select(
                F.col("doc_id").alias("entity"),
                F.col("cluster").alias("canonical"),
            )
            .distinct()
            .withColumn("_epoch", F.lit(epoch).cast("int"))
        )
        merges.write.mode("append").parquet(SPEC.path(index_path, "aliases"))
    assigned = tracked_persist(assigned)
    assigned.count()  # pin assignments BEFORE the index grows

    # fold the batch into the index
    SPEC.write(pg.select("gram", F.col("_id").alias("id"), "_len"),
               index_path, "grams", meta)
    SPEC.write(
        norm.join(
            assigned.select(
                F.col(id_col).alias("_id"), F.col("entity_id").alias("entity")
            ),
            "_id",
        ).select(
            F.col("_id").alias("id"), F.col("_txt").alias("text"), "entity"
        ),
        index_path, "strings", meta,
    )
    return assigned


def current_entities(
    spark: SparkSession, index_path: str, as_of_completed: bool = False
) -> DataFrame:
    """(id, entity_id) for every indexed record, alias-resolved — the
    user-facing dump of the maintained resolution.

    ``as_of_completed=True`` pins the read to the last COMPLETED epoch
    (operators/indexspec.py): strings above the id watermark and alias
    rows tagged with a later epoch are filtered out — the same cuts the
    crash rebuild makes — so a read concurrent with an in-flight append
    resolves against a consistent snapshot. Legacy alias logs without
    the _epoch column keep all rows (their in-flight merges cannot be
    identified; alias reads are distinct-ed so the worst case is seeing
    a merge early, never a torn one)."""
    meta, cut = SPEC.pinned(spark, index_path, as_of_completed)
    strings = SPEC.read(spark, index_path, "strings", meta, cut)
    aliases = SPEC.read(spark, index_path, "aliases", meta, cut).select(
        "entity", "canonical"
    )
    out = strings.select(
        F.col("id").alias(meta["id_col"]), F.col("entity").alias("entity_id")
    )
    return _resolve_aliases(out, aliases, "entity_id")


def compact_index(spark: SparkSession, index_path: str) -> dict:
    """Fold the grams/strings tables back to one file per bucket
    (IndexSpec.compact). The frozen freq table and the epoch-tagged
    alias log are plain parquet dirs, left alone."""
    return SPEC.compact(spark, index_path)
