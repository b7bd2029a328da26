"""Incremental exact substring dedup against a persisted gram index.

The substring-dedup sibling of operators/incremental.py: the corpus was
substring-deduped once (operators/substring.py — Lee et al. first-
occurrence-wins over repeated ≥k-token windows); every arriving batch is
checked against a persisted index of every gram ever seen, at INCREMENT
cost, never by re-scanning the corpus.

Index layout under ``index_path``:

  grams/  (gram, doc, fpos) — the FIRST occurrence of every k-token
                              window fingerprint seen so far, BUCKETED
                              by gram: the batch's membership joins
                              shuffle only the increment side while the
                              index scans in place (the same
                              increment-only-shuffle property as the
                              LSH dedup index, plan-asserted in
                              tests/test_incremental_substring.py).
  _meta.json                — k, bucket spec.

Equivalence contract (tested batch-split == one-shot): with doc ids
globally unique and MONOTONE across batches (later batches sort after
earlier ones — the same convention as every incremental operator here),
feeding batches through ``incremental_substring_dedup`` produces
exactly the documents ``substring_dedup_corpus`` would produce over the
concatenated corpus:

* a batch gram already in the index → EVERY batch occurrence is a
  later-than-first occurrence → covered;
* a new gram → the batch-LOCAL first occurrence survives, later batch
  occurrences are covered only if the gram repeats within the batch —
  exactly the global rule, because batch order IS global order;
* coverage decisions are made on the ORIGINAL batch text (as the
  one-shot operator makes them on original documents), and every new
  gram's first occurrence is indexed whether or not removal elsewhere
  cut its tokens — mirroring the one-shot stats side which sees all
  original positions.

Per-batch cost: gram fingerprints (zero-shuffle projection), one
bucketed semi-join + one anti-join on the gram key (increment-only
shuffle), one batch-local aggregation for within-batch firsts, the
span-merge/removal machinery shared verbatim with the one-shot
operator, and an APPEND of the new grams' first occurrences. Corpus
text is never re-read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basic_data_pipeline_spark.streaming import swapstore as _swapstore
from basic_data_pipeline_spark import caching
from basic_data_pipeline_spark.operators import indexspec, substring

SPEC = indexspec.SUBSTRING
DEFAULT_INDEX_BUCKETS = SPEC.n_buckets


def _first_per_gram(occ: DataFrame, id_col: str) -> DataFrame:
    """(gram, doc, fpos): each gram's first occurrence within ``occ``.
    ``doc`` keeps ``id_col``'s native type."""
    return (
        occ.groupBy("gram")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_f"))
        .select(
            "gram",
            F.col(f"_f.{id_col}").alias("doc"),
            F.col("_f.pos").cast("int").alias("fpos"),
        )
    )


@_swapstore.leased("index_path", owner="batch:incremental_substring.build_substring_index")
def build_substring_index(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_buckets: int = DEFAULT_INDEX_BUCKETS,
) -> DataFrame:
    """One-shot substring dedup of the initial corpus + index build.
    Returns the deduped (id, text, n_tokens_kept) corpus. The index
    records EVERY gram's first occurrence (from the original texts —
    see module docstring for why that is the equivalence-preserving
    choice)."""
    occ = substring.gram_occurrences(docs, id_col, text_col, k)
    meta = {"id_col": id_col, "text_col": text_col, "k": k,
            "n_buckets": n_buckets}
    SPEC.write(_first_per_gram(occ, id_col), index_path, "grams", meta,
               mode="overwrite")
    meta["max_id"] = docs.agg(F.max(id_col)).first()[0]
    SPEC.write_meta(index_path, meta)
    return substring.substring_dedup_corpus(docs, id_col, text_col, k)


def read_substring_index(
    spark: SparkSession, index_path: str, as_of_completed: bool = False
) -> DataFrame:
    """The first-occurrence gram table (gram, doc, fpos), for external
    readers. ``as_of_completed=True`` pins the read to the last
    COMPLETED epoch's id watermark via the first-occurrence ``doc``
    column — a crashed/in-flight epoch's new grams all carry its doc
    ids (the rebuild cut). One codegen filter; bucketed layout
    preserved."""
    meta, cut = SPEC.pinned(spark, index_path, as_of_completed)
    return SPEC.read(spark, index_path, "grams", meta, cut)


@_swapstore.leased("index_path", owner="batch:incremental_substring.incremental_substring_dedup")
def incremental_substring_dedup(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
) -> DataFrame:
    """Substring-dedup ``batch`` against the persisted index and fold
    its new grams in. Returns the batch's surviving (id, text,
    n_tokens_kept) rows — identical to what the one-shot operator would
    emit for these documents over corpus ∪ batch."""
    meta = SPEC.read_meta(spark, index_path)
    id_col, text_col, k = meta["id_col"], meta["text_col"], meta["k"]
    idx = SPEC.register(spark, index_path, "grams", meta)

    with caching.held() as h:
        occ = h.persist(
            substring.gram_occurrences(batch, id_col, text_col, k)
        )
        # grams the corpus has seen: every batch occurrence is covered
        covered_known = occ.join(idx, "gram", "left_semi").select(id_col, "pos")
        # new grams: batch-local first survives; repeats within the batch
        # are covered (batch order IS global order — ids are monotone)
        new_occ = h.persist(occ.join(idx, "gram", "left_anti"))
        firsts = h.persist(_first_per_gram(new_occ, id_col))
        covered_new = (
            new_occ.join(firsts, "gram")
            .filter(
                ~(
                    (F.col(id_col) == F.col("doc"))
                    & (F.col("pos") == F.col("fpos"))
                )
            )
            .select(id_col, "pos")
        )
        dup = covered_known.unionByName(covered_new)
        out = substring.remove_spans(
            batch,
            substring.merge_window_spans(dup, k, id_col),
            id_col,
            text_col,
        )
        # Pin results BEFORE the index grows — and break lineage, not just
        # cache: the plan reads the catalog gram table, and the append below
        # INVALIDATES any cache entry that references it (Spark uncaches
        # dependent plans on table writes), so a mere persist would silently
        # recompute against the post-append index and see the batch's own
        # grams as "already known" (= everything covered, empty output).
        # localCheckpoint is an eager physical materialization with no
        # logical plan left to invalidate. The result has session
        # lifetime: the guarded stream frees it once the epoch's output
        # is written (batch callers: the next release_persisted).
        out = h.keep(h.cut(out))
        # firsts feeds the append next; checkpoint it off the table plan too
        # so writing it cannot race its own invalidation mid-job
        firsts = h.cut(firsts)
        SPEC.write(firsts, index_path, "grams", meta)
        return out


def compact_index(spark: SparkSession, index_path: str) -> dict:
    """Fold the gram table back to one file per bucket
    (IndexSpec.compact)."""
    return SPEC.compact(spark, index_path)
