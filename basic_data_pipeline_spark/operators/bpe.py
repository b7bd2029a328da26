"""Distributed byte-pair-encoding tokenizer training and encoding.

The tokenizer-training step of an LLM data pipeline (Sennrich et al.
2016, the GPT-2 vocabulary construction), absent from the reference
(whose pipeline stops at CDC ingest). Spark-first design:

* ``train_bpe`` works on the WORD-FREQUENCY table, not the corpus: one
  corpus-sized shuffle builds (word, freq), and every merge round after
  that is vocabulary-sized — the classic trick that makes BPE training
  tractable (a 100 TB corpus has ~10⁸ distinct words, thousands of times
  smaller than its token stream). Each round is: adjacent-symbol pair
  counts weighted by word frequency (one map-side-combined aggregation),
  ONE driver row for the arg-max pair (bounded control plane, like a
  Lloyd iteration), and a JVM array fold applying the merge — no Python
  in any per-row path. The vocab is localCheckpoint'd every round so the
  plan tree stays flat across iterations (the duplicate_clusters
  lesson).

* ``encode_bpe`` applies a learned merge list to documents through
  ``mapInPandas`` (Arrow-batched; a rank-ordered merge loop per word,
  memoized per distinct word within each batch) — the sanctioned Python
  path, since chaining hundreds of merge folds into one JVM expression
  tree would blow past codegen limits. ``apply_merge_jvm`` exposes the
  pure-JVM single-merge fold used by training, and the tests pin the
  two implementations to each other.

Determinism: pair selection orders by (count DESC, a ASC, b ASC); word
splitting is whitespace + character granularity. Same corpus → same
merge table, independent of partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from basic_data_pipeline_spark import caching

WS = r"\s+"


def word_freqs(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq): whitespace-token frequency table — the one
    corpus-sized aggregation in BPE training."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), WS)).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def apply_merge_jvm(syms: Column, a: str, b: str) -> Column:
    """Left-to-right non-overlapping replacement of adjacent (a, b) with
    a||b inside a symbol array — one JVM ``aggregate`` fold, no UDF.

    The fold appends each symbol unless the accumulator's last element
    is exactly ``a`` and the incoming symbol is exactly ``b``; merging
    rewrites the last element, and since a||b can never equal ``a``
    (``b`` is non-empty), a freshly merged element can't cascade into a
    second merge — exactly the serial scan-with-skip semantics."""
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    docs: DataFrame,
    text_col: str,
    n_merges: int,
    min_pair_freq: int = 2,
) -> list[tuple[int, str, str, int]]:
    """Learn up to ``n_merges`` BPE merges from ``docs``; returns
    [(rank, left, right, pair_freq)] in application order. Stops early
    when no adjacent pair reaches ``min_pair_freq``.

    The returned merge table is control-plane data (≤ n_merges rows) —
    the one deliberately driver-sided artifact, like k-means centroids.
    """
    if n_merges < 1:
        raise ValueError("need n_merges >= 1")
    with caching.held() as h:
        vocab = h.cut(
            word_freqs(docs, text_col).select(
                F.col("freq"),
                F.split(F.col("word"), "").alias("syms"),
            )
        )
        merges: list[tuple[int, str, str, int]] = []
        for rank in range(n_merges):
            pairs = (
                vocab.filter(F.size("syms") >= 2)
                .select(
                    "freq",
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda i: F.struct(
                                F.element_at(F.col("syms"), i).alias("a"),
                                F.element_at(F.col("syms"), i + 1).alias("b"),
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy("p.a", "p.b")
                .agg(F.sum("freq").alias("n"))
            )
            best = (
                pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not best or best[0]["n"] < min_pair_freq:
                break
            a, b, n = best[0]["a"], best[0]["b"], best[0]["n"]
            merges.append((rank, a, b, int(n)))
            # the previous round's blocks are freed once the new round is
            # cut, so storage stays one-vocab-sized for the whole training
            # instead of growing n_merges × vocab
            vocab = h.step(
                vocab,
                vocab.select(
                    "freq", apply_merge_jvm(F.col("syms"), a, b).alias("syms")
                ),
            )
        return merges


def merges_df(spark, merges: list[tuple[int, str, str, int]]) -> DataFrame:
    """The merge table as a DataFrame (rank, left, right, pair_freq) —
    for persisting the trained tokenizer next to the corpus."""
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_freq long"
    )


def _apply_merges_serial(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Rank-ordered merge application to one word (the serial scan the
    JVM fold mirrors). Shared by encode_bpe and the tests' reference."""
    syms = list(word)
    for a, b in merges:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def encode_bpe(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]] | list[tuple[str, str]],
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, tokens, n_tokens): documents encoded with a learned merge
    table. Arrow-batched ``mapInPandas`` with a per-batch memo over
    distinct words — natural-language batches repeat words heavily, so
    each distinct word is merged once per batch, not once per
    occurrence. Embarrassingly parallel; no shuffle."""
    import pandas as pd

    pairs = [
        (m[1], m[2]) if len(m) == 4 else (m[0], m[1])  # strip rank/freq
        for m in merges
    ]
    out_schema = f"{id_col} long, tokens array<string>, n_tokens int"

    def run(batches):
        for pdf in batches:
            memo: dict[str, list[str]] = {}

            def enc(text: str) -> list[str]:
                toks: list[str] = []
                for w in text.lower().split():
                    got = memo.get(w)
                    if got is None:
                        got = memo[w] = _apply_merges_serial(w, pairs)
                    toks.extend(got)
                return toks

            encoded = pdf[text_col].map(enc)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "tokens": encoded,
                    "n_tokens": encoded.map(len).astype("int32"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, out_schema)
