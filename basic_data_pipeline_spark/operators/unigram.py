"""Distributed unigram language-model tokenizer (SentencePiece's
unigram mode, Kudo 2018 — public paper; re-expressed Spark-first, no
port) — the second tokenizer family next to operators/bpe.py, absent
from the reference (whose pipeline stops at CDC ingest,
/root/reference/consumer_to_file.py).

Algorithm (hard-EM / Viterbi-EM, the deterministic variant):

1. **Seed**: every substring (length ≤ ``max_piece_len``) of every
   distinct word, weighted by word frequency; keep the ``seed_size``
   heaviest plus ALL single characters (so every word stays
   segmentable). Scores start at ln(count/total), rounded at 6 places.
2. **E-step**: Viterbi-segment each DISTINCT word under the current
   piece scores — maximize the score sum; ties prefer FEWER pieces,
   then the lexicographically smallest piece sequence (classic unigram
   training samples/EM-weights segmentations; a hash-compared engine
   needs one canonical answer, so the tie rule is part of the
   contract).
3. **M-step**: piece counts = Σ word_freq over the chosen segmentations
   (one explode + groupBy), rescored as ln(count/total).
4. **Prune**: drop the lightest multi-char pieces — keep
   ``ceil(shrink × current)`` by (count DESC, piece ASC) — never
   dropping single chars; after ``rounds`` EM rounds, truncate to
   ``vocab_size``. (True SentencePiece prunes by likelihood loss; the
   count-rank rule is this module's deterministic simplification, and
   the tests pin it against an independent serial trainer.)

Spark-first shape, sized for the 100 TB corpus:

* The ONLY corpus-sized job is bpe.word_freqs' (word, freq) shuffle —
  the same trick train_bpe uses: everything after works on the
  distinct-word table (orders of magnitude smaller than the token
  stream) and is persisted once.
* Seeding and every M-step are vocabulary-sized explodes +
  map-side-partial groupBys. The E-step's per-word Viterbi is the
  sanctioned Arrow path (mapInPandas with per-batch memoization, the
  encode_bpe convention) — per-row DP is exactly what built-in
  expressions can't express.
* The model is ≤ vocab_size (piece, score) rows — a driver/broadcast
  object the size of a centroid table. Per-round driver traffic is one
  bounded vocab-sized collect (the BPE argmax convention, widened) and
  one scalar total.
* Training state is checkpoint-hygienic: the distinct-word frame is
  persisted once and reused every round; no plan-tree growth because
  each round's frames derive from it directly.

Determinism: integer counts, 6-place-rounded scores computed driver-side
in CPython for BOTH the distributed and serial paths, one canonical
Viterbi tie rule — same corpus in, same vocabulary out, under any
partitioning (pinned by tests/test_unigram.py incl. a hypothesis fuzz
against the serial trainer).
"""

from __future__ import annotations

import math
from typing import Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from basic_data_pipeline_spark import caching
from basic_data_pipeline_spark.operators.bpe import word_freqs
from basic_data_pipeline_spark.partitioning import spread

#: score charged per character when no trained piece covers it (unseen
#: characters at encode time); harsh enough to never beat a real piece.
UNK_SCORE = -100.0


class UnigramModel(NamedTuple):
    """piece -> ln-prob score (6-place rounded), driver-sized."""

    pieces: dict[str, float]
    vocab_size: int
    max_piece_len: int


def viterbi_segment(
    word: str, pieces: dict[str, float], max_piece_len: int
) -> list[str]:
    """Canonical best segmentation of one word: maximize Σ score, ties
    prefer fewer pieces, then the lexicographically smallest sequence.
    Characters absent from ``pieces`` fall back to single-char tokens
    at UNK_SCORE. Shared by training, encoding, and the tests' serial
    reference — the tie rule IS the operator contract."""
    n = len(word)
    if n == 0:
        return []
    # best[j] = (score, n_pieces, seq_tuple) for word[:j]
    best: list = [None] * (n + 1)
    best[0] = (0.0, 0, ())
    for j in range(1, n + 1):
        cand = None
        for l in range(1, min(max_piece_len, j) + 1):
            prev = best[j - l]
            if prev is None:
                continue
            piece = word[j - l : j]
            sc = pieces.get(piece)
            if sc is None:
                if l != 1:
                    continue
                sc = UNK_SCORE
            state = (
                prev[0] + sc,
                prev[1] + 1,
                prev[2] + (piece,),
            )
            if cand is None:
                cand = state
                continue
            # maximize score, then minimize piece count, then lexi-min
            if (
                state[0] > cand[0]
                or (
                    state[0] == cand[0]
                    and (
                        state[1] < cand[1]
                        or (state[1] == cand[1] and state[2] < cand[2])
                    )
                )
            ):
                cand = state
        best[j] = cand
    return list(best[n][2])


def _round_scores(counts: dict[str, int]) -> dict[str, float]:
    """ln(count/total) at 6 places — driver-side CPython for bit-equal
    distributed/serial results. Zero-count pieces are dropped by the
    caller before this."""
    total = sum(counts.values())
    return {
        p: round(math.log(c / total), 6) for p, c in counts.items() if c > 0
    }


def _prune(
    counts: dict[str, int], keep: int
) -> dict[str, int]:
    """Keep the ``keep`` heaviest pieces by (count DESC, piece ASC),
    but single characters are never dropped (segmentability)."""
    singles = {p: c for p, c in counts.items() if len(p) == 1}
    multis = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )
    kept = dict(multis[: max(keep - len(singles), 0)])
    kept.update(singles)
    return kept


def _segment_words_df(
    words: DataFrame, pieces: dict[str, float], max_piece_len: int
) -> DataFrame:
    """(word, freq, pieces array) — Arrow-batched Viterbi over the
    distinct-word table, memoized per batch (words are distinct already;
    the memo guards repeated batches after coalesces)."""
    schema = T.StructType(
        [
            T.StructField("word", T.StringType()),
            T.StructField("freq", T.LongType()),
            T.StructField("pieces", T.ArrayType(T.StringType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[str]] = {}
        for pdf in batches:
            segs = []
            for w in pdf["word"]:
                got = memo.get(w)
                if got is None:
                    got = viterbi_segment(w, pieces, max_piece_len)
                    memo[w] = got
                segs.append(got)
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "freq": pdf["freq"],
                    "pieces": segs,
                }
            )

    return words.mapInPandas(run, schema)


def _piece_counts(segmented: DataFrame) -> dict[str, int]:
    """Σ word_freq per piece — one explode + map-side-partial groupBy,
    collected (≤ vocab-sized, the BPE bounded-control-plane class)."""
    rows = (
        segmented.select(
            F.explode("pieces").alias("piece"), F.col("freq")
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .collect()
    )
    return {r["piece"]: r["cnt"] for r in rows}


def train_unigram(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 2000,
    rounds: int = 3,
    max_piece_len: int = 8,
    seed_size: int = 8000,
    shrink: float = 0.75,
) -> UnigramModel:
    """Fit a unigram tokenizer on ``docs``. One corpus-sized shuffle
    (word frequencies); everything else is distinct-word-sized. See the
    module docstring for the algorithm and scale shape."""
    if vocab_size < 1 or seed_size < vocab_size:
        raise ValueError(
            f"need seed_size >= vocab_size >= 1: {seed_size}/{vocab_size}"
        )
    if not (0.0 < shrink <= 1.0):
        raise ValueError(f"shrink must be in (0, 1]: {shrink}")
    with caching.held() as h:
        words = h.persist(spread(word_freqs(docs, text_col), "word"))
        # -- seed: weighted substring counts ---------------------------
        subs = words.select(
            F.col("freq"),
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(
                            F.lit(0), F.length("word") - F.lit(1)
                        ),
                        lambda i: F.transform(
                            F.sequence(
                                F.lit(1),
                                F.least(
                                    F.lit(max_piece_len),
                                    F.length("word") - i,
                                ),
                            ),
                            lambda l: F.substring(
                                F.col("word"), F.lit(1) + i, l
                            ).alias("s"),
                        ),
                    )
                )
            ).alias("piece"),
        )
        seed_rows = (
            subs.groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("piece").asc())
            .limit(seed_size)
            .collect()
        )
        counts = {r["piece"]: r["cnt"] for r in seed_rows}
        # singles may have been crowded out of the top-k: recover them
        singles = (
            subs.where(F.length("piece") == 1)
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
            .collect()
        )
        for r in singles:
            counts.setdefault(r["piece"], r["cnt"])
        # the alphabet is never pruned (segmentability), so a corpus
        # whose distinct-char count exceeds vocab_size could only end
        # OVER budget while UnigramModel.vocab_size claimed otherwise —
        # SentencePiece errors here ("Vocabulary size too small"), and
        # so do we.
        n_alphabet = sum(1 for p in counts if len(p) == 1)
        if n_alphabet > vocab_size:
            raise ValueError(
                f"vocab_size={vocab_size} is smaller than the corpus "
                f"alphabet ({n_alphabet} distinct characters, which are "
                "never pruned); raise vocab_size to at least the "
                "alphabet size"
            )
        scores = _round_scores(counts)
        # -- EM rounds with pruning ------------------------------------
        size = len(scores)
        for rnd in range(rounds):
            segmented = _segment_words_df(words, scores, max_piece_len)
            counts = _piece_counts(segmented)
            # required-chars rule (SentencePiece keeps the alphabet):
            # a single char fully covered by multi-char pieces would
            # count 0 and vanish — floor current-vocab singles at 1 so
            # alphabet coverage survives every round.
            for p in scores:
                if len(p) == 1:
                    counts[p] = max(counts.get(p, 0), 1)
            if rnd < rounds - 1:
                size = max(vocab_size, math.ceil(size * shrink))
            else:
                size = vocab_size
            counts = _prune(counts, size)
            scores = _round_scores(counts)
            size = len(scores)
        return UnigramModel(scores, vocab_size, max_piece_len)


def unigram_model_df(spark: SparkSession, model: UnigramModel) -> DataFrame:
    """(piece_id, piece, score) — persistable model table; ids are the
    rank in (score DESC, piece ASC) order, so the mapping is a pure
    function of the model (the merges_df convention)."""
    rows = sorted(
        model.pieces.items(), key=lambda ps: (-ps[1], ps[0])
    )
    return spark.createDataFrame(
        [
            (i, p, s, model.vocab_size, model.max_piece_len)
            for i, (p, s) in enumerate(rows)
        ],
        "piece_id long, piece string, score double, "
        "vocab_size long, max_piece_len long",
    )


def unigram_model_from_df(df: DataFrame) -> UnigramModel:
    """Inverse of unigram_model_df (round-trip pinned in tests)."""
    rows = df.select(
        "piece", "score", "vocab_size", "max_piece_len"
    ).collect()
    if not rows:
        raise ValueError("empty model frame")
    return UnigramModel(
        {r["piece"]: r["score"] for r in rows},
        rows[0]["vocab_size"],
        rows[0]["max_piece_len"],
    )


def encode_unigram(
    docs: DataFrame,
    model: UnigramModel,
    id_col: str = "doc_id",
    text_col: str = "text",
    ids: bool = False,
) -> DataFrame:
    """(id, pieces | piece_ids, n_pieces): Viterbi-encode documents
    under a trained model — whitespace words segmented independently
    (the tokenizer's pre-tokenization boundary, as in bpe.encode_bpe),
    memoized per distinct word within each Arrow batch. With
    ``ids=True`` pieces map to their unigram_model_df rank; unseen
    single-char fallbacks get id -1."""
    piece_ids = {
        p: i
        for i, (p, _s) in enumerate(
            sorted(model.pieces.items(), key=lambda ps: (-ps[1], ps[0]))
        )
    }
    out_field = (
        T.StructField("piece_ids", T.ArrayType(T.LongType()))
        if ids
        else T.StructField("pieces", T.ArrayType(T.StringType()))
    )
    id_field = docs.schema[id_col]
    schema = T.StructType(
        [
            T.StructField(id_field.name, id_field.dataType),
            out_field,
            T.StructField("n_pieces", T.LongType()),
        ]
    )
    pieces = model.pieces
    max_len = model.max_piece_len

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[str]] = {}
        for pdf in batches:
            col, ns = [], []
            for text in pdf[text_col]:
                toks: list[str] = []
                for w in (text or "").lower().split():
                    got = memo.get(w)
                    if got is None:
                        got = viterbi_segment(w, pieces, max_len)
                        memo[w] = got
                    toks.extend(got)
                if ids:
                    col.append(
                        [piece_ids.get(p, -1) for p in toks]
                    )
                else:
                    col.append(toks)
                ns.append(len(toks))
            yield pd.DataFrame(
                {
                    id_field.name: pdf[id_col],
                    ("piece_ids" if ids else "pieces"): col,
                    "n_pieces": ns,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema)
