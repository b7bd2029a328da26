"""Interpolated Kneser-Ney bigram language model: train on a corpus,
score documents by KN log-probability (Kneser & Ney 1995; Chen &
Goodman 1998 — public literature; re-expressed as DataFrame
aggregations, no port).

CCNet-style quality pipelines threshold documents on perplexity under a
language model trained on a *clean* reference corpus. The add-alpha
bigram in operators/text.py (``bigram_lm_scores``) is the self-trained
baseline; this module is the real modelling step up: absolute
discounting with the continuation-count backoff that makes KN the
standard n-gram smoother. The reference system has no LM surface at all
(its pipeline is Kafka -> file, /root/reference/consumer_to_file.py);
this operator belongs to the north-star quality-signal family next to
bigram_lm_scores / gopher_quality_flags / the trained LR classifier.

The model, with D = discount (a rational, default 3/4), counts taken on
the TRAIN corpus only::

    c12(w1,w2)   bigram count
    c1(w1)       = sum_w2 c12          (context count)
    n1f(w1)      = |{w2 : c12 > 0}|    (distinct continuations of w1)
    n1b(w2)      = |{w1 : c12 > 0}|    (distinct contexts of w2)
    B            = |distinct bigrams|  = sum_w1 n1f
    V            = |distinct unigrams|

    P_cont(w2)   = n1b(w2) / B
    lambda(w1)   = D * n1f(w1) / c1(w1)
    P(w2|w1)     = max(c12 - D, 0)/c1(w1) + lambda(w1) * P_cont(w2)

With D = num/den this is one double-precision ratio per scored bigram::

    P = (max(den*c12 - num, 0) * B  +  num * n1f(w1) * n1b(w2))
        / (den * c1(w1) * B)

Bigrams whose context OR continuation the model never saw fall to the
uniform backstop P = 1/(V+1) (the c12-missing-but-both-sides-known case
is exactly the formula with c12 = 0, so no separate branch is needed).

Determinism / oracle contract (the classifier.py / selection.py
convention): each bigram's log2 P is rounded at 6 places and
accumulated as DECIMAL(38,6), so the per-document sum is exact under
any partitioning and any engine; the DuckDB oracle replays the same
counts and the same double expression and hash-matches the sums
bit-for-bit (text_lang_token[knlm]).

Scale design (the 100 TB contract):

- Training is ONE bigram explode over the train corpus (positioned by
  ``spread`` so explode-heavy maps run at cluster parallelism) and one
  map-side-partial ``groupBy(w1, w2)``; every other model table
  (c1/n1f by w1, n1b by w2) is a regrouping of the DISTINCT-bigram
  frame — rows bounded by bigram *types*, not corpus tokens.
- B and V are the only driver scalars (two bounded actions, the
  bigram_lm_scores convention).
- Scoring shuffles the scored corpus' bigrams once per model key family
  ((w1,w2), w1, w2 — three narrow hash joins); the model sides are
  type-bounded and usually AQE-broadcast. No window, no sort, nothing
  all-pairs.
- Probability arithmetic is DOUBLE on purpose: the exact-integer form
  (num*c1*B products) overflows BIGINT near web scale (B ~ 1e10), while
  the double expression is IEEE-identical across engines for identical
  integer inputs; only log2's last ulp can differ, which the 6-place
  rounding absorbs (the DSIR log-ratio precedent).
"""

from __future__ import annotations

from typing import NamedTuple, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from basic_data_pipeline_spark import caching
from basic_data_pipeline_spark.caching import tracked_persist
from basic_data_pipeline_spark.partitioning import spread

#: exact accumulation type for rounded per-bigram log-probs
_DEC = "decimal(38,6)"

#: default absolute discount D = 3/4 (Chen & Goodman's fixed-D variant)
DEFAULT_DISCOUNT = (3, 4)


class KNBigramModel(NamedTuple):
    """Trained model: three type-bounded count tables + two scalars.

    ``pairs``  — (w1, w2, c12) distinct train bigrams with counts;
    ``ctx``    — (w1, c1, n1f) context totals + distinct continuations;
    ``cont``   — (w2, n1b) distinct contexts per continuation;
    ``n_bigram_types`` / ``n_unigram_types`` — B and V above.
    """

    pairs: DataFrame
    ctx: DataFrame
    cont: DataFrame
    n_bigram_types: int
    n_unigram_types: int
    discount: tuple[int, int]

    def unpersist(self) -> "KNBigramModel":
        """Release the persisted pair table (kn_bigram_model persists it
        so ctx/cont and every kn_score action reuse one materialization
        instead of re-running the corpus explode). The model stays
        usable — a released frame recomputes from lineage."""
        caching.release(self.pairs)
        return self


def _doc_bigrams(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, w1, w2) — one row per bigram occurrence, whitespace
    tokenized + lowercased (the text.py convention). ANSI-safe: docs
    with < 2 tokens are filtered before any element_at."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    d = docs.select(F.col(id_col), toks.alias("_toks")).where(
        F.size("_toks") >= 2
    )
    b = d.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - F.lit(2)),
                lambda i: F.struct(
                    F.try_element_at(F.col("_toks"), i + F.lit(1)).alias(
                        "w1"
                    ),
                    F.try_element_at(F.col("_toks"), i + F.lit(2)).alias(
                        "w2"
                    ),
                ),
            )
        ).alias("b"),
    ).select(id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    return b.filter(F.col("w2").isNotNull())


def kn_bigram_model(
    train: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: tuple[int, int] = DEFAULT_DISCOUNT,
) -> KNBigramModel:
    """Fit the KN bigram model on ``train``. One explode + one
    groupBy(w1,w2) over the corpus; everything downstream regroups the
    type-bounded pair table. Two bounded driver actions (B, V)."""
    num, den = discount
    if not (0 < num < den):
        raise ValueError(f"discount must satisfy 0 < num < den: {discount}")
    bi = spread(_doc_bigrams(train, id_col, text_col), "w1", "w2")
    # persist the type-bounded pair table: ctx, cont, n_bigram_types and
    # every later kn_score action would otherwise each re-run the full
    # corpus explode+groupBy (exchange reuse only helps within ONE
    # plan). The count() below materializes it immediately; callers
    # release via model.unpersist() (or caching.release_persisted()).
    pairs = tracked_persist(
        bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    )
    ctx = pairs.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1f")
    )
    cont = pairs.groupBy("w2").agg(F.count("*").alias("n1b"))
    # ONE driver action for both model scalars (r11): the bigram-type
    # count (which also materializes the persisted pair table) and the
    # unigram vocabulary size are independent subtrees — unioned into a
    # single collect they run as CONCURRENT stages of one job instead of
    # two serial driver round trips (measured ~2.5 s → ~1.4 s at sf0.1;
    # each extra action costs the ~0.25 s job floor plus its own scan).
    # count(DISTINCT w) == distinct().count() exactly — no approximation.
    scalars = {
        r["k"]: r["c"]
        for r in pairs.agg(F.count(F.lit(1)).alias("c"))
        .select(F.lit("b").alias("k"), "c")
        .unionByName(
            train.select(
                F.explode(
                    F.split(F.lower(F.col(text_col)), r"\s+")
                ).alias("w")
            )
            .agg(F.count_distinct(F.col("w")).alias("c"))
            .select(F.lit("v").alias("k"), "c")
        )
        .collect()
    }
    n_bigram_types = scalars["b"]
    n_unigram_types = scalars["v"]
    return KNBigramModel(
        pairs, ctx, cont, n_bigram_types, n_unigram_types, discount
    )


def kn_log2_prob(
    c12: Column,
    c1: Column,
    n1f: Column,
    n1b: Column,
    n_bigram_types: int,
    n_unigram_types: int,
    discount: tuple[int, int],
) -> Column:
    """round(log2 P_KN, 6) for one scored bigram, NULL-count aware:
    NULL c12 means the pair is unseen (treated as 0); NULL c1 or NULL
    n1b means the context/continuation is unseen and the uniform
    backstop 1/(V+1) applies."""
    num, den = discount
    b = F.lit(float(n_bigram_types))
    seen = c1.isNotNull() & n1b.isNotNull()
    p_kn = (
        F.greatest(
            F.lit(den) * F.coalesce(c12, F.lit(0)) - F.lit(num), F.lit(0)
        ).cast("double")
        * b
        + F.lit(num) * (n1f * n1b).cast("double")
    ) / (F.lit(den) * c1.cast("double") * b)
    p = F.when(seen, p_kn).otherwise(
        F.lit(1.0 / (n_unigram_types + 1))
    )
    return F.round(F.log2(p), 6)


def kn_score(
    docs: DataFrame,
    model: KNBigramModel,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_bigrams, n_backstop, sum_lp, mean_lp): per-document KN
    log2-probability. ``sum_lp`` is the exact DECIMAL sum of 6-place
    rounded per-bigram terms (engine/partitioning independent — the
    oracle-checked value); ``mean_lp`` is the convenience double
    (mean log2 P; negate and exponentiate for perplexity). Docs with
    < 2 tokens emit no row — left-join at the call site."""
    bi = spread(_doc_bigrams(docs, id_col, text_col), id_col)
    joined = (
        bi.join(model.pairs, ["w1", "w2"], "left")
        .join(model.ctx, ["w1"], "left")
        .join(model.cont, ["w2"], "left")
    )
    lp = kn_log2_prob(
        F.col("c12"),
        F.col("c1"),
        F.col("n1f"),
        F.col("n1b"),
        model.n_bigram_types,
        model.n_unigram_types,
        model.discount,
    )
    backstop = (F.col("c1").isNull() | F.col("n1b").isNull()).cast("long")
    return (
        joined.select(
            F.col(id_col),
            lp.cast(_DEC).alias("_lp"),
            backstop.alias("_bs"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("_bs").alias("n_backstop"),
            F.sum("_lp").alias("sum_lp"),
            F.avg(F.col("_lp").cast("double")).alias("mean_lp"),
        )
    )


def kneser_ney_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train: Optional[DataFrame] = None,
    discount: tuple[int, int] = DEFAULT_DISCOUNT,
) -> DataFrame:
    """One-call train + score. ``train`` defaults to ``docs`` itself
    (self-perplexity, the bigram_lm_scores convention); pass a clean
    reference corpus for the CCNet-style filtering signal — bigrams
    outside the reference fall to the 1/(V+1) backstop, which is
    exactly the out-of-distribution penalty the filter thresholds on."""
    model = kn_bigram_model(
        train if train is not None else docs, id_col, text_col, discount
    )
    return kn_score(docs, model, id_col, text_col)
