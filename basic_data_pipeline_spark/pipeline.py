"""One-call training-corpus preparation: the end-to-end pipeline a user
of this engine runs between "raw crawl" and "tokenizer input".

Chains the package's operators in the order production corpora use them,
with per-stage row accounting so a run is auditable:

    [domain cap] → exact dedup → near dedup (LSH+verify) →
    [substring dedup] → quality filter → repetition filter →
    benchmark decontamination → [DSIR importance resampling] →
    mixing (temperature or explicit) →
    [deterministic shuffle] → sequence packing

Every stage is one of the already-tested operators (dedup.py, text.py,
packing.py, sampling.py); this module adds only the composition and the
accounting. All stages are deterministic (hash-based sampling, md5/xxhash
families), so the same inputs produce the same corpus on any cluster,
any partitioning, any retry — the property that makes training runs
reproducible.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from basic_data_pipeline_spark import caching
from basic_data_pipeline_spark.caching import tracked_local_checkpoint
from basic_data_pipeline_spark.operators import (
    classifier,
    dedup,
    domains,
    packing,
    sampling,
    selection,
    substring,
    text,
)
from basic_data_pipeline_spark.operators.maintenance import atomic_overwrite

_PARAMS_FILE = "_prep_params.json"
# bump when the fingerprint payload shape or digest rules change: a
# version mismatch reads as "recreate the workdir (format changed)",
# not the misleading "DIFFERENT parameters"
# v5: + blocklist_input and token_budgets (the r8 phrase-blocklist and
# token-budget-mixing stages)
# v6: + c4_clean/c4_min_words and gopher_rules/gopher_min_words (the
# r8-close line-cleaning and document-rule stages)
_FP_VERSION = 6


@dataclass
class CorpusPrepResult:
    """Surviving docs (with `seq_bin`/`bin_pos` packing assignments) plus
    the per-stage row ledger and per-stage wall times (seconds; stage
    construction + materialization + ledger count — the numbers the
    16×/64× end-to-end scale probe records in SCALING.md)."""

    docs: DataFrame
    ledger: dict[str, int] = field(default_factory=dict)
    walls: dict[str, float] = field(default_factory=dict)


def prepare_training_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str | None = None,
    max_per_domain: int | None = None,
    blocklist_phrases: DataFrame | None = None,
    c4_clean: bool = False,
    c4_min_words: int = 5,
    gopher_rules: bool = False,
    gopher_min_words: int = 50,
    near_dup_threshold: float = 0.5,
    substring_k: int | None = None,
    min_quality: float = 0.5,
    max_repetition: float | None = None,
    min_lm_score: float | None = None,
    quality_model: "classifier.QualityModel | None" = None,
    min_model_quality: float = 0.5,
    benchmark: DataFrame | None = None,
    contamination_ngram: int = 8,
    contamination_bloom: bool = False,
    dsir_target: DataFrame | None = None,
    dsir_k: int | None = None,
    dsir_buckets: int = 4096,
    mix: dict[str, float] | None = None,
    mix_col: str = "source",
    temperature: float | None = None,
    token_budgets: dict[str, int] | None = None,
    shuffle_salt: str | None = None,
    seq_len: int = 2048,
    workdir: str | None = None,
) -> CorpusPrepResult:
    """Run the full prep pipeline; see module docstring for the stages.

    `domain_col`/`max_per_domain` (when set, together) prepend the
    PER-DOMAIN QUOTA stage: at most `max_per_domain` documents per
    domain survive, chosen as a deterministic hash-ranked sample
    (operators/domains.py `domain_cap` — the RefinedWeb cap that stops
    mirror-heavy domains dominating the corpus and every downstream
    stage's cost). `mix` (explicit per-source fractions, may upsample), `temperature`
    ((n_i/N)^(1/T) rebalancing) and `token_budgets` (greedy per-source
    fill to a TOKEN budget — the unit trainers specify;
    sampling.token_budget_mix) are mutually exclusive mixing modes.
    `max_repetition` (when set) drops documents whose
    duplicate-bigram fraction exceeds it (repetition_profile — the
    MassiveText boilerplate filter; docs too short to have bigrams are
    kept). `min_lm_score` (when set) additionally drops documents whose
    corpus-self-trained bigram LM score (mean log2 P(w_i|w_{i-1}),
    text.bigram_lm_scores) falls below the floor — docs with no bigrams
    are kept, mirroring `max_repetition`. `substring_k` (when set) adds
    the EXACT SUBSTRING dedup stage after near dedup: every repeated
    span of ≥ substring_k tokens is cut everywhere but its globally
    first occurrence (operators/substring.py — the Lee et al. pass
    public LLM pipelines run between document dedup and quality
    filtering); note the surviving text is whitespace-normalized by the
    rewrite. `quality_model` (when set)
    adds the TRAINED quality floor: a fitted
    `classifier.QualityModel` scores every survivor (zero-shuffle
    codegen projection) and docs below `min_model_quality` drop —
    the learned CCNet-style layer on top of the heuristic flags.
    `blocklist_phrases` (when set, a 1-column ``phrase`` frame) prepends
    the PHRASE BLOCKLIST stage right after the domain cap: documents
    containing any banned phrase (multi-word, token-boundary —
    operators/domains.py) drop before dedup, so blocked content never
    pays for a single downstream shuffle. `c4_clean` (when set) adds the
    C4 LINE-CLEANING stage before exact dedup — the T5 recipe order
    (clean first, then dedup sees only surviving lines): each document's
    text is REWRITTEN to its kept lines (terminal punctuation,
    ≥ `c4_min_words` words, no boilerplate marker —
    text.c4_line_clean) and documents failing the C4 document rules
    (brace, "lorem ipsum", < 3 kept lines) drop; a zero-shuffle
    projection, so it costs one corpus pass. `gopher_rules` (when set)
    adds the GOPHER DOCUMENT-RULE gate right before the heuristic
    quality floor: documents must pass the full Rae et al. A.1.1
    battery (word count ≥ `gopher_min_words`, mean word length,
    symbol/bullet/ellipsis ratios, alpha-word ratio, 2-of-8 stopwords
    — text.gopher_quality_flags); likewise zero-shuffle.
    `contamination_bloom` routes the decontamination stage through the
    Bloom-prefiltered variant (packing.contamination_hits_bloom) — the
    same survivors by construction, the right plan when the benchmark
    side outgrows a broadcast; it is excluded from the workdir
    fingerprint because either path yields identical stage output.
    `dsir_target`/`dsir_k` (when set, together) append the DSIR
    IMPORTANCE RESAMPLING stage after decontamination: the `dsir_k`
    survivors whose hashed-n-gram distribution best matches
    `dsir_target` are kept, sampled without replacement by the
    deterministic Gumbel top-k (operators/selection.py). `workdir` (when set) makes the
    run DURABLE: each stage's survivors are written atomically to
    workdir/<stage> and a restarted run resumes from the last completed
    stage (the `_SUCCESS` marker is the completion signal; eager stage
    construction is skipped entirely on resume). A fingerprint file
    guards the workdir over BOTH the parameters and the input identity
    (scanned file set, or row count for in-memory frames) — resuming
    under different parameters, a different corpus, or a different
    benchmark raises instead of silently mixing configurations. `shuffle_salt` (when set) packs documents in DETERMINISTIC
    SHUFFLED order — the pack key becomes md5(salt || id), so the packing
    order is a reproducible pseudo-random permutation (same salt → same
    corpus layout on any cluster/partitioning; different salt → a fresh
    shuffle for another epoch) instead of id order. The ledger counts
    rows AFTER each stage; each stage's result is EAGERLY
    localCheckpoint'ed before its count, which both makes the ledger
    cost one pass per stage (O(stages), not O(stages²)) and cuts
    lineage so every stage's plan is one scan deep — chained persists
    kept the full logical plan and a dozen stages nest plans whose text
    grows multiplicatively (the r9 probe OOM'd the driver rendering an
    AQE explain string). A stage's blocks are freed as soon as the next
    stage materializes (~2 stage copies of storage at any moment); the
    returned result is itself a checkpoint — self-contained, stable
    under cache eviction, with session lifetime (caching.py). Every
    stage cut is freed on any exit, a failing stage included."""
    if sum(x is not None for x in (mix, temperature, token_budgets)) > 1:
        raise ValueError(
            "pass at most one of mix=, temperature=, token_budgets="
        )
    if (domain_col is None) != (max_per_domain is None):
        raise ValueError(
            "pass domain_col= and max_per_domain= together (or neither)"
        )
    if (dsir_target is None) != (dsir_k is None):
        raise ValueError(
            "pass dsir_target= and dsir_k= together (or neither)"
        )
    spark = docs.sparkSession
    last_cut: DataFrame | None = None  # the newest in-memory stage cut
    with caching.held() as h:
        # Durable staged execution: with `workdir`, every stage's survivors
        # are written atomically (temp+rename) to workdir/<stage> and a
        # crashed/restarted run RESUMES from the last completed stage instead
        # of recomputing a 100 TB prefix. Stages are deterministic, so the
        # resumed run is bit-identical to an uninterrupted one — but only
        # under the SAME parameters, which a fingerprint file enforces: a
        # parameter change against a half-populated workdir raises instead
        # of silently mixing two configurations.
        n_input = docs.count()  # ledger head; reused in the input fingerprint
        if workdir is not None:
            # Input identity rides in the fingerprint alongside the
            # parameters: resuming a workdir against a DIFFERENT corpus (or a
            # different benchmark) must raise, not silently serve the old
            # corpus's stage outputs as if recomputed. Identity = the scanned
            # file set plus the row count (the docs count is the ledger head,
            # so no extra pass on the big side; the count also distinguishes
            # two filters of the same files). File-LESS in-memory frames get
            # a content digest too (order-independent xxhash64-XOR over all
            # columns): row count alone would let a different same-sized
            # corpus silently reuse the cached stages (r7 ADVICE #3) — the
            # digest pass only ever runs on frames already living in this
            # session's memory, never on a 100 TB scan.
            def _input_identity(df: DataFrame | None):
                if df is None:
                    return None
                n = n_input if df is docs else df.count()
                ident: dict = {"files": sorted(df.inputFiles()), "rows": n}
                if not ident["files"]:
                    cols = ", ".join(f"`{c}`" for c in df.columns)
                    ident["digest"] = df.agg(
                        F.expr(f"bit_xor(xxhash64({cols}))")
                    ).first()[0]
                return ident

            fp = hashlib.sha256(
                json.dumps(
                    {
                        "id_col": id_col, "text_col": text_col,
                        "domain_col": domain_col,
                        "max_per_domain": max_per_domain,
                        "c4_clean": c4_clean,
                        "c4_min_words": c4_min_words,
                        "gopher_rules": gopher_rules,
                        "gopher_min_words": gopher_min_words,
                        "near_dup_threshold": near_dup_threshold,
                        "substring_k": substring_k,
                        "min_quality": min_quality,
                        "max_repetition": max_repetition,
                        "min_lm_score": min_lm_score,
                        "quality_model": (
                            None
                            if quality_model is None
                            else [
                                list(quality_model.mean),
                                list(quality_model.std),
                                list(quality_model.weights),
                                quality_model.bias,
                            ]
                        ),
                        "min_model_quality": min_model_quality,
                        "docs_input": _input_identity(docs),
                        "blocklist_input": _input_identity(blocklist_phrases),
                        "benchmark_input": _input_identity(benchmark),
                        "contamination_ngram": contamination_ngram,
                        "dsir_target_input": _input_identity(dsir_target),
                        "dsir_k": dsir_k,
                        "dsir_buckets": dsir_buckets,
                        "mix": mix, "mix_col": mix_col,
                        "temperature": temperature,
                        "token_budgets": token_budgets,
                        "shuffle_salt": shuffle_salt, "seq_len": seq_len,
                    },
                    sort_keys=True,
                ).encode()
            ).hexdigest()
            os.makedirs(workdir, exist_ok=True)
            fp_path = os.path.join(workdir, _PARAMS_FILE)
            if os.path.exists(fp_path):
                with open(fp_path) as f:
                    stored = json.load(f)
                if stored.get("version") != _FP_VERSION:
                    # the fingerprint FORMAT changed (payload shape/digest
                    # rules) — distinguish that from a real config mismatch
                    # so the operator isn't told their parameters differ
                    # when they don't (r7 ADVICE #4)
                    raise ValueError(
                        "workdir fingerprint was written under an older "
                        f"engine fingerprint format (v{stored.get('version', 1)}"
                        f" != v{_FP_VERSION}) — the format changed, not "
                        "necessarily your configuration; recreate the workdir "
                        "(its stage outputs predate the current guard)"
                    )
                if stored["fingerprint"] != fp:
                    raise ValueError(
                        "workdir was populated under DIFFERENT parameters"
                        " or input data — point at a fresh workdir or"
                        " delete it"
                    )
            else:
                with open(fp_path, "w") as f:
                    json.dump({"fingerprint": fp, "version": _FP_VERSION}, f)

        def _stage_path(name: str) -> str:
            return os.path.join(workdir, name)  # type: ignore[arg-type]

        def _complete(name: str) -> bool:
            return workdir is not None and os.path.exists(
                os.path.join(_stage_path(name), "_SUCCESS")
            )

        def stage(thunk, name: str) -> DataFrame:
            # thunk, not DataFrame: some stage constructors run eager jobs
            # while BUILDING their plan (connected components iterates), so a
            # resumed stage must skip construction entirely, not just
            # execution.
            if workdir is None:
                # eager localCheckpoint, NOT persist: persist keeps the full
                # logical plan, and a dozen chained stages nest plans whose
                # TEXT grows multiplicatively — the r9 end-to-end probe
                # OOM'd the driver heap merely rendering the AQE explain
                # string at the tail stage. The checkpoint cuts lineage so
                # every stage's plan is one scan deep (the linkgraph
                # iteration convention); blocks are freed as soon as the
                # NEXT stage is cut, bounding storage at ~2 stage copies
                # instead of the whole chain.
                nonlocal last_cut
                last_cut = h.step(last_cut, thunk())
                return last_cut
            path = _stage_path(name)
            if not _complete(name):
                # atomic: a crash mid-write leaves no _SUCCESS at the final
                # path, so the stage reruns cleanly on resume
                atomic_overwrite(thunk(), path)
            return spark.read.parquet(path)

        ledger = {"input": n_input}
        walls: dict[str, float] = {}

        def timed_stage(thunk, name: str) -> DataFrame:
            # wall = stage construction (some constructors run eager jobs) +
            # materialization + the ledger count — what the end-to-end scale
            # probe reads per stage
            t0 = time.perf_counter()
            df = stage(thunk, name)
            ledger[name] = df.count()
            walls[name] = round(time.perf_counter() - t0, 3)
            return df

        # 0. per-domain quota cap (optional): RefinedWeb-style — at most
        # max_per_domain docs per domain_col value, a deterministic
        # hash-ranked sample (operators/domains.py, salted two-phase
        # window). Runs FIRST, on the raw crawl: capping before dedup is the
        # production order (mirror-heavy domains otherwise dominate every
        # downstream stage's cost), and the hash rank makes the kept set
        # independent of input order, so the pipeline stays deterministic.
        d0 = docs
        if domain_col is not None:
            d0 = timed_stage(
                lambda: domains.domain_cap(
                    docs, domain_col, max_per_domain, id_col=id_col
                ),
                "domain_cap",
            )

        # 0b. phrase blocklist (optional): drop documents containing any
        # banned phrase (operators/domains.py phrase_blocklist_filter —
        # multi-word, token-boundary). Runs BEFORE dedup: the content-policy
        # gate is per-length gram joins against a broadcast list, far
        # cheaper than dedup's shuffles, so blocked docs never pay for any
        # downstream stage.
        if blocklist_phrases is not None:
            prev0 = d0
            d0 = timed_stage(
                lambda: domains.phrase_blocklist_filter(
                    prev0, blocklist_phrases, id_col, text_col
                ),
                "blocklist",
            )

        # 0c. C4 line cleaning (optional): rewrite each doc to its kept
        # lines and drop documents failing the C4 document rules. BEFORE
        # exact dedup (the T5 order): dedup fingerprints then hash the
        # CLEANED text, so two docs differing only in dropped boilerplate
        # lines correctly collide.
        if c4_clean:
            prev0c = d0

            def _c4_stage(prev0c=prev0c):
                cols = text.c4_line_clean(
                    F.col(text_col), min_words=c4_min_words
                )
                return (
                    prev0c.filter(cols["keep_doc"])
                    .withColumn("_c4_text", cols["cleaned"])
                    .drop(text_col)
                    .withColumnRenamed("_c4_text", text_col)
                )

            d0 = timed_stage(
                _c4_stage,
                "c4_clean",
            )

        # 1. exact dedup under the canonical fingerprint (formatting-proof)
        survivors = dedup.exact_dedup_survivors(
            d0, id_col, text.fingerprint(F.col(text_col))
        ).select(id_col)
        d = timed_stage(
            lambda: d0.join(survivors, id_col, "left_semi"),
            "exact_dedup",
        )

        # 2. near dedup: LSH candidates → exact verify → cluster survivors
        prev = d
        d = timed_stage(
            lambda: dedup.near_dedup_corpus(
                prev, id_col, text_col, threshold=near_dup_threshold
            ),
            "near_dedup",
        )

        # 2b. exact substring dedup (Lee et al.): repeated ≥k-token spans cut
        # everywhere but their first occurrence; a fully-covered doc drops.
        # Runs AFTER doc-level dedup so whole-document duplicates are already
        # gone and the gram stats see each surviving doc once.
        if substring_k is not None:
            prev = d

            def _substr_stage(prev=prev):
                rewritten = substring.substring_dedup_corpus(
                    prev, id_col, text_col, substring_k
                ).select(id_col, text_col)
                return prev.drop(text_col).join(rewritten, id_col)

            d = timed_stage(
                _substr_stage,
                "substring_dedup",
            )

        # 2c. Gopher document-rule gate (optional): the full Rae et al.
        # A.1.1 battery as a hard filter — the MassiveText order (rule
        # filters before the learned/scored floors). Zero-shuffle codegen
        # projection like the quality floor below.
        if gopher_rules:
            prev = d

            def _gopher_stage(prev=prev):
                flags = text.gopher_quality_flags(
                    F.col(text_col), min_words=gopher_min_words
                )
                cond = F.lit(True)
                for name, col in flags.items():
                    if name.endswith("_ok"):
                        cond = cond & col
                return prev.filter(cond)

            d = timed_stage(
                _gopher_stage,
                "gopher",
            )

        # 3. quality floor (C4-style flags → mean score in [0, 1])
        prev = d
        d = timed_stage(
            lambda: prev.filter(text.quality_score(F.col(text_col)) >= min_quality),
            "quality",
        )

        # 3a. LM-score floor: corpus-self-trained bigram perplexity signal —
        # drops word-salad/outlier docs the flag-based score can't see. The
        # LM trains on the CURRENT survivors (post-dedup), so duplicated
        # boilerplate can no longer inflate its own probability.
        if min_lm_score is not None:
            prev = d

            def _lm_stage(prev=prev):
                lm = text.bigram_lm_scores(prev, id_col, text_col)
                too_surprising = lm.filter(
                    F.col("lm_score") < min_lm_score
                ).select(id_col)
                return prev.join(too_surprising, id_col, "left_anti")

            d = timed_stage(
                _lm_stage,
                "lm_floor",
            )

        # 3a'. trained-classifier floor: a fitted logistic-regression quality
        # model (operators/classifier.py QualityModel, trained on the
        # caller's weak labels) scores every survivor; docs below the floor
        # drop. Scoring is a zero-shuffle codegen projection — the CHEAPEST
        # stage in the pipeline despite being the only learned one.
        if quality_model is not None:
            prev = d

            def _clf_stage(prev=prev):
                return prev.filter(
                    classifier.quality_lr_score(
                        quality_model, F.col(text_col)
                    )
                    >= min_model_quality
                )

            d = timed_stage(
                _clf_stage,
                "clf_quality",
            )

        # 3b. repetition ceiling (duplicate-bigram fraction — boilerplate)
        if max_repetition is not None:
            prev = d

            def _rep_stage(prev=prev):
                reps = text.repetition_profile(prev, id_col, text_col, ns=(2,))
                too_repetitive = reps.filter(
                    F.col("dup_ngram_frac") > max_repetition
                ).select(id_col)
                return prev.join(too_repetitive, id_col, "left_anti")

            d = timed_stage(
                _rep_stage,
                "repetition",
            )

        # 4. benchmark decontamination (drop docs sharing an n-gram).
        # contamination_bloom swaps in the Bloom-prefiltered variant — same
        # survivors (the prefilter is lossless, oracle-proven), corpus-side
        # join volume cut by ~(1-fpp) for benchmarks too big to broadcast.
        # Deliberately NOT part of the workdir fingerprint: both paths
        # produce identical stage output, so resuming under either is safe.
        if benchmark is not None:
            prev = d
            _hits_fn = (
                packing.contamination_hits_bloom
                if contamination_bloom
                else packing.contamination_hits
            )

            def _decon_stage(prev=prev):
                hits = _hits_fn(
                    prev, benchmark, id_col, text_col, contamination_ngram
                )
                return prev.join(hits.select(id_col), id_col, "left_anti")

            d = timed_stage(
                _decon_stage,
                "decontaminated",
            )

        # 4b. DSIR importance resampling (optional): keep the dsir_k
        # survivors whose hashed-n-gram distribution best matches the target
        # corpus, sampled without replacement via the deterministic Gumbel
        # top-k (operators/selection.py — Xie et al. 2023). Runs on the
        # CLEANED, DECONTAMINATED pool (the paper's order: selection from a
        # pre-filtered raw pool) and before mixing, so the mix/pack stages
        # see only the selected documents.
        if dsir_target is not None:
            prev = d

            def _dsir_stage(prev=prev):
                # corpus-scale k switches to the quantile-threshold selector
                # (no k-row driver materialization; count ~ k within the
                # sketch error) — exact Gumbel top-k below the ceiling
                if dsir_k > selection.EXACT_K_CEILING:
                    sel = selection.importance_resample_threshold(
                        prev, dsir_target, id_col, text_col,
                        expected_k=dsir_k, n_buckets=dsir_buckets,
                    )
                else:
                    sel = selection.importance_resample(
                        prev, dsir_target, id_col, text_col,
                        k=dsir_k, n_buckets=dsir_buckets,
                    )
                return prev.join(sel.select(id_col), id_col, "left_semi")

            d = timed_stage(
                _dsir_stage,
                "dsir",
            )

        # 5. mixing
        if temperature is not None:
            prev = d
            d = timed_stage(
                lambda: sampling.temperature_mix(
                    prev, mix_col, temperature, id_col=id_col
                ),
                "mixed",
            )
        elif mix is not None:
            prev = d
            d = timed_stage(
                lambda: sampling.weighted_mix(prev, mix_col, mix, id_col=id_col),
                "mixed",
            )
        elif token_budgets is not None:
            # the trainers' unit: greedy-fill each source to a TOKEN budget
            # (sampling.token_budget_mix — group-generalized two-phase
            # prefix sum in deterministic md5-rank order)
            prev = d
            d = timed_stage(
                lambda: sampling.token_budget_mix(
                    prev,
                    token_budgets,
                    text.n_tokens(F.col(text_col)),
                    source_col=mix_col,
                    id_col=id_col,
                ),
                "mixed",
            )

        # 6. sequence packing assignments (replicas get distinct pack ids so
        # upsampled copies land in different windows)
        pack_id = (
            F.concat_ws("#", F.col(id_col).cast("string"), F.col("replica"))
            if "replica" in d.columns
            else F.col(id_col).cast("string")
        )
        if shuffle_salt is not None:
            # deterministic shuffle: the pack key IS the packing order, so a
            # salted md5 key packs the corpus in a reproducible pseudo-random
            # permutation — no extra operator, the prefix sum's range
            # partitioning distributes the hash order exactly like id order.
            pack_id = F.md5(F.concat(F.lit(shuffle_salt), F.lit("|"), pack_id))
        t_pack = time.perf_counter()
        if workdir is not None and _complete("packed"):
            # fully-resumed run: skip even the prefix-sum construction (it
            # runs eager jobs)
            out = spark.read.parquet(_stage_path("packed"))
        else:
            d = d.withColumn("_pack_id", pack_id)
            packed = packing.pack_sequences(
                d, "_pack_id", text.n_tokens(F.col(text_col)), seq_len
            )
            joined = d.join(
                packed.select("_pack_id", "seq_bin", "bin_pos"), "_pack_id"
            ).drop("_pack_id")
            if workdir is not None:
                atomic_overwrite(joined, _stage_path("packed"))
                out = spark.read.parquet(_stage_path("packed"))
            else:
                # checkpoint like the stages (self-contained, one-scan-deep
                # plan), so every intermediate block below can be freed
                # without leaving the result's cache eviction-fragile
                out = tracked_local_checkpoint(joined)
        ledger["packed"] = out.count()
        walls["packed"] = round(time.perf_counter() - t_pack, 3)
        return CorpusPrepResult(docs=out, ledger=ledger, walls=walls)
