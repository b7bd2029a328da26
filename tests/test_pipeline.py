"""End-to-end corpus-prep pipeline: stage ledger is monotone through the
drop stages, every stage's contract holds on the output, and the whole
run is deterministic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.pipeline import prepare_training_corpus

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(autouse=True)
def _release_pipeline_heap(spark):
    """Each test in this file runs a full corpus-prep pipeline whose
    result frames pin localCheckpoint blocks on the DRIVER heap — ~30
    runs in one session OOM'd an 8g driver at the suite's tail. The
    result has session lifetime (caching.py), so release it after every
    test, as the @query wrapper does per query; dropping the refs and
    forcing a JVM GC then returns the heap to baseline."""
    yield
    import gc

    from basic_data_pipeline_spark.caching import release_persisted

    release_persisted()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def test_prepare_training_corpus_end_to_end(spark, docs):
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    res = prepare_training_corpus(
        docs,
        min_quality=0.5,
        benchmark=bench,
        temperature=3.0,
        seq_len=256,
    )
    led = res.ledger
    # drop stages only drop; the order of keys is the pipeline order
    assert led["input"] >= led["exact_dedup"] >= led["near_dedup"] >= led["quality"]
    assert led["quality"] >= led["decontaminated"]
    assert led["packed"] == led["mixed"]
    assert led["near_dedup"] < led["input"], "fixture dups must drop"
    # per-stage walls (r9): every counted stage has a wall (input is the
    # ledger head, counted before the wall clock starts)
    assert set(res.walls) == set(led) - {"input"}
    assert all(w >= 0 for w in res.walls.values())

    out = res.docs
    # no surviving doc shares an 8-gram with the benchmark (besides itself)
    out_ids = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    bench_texts = [r["text"] for r in bench.collect()]

    def grams(t, n=8):
        w = t.lower().split()
        return {" ".join(w[i : i + n]) for i in range(max(len(w) - n + 1, 1))}

    bench_grams_by_id = {
        r["doc_id"]: grams(r["text"]) for r in bench.collect()
    }
    for r in out.select("doc_id", "text").distinct().collect():
        g = grams(r["text"])
        for bid, bg in bench_grams_by_id.items():
            if bid != r["doc_id"]:
                assert not (g & bg), (r["doc_id"], bid)

    # every output row has a packing assignment; bin positions valid
    assert out.filter(F.col("seq_bin").isNull()).count() == 0
    assert out.filter((F.col("bin_pos") < 0) | (F.col("bin_pos") >= 256)).count() == 0

    # determinism: same inputs → same ledger and same survivor ids
    res2 = prepare_training_corpus(
        docs.repartition(13),
        min_quality=0.5,
        benchmark=bench,
        temperature=3.0,
        seq_len=256,
    )
    assert res2.ledger == led
    assert {
        r["doc_id"] for r in res2.docs.select("doc_id").distinct().collect()
    } == out_ids


@pytest.mark.slow
def test_blocklist_stage_drops_phrase_carriers(spark, docs, tmp_path):
    """Docs containing a banned phrase drop before dedup; the blocklist
    identity rides in the workdir fingerprint (a different list against
    a populated workdir raises)."""
    sample = docs.orderBy("doc_id").limit(1).collect()[0]
    phrase = " ".join(sample["text"].split()[:4])
    bl = spark.createDataFrame([(phrase,)], "phrase string")
    res = prepare_training_corpus(
        docs, min_quality=0.0, seq_len=256, blocklist_phrases=bl
    )
    assert res.ledger["blocklist"] < res.ledger["input"]
    kept = {r["doc_id"] for r in res.docs.select("doc_id").collect()}
    assert sample["doc_id"] not in kept

    wd = str(tmp_path / "wd")
    prepare_training_corpus(
        docs, min_quality=0.0, seq_len=256, blocklist_phrases=bl,
        workdir=wd,
    )
    other = spark.createDataFrame(
        [("completely different banned phrase",)], "phrase string"
    )
    with pytest.raises(ValueError, match="DIFFERENT parameters"):
        prepare_training_corpus(
            docs, min_quality=0.0, seq_len=256, blocklist_phrases=other,
            workdir=wd,
        )


@pytest.mark.slow
def test_bloom_decontamination_same_survivors(spark, docs):
    """contamination_bloom must not change WHICH documents survive —
    the prefilter is lossless (and therefore safely outside the workdir
    fingerprint)."""
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    kw = dict(min_quality=0.5, benchmark=bench, seq_len=256)
    exact = prepare_training_corpus(docs, **kw)
    bloom = prepare_training_corpus(docs, contamination_bloom=True, **kw)
    ids = lambda r: sorted(
        x["doc_id"] for x in r.docs.select("doc_id").collect()
    )
    assert ids(bloom) == ids(exact)
    assert bloom.ledger == exact.ledger


def test_prepare_training_corpus_rejects_conflicting_mixing(spark, docs):
    with pytest.raises(ValueError):
        prepare_training_corpus(docs, mix={"web": 1.0}, temperature=2.0)


@pytest.mark.slow
def test_repetition_filter_drops_boilerplate(spark, docs):
    """A planted high-repetition doc survives the quality floor (decent
    length/token shape) but must fall to the repetition ceiling; short
    docs without bigrams are kept."""
    boiler = spark.createDataFrame(
        [(999_999, "spam eggs spam eggs " * 40, "en", "web", 800)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    res = prepare_training_corpus(
        docs.unionByName(boiler),
        min_quality=0.25,
        max_repetition=0.9,
        seq_len=256,
    )
    assert "repetition" in res.ledger
    assert res.ledger["repetition"] < res.ledger["quality"]
    out_ids = {r["doc_id"] for r in res.docs.select("doc_id").collect()}
    assert 999_999 not in out_ids


@pytest.mark.slow
def test_workdir_durable_run_matches_inmemory(spark, docs, tmp_path):
    """workdir= produces the identical ledger and survivors as the
    in-memory run (stages are deterministic, storage is a pass-through)."""
    mem = prepare_training_corpus(docs, min_quality=0.4, seq_len=256)
    dur = prepare_training_corpus(
        docs, min_quality=0.4, seq_len=256, workdir=str(tmp_path / "wd")
    )
    assert dur.ledger == mem.ledger
    key = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["seq_bin"], r["bin_pos"])
        for r in df.select("doc_id", "seq_bin", "bin_pos").collect()
    )
    assert key(dur.docs) == key(mem.docs)


def test_workdir_resume_skips_completed_stages(spark, docs, tmp_path):
    """Crash-restart: with early stage outputs present, a rerun must NOT
    recompute them (files byte-stable by mtime) and must rebuild only
    what's missing — final result identical."""
    import os
    import shutil

    wd = str(tmp_path / "wd")
    first = prepare_training_corpus(
        docs, min_quality=0.4, seq_len=256, workdir=wd
    )
    nd = os.path.join(wd, "near_dedup")
    before = {f: os.path.getmtime(os.path.join(nd, f)) for f in os.listdir(nd)}
    # simulate a crash after near_dedup: later stages lost
    shutil.rmtree(os.path.join(wd, "quality"))
    shutil.rmtree(os.path.join(wd, "packed"))
    second = prepare_training_corpus(
        docs, min_quality=0.4, seq_len=256, workdir=wd
    )
    after = {f: os.path.getmtime(os.path.join(nd, f)) for f in os.listdir(nd)}
    assert after == before, "completed stage must not be recomputed"
    assert second.ledger == first.ledger
    # full resume (nothing missing) also returns the same result
    third = prepare_training_corpus(
        docs, min_quality=0.4, seq_len=256, workdir=wd
    )
    assert third.ledger == first.ledger


def test_workdir_param_change_raises(spark, docs, tmp_path):
    wd = str(tmp_path / "wd")
    prepare_training_corpus(docs, min_quality=0.4, seq_len=256, workdir=wd)
    with pytest.raises(ValueError, match="DIFFERENT parameters"):
        prepare_training_corpus(
            docs, min_quality=0.6, seq_len=256, workdir=wd
        )


@pytest.mark.slow
def test_workdir_input_change_raises(spark, docs, tmp_path):
    """The fingerprint binds the workdir to the INPUT too: resuming with
    a different corpus (here, a filtered subset — same files, different
    rows) or a different benchmark must raise instead of serving the old
    corpus's cached stages."""
    wd = str(tmp_path / "wd")
    prepare_training_corpus(docs, min_quality=0.4, seq_len=256, workdir=wd)
    with pytest.raises(ValueError, match="DIFFERENT parameters"):
        prepare_training_corpus(
            docs.filter(F.col("doc_id") % 2 == 0),
            min_quality=0.4, seq_len=256, workdir=wd,
        )
    # a different benchmark frame changes the fingerprint as well
    wd2 = str(tmp_path / "wd2")
    bench_a = docs.filter(F.col("doc_id") % 50 == 0)
    bench_b = docs.filter(F.col("doc_id") % 10 == 0)
    prepare_training_corpus(
        docs, min_quality=0.4, seq_len=256, workdir=wd2, benchmark=bench_a
    )
    with pytest.raises(ValueError, match="DIFFERENT parameters"):
        prepare_training_corpus(
            docs, min_quality=0.4, seq_len=256, workdir=wd2,
            benchmark=bench_b,
        )


@pytest.mark.slow
def test_substring_stage_cuts_pasted_span(spark, docs):
    """substring_k=: a long span pasted into two otherwise-distinct docs
    survives only at its first occurrence; the ledger records the stage
    right after near_dedup."""
    span = " ".join(f"tok{i}" for i in range(40))
    filler_a = " ".join(f"alpha{i}" for i in range(120))
    filler_b = " ".join(f"beta{i}" for i in range(120))
    planted = spark.createDataFrame(
        [
            (90_101, filler_a + " " + span, "web"),
            (90_102, span + " " + filler_b, "web"),
        ],
        "doc_id long, text string, source string",
    )
    corpus = docs.limit(150).unionByName(planted, allowMissingColumns=True)
    res = prepare_training_corpus(
        corpus, substring_k=8, min_quality=0.0, seq_len=256
    )
    texts = {
        r["doc_id"]: r["text"]
        for r in res.docs.filter(F.col("doc_id") > 90_000)
        .select("doc_id", "text")
        .collect()
    }
    assert span in texts[90_101]
    assert span not in texts[90_102]
    keys = list(res.ledger)
    assert keys.index("near_dedup") + 1 == keys.index("substring_dedup")


@pytest.mark.slow
def test_trained_classifier_stage_drops_junk(spark, docs):
    """quality_model=: a fitted LR quality model (trained on weak labels
    from the fixture + constructed junk) becomes a pipeline stage; the
    planted junk docs drop, organic docs survive, and the ledger records
    the stage between the heuristic floor and packing."""
    from basic_data_pipeline_spark.operators import classifier as C

    def junk(i):
        frag = f"@@x{i}## $$%%&&** ((zqj{i})) //kpw || ^^~~qq{i}!!"
        return " ".join(frag for _ in range(8))

    labeled = (
        docs.select("doc_id", "text").limit(150).withColumn("label", F.lit(1))
    ).unionByName(
        spark.createDataFrame(
            [(20_000 + i, junk(i), 0) for i in range(80)],
            "doc_id long, text string, label int",
        )
    )
    model = C.train_quality_lr(labeled, "label", n_iters=40)

    planted = spark.createDataFrame(
        [(90_001 + i, junk(500 + i), "web") for i in range(3)],
        "doc_id long, text string, source string",
    )
    corpus = docs.limit(200).unionByName(planted, allowMissingColumns=True)
    res = prepare_training_corpus(
        corpus,
        min_quality=0.0,  # heuristic floor off — the model does the work
        quality_model=model,
        min_model_quality=0.5,
        seq_len=256,
    )
    kept = {r["doc_id"] for r in res.docs.select("doc_id").collect()}
    assert not kept & {90_001, 90_002, 90_003}  # junk dropped by the model
    led = res.ledger
    assert "clf_quality" in led
    keys = list(led)
    assert keys.index("quality") < keys.index("clf_quality")
    assert led["clf_quality"] <= led["quality"]
    assert led["clf_quality"] >= led["quality"] - 10  # organic mostly kept


@pytest.mark.slow
def test_lm_floor_drops_word_salad(spark, docs):
    """min_lm_score: a planted shuffled-vocabulary doc (improbable bigrams
    under the corpus LM) drops; natural docs survive; ledger records the
    stage between quality and packing."""
    from basic_data_pipeline_spark.operators import text as T

    # the planted doc alternates the corpus's MOST FREQUENT token with
    # distinct novel tokens: every (frequent -> novel) bigram has c12=1
    # against a huge c1, i.e. probability ~1/c1 — reliably far below
    # natural pairs. (Pure OOV gibberish is NOT reliably low here: the
    # fixture vocabulary is tiny, so the smoothing denominator barely
    # penalizes singleton-vs-singleton bigrams; and a mere permutation
    # isn't low either — the synthetic text has weak adjacency signal.)
    top_word = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").count().orderBy(F.desc("count"), "w")
        .first()["w"]
    )
    salad = " ".join(f"{top_word} zzqx{i}" for i in range(15))
    planted = docs.unionByName(
        spark.createDataFrame(
            [(990001, salad, "xx", "srcx", len(salad))], docs.schema
        )
    )
    # pick the floor from the observed scores: strictly between the
    # salad's score and the corpus median, so the assertion is stable
    scores = {
        r["doc_id"]: r["lm_score"]
        for r in T.bigram_lm_scores(planted, "doc_id", "text").collect()
    }
    corpus_scores = sorted(
        v for k, v in scores.items() if k != 990001
    )
    median = corpus_scores[len(corpus_scores) // 2]
    assert scores[990001] < median, "salad must score below the median"
    floor = (scores[990001] + median) / 2
    res = prepare_training_corpus(
        planted, min_quality=0.0, min_lm_score=floor, seq_len=256
    )
    out_ids = {r["doc_id"] for r in res.docs.select("doc_id").collect()}
    assert 990001 not in out_ids
    assert res.ledger["lm_floor"] < res.ledger["quality"]
    assert len(out_ids) > 0


@pytest.mark.slow
def test_deterministic_shuffle_packs_reproducible_permutation(spark, docs):
    """shuffle_salt packs in salted-hash order: same salt → bit-identical
    layout across runs/partitionings; layout differs from id order; the
    window count is conserved (same token stream, different order)."""
    kw = dict(min_quality=0.0, seq_len=256)

    def layout(d, **extra):
        res = prepare_training_corpus(d, **kw, **extra)
        return {
            r["doc_id"]: (r["seq_bin"], r["bin_pos"])
            for r in res.docs.select("doc_id", "seq_bin", "bin_pos").collect()
        }

    a = layout(docs, shuffle_salt="epoch1")
    b = layout(docs.repartition(13), shuffle_salt="epoch1")
    assert a == b, "same salt must give the identical layout"

    plain = layout(docs)
    assert set(a) == set(plain), "shuffle must not change the doc set"
    assert a != plain, "salted order must differ from id order"
    assert max(v[0] for v in a.values()) == max(
        v[0] for v in plain.values()
    ), "same token stream => same window count"

    c = layout(docs, shuffle_salt="epoch2")
    assert a != c, "different salt must give a different permutation"


def test_workdir_inmemory_input_digest_raises(spark, docs, tmp_path):
    """File-less in-memory inputs carry a CONTENT digest in the
    fingerprint: a different same-row-count corpus must raise instead of
    silently serving the previous corpus's cached stages (the r7 ADVICE
    hole — row count alone can collide)."""
    wd = str(tmp_path / "wd")
    mem_a = spark.createDataFrame(docs.filter(F.col("doc_id") < 40).collect())
    mem_b = spark.createDataFrame(
        docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 80)).collect()
    )
    assert mem_a.count() == mem_b.count() == 40  # same count, diff content
    prepare_training_corpus(mem_a, min_quality=0.0, seq_len=256, workdir=wd)
    with pytest.raises(ValueError, match="DIFFERENT parameters"):
        prepare_training_corpus(
            mem_b, min_quality=0.0, seq_len=256, workdir=wd
        )
    # the true resume still works (same frame → same digest)
    res = prepare_training_corpus(
        mem_a, min_quality=0.0, seq_len=256, workdir=wd
    )
    assert res.ledger["input"] == 40


def test_workdir_fingerprint_version_mismatch_says_so(spark, docs, tmp_path):
    """A workdir written under an older fingerprint FORMAT gets the
    explicit format-changed message, not the misleading 'DIFFERENT
    parameters' (r7 ADVICE #4)."""
    import json
    import os

    wd = str(tmp_path / "wd")
    os.makedirs(wd)
    with open(os.path.join(wd, "_prep_params.json"), "w") as f:
        json.dump({"fingerprint": "deadbeef"}, f)  # v1: no version field
    with pytest.raises(ValueError, match="older engine fingerprint format"):
        prepare_training_corpus(docs, seq_len=256, workdir=wd)


def test_workdir_model_identity_in_fingerprint(spark, docs, tmp_path):
    """The trained quality model's COEFFICIENTS ride in the fingerprint:
    resuming a workdir with a differently-fitted model raises — a
    resumed run must never silently score with the wrong model."""
    from basic_data_pipeline_spark.operators import classifier as C

    wd = str(tmp_path / "wd")
    m_a = C.QualityModel(
        mean=(0.0,) * 6, std=(1.0,) * 6, weights=(0.1,) * 6, bias=0.0
    )
    m_b = C.QualityModel(
        mean=(0.0,) * 6, std=(1.0,) * 6, weights=(0.2,) * 6, bias=0.0
    )
    prepare_training_corpus(
        docs, seq_len=256, workdir=wd, quality_model=m_a,
        min_model_quality=0.0,
    )
    with pytest.raises(ValueError, match="DIFFERENT parameters"):
        prepare_training_corpus(
            docs, seq_len=256, workdir=wd, quality_model=m_b,
            min_model_quality=0.0,
        )


def test_domain_cap_stage_bounds_every_domain(spark, docs):
    """r8: the optional domain-quota stage caps each source at
    max_per_domain BEFORE dedup, the ledger records it first, and the
    kept set is deterministic under repartitioning."""
    res = prepare_training_corpus(
        docs, domain_col="source", max_per_domain=5, seq_len=256,
    )
    led = res.ledger
    assert list(led)[:3] == ["input", "domain_cap", "exact_dedup"]
    assert led["domain_cap"] <= led["input"]
    assert led["domain_cap"] >= led["exact_dedup"]
    per_dom = (
        res.docs.groupBy("source").count().agg(F.max("count")).first()[0]
    )
    assert per_dom <= 5
    res2 = prepare_training_corpus(
        docs.repartition(13), domain_col="source", max_per_domain=5,
        seq_len=256,
    )
    assert res2.ledger == led
    ids = lambda r: {x.doc_id for x in r.docs.select("doc_id").collect()}
    assert ids(res2) == ids(res)


def test_domain_cap_params_must_travel_together(spark, docs):
    with pytest.raises(ValueError, match="together"):
        prepare_training_corpus(docs, domain_col="source", seq_len=256)
    with pytest.raises(ValueError, match="together"):
        prepare_training_corpus(docs, max_per_domain=5, seq_len=256)


def test_domain_cap_in_workdir_fingerprint(spark, docs, tmp_path):
    """Resuming a workdir under a different cap raises."""
    wd = str(tmp_path / "wd")
    prepare_training_corpus(
        docs, domain_col="source", max_per_domain=5, seq_len=256,
        workdir=wd,
    )
    with pytest.raises(ValueError, match="DIFFERENT parameters"):
        prepare_training_corpus(
            docs, domain_col="source", max_per_domain=6, seq_len=256,
            workdir=wd,
        )


@pytest.mark.slow
def test_dsir_stage_selects_k_target_matched_docs(spark, docs):
    """r8: the optional DSIR stage keeps exactly dsir_k survivors (the
    Gumbel-top-k sample toward the target), the ledger records it after
    decontamination, and the kept set is deterministic under
    repartitioning."""
    target = docs.filter(F.col("doc_id") % 50 == 0)
    res = prepare_training_corpus(
        docs, dsir_target=target, dsir_k=20, dsir_buckets=256,
        temperature=3.0, seq_len=256,
    )
    led = res.ledger
    assert "dsir" in led and led["dsir"] == 20
    keys = list(led)
    assert keys.index("near_dedup") < keys.index("dsir") < keys.index("mixed")
    # mixing runs AFTER selection, so the final corpus is drawn from the
    # 20 selected docs only
    assert res.docs.select("doc_id").distinct().count() <= 20
    assert led["mixed"] <= led["dsir"] * 3  # sane upsample bound
    res2 = prepare_training_corpus(
        docs.repartition(13), dsir_target=target, dsir_k=20,
        dsir_buckets=256, temperature=3.0, seq_len=256,
    )
    ids = lambda r: {x.doc_id for x in r.docs.select("doc_id").collect()}
    assert ids(res2) == ids(res)
    assert res2.ledger == led


def test_dsir_params_must_travel_together(spark, docs):
    target = docs.limit(5)
    with pytest.raises(ValueError, match="together"):
        prepare_training_corpus(docs, dsir_target=target, seq_len=256)
    with pytest.raises(ValueError, match="together"):
        prepare_training_corpus(docs, dsir_k=10, seq_len=256)


@pytest.mark.slow
def test_dsir_in_workdir_fingerprint(spark, docs, tmp_path):
    """Resuming a workdir under a different dsir_k or target raises."""
    target = docs.filter(F.col("doc_id") % 50 == 0)
    wd = str(tmp_path / "wd")
    prepare_training_corpus(
        docs, dsir_target=target, dsir_k=20, dsir_buckets=256,
        seq_len=256, workdir=wd,
    )
    with pytest.raises(ValueError, match="DIFFERENT parameters"):
        prepare_training_corpus(
            docs, dsir_target=target, dsir_k=21, dsir_buckets=256,
            seq_len=256, workdir=wd,
        )
    with pytest.raises(ValueError, match="DIFFERENT parameters"):
        prepare_training_corpus(
            docs, dsir_target=docs.filter(F.col("doc_id") % 50 == 1),
            dsir_k=20, dsir_buckets=256, seq_len=256, workdir=wd,
        )


@pytest.mark.slow
def test_token_budget_mixing_mode(spark, docs):
    """token_budgets as the third mixing mode: per-source kept tokens
    land within one doc of the budget; mutually exclusive with the
    other modes."""
    budgets = {f"src{i}": 400 for i in range(20)}
    res = prepare_training_corpus(
        docs, min_quality=0.0, seq_len=256, token_budgets=budgets
    )
    assert res.ledger["mixed"] <= res.ledger["decontaminated"] if (
        "decontaminated" in res.ledger
    ) else True
    rows = res.docs.select("doc_id", "source", "text").collect()
    per_src = {}
    for r in rows:
        n = len([t for t in r["text"].split() if t])
        per_src[r["source"]] = per_src.get(r["source"], 0) + n
    assert per_src, "something survives"
    for src, tot in per_src.items():
        assert tot < 400 + 600, (src, tot)  # budget + max doc bound

    with pytest.raises(ValueError, match="at most one"):
        prepare_training_corpus(
            docs, token_budgets=budgets, temperature=2.0
        )


def test_c4_clean_stage_rewrites_and_drops(spark, docs):
    """c4_clean=True rewrites each doc to its kept lines before dedup
    and drops documents failing the C4 document rules."""
    extra = spark.createDataFrame(
        [
            # 3 good terminated lines -> kept, text rewritten verbatim
            (900001, "A first sentence that is long enough to keep.\n"
                     "Another decent sentence that also survives fine.\n"
                     "And one more terminated sentence right here too.",
             "en", "src0", 100),
            # brace doc -> dropped by the document rule
            (900002, "function f() { return 1; }\n"
                     "A good sentence that would otherwise survive here.\n"
                     "Another good sentence that would survive as well.\n"
                     "A third good sentence that would survive as well.",
             "en", "src0", 100),
            # unterminated boilerplate lines -> fewer than 3 kept -> drop
            (900003, "no terminal punctuation on this line\n"
                     "short one.\nanother bare line without an ending",
             "en", "src0", 100),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    inp = docs.unionByName(extra)
    res = prepare_training_corpus(
        inp, c4_clean=True, min_quality=0.0, seq_len=256
    )
    led = res.ledger
    assert list(led)[:2] == ["input", "c4_clean"]
    assert led["c4_clean"] <= led["input"]
    out_ids = {r["doc_id"] for r in res.docs.select("doc_id").collect()}
    assert 900001 in out_ids
    assert 900002 not in out_ids and 900003 not in out_ids
    kept_text = res.docs.filter(F.col("doc_id") == 900001).first()["text"]
    assert kept_text.count("\n") == 2  # all three lines survived
    # the fixture docs (single unterminated line each) all fail the
    # 3-kept-lines rule — the stage really rewrote/refiltered everything
    assert led["c4_clean"] == 1


def test_gopher_stage_gates_on_the_full_battery(spark, docs):
    """gopher_rules=True drops docs failing ANY battery rule; the rest
    of the fixture (long-enough, stopword-bearing text) passes."""
    good = "the data of the batch and the table that we have built with care"
    extra = spark.createDataFrame(
        [
            (900011, " ".join(["word"] * 9), "en", "src0", 45),  # too short
            # >= 20 words, >= 2 gopher stopwords, sane lengths -> passes
            (900012, good + " " + good, "en", "src0", 120),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    inp = docs.unionByName(extra)
    # one pipeline run only: this file's session already runs ~25
    # pipelines, and a second full run here (a base-vs-gated ledger
    # diff) pushed the test-session driver heap over the edge — the
    # "stage absent by default" property is already covered by every
    # other test's ledger assertions.
    gated = prepare_training_corpus(
        inp, gopher_rules=True, gopher_min_words=20, min_quality=0.0,
        seq_len=256,
    )
    led = gated.ledger
    keys = list(led)
    assert keys.index("gopher") == keys.index("near_dedup") + 1
    assert led["gopher"] <= led["near_dedup"]
    out_ids = {r["doc_id"] for r in gated.docs.select("doc_id").collect()}
    assert 900011 not in out_ids
    assert 900012 in out_ids
    # the battery is a REAL gate on this fixture: its synthetic vocab
    # carries only one of the 8 gopher stopwords, so the 2-of-8 rule
    # drops every fixture doc — only the planted passer survives
    assert led["gopher"] == 1


def test_c4_gopher_params_in_workdir_fingerprint(spark, docs, tmp_path):
    wd = str(tmp_path / "wd")
    prepare_training_corpus(
        docs, c4_clean=False, gopher_rules=False, min_quality=0.4,
        seq_len=256, workdir=wd,
    )
    for kw in (
        {"c4_clean": True},
        {"gopher_rules": True},
        {"gopher_rules": True, "gopher_min_words": 10},
    ):
        with pytest.raises(ValueError, match="DIFFERENT parameters"):
            prepare_training_corpus(
                docs, min_quality=0.4, seq_len=256, workdir=wd, **kw
            )
