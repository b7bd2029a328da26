"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "queries_median": {...},
"session_norm": {...}, "sf": ...}.

The session is warmed once (JVM classloading, codegen compiler) before
timing. Each query is then timed through the `noop` sink: it executes the
full plan and materializes EVERY output column (count() would let Spark
prune the work away) without `collect()`'s py4j row serialization, which
for the full-table queries costs multiples of the engine time and measures
the Python driver, not the engine.

Noise control (round 8 — the r7 lockstep-drift lesson, where EVERY legacy
query read 6-29% slower with all plan fingerprints pinned and unchanged):

* the whole suite runs $SPARK_GRAFT_BENCH_RUNS times (default 5, up from
  3); each query reports BEST (headline `queries`, comparable to all
  prior rounds) and MEDIAN (`queries_median` — robust to one fast outlier
  the way best is robust to one slow one);
* a pinned SESSION-NORM query — a trivial two-column scan+aggregate over
  lineitem whose plan no engine change of ours should ever alter — is
  timed once per suite pass. Its best/median ride in `session_norm`.
  HOW TO READ cross-round drift: if round N+1's query times move by
  roughly the same factor as its `session_norm` (GC posture, page cache,
  CPU contention of the measuring session), the drift is the session, not
  the code; a query that moves WITHOUT session_norm moving is a real
  change. See README.md "Benchmarking".

Per-arm walls (round 9 — the r8 lesson where sim_topk_methods' +220%
was invisible-by-construction because the slot had gained 4 arms):
tag-union headliners (leading `kind`/`grp`/`branch`/`method` column
with >= 4 distinct values) are ALSO timed one arm at a time — the query
is built ONCE per pass (its construction wall reported as `_construct`)
and each arm executes a `filter(tag == arm)` over that one plan, which
constant-folds every other union branch away at EXECUTION. So each
arm's wall is the shared input scan plus that arm's own execution;
work a slot performs EAGERLY at query construction (driver-loop arms
like scc/lpa or per-round-checkpointed pagerank, should such a slot
ever become a headliner) lands once in `_construct`, never smeared
into every arm's number (r9 ADVICE — the old per-arm rebuild re-ran
eager construction per arm). Bests ride in `queries_arms`; the
headline `queries` numbers stay untouched and comparable. Arm passes
run min(3, runs) times to bound added wall time.

Noise floor (round 10, tightened round 11): `queries_spread` records
each headline query's sample stdev, count, AND `sem` — the standard
error of the sample median (≈ 1.2533·stdev/√n) — so cross-round tables
can mark sub-noise deltas mechanically. stdev alone does not shrink
with more runs, so the r10 rule ("real if |Δ| > 2× stdev") made a real
20% regression on a sub-second query invisible forever; the r11 rule
compares MEDIANS against their standard errors (a delta is real when
|Δ| > 2·√(sem_a² + sem_b²)), and sub-second queries are topped up to
SPARK_GRAFT_BENCH_SUBSEC_RUNS samples (default 15) so their sem
actually meets a ~15%-of-median floor. See README.md "Benchmarking".

Full-board walls (round 11): the 34 non-headline oracle slots had no
wall history — a 3× regression in e.g. `text_lang_token` (the heaviest
slot: eager driver-loop construction) was invisible to the bench gate.
`board` now carries ONE `{construct, exec}` wall pair per CANONICAL
slot (n=1 — trend detection across rounds, not a noise-floored
measurement; the headliners keep their N-run treatment above), and
`board_budget_violations` lists any slot whose construction wall blew
its declared budget (BOARD_CONSTRUCT_BUDGET_S — the eager-loop slots).
Disable with SPARK_GRAFT_BENCH_BOARD=0 for a quick headline-only run.

Artifact shape (round 11): the driver records only the last ~2000 bytes
of stdout and parses the JSON line from that tail — the r10 line
(arms + spread) overflowed it and BENCH_r10.json carried parsed: None.
So the printed line is COMPACT (value, per-query bests + medians,
session_norm, runs, sf, and a `detail` pointer; medians drop out too if
the line would still exceed the window) and the FULL payload — arms,
spread, the 50-slot board, budget violations — is written to
BENCH_DETAIL.json (latest) and appended to BENCH_DETAIL_HISTORY.jsonl
(per-run history) at the repo root.

Cold/warm differential (round 12 — the r11 lesson where three headline
persists regressed the driver's bench while the builder's A/Bs said
they won): a separate phase AFTER the headline passes re-runs each
query twice on one frame — cold (cache population included), then warm
(caches hot) — and records the warm medians as `queries_warm` in
BENCH_DETAIL. (cold − warm) is the cache-build cost every timed run
pays inside its window: a query whose gap grows across rounds gained a
cache barrier. Running it as its own phase keeps the headline passes'
posture identical to prior rounds (an inline second execution measured
as cross-query pollution on the next query's wall).

The printed line also carries `cpus` (the session's ACTUAL
defaultParallelism) so core-scaling runs carry direct evidence that
$SPARK_GRAFT_CPUS was honored — at sf0.1 most headliners are
job-floor-bound and their 8↔32-core ratios sit near 1, which a
heuristic can misread as the env var being ignored.

`value` is the sum of the per-query bests; `runs` records the repeat
count."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from basic_data_pipeline_spark import get_spark
from basic_data_pipeline_spark.registry import headline_queries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
#: sub-second headliners are topped up to this many samples so the
#: standard error of their median clears the README noise floor
SUBSEC_RUNS = max(
    N_RUNS, int(os.environ.get("SPARK_GRAFT_BENCH_SUBSEC_RUNS", "15"))
)
RUN_BOARD = os.environ.get("SPARK_GRAFT_BENCH_BOARD", "1") != "0"

#: construction-wall budgets (seconds at sf0.1) for the slots whose
#: QUERY CONSTRUCTION runs eager driver-loop work (SCC/LPA rounds,
#: per-round-checkpointed graph recurrences) — the board records every
#: slot's construct wall; these slots additionally fail the budget
#: check loudly in `board_budget_violations` instead of drifting
#: silently. Budgets are ~4× the observed r11 sf0.1 walls (11.1 / 14.5
#: / 8.6 s): trend alarms with session-noise headroom, not
#: noise-floored measurements.
BOARD_CONSTRUCT_BUDGET_S = {
    "text_lang_token": 45.0,
    "rollup_hourly_to_daily": 60.0,
    "join_salted_skew": 35.0,
}


def _session_norm(spark, sf_dir: str):
    """The pinned normalization query: scan lineitem, aggregate two
    columns. Fixed forever — its time moves only when the SESSION
    (JVM/GC/page-cache/CPU contention) moves, so it factors session
    state out of cross-round comparisons."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .select("l_quantity", "l_extendedprice")
        .agg(
            F.sum("l_quantity").alias("sq"),
            F.sum("l_extendedprice").alias("se"),
        )
    )


def _timed_noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


#: leading columns that mark a tag-union query; >= this many distinct
#: values makes the slot's cross-round deltas unattributable without
#: per-arm walls
_TAG_COLS = ("kind", "grp", "branch", "method")
_MIN_ARMS = 4


def _detect_arms(spark, qs) -> dict[str, tuple[str, list]]:
    """{query: (tag_col, [arm...])} for tag-union headliners. One build
    + one distinct-collect per query — a single extra warm pass."""
    out: dict[str, tuple[str, list]] = {}
    for name, fn in qs.items():
        try:
            df = fn(spark, SF_DIR)
            lead = df.columns[0]
            if lead not in _TAG_COLS:
                continue
            vals = sorted(r[0] for r in df.select(lead).distinct().collect())
        except Exception:  # noqa: BLE001 — detection is best-effort
            continue
        if len(vals) >= _MIN_ARMS:
            out[name] = (lead, vals)
    return out


def main() -> None:
    spark = get_spark("bench")
    qs = headline_queries()
    # warm the session (JVM classloading, codegen compiler) on the smallest
    # query once; per-query numbers below are per-run cold-cache plans.
    # Error isolation everywhere: one broken query must not zero the whole
    # artifact (BENCH_r04 lesson — the warm-up threw and rc=1 lost every
    # number). Failures are recorded per-query and the JSON line always
    # prints.
    errors: dict[str, str] = {}
    try:
        next(iter(qs.values()))(spark, SF_DIR).count()
        _session_norm(spark, SF_DIR).count()
    except Exception as exc:  # noqa: BLE001 — warm-up is best-effort
        errors["_warmup"] = f"{type(exc).__name__}: {exc}"[:500]

    samples: dict[str, list[float]] = {}
    warm_samples: dict[str, list[float]] = {}
    norm_samples: list[float] = []
    for i_run in range(N_RUNS):
        try:
            norm_samples.append(_timed_noop(_session_norm(spark, SF_DIR)))
        except Exception as exc:  # noqa: BLE001
            errors["_session_norm"] = f"{type(exc).__name__}: {exc}"[:500]
        for name, fn in qs.items():
            if name in errors:
                continue
            try:
                dt = _timed_noop(fn(spark, SF_DIR))
            except Exception as exc:  # noqa: BLE001 — isolate per query
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                samples.pop(name, None)
                continue
            samples.setdefault(name, []).append(dt)

    # cold/warm differential (r11 verdict #8) — run as its OWN phase
    # AFTER the headline passes so the headline numbers keep their
    # historical posture (an inline second execution per query measured
    # as cross-query pollution: the extra allocations shifted the NEXT
    # query's wall — dedup_minhash_lsh read +0.6 s in-suite while its
    # isolated wall had IMPROVED). Each pass builds fresh, pays the
    # cold execution (cache population included), then re-executes the
    # same frame warm: (cold − warm) is the cache-build cost inside the
    # timed window — the r11 cache-barrier regression signature.
    for _ in range(2):
        for name, fn in qs.items():
            if name in errors or f"{name}[_warm2]" in errors:
                continue
            try:
                df = fn(spark, SF_DIR)
                _timed_noop(df)  # cold: populates tracked persists
                warm_samples.setdefault(name, []).append(_timed_noop(df))
            except Exception as exc:  # noqa: BLE001
                errors[f"{name}[_warm2]"] = f"{type(exc).__name__}: {exc}"[:500]

    # per-arm walls for tag-union headliners (see module docstring)
    from pyspark.sql import functions as F

    arm_samples: dict[str, dict[str, list[float]]] = {}
    try:
        armed = _detect_arms(spark, qs)
    except Exception as exc:  # noqa: BLE001
        errors["_arms"] = f"{type(exc).__name__}: {exc}"[:500]
        armed = {}
    for _ in range(min(3, N_RUNS)):
        for name, (tag, arms) in armed.items():
            if name in errors:
                continue
            per = arm_samples.setdefault(name, {})
            try:  # build once per pass; eager construction lands here
                t0 = time.perf_counter()
                df = qs[name](spark, SF_DIR)
                per.setdefault("_construct", []).append(
                    round(time.perf_counter() - t0, 3)
                )
            except Exception as exc:  # noqa: BLE001
                errors[f"{name}[_construct]"] = (
                    f"{type(exc).__name__}: {exc}"[:500]
                )
                continue
            try:
                # warm the SHARED plan once per pass before timing arms:
                # the first timed arm's noop write would otherwise
                # populate every tracked_persist cache in the shared
                # plan, systematically inflating arm[0] and deflating
                # later arms (r10 ADVICE). `_warm` records the full
                # plan's wall, incl. lazy persist population.
                per.setdefault("_warm", []).append(_timed_noop(df))
            except Exception as exc:  # noqa: BLE001
                errors[f"{name}[_warm]"] = f"{type(exc).__name__}: {exc}"[:500]
                continue
            for arm in arms:
                try:
                    dt = _timed_noop(df.filter(F.col(tag) == arm))
                except Exception as exc:  # noqa: BLE001
                    errors[f"{name}[{arm}]"] = (
                        f"{type(exc).__name__}: {exc}"[:500]
                    )
                    continue
                per.setdefault(str(arm), []).append(dt)

    def _robust_sem(v: list[float]) -> float | None:
        """Standard error of the sample median via the MAD scale
        (1.4826·MAD ≈ σ for the central mass; 1.2533·σ/√n for the
        median). The right estimator here: local walls are a tight
        central cluster plus rare multi-second GC/contention spikes, and
        spikes inflate the raw stdev without moving the MEDIAN the rule
        compares — a sem built from raw stdev would say 'unknowable'
        about a number that is in fact highly stable."""
        if len(v) < 2:
            return None
        med = statistics.median(v)
        mad = statistics.median(abs(x - med) for x in v)
        return round(1.2533 * 1.4826 * mad / len(v) ** 0.5, 4)

    # noise-floor top-up (r10 verdict #8): a 0.5 s query with a 0.3 s
    # stdev is mechanically sub-noise at n=5 under ANY delta; more
    # samples shrink the MEDIAN's standard error (√n), so top up any
    # query that is sub-second OR whose median-sem still exceeds 15% of
    # its median, to SUBSEC_RUNS samples.
    for name, vals in samples.items():
        if name in errors or not vals:
            continue
        med = statistics.median(vals)
        sem = _robust_sem(vals)
        if med < 1.0 or (sem is not None and sem > 0.15 * med):
            while len(vals) < SUBSEC_RUNS:
                try:
                    vals.append(_timed_noop(qs[name](spark, SF_DIR)))
                except Exception as exc:  # noqa: BLE001
                    errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                    break

    best = {n: min(v) for n, v in samples.items()}
    median = {n: round(statistics.median(v), 3) for n, v in samples.items()}
    def _spread(v: list[float]) -> dict:
        sd = statistics.stdev(v) if len(v) > 1 else None
        return {
            "stdev": round(sd, 3) if sd is not None else None,
            # MAD-based standard error of the sample median — the README
            # noise-floor unit: a cross-round median delta is real when
            # |Δ| > 2·√(sem_a² + sem_b²) (see _robust_sem for why MAD)
            "sem": _robust_sem(v),
            "n": len(v),
        }

    spread = {n: _spread(v) for n, v in samples.items()}
    total = round(sum(best.values()), 3)
    arms_best = {
        n: {a: min(v) for a, v in per.items() if v}
        for n, per in arm_samples.items()
    }

    # full-board walls (r10 verdict #2): one {construct, exec} pair per
    # CANONICAL slot, n=1 — cross-round trend detection for the 34 slots
    # with no headline history. Runs LAST so the headline numbers above
    # keep their session posture comparable to prior rounds.
    board: dict[str, dict[str, float]] = {}
    board_violations: list[str] = []
    if RUN_BOARD:
        from basic_data_pipeline_spark.registry import queries as all_queries

        for name, fn in all_queries().items():
            try:
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                tc = round(time.perf_counter() - t0, 3)
                te = _timed_noop(df)
            except Exception as exc:  # noqa: BLE001 — isolate per slot
                errors[f"board:{name}"] = f"{type(exc).__name__}: {exc}"[:500]
                continue
            board[name] = {"construct": tc, "exec": te}
            budget = BOARD_CONSTRUCT_BUDGET_S.get(name)
            if budget is not None and tc > budget:
                board_violations.append(
                    f"{name}: construct {tc}s > budget {budget}s"
                )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # direct scaling evidence (r11 verdict #2): the harness honors
    # $SPARK_GRAFT_CPUS (session.py builds local[$SPARK_GRAFT_CPUS]);
    # print the parallelism the session ACTUALLY runs with so the
    # driver's suspect_cpus_ignored heuristic reads it from the line
    # instead of inferring from ~1 ratios on job-floor-bound queries.
    cpus = spark.sparkContext.defaultParallelism
    payload = {
        "metric": "headline_suite_wall_time",
        "value": total,
        "unit": "sec",
        "cpus": cpus,
        "queries": best,
        "queries_median": median,
        "queries_warm": {
            n: round(statistics.median(v), 3)
            for n, v in warm_samples.items()
            if v
        },
        "session_norm": (
            {
                "best": min(norm_samples),
                "median": round(statistics.median(norm_samples), 3),
            }
            if norm_samples
            else None
        ),
        "queries_arms": arms_best,
        "queries_spread": spread,
        "board": board if RUN_BOARD else None,
        "board_budget_violations": board_violations if RUN_BOARD else None,
        "runs": N_RUNS,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        payload["errors"] = errors

    # The driver records only the LAST ~2000 bytes of stdout and parses
    # the JSON line out of that tail — the r10 line (arms + spread)
    # already overflowed it and the round's artifact carried
    # parsed: None. So the FULL payload goes to a repo sidecar
    # (BENCH_DETAIL.json latest + BENCH_DETAIL_HISTORY.jsonl per run)
    # and the PRINTED line stays compact: headline numbers + pointers.
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
            json.dump(payload, f)
        with open(os.path.join(here, "BENCH_DETAIL_HISTORY.jsonl"), "a") as f:
            f.write(json.dumps(payload) + "\n")
        detail: str | None = "BENCH_DETAIL.json"
    except OSError:
        detail = None  # read-only checkout: print everything instead

    if detail is None:
        print(json.dumps(payload))
    else:
        compact = {
            "metric": payload["metric"],
            "value": total,
            "unit": "sec",
            "cpus": cpus,
            "queries": best,
            "queries_median": median,
            "session_norm": payload["session_norm"],
            "runs": N_RUNS,
            "sf": payload["sf"],
            "detail": detail,
        }
        if board_violations:
            compact["board_budget_violations"] = board_violations
        if errors:
            compact["errors"] = errors
        line = json.dumps(compact)
        if len(line) > 1900:  # stay inside the driver's tail window
            compact.pop("queries_median", None)
            line = json.dumps(compact)
        print(line)
    spark.stop()


if __name__ == "__main__":
    main()
