"""Same-session interleaved A/B of tracked_persist decisions under the
driver's bench posture (r11 verdict item #1).

Why this exists: the r11 builder's sequential same-session A/Bs said
three headline persists were wins; the driver's BENCH_r11 said the same
three queries regressed past the noise rule (sim_topk_methods median
3.71 -> 8.26 s). Sequential A/Bs are exposed to slow session drift (GC /
page-cache posture moves over minutes). This tool interleaves the
configs — one run of EACH config per repetition, round-robin — so drift
hits every config equally, and replicates bench.py's timing exactly:
fresh query construction per run (outside the timer), noop-sink
execution (inside the timer), previous run's tracked persists released
at the next construction via the registry wrapper.

Usage:
    python tools/ab_persist.py QUERY N SITESPEC [SITESPEC ...]

where SITESPEC is a comma-joined list of llm_queries._PERSIST_OFF site
names ('-' = empty set = all persists on, the committed default).

Examples (the live sites are exact_fp_segs and topk_sq8_model):
    python tools/ab_persist.py dedup_exact_fp 7 - exact_fp_segs
    python tools/ab_persist.py sim_topk_methods 7 - topk_sq8_model
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from basic_data_pipeline_spark import get_spark
from basic_data_pipeline_spark.queries import llm_queries
from basic_data_pipeline_spark.registry import queries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _timed_noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def _robust_sem(v: list[float]) -> float | None:
    if len(v) < 2:
        return None
    med = statistics.median(v)
    mad = statistics.median(abs(x - med) for x in v)
    return round(1.2533 * 1.4826 * mad / len(v) ** 0.5, 4)


def main() -> None:
    name = sys.argv[1]
    n = int(sys.argv[2])
    specs = sys.argv[3:]
    configs = [
        (spec, set() if spec == "-" else set(spec.split(",")))
        for spec in specs
    ]
    spark = get_spark("ab_persist")
    fn = queries()[name]
    # warm: one full run per config (JVM classload, codegen, page cache)
    for _, off in configs:
        llm_queries._PERSIST_OFF = off
        _timed_noop(fn(spark, SF_DIR))
    samples: dict[str, list[float]] = {spec: [] for spec, _ in configs}
    for rep in range(n):
        for spec, off in configs:
            llm_queries._PERSIST_OFF = off
            spark.sparkContext.setJobDescription(f"ab {name} [{spec}] #{rep}")
            samples[spec].append(_timed_noop(fn(spark, SF_DIR)))
    llm_queries._PERSIST_OFF = set()
    print(f"\n=== {name} (n={n}, interleaved, sf={SF_DIR}) ===")
    for spec, vals in samples.items():
        print(
            f"  off={spec:<45} best={min(vals):7.3f} "
            f"median={statistics.median(vals):7.3f} "
            f"sem={_robust_sem(vals)} runs={[round(v, 2) for v in vals]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
