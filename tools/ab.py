"""Interleaved same-session A/B of a registered slot's construct and exec
walls, optionally with some modules' `tracked_persist` turned off.

Usage:
    python tools/ab.py QUERY N CONFIG [CONFIG ...]

CONFIG is '-' (stock) or a comma list of module names whose
`tracked_persist` binding is patched to identity for that config's runs.
A bare name is an operator module (`dedup`, `entity`); a dotted name is
relative to the package (`queries.llm_queries`). Modules import the name
directly, so the patch targets each module's own binding and flips every
session-lifetime persist in that module; persists held by a
`caching.held()` scope are not flipped. A module that does not import
`tracked_persist` is refused.

Timing replicates bench.py: fresh query construction per run (eager
driver loops, outside the exec timer), noop-sink execution inside it,
and the previous run's tracked persists released at the next
construction by the registry wrapper. Configs interleave round-robin,
so slow session drift (GC, page cache) hits every config equally; one
warm run per config comes first.

Examples:
    python tools/ab.py dedup_exact_fp 7 - queries.llm_queries
    python tools/ab.py dedup_minhash_lsh 7 - dedup,incremental
"""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from basic_data_pipeline_spark import get_spark
from basic_data_pipeline_spark.caching import tracked_persist
from basic_data_pipeline_spark.registry import queries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _module(name: str):
    pkg = "basic_data_pipeline_spark"
    mod = importlib.import_module(
        f"{pkg}.{name}" if "." in name else f"{pkg}.operators.{name}"
    )
    if getattr(mod, "tracked_persist", None) is not tracked_persist:
        sys.exit(f"{mod.__name__} does not import tracked_persist")
    return mod


def _set_persists(mods: dict, off: set[str]) -> None:
    for name, mod in mods.items():
        mod.tracked_persist = (lambda df: df) if name in off else tracked_persist


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
    name, n, specs = sys.argv[1], int(sys.argv[2]), sys.argv[3:]
    configs = [
        (spec, set() if spec == "-" else set(spec.split(",")))
        for spec in specs
    ]
    mods = {m: _module(m) for m in set().union(*(off for _, off in configs))}
    spark = get_spark("ab")
    fn = queries()[name]
    for _, off in configs:  # warm: JVM classload, codegen, page cache
        _set_persists(mods, off)
        _timed_noop(fn(spark, SF_DIR))
    cons: dict[str, list[float]] = {s: [] for s, _ in configs}
    exe: dict[str, list[float]] = {s: [] for s, _ in configs}
    for rep in range(n):
        for spec, off in configs:
            _set_persists(mods, off)
            spark.sparkContext.setJobDescription(f"ab {name} [{spec}] #{rep}")
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            cons[spec].append(round(time.perf_counter() - t0, 3))
            exe[spec].append(_timed_noop(df))
    _set_persists(mods, set())
    print(f"\n=== {name} (n={n}, interleaved, sf={SF_DIR}) ===")
    for spec, _ in configs:
        c, e = cons[spec], exe[spec]
        print(
            f"  off={spec:<30} construct med={statistics.median(c):7.3f}"
            f" best={min(c):7.3f} | exec med={statistics.median(e):7.3f}"
            f" best={min(e):7.3f} sem={_robust_sem(e)}"
            f" runs={[round(v, 2) for v in e]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
