"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Run it from the repository root. One workload runs in this process: one
Spark session on ``local[<cores>]`` and one closed-loop client. Everything
it writes lives under ``.perfbench_work/`` and is removed at exit. The last
stdout line is the result: ``{"correct", "attempted", "failed", "metrics"}``
with every end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``, event log on) of BENCHMARK.json; the line before it holds
the session posture. ``--workload all`` runs each workload in a child
process, untraced and, with ``--trace 1``, traced as well, and prints every
metric by name with its unit plus the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: workloads BENCHMARK.json does not list; they run by hand only
EXTRA_WORKLOADS = ("driver_loops",)


def benchmark() -> dict:
    """BENCHMARK.json: the listed workloads and every metric's unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def listed_workloads() -> tuple[str, ...]:
    return tuple(w["name"] for w in benchmark()["workloads"])


def metric_units(traced: bool) -> dict[str, str]:
    """{metric: unit} of a run: BENCHMARK.json's end-to-end metrics, or,
    traced, its per-layer ones."""
    return {m["name"]: m["unit"]
            for m in benchmark()["per_layer" if traced else "end_to_end"]}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat: on a
    virtual machine, time the host gave this guest's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of process ``root`` and its live
    descendants, each with its reaped children, from /proc/<pid>/stat."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we listed
            continue
        parent[int(d)] = int(fields[1])
        # utime, stime, cutime, cstime
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


class Harness:
    """One Spark session and the working directory of one run."""

    def __init__(
        self, workload: str, seed: int, seconds: float, traced: bool, sizes
    ) -> None:
        self.workload, self.seed, self.seconds, self.traced, self.sizes = (
            workload, seed, seconds, traced, sizes,
        )
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.log_dir = os.path.join(self.work, "eventlog")
        os.makedirs(self.tmp, exist_ok=True)
        os.makedirs(self.log_dir, exist_ok=True)
        # Python workers import the package; temp files stay in the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # spark-submit's launcher JVM would write its perf data under /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        self.spark = None
        self.t_process = T_PROCESS
        self.ticks0 = cpu_ticks()

    def start(self) -> None:
        from basic_data_pipeline_spark import get_spark

        import tracing

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.work} "
                "-XX:-UsePerfData"
            ),
        }
        if self.traced:
            conf.update(tracing.event_log_conf(self.log_dir))
        self.spark = get_spark(
            f"perfbench-{self.workload}", master=f"local[{cores()}]", extra_conf=conf
        )
        self.spans = tracing.Spans(self.spark.sparkContext)
        with self.spans.span("setup:session", "first action"):
            self.spark.range(1).count()
        self.session_start_s = time.perf_counter() - self.t_process

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and its descendants."""
        return tree_cpu_s(os.getpid())

    def quiesce(self) -> None:
        """Wait, up to 5 s, until this process tree uses less than half a
        core over a quarter second, so JIT compilation and GC left over
        from set-up are charged to set-up, not to the timed window."""
        t0 = time.perf_counter()
        prev = self.cpu_s()
        while time.perf_counter() - t0 < 5.0:
            time.sleep(0.25)
            cur = self.cpu_s()
            if cur - prev < 0.5 * 0.25:
                return
            prev = cur

    def posture(self) -> dict:
        import pyspark

        sc = self.spark.sparkContext
        conf = self.spark.conf
        shuffle = int(conf.get("spark.sql.shuffle.partitions"))
        (steal0, total0), (steal1, total1) = self.ticks0, cpu_ticks()
        return {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.traced),
            "nproc": cores(),
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": shuffle,
            "shuffle_partitions_ne_cores": shuffle != cores(),
            "driver_memory": conf.get("spark.driver.memory"),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        }

    def stop(self) -> float:
        """Stop the session and its JVM, wait for it, and return the peak
        RSS in MB of this process plus its largest child (the JVM)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=120)
            SparkContext._gateway = SparkContext._jvm = None
        kb = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
            + resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
        )
        return kb / 1024.0

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass


def end_to_end(res) -> dict[str, float]:
    """A run's end-to-end numbers. BENCHMARK.json bounds setup_s (CPU
    seconds of the set-up) and cpu_s_per_op; the wall-clock setup_wall_s,
    ops_per_s and p50_s are reported in the posture line and, traced, as
    trace.* (README: why wall-clock time is not bounded)."""
    walls = [o.wall_s for o in res.ops]
    return {
        "setup_s": res.setup_cpu_s,
        "setup_wall_s": res.setup_wall_s,
        "cpu_s_per_op": res.window_cpu_s / len(res.ops),
        "ops_per_s": len(res.ops) / res.window_s,
        "p50_s": statistics.median(walls),
    }


def per_layer(h: Harness, res, rss_mb: float, e2e: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric; a layer the workload never enters reads 0."""
    import tracing

    fold = tracing.fold_event_log(h.log_dir)
    out = {k: 0.0 for k in metric_units(True)}
    out.update(res.layers)
    out["memory.peak_rss_mb"] = rss_mb
    per_op = [tracing.op_layers(fold, o.spans) for o in res.ops if o.spans]
    out.update(tracing.mean_over_ops(per_op))
    out["caching.cached_bytes_peak"] = fold.cached_bytes_peak
    out["session.start_s"] = h.session_start_s

    def groups(match) -> list[str]:
        return [s.group for o in res.ops for s in o.spans if match(s.group)]

    def mean_jobs(gs: list[str]) -> float:
        jobs = [fold.groups[g].jobs if g in fold.groups else 0 for g in gs]
        return statistics.fmean(jobs) if jobs else 0.0

    if h.workload in ("analytics", "driver_loops"):
        out["queries.construct_jobs"] = mean_jobs(groups(lambda g: g.endswith(":construct")))
    elif h.workload == "ingest":
        # "cdc<e>" groups are the CDC epochs, "cdc_read<e>" their reads
        epochs = groups(lambda g: g.startswith("cdc") and not g.startswith("cdc_read"))
        out["cdc.jobs_per_epoch"] = mean_jobs(epochs)
        written = sum(fold.groups[g].output_bytes for g in epochs if g in fold.groups)
        out["cdc.write_amp"] = written / max(1, res.layers["cdc.envelope_bytes"])
        out["streaming.jobs_per_epoch"] = mean_jobs(groups(lambda g: g.startswith("dedup")))
    out.pop("cdc.envelope_bytes", None)

    named = {s.group for o in res.ops for s in o.spans}
    named |= {s.group for s in res.setup_spans} | {"setup:session"}
    out["trace.attributed_frac"] = tracing.attributed_frac(fold, named)
    out.update((f"trace.{k}", v) for k, v in e2e.items())
    return out


def run_one(workload: str, seed: int, seconds: float, traced: bool, tiny: bool) -> int:
    sys.path.insert(0, ROOT)
    import workloads

    sizes = workloads.TINY if tiny else workloads.FULL
    h = Harness(workload, seed, seconds, traced, sizes)
    try:
        try:
            h.start()
            res = workloads.WORKLOADS[workload](h)
            e2e = end_to_end(res)
            posture = dict(
                h.posture(), **res.posture, end_to_end=e2e,
                window_s=res.window_s, window_cpu_s=res.window_cpu_s,
                op_walls=[[o.name, round(o.wall_s, 4)] for o in res.ops],
                setup_walls=[[s.group, round(s.wall_s, 4)] for s in res.setup_spans],
            )
        finally:
            rss_mb = h.stop()
        values = per_layer(h, res, rss_mb, e2e) if traced else e2e
    finally:
        h.cleanup()
    for p in res.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    failed = sum(1 for o in res.ops if not o.ok)
    print(json.dumps({"posture": posture}))
    print(json.dumps({
        "correct": res.checks_ok and failed == 0,
        "attempted": len(res.ops),
        "failed": failed,
        "metrics": {
            k: {"value": values[k], "unit": u}
            for k, u in metric_units(traced).items()
        },
    }))
    return 0


def run_all(seed: int, seconds: float, traced: bool, tiny: bool) -> int:
    """Every workload in its own child process; print a metric table: the
    untraced end-to-end numbers (bounded and wall-clock), then, traced,
    every per-layer metric and the tracing overhead."""
    units = {k[len("trace."):]: u for k, u in metric_units(True).items()
             if k.startswith("trace.")}
    rows, ok = [], True
    for w in listed_workloads() + EXTRA_WORKLOADS:
        e2e, traced_metrics = None, None
        for t in (0, 1) if traced else (0,):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(t)]
            if tiny:
                cmd.append("--tiny")
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or len(lines) < 2:
                print(f"{w} (trace {t}): exit {out.returncode}", file=sys.stderr)
                ok = False
                continue
            res = json.loads(lines[-1])
            ok = ok and res["correct"]
            if t == 0:
                e2e = json.loads(lines[-2])["posture"]["end_to_end"]
                rows += [(w, k, v, units[k]) for k, v in e2e.items()]
            else:
                traced_metrics = res["metrics"]
                rows += [(w, k, m["value"], m["unit"]) for k, m in res["metrics"].items()]
        if e2e and traced_metrics:
            rows += [(w, f"overhead.{k}", traced_metrics[f"trace.{k}"]["value"] - v,
                      units[k]) for k, v in e2e.items()]
    for w, k, v, u in rows:
        print(f"{w:14s} {k:32s} {v:14.4f} {u}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload", required=True,
        choices=listed_workloads() + EXTRA_WORKLOADS + ("all",),
    )
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test sizes: every code path, little data")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "basic_data_pipeline_spark")):
        print(f"perfbench: no basic_data_pipeline_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace), args.tiny)
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)


if __name__ == "__main__":
    sys.exit(main())
