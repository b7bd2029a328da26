"""The benchmark's workloads.

Each workload gets a started ``Harness`` (one Spark session, one closed-loop
client), makes its inputs from the seed, sets up, then runs ops for the
requested number of seconds in whole units and checks the outputs outside
every timed window. It returns a ``Result``; ``run.py`` turns results into
metrics.

* ``analytics``: op = one headline registry slot on the fixture tables,
  built then collected; the slots run in whole passes, each pass in a
  seeded order, from the first query of a fresh session on.
* ``driver_loops`` (run by hand): the same op over the four slots whose
  construction runs eager driver-side loops.
* ``ingest``: the two streaming write paths in one session. An op is one
  CDC micro-batch epoch through the CDC foreachBatch body (append mode,
  replay dedup on) followed by one read of the table's current state
  (``compact_latest(sink.read())`` through ``noop``), or one epoch of the
  guarded streaming near-dedup against a persisted index of the fixture
  documents.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
from tracing import Span

#: the repository's read-only fixture tables (TESTDATA.md), one directory
#: per scale factor (``sf0.01/lineitem.parquet``, ...), as bench.py and the
#: tests read them
FIXTURE = "/root/testdata"


def fixture(sf: float) -> str:
    return os.path.join(FIXTURE, f"sf{sf:g}")


@dataclass(frozen=True)
class Sizes:
    #: fixture scale factor of the analytics slots (0.01: lineitem = 60,000
    #: rows, 500 documents, 500 embeddings)
    analytics_sf: float
    #: headline slots run per pass; None = all of them
    analytics_slots: int | None
    #: fixture scale factor of the driver_loops slots
    loops_sf: float
    cdc_snapshot_rows: int
    cdc_epoch_events: int
    #: fixture scale factor whose documents the dedup index is built on
    dedup_sf: float
    dedup_epoch_docs: int


FULL = Sizes(0.01, None, 0.01, 1000, 1000, 0.01, 100)
#: the smoke test's size: every code path, a few seconds of Spark work each
TINY = Sizes(0.001, 3, 0.001, 200, 200, 0.001, 20)

#: the four slots whose construction runs eager driver-side loops (many
#: small Spark jobs per DataFrame returned)
DRIVER_LOOP_SLOTS = (
    "rollup_hourly_to_daily", "join_salted_skew", "text_lang_token",
    "dedup_jaccard_truth",
)

#: odd CDC epochs carry deletes: the timed epochs start at 1 and run in
#: whole cycles of this length (one purge, one upsert), so every run times
#: the same mix
CDC_PURGE_EVERY = 2
#: new rows take the drifted shape from the first timed epoch on
CDC_DRIFT_EPOCH = 1
CDC_POISON_FRAC = 0.02

DEDUP_COPY_FRAC = 0.3
#: every dedup epoch appends to the index and then folds it back (the
#: package ships no default), so one epoch per unit times both
DEDUP_COMPACT_EVERY = 1


@dataclass
class Op:
    name: str
    wall_s: float
    ok: bool
    spans: list[Span] = field(default_factory=list)
    kind: str = ""
    #: epoch number, for the streaming ops
    epoch: int = -1


@dataclass
class Result:
    #: wall of the set-up: process start to the first timed op
    setup_wall_s: float
    #: CPU seconds of the driver process tree (Python, JVM, Python
    #: workers) from process start to the first timed op
    setup_cpu_s: float
    ops: list[Op]
    window_s: float
    #: CPU seconds of the driver process tree (Python, JVM, Python
    #: workers) in the timed window
    window_cpu_s: float
    checks_ok: bool
    problems: list[str]
    #: layer numbers the workload measures itself (walls, listings, counts)
    layers: dict[str, float]
    #: job groups of the setup steps, for trace attribution
    setup_spans: list[Span]
    posture: dict


def _timed(make, *args) -> tuple[float, object]:
    """(wall, value) of ``make(*args)``."""
    t = time.perf_counter()
    value = make(*args)
    return time.perf_counter() - t, value


def _done(t0: float, units: int, seconds: float) -> bool:
    """Stop at a unit boundary once the window is nearest ``seconds``:
    a run times the whole number of units (passes, cycles) closest to the
    requested length, and at least one."""
    elapsed = time.perf_counter() - t0
    return units > 0 and elapsed >= seconds - elapsed / units / 2


def _run_op(op: Op, problems: list[str], body) -> None:
    """Run ``body()`` (it returns the op's spans) as ``op``: time it, and
    count an exception as a failed op."""
    t = time.perf_counter()
    try:
        op.spans = body()
    except Exception as exc:  # noqa: BLE001 — a failed op is counted
        traceback.print_exc()
        problems.append(f"{op.name}: {type(exc).__name__}: {exc}"[:300])
        op.ok = False
    finally:
        op.wall_s = time.perf_counter() - t


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_listing(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of data files under ``path``."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------- analytics


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def result_hash(cols: list[str], rows) -> str:
    """Order-insensitive hash of a result, columns taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(_canon(r[i]) for i in order) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def analytics(h) -> Result:
    from basic_data_pipeline_spark import registry

    names = list(registry.headline_queries())[: h.sizes.analytics_slots]
    return _slot_passes(h, names, h.sizes.analytics_sf)


def driver_loops(h) -> Result:
    return _slot_passes(h, list(DRIVER_LOOP_SLOTS), h.sizes.loops_sf)


def _slot_passes(h, names: list[str], sf: float) -> Result:
    """Registry slots ``names`` on the fixture tables at ``sf``, in whole
    seeded-order passes from the session's first query on; op = build the
    slot, collect its rows. Every op's rows are checked against the slot's
    DuckDB oracle once the timing stops."""
    import duckdb

    from basic_data_pipeline_spark import TABLES, registry

    slots = registry.queries()
    oracles = registry.oracle_sql()
    spark, spans = h.spark, h.spans
    data = fixture(sf)

    ops: list[Op] = []
    problems: list[str] = []
    collected: list[tuple[list[str], list]] = []

    def body(i: int, name: str) -> list[Span]:
        with spans.span(f"op{i}:construct", name) as sc:
            df = slots[name](spark, data)
        with spans.span(f"op{i}:exec", name) as se:
            collected[i] = (df.columns, df.collect())
        return [sc, se]

    setup_wall = time.perf_counter() - h.t_process
    h.quiesce()
    cpu0 = h.cpu_s()
    t0 = time.perf_counter()
    p = 0
    while not _done(t0, p, h.seconds):
        for name in gen.permutation(names, h.seed, p):
            op = Op(name, 0.0, True)
            ops.append(op)
            collected.append(([], []))
            _run_op(op, problems, lambda: body(len(ops) - 1, name))
        p += 1
    window = time.perf_counter() - t0
    window_cpu = h.cpu_s() - cpu0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    want = {}
    for name in names:
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        want[name] = (len(drows), sorted(dcols), result_hash(dcols, drows))
    con.close()
    for op, (cols, rows) in zip(ops, collected):
        if op.ok and (len(rows), sorted(cols), result_hash(cols, rows)) != want[op.name]:
            op.ok = False
            problems.append(f"{op.name}: result differs from its DuckDB oracle")

    return Result(
        setup_wall_s=setup_wall,
        setup_cpu_s=cpu0,
        ops=ops,
        window_s=window,
        window_cpu_s=window_cpu,
        checks_ok=not problems,
        problems=problems,
        layers={
            "queries.construct_s": _median([o.spans[0].wall_s for o in ops if o.spans]),
            "queries.exec_s": _median([o.spans[1].wall_s for o in ops if o.spans]),
        },
        setup_spans=[],
        posture={"data": data, "slots": len(names), "passes": p},
    )


# -------------------------------------------------------------------- ingest


class _Cdc:
    """The CDC half of ``ingest``. Set-up generates the Debezium stream and
    bulk-loads its snapshot; ``op()`` makes the op that applies the next
    epoch and reads the current state; ``check`` compares the table with
    the replay."""

    def __init__(self, h, n_cycles: int) -> None:
        from basic_data_pipeline_spark.streaming.ingest import make_cdc_batch_fn

        self.h = h
        self.sink_root = os.path.join(h.work, "cdc_sink")
        src = os.path.join(h.work, "cdc_src")

        def make():
            s = gen.CdcStream(
                h.seed, h.sizes.cdc_snapshot_rows, 1 + CDC_PURGE_EVERY * n_cycles,
                h.sizes.cdc_epoch_events, CDC_PURGE_EVERY, CDC_DRIFT_EPOCH,
                CDC_POISON_FRAC,
            )
            return s, s.write(src)

        self.gen_s, (self.stream, self.paths) = _timed(make)
        self.fn, sinks = make_cdc_batch_fn(
            h.spark, self.sink_root, mode="append", dedup_replays=True
        )
        self.env_bytes = [_dir_listing(p, ".json")[1] for p in self.paths]
        self.load = self._apply(0)
        # the batch fn opens a table's sink on its first epoch
        self.sink = sinks["employees"]
        self.next = 1

    def _apply(self, e: int) -> Span:
        spark = self.h.spark
        with self.h.spans.span(f"cdc{e}", self.stream.kinds[e]) as s:
            self.fn(spark.read.schema(gen.KAFKA_SCHEMA).json(self.paths[e]), e)
        return s

    def op(self) -> tuple[Op, object]:
        from basic_data_pipeline_spark.operators.cdc import compact_latest

        e = self.next
        self.next += 1

        def body() -> list[Span]:
            applied = self._apply(e)
            with self.h.spans.span(f"cdc_read{e}", "current_state") as read:
                _noop(compact_latest(self.sink.read(), key=self.sink.key))
            return [applied, read]

        return Op(f"cdc{e}", 0.0, True, kind=self.stream.kinds[e], epoch=e), body

    def check(self, problems: list[str]) -> bool:
        """Current state == the replay, DLQ == the injected poison, the
        drifted column exists."""
        from pyspark.sql import functions as F

        from basic_data_pipeline_spark.operators.cdc import compact_latest

        spark, e = self.h.spark, self.next
        n0 = len(problems)
        table = self.sink.read()
        cur = compact_latest(table, key=self.sink.key).select(
            "id", "name", "position", "salary", "role",
            F.unix_seconds("updated_on").alias("updated_s"),
        ).collect()
        want = self.stream.state_after(e)
        self.live_rows = len(want)
        got = {r["id"]: (r["name"] or None, r["position"] or None, r["salary"],
                         r["role"] or None, r["updated_s"]) for r in cur}
        if got != {k: (d.get("name") or None, d.get("position") or None,
                       d.get("salary"), d.get("role") or None, d["updated_on"] // 1000)
                   for k, d in want.items()}:
            problems.append(
                f"CDC current state differs from the replay ({len(got)} vs {len(want)} keys)"
            )
        self.dlq_rows = spark.read.parquet(os.path.join(self.sink_root, "_dlq")).count()
        if self.dlq_rows != self.stream.poison_upto(e):
            problems.append(
                f"DLQ holds {self.dlq_rows} rows, {self.stream.poison_upto(e)} injected"
            )
        if "role" not in table.columns:
            problems.append("drifted column 'role' missing from the sink")
        return len(problems) == n0

    def layers(self, ops: list[Op]) -> dict[str, float]:
        n_files, n_bytes = _dir_listing(os.path.join(self.sink_root, "employees"))
        upserts = self.stream.upserts_upto(self.next) - self.stream.upserts_upto(1)

        def med(kind: str) -> float:
            return _median([o.spans[0].wall_s for o in ops if o.kind == kind and o.spans])

        return {
            "cdc.upsert_epoch_s": med("upsert"),
            "cdc.purge_epoch_s": med("purge"),
            "cdc.read_s": _median([o.spans[1].wall_s for o in ops if o.spans]),
            "cdc.sink_files": n_files,
            "cdc.sink_bytes_per_live_row": n_bytes / max(1, self.live_rows),
            "cdc.dlq_frac": self.dlq_rows / max(1, upserts),
            "cdc.envelope_bytes": sum(self.env_bytes[o.epoch] for o in ops),
        }


class _Dedup:
    """The near-dedup half of ``ingest``. Set-up generates the epochs and
    builds the persisted index over the fixture documents; ``op()`` makes
    the op that runs the next epoch through the guarded batch fn; ``check``
    verifies that no injected copy survives and every fresh document
    does."""

    def __init__(self, h, n_cycles: int) -> None:
        from basic_data_pipeline_spark.operators.incremental import build_index

        self.h = h
        src = os.path.join(h.work, "dedup_src")
        self.index = os.path.join(h.work, "dedup_index")
        self.out_root = os.path.join(h.work, "dedup_out")
        docs = os.path.join(fixture(h.sizes.dedup_sf), "documents.parquet")

        def make():
            t = pq.read_table(docs, columns=["doc_id", "text"]).to_pydict()
            s = gen.DedupStream(
                h.seed, list(zip(t["doc_id"], t["text"])),
                DEDUP_COMPACT_EVERY * n_cycles, h.sizes.dedup_epoch_docs, DEDUP_COPY_FRAC,
            )
            return len(t["doc_id"]), s, s.write(src)

        self.gen_s, (self.n_base, self.stream, self.paths) = _timed(make)
        with h.spans.span("setup:build_index", "build_index") as self.build:
            build_index(
                h.spark, h.spark.read.parquet(docs).select("doc_id", "text"), self.index
            )
        self.next = 0

    def open(self) -> None:
        """Make the guarded batch fn, on the thread that runs the epochs:
        it holds the index's writer lease until ``close``."""
        from basic_data_pipeline_spark.streaming.dedup_stream import make_dedup_batch_fn

        self.fn = make_dedup_batch_fn(
            self.index, self.out_root, compact_every=DEDUP_COMPACT_EVERY
        )

    def op(self) -> tuple[Op, object]:
        e = self.next
        self.next += 1
        op = Op(f"dedup{e}", 0.0, True, kind="dedup", epoch=e)
        spark = self.h.spark

        def body() -> list[Span]:
            with self.h.spans.span(f"dedup{e}", "dedup_epoch") as s:
                self.fn(spark.read.schema(gen.DOC_SCHEMA).json(self.paths[e]), e)
            # a compacting epoch resets the ledger's since_compact counter
            with open(os.path.join(self.index, "_stream_ledger.json")) as f:
                since = json.load(f)["stream"].get("since_compact", 0)
            op.kind = "compact" if since == 0 else "append"
            return [s]

        return op, body

    def close(self) -> None:
        from basic_data_pipeline_spark.streaming import swapstore

        swapstore.release_writer(self.fn)

    def check(self, ops: list[Op], problems: list[str]) -> bool:
        rows = self.h.spark.read.parquet(self.out_root).select("epoch", "doc_id").collect()
        self.surv: dict[int, set[int]] = {}
        for r in rows:
            self.surv.setdefault(r["epoch"], set()).add(r["doc_id"])
        ok = True
        for op in ops:
            k = op.epoch
            got = self.surv.get(k, set())
            if got & self.stream.copies[k] or got != self.stream.fresh[k]:
                op.ok = ok = False
                problems.append(
                    f"dedup epoch {k}: {len(got & self.stream.copies[k])} copies "
                    f"survived, {len(self.stream.fresh[k] - got)} fresh docs dropped"
                )
        return ok

    def layers(self, ops: list[Op]) -> dict[str, float]:
        files, size = _dir_listing(self.index)
        docs_in = len(ops) * self.h.sizes.dedup_epoch_docs
        survivors = sum(len(self.surv.get(o.epoch, ())) for o in ops)

        def med(kind: str) -> float:
            return _median([o.wall_s for o in ops if o.kind == kind and o.ok])

        return {
            "streaming.compact_epoch_s": med("compact"),
            "streaming.index_files": files,
            "streaming.index_bytes_per_doc": size / (self.n_base + survivors),
            "streaming.survivor_frac": survivors / max(1, docs_in),
            "streaming.build_index_s": self.build.wall_s,
        }


def ingest(h) -> Result:
    """Set up both streams, then time whole units: one CDC cycle (a purge
    and an upsert epoch, each with its read) and one dedup epoch."""
    # enough units for any run whose ops take a second or more
    n_cycles = int(h.seconds) // 4 + 1
    # the two set-ups touch disjoint directories and are bound by Spark's
    # per-job latency, not by the cores: run them side by side
    with ThreadPoolExecutor(2) as pool:
        cdc_f, dd_f = pool.submit(_Cdc, h, n_cycles), pool.submit(_Dedup, h, n_cycles)
        cdc, dd = cdc_f.result(), dd_f.result()
    dd.open()
    setup_wall = time.perf_counter() - h.t_process

    ops: list[Op] = []
    problems: list[str] = []
    h.quiesce()
    cpu0 = h.cpu_s()
    t0 = time.perf_counter()
    units = 0
    try:
        while units < n_cycles and not _done(t0, units, h.seconds):
            for part, n in ((cdc, CDC_PURGE_EVERY), (dd, DEDUP_COMPACT_EVERY)):
                for _ in range(n):
                    op, body = part.op()
                    ops.append(op)
                    _run_op(op, problems, body)
            units += 1
    finally:
        dd.close()
    window = time.perf_counter() - t0
    window_cpu = h.cpu_s() - cpu0

    cdc_ops = [o for o in ops if o.name.startswith("cdc")]
    dd_ops = [o for o in ops if o.name.startswith("dedup")]
    cdc_ok = cdc.check(problems)
    if not cdc_ok:
        for op in cdc_ops:
            op.ok = False
    dd_ok = dd.check(dd_ops, problems)
    return Result(
        setup_wall_s=setup_wall,
        setup_cpu_s=cpu0,
        ops=ops,
        window_s=window,
        window_cpu_s=window_cpu,
        checks_ok=cdc_ok and dd_ok and not problems,
        problems=problems,
        layers={
            **cdc.layers(cdc_ops),
            **dd.layers(dd_ops),
            "setup.gen_s": cdc.gen_s + dd.gen_s,
        },
        setup_spans=[cdc.load, dd.build],
        posture={
            "cdc_snapshot_rows": h.sizes.cdc_snapshot_rows,
            "cdc_epoch_events": h.sizes.cdc_epoch_events,
            "cdc_purge_every": CDC_PURGE_EVERY, "cdc_drift_epoch": CDC_DRIFT_EPOCH,
            "cdc_poison_frac": CDC_POISON_FRAC,
            "dedup_base_docs": dd.n_base, "dedup_epoch_docs": h.sizes.dedup_epoch_docs,
            "dedup_copy_frac": DEDUP_COPY_FRAC, "dedup_compact_every": DEDUP_COMPACT_EVERY,
            "units": units,
        },
    )


WORKLOADS = {
    "analytics": analytics,
    "driver_loops": driver_loops,
    "ingest": ingest,
}
