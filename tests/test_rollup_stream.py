"""Streaming continuous rollup: stream-of-batches == one-shot rollup
(bit-identical decimal sums), replay no-ops, interrupted-swap recovery,
and the real streaming engine end to end."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from basic_data_pipeline_spark.operators.rollup import hourly_rollup
from basic_data_pipeline_spark.streaming import rollup_stream, swapstore

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"
T0 = dt.datetime(2024, 3, 1)

EVENTS = [
    (i, T0 + dt.timedelta(minutes=17 * i), i % 5, ["click", "view", "buy"][i % 3],
     round(0.01 * (i * 37 % 991), 2))
    for i in range(200)
]


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _batches(spark, k=4):
    per = len(EVENTS) // k
    return [_df(spark, EVENTS[i * per:(i + 1) * per if i < k - 1 else None])
            for i in range(k)]


def _rows(df):
    return sorted(
        (r["hour"], r["event_type"], r["n"], r["value_sum"]) for r in df.collect()
    )


def test_stream_of_batches_equals_oneshot(spark, tmp_path):
    loc = str(tmp_path / "roll")
    rollup_stream.run_rollup_batches(spark, _batches(spark), loc)
    got = _rows(spark.read.parquet(loc))
    want = _rows(hourly_rollup(_df(spark, EVENTS)))
    assert got == want  # decimal accumulation → bit-identical


def test_replay_and_empty_batch_are_noops(spark, tmp_path):
    loc = str(tmp_path / "roll")
    fn = rollup_stream.run_rollup_batches(spark, _batches(spark), loc)
    before = _rows(spark.read.parquet(loc))
    for epoch, b in enumerate(_batches(spark)):
        fn(b, epoch)  # full replay — all skipped
    assert _rows(spark.read.parquet(loc)) == before
    fn(_df(spark, []), 9)  # empty batch advances only the watermark
    assert swapstore.read_watermark(loc, "stream", rollup_stream._META) == 9
    assert _rows(spark.read.parquet(loc)) == before


def test_interrupted_swap_recovery(spark, tmp_path):
    loc = str(tmp_path / "roll")
    b1, b2, b3, b4 = _batches(spark)
    fn = rollup_stream.run_rollup_batches(spark, [b1], loc)

    # crash BETWEEN rmtree and rename: live dir moved to the temp name
    os.rename(loc, swapstore.tmp_path(loc))
    fn(b2, 1)  # recover must complete the swap, then apply epoch 1
    got = _rows(spark.read.parquet(loc))
    want = _rows(
        rollup_stream.merge_rollups(hourly_rollup(b1), hourly_rollup(b2))
    )
    assert got == want

    # incomplete write NEXT TO live state: temp discarded, replay applies
    os.makedirs(swapstore.tmp_path(loc))
    with open(os.path.join(swapstore.tmp_path(loc), "junk"), "w") as f:
        f.write("partial")
    fn(b3, 2)
    got = _rows(spark.read.parquet(loc))
    want = _rows(hourly_rollup(_df(spark, EVENTS[:150])))
    assert got == want
    assert not os.path.exists(swapstore.tmp_path(loc))


def test_first_write_crash_discards_partial_temp(spark, tmp_path):
    """Crash mid-write on the rollup's FIRST-ever swap: no live dir, and
    the temp holds only Spark _temporary files (no watermark marker).
    Recovery discards it and the replay applies the epoch from scratch."""
    loc = str(tmp_path / "roll")
    part = os.path.join(swapstore.tmp_path(loc), "_temporary", "0")
    os.makedirs(part)
    with open(os.path.join(part, "part-000.parquet"), "w") as f:
        f.write("not parquet")
    b1 = _batches(spark)[0]
    rollup_stream.make_rollup_batch_fn(loc)(b1, 0)
    assert not os.path.exists(swapstore.tmp_path(loc))
    assert _rows(spark.read.parquet(loc)) == _rows(hourly_rollup(b1))


# --- date-partitioned store (the 100 TB rewrite-only-touched-dates path) --

def _prows(spark, root):
    return _rows(
        rollup_stream.read_partitioned_rollup(spark, root).drop("date")
    )


def test_partitioned_stream_equals_oneshot(spark, tmp_path):
    root = str(tmp_path / "proll")
    fn = rollup_stream.make_partitioned_rollup_batch_fn(root)
    for epoch, b in enumerate(_batches(spark)):
        fn(b, epoch)
    got = _prows(spark, root)
    want = _rows(hourly_rollup(_df(spark, EVENTS)))
    assert got == want
    # the EVENTS span 3 calendar days -> 3 partition dirs
    dates = {r["date"] for r in
             rollup_stream.read_partitioned_rollup(spark, root)
             .select("date").distinct().collect()}
    assert len(dates) == 3


def test_partitioned_rewrites_only_touched_dates(spark, tmp_path):
    """A batch containing only day-3 events must not rewrite day-1's
    partition files."""
    root = str(tmp_path / "proll")
    fn = rollup_stream.make_partitioned_rollup_batch_fn(root)
    day3 = [e for e in EVENTS if e[1].date() == dt.date(2024, 3, 3)]
    rest = [e for e in EVENTS if e[1].date() != dt.date(2024, 3, 3)]
    fn(_df(spark, rest), 0)
    d1 = os.path.join(root, "date=2024-03-01")
    before = {
        f: os.path.getmtime(os.path.join(d1, f)) for f in os.listdir(d1)
    }
    fn(_df(spark, day3), 1)
    after = {
        f: os.path.getmtime(os.path.join(d1, f)) for f in os.listdir(d1)
    }
    assert after == before  # untouched partition: same files, same mtimes
    assert _prows(spark, root) == _rows(hourly_rollup(_df(spark, EVENTS)))


def test_partitioned_replay_and_midbatch_crash(spark, tmp_path):
    """Full replays no-op; a crash AFTER some date swaps but BEFORE the
    global watermark advance re-applies only the unfinished dates — no
    double counting (per-partition epoch watermarks)."""
    root = str(tmp_path / "proll")
    fn = rollup_stream.make_partitioned_rollup_batch_fn(root)
    batches = _batches(spark)
    fn(batches[0], 0)
    before = _prows(spark, root)
    fn(batches[0], 0)  # replay of a completed epoch
    assert _prows(spark, root) == before

    # simulate the mid-batch crash: apply epoch 1 fully, then roll the
    # GLOBAL watermark back (the per-date metas still say epoch 1) and
    # replay — every date must skip, result unchanged
    fn(batches[1], 1)
    after1 = _prows(spark, root)
    swapstore.advance_watermark(root, 0, "stream", rollup_stream._META)
    fn(batches[1], 1)
    assert _prows(spark, root) == after1
    want = _rows(hourly_rollup(_df(spark, EVENTS[:100])))
    assert after1 == want


def test_partitioned_interrupted_swap_recovery(spark, tmp_path):
    root = str(tmp_path / "proll")
    fn = rollup_stream.make_partitioned_rollup_batch_fn(root)
    fn(_batches(spark)[0], 0)
    d = "2024-03-01"
    live = os.path.join(root, f"date={d}")
    tmp = os.path.join(root, f"_swap-date={d}")
    # crash between rmtree and rename: live dir moved to temp name
    os.rename(live, tmp)
    assert rollup_stream.read_partitioned_rollup(spark, root).count() > 0
    assert os.path.exists(live) and not os.path.exists(tmp)
    # incomplete write NEXT TO live: discarded
    os.makedirs(tmp)
    with open(os.path.join(tmp, "junk"), "w") as f:
        f.write("x")
    rollup_stream.recover_partitions(root)
    assert os.path.exists(live) and not os.path.exists(tmp)


def test_partitioned_first_write_crash_discards_partial_temp(spark, tmp_path):
    """Crash mid merged.write on a date's FIRST-ever write: live dir
    missing, temp holds only Spark _temporary droppings (no part meta).
    Recovery must DISCARD the partial temp — promoting it would wedge the
    partition behind an unreadable dir — and the replay then re-merges
    from scratch."""
    root = str(tmp_path / "proll")
    os.makedirs(root)
    d = "2024-03-01"
    tmp = os.path.join(root, f"_swap-date={d}")
    os.makedirs(os.path.join(tmp, "_temporary", "0"))
    with open(os.path.join(tmp, "_temporary", "0", "part-000.parquet"), "w") as f:
        f.write("not parquet")
    rollup_stream.recover_partitions(root)
    live = os.path.join(root, f"date={d}")
    assert not os.path.exists(tmp) and not os.path.exists(live)
    # the replayed batch now completes the date cleanly
    fn = rollup_stream.make_partitioned_rollup_batch_fn(root)
    fn(_batches(spark)[0], 0)
    assert os.path.exists(live)
    assert rollup_stream.read_partitioned_rollup(spark, root).count() > 0


def test_partitioned_lateness_horizon_drops_old(spark, tmp_path):
    """With lateness_days=1, partials dated > 1 day before the batch's
    newest date are dropped instead of rewriting ancient partitions."""
    root = str(tmp_path / "proll")
    fn = rollup_stream.make_partitioned_rollup_batch_fn(root, lateness_days=1)
    fn(_df(spark, EVENTS), 0)  # days 1..3 in one batch; day 1 is too late
    dates = {
        str(r["date"])
        for r in rollup_stream.read_partitioned_rollup(spark, root)
        .select("date").distinct().collect()
    }
    assert dates == {"2024-03-02", "2024-03-03"}
    want = _rows(hourly_rollup(_df(
        spark, [e for e in EVENTS if e[1].date() >= dt.date(2024, 3, 2)]
    )))
    assert _prows(spark, root) == want


def test_streaming_engine_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, b in enumerate(_batches(spark)):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for e in b.collect():
                f.write(json.dumps({
                    "event_id": e["event_id"],
                    "ts": e["ts"].strftime("%Y-%m-%dT%H:%M:%S"),
                    "user_id": e["user_id"],
                    "event_type": e["event_type"],
                    "value": e["value"],
                }) + "\n")
    loc = str(tmp_path / "roll")
    q = rollup_stream.rollup_files(
        spark, src, loc, str(tmp_path / "ckpt"), SCHEMA
    )
    q.awaitTermination(120)
    got = _rows(spark.read.parquet(loc))
    want = _rows(hourly_rollup(_df(spark, EVENTS)))
    assert got == want
