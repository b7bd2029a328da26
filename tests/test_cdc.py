"""CDC ingestion tests: FIXTURES.md B3 normalization golden cases and B4
scenario scripts (snapshot+tail, schema drift, poison row, replay), driven
through the same apply pipeline the streaming layer uses.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from basic_data_pipeline_spark.functions.normalize import (
    normalize_string_value,
    pick_primary_key,
)
from basic_data_pipeline_spark.operators import cdc
from basic_data_pipeline_spark.sources.envelopes import (
    Envelope,
    employee_workload,
    envelopes_to_df,
    expected_final_state,
)
from basic_data_pipeline_spark.streaming import swapstore
from basic_data_pipeline_spark.streaming.ingest import make_cdc_batch_fn, run_batches


# --- B3: normalization golden cases (consumer_to_file.py:88-113) ---------

GOLDEN = [
    (None, ""),                        # null → ''
    ("1722900000123", "1722900000"),   # >1e12 → //1000
    ("true", "1"),                     # bool → 1/0
    ("false", "0"),
    ("42", "42"),                      # small numbers unchanged
    ("3.14", "3.14"),
    ('{"a":1}', '{"a":1}'),            # JSON object string passes through
    ("[1,2]", "[1,2]"),
    ("café", "café"),                  # text unchanged
    ("hello world", "hello world"),
]


def test_normalize_golden_cases(spark):
    df = spark.createDataFrame([(v,) for v, _ in GOLDEN], "v string")
    got = [r["n"] for r in df.select(normalize_string_value(F.col("v")).alias("n")).collect()]
    assert got == [e for _, e in GOLDEN]


def test_pick_primary_key_order():
    assert pick_primary_key(["name", "id", "uuid"]) == "uuid"
    assert pick_primary_key(["name", "employee_id", "id"]) == "id"
    assert pick_primary_key(["a", "b"]) == "a"


# --- envelope decode ------------------------------------------------------

def test_decode_envelopes_filters_and_routes(spark):
    rows = [
        ("dbserver1.testdb.employees", json.dumps({"payload": {"op": "c", "after": '{"id":1}', "source": {"ts_ms": 1, "table": "employees"}, "ts_ms": 2}}), 0, 0),
        ("other.topic", json.dumps({"payload": {"op": "c"}}), 0, 1),     # bad prefix
        ("dbserver1.testdb.employees", json.dumps({"nope": 1}), 0, 2),   # no payload
    ]
    raw = spark.createDataFrame(rows, "topic string, value string, partition int, offset long")
    out = cdc.decode_envelopes(raw).collect()
    assert len(out) == 1
    assert out[0]["table"] == "employees"
    assert out[0]["op"] == "c"


# --- B4.1: snapshot + tail, both modes -----------------------------------

@pytest.fixture()
def workload():
    return employee_workload(n_snapshot=15, n_ops=40, seed=7)


def test_cdc_compact_matches_imperative_oracle(spark, tmp_path, workload):
    raw = envelopes_to_df(spark, workload)
    sinks = run_batches(spark, [raw], str(tmp_path), mode="compact")
    final = {r["id"]: r.asDict() for r in sinks["employees"].read().collect()}
    expected = expected_final_state(workload)
    assert set(final) == set(expected)
    for k, exp in expected.items():
        assert final[k]["name"] == exp["name"]
        if "salary" in exp:
            assert final[k]["salary"] == exp["salary"]


def _surviving_history(workload):
    """Upsert events not erased by a later delete of their key (the
    reference's ALTER DELETE removes all prior versions of the key)."""
    survivors = 0
    for i, e in enumerate(workload):
        if e.op not in ("c", "u", "r"):
            continue
        k = e.after["id"]
        if not any(
            later.op == "d" and later.before and later.before["id"] == k
            for later in workload[i + 1 :]
        ):
            survivors += 1
    return survivors


def test_cdc_append_keeps_history(spark, tmp_path, workload):
    raw = envelopes_to_df(spark, workload)
    sinks = run_batches(spark, [raw], str(tmp_path), mode="append")
    assert sinks["employees"].read().count() == _surviving_history(workload)


def test_cdc_multi_batch_compact(spark, tmp_path, workload):
    """Batch boundaries must not change the final compacted state."""
    raw = envelopes_to_df(spark, workload)
    third = len(workload) // 3
    b1 = envelopes_to_df(spark, workload[:third])
    b2 = envelopes_to_df(spark, workload[third : 2 * third])
    b3 = envelopes_to_df(spark, workload[2 * third :])
    sinks = run_batches(spark, [b1, b2, b3], str(tmp_path), mode="compact")
    final = {r["id"] for r in sinks["employees"].read().collect()}
    assert final == set(expected_final_state(workload))


# --- B4.2: schema drift ---------------------------------------------------

def test_schema_drift_evolves_columns(spark, tmp_path):
    wl = employee_workload(n_snapshot=5, n_ops=30, seed=11, schema_drift_at=10)
    half = 5 + 10  # batch boundary at the drift point: batch1 is pure pre-drift
    b1 = envelopes_to_df(spark, wl[:half])
    b2 = envelopes_to_df(spark, wl[half:])
    sinks = run_batches(spark, [b1, b2], str(tmp_path), mode="append")
    df = sinks["employees"].read()
    cols = set(df.columns)
    assert {"position", "salary", "role"} <= cols, cols
    # drifted rows: position erased to '' (null→'' faithful rule; matches
    # the ClickHouse String column default the reference relies on) and
    # salary null; pre-drift rows predate the role column entirely → null.
    drifted = df.filter((F.col("role") != "") & F.col("role").isNotNull())
    assert drifted.count() > 0
    assert drifted.filter((F.col("position") != "") | F.col("salary").isNotNull()).count() == 0
    pre = df.filter(F.col("role").isNull())
    assert pre.count() > 0
    assert pre.filter(F.col("position") == "").count() == 0


# --- B4.3: poison row → DLQ ----------------------------------------------

def test_poison_value_quarantined(spark, tmp_path):
    wl = employee_workload(n_snapshot=5, n_ops=0, seed=3)
    poison_after = {"id": 99, "name": "Mallory", "position": "X", "salary": "not-a-number"}
    wl.append(Envelope("dbserver1.testdb.employees", "c", None, poison_after, 1_722_999_000_000, 0, 99))
    b1 = envelopes_to_df(spark, wl[:5])   # establishes salary: double
    b2 = envelopes_to_df(spark, wl[5:])
    fn_sinks = {}
    _, dlq1 = cdc.apply_cdc_batch(spark, b1, str(tmp_path), sinks=fn_sinks)
    _, dlq2 = cdc.apply_cdc_batch(spark, b2, str(tmp_path), sinks=fn_sinks)
    dlq_rows = dlq2.collect()
    assert len(dlq_rows) == 1
    assert dlq_rows[0]["column"] == "salary"
    assert dlq_rows[0]["value"] == "not-a-number"
    assert dlq_rows[0]["table"] == "employees"
    # good rows still landed; poison row did not
    ids = {r["id"] for r in fn_sinks["employees"].read().collect()}
    assert 99 not in ids and len(ids) == 5
    # structured DLQ parquet written (S11)
    dlq_disk = spark.read.parquet(str(tmp_path / "_dlq"))
    assert dlq_disk.count() == 1


# --- B4.4: replay ---------------------------------------------------------

def test_replay_compact_idempotent(spark, tmp_path, workload):
    raw = envelopes_to_df(spark, workload)
    sinks = run_batches(spark, [raw, raw], str(tmp_path), mode="compact")
    final = {r["id"] for r in sinks["employees"].read().collect()}
    assert final == set(expected_final_state(workload))


def test_replay_append_documents_duplicate_hazard(spark, tmp_path, workload):
    """Faithful mode reproduces the reference's at-least-once duplication
    (consumer_to_file.py:185-187): replay doubles rows."""
    raw = envelopes_to_df(spark, workload)
    sinks = run_batches(spark, [raw, raw], str(tmp_path), mode="append")
    assert sinks["employees"].read().count() == 2 * _surviving_history(workload)


# --- epoch heuristic on *_on columns --------------------------------------

def test_updated_on_becomes_timestamp(spark, tmp_path):
    wl = employee_workload(n_snapshot=3, n_ops=0, seed=5)
    sinks = run_batches(spark, [envelopes_to_df(spark, wl)], str(tmp_path))
    schema = dict(sinks["employees"].read().dtypes)
    assert schema["updated_on"] == "timestamp"


# --- delete correctness (divergence from reference bug) -------------------

def test_delete_removes_only_target_key(spark, tmp_path):
    wl = employee_workload(n_snapshot=10, n_ops=0, seed=13)
    victim = wl[4].after
    wl.append(Envelope("dbserver1.testdb.employees", "d", victim, None, 1_722_999_000_000, 0, 50))
    sinks = run_batches(spark, [envelopes_to_df(spark, wl)], str(tmp_path), mode="compact")
    ids = {r["id"] for r in sinks["employees"].read().collect()}
    assert victim["id"] not in ids
    assert len(ids) == 9


# --- multi-table routing in one batch -------------------------------------

def test_multi_table_batch_routes_and_infers_pks(spark, tmp_path):
    """One micro-batch carrying two topics: rows route to separate sinks,
    each with its own inferred schema and primary key (uuid outranks id —
    consumer_to_file.py:57)."""
    emp = employee_workload(n_snapshot=4, n_ops=0, seed=17)
    cfg = [
        Envelope(
            "config.testdb.items",
            "c",
            None,
            {"uuid": f"u{i}", "id": i, "payload": f"cfg{i}", "updated_on": 1_722_900_000_000 + i},
            1_722_900_000_000 + i,
            0,
            100 + i,
        )
        for i in range(3)
    ]
    raw = envelopes_to_df(spark, emp + cfg)
    sinks = run_batches(spark, [raw], str(tmp_path), mode="compact")
    assert set(sinks) == {"employees", "items"}
    assert sinks["employees"].key == "id"
    assert sinks["items"].key == "uuid"
    assert sinks["items"].read().count() == 3
    assert sinks["employees"].read().count() == 4


# --- regression: review findings ------------------------------------------

def test_unapplicable_ops_do_not_crash_established_table(spark, tmp_path):
    """ops outside c/u/r/d (truncate 't') or upserts with null after, for
    a table whose schema is established, must be a no-op — not an
    IndexError that kills the micro-batch."""
    wl = employee_workload(n_snapshot=3, n_ops=0, seed=2)
    b1 = envelopes_to_df(spark, wl)
    b2 = envelopes_to_df(
        spark,
        [Envelope("dbserver1.testdb.employees", "t", None, None, 1_722_999_000_000, 0, 9)],
    )
    sinks = run_batches(spark, [b1, b2], str(tmp_path), mode="compact")
    assert sinks["employees"].read().count() == 3


def test_delete_then_reinsert_same_ts_survives(spark, tmp_path):
    """Append mode: a re-insert sharing the delete's source_ts_ms (ms
    granularity!) but a later offset must survive the delete cut."""
    ts = 1_722_900_000_000
    row1 = {"id": 1, "name": "A", "position": "X", "salary": 1.0, "updated_on": ts}
    row2 = {"id": 1, "name": "B", "position": "Y", "salary": 2.0, "updated_on": ts}
    wl = [
        Envelope("dbserver1.testdb.employees", "c", None, row1, ts, 0, 0),
        Envelope("dbserver1.testdb.employees", "d", row1, None, ts + 5, 0, 1),
        Envelope("dbserver1.testdb.employees", "c", None, row2, ts + 5, 0, 2),
    ]
    sinks = run_batches(spark, [envelopes_to_df(spark, wl)], str(tmp_path), mode="append")
    rows = sinks["employees"].read().collect()
    assert len(rows) == 1 and rows[0]["name"] == "B"


def test_small_valued_on_column_stays_numeric(spark, tmp_path):
    """The *_on → timestamp override requires values > 1e12
    (consumer_to_file.py:137-138); a count_on column of small ints must
    stay numeric, not become 1970 timestamps."""
    ts = 1_722_900_000_000
    wl = [
        Envelope(
            "dbserver1.testdb.widgets", "c", None,
            {"id": i, "count_on": i * 5, "updated_on": ts + i}, ts + i, 0, i,
        )
        for i in range(3)
    ]
    sinks = run_batches(spark, [envelopes_to_df(spark, wl)], str(tmp_path))
    schema = dict(sinks["widgets"].read().dtypes)
    assert schema["count_on"] == "bigint"
    assert schema["updated_on"] == "timestamp"


def test_record_field_named_offset_does_not_collide(spark, tmp_path):
    """A source column named like a CDC meta column (offset/partition/op)
    must flow through: meta lives under _cdc_*."""
    ts = 1_722_900_000_000
    wl = [
        Envelope(
            "dbserver1.testdb.readings", "c", None,
            {"id": i, "offset": i * 10, "op": f"op{i}", "partition": i}, ts + i, 0, i,
        )
        for i in range(4)
    ]
    sinks = run_batches(spark, [envelopes_to_df(spark, wl)], str(tmp_path), mode="compact")
    rows = {r["id"]: r for r in sinks["readings"].read().collect()}
    assert len(rows) == 4
    assert rows[2]["offset"] == 20 and rows[2]["op"] == "op2" and rows[2]["partition"] == 2


# --- driver-action budget (VERDICT r1 "What's wrong" #2) ------------------

def test_steady_state_batch_skips_inference_and_bounds_driver_actions(
    spark, tmp_path, monkeypatch
):
    """After the first batch establishes a table's schema, a same-shape
    batch must (a) not re-run JSON schema inference and (b) launch at most
    2 collect/take driver round-trips (the aggregated probe + the DLQ
    emptiness check) beyond the per-table writes."""
    ts = 1_722_900_000_000
    wl1 = [
        Envelope(
            "dbserver1.testdb.employees", "c", None,
            {"id": i, "name": f"e{i}", "salary": 100 + i}, ts + i, 0, i,
        )
        for i in range(5)
    ]
    wl2 = [
        Envelope(
            "dbserver1.testdb.employees", "u", None,
            {"id": i, "name": f"e{i}x", "salary": 200 + i}, ts + 100 + i, 0, 100 + i,
        )
        for i in range(5)
    ]
    sinks, _ = cdc.apply_cdc_batch(
        spark, envelopes_to_df(spark, wl1), str(tmp_path), mode="append"
    )

    infer_calls = {"n": 0}
    real_infer = cdc.infer_record_schema

    def counting_infer(*a, **kw):
        infer_calls["n"] += 1
        return real_infer(*a, **kw)

    monkeypatch.setattr(cdc, "infer_record_schema", counting_infer)

    from pyspark.sql import DataFrame

    actions = {"n": 0}
    real_collect, real_take = DataFrame.collect, DataFrame.take

    def counting_collect(self):
        actions["n"] += 1
        return real_collect(self)

    def counting_take(self, n):
        actions["n"] += 1
        return real_take(self, n)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    monkeypatch.setattr(DataFrame, "take", counting_take)

    cdc.apply_cdc_batch(
        spark, envelopes_to_df(spark, wl2), str(tmp_path),
        mode="append", sinks=sinks,
    )
    assert infer_calls["n"] == 0, "steady-state batch must skip inference"
    assert actions["n"] <= 2, f"driver actions per batch: {actions['n']}"


def test_drifted_batch_still_infers_new_columns(spark, tmp_path):
    """The fingerprint cache must NOT swallow drift: a batch introducing a
    new JSON key re-runs inference and the column appears."""
    ts = 1_722_900_000_000
    wl1 = [
        Envelope(
            "dbserver1.testdb.employees", "c", None,
            {"id": i, "name": f"e{i}"}, ts + i, 0, i,
        )
        for i in range(3)
    ]
    wl2 = [
        Envelope(
            "dbserver1.testdb.employees", "u", None,
            {"id": i, "name": f"e{i}", "role": "mgr"}, ts + 50 + i, 0, 50 + i,
        )
        for i in range(3)
    ]
    sinks, _ = cdc.apply_cdc_batch(
        spark, envelopes_to_df(spark, wl1), str(tmp_path), mode="append"
    )
    sinks, _ = cdc.apply_cdc_batch(
        spark, envelopes_to_df(spark, wl2), str(tmp_path),
        mode="append", sinks=sinks,
    )
    assert "role" in set(sinks["employees"].read().columns)


# --- replay dedup (VERDICT r1 "Next round" #6) ----------------------------

def test_replay_append_dedup_survives_crash_restart(spark, tmp_path, workload):
    """dedup_replays upgrades append mode to effectively-once: a crash
    between the parquet append and the checkpoint commit replays the
    epoch into a FRESH process (new sinks dict = lost in-memory state),
    and the offset high-water mark recovered from the sink itself filters
    the duplicates; genuinely new rows still land."""
    raw = envelopes_to_df(spark, workload)
    # epoch 0 applied, then "crash" before the checkpoint committed
    run_batches(spark, [raw], str(tmp_path), mode="append", dedup_replays=True)
    baseline = _surviving_history(workload)

    # restart: fresh sinks registry, epoch 0 replays in full
    sinks = run_batches(
        spark, [raw], str(tmp_path), mode="append", dedup_replays=True
    )
    assert sinks["employees"].read().count() == baseline, "replay duplicated rows"

    # a partially-new epoch: half replayed rows, half new offsets
    ts = 1_722_999_000_000
    fresh = [
        Envelope(
            "dbserver1.testdb.employees", "c", None,
            {"id": 9000 + i, "name": f"new{i}"}, ts + i, 0, 10_000 + i,
        )
        for i in range(4)
    ]
    mixed = envelopes_to_df(spark, workload + fresh)
    sinks = run_batches(
        spark, [mixed], str(tmp_path), mode="append", dedup_replays=True,
        )
    assert sinks["employees"].read().count() == baseline + 4


@pytest.mark.parametrize("mode", ["append", "compact"])
def test_restart_after_crash_in_overwrite_swap_window(spark, tmp_path, mode):
    """A crash between an overwrite's rmtree and its rename leaves the
    sink's only complete copy under the swap temp name. A restarted
    process must recover it before its first write; otherwise the next
    purge (append mode) or compaction overwrites that temp and loses
    every row it held."""
    wl = employee_workload(30, 90, seed=7)
    third = len(wl) // 3
    epochs = [wl[:third], wl[third:2 * third], wl[2 * third:]]
    root = str(tmp_path)
    fn, sinks = make_cdc_batch_fn(spark, root, mode, dedup_replays=True)
    fn(envelopes_to_df(spark, epochs[0]), 0)
    loc = sinks["employees"].location
    os.rename(loc, swapstore.tmp_path(loc))
    fn, sinks = make_cdc_batch_fn(spark, root, mode, dedup_replays=True)
    for e in (1, 2):
        fn(envelopes_to_df(spark, epochs[e]), e)
    cur = cdc.compact_latest(sinks["employees"].read(), key="id")
    got = {r["id"]: r["name"] for r in cur.collect()}
    assert got == {k: v["name"] for k, v in expected_final_state(wl).items()}
