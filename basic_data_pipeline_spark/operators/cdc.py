"""CDC ingestion operators: envelope decode → normalize → validate → apply.

The Spark-first re-expression of the reference consumer's pipeline
(/root/reference/consumer_to_file.py:195-257). The reference is a
row-at-a-time poll loop (one JSON parse + one HTTP insert per message);
here each stage is a declarative DataFrame transform so a micro-batch of
millions of events is one columnar plan:

  raw (topic/value)                               [Kafka or any source]
    → decode_envelopes      from_json, payload projection     (S3, P1)
    → route: table column   element_at(split(topic)), prefix  (S1, S4)
    → split by op           c/u/r → upserts, d → deletes      (P2)
    → extract as strings    from_json(all-string schema)
    → normalize             normalize_value as expressions    (P3, §1.2)
    → validate + cast       try_cast per column → good | DLQ  (S11)
    → apply                 append | compact (window rn=1),
                            delete (left_anti)                (S7, S10, §2.5)

Schema lifecycle (S8/S9): the first batch of a table infers its record
schema (spark.read.json over the raw after-JSON = the reference's
first-record inference, consumer_to_file.py:129-153), collapsed to sink
types (decimal→double, container→string, forced-string names, `*_on`
numeric → timestamp). Later batches keep existing column types and extend
with new columns (the DESCRIBE-diff + ALTER ADD COLUMN of :155-168);
storage evolution is parquet mergeSchema — appended files carry the wider
schema, reads merge footers, no table rewrite (O(metadata) at 100 TB).

Divergences from the reference (deliberate, SURVEY.md §7): deletes use the
actual inferred key column (not the hardcoded ``id`` of :241), and the DLQ
probe-retry NameError (:229) is replaced by vectorized validation.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from basic_data_pipeline_spark.functions.normalize import (
    EPOCH_MS_THRESHOLD,
    EPOCH_SUFFIX,
    infer_sink_type,
    normalize_string_value,
    pick_primary_key,
)
from basic_data_pipeline_spark.streaming import swapstore as _swapstore

# Debezium JSON envelope with converter schemas disabled
# (docker-compose.yml:70-71 → bare {"payload": ...}); before/after kept as
# raw JSON strings so per-table schema inference stays per-batch.
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField(
            "payload",
            T.StructType(
                [
                    T.StructField("op", T.StringType()),
                    T.StructField("before", T.StringType()),
                    T.StructField("after", T.StringType()),
                    T.StructField(
                        "source",
                        T.StructType(
                            [
                                T.StructField("ts_ms", T.LongType()),
                                T.StructField("table", T.StringType()),
                            ]
                        ),
                    ),
                    T.StructField("ts_ms", T.LongType()),
                ]
            ),
        )
    ]
)

# Topic-prefix namespace filter (consumer_to_file.py:10 + the Debezium
# topic prefix of register-connector.sh:16).
VALID_PREFIXES = ("config.", "sourcing.", "dbserver1.")

UPSERT_OPS = ("c", "u", "r")
DELETE_OP = "d"

META_COLS = ("table", "op", "source_ts_ms", "ts_ms", "partition", "offset")


def decode_envelopes(
    raw: DataFrame, prefixes: tuple[str, ...] = VALID_PREFIXES
) -> DataFrame:
    """raw(topic,value[,partition,offset]) → one row per valid change event.

    Drops messages without a payload (consumer_to_file.py:208-209) and
    topics outside the namespace (:171-180). `table` is the last dotted
    segment of the topic (:211). Everything is a column expression — the
    JSON parse is Jackson inside codegen, not Python json.loads per row.
    """
    prefix_pred = F.lit(False)
    for p in prefixes:
        prefix_pred = prefix_pred | F.col("topic").startswith(p)

    kafka_meta = [c for c in ("partition", "offset") if c in raw.columns]
    return (
        raw.filter(prefix_pred)
        .withColumn("_env", F.from_json(F.col("value").cast("string"), ENVELOPE_SCHEMA))
        .filter(F.col("_env.payload").isNotNull())
        .select(
            F.element_at(F.split(F.col("topic"), r"\."), -1).alias("table"),
            F.col("_env.payload.op").alias("op"),
            F.col("_env.payload.before").alias("before"),
            F.col("_env.payload.after").alias("after"),
            F.col("_env.payload.source.ts_ms").alias("source_ts_ms"),
            F.col("_env.payload.ts_ms").alias("ts_ms"),
            *[F.col(c) for c in kafka_meta],
        )
    )


INFER_SAMPLE_ROWS = 10_000


def infer_record_schema(spark: SparkSession, json_col_df: DataFrame) -> T.StructType:
    """Infer a record schema from a batch of JSON strings and collapse it
    to sink types — the micro-batch equivalent of first-record inference
    (consumer_to_file.py:115-141), including the `*_on` epoch heuristic.

    The sample is BOUNDED (limit 10k): inference cost must not scale with
    micro-batch size — a 10⁸-row batch at 100 TB would otherwise pay a
    full JSON-inference scan per table per batch. Callers additionally
    skip this entirely on steady-state batches whose JSON key set matches
    the cached schema (see apply_cdc_batch's probe)."""
    sample = (
        json_col_df.filter(F.col("after").isNotNull())
        .select("after")
        .limit(INFER_SAMPLE_ROWS)
        .persist()  # consumed twice (inference + epoch maxima); tiny
    )
    inferred = spark.read.json(sample.rdd.map(lambda r: r[0])).schema
    fields = []
    epoch_candidates = []
    for f in inferred.fields:
        if f.name.startswith("_corrupt"):
            continue
        sink_t = infer_sink_type(f.name, f.dataType)
        if f.name.endswith(EPOCH_SUFFIX) and isinstance(
            sink_t, (T.LongType, T.DoubleType, T.IntegerType)
        ):
            epoch_candidates.append(f.name)
        fields.append(T.StructField(f.name, sink_t, True))
    if epoch_candidates:
        # ensure_table:137-138 applies the timestamp override only when the
        # VALUE exceeds 1e12 — a numeric `count_on`-style column with small
        # values must stay numeric, or small ints become 1970 timestamps.
        maxima = sample.agg(
            *[
                F.max(
                    F.get_json_object(F.col("after"), f"$.{name}").try_cast("double")
                ).alias(name)
                for name in epoch_candidates
            ]
        ).collect()[0]
        epochal = {
            name
            for name in epoch_candidates
            if maxima[name] is not None and maxima[name] > EPOCH_MS_THRESHOLD
        }
        fields = [
            T.StructField(f.name, T.TimestampType(), True)
            if f.name in epochal
            else f
            for f in fields
        ]
    sample.unpersist()
    return T.StructType(fields)


def merge_schemas(existing: T.StructType, batch: T.StructType) -> T.StructType:
    """Existing column types win; new columns append (ALTER ADD COLUMN)."""
    have = {f.name for f in existing.fields}
    return T.StructType(
        list(existing.fields) + [f for f in batch.fields if f.name not in have]
    )


def extract_string_records(events: DataFrame, schema: T.StructType) -> DataFrame:
    """Decode after-JSON into all-string columns + CDC metadata. Values stay
    strings until validation so bad values survive to the DLQ intact.

    Meta columns are re-namespaced to ``_cdc_*`` here: a source table may
    legitimately have columns named op/offset/partition/ts_ms — without
    the prefix those would collide with the CDC bookkeeping columns and
    every downstream reference would be ambiguous."""
    sschema = T.StructType([T.StructField(f.name, T.StringType()) for f in schema.fields])
    meta = [c for c in META_COLS if c in events.columns]
    rec = events.withColumn("_rec", F.from_json("after", sschema))
    return rec.select(
        *[F.col(c).alias(f"_cdc_{c}") for c in meta],
        *[F.col(f"_rec.{f.name}").alias(f.name) for f in schema.fields],
    )


def normalize_records(records: DataFrame, schema: T.StructType) -> DataFrame:
    """normalize_value per column, as one projection (consumer_to_file.py:
    88-113): null→'', true/false→1/0, numerics>1e12→//1000, JSON
    containers/other strings pass through."""
    meta = [c for c in records.columns if c not in {f.name for f in schema.fields}]
    return records.select(
        *[F.col(c) for c in meta],
        *[normalize_string_value(F.col(f.name)).alias(f.name) for f in schema.fields],
    )


def _typed_value(c: F.Column, dtype: T.DataType) -> F.Column:
    if isinstance(dtype, T.StringType):
        return c
    if isinstance(dtype, T.TimestampType):
        # post-normalize epoch columns hold seconds; also accept ISO text
        return F.coalesce(
            c.try_cast("timestamp"),
            F.timestamp_seconds(c.try_cast("long")),
        )
    return c.try_cast(dtype.simpleString())


def validate_and_cast(
    records: DataFrame, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Split a normalized all-string batch into (typed good rows, DLQ).

    The reference pinpoints a bad column by re-inserting the row one column
    at a time against the live sink (consumer_to_file.py:226-235 — N HTTP
    probes per failure, plus the :229 NameError bug). Here the probe is one
    vectorized coalesce over per-column try_cast failures; the DLQ carries
    the same diagnostics (table, column, value, error, payload) as
    structured columns (S11).
    """
    checks = []
    for f in schema.fields:
        if isinstance(f.dataType, T.StringType):
            continue
        c = F.col(f.name)
        bad = c.isNotNull() & (c != "") & _typed_value(c, f.dataType).isNull()
        checks.append(F.when(bad, F.lit(f.name)))
    meta = [c for c in records.columns if c not in {f.name for f in schema.fields}]

    if checks:
        flagged = records.withColumn("_bad_col", F.coalesce(*checks))
    else:
        flagged = records.withColumn("_bad_col", F.lit(None).cast("string"))

    good = flagged.filter(F.col("_bad_col").isNull()).select(
        *[F.col(c) for c in meta],
        *[_typed_value(F.col(f.name), f.dataType).alias(f.name) for f in schema.fields],
    )
    bad_value = F.coalesce(
        *[
            F.when(F.col("_bad_col") == f.name, F.col(f.name))
            for f in schema.fields
        ]
    ) if schema.fields else F.lit(None).cast("string")
    tbl_col = next((c for c in ("_cdc_table", "table") if c in records.columns), None)
    dlq = flagged.filter(F.col("_bad_col").isNotNull()).select(
        F.col(tbl_col).alias("table") if tbl_col else F.lit("").alias("table"),
        F.col("_bad_col").alias("column"),
        bad_value.alias("value"),
        F.lit("cast_error").alias("error"),
        F.to_json(F.struct(*[F.col(f.name) for f in schema.fields])).alias("payload"),
    )
    return good, dlq


def compact_latest(
    records: DataFrame,
    key: str,
    order_cols: list[str] | None = None,
    drop_deleted: bool = True,
) -> DataFrame:
    """Upsert-compaction: latest version per key wins (SURVEY.md §2.5).

    The reference appends every update as a new sink row (plain MergeTree
    never collapses, consumer_to_file.py:214-224); `compact` is the mode a
    consumer actually wants: one row per key = last-write-wins ordered by
    (source_ts_ms, ts_ms, offset). Deletes (op='d') tombstone their key.
    One window = one shuffle on the key, no join; AQE splits skewed keys.
    """
    order_cols = order_cols or [
        c
        for c in (
            "_cdc_source_ts_ms", "_cdc_ts_ms", "_cdc_offset",
            "source_ts_ms", "ts_ms", "offset",
        )
        if c in records.columns
    ]
    w = W.partitionBy(key).orderBy(*[F.desc(c) for c in order_cols])
    latest = (
        records.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    op_col = next((c for c in ("_cdc_op", "op") if c in records.columns), None)
    if drop_deleted and op_col is not None:
        latest = latest.filter(F.col(op_col) != DELETE_OP)
    return latest


def apply_deletes(target: DataFrame, delete_keys: DataFrame, key: str) -> DataFrame:
    """Remove deleted keys: left anti join on the ACTUAL primary-key column
    (fixing consumer_to_file.py:241's hardcoded `WHERE id=`)."""
    return target.join(delete_keys.select(key).distinct(), on=key, how="left_anti")


def evolve_union(existing: DataFrame, batch: DataFrame) -> DataFrame:
    """Schema-drift union: rows from either side, missing columns null —
    the relational form of DESCRIBE-diff + ALTER ADD COLUMN
    (consumer_to_file.py:155-168)."""
    return existing.unionByName(batch, allowMissingColumns=True)


@dataclass
class SinkTable:
    """Parquet-backed sink with auto-create + mergeSchema evolution.

    Mirrors ensure_table/alter_table_if_new_keys (consumer_to_file.py:
    129-168) without DDL round-trips: appended files carry their batch's
    (possibly wider) schema; reads merge footers. The primary key is
    inferred from the first batch (PK_CANDIDATES order, :57,143) like the
    MergeTree ORDER BY; appends sortWithinPartitions(key) so parquet
    row-group stats give key-lookup data-skipping.
    """

    spark: SparkSession
    path: str
    name: str
    key: str | None = None
    record_schema: T.StructType | None = None
    created: bool = False
    # per-Kafka-partition high-water mark of applied offsets (replay
    # dedup); None = unknown, recovered lazily from the sink on restart
    applied_offsets: dict[int, int] | None = None

    def __post_init__(self) -> None:
        # A restarted process starts with a fresh SinkTable but the data
        # directory survives — detect it so evolution/delete/replay logic
        # treats the table as existing, not new. A crash inside an
        # overwrite's swap window leaves the only complete copy in the
        # swap temp: recover it first.
        _swapstore.recover(self.location)
        if os.path.isdir(self.location):
            self.created = True

    @property
    def location(self) -> str:
        return os.path.join(self.path, self.name)

    def append(self, batch: DataFrame) -> None:
        batch.sortWithinPartitions(self.key).write.mode("append").parquet(self.location)
        self.created = True

    def overwrite(self, full: DataFrame) -> None:
        """Replace contents (compaction / delete rewrite) via the shared
        write-to-temp + rename swap (operators/maintenance.py
        `atomic_overwrite`): the input plan may read this same path, and
        a cache()-then-overwrite is NOT fault-tolerant (a lost cached
        block would recompute from the half-overwritten directory)."""
        from basic_data_pipeline_spark.operators.maintenance import atomic_overwrite

        atomic_overwrite(full, self.location, sort_cols=[self.key])
        self.created = True

    def read(self) -> DataFrame:
        return self.spark.read.option("mergeSchema", "true").parquet(self.location)


def apply_cdc_batch(
    spark: SparkSession,
    raw: DataFrame,
    sink_root: str,
    mode: str = "append",
    sinks: dict[str, SinkTable] | None = None,
    dedup_replays: bool = False,
    sink_factory: Callable[[str], SinkTable] | None = None,
) -> tuple[dict[str, SinkTable], DataFrame]:
    """One micro-batch end-to-end: decode → per-table schema-sync /
    normalize / validate → apply. Returns (sinks, dlq_df).

    Works on a batch DataFrame directly or inside foreachBatch
    (streaming/ingest.py) — same body either way. `sinks` carries
    per-table state across batches: the foreachBatch analog of the
    reference's `created_tables` set + per-table column cache
    (consumer_to_file.py:58,130).
    """
    sinks = sinks if sinks is not None else {}
    # persisted: the decode runs once, not once per (table × probe/infer/
    # apply) — a large Kafka micro-batch would otherwise re-parse ~5× per
    # routed table
    events = decode_envelopes(raw).persist()

    # ONE aggregated driver round-trip replaces r1's distinct().collect()
    # plus two take(1) probes PER TABLE (a serial job-launch tax at 100 TB
    # micro-batch rates): per-table upsert/delete counts, plus the sorted
    # JSON key sets of the upsert payloads. The key sets are the schema
    # fingerprint — a steady-state batch whose keys are all already in the
    # cached schema skips JSON inference entirely, so inference runs only
    # on first sight of a table or on actual drift.
    is_upsert = F.col("op").isin(*UPSERT_OPS) & F.col("after").isNotNull()
    probe = (
        events.groupBy("table")
        .agg(
            F.sum(is_upsert.cast("long")).alias("n_upserts"),
            F.sum((F.col("op") == DELETE_OP).cast("long")).alias("n_deletes"),
            F.collect_set(
                F.when(
                    is_upsert,
                    F.array_join(F.array_sort(F.json_object_keys("after")), ","),
                )
            ).alias("key_sets"),
        )
        .collect()
    )
    stats = {r["table"]: r for r in probe}

    # Replay dedup (append mode): per-(table, partition) max offsets of
    # this batch, ONE extra driver round-trip when enabled. Combined with
    # each sink's applied-offset high-water mark this upgrades append mode
    # from at-least-once to effectively-once: a replayed epoch (crash
    # between the parquet append and the checkpoint commit) is filtered
    # out by offset, fully-replayed epochs skip their write entirely.
    batch_offmax: dict[tuple[str, int], int] = {}
    if dedup_replays and "offset" in events.columns:
        for r in (
            events.filter(is_upsert)
            .groupBy("table", "partition")
            .agg(F.max("offset").alias("m"))
            .collect()
        ):
            batch_offmax[(r["table"], r["partition"])] = r["m"]

    dlq_schema = "table string, column string, value string, error string, payload string"
    dlq_all = spark.createDataFrame([], dlq_schema)

    for tbl in sorted(stats):
        sub = events.filter(F.col("table") == tbl)
        upserts = sub.filter(is_upsert)
        deletes = sub.filter(F.col("op") == DELETE_OP)
        if tbl not in sinks:
            sinks[tbl] = (
                sink_factory(tbl)
                if sink_factory is not None
                else SinkTable(spark, sink_root, tbl)
            )
        sink = sinks[tbl]

        has_upserts = stats[tbl]["n_upserts"] > 0
        has_deletes = stats[tbl]["n_deletes"] > 0

        if has_upserts:
            cached = sink.record_schema
            batch_keys: set[str] = set()
            for ks in stats[tbl]["key_sets"]:
                if ks:
                    batch_keys.update(ks.split(","))
            known = {f.name for f in cached.fields} if cached is not None else set()
            if cached is not None and batch_keys <= known:
                # steady state: every payload key already typed — no
                # inference scan, no extra job
                schema = cached
            else:
                batch_schema = infer_record_schema(spark, upserts)
                schema = (
                    merge_schemas(cached, batch_schema)
                    if cached is not None
                    else batch_schema
                )
            sink.record_schema = schema
        if sink.record_schema is None:
            continue  # deletes before any create: nothing to apply
        schema = sink.record_schema
        if sink.key is None:
            sink.key = pick_primary_key([f.name for f in schema.fields])
        key = sink.key
        key_type = {f.name: f.dataType for f in schema.fields}[key]

        good = None
        if has_upserts:
            records = normalize_records(extract_string_records(upserts, schema), schema)
            good, dlq = validate_and_cast(records, schema)
            dlq_all = dlq_all.unionByName(dlq)
            good = good.drop("_cdc_table")

        # delete tombstones: key from `before` (the ACTUAL key column —
        # divergence from the reference's hardcoded `id`, :241), ordered by
        # the same (source_ts_ms, ts_ms, offset) as the data rows so
        # interleaved delete→re-insert sequences resolve correctly.
        tombstones = None
        if has_deletes:
            meta = [c for c in ("source_ts_ms", "ts_ms", "partition", "offset") if c in deletes.columns]
            tombstones = deletes.select(
                F.lit("d").alias("_cdc_op"),
                *[F.col(c).alias(f"_cdc_{c}") for c in meta],
                _typed_value(
                    normalize_string_value(
                        F.get_json_object(F.col("before"), f"$.{key}")
                    ),
                    key_type,
                ).alias(key),
            )

        parts = [p for p in (good, tombstones) if p is not None]
        if not parts:
            # events for an established table that are neither valid
            # upserts nor deletes (op 't'/'m', or upserts with null
            # `after`): nothing to apply — must not crash the micro-batch
            continue

        if mode == "compact":
            merged = parts[0]
            for p in parts[1:]:
                merged = evolve_union(merged, p)
            if sink.created:
                merged = evolve_union(
                    merged, sink.read().withColumn("_cdc_op", F.lit("r"))
                )
            sink.overwrite(compact_latest(merged, key=key).drop("_cdc_op"))
        else:
            if good is not None and dedup_replays and "_cdc_offset" in good.columns:
                if sink.created and sink.applied_offsets is None:
                    # restart recovery: high-water marks from the sink
                    # itself — a 2-column pruned scan, once per table per
                    # process (steady state never re-reads)
                    sink.applied_offsets = {
                        r["_cdc_partition"]: r["m"]
                        for r in sink.read()
                        .groupBy("_cdc_partition")
                        .agg(F.max("_cdc_offset").alias("m"))
                        .collect()
                    }
                wm = sink.applied_offsets or {}
                batch_parts = {
                    part: mx
                    for (t, part), mx in batch_offmax.items()
                    if t == tbl
                }
                if batch_parts and all(
                    mx <= wm.get(part, -1) for part, mx in batch_parts.items()
                ):
                    good = None  # fully-replayed epoch: skip the write
                elif wm:
                    wm_map = F.create_map(
                        *[F.lit(x) for kv in wm.items() for x in kv]
                    )
                    seen = wm_map[F.col("_cdc_partition").cast("int")]
                    good = good.filter(
                        seen.isNull() | (F.col("_cdc_offset") > seen)
                    )
                new_wm = dict(wm)
                for part, mx in batch_parts.items():
                    new_wm[part] = max(new_wm.get(part, -1), mx)
            else:
                new_wm = None
            if good is not None:
                sink.append(good.drop("_cdc_op"))
            if tombstones is not None and sink.created:
                # faithful append mode: a delete removes every version of
                # the key at-or-before it (ALTER TABLE … DELETE semantics,
                # consumer_to_file.py:241-243); later re-inserts survive.
                # The cut uses the FULL (source_ts_ms, ts_ms, offset)
                # ordering — source_ts_ms alone is millisecond-granular,
                # and a re-insert sharing the delete's timestamp must
                # survive (struct comparison is lexicographic). Each
                # component is coalesced to -1: a NULL field (e.g. an
                # envelope missing source.ts_ms) would make the struct
                # comparison NULL and silently DROP a row that postdates
                # the delete; with the sentinel, missing-version rows sort
                # before any real version.
                ord_cols = [
                    c
                    for c in ("_cdc_source_ts_ms", "_cdc_ts_ms", "_cdc_offset")
                    if tombstones is not None and c in tombstones.columns
                ]
                ver = F.struct(
                    *[F.coalesce(F.col(c), F.lit(-1)) for c in ord_cols]
                )
                last_del = tombstones.groupBy(key).agg(
                    F.max(ver).alias("_del_ver")
                )
                if hasattr(sink, "apply_delete_versions"):
                    # relational sinks delete in place (the reference's
                    # per-key ALTER TABLE … DELETE) instead of rewriting
                    # the whole table
                    sink.apply_delete_versions(last_del, key, ord_cols)
                else:
                    target = sink.read()
                    remaining = (
                        target.join(F.broadcast(last_del), on=key, how="left")
                        .filter(
                            F.col("_del_ver").isNull() | (ver > F.col("_del_ver"))
                        )
                        .drop("_del_ver")
                    )
                    sink.overwrite(remaining)
            # advance the replay watermark only AFTER the append (and
            # delete apply) succeeded: advancing first would make an
            # in-process retry of a failed batch look already-applied and
            # silently drop its rows.
            if new_wm is not None:
                sink.applied_offsets = new_wm

    if dlq_all.take(1):
        dlq_all.write.mode("append").parquet(os.path.join(sink_root, "_dlq"))
    events.unpersist()
    return sinks, dlq_all
