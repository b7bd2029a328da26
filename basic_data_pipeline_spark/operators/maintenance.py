"""Table-maintenance operators: small-file compaction and layout stats.

A streaming sink (streaming/ingest.py appends one file set per
micro-batch) or any high-frequency writer accretes small files; at scale
the resulting per-file open/footer costs dominate scans long before data
size does. Compaction rewrites a parquet directory into size-targeted
files — the maintenance job every production lake schedules. (The
reference's ClickHouse sink gets this from MergeTree background merges;
parquet directories need it done explicitly.)
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from basic_data_pipeline_spark.streaming import swapstore as _swapstore


@_swapstore.leased("location", owner="batch:maintenance.atomic_overwrite")
def atomic_overwrite(
    df: DataFrame,
    location: str,
    sort_cols: list[str] | None = None,
    n_parts: int | None = None,
) -> None:
    """Replace a parquet directory with `df` through
    ``swapstore.replace_dir`` (the swap and recovery contract is stated
    there). The input plan may READ the same directory it replaces: a
    cache()-then-overwrite would recompute a lost cached block from the
    half-deleted directory, while the temp swap never has both the source
    and a partial destination live at once."""
    out = df.repartition(n_parts) if n_parts else df
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    _swapstore.replace_dir(location, out.write.mode("overwrite").parquet)


def parquet_layout(path: str) -> dict:
    """File-level layout stats for a parquet directory (recursive —
    includes hive-style partition subdirectories)."""
    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]
    sizes = [os.path.getsize(f) for f in files]
    return {
        "n_files": len(files),
        "total_bytes": sum(sizes),
        "avg_bytes": (sum(sizes) // len(sizes)) if sizes else 0,
    }


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> dict:
    """Rewrite `path` into ~target_file_bytes files (at least one),
    optionally re-sorting within files to restore row-group stats
    data-skipping after many unordered appends. Returns the new layout.

    The rewrite goes through `atomic_overwrite` (write-to-temp + rename):
    the plan reads the same directory it replaces, and the temp swap stays
    fault-tolerant where a cache()+overwrite would not be. Partition
    count = ceil(bytes/target): size-based, so the same call works on a
    100 GB or a 100 TB directory."""
    before = parquet_layout(path)
    n_parts = max(1, -(-before["total_bytes"] // target_file_bytes))
    atomic_overwrite(
        spark.read.parquet(path), path, sort_cols=sort_cols, n_parts=n_parts
    )
    return parquet_layout(path)


def assert_clean_stream_ledger(index_path: str) -> None:
    """Refuse maintenance while a guarded stream's intent marker is
    pending: the index may hold a crashed epoch's PARTIAL append, and a
    rewrite would fold those rows in beyond the reach of the watermark
    rebuild (run the matching streaming.rebuild helper first)."""
    from basic_data_pipeline_spark.operators.indexspec import read_ledger

    for tag, state in read_ledger(index_path).items():
        if isinstance(state, dict) and state.get("intent") is not None:
            raise RuntimeError(
                f"stream {tag!r} crashed mid-append (intent epoch "
                f"{state['intent']}) — run the matching "
                "streaming.rebuild helper before compacting"
            )


def rewrite_table(
    spark: SparkSession,
    out: DataFrame,
    path: str,
    table: str,
    bucket_cols: list[str] | None = None,
    n_buckets: int = 0,
    sort_cols: list[str] | None = None,
) -> None:
    """Replace the files of catalog table ``table`` at ``path`` with
    ``out`` through ``swapstore.replace_dir``, bucketed when
    ``bucket_cols`` is given (bucketing lives in the catalog, so the
    writer registers a metadata-only temp table over the swap temp), and
    refresh the cached views of the path and the table."""
    from basic_data_pipeline_spark.sources import tables as _tables

    tmp_table = table + "_swap"
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    if bucket_cols:
        _swapstore.replace_dir(path, lambda tmp: _tables.write_bucketed(
            out, tmp_table, bucket_cols, n_buckets,
            sort_cols=sort_cols, path=tmp,
        ))
    else:
        _swapstore.replace_dir(path, out.write.mode("overwrite").parquet)
    spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
    spark.catalog.refreshByPath(path)
    if spark.catalog.tableExists(table):
        spark.sql(f"REFRESH TABLE {table}")


@_swapstore.leased("src_path", owner="batch:maintenance.compact_bucketed")
def compact_bucketed(
    spark: SparkSession,
    src_path: str,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    fold=None,
) -> dict:
    """Rewrite one BUCKETED index table into exactly ``n_buckets`` files
    and atomically swap it in. Every incremental index here appends
    ``n_buckets`` files per epoch (bucketed writes emit one file per
    bucket per task), so a long-lived stream accretes files linearly in
    epochs — this is the scheduled maintenance that undoes it.

    ``compact_parquet`` must NEVER run on these directories: Spark
    derives each file's bucket id from its NAME, so a plain rewrite
    keeps reading fine but silently breaks the zero-exchange bucketed
    joins' co-location assumption — the rewrite has to go back through
    a bucketed writer, which is exactly what this does (repartitioned
    to ``n_buckets`` on the bucket key first, so each task owns one
    bucket and writes ONE file). ``fold`` optionally transforms the
    frame before the rewrite (the df delta log folds to one row per
    term). The swap goes through ``swapstore.replace_dir``; a temp left
    by a crashed compaction is recovered on entry.
    Returns {rows, files_before, files_after}."""
    from pyspark.sql import functions as F

    _swapstore.recover(src_path)
    files_before = parquet_layout(src_path)["n_files"]
    df = spark.read.parquet(src_path)
    out = fold(df) if fold is not None else df
    out = out.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
    rewrite_table(
        spark, out, src_path, table, bucket_cols, n_buckets, sort_cols
    )
    return {
        "rows": spark.read.parquet(src_path).count(),
        "files_before": files_before,
        "files_after": parquet_layout(src_path)["n_files"],
    }


# ---------------------------------------------------------------------------
# Z-order layout: multi-dimensional clustering for min/max pruning
# ---------------------------------------------------------------------------


def _zvalue(scaled, bits: int):
    """Interleave the bits of the scaled dimension values — Morton
    (Z-curve) order. Pure shift/mask expressions, fully codegen'd."""
    from pyspark.sql import functions as F

    ndim = len(scaled)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for d, c in enumerate(scaled):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * ndim + d))
    return z


def zorder_write(
    df: DataFrame,
    cols: list[str],
    location: str,
    n_files: int = 8,
    bits: int = 12,
) -> None:
    """Rewrite a table Z-ORDERED on `cols`: each column is min/max-scaled
    to a `bits`-bit integer, the per-row bit-interleaved Morton code is
    range-partitioned into `n_files` files and sorted within each. Rows
    close in ALL `cols` land in the same file, so every file's parquet
    min/max stats are tight in every clustered dimension at once — a
    single-column sort gives tight stats in that column only, leaving
    scans filtered on the others to read everything.

    This is what makes multi-dimensional predicate pruning work at
    100 TB: row-group/file skipping is driven by footer stats, and
    Z-order bounds each file's hyper-rectangle volume instead of one
    edge. (Same layout technique Delta/Iceberg expose as OPTIMIZE
    ZORDER; implemented here with plain DataFrame ops — no table format
    required.) The min/max pre-pass is one bounded aggregate (2×|cols|
    values to the driver — control plane, not data). NULLs scale to 0 so
    they cluster together at the curve origin. `bits`×|cols| must stay
    ≤ 63 (long z-value)."""
    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("zorder_write needs at least one column")
    if bits * len(cols) > 63:
        raise ValueError("bits * len(cols) must fit in a long (<= 63)")
    lo_hi = df.agg(
        *[F.min(c).cast("double").alias(f"_lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_hi_{c}") for c in cols],
    ).first()
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        lo, hi = lo_hi[f"_lo_{c}"], lo_hi[f"_hi_{c}"]
        span = (hi - lo) if (hi is not None and lo is not None and hi > lo) else 1.0
        scaled.append(
            F.coalesce(
                F.floor(
                    (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * top
                ).cast("long"),
                F.lit(0).cast("long"),
            )
        )
    atomic_overwrite(
        df.withColumn("_z", _zvalue(scaled, bits))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z"),
        location,
    )


def file_stat_volumes(
    spark: SparkSession, location: str, cols: list[str]
) -> DataFrame:
    """Per-file min/max width of each column, normalized by the global
    span — the quantity min/max pruning depends on (a predicate on any
    `col` skips a file iff the file's [min,max] misses the value). Used
    to MEASURE a layout: mean normalized width ≪ 1 in every dimension ⇒
    multi-dim pruning works; a random layout shows ≈ 1."""
    from pyspark.sql import functions as F

    d = spark.read.parquet(location).select(
        F.input_file_name().alias("_f"), *cols
    )
    per_file = d.groupBy("_f").agg(
        *[F.min(c).cast("double").alias(f"_lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_hi_{c}") for c in cols],
    )
    glob_ = d.agg(
        *[
            (F.max(F.col(c).cast("double")) - F.min(F.col(c).cast("double"))).alias(
                f"_span_{c}"
            )
            for c in cols
        ]
    )
    out = per_file.crossJoin(F.broadcast(glob_))
    for c in cols:
        out = out.withColumn(
            f"width_{c}",
            (F.col(f"_hi_{c}") - F.col(f"_lo_{c}"))
            / F.when(F.col(f"_span_{c}") > 0, F.col(f"_span_{c}")).otherwise(
                F.lit(1.0)
            ),
        )
    return out.select("_f", *[f"width_{c}" for c in cols])
