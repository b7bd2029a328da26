"""SparkSession factory.

Mirrors the analytics environment the reference provisions
(/root/reference/spark.sh:17-27: local[*] master, Arrow enabled, in-memory
catalog) and adds the scale-conscious defaults the reference lacks: AQE with
partition coalescing and skew-join handling, a shuffle-partition count sized
to the session's own core count (overridable for a real cluster), and a pinned UTC
session timezone so results compare bit-for-bit against the DuckDB oracle.

On a real cluster the same builder applies — only ``master`` and the
shuffle/memory knobs change; every operator in this package expresses its
plan declaratively so Catalyst + AQE re-plan at any scale.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(
    app_name: str = "basic_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Defaults are tuned for local[N] testing but every setting is the one
    you'd want on a 1000-executor cluster too: AQE coalesces the shuffle
    partitions we over-provision, the skew-join handler splits hot keys,
    and Arrow keeps any unavoidable pandas-UDF exchange columnar.
    """
    if master is None:
        master = f"local[{DEFAULT_CPUS}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", session_cores(master))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # NOTE: spark.sql.optimizer.runtime.bloomFilter.enabled is already
        # true by default on Spark 4 (runtime row-level join filtering), so
        # it is not set here; forcing the semiJoinReduction variant was
        # tried and rejected — the bench ran multiples slower with it set
        # (extra build-side scans dwarf the benefit at this data size)
        .config("spark.ui.enabled", "false")
        # Bound every plan-string render to 1 MB (default ~2 GB): AQE
        # posts an explainString per plan update EVEN with the UI off,
        # and a plan carrying a large literal (the Bloom prefilter's
        # m/64-word array) or a deeply nested stage chain makes that
        # render super-linear or heap-fatal — the r9 256× corpus_pack
        # cut-off and the pipeline-probe driver OOM were both this
        # class. 1 MB keeps explains useful; truncation affects ONLY
        # the string, never the executed plan.
        .config("spark.sql.maxPlanStringLength", str(1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_cores(master: str) -> int:
    """Task slots of a ``local[N]`` master (``SPARK_GRAFT_CPUS`` by
    default); the host's core count for ``local[*]`` or a cluster master.
    The shuffle width follows the session's slots, not the host's."""
    m = re.fullmatch(r"local\[(\d+)(?:,\s*\d+)?\]", master)
    return int(m.group(1)) if m else os.cpu_count() or 8


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
