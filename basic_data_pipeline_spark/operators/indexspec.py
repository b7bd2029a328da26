"""One declaration per persisted-index family, and everything derived
from it.

Seven families keep a persisted index next to their batch operator:
dedup (operators/incremental.py), substring, entity, retrieval, image,
audio and graph (operators/incremental_<family>.py). Each declares one
``IndexSpec`` at the bottom of this module: its catalog-name prefix,
default bucket count, and per table the directory, bucket and sort
columns (``None``: the writer does not sort), and the watermark-keep
predicate. A table with no bucket columns is a plain parquet side table.
From the spec this module derives the catalog names, ``_meta.json`` I/O,
fresh-session registration, bucketed writes, compaction (behind the
clean-ledger guard and the writer lease) and the as-of-completed read;
streaming/rebuild.py derives the id-watermark crash rebuild and
streaming/dedup_stream.py the guarded stream factories.

**The watermark.** Ids are globally unique and MONOTONE across batches;
the build records the base corpus's ``max_id`` in _meta.json and the
guarded stream records the running ``max_id`` in the ledger on EPOCH
COMPLETION only. So every row of a completed epoch sits at or below the
watermark and every row of an in-flight or crashed append above it. A
table's ``keep`` predicate is that one cut: the crash rebuild rewrites
the table to it, and an ``as_of_completed`` read filters by it — one
ledger read per reader call (``IndexSpec.pinned``) cuts every table the
reader reads, so an epoch completing mid-read cannot tear it (one
codegen filter per table, no locks — Spark lists files at planning, so the filter
is the only coordination a reader needs). The watermark advances on
stream-epoch completion only; batch mutators hold the writer lease for
their whole call, so a reader that must see batch appends reads unpinned
after the mutator returns.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from basic_data_pipeline_spark.sources import tables
from basic_data_pipeline_spark.streaming import swapstore

LEDGER = "_stream_ledger.json"
#: stands for the family's id column, recorded as ``id_col`` in _meta.json
ID = "<id>"


@dataclass(frozen=True)
class Cut:
    """The last completed state: the id watermark, the last completed
    stream epoch, and the id column the ``ID`` placeholder resolves to."""

    wm: object
    epoch: int
    id_col: str | None


Keep = Callable[[DataFrame, Cut], "Column | None"]


def upto(col: str) -> Keep:
    """Rows whose ``col`` (``ID``: the id column) is at or below the
    watermark."""
    return lambda df, c: F.col(c.id_col if col == ID else col) <= F.lit(c.wm)


def wm_upto(df: DataFrame, c: Cut) -> Column:
    """Rows tagged with their writing batch's max id in ``_wm`` (NULL:
    written by the base build)."""
    return F.col("_wm").isNull() | (F.col("_wm") <= F.lit(c.wm))


def epoch_upto(df: DataFrame, c: Cut) -> Column | None:
    """Rows tagged with their writing stream epoch in ``_epoch`` (NULL:
    batch callers). None — keep everything — for a legacy log without
    the tag: its in-flight rows cannot be identified."""
    if "_epoch" not in df.columns:
        return None
    return F.col("_epoch").isNull() | (F.col("_epoch") <= F.lit(c.epoch))


@dataclass(frozen=True)
class Table:
    name: str  # directory under the index path; catalog-name suffix
    bucket: tuple[str, ...] = ()  # empty: a plain parquet side table
    sort: tuple[str, ...] | None = None
    keep: Keep | None = None  # None: never appended, so never cut


def read_ledger(index_path: str) -> dict:
    return swapstore.read_json(os.path.join(index_path, LEDGER), {})


def completed_cut(index_path: str, meta: dict) -> Cut:
    """The last completed state from ONE ledger read: the build-time
    base ``max_id`` raised by every ledger tag's completed-epoch
    ``max_id``, and the max completed epoch (-1 when none). A reader
    pins every table it reads with this one cut, so an epoch completing
    between two table reads cannot tear the snapshot. Raises when the
    index predates watermark recording and no stream epoch completed."""
    states = [
        s for s in read_ledger(index_path).values() if isinstance(s, dict)
    ]
    wm = meta.get("max_id")
    for state in states:
        if state.get("max_id") is not None:
            wm = state["max_id"] if wm is None else max(wm, state["max_id"])
    if wm is None:
        raise ValueError(
            "as_of_completed needs an id watermark: the index predates "
            "watermark recording and no stream epoch has completed"
        )
    epoch = max((s.get("last_epoch", -1) for s in states), default=-1)
    return Cut(wm, epoch, meta.get("id_col"))


def _quoted(cols: list[str]) -> str:
    return ", ".join(f"`{c}`" for c in cols)


@dataclass(frozen=True)
class IndexSpec:
    family: str  # names the rebuild helper: rebuild_<family>_index
    prefix: str  # catalog names: <prefix>_<md5(abspath)[:12]>_<table>
    n_buckets: int  # the build's default bucket count
    build: str  # the build function the missing-meta error points to
    what: str  # how messages name the index
    tables: tuple[Table, ...]

    @property
    def rebuild_name(self) -> str:
        return f"rebuild_{self.family}_index"

    def table(self, name: str) -> Table:
        return next(t for t in self.tables if t.name == name)

    def path(self, index_path: str, name: str) -> str:
        return os.path.join(index_path, name)

    def table_name(self, index_path: str, name: str) -> str:
        """Stable across sessions: md5 of the absolute path, not
        Python's seeded hash()."""
        h = hashlib.md5(os.path.abspath(index_path).encode()).hexdigest()[:12]
        return f"{self.prefix}_{h}_{name}"

    def read_meta(self, spark: SparkSession, index_path: str) -> dict:
        """_meta.json. A legacy meta without ``id_col`` (dedup indexes
        predate recording it) gets it back from the files: the one
        column of the first table outside its bucket key."""
        meta = swapstore.read_json(os.path.join(index_path, "_meta.json"))
        if meta is None:
            raise RuntimeError(
                f"{self.what} at {index_path!r} has no _meta.json — either "
                "the path is not an index, or it predates the bucketed "
                "index format (which stores its bucket spec there). "
                f"Rebuild it with {self.build}(); appending to an "
                "unbucketed layout would silently lose the zero-shuffle "
                "join property."
            )
        if "id_col" not in meta and any(ID in t.bucket for t in self.tables):
            first = self.tables[0]
            path = self.path(index_path, first.name)
            (meta["id_col"],) = set(spark.read.parquet(path).columns) - set(
                first.bucket
            )
        return meta

    @staticmethod
    def write_meta(index_path: str, meta: dict) -> None:
        swapstore.replace_json(os.path.join(index_path, "_meta.json"), meta)

    def layout(self, name: str, meta: dict) -> tuple[list[str], list[str] | None]:
        """(bucket columns, sort columns) of one table, ``ID`` resolved."""
        t = self.table(name)

        def cols(cs):
            return [meta["id_col"] if c == ID else c for c in cs]

        return cols(t.bucket), (cols(t.sort) if t.sort else None)

    def register(
        self, spark: SparkSession, index_path: str, name: str, meta: dict
    ) -> DataFrame:
        """The bucketed table, re-registered from its files if this
        session has never seen it: bucketing lives in the catalog, not
        in the parquet files. The schema comes from the parquet, so ids
        keep their native type; the bucket and sort columns come from
        the spec, so registration matches what the writer laid down."""
        table = self.table_name(index_path, name)
        if not spark.catalog.tableExists(table):
            path = self.path(index_path, name)
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in spark.read.parquet(path).schema.fields
            )
            bucket, sort = self.layout(name, meta)
            sorted_by = f"SORTED BY ({_quoted(sort)}) " if sort else ""
            spark.sql(
                f"CREATE TABLE {table} ({cols}) USING PARQUET "
                f"CLUSTERED BY ({_quoted(bucket)}) {sorted_by}"
                f"INTO {meta['n_buckets']} BUCKETS LOCATION '{path}'"
            )
        return spark.table(table)

    def write(
        self,
        df: DataFrame,
        index_path: str,
        name: str,
        meta: dict,
        mode: str = "append",
    ) -> None:
        """Bucketed write of one table. An append in a session that has
        not seen the table registers it first (metadata only), so a
        fresh session appends against the recorded bucket spec instead
        of re-deriving it."""
        table = self.table_name(index_path, name)
        spark = df.sparkSession
        if mode == "append" and not spark.catalog.tableExists(table):
            self.register(spark, index_path, name, meta)
        bucket, sort = self.layout(name, meta)
        tables.write_bucketed(
            df,
            table,
            bucket,
            meta["n_buckets"],
            sort_cols=sort,
            mode=mode,
            path=self.path(index_path, name),
        )

    def pinned(
        self, spark: SparkSession, index_path: str, as_of_completed: bool
    ) -> tuple[dict, Cut | None]:
        """(meta, cut) for one reader call: ``as_of_completed`` pins
        every table the reader reads to one ``completed_cut``."""
        meta = self.read_meta(spark, index_path)
        if not as_of_completed:
            return meta, None
        return meta, completed_cut(index_path, meta)

    def read(
        self,
        spark: SparkSession,
        index_path: str,
        name: str,
        meta: dict,
        cut: Cut | None = None,
    ) -> DataFrame:
        """One table for readers: the registered bucketed table (layout
        preserved) or the side table's files, filtered by the table's
        keep predicate when a ``cut`` pins the read."""
        if self.table(name).bucket:
            df = self.register(spark, index_path, name, meta)
        else:
            df = spark.read.option("mergeSchema", "true").parquet(
                self.path(index_path, name)
            )
        return df if cut is None else self.keep_rows(df, name, cut)

    def keep_rows(self, df: DataFrame, name: str, cut: Cut) -> DataFrame:
        pred = self.table(name).keep(df, cut)
        return df if pred is None else df.filter(pred)

    def compact(
        self,
        spark: SparkSession,
        index_path: str,
        names: tuple[str, ...] | None = None,
        folds: dict | None = None,
    ) -> dict:
        """Fold bucketed tables (default: all) back to one file per
        bucket — every epoch append lays down n_buckets more files.
        Runs under the writer lease and refuses while a crashed epoch's
        intent marker is pending (folding its partial rows in would put
        them beyond the rebuild's reach). ``folds`` maps a table to a
        frame transform applied before the rewrite; a folded table's
        report adds rows_before/rows_after. Returns {table: {rows,
        files_before, files_after}}."""
        from basic_data_pipeline_spark.operators import maintenance

        folds = folds or {}
        with swapstore.writer_lease(
            index_path, owner=f"batch:{self.family}.compact"
        ):
            maintenance.assert_clean_stream_ledger(index_path)
            meta = self.read_meta(spark, index_path)
            out = {}
            for t in self.tables:
                if not t.bucket or (names is not None and t.name not in names):
                    continue
                path = self.path(index_path, t.name)
                fold = folds.get(t.name)
                before = spark.read.parquet(path).count() if fold else None
                bucket, sort = self.layout(t.name, meta)
                rep = maintenance.compact_bucketed(
                    spark, path, self.table_name(index_path, t.name),
                    bucket, meta["n_buckets"], sort_cols=sort, fold=fold,
                )
                if fold:
                    rep.update(rows_before=before, rows_after=rep["rows"])
                out[t.name] = rep
            return out


DEDUP = IndexSpec(
    "dedup", "dedup_idx", 16, "build_index", "dedup index",
    (
        Table("bands", ("band", "bandkey"), ("band", "bandkey"), upto(ID)),
        Table("shingles", (ID,), (ID,), upto(ID)),
    ),
)
SUBSTRING = IndexSpec(
    "substring", "substr_idx", 16, "build_substring_index", "gram index",
    (Table("grams", ("gram",), ("gram",), upto("doc")),),
)
ENTITY = IndexSpec(
    "entity", "ent_idx", 8, "build_entity_index", "entity index",
    (
        Table("grams", ("gram",), None, upto("id")),
        Table("strings", ("id",), None, upto("id")),
        Table("freq"),
        Table("aliases", keep=epoch_upto),
    ),
)
RETRIEVAL = IndexSpec(
    "retrieval", "retr_idx", 16, "build_retrieval_index", "retrieval index",
    (
        Table("postings", ("term",), ("term",), upto("neighbor_id")),
        Table("dfreq", ("term",), ("term",), wm_upto),
        Table("stats", keep=wm_upto),
    ),
)
IMAGE = IndexSpec(
    "image", "img_idx", 16, "build_image_index", "image band index",
    (Table("bands", ("bi", "bv"), ("bi", "bv"), upto(ID)),),
)
AUDIO = IndexSpec(
    "audio", "aud_idx", 16, "build_audio_index", "audio fingerprint index",
    (Table("fps", ("fhash",), ("fhash",), upto(ID)),),
)
GRAPH = IndexSpec(
    "graph", "graph_idx", 16, "build_graph_index", "link-graph index",
    (
        Table("edges", ("src",), ("src",), upto("src")),
        Table("labels", ("node",), ("node",), wm_upto),
        Table("merges", keep=wm_upto),
    ),
)
