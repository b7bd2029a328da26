"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes its inputs under a
directory the caller owns; the same seed gives byte-identical files. The
fixture tables the analytics slots and the dedup index read are never
written: they are read-only inputs, and only the op order and the streams
are generated.

* ``CdcStream``: a Debezium change stream built from the package's own
  ``Envelope`` (snapshot, then ``c``/``u`` epochs with periodic ``d`` purge
  epochs, one schema-drift point and a fixed share of poison values), plus
  the replay that the ingested table must equal.
* ``DedupStream``: fixed-size epochs that mix fresh documents with
  one-word-perturbed copies of the fixture documents the index is built on.
* ``permutation``: the seeded op order of one pass over a list of names.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import numpy as np

from basic_data_pipeline_spark.sources.envelopes import (
    NAMES,
    POSITIONS,
    Envelope,
    expected_final_state,
)

#: the fixture documents' vocabulary (they add only the marker word "dup")
VOCAB = (
    "a the data spark query table row column scan filter join agg group "
    "sort hash merge window stream batch key value part line order customer "
    "vector big small fast slow"
).split()


def permutation(names: list[str], seed: int, pass_no: int) -> list[str]:
    """One pass over ``names`` in a seeded order (distinct per pass)."""
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def _write_lines(root: str, i: int, lines: list[str]) -> str:
    d = os.path.join(root, f"epoch={i:04d}")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-0.json"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return d


# ---------------------------------------------------------------- CDC stream

TOPIC = "dbserver1.testdb.employees"
KAFKA_SCHEMA = "topic string, value string, partition int, offset long"


class CdcStream:
    """A generated change stream: ``epochs[i]`` is the list of envelopes of
    epoch i (epoch 0 is the ``r`` snapshot); ``kinds[i]`` is ``snapshot``,
    ``upsert`` or ``purge`` (epochs 1, 1 + purge_every, ... carry deletes);
    ``poison[i]`` holds the offsets of epoch i's poison envelopes, whose
    ``updated_on`` no cast accepts, so they must land in the DLQ and leave
    the table as it was."""

    def __init__(
        self,
        seed: int,
        n_snapshot: int,
        n_epochs: int,
        events_per_epoch: int,
        purge_every: int,
        drift_epoch: int,
        poison_frac: float,
        n_partitions: int = 4,
    ) -> None:
        rng = random.Random(seed)
        self.epochs: list[list[Envelope]] = []
        self.kinds: list[str] = []
        self.poison: list[set[tuple[int, int]]] = []
        # live rows, and their keys in a list for O(1) random picks
        live: dict[int, dict] = {}
        keys: list[int] = []
        slot: dict[int, int] = {}
        offsets = [0] * n_partitions
        ts = 1_722_900_000_000
        next_id = 1

        def put(r: dict) -> None:
            if r["id"] not in live:
                slot[r["id"]] = len(keys)
                keys.append(r["id"])
            live[r["id"]] = r

        def drop(key: int) -> dict:
            i = slot.pop(key)
            last = keys.pop()
            if last != key:
                keys[i] = last
                slot[last] = i
            return live.pop(key)

        def row(i: int, drifted: bool) -> dict:
            r = {"id": i, "name": f"{rng.choice(NAMES)}{rng.randint(100, 999)}"}
            if drifted:
                r["role"] = rng.choice(POSITIONS)
            else:
                r["position"] = rng.choice(POSITIONS)
                r["salary"] = float(rng.randint(50_000, 200_000))
            r["updated_on"] = ts
            return r

        def emit(out: list[Envelope], op: str, before, after) -> Envelope:
            nonlocal ts
            part = rng.randrange(n_partitions)
            env = Envelope(TOPIC, op, before, after, ts, part, offsets[part])
            out.append(env)
            offsets[part] += 1
            ts += 1000
            return env

        for e in range(n_epochs):
            out: list[Envelope] = []
            poison: set[tuple[int, int]] = set()
            if e == 0:
                kind = "snapshot"
                for _ in range(n_snapshot):
                    r = row(next_id, False)
                    put(r)
                    next_id += 1
                    emit(out, "r", None, r)
            else:
                kind = "purge" if e % purge_every == 1 % purge_every else "upsert"
                drifted = e >= drift_epoch
                for _ in range(events_per_epoch):
                    x = rng.random()
                    if kind == "purge" and x < 0.2 and keys:
                        emit(out, "d", drop(keys[rng.randrange(len(keys))]), None)
                        continue
                    is_poison = rng.random() < poison_frac
                    if x < 0.6 or not keys:
                        r = row(next_id, drifted)
                        next_id += 1
                        before = None
                    else:
                        before = live[keys[rng.randrange(len(keys))]]
                        r = dict(before, name=f"{rng.choice(NAMES)}{rng.randint(100, 999)}",
                                 updated_on=ts)
                        if "salary" in r:
                            r["salary"] = float(rng.randint(50_000, 200_000))
                    if is_poison:
                        r = dict(r, updated_on="not-a-time")
                    else:
                        put(r)
                    env = emit(out, "c" if before is None else "u", before, r)
                    if is_poison:
                        poison.add((env.partition, env.offset))
            self.epochs.append(out)
            self.kinds.append(kind)
            self.poison.append(poison)

    def state_after(self, k: int) -> dict[int, dict]:
        """The table after epochs 0..k-1: the package's replay oracle over
        every envelope but the poison ones."""
        return expected_final_state([
            env for envs, poison in zip(self.epochs[:k], self.poison)
            for env in envs if (env.partition, env.offset) not in poison
        ])

    def poison_upto(self, k: int) -> int:
        return sum(len(p) for p in self.poison[:k])

    def upserts_upto(self, k: int) -> int:
        """c/u/r envelopes in epochs 0..k-1 (the DLQ share's denominator)."""
        return sum(env.op != "d" for envs in self.epochs[:k] for env in envs)

    def write(self, root: str) -> list[str]:
        """One directory of Kafka-shaped JSON lines per epoch; returns the
        paths."""
        cols = ("topic", "value", "partition", "offset")
        return [
            _write_lines(root, i, [
                json.dumps(dict(zip(cols, env.to_kafka_row()))) for env in envs
            ])
            for i, envs in enumerate(self.epochs)
        ]


# --------------------------------------------------------------- dedup stream

DOC_SCHEMA = "doc_id long, text string"
#: copies are made only of documents this long: one changed 3-word shingle
#: then leaves Jaccard >= 0.95, which banded MinHash surfaces with near
#: certainty
MIN_COPY_WORDS = 40


class DedupStream:
    """``n_epochs`` batches of ``batch_docs`` new documents with ids above
    the indexed ``base`` [(doc_id, text)]. A ``copy_frac`` share of each
    batch copies a base document with its last word replaced; the rest are
    fresh random documents. ``copies[i]`` / ``fresh[i]`` hold the ids."""

    def __init__(
        self, seed: int, base: list[tuple[int, str]], n_epochs: int,
        batch_docs: int, copy_frac: float,
    ) -> None:
        rng = np.random.default_rng(seed)
        sources = [t.split() for _, t in sorted(base)
                   if len(t.split()) >= MIN_COPY_WORDS and not t.endswith(" dup")]

        def doc() -> str:
            return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(100, 161))))

        self.batches: list[list[tuple[int, str]]] = []
        self.copies: list[set[int]] = []
        self.fresh: list[set[int]] = []
        next_id = max(i for i, _ in base) + 1
        n_copy = int(round(batch_docs * copy_frac))
        for _ in range(n_epochs):
            is_copy = [True] * n_copy + [False] * (batch_docs - n_copy)
            rng.shuffle(is_copy)
            batch, copies, fresh = [], set(), set()
            for c in is_copy:
                if c:
                    words = list(sources[int(rng.integers(0, len(sources)))])
                    words[-1] = VOCAB[(VOCAB.index(words[-1]) + 1) % len(VOCAB)]
                    batch.append((next_id, " ".join(words)))
                    copies.add(next_id)
                else:
                    batch.append((next_id, doc()))
                    fresh.add(next_id)
                next_id += 1
            self.batches.append(batch)
            self.copies.append(copies)
            self.fresh.append(fresh)

    def write(self, root: str) -> list[str]:
        """One JSON-lines directory per epoch; returns the paths."""
        return [
            _write_lines(root, i, [json.dumps({"doc_id": d, "text": t}) for d, t in rows])
            for i, rows in enumerate(self.batches)
        ]


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
