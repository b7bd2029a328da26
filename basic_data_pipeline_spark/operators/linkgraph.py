"""Web link graph: href extraction, integer fixed-point PageRank, and
anchor-text aggregation — the graph back end of the crawl front door
(sources/warc.py reads pages, operators/htmlx.py extracts CONTENT; this
module extracts and scores the LINKS), and the canonical iterative-join
workload for a DataFrame engine. Link-level authority is a standard
training-data curation signal (URL/domain-level quality weighting in
CommonCrawl-derived corpora), which is why it belongs in this engine's
LLM-pipeline surface; the reference itself has no graph operators
(it is a Kafka→ClickHouse CDC pipeline, consumer_to_file.py).

Why integer fixed-point PageRank: float addition is not associative, so
a shuffle's reduce order changes low bits between runs and engines —
unacceptable for an operator whose output is hash-compared against a
serial reference and a DuckDB oracle. Ranks here are BIGINT micro-units
(``scale`` units = total mass 1.0) and every step is integer
multiply/divide: associative, bit-identical across Spark, DuckDB, and
the serial replay in tests, and overflow-safe (mass ≤ scale = 1e12;
the largest intermediate, damping_num·mass, is ≤ 8.5e13 « 2^63).
Truncating division leaks a little mass per hop (< 1 unit per divide),
which a relative SCORE — not a probability — can afford.

Design for scale (the iterative-join geometry, sized for O(10^11)-edge
crawl graphs):

* **Edges are the big side** and are repartitioned by ``src`` and
  persisted ONCE before the loop; every iteration's ranks⋈edges join
  reuses that cached layout, so the per-iteration shuffle cost is the
  node-sized ranks frame plus the contribution groupBy on ``dst`` —
  never a re-shuffle of the edge set.
* **Ranks are node-sized.** Each iteration ends in a lineage cut
  (``caching.held``'s ``step``): the plan stays O(1) deep instead of
  growing one join tree per iteration (the round-5 duplicate_clusters
  lesson), and the previous iteration's checkpoint blocks are freed
  immediately, so k iterations hold 1 ranks copy, not k. Every
  operator here holds its edge layouts and per-round frames in one
  ``caching.held()`` scope, so any exit frees them; the result has
  session lifetime (freed by the next ``release_persisted``).
* **The dangling-mass term stays in-plan**: a one-row aggregate
  crossJoin-broadcast back onto the nodes frame — no driver collect
  inside the loop. The only driver action is one ``nodes.count()``
  before the loop (the fixed-point base ``scale // n`` is a plan
  constant).
* **No Python in the hot path**: link extraction is one Arrow-batched
  projection (stdlib html.parser, zero shuffle — the decode-stage cost
  class, same as htmlx.html_extract); the iteration itself is all JVM
  integer arithmetic inside whole-stage codegen.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.storagelevel import StorageLevel

from .. import caching

__all__ = [
    "extract_links",
    "out_degrees",
    "pagerank",
    "hits",
    "connected_components",
    "strongly_connected_components",
    "label_propagation",
    "anchor_text_summary",
]

PAGERANK_SCALE = 1_000_000_000_000  # BIGINT micro-units per 1.0 of mass

_LINK_FIELDS = [
    T.StructField("src", T.StringType()),
    T.StructField("dst", T.StringType()),
    T.StructField("anchor", T.StringType()),
]

# href schemes that are navigation noise, never crawlable documents
_SKIP_PREFIXES = ("javascript:", "mailto:", "tel:", "data:", "#")


class _LinkParser(HTMLParser):
    """Collect (href, anchor-text) pairs from ``<a>`` elements.

    Tolerant of real-web HTML: an ``<a>`` opened inside an unclosed
    ``<a>`` flushes the previous one (nesting is invalid HTML and
    browsers auto-close), missing ``href`` is skipped, anchor text is
    whitespace-normalized, entities are decoded by the stdlib parser
    (convert_charrefs=True default)."""

    def __init__(self) -> None:
        super().__init__()
        self.links: list[tuple[str, str]] = []
        self._href: str | None = None
        self._buf: list[str] = []

    def _flush(self) -> None:
        if self._href is not None:
            self.links.append(
                (self._href, " ".join("".join(self._buf).split()))
            )
        self._href = None
        self._buf = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            self._flush()
            self._href = next(
                (v for k, v in attrs if k == "href" and v), None
            )

    def handle_endtag(self, tag):
        if tag == "a":
            self._flush()

    def handle_data(self, data):
        if self._href is not None:
            self._buf.append(data)

    def close(self):  # unclosed trailing <a>
        super().close()
        self._flush()


def links_from_html(page_url: str, html: str) -> list[tuple[str, str, str]]:
    """Serial single-page extraction: (src, dst, anchor) rows with
    ``dst`` resolved absolute against ``page_url`` (stdlib urljoin
    semantics — relative paths, ../ traversal, protocol-relative //).
    Non-document schemes (_SKIP_PREFIXES) and unresolvable hrefs are
    dropped; only http(s) destinations are kept. Shared by the Spark
    projection and the tests' serial reference."""
    p = _LinkParser()
    try:
        p.feed(html or "")
        p.close()
    except Exception:
        pass  # keep whatever parsed before the malformed tail
    out = []
    for href, anchor in p.links:
        h = href.strip()
        if not h or h.lower().startswith(_SKIP_PREFIXES):
            continue
        try:
            absu = urljoin(page_url or "", h)
        except ValueError:
            continue
        if absu.startswith(("http://", "https://")):
            out.append((page_url, absu, anchor))
    return out


def extract_links(
    pages: DataFrame,
    url_col: str = "target_uri",
    html_col: str = "body",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(passthrough..., src, dst, anchor) — one edge row per ``<a
    href>`` in each page's HTML, dst absolute. One Arrow-batched Python
    projection, no shuffle: each input split yields its own edges, so
    the stage parallelizes with the scan exactly like
    htmlx.html_extract. Feed the result to pagerank / urls.url_dedup /
    anchor_text_summary."""
    schema = T.StructType(
        [pages.schema[c] for c in passthrough] + _LINK_FIELDS
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in schema.fields]
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                pre = tuple(pdf[c].iloc[i] for c in passthrough)
                for edge in links_from_html(
                    pdf[url_col].iloc[i], pdf[html_col].iloc[i]
                ):
                    rows.append(pre + edge)
            yield pd.DataFrame(rows, columns=cols)

    return pages.mapInPandas(run, schema)


def out_degrees(edges: DataFrame, src: str = "src") -> DataFrame:
    """(src, out_deg) — one map-side-partial groupBy."""
    return edges.groupBy(src).agg(F.count("*").alias("out_deg"))


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: tuple[int, int] = (85, 100),
    scale: int = PAGERANK_SCALE,
    teleport_weights: DataFrame | None = None,
    weight_col: str = "weight",
) -> DataFrame:
    """(node, rank, out_deg): ``iterations`` rounds of integer
    fixed-point PageRank. ``rank`` is in ``scale`` micro-units of mass
    (uniform start = scale // n each).

    Per round, with d = damping[0]/damping[1], n = node count, and all
    divisions BIGINT-truncating::

        base      = scale // n
        teleport  = ((den - num) * base) // den
        contrib_v = Σ_{u→v} (rank_u // out_deg_u)
        dangling  = Σ_{out_deg_u = 0} rank_u
        rank'_v   = teleport + (num * (contrib_v + dangling // n)) // den

    **Personalized (TrustRank-style) teleport**: pass
    ``teleport_weights`` — (node, weight) with non-negative INTEGER
    weights (seed flags, per-host page counts, quality scores × 1000…;
    unlisted nodes weigh 0) — and the teleport/dangling mass lands
    ∝ weight instead of uniformly: base_v = (scale·w_v) // W and the
    dangling share is (dm·w_v) // W, which reduces EXACTLY to the
    uniform recurrence when every w_v = 1. Mass then circulates only
    through pages reachable from the seed set — the standard
    spam-demotion / trusted-seed curation signal. Keep weights modest
    (W·max(w) products must stay far under 2^63 / scale; page counts
    and 0/1 flags are safely in range).

    Edges are taken as given (a multigraph: parallel edges weight the
    link, self-loops feed the node itself) — dedupe upstream if that is
    not the semantics you want. ``nodes`` defaults to src ∪ dst of the
    edge set; pass the full page inventory to rank never-linked pages
    too (they still receive teleport + dangling mass).

    Determinism: every step is integer arithmetic — results are
    bit-identical across partitionings, engines (the DuckDB oracle
    replays the same recurrence as chained CTEs with ``//``), and the
    serial reference in tests/test_linkgraph.py.
    """
    num, den = damping
    if not (0 < num < den):
        raise ValueError(f"damping must satisfy 0 < num < den: {damping}")
    with caching.held() as h:
        e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
        # the big side: partition by join key once, reuse every iteration
        e = h.persist(e.repartition("_src"), StorageLevel.MEMORY_AND_DISK)
        deg = e.groupBy("_src").agg(F.count("*").alias("out_deg"))
        if nodes is None:
            base_nodes = (
                e.select(F.col("_src").alias("node"))
                .union(e.select(F.col("_dst").alias("node")))
                .distinct()
            )
        else:
            base_nodes = nodes.select(F.col(node_col).alias("node")).distinct()
        with_deg = base_nodes.join(
            deg, base_nodes.node == deg._src, "left"
        ).select("node", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
        if teleport_weights is not None:
            w = teleport_weights.select(
                F.col(node_col).alias("_wnode"),
                F.col(weight_col).cast("long").alias("_w"),
            )
            with_deg = with_deg.join(
                w, with_deg.node == w._wnode, "left"
            ).select(
                "node", "out_deg", F.coalesce("_w", F.lit(0)).alias("_w")
            )
        else:
            with_deg = with_deg.withColumn("_w", F.lit(1).cast("long"))
        node_frame = h.cut(with_deg.repartition("node"))
        # BOTH driver scalars (node count + total teleport weight) in one
        # action over the just-checkpointed frame (r11: each extra action
        # costs the ~0.25 s job floor at control-frame sizes)
        scal = node_frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("_w"), F.lit(0)).cast("long").alias("s"),
        ).collect()[0]
        n = scal["n"]
        if n == 0:
            # built before the scope frees the checkpoint it borrows its
            # node type from
            return node_frame.sparkSession.createDataFrame(
                [],
                T.StructType(
                    [
                        node_frame.schema["node"],
                        T.StructField("rank", T.LongType()),
                        T.StructField("out_deg", T.LongType()),
                    ]
                ),
            )
        # total teleport weight (n in the uniform case); per-node
        # teleport/base are cheap expressions re-derived from the
        # checkpointed _w each round, never re-shuffled
        wsum = scal["s"]
        if wsum <= 0:
            raise ValueError(
                "teleport weights sum to 0 — no node can receive mass"
            )
        base_col = F.expr(f"({scale} * _w) div {wsum}")
        tp_col = F.expr(
            f"({den - num} * (({scale} * _w) div {wsum})) div {den}"
        )
        # round-0 ranks are a trivial projection of the checkpointed node
        # frame — no checkpoint of their own (r11): round 1 recomputes the
        # projection from cache at both consumption sites for less than one
        # job floor costs (stepping off a view the scope does not hold
        # frees nothing)
        ranks = node_frame.select(
            "node", base_col.cast("long").alias("rank"), "out_deg"
        )
        for _ in range(iterations):
            dangling = ranks.filter(F.col("out_deg") == 0).agg(
                F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("_dm")
            )
            contrib = (
                e.join(
                    ranks.select(
                        F.col("node").alias("_src"), "rank", "out_deg"
                    ),
                    "_src",
                )
                .select("_dst", F.expr("rank div out_deg").alias("_c"))
                .groupBy("_dst")
                .agg(F.sum("_c").alias("_contrib"))
            )
            ranks = h.step(
                ranks,
                node_frame.join(
                    contrib, node_frame.node == contrib._dst, "left"
                )
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        tp_col
                        + F.expr(
                            f"({num} * (coalesce(_contrib, 0L)"
                            f" + (_dm * _w) div {wsum})) div {den}"
                        )
                    ).cast("long").alias("rank"),
                    "out_deg",
                ),
            )
        if iterations == 0:
            # round-0 ranks are a view over node_frame, which the scope
            # frees
            ranks = h.cut(ranks)
        return h.keep(ranks)


def pagerank_reference(
    edge_list: list[tuple],
    node_list: list | None = None,
    iterations: int = 5,
    damping: tuple[int, int] = (85, 100),
    scale: int = PAGERANK_SCALE,
    weights: dict | None = None,
) -> dict:
    """Serial replay of pagerank()'s exact integer recurrence (plain
    dicts, no Spark) — the tests' ground truth. ``weights`` mirrors
    teleport_weights (unlisted nodes weigh 0; None = uniform). Returns
    {node: (rank, out_deg)}."""
    num, den = damping
    deg: dict = {}
    for s, d in edge_list:
        deg[s] = deg.get(s, 0) + 1
    if node_list is None:
        node_list = sorted({s for s, _ in edge_list} | {d for _, d in edge_list})
    nodes = {v: deg.get(v, 0) for v in set(node_list)}
    n = len(nodes)
    if n == 0:
        return {}
    w = {v: (weights.get(v, 0) if weights is not None else 1) for v in nodes}
    wsum = sum(w.values())
    if wsum <= 0:
        raise ValueError(
            "teleport weights sum to 0 — no node can receive mass"
        )
    tp = {v: ((den - num) * ((scale * w[v]) // wsum)) // den for v in nodes}
    rank = {v: (scale * w[v]) // wsum for v in nodes}
    for _ in range(iterations):
        dm = sum(r for v, r in rank.items() if nodes[v] == 0)
        contrib: dict = {v: 0 for v in nodes}
        for s, d in edge_list:
            contrib[d] += rank[s] // nodes[s]
        rank = {
            v: tp[v] + (num * (contrib[v] + (dm * w[v]) // wsum)) // den
            for v in nodes
        }
    return {v: (rank[v], nodes[v]) for v in nodes}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
) -> DataFrame:
    """(node, component) — WEAKLY connected components of the link
    graph: direction dropped, every node labeled by its component's
    minimum node id. Site/cluster detection over host graphs (mirror
    farms, link rings) and the graph-side twin of dedup's duplicate
    clustering — and in fact the same engine: this is a thin adapter
    over dedup.duplicate_clusters' pointer-jumped min-label propagation
    (O(log diameter) rounds, per-round checkpointing; see its docstring
    for the scale shape). Nodes here are whatever the edge endpoints
    are (host strings, ids) — min is taken in that type's ordering."""
    from .dedup import duplicate_clusters

    pairs = edges.select(
        F.col(src).alias("id_a"), F.col(dst).alias("id_b")
    )
    out = duplicate_clusters(pairs, max_iters=max_iters)
    return out.select(
        F.col("doc_id").alias("node"), F.col("cluster").alias("component")
    )


HITS_KEEP_BITS = 40  # post-shift magnitude ceiling ≈ 1.1e12


def hits(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    keep_bits: int = HITS_KEEP_BITS,
) -> DataFrame:
    """(node, hub, auth): Kleinberg's HITS by integer power iteration —
    hubs point at good authorities, authorities are pointed at by good
    hubs. Scores are relative (that is all HITS scores ever are), and
    every step is BIGINT arithmetic, so results are bit-identical
    across engines and partitionings like pagerank()'s.

    The integer renormalization: classic HITS rescales by an L2 norm
    (floats). Here each half-step computes raw sums and then shifts
    every value right by ``s = max(0, bit_length(max_raw) - keep_bits)``
    — a power-of-two division both engines express exactly (length of
    ``bin(max)``), keeping magnitudes ≤ 2^keep_bits so the next
    half-step's sums stay far from 2^63 for in/out-degrees into the
    millions. Direction (the only meaningful part of a power iteration)
    is preserved; ties and zeros are exact.

    Same iterative-join geometry as pagerank: the edge set persists
    twice — once partitioned by ``src`` (the hub→authority half-step
    joins on src) and once by ``dst`` (the authority→hub half-step) —
    and each half-step shuffles only the node-sized score frame; ONE
    (node, hub, auth) state frame checkpoints per FULL iteration — both
    half-steps chain inside one plan, so a round is one driver action
    instead of two (r11: at control-frame sizes the ~0.25 s job floor
    dominated; same integer recurrence, bit-identical scores); the
    renormalizers are in-plan one-row max broadcasts."""
    with caching.held() as h:
        e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
        e_src = h.persist(e.repartition("_src"), StorageLevel.MEMORY_AND_DISK)
        e_dst = h.persist(e.repartition("_dst"), StorageLevel.MEMORY_AND_DISK)
        if nodes is None:
            base_nodes = (
                e.select(F.col("_src").alias("node"))
                .union(e.select(F.col("_dst").alias("node")))
                .distinct()
            )
        else:
            base_nodes = nodes.select(F.col(node_col).alias("node")).distinct()
        init = F.lit(1 << keep_bits).cast("long")
        state = h.cut(
            base_nodes.repartition("node").select(
                "node", init.alias("hub"), F.lit(0).cast("long").alias("auth")
            )
        )

        def _half(scores, score_col, e_side, key_in, key_out, out_col):
            """scores + ``out_col`` recomputed from ``score_col`` through
            ``e_side`` — a lazy plan fragment; the caller checkpoints."""
            raw = (
                e_side.join(
                    scores.select(F.col("node").alias(key_in), score_col),
                    key_in,
                )
                .groupBy(key_out)
                .agg(F.sum(score_col).alias("_raw"))
            )
            mx = raw.agg(
                F.coalesce(F.max("_raw"), F.lit(0)).cast("long").alias("_mx")
            )
            return (
                scores.drop(out_col)
                .join(raw, scores["node"] == raw[key_out], "left")
                .crossJoin(F.broadcast(mx))
                .select(
                    scores["node"].alias("node"),
                    *[c for c in scores.columns if c not in ("node", out_col)],
                    F.expr(
                        f"coalesce(_raw, 0L) div shiftleft(1L, "
                        f"greatest(length(bin(_mx)) - {keep_bits}, 0))"
                    ).alias(out_col),
                )
            )

        for _ in range(iterations):
            # SCALE TRADEOFF (r11 ADVICE): the first half-step chains into
            # the second as an UNMATERIALIZED subplan referenced three ways
            # (scores input, raw, and the mx renormalizer), so one
            # iteration's job can recompute the hub→auth join+aggregate up
            # to 3×. Measured FASTER at control-graph sizes (the saved
            # ~0.25 s checkpoint job floor beats the duplicated tiny
            # aggregate), but on a 100 TB edge set the duplicated compute
            # dominates — reintroduce a lineage cut on
            # `with_auth` (one extra job per iteration) when edge volume,
            # not scheduling, is the wall.
            with_auth = _half(state, "hub", e_src, "_src", "_dst", "auth")
            state = h.step(
                state,
                _half(with_auth, "auth", e_dst, "_dst", "_src", "hub").select(
                    "node", "hub", "auth"
                ),
            )
        return h.keep(state)


def hits_reference(
    edge_list: list[tuple],
    node_list: list | None = None,
    iterations: int = 5,
    keep_bits: int = HITS_KEEP_BITS,
) -> dict:
    """Serial replay of hits()'s exact integer recurrence. Returns
    {node: (hub, auth)}."""
    if node_list is None:
        node_list = sorted(
            {s for s, _ in edge_list} | {d for _, d in edge_list}
        )
    nodes = set(node_list)
    hub = {v: 1 << keep_bits for v in nodes}
    auth = {v: 0 for v in nodes}

    def _half(scores, forward):
        raw = {v: 0 for v in nodes}
        for s, d in edge_list:
            if forward:
                raw[d] += scores[s]
            else:
                raw[s] += scores[d]
        mx = max(raw.values(), default=0)
        sh = max(0, mx.bit_length() - keep_bits)
        return {v: raw[v] >> sh for v in nodes}

    for _ in range(iterations):
        auth = _half(hub, True)
        hub = _half(auth, False)
    return {v: (hub[v], auth[v]) for v in nodes}


def anchor_text_summary(
    links: DataFrame,
    src: str = "src",
    dst: str = "dst",
    anchor: str = "anchor",
) -> DataFrame:
    """(dst, n_links, n_src, top_anchor) — how the web DESCRIBES each
    page: in-link count, distinct linking pages, and the most frequent
    non-empty anchor text (ties broken lexicographically, so the pick
    is deterministic). Anchor-text aggregates are a classic retrieval /
    page-title signal; at crawl scale this is two keyed aggregations
    (the (dst, anchor) partial and the per-dst window over counts,
    which reuses the first aggregation's dst-hashed layout)."""
    from pyspark.sql import Window

    per_anchor = links.groupBy(dst, anchor).agg(
        F.count("*").alias("_cnt")
    )
    w = Window.partitionBy(dst).orderBy(
        F.col("_cnt").desc(),
        F.col(anchor).asc_nulls_last(),
    )
    named = per_anchor.filter(
        F.col(anchor).isNotNull() & (F.col(anchor) != "")
    )
    totals = links.groupBy(dst).agg(
        F.count("*").alias("n_links"),
        F.countDistinct(src).alias("n_src"),
    )
    top = (
        named.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(dst, F.col(anchor).alias("top_anchor"))
    )
    return totals.join(top, dst, "left")


class SCCNotConverged(RuntimeError):
    """strongly_connected_components ran out of rounds before the graph
    was fully decomposed — the input's condensation is deeper than
    ``max_rounds`` (e.g. a very long chain of SCCs). Raise, never
    return a partial labeling."""


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 40,
    max_prop_iters: int = 60,
) -> DataFrame:
    """(node, scc_id) — STRONGLY connected components of the directed
    link graph, every node labeled by its component's minimum node id.
    The directed twin of connected_components: mirror rings and
    reciprocal-link farms form non-trivial SCCs, while honest
    hierarchical sites condense to a DAG of singletons — a standard
    spam/mirror curation signal next to pagerank/hits.

    Algorithm: iterative Forward-Backward with trimming (the classic
    distributed SCC decomposition — Fleischer/Hendrickson/Pinar's
    divide-and-conquer restated as label propagation, the same scheme
    GraphX ships):

    1. **Trim to fixpoint**: nodes with no in-edge or no out-edge in
       the live subgraph are singleton SCCs — peel them (a DAG-shaped
       region evaporates here entirely, one cheap round per peel
       layer).
    2. **Forward coloring**: propagate ``color(v) = min(v, min color
       of predecessors)`` to fixpoint — color(v) is the smallest node
       that reaches v.
    3. **Backward sweep within color**: from each root r (color(r) =
       r), walk edges BACKWARD but only through nodes of the same
       color; everything reached both reaches r (same color) and is
       reached by r (backward walk) — exactly SCC(r). Peel all roots'
       SCCs at once, repeat.

    Determinism: labels are mins over node ids — integer/string order,
    no floats, no RNG; the output is bit-identical across partitionings
    and engines (the DuckDB oracle derives the same labeling from an
    independent WITH RECURSIVE transitive-closure formulation —
    text_lang_token[scc] — so the two formulations cross-check).

    Scale shape: the edge set is deduplicated once and persisted TWICE
    (hashed by src for the forward join, by dst for the backward join)
    — the pagerank layout-reuse pattern, so per-iteration shuffles move
    only node-sized color/mark frames; every fixpoint iteration ends in
    a lineage cut with the superseded round's blocks freed
    (plans stay O(1) deep; color/mark storage stays 1×). Driver actions
    are ONE per fixpoint step (r11): each round's change/termination
    signal is a flag column computed inside the frame the round already
    checkpoints, tested with a cached filter — not a separate
    join-shaped action (at control-frame sizes the ~0.25 s job floor,
    not data, dominated the wall; measured 32 s → see
    OPTIMIZATION_r11.md). The edge layouts are partitioned
    scale-adaptively (~2M edge rows per task, floor 1) instead of at
    the session shuffle width (r12): every fixpoint round scans them,
    and a 65-task stage over a control-sized graph is pure scheduling
    latency. Labels are folded into one running checkpointed union per
    outer round so every superseded per-round checkpoint (trim's
    flagged frames, the final color/mark frames, the previous union)
    is freed as the round ends — peak cached storage stays ~1× instead
    of growing with the round/peel count (r11 ADVICE). Rounds needed = depth of
    the condensation DAG between non-trivial SCCs; web graphs are
    shallow, but a pathological chain exhausts ``max_rounds`` and
    raises SCCNotConverged rather than returning a wrong labeling.
    """
    e0 = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    ).distinct()
    # Scale-adaptive layout width (r12): EVERY fixpoint round scans both
    # cached layouts, so their partition count multiplies into every
    # round's stage latency. repartition("_s") at the session shuffle
    # width gave a 65-task stage per hop for a 26k-edge control graph —
    # ~2M edge rows (~100 MB) per task, floored at 1, keeps tiny graphs
    # on one task and grows linearly with the data. Costs one setup
    # count() job; pays for itself within a few of the dozens of rounds.
    n_edges = e0.count()
    _parts = max(1, n_edges // 2_000_000 + 1)
    # Two scopes: `h` holds the edge layouts, the live node set and the
    # running label union; each outer round's own cuts (trim flags,
    # color and mark frontiers) live in that round's scope `r`. Every
    # exit — result, edgeless input, SCCNotConverged — frees both.
    with caching.held() as h:
        e_src = h.persist(
            e0.repartition(_parts, "_s"), StorageLevel.MEMORY_AND_DISK
        )
        e_dst = h.persist(
            e0.repartition(_parts, "_d"), StorageLevel.MEMORY_AND_DISK
        )
        nodes = (
            e0.select(F.col("_s").alias("node"))
            .union(e0.select(F.col("_d").alias("node")))
            .distinct()
        )
        active = active_ck = h.cut(nodes)
        ae_s, ae_d = e_src, e_dst
        #: labels cut so far, folded once per outer round so the round's
        #: source cuts can be freed
        done_ck: DataFrame | None = None

        def _restrict(live: DataFrame):
            """Live-subgraph edge views, keeping each base layout."""
            ls = live.select(F.col("node").alias("_ls"))
            ld = live.select(F.col("node").alias("_ld"))
            es = (
                e_src.join(ls, e_src._s == ls._ls, "left_semi")
                .join(ld, e_src._d == ld._ld, "left_semi")
            )
            ed = (
                e_dst.join(ls, e_dst._s == ls._ls, "left_semi")
                .join(ld, e_dst._d == ld._ld, "left_semi")
            )
            return es, ed

        def _labels(pending: list[DataFrame]) -> DataFrame | None:
            out = done_ck
            for p in pending:
                out = p if out is None else out.union(p)
            return out

        # JOB-COUNT DISCIPLINE (r11): at control-frame sizes every driver
        # action costs a fixed ~0.25 s job floor, so each loop below
        # folds its change/termination signal INTO the frame it already
        # checkpoints (a flag column computed in the same job) and tests
        # it with one cached filter — instead of a separate join-shaped
        # action per round. Labels/fixpoints are unchanged: the flags
        # are derived columns, dropped before any consumer. (r12 note:
        # advancing MULTIPLE hops per checkpointed round was implemented
        # and measured SLOWER — rounds halve but each added hop's
        # shuffle stages cost more than the saved job floor; see
        # OPTIMIZATION_r12.md.)
        for _round in range(max_rounds):
            if active.isEmpty():
                break
            with caching.held() as r:
                #: this round's label views (over r's cuts)
                pending: list[DataFrame] = []
                # -- 1. trim to fixpoint -------------------------------
                while True:
                    has_out = ae_s.select(F.col("_s").alias("node")).distinct()
                    has_in = ae_d.select(F.col("_d").alias("node")).distinct()
                    both = has_out.join(has_in, "node", "left_semi")
                    # one checkpoint carries BOTH the survivors and the
                    # peeled singletons, flagged (was: two checkpoints +
                    # an isEmpty per peel layer). One layer per round: a
                    # two-layer peel was measured SLOWER (r12 — the
                    # doubled semi-join plan adds more stage latency than
                    # the saved round costs; see OPTIMIZATION_r12.md).
                    flagged = r.cut(
                        active.join(
                            both.withColumn("_keep", F.lit(True)),
                            "node",
                            "left",
                        ).select(
                            "node",
                            F.coalesce("_keep", F.lit(False)).alias("_keep"),
                        )
                    )
                    trivial = flagged.where(~F.col("_keep")).select("node")
                    if trivial.isEmpty():
                        break
                    pending.append(
                        trivial.select("node", F.col("node").alias("scc_id"))
                    )
                    active = flagged.where(F.col("_keep")).select("node")
                    ae_s, ae_d = _restrict(active)
                if active.isEmpty():
                    # a final trim-only round: its labels read this
                    # round's cuts, so the result is cut before r frees
                    # them
                    return h.keep(h.cut(_labels(pending)))

                # -- 2. forward min-color fixpoint ---------------------
                # One edge-hop per checkpointed round. Composing extra
                # hops or a pointer-jump (color of my color) into each
                # round was measured SLOWER at sf0.1 (r12): iterations
                # dropped 12 → 7 but each extra operator adds shuffle
                # stages whose latency exceeds the saved round's job
                # floor. Revisit on a real cluster where per-round data
                # cost dominates scheduling.
                color = color_ck = r.cut(
                    active.select("node", F.col("node").alias("color"))
                )
                for _it in range(max_prop_iters):
                    incoming = (
                        ae_s.join(color, ae_s._s == color["node"])
                        .groupBy(F.col("_d").alias("node"))
                        .agg(F.min("color").alias("_in_min"))
                    )
                    # the changed flag rides in the checkpointed frame: a
                    # node changed iff an incoming color strictly
                    # undercuts its own (least() only ever decreases);
                    # the superseded round's blocks are freed (1× storage)
                    color_ck = r.step(
                        color_ck,
                        color.join(incoming, "node", "left").select(
                            "node",
                            F.least(
                                F.col("color"),
                                F.coalesce("_in_min", F.col("color")),
                            ).alias("color"),
                            (
                                F.coalesce("_in_min", F.col("color"))
                                < F.col("color")
                            ).alias("_chg"),
                        ),
                    )
                    color = color_ck.select("node", "color")
                    if color_ck.where(F.col("_chg")).isEmpty():
                        break
                else:
                    raise SCCNotConverged(
                        f"forward coloring did not settle in "
                        f"{max_prop_iters} iters"
                    )

                # -- 3. backward sweep within color --------------------
                mark = mark_ck = r.cut(
                    color.where(F.col("color") == F.col("node"))
                )
                while True:
                    reached = (
                        ae_d.join(mark, ae_d._d == mark["node"])
                        .select(F.col("_s").alias("node"), "color")
                        .distinct()
                    )
                    grew = (
                        reached.withColumnRenamed("color", "_c")
                        .join(color, "node")
                        .where(F.col("_c") == F.col("color"))
                        .select("node", "color")
                        .join(mark, "node", "left_anti")
                    )
                    # one checkpoint per sweep round: the (disjoint, by
                    # the anti-join) union of the old frontier and the
                    # growth, growth flagged (was: checkpoint(grew) +
                    # isEmpty + checkpoint(union) = 3 actions per round);
                    # the superseded frontier's blocks are freed
                    mark_ck = r.step(
                        mark_ck,
                        mark.select("node", "color")
                        .withColumn("_new", F.lit(False))
                        .unionByName(grew.withColumn("_new", F.lit(True))),
                    )
                    mark = mark_ck.select("node", "color")
                    if mark_ck.where(F.col("_new")).isEmpty():
                        break
                pending.append(
                    mark.select("node", F.col("color").alias("scc_id"))
                )
                # fold this round's labels into the running checkpointed
                # union, so every per-round cut (trim's flagged frames,
                # the final color/mark frames — freed as r ends — and the
                # superseded active set and label union — freed by the
                # steps) goes NOW: peak cached storage stays ~1× instead
                # of growing with the round/peel count (r11 ADVICE).
                # Costs one extra checkpoint per OUTER round; outer
                # rounds = condensation depth between non-trivial SCCs,
                # which is shallow.
                active = active_ck = h.step(
                    active_ck,
                    active.join(mark.select("node"), "node", "left_anti"),
                )
                done_ck = h.step(done_ck, _labels(pending))
            ae_s, ae_d = _restrict(active)
        if not active.isEmpty():
            raise SCCNotConverged(
                f"condensation deeper than max_rounds={max_rounds}"
            )
        if done_ck is None:
            # edgeless input: no nodes, empty labeling
            return nodes.select("node", F.col("node").alias("scc_id"))
        return h.keep(h.cut(done_ck))


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, label) — synchronous label propagation community
    detection (Raghavan et al. 2007) over the UNDIRECTED link graph,
    made fully deterministic: every node starts as its own label; each
    round every node adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label (classic LPA breaks
    ties randomly — useless for an engine whose outputs are
    hash-compared, so the tie rule is part of this operator's
    contract). ``iterations`` is fixed, not run-to-convergence:
    synchronous LPA can 2-cycle on bipartite structures, so a fixed
    round count is the honest deterministic semantics (and what the
    DuckDB oracle replays CTE-by-CTE — text_lang_token[lpa]).

    Edge weight = number of DISTINCT directed edges between the pair
    (a reciprocal link counts twice — mutual links bind communities
    harder). Isolated nodes keep their own label.

    Scale shape: the symmetrized edge set is repartitioned by neighbor
    key and persisted once; each round is one node-sized label join
    against that layout, one (node, label) count aggregation, and one
    per-node argmax window over label-type-bounded rows; labels end
    each round in a lineage cut (flat plans, 1× storage).
    """
    from pyspark.sql import Window

    with caching.held() as h:
        e0 = edges.select(
            F.col(src).alias("_s"), F.col(dst).alias("_d")
        ).distinct()
        und = e0.union(
            e0.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
        ).where(F.col("_s") != F.col("_d"))
        und = h.persist(und.repartition("_s"), StorageLevel.MEMORY_AND_DISK)
        nodes = (
            e0.select(F.col("_s").alias("node"))
            .union(e0.select(F.col("_d").alias("node")))
            .distinct()
        )
        labels = h.cut(nodes.select("node", F.col("node").alias("label")))
        w = Window.partitionBy("node").orderBy(
            F.col("_cnt").desc(), F.col("label").asc()
        )
        for _ in range(iterations):
            neigh = (
                und.join(labels, und._s == labels.node)
                .groupBy(F.col("_d").alias("node"), "label")
                .agg(F.count("*").alias("_cnt"))
            )
            best = (
                neigh.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select("node", F.col("label").alias("_new"))
            )
            labels = h.step(
                labels,
                labels.join(best, "node", "left").select(
                    "node", F.coalesce("_new", F.col("label")).alias("label")
                ),
            )
        return h.keep(labels)


def scc_reference(edges: list[tuple]) -> dict:
    """Serial SCC oracle for tests: iterative Tarjan, then each node
    labeled by its component's min member — an INDEPENDENT formulation
    of what strongly_connected_components computes distributively."""
    adj: dict = {}
    nodes: set = set()
    for s, d in edges:
        nodes.add(s)
        nodes.add(d)
        adj.setdefault(s, []).append(d)
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comps: list[list] = []
    counter = [0]

    def strongconnect(root):
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            neigh = adj.get(v, [])
            for i in range(pi, len(neigh)):
                w_ = neigh[i]
                if w_ not in index:
                    work[-1] = (v, i + 1)
                    work.append((w_, 0))
                    recurse = True
                    break
                elif w_ in on_stack:
                    low[v] = min(low[v], index[w_])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w_ = stack.pop()
                    on_stack.discard(w_)
                    comp.append(w_)
                    if w_ == v:
                        break
                comps.append(comp)
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])

    for v in sorted(nodes):
        if v not in index:
            strongconnect(v)
    out = {}
    for comp in comps:
        m = min(comp)
        for v in comp:
            out[v] = m
    return out


def label_propagation_reference(edges: list[tuple], iterations: int = 4):
    """Serial synchronous LPA with the module's deterministic tie rule
    (max neighbor-label count, then smallest label)."""
    und: dict = {}
    nodes: set = set()
    for s, d in set(edges):
        nodes.add(s)
        nodes.add(d)
        if s != d:
            und.setdefault(d, []).append(s)
            und.setdefault(s, []).append(d)
    labels = {v: v for v in nodes}
    for _ in range(iterations):
        nxt = {}
        for v in nodes:
            neigh = und.get(v, [])
            if not neigh:
                nxt[v] = labels[v]
                continue
            counts: dict = {}
            for u in neigh:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            nxt[v] = min(counts, key=lambda l: (-counts[l], l))
        labels = nxt
    return labels


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, triangles) — per-node triangle membership counts of the
    UNDIRECTED simple graph (direction, multiplicity, self-loops
    dropped), the standard link-farm / clustering-coefficient signal
    (a mirror ring is triangle-dense; an honest hierarchy is
    triangle-sparse).

    Algorithm: degree orientation (the classic m^(3/2) bound — Schank &
    Wagner's forward algorithm / the MapReduce formulation of Suri &
    Vassilvitskii). Every undirected edge is oriented from its
    (degree, id)-SMALLER endpoint to its larger one; the orientation is
    acyclic and every triangle has exactly one source node, so joining
    oriented edges (a→b)⋈(b→c) and checking a→c counts each triangle
    EXACTLY once — and every oriented out-neighborhood is O(√m), which
    bounds the wedge join against the degree skew that kills the naive
    formulation (a celebrity node's wedge set is quadratic in its
    degree; after orientation its out-degree collapses).

    Plan shape: one distinct symmetrization (the only corpus-sized
    shuffle), one degree groupBy, two narrow joins to attach endpoint
    degrees, the wedge self-join keyed on the middle node, one
    membership semi-check keyed on (a, c), and a per-node explode +
    groupBy. Integer counts — hash-exact across engines; the DuckDB
    oracle replays the identical orientation (text_lang_token[tri]).
    """
    e0 = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    ).where(F.col("_s") != F.col("_d"))
    und = (
        e0.select(
            F.least("_s", "_d").alias("a"), F.greatest("_s", "_d").alias("b")
        )
        .distinct()
    )
    sym = und.select("a", "b").union(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("deg")).select(
        F.col("a").alias("node"), "deg"
    )
    # orient: keep (u, v) with (deg(u), u) < (deg(v), v)
    du = deg.select(F.col("node").alias("a"), F.col("deg").alias("_da"))
    dv = deg.select(F.col("node").alias("b"), F.col("deg").alias("_db"))
    oriented = (
        sym.join(du, "a").join(dv, "b")
        .where(
            (F.col("_da") < F.col("_db"))
            | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b")))
        )
        .select(F.col("a").alias("u"), F.col("b").alias("v"))
    )
    w1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    w2 = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    wedges = w1.join(w2, "y").select("x", "y", "z")
    tris = wedges.join(
        oriented.withColumnRenamed("u", "x").withColumnRenamed("v", "z"),
        ["x", "z"],
        "left_semi",
    )
    per_node = (
        tris.select(
            F.explode(F.array("x", "y", "z")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.select("node")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
        )
    )


def triangle_counts_reference(edges: list[tuple]) -> dict:
    """Serial brute-force oracle for tests: per-node triangle counts by
    neighbor-set intersection over all id-ordered triples."""
    neigh: dict = {}
    for s, d in edges:
        if s == d:
            continue
        neigh.setdefault(s, set()).add(d)
        neigh.setdefault(d, set()).add(s)
    out = {v: 0 for v in neigh}
    nodes = sorted(neigh)
    for i, a in enumerate(nodes):
        for b in (n for n in neigh[a] if n > a):
            for c in neigh[a] & neigh[b]:
                if c > b:
                    out[a] += 1
                    out[b] += 1
                    out[c] += 1
    return out


class CorenessNotConverged(RuntimeError):
    """coreness() ran out of rounds before the h-index iteration
    reached its fixpoint. Raise, never return a partial labeling."""


def coreness(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int | None = None,
    max_iters: int = 60,
) -> DataFrame:
    """(node, core) — k-core numbers of the UNDIRECTED simple graph
    (direction/multiplicity/self-loops dropped): the largest k such
    that the node survives in the subgraph where everyone keeps ≥ k
    neighbors. The standard density signal next to triangle_counts
    (spam farms and boilerplate link blocks sit in high cores; honest
    long-tail pages in low ones).

    Algorithm: the h-index iteration (Lü et al. 2016): start at
    c₀(v) = deg(v); each round every node takes the H-INDEX of its
    neighbors' current values (the largest h with ≥ h neighbors at
    ≥ h). The sequence is monotone non-increasing and its fixpoint is
    exactly the coreness — which makes it the distributed formulation
    of choice: peeling (the serial algorithm, the tests' independent
    reference) is inherently sequential, while a round here is ONE
    join of node-sized values against the cached symmetric edge list
    plus one per-node window (rank the neighbor values, take
    max(min(rank, value))), all integers.

    ``iterations=None`` (default) runs to the fixpoint with a
    convergence check per round (bounded driver actions, raises
    CorenessNotConverged past ``max_iters`` — never a partial answer).
    An explicit ``iterations=k`` replays exactly k rounds with no
    check — the oracle-replay mode (extra rounds past the fixpoint are
    no-ops, so a replay with k ≥ convergence matches bit-for-bit;
    text_lang_token[core]).

    Scale shape: the symmetrized edge set is repartitioned by the
    neighbor key and persisted once (the label_propagation layout);
    per-round shuffles move node-sized value frames; values end each
    round in a lineage cut (flat plans, 1× storage).
    """
    from pyspark.sql import Window

    with caching.held() as h:
        e0 = edges.select(
            F.col(src).alias("_s"), F.col(dst).alias("_d")
        ).where(F.col("_s") != F.col("_d"))
        und = (
            e0.select(F.col("_s").alias("a"), F.col("_d").alias("b"))
            .union(e0.select(F.col("_d").alias("a"), F.col("_s").alias("b")))
            .distinct()
        )
        und = h.persist(und.repartition("a"), StorageLevel.MEMORY_AND_DISK)
        vals = h.cut(
            und.groupBy(F.col("a").alias("node")).agg(
                F.count("*").alias("core")
            )
        )
        w = Window.partitionBy("node").orderBy(F.col("_nv").desc())

        def _round(cur: DataFrame) -> DataFrame:
            neigh = und.join(
                cur.withColumnRenamed("node", "a").withColumnRenamed(
                    "core", "_nv"
                ),
                "a",
            ).select(F.col("b").alias("node"), "_nv")
            return (
                neigh.withColumn("_rn", F.row_number().over(w))
                .groupBy("node")
                .agg(
                    F.max(F.least(F.col("_rn"), F.col("_nv"))).alias("core")
                )
            )

        if iterations is not None:
            for _ in range(iterations):
                vals = h.step(vals, _round(vals))
            return h.keep(vals)
        for _ in range(max_iters):
            nxt = h.cut(_round(vals))
            changed = (
                nxt.withColumnRenamed("core", "_new")
                .join(vals, "node")
                .where(F.col("_new") != F.col("core"))
                .isEmpty()
            )
            h.free(vals)
            vals = nxt
            if changed:
                return h.keep(vals)
        raise CorenessNotConverged(
            f"h-index iteration did not settle in {max_iters} rounds"
        )


def coreness_reference(edges: list[tuple]) -> dict:
    """Serial peeling oracle for tests — the INDEPENDENT textbook
    algorithm (repeatedly delete the min-degree node; its coreness is
    the running max of the degrees at deletion time)."""
    neigh: dict = {}
    for s, d in edges:
        if s == d:
            continue
        neigh.setdefault(s, set()).add(d)
        neigh.setdefault(d, set()).add(s)
    deg = {v: len(ns) for v, ns in neigh.items()}
    out: dict = {}
    k = 0
    live = set(neigh)
    while live:
        v = min(live, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        out[v] = k
        live.discard(v)
        for u in neigh[v]:
            if u in live:
                deg[u] -= 1
    return out
