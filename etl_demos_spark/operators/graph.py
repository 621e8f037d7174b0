"""Graph analytics over edge-list DataFrames: PageRank.

Link analysis is a standard web-corpus curation signal (rank pages /
domains before sampling training data from them). The companion
clustering primitive — connected components via small-star/large-star
label propagation — lives in operators/embedding_dedup.py.

PageRank here is the classic damped power iteration expressed as keyed
DataFrame shuffles: per iteration, ONE join (ranks onto edges, rank/deg
contribution) + ONE groupBy(dst) sum + a rank update whose dangling-mass
term rides along as a broadcast 1-row aggregate — no per-round driver
round-trip. No adjacency matrix is ever materialized, no driver-side
graph state — only ONE scalar (node count) ever reaches the driver.

Determinism: contributions are quantized ENGINE-PORTABLY —
``floor(rank * 1e12 / deg)`` summed as exact BIGINTs (order-independent
under any task scheduling, and bit-reproducible in any engine that has
IEEE doubles + floor + integer sums, unlike decimal ``round`` whose
half-up-on-exact-BigDecimal semantics differ from DuckDB's
double-space rounding). Ranks are therefore bit-identical run to run
AND replayable by a DuckDB oracle as unrolled CTE rounds (the
q_label_prop treatment); the pytest suite additionally pins them
against a numpy power iteration on the same graph.

Scale notes: lineage is truncated per iteration with an eager
``localCheckpoint`` — persist alone keeps the logical plan compounding
(each round nests the last round's join tree; by ~10 iterations plan
compilation itself OOMs the driver). Edges are persisted once with
their out-degrees and reused; the per-round shuffle moves only the
(node, rank) table, which is |V|, not |E|.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from etl_demos_spark.operators.matutil import materialize_reused, materialize_stats

# floor(x * _Q) as BIGINT: exact, order-independent, engine-portable
# quantization at 1e-12 (see module docstring).
_Q = 1e12

# Size routing for the iterative operators (the connected_components /
# cosine_pairs_gemm router discipline): an edge list at or below this
# fits one executor task comfortably (5M directed edges ≈ 80 MB of
# int64 pairs), and replaying the rounds over numpy arrays in a single
# shuffle-free job beats 3-10 distributed rounds of join+agg+checkpoint
# by an order of magnitude. Every quantity these operators compute is
# deliberately engine-portable (exact integers, or order-independent
# integer-quantized doubles — see the module docstring), so the numpy
# replay is BIT-IDENTICAL to the distributed rounds; both paths are
# pinned against each other in tests/test_graph.py. Above the cap the
# distributed path runs unchanged.
GRAPH_SINGLE_TASK_EDGE_CAP = 5_000_000


def _single_task_cap(override: int | None) -> int:
    return GRAPH_SINGLE_TASK_EDGE_CAP if override is None else override


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of an edge list as (n, m) — the shared expansion
    under label_propagation and bfs_distances (and replayed verbatim in
    their oracles' `und` CTEs). One scan + explode of a 2-element
    array, not a self-union: the union form read the edge table twice
    (identical output multiset, half the scan cost at |E| scale)."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("n"), F.col(dst).alias("m")),
                F.struct(F.col(dst).alias("n"), F.col(src).alias("m")),
            )
        ).alias("_e")
    ).select("_e.n", "_e.m")


def _pagerank_numpy(src, dst, iters: int, damping: float):
    """Numpy replay of the distributed PageRank rounds — bit-identical
    by construction: the per-edge contribution is the same
    floor(rank·Q/deg) int64, the per-dst sum is an integer sum (order
    independent), and the rank update applies the identical IEEE double
    op tree left-to-right. In-edges are pre-sorted by dst once so each
    round's aggregation is one np.add.reduceat, not a scatter."""
    nodes = np.unique(np.concatenate([src, dst]))
    n = len(nodes)
    si = np.searchsorted(nodes, src).astype(np.int64)
    di = np.searchsorted(nodes, dst).astype(np.int64)
    deg = np.zeros(n, dtype=np.int64)
    np.add.at(deg, si, 1)
    dangling = deg == 0
    order = np.argsort(di, kind="stable")
    si_o, di_o = si[order], di[order]
    bounds = np.flatnonzero(np.r_[True, di_o[1:] != di_o[:-1]])
    dst_ids = di_o[bounds]
    rank = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    for _ in range(iters):
        c = np.floor(rank[si_o] * _Q / deg[si_o]).astype(np.int64)
        contrib = np.zeros(n)
        if len(c):
            contrib[dst_ids] = np.add.reduceat(c, bounds) / _Q
        dq = int(np.floor(rank[dangling] * _Q).astype(np.int64).sum())
        dangling_share = (damping * (dq / _Q)) / float(n)
        rank = (base + dangling_share) + damping * contrib
    return nodes, rank


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    single_task_edge_cap: int | None = None,
) -> DataFrame:
    """Damped PageRank over a (src, dst) edge list; returns (node, rank).

    Dangling nodes (no out-edges) redistribute their mass uniformly each
    iteration — the standard stochastic-matrix completion, so ranks sum
    to 1 every round (asserted in tests). Duplicate edges count once.

    Size-routed (see GRAPH_SINGLE_TASK_EDGE_CAP): at or below the cap
    the deduped edge list goes to ONE executor task that replays all
    ``iters`` rounds over numpy arrays — bit-identical output, zero
    distributed rounds; above it, the keyed-shuffle rounds below."""
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).distinct()
    # referenced by the router stats + nodes/deg/ed (large path) or the
    # single-task pass (small path): the distinct shuffle runs once, and
    # the routing probe IS the materializing action (one job, not an
    # eager checkpoint job + a count job). The same stats row also
    # detects null endpoints: the numpy fast path cannot represent them
    # (a nullable long crosses Arrow as float64 — NaN hard-fails
    # .to_numpy(int64), and ids ≥ 2^53 would silently round), while the
    # distributed joins tolerate them — so null edges decline the fast
    # path instead of crashing or diverging.
    e, _st = materialize_stats(
        e,
        F.count(F.lit(1)).alias("n"),
        F.count("src").alias("n_src"),
        F.count("dst").alias("n_dst"),
    )
    _no_nulls = _st["n_src"] == _st["n"] and _st["n_dst"] == _st["n"]

    if _no_nulls and _st["n"] <= _single_task_cap(single_task_edge_cap):

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            srcs, dsts = [], []
            for pdf in batches:
                srcs.append(pdf["src"].to_numpy(dtype=np.int64))
                dsts.append(pdf["dst"].to_numpy(dtype=np.int64))
            if not srcs or not sum(len(a) for a in srcs):
                return
            nodes, rank = _pagerank_numpy(
                np.concatenate(srcs), np.concatenate(dsts), iters, damping
            )
            step = 1_000_000
            for i in range(0, len(nodes), step):
                yield pd.DataFrame(
                    {"node": nodes[i : i + step], "rank": rank[i : i + step]}
                )

        return e.coalesce(1).mapInPandas(run, "node long, rank double")

    # explode, not self-union: the union form evaluated e (itself a
    # distinct shuffle) twice unless exchange reuse happened to fire
    nodes = materialize_reused(
        e.select(F.explode(F.array("src", "dst")).alias("node")).distinct()
    )
    n = nodes.count()
    if n == 0:
        # empty edge list (a legitimate upstream-filter outcome): an
        # empty rank table, not a ZeroDivisionError at 1.0/n
        return nodes.withColumn("rank", F.lit(0.0))
    # deg is read twice per round (contribution denominators via ed,
    # dangling anti-join directly) — materialize it or every round's
    # anti-join re-runs the whole edges.distinct() + groupBy chain
    deg = materialize_reused(e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    # edges annotated with out-degree once, reused every iteration
    ed = materialize_reused(e.join(deg, "src"))

    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(eager=True)
    base = (1.0 - damping) / n
    for _ in range(iters):
        contribs = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(
                "dst",
                F.floor(F.col("rank") * F.lit(_Q) / F.col("deg"))
                .cast("long")
                .alias("c"),
            )
            .groupBy("dst")
            .agg((F.sum("c").cast("double") / F.lit(_Q)).alias("contrib"))
        )
        # mass sitting on dangling nodes (rank with no out-edges) — an
        # integer-exact 1-row aggregate, broadcast into the update (no
        # driver round-trip; the IEEE op tree matches the oracle SQL:
        # (base + ((d*(dq/Q))/n)) + d*contrib, evaluated left-to-right)
        dangling = ranks.join(
            deg, ranks["node"] == deg["src"], "left_anti"
        ).agg(
            F.coalesce(
                F.sum(F.floor(F.col("rank") * F.lit(_Q)).cast("long")),
                F.lit(0),
            ).alias("__dq")
        )
        dangling_share = (
            F.lit(damping) * (F.col("__dq").cast("double") / F.lit(_Q))
        ) / F.lit(float(n))
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    (F.lit(base) + dangling_share)
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)  # truncate the per-round lineage
            # (eager deliberately: a lazy checkpoint lets the next
            # round's two consumers — contribution join and dangling
            # agg — race to materialize it concurrently; measured
            # slightly SLOWER than paying the eager job up front.
            # EVERY round deliberately too: interleaved A/B at sf0.01,
            # 8 iters — checkpoint every 1/2/4 rounds = 5.4/6.1/12.1 s;
            # two consumers re-analyze the compounding plan, so lineage
            # must stay one round deep)
        )
    return ranks


def _flatten_numpy(ids, parents, parent_is_null, max_iter: int):
    """Numpy replay of the pointer-jumping rounds (requires unique ids
    — the router checks). anc positions propagate as indices
    (pos[pos] = grandparent position), dangling ancestors stay put at
    position −1 — identical per-round recurrence to the DataFrame
    join, so the fixpoint state is identical."""
    order = np.argsort(ids, kind="stable")
    ids_s = ids[order]
    anc = np.where(parent_is_null, ids, parents)
    pos = np.searchsorted(ids_s, anc)
    pos_clip = np.minimum(pos, len(ids_s) - 1)
    valid = ids_s[pos_clip] == anc
    # anc position in ORIGINAL row order; -1 = dangling ancestor
    anc_pos = np.where(valid, order[pos_clip], -1)
    depth = np.where(parent_is_null, 0, 1).astype(np.int64)
    for _ in range(max_iter):
        ok = anc_pos >= 0
        new_anc = np.where(ok, anc[anc_pos], anc)
        new_depth = depth + np.where(ok, depth[anc_pos], 0)
        new_pos = np.where(ok, anc_pos[anc_pos], anc_pos)
        # match the distributed loop's order exactly: it assigns the
        # round's state FIRST and breaks after (state = nxt; if moved ==
        # 0: break). Breaking before the assignment discarded the final
        # round's depth update, which diverges for self-parent roots
        # (parent == id, non-null: anc never moves but depth doubles
        # once) and for cycles — the fixpoint-identical invariant both
        # paths are pinned to requires the same number of APPLIED rounds.
        moved = not np.array_equal(new_anc, anc)
        anc, depth, anc_pos = new_anc, new_depth, new_pos
        if not moved:
            break
    return anc, depth


def flatten_hierarchy(
    nodes: DataFrame,
    id_col: str = "node",
    parent_col: str = "parent",
    max_iter: int = 32,
    single_task_node_cap: int | None = None,
) -> DataFrame:
    """(node, root, depth) for a parent-pointer hierarchy — the
    recursive-CTE workload (org charts, category trees, BOM rollups)
    Spark SQL cannot express directly.

    Pointer jumping (path doubling): each round joins every node's
    current ancestor pointer onto that ancestor's own pointer, DOUBLING
    the resolved distance — depth-d hierarchies finish in ⌈log₂ d⌉
    rounds of |V|-sized keyed shuffles, not d rounds like the textbook
    iterative join (the same reason label propagation beats naive BFS in
    connected_components). Roots (parent NULL) are their own fixpoint;
    lineage is truncated per round with ``localCheckpoint`` (the
    pagerank lesson above). Convergence = no pointer moved this round —
    one limit(1) probe, no full count.

    Size-routed (see GRAPH_SINGLE_TASK_EDGE_CAP): at or below the node
    cap — and only when ids are unique, which one routing aggregate
    checks (duplicate ids multiply the hop join; the fast path cannot
    replicate that, so it declines) — one executor task replays the
    doubling rounds over numpy index arrays; identical fixpoint
    (pinned in tests/test_graph.py).
    """
    cap = _single_task_cap(single_task_node_cap)
    # materialize nodes WITH the routing aggregate as the materializing
    # action (one job): previously the aggregate executed the full
    # upstream plan once and whichever branch ran executed it again.
    # count(id_col) guards null ids: the fast path's Arrow transfer
    # cannot carry a null id exactly (nullable long → float64), while
    # the hop join just never matches them — so null ids decline.
    nodes, stats = materialize_stats(
        nodes,
        F.count(F.lit(1)).alias("n"),
        F.count(F.col(id_col)).alias("nn"),
        F.count_distinct(F.col(id_col)).alias("nd"),
    )
    if stats["n"] <= cap and stats["n"] == stats["nd"] == stats["nn"]:
        node_t = nodes.schema[id_col].dataType.simpleString()
        # null parents are coalesced to the node's own id JVM-SIDE so
        # the column crossing Arrow is never nullable — a nullable long
        # materializes as float64 in pandas and silently rounds ids
        # ≥ 2^53 (Arrow batches keep int64 plus a validity bitmap; see
        # dedup._reduce_id_runs for the mapInArrow form)
        slim = nodes.select(
            F.col(id_col).alias("node"),
            F.coalesce(F.col(parent_col), F.col(id_col)).alias("parent"),
            F.col(parent_col).isNull().alias("pnull"),
        )

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            parts = [pdf for pdf in batches if len(pdf)]
            if not parts:
                return
            pdf = pd.concat(parts, ignore_index=True)
            isnull = pdf["pnull"].to_numpy(dtype=bool)
            ids = pdf["node"].to_numpy()
            parents = pdf["parent"].to_numpy()
            root, depth = _flatten_numpy(ids, parents, isnull, max_iter)
            out = pd.DataFrame({"node": ids, "root": root, "depth": depth})
            step = 1_000_000
            for i in range(0, len(out), step):
                yield out.iloc[i : i + step]

        return slim.coalesce(1).mapInPandas(
            run, f"node {node_t}, root {node_t}, depth long"
        )

    state = nodes.select(
        F.col(id_col).alias("node"),
        F.coalesce(F.col(parent_col), F.col(id_col)).alias("anc"),
        F.when(F.col(parent_col).isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("depth"),
    ).localCheckpoint()
    for _ in range(max_iter):
        hop = state.select(
            F.col("node").alias("_n2"),
            F.col("anc").alias("_a2"),
            F.col("depth").alias("_d2"),
        )
        # LEFT join: an ancestor pointer with no node row (dangling
        # parent in a partially-loaded hierarchy) must leave (anc,
        # depth) unchanged — an inner join would DROP the whole subtree
        # hanging off the missing ancestor and silently return fewer
        # nodes than were given
        # the moved-flag is computed INSIDE the hop join (new anc vs old
        # anc are both on the joined row) — probing convergence by
        # re-joining nxt back onto state would cost a second |V|-keyed
        # shuffle per round for information the first join already had
        nxt = (
            state.join(hop, state["anc"] == hop["_n2"], "left")
            .select(
                "node",
                F.coalesce(F.col("_a2"), F.col("anc")).alias("anc"),
                (F.col("depth") + F.coalesce(F.col("_d2"), F.lit(0)))
                .cast("long")
                .alias("depth"),
                (F.coalesce(F.col("_a2"), F.col("anc")) != F.col("anc")).alias(
                    "_moved"
                ),
            )
            .localCheckpoint()
        )
        moved = nxt.filter(F.col("_moved")).limit(1).count()
        state = nxt.drop("_moved")
        if moved == 0:
            break
    return state.select("node", F.col("anc").alias("root"), "depth")


def _lpa_numpy(n_arr, m_arr, iters: int):
    """Numpy replay of the synchronous min-tie-break LPA rounds over
    the doubled (receiver, neighbor) edge arrays. Labels are INDICES
    into the sorted node array, so smallest-label tie-break is
    smallest-index; counts per (receiver, label) come from one
    np.unique over a composite key per round (sorted ⇒ labels ascend
    within each receiver segment, so the first max-count entry IS the
    tie-broken winner). Exact integer counts — identical output to the
    DataFrame rounds by construction."""
    nodes = np.unique(np.concatenate([n_arr, m_arr]))
    n = len(nodes)
    ni = np.searchsorted(nodes, n_arr).astype(np.int64)
    mi = np.searchsorted(nodes, m_arr).astype(np.int64)
    label = np.arange(n, dtype=np.int64)
    for _ in range(iters):
        key = ni * n + label[mi]
        uk, cnt = np.unique(key, return_counts=True)
        rec = uk // n
        lbl = uk % n
        bounds = np.flatnonzero(np.r_[True, rec[1:] != rec[:-1]])
        seg_id = np.repeat(
            np.arange(len(bounds)), np.diff(np.r_[bounds, len(uk)])
        )
        seg_max = np.maximum.reduceat(cnt, bounds)
        is_max = cnt == seg_max[seg_id]
        idx = np.arange(len(uk), dtype=np.int64)
        first = np.minimum.reduceat(np.where(is_max, idx, len(uk)), bounds)
        new_label = label.copy()
        new_label[rec[bounds]] = lbl[first]
        label = new_label
    return nodes, nodes[label]


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src: str = "a",
    dst: str = "b",
    single_task_edge_cap: int | None = None,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007), made DETERMINISTIC: every node starts labeled with its
    own id; each round it adopts the most frequent label among its
    neighbors, ties broken by SMALLEST label. Classic async LPA depends
    on visit order (engine-dependent, unreproducible); the synchronous
    min-tie-break form is a pure function of the edge set, so the same
    communities come out of any engine, any partitioning — and a SQL
    oracle can replay it as unrolled CTE rounds.

    Per round: ONE |E| join (labels onto undirected edge ends) + ONE
    (node, label)-keyed count agg + ONE per-node window top-1 — all
    hash-partitionable; the shuffled payload is (node, label) pairs,
    ∝ |E|, never adjacency lists. Fixed ``iters`` (the paired-query
    form); lineage stays linear in iters, and the undirected edge
    table is persisted once and reused each round.

    Isolated nodes never appear in an edge list and so keep their own
    label by construction of the caller's node set.

    Size-routed (see GRAPH_SINGLE_TASK_EDGE_CAP): at or below the cap,
    one executor task replays the rounds over numpy arrays —
    identical output (pinned in tests/test_graph.py), zero
    distributed rounds.

    Returns (node, community).
    """
    # routing probe fused into the materializing job (the pagerank
    # discipline), with null-endpoint detection: nulls decline the fast
    # path (pandas would coerce the id column to float/object), the
    # distributed joins handle them natively.
    und, _st = materialize_stats(
        _undirected(edges, src, dst),
        F.count(F.lit(1)).alias("n"),
        F.count("n").alias("n_n"),
        F.count("m").alias("n_m"),
    )
    _no_nulls = _st["n_n"] == _st["n"] and _st["n_m"] == _st["n"]

    if _no_nulls and _st["n"] <= 2 * _single_task_cap(single_task_edge_cap):
        node_t = und.schema["n"].dataType.simpleString()

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ns, ms = [], []
            for pdf in batches:
                ns.append(pdf["n"].to_numpy())
                ms.append(pdf["m"].to_numpy())
            if not ns or not sum(len(a) for a in ns):
                return
            nodes, comm = _lpa_numpy(
                np.concatenate(ns), np.concatenate(ms), iters
            )
            step = 1_000_000
            for i in range(0, len(nodes), step):
                yield pd.DataFrame(
                    {
                        "node": nodes[i : i + step],
                        "community": comm[i : i + step],
                    }
                )

        return und.coalesce(1).mapInPandas(
            run, f"node {node_t}, community {node_t}"
        )

    labels = und.select(F.col("n").alias("node")).distinct().select(
        "node", F.col("node").alias("community")
    )
    from pyspark.sql import Window as W

    for _ in range(iters):
        neigh = und.join(
            labels.select(
                F.col("node").alias("m"), F.col("community").alias("nl")
            ),
            "m",
        ).select(F.col("n").alias("node"), F.col("nl").alias("community"))
        cnt = neigh.groupBy("node", "community").agg(
            F.count(F.lit(1)).alias("c")
        )
        wnd = W.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("community").asc()
        )
        labels = (
            cnt.withColumn("rn", F.row_number().over(wnd))
            .filter(F.col("rn") == 1)
            .select("node", "community")
            .localCheckpoint(eager=True)  # truncate per-round lineage
        )
    return labels


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    iters: int = 4,
    src: str = "a",
    dst: str = "b",
    node_col: str = "node",
    single_task_edge_cap: int | None = None,
) -> DataFrame:
    """Multi-source BFS (unweighted shortest-path distance, hop-bounded):
    the curation primitive behind 'within-k-hops of a trusted seed set'
    scoring (link-distance quality priors, crawl-frontier triage — the
    graph twin of the bloom pre-filter: grade a 100 TB link graph by
    proximity to a vetted whitelist).

    Classic frontier expansion on unit weights over the UNDIRECTED edge
    set: round i expands ONLY the nodes first discovered in round i−1
    (on unit weights a later discovery can never improve an earlier
    one, so expanding settled nodes is pure waste), and newly reached
    nodes join the distance table at dist = i. All-integer state — no
    float anywhere — so the result is a pure function of (edges,
    sources, iters) and a SQL oracle replays it as unrolled CTE rounds
    (the label_propagation / pagerank treatment, with none of their
    tie-break or quantization care needed; the oracle uses the
    equivalent relax-everything form — same fixpoint). Per round: ONE
    edge join against the (typically tiny, AQE-broadcast) frontier +
    ONE node-keyed dedup + ONE anti-join against the settled set;
    per-round lineage truncated with an eager localCheckpoint (the
    module-wide iterative-plan discipline — see pagerank's OOM note).
    ``iters`` bounds the hop radius, which is the point: beyond a few
    hops the prior is flat, and a bounded frontier never materializes
    the transitive closure.

    Nodes not reached within ``iters`` hops are absent from the result
    (callers coalesce to an 'unreachable' sentinel if needed).

    Size-routed (see GRAPH_SINGLE_TASK_EDGE_CAP): at or below the cap,
    one executor task replays the hop rounds over numpy arrays —
    identical output (pinned in tests/test_graph.py), zero distributed
    rounds. Seeds ride into the same task as flagged self-rows of the
    edge frame (keeps the id column a non-null long through Arrow), so
    nothing is ever collected to the driver on either path.

    Returns (node, dist).
    """
    # routing probe fused into the materializing job (the pagerank
    # discipline). Null EDGE endpoints decline the fast path (the
    # distributed joins never match them; the numpy arrays cannot hold
    # them); null SEEDS are handled in-task below — they contribute one
    # (null, 0) output row and nothing else once null edges are ruled
    # out, because a null node can then never be reached via a join.
    und, _st = materialize_stats(
        _undirected(edges, src, dst),
        F.count(F.lit(1)).alias("n"),
        F.count("n").alias("n_n"),
        F.count("m").alias("n_m"),
    )
    _no_nulls = _st["n_n"] == _st["n"] and _st["n_m"] == _st["n"]

    if _no_nulls and _st["n"] <= 2 * _single_task_cap(single_task_edge_cap):
        # seeds ride in as flagged self-rows; a null seed id is carried
        # by the `nn` flag with the id coalesced to 0, so the long
        # columns crossing Arrow are never nullable (the float64/2^53
        # exact-id discipline — see flatten_hierarchy)
        seeds = sources.select(
            F.coalesce(F.col(node_col).cast("long"), F.lit(0)).alias("n"),
            F.coalesce(F.col(node_col).cast("long"), F.lit(0)).alias("m"),
            F.lit(1).alias("s"),
            F.col(node_col).isNull().alias("nn"),
        )
        combined = und.select(
            "n", "m", F.lit(0).alias("s"), F.lit(False).alias("nn")
        ).unionByName(seeds)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ns, ms, seed_parts = [], [], []
            null_seed = False
            for pdf in batches:
                edge_rows = pdf[pdf["s"] == 0]
                ns.append(edge_rows["n"].to_numpy(dtype=np.int64))
                ms.append(edge_rows["m"].to_numpy(dtype=np.int64))
                seed_rows = pdf[pdf["s"] == 1]
                null_seed = null_seed or bool(seed_rows["nn"].any())
                seed_parts.append(
                    seed_rows.loc[~seed_rows["nn"], "n"].to_numpy(dtype=np.int64)
                )
            if null_seed:
                # the distributed path's dist table starts from
                # sources.distinct(): null seeds collapse to ONE
                # (null, 0) row that no join ever extends
                yield pd.DataFrame(
                    {"node": pd.array([None], dtype="Int64"),
                     "dist": pd.array([0], dtype="Int64")}
                )
            seed_arr = (
                np.concatenate(seed_parts) if seed_parts else np.array([], np.int64)
            )
            if not len(seed_arr):
                return
            n_arr = np.concatenate(ns) if ns else np.array([], np.int64)
            m_arr = np.concatenate(ms) if ms else np.array([], np.int64)
            nodes = np.unique(np.concatenate([n_arr, m_arr, seed_arr]))
            si = np.searchsorted(nodes, n_arr)
            di = np.searchsorted(nodes, m_arr)
            inf = np.iinfo(np.int64).max
            d = np.full(len(nodes), inf, dtype=np.int64)
            d[np.searchsorted(nodes, seed_arr)] = 0
            for i in range(iters):
                nd = di[d[si] == i]
                fresh = nd[d[nd] == inf]
                if not len(fresh):
                    break
                d[fresh] = i + 1
            keep = d < inf
            out = pd.DataFrame({"node": nodes[keep], "dist": d[keep]})
            step = 1_000_000
            for i in range(0, len(out), step):
                yield out.iloc[i : i + step]

        return combined.coalesce(1).mapInPandas(run, "node long, dist long")

    dist = (
        sources.select(
            F.col(node_col).cast("long").alias("node"),
            F.lit(0).cast("long").alias("dist"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for i in range(iters):
        reached = (
            und.join(frontier.select(F.col("node").alias("m")), "m")
            .select(F.col("n").alias("node"))
            .distinct()
        )
        new = (
            reached.join(dist, "node", "left_anti")
            .select("node", F.lit(i + 1).cast("long").alias("dist"))
            .localCheckpoint(eager=True)  # truncate per-round lineage
        )
        # dist stays the LAZY union of already-checkpointed deltas:
        # re-checkpointing the settled set every round would rewrite it
        # O(rounds × |settled|) times at the 100 TB design point, while
        # the union's plan depth grows only linearly in rounds (every
        # constituent is a checkpointed RDD). A/B-measured equal at
        # 500k nodes (5.4-6.7 s both, interleaved in one session).
        # Empty frontier = converged: every remaining round would join
        # |E| against nothing and anti-join nothing — pure job overhead
        # (take(1) on the just-checkpointed delta is one cheap local
        # scan). Output-identical by construction: BFS discovers
        # nothing after the frontier empties (r11 A/B:
        # perf/ab_tailflags_r11.json).
        if not new.take(1):
            break
        dist = dist.unionByName(new)
        frontier = new
    return dist
