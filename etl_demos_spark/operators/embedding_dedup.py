"""Embedding-cosine near-duplicate detection + dedup clustering.

Exact pair scoring uses **blocked GEMM**: vectors are multiplied in
numpy matrix batches — BLAS-vectorized, ~100× the throughput of per-pair
expression evaluation (Spark's higher-order-function dot products are
interpreted per element; see operators/dedup.py for the same lesson).
Two physical strategies behind one router (``cosine_pairs_gemm``):

- **broadcast** (small corpora): collect + broadcast the corpus matrix,
  one GEMM per Arrow batch against it. Fastest when the matrix fits in
  executor memory; driver-bound beyond ~1M×128 dims.
- **tiled two-sided** (the 100 TB path): rows hash into √T blocks; each
  row is replicated to the upper-triangle tiles it participates in
  (A-side to tiles (b, j≥b), B-side to tiles (i≤b, b)); one
  ``applyInPandas`` GEMM per tile. No driver collect anywhere — shuffle
  volume is n·√T vectors and every tile is two bounded blocks, so block
  size, not corpus size, caps executor memory.

Cluster election: near-dup pairs form a graph; connected components via
min-label propagation (each node repeatedly adopts the smallest label in
its neighborhood) — a driver loop of pure DataFrame joins converging in
O(component diameter) rounds, with a hard ``max_iter`` that RAISES on
non-convergence rather than returning split clusters (see
``connected_components``). Each doc maps to the min id of its component,
which becomes the canonical representative. Near-dup clusters are
low-diameter in practice (most are cliques of mutual near-dups); a
pathological threshold-chain longer than ``max_iter`` hops is an input
smell the loud failure surfaces.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# the one row-normalization helper — shared with the search family so the
# zero-norm convention (treat as norm 1) can never silently diverge
# between dedup and ANN cosines
from etl_demos_spark.operators.similarity import _np_norm_rows as _norm_rows

PAIR_SCHEMA = "id_a long, id_b long, cos_sim double"


def cosine_pairs_gemm(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    broadcast_max_rows: int = 200_000,
    target_block_rows: int = 100_000,
    n_rows: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ threshold, exactly.

    Routes on corpus size: ≤ ``broadcast_max_rows`` → broadcast GEMM
    (one corpus pass, no shuffle); larger → tiled two-sided GEMM (no
    driver materialization, executor memory bounded by block size).

    ``n_rows``: pass the corpus size when the caller already knows it —
    the sizing count is a cheap metadata scan ONLY for a bare parquet
    source; on a derived pipeline (filters/joins/decode UDFs upstream)
    ``count()`` executes the whole upstream plan once for sizing and
    again for the pairs pass.
    """
    n = df.select(id_col).count() if n_rows is None else n_rows
    if n <= broadcast_max_rows:
        return cosine_pairs_broadcast(df, id_col, vec_col, threshold)
    n_blocks = max(2, math.ceil(n / target_block_rows))
    return cosine_pairs_tiled(df, id_col, vec_col, threshold, n_blocks)


def cosine_pairs_broadcast(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Broadcast strategy: the corpus matrix is collected and broadcast;
    each partition GEMMs its own rows against it. Bounded by
    driver/executor memory — the router keeps it to small corpora."""
    spark = df.sparkSession
    rows = df.select(id_col, vec_col).collect()
    if not rows:
        return spark.createDataFrame(
            [], "id_a long, id_b long, cos_sim double"
        )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    Mn = _norm_rows(np.array([r[1] for r in rows], dtype=np.float64))
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(Mn)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        R_ids, R = b_ids.value, b_mat.value
        for pdf in batches:
            if not len(pdf):
                continue
            L = _norm_rows(np.array(list(pdf[vec_col]), dtype=np.float64))
            S = L @ R.T  # one GEMM per batch
            l_ids = pdf[id_col].to_numpy()
            li, ri = np.nonzero(S >= threshold)
            mask = l_ids[li] < R_ids[ri]  # each unordered pair once
            yield pd.DataFrame(
                {
                    "id_a": l_ids[li][mask],
                    "id_b": R_ids[ri][mask],
                    "cos_sim": S[li, ri][mask],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(score, PAIR_SCHEMA)


def cosine_pairs_tiled(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_blocks: int = 8,
) -> DataFrame:
    """Tiled two-sided strategy (the scale path — no driver collect).

    Rows land in ``n_blocks`` hash blocks; tile (i, j), i ≤ j, scores
    block i × block j with one GEMM inside ``applyInPandas``. Replication
    factor is ~n_blocks per row (the O(n·√T) all-pairs bound), and each
    unordered pair is produced by exactly one tile: a cross-block pair
    {x∈i, y∈j} only materializes in tile (i, j); a within-block pair
    appears twice in its diagonal tile and is kept once by the id_a <
    id_b mask. Off-diagonal tiles emit (min, max) so output ordering
    never depends on block assignment.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    # A-side of tiles (blk, j ≥ blk); B-side of tiles (i ≤ blk, blk).
    a_side = base.select(
        F.col("_blk").alias("_ta"),
        F.explode(F.sequence("_blk", F.lit(n_blocks - 1))).alias("_tb"),
        F.lit(0).alias("_side"),
        "_id",
        "_vec",
    )
    b_side = base.select(
        F.explode(F.sequence(F.lit(0), "_blk")).alias("_ta"),
        F.col("_blk").alias("_tb"),
        F.lit(1).alias("_side"),
        "_id",
        "_vec",
    )
    rep = a_side.unionByName(b_side)

    # no type hints: `from __future__ import annotations` stringifies them
    # and the applyInPandas hint resolver warns on unresolvable strings
    def tile(key, pdf):
        ta, tb = key
        lmask = pdf["_side"].to_numpy() == 0
        L_pdf, R_pdf = pdf[lmask], pdf[~lmask]
        if not len(L_pdf) or not len(R_pdf):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        L = _norm_rows(np.array(list(L_pdf["_vec"]), dtype=np.float64))
        R = _norm_rows(np.array(list(R_pdf["_vec"]), dtype=np.float64))
        l_ids = L_pdf["_id"].to_numpy()
        r_ids = R_pdf["_id"].to_numpy()
        # GEMM in L-side chunks: a full |L|x|R| similarity matrix at the
        # router's 100k block size would be an 80 GB allocation. Chunking
        # caps the live S slab at ~256 MB regardless of block size while
        # keeping each multiply a real dgemm. Same output, same flops.
        chunk = max(1, 32_000_000 // max(len(R), 1))
        lid_parts, rid_parts, sim_parts = [], [], []
        for s in range(0, len(L), chunk):
            S = L[s : s + chunk] @ R.T
            li, ri = np.nonzero(S >= threshold)
            lid_parts.append(l_ids[s : s + chunk][li])
            rid_parts.append(r_ids[ri])
            sim_parts.append(S[li, ri])
        lid = np.concatenate(lid_parts)
        rid = np.concatenate(rid_parts)
        sim = np.concatenate(sim_parts)
        if ta == tb:  # both orientations present → keep one
            m = lid < rid
            lid, rid, sim = lid[m], rid[m], sim[m]
        else:  # exactly one orientation present → normalize ordering
            lo = np.minimum(lid, rid)
            rid = np.maximum(lid, rid)
            lid = lo
        return pd.DataFrame({"id_a": lid, "id_b": rid, "cos_sim": sim})

    return rep.groupBy("_ta", "_tb").applyInPandas(tile, PAIR_SCHEMA)


# Edge sets at or below this route to the single-task numpy path: the
# whole (deduped) edge list fits one executor task with room to spare
# (5M edges ≈ 80 MB of int64 pairs), and min-label propagation over
# numpy arrays beats 3-6 distributed rounds by an order of magnitude.
# Above it, the iterative DataFrame loop is the 100 TB path.
CC_SINGLE_TASK_EDGE_CAP = 5_000_000


def _cc_labels_numpy(u, v):
    """Exact connected components over in-memory edge arrays:
    min-label propagation with pointer jumping (label[label] path
    compression), all numpy — O(E) per pass, O(log diameter) passes.
    Returns (nodes, comp) aligned arrays; comp = min reachable node.
    Works for any dtype with a total order np.unique supports (ints,
    strings) because labels are INDICES into the sorted node array, so
    the minimum index IS the minimum node id."""
    nodes = np.unique(np.concatenate([u, v]))
    ui = np.searchsorted(nodes, u)
    vi = np.searchsorted(nodes, v)
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        before = label
        m = np.minimum(label[ui], label[vi])
        label = label.copy()
        np.minimum.at(label, ui, m)
        np.minimum.at(label, vi, m)
        while True:  # pointer jumping to a per-pass fixpoint
            nxt = label[label]
            if np.array_equal(nxt, label):
                break
            label = nxt
        if np.array_equal(before, label):
            break
    return nodes, nodes[label]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    single_task_edge_cap: int | None = None,
) -> DataFrame:
    """(node, component) where component = min node id reachable.

    Size-routed (the cosine_pairs_gemm router discipline):

    - **single-task** (edge count ≤ ``single_task_edge_cap``): the
      deduped edge list — already materialized, ∝ near-dups, tiny
      relative to the corpus — is handed to ONE executor task that runs
      numpy min-label propagation with pointer jumping. Zero
      distributed rounds, one shuffle-free job. This is where every
      real dedup graph at bench scale lands, and legitimately so: the
      expensive, corpus-∝ work (signatures, banded joins) has already
      happened upstream; the component closure runs over candidate
      PAIRS only.
    - **iterative** (above the cap — the 100 TB path): synchronous
      min-label propagation, one keyed join per round over the
      pre-stacked undirected edge list (previously two joins + a
      change-detection join: the self-label rides the same aggregation
      as an ``own`` column now, so convergence detection is a
      filter-count over the checkpointed round output, not a join).
      Converges in O(component diameter) rounds with per-round
      early-exit; a component whose diameter exceeds ``max_iter``
      raises RuntimeError rather than silently returning a split
      cluster (silent under-dedup is the one unacceptable failure
      mode).

    Both paths are exact and identical in output (pinned against each
    other in tests/test_dedup.py)."""
    if single_task_edge_cap is None:
        single_task_edge_cap = CC_SINGLE_TASK_EDGE_CAP
    edges = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).filter(F.col("u") != F.col("v"))
    # undirected → keep as (greater, smaller) so labels flow to the min
    edges = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    # The edge set is referenced every round: without lineage truncation
    # every iteration re-executes the FULL upstream pair-generation plan
    # (for MinHash callers that is the banded LSH probe + the 128-agg
    # signature computation), and the label plan compounds per round —
    # plan *compilation* itself OOMs a default-heap driver (the same trap
    # graph.py documents for PageRank). Candidate pairs ∝ near-dups, so
    # the materialized edge set is small by construction.
    # lazy mark + count: the routing count IS the action that
    # materializes the checkpoint — one job, not an eager checkpoint job
    # plus a dedicated count job (VERDICT r11 rec 7). Direct
    # localCheckpoint (not matutil) because truncation here is a
    # driver-survival requirement for the iterative path, not a strategy
    # choice.
    edges = edges.localCheckpoint(eager=False)
    node_t = edges.schema["u"].dataType.simpleString()

    if edges.count() <= single_task_edge_cap:
        out_schema = f"node {node_t}, comp {node_t}"

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            us, vs = [], []
            for pdf in batches:
                us.append(pdf["u"].to_numpy())
                vs.append(pdf["v"].to_numpy())
            if not us:
                return
            nodes, comp = _cc_labels_numpy(
                np.concatenate(us), np.concatenate(vs)
            )
            step = 1_000_000  # bound any one Arrow batch
            for i in range(0, len(nodes), step):
                yield pd.DataFrame(
                    {"node": nodes[i : i + step], "comp": comp[i : i + step]}
                )

        return edges.coalesce(1).mapInPandas(run, out_schema)

    # ---- iterative path: one keyed join per round over 2|E| rows ----
    # (a narrow double-projection of the checkpointed edges — no extra
    # materialization job needed)
    und = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).union(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))

    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    for _ in range(max_iter):
        # each node adopts min(comp) among itself + neighbors; the
        # self row carries the previous comp in `own` so the change
        # check needs no join against the previous round
        nbr = und.join(labels, und["src"] == labels["node"]).select(
            F.col("dst").alias("node"),
            "comp",
            F.lit(None).cast(node_t).alias("own"),
        )
        new_labels = (
            labels.select("node", "comp", F.col("comp").alias("own"))
            .union(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.min("own").alias("own"))
        )
        # truncate the per-round lineage: persist alone keeps the logical
        # plan nesting growing per round
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.filter(F.col("comp") < F.col("own")).limit(1).count()
        )
        labels = new_labels.select("node", "comp")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "a duplicate cluster has diameter beyond the bound; raise "
            "max_iter (rounds are cheap: the loop exits early on fixpoint)"
        )
    return labels


def dedup_by_embedding(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Keep one canonical row (min id) per near-duplicate cluster."""
    pairs = cosine_pairs_gemm(df, id_col, vec_col, threshold)
    comps = connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Semantic dedup: cluster first, exact pairs only WITHIN each cluster
# ---------------------------------------------------------------------------


def semantic_pairs_clustered(
    df: DataFrame,
    centroids_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    use_gemm: bool = False,
) -> DataFrame:
    """Within-cluster exact cosine pairs — the SemDeDup recipe (Abbas et
    al., "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", 2023): assign every vector to its nearest centroid,
    then score pairs ONLY inside each cluster. All-pairs work drops from
    n² to Σ_c n_c² — with k balanced clusters that is n²/k, and the
    cluster pass itself is one broadcast-centroid scan (no shuffle of
    the corpus beyond the one groupBy(cell)).

    Two physical forms behind one flag:

    - expression (default): self-join on ``cell`` + sequential HOF
      cosine — the left-to-right double adds DuckDB's list functions do,
      so this form is oracle-twinnable; the threshold compares the
      ROUNDED similarity so an ULP at the boundary can't flip membership
      cross-engine.
    - ``use_gemm=True`` (the corpus-scale path): nearest-centroid via
      one dgemm per Arrow batch (`kmeans_assign_gemm(keep_vec=True)` —
      no join back by id), then one GEMM per cluster inside
      ``applyInPandas``. Executor memory is bounded by the largest
      cluster; for clusters past ~1M rows compose with
      :func:`cosine_pairs_tiled` per cell instead.

    Output: (id_a, id_b, cell, cos_sim) with id_a < id_b, cos_sim
    rounded to 6 places, round(cos_sim, 6) >= threshold.
    """
    from etl_demos_spark.operators.embeddings import (
        kmeans_assign,
        kmeans_assign_gemm,
    )

    if use_gemm:
        crows = sorted(
            centroids_df.select("cell", "cvec").collect(), key=lambda r: r[0]
        )
        cents = [r[1] for r in crows]
        cell_ids = [int(r[0]) for r in crows]
        tagged = kmeans_assign_gemm(
            df, cents, id_col=id_col, vec_col=vec_col, keep_vec=True
        ).select(id_col, "cell", vec_col)
        # kmeans_assign_gemm emits POSITIONS into the sorted centroid
        # list; remap to the caller's actual cell ids so non-contiguous
        # id sets ({2,5,7} after dropping empty cells) keep the same
        # labels as the expression path and join back to centroids_df
        if cell_ids != list(range(len(cell_ids))):
            id_arr = F.array(*[F.lit(i) for i in cell_ids])
            tagged = tagged.withColumn(
                "cell",
                F.element_at(
                    id_arr, (F.col("cell") + 1).cast("int")
                ).cast("int"),
            )

        def _round6_half_up(x):
            # match the expression path's F.round (HALF_UP), not
            # numpy's banker's rounding: at an exact .5 boundary in the
            # 7th decimal np.round goes to even while Spark rounds away
            # from zero — the two forms of this one operator (pinned
            # set-equal in tests) would disagree on pair membership
            return (
                np.where(
                    x >= 0,
                    np.floor(x * 1e6 + 0.5),
                    np.ceil(x * 1e6 - 0.5),
                )
                / 1e6
            )

        def cell_pairs(key, pdf):
            ids = pdf[id_col].to_numpy()
            M = _norm_rows(np.array(list(pdf[vec_col]), dtype=np.float64))
            # chunk the similarity slab exactly like cosine_pairs_tiled:
            # the full |cluster|² matrix is 320 GB at 200k rows — cap
            # the in-flight S block instead of trusting cluster balance
            max_cells = (256 << 20) // 8
            step = max(1, max_cells // max(len(M), 1))
            out = []
            for lo in range(0, len(M), step):
                S = M[lo : lo + step] @ M.T
                Sr = _round6_half_up(S)
                li, ri = np.nonzero(Sr >= threshold)
                gi = li + lo
                m = ids[gi] < ids[ri]
                out.append(
                    pd.DataFrame(
                        {
                            "id_a": ids[gi][m],
                            "id_b": ids[ri][m],
                            "cell": np.full(int(m.sum()), key[0], dtype=np.int64),
                            "cos_sim": Sr[li, ri][m],
                        }
                    )
                )
            return pd.concat(out, ignore_index=True) if out else pd.DataFrame(
                {"id_a": [], "id_b": [], "cell": [], "cos_sim": []}
            )

        return tagged.groupBy("cell").applyInPandas(
            cell_pairs, "id_a long, id_b long, cell long, cos_sim double"
        )

    from etl_demos_spark.operators.similarity import dot, l2_norm

    assign = kmeans_assign(df, centroids_df, id_col=id_col, vec_col=vec_col)
    # norms evaluate ONCE per row here, not once per pair — the pair
    # expression then runs a single interpreted HOF (the dot) instead of
    # three (measured 3× on the within-cluster self-join), and it is the
    # same per-row-nrm structure the DuckDB oracle uses.
    tagged = (
        df.select(id_col, vec_col)
        .join(assign.select(id_col, "cell"), id_col)
        .withColumn("_nrm", l2_norm(F.col(vec_col)))
    )
    a = tagged.select(
        F.col(id_col).alias("id_a"),
        F.col("cell"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = tagged.select(
        F.col(id_col).alias("id_b"),
        F.col("cell").alias("_cb"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    sim = F.round(
        dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
    )
    return (
        a.join(b, (a["cell"] == b["_cb"]) & (a["id_a"] < b["id_b"]))
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.col("cell").cast("long"), "cos_sim")
    )


def semantic_dedup(
    df: DataFrame,
    centroids_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    use_gemm: bool = True,
) -> DataFrame:
    """Keep one canonical row (min id) per semantic-duplicate cluster,
    where candidate pairs are restricted to centroid cells (SemDeDup)."""
    pairs = semantic_pairs_clustered(
        df, centroids_df, id_col, vec_col, threshold, use_gemm=use_gemm
    )
    comps = connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
