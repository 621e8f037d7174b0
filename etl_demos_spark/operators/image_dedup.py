"""Perceptual image dedup: dHash / pHash fingerprints + Hamming-banded
near-dup — the image analogue of the text near-dup family (MinHash /
SimHash / CDC / ExactSubstr), so images get a dedup story too.

Public recipes:
- **dHash** (difference hash; the classic "9x8 grid, compare horizontal
  neighbors" gradient hash popularized by the pHash/imagehash
  libraries): grayscale → point-sample a GRID_H x (GRID_W+1) grid →
  bit (r*GRID_W+c) = 1 iff g[r][c] > g[r][c+1]. 64 bits.
- **pHash** (DCT hash): grayscale → point-sample an 8x8 grid → 2-D
  type-II DCT → keep the 63 AC coefficients → bit = coefficient above
  the (lower-)median AC. 63 bits.

Determinism discipline (what makes these ORACLE-EXPRESSIBLE, the same
way SimHash-60 was): every arithmetic step is exact integer —
grayscale is (r+g+b)//3, sampling indices are floor divisions, and the
DCT runs against a QUANTIZED integer cosine table (round-half-up of
cos·2¹⁰; max |coefficient| ≤ 255·1024²·64 ≈ 2⁴⁴, exact in int64), with
the median defined as the rank-32 order statistic under (value, bit
index) ordering — no float anywhere, so a DuckDB oracle rebuilds the
signatures bit-for-bit and verifies pairs with a plain all-pairs
Hamming filter.

Scale shape: signatures are one mapInPandas decode pass (same
per-partition, shuffle-free pattern as multimodal.extract_image_meta);
pair generation is the signature-agnostic pigeonhole chunk join
(operators/dedup.py hamming_chunk_pairs) — banded equi-join, complete
within the Hamming ball, never all-pairs.

No analogue in the reference repo (rytakahas/etl-demos) — part of the
LLM-training-data extension surface (multimodal curation).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from etl_demos_spark.operators.dedup import hamming_chunk_pairs, materialize_reused
from etl_demos_spark.operators.multimodal import decode_image

GRID_W = 8  # dHash compares GRID_W+1 sampled columns -> GRID_W bits/row
GRID_H = 8

DHASH_BITS = GRID_H * GRID_W  # 64
PHASH_BITS = 63  # 8x8 DCT minus the DC term

# Quantized type-II DCT basis: T[u][r] = round_half_up(cos(pi*(2r+1)*u/16)
# * 2^10). Hardcoded (not computed at import) so the Spark side and the
# DuckDB oracle share literally the same integers — no trig, no floats.
DCT_T: tuple[tuple[int, ...], ...] = (
    (1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024),
    (1004, 851, 569, 200, -200, -569, -851, -1004),
    (946, 392, -392, -946, -946, -392, 392, 946),
    (851, -200, -1004, -569, 569, 1004, 200, -851),
    (724, -724, -724, 724, 724, -724, -724, 724),
    (569, -1004, 200, 851, -851, -200, 1004, -569),
    (392, -946, 946, -392, -392, 946, -946, 392),
    (200, -569, 851, -1004, 1004, -851, 569, -200),
)


def _gray_int(px):
    """Exact integer grayscale: identity for single-channel, (r+g+b)//3
    for RGB(A) — alpha ignored. int64 out."""
    import numpy as np

    a = np.asarray(px).astype(np.int64)
    if a.ndim == 2:
        return a
    return a[:, :, :3].sum(axis=2) // 3


def _sample_grid(g, n_rows: int, n_cols: int):
    """Point-sample an (n_rows, n_cols) grid: source pixel (r*H//n_rows,
    c*W//n_cols). Floor sampling (not area-average) keeps every value an
    actual pixel byte — the exactness the oracle replays with substr()."""
    import numpy as np

    h, w = g.shape
    rows = (np.arange(n_rows) * h) // n_rows
    cols = (np.arange(n_cols) * w) // n_cols
    return g[np.ix_(rows, cols)]


def dhash_int(px) -> int:
    """64-bit difference hash of a decoded pixel array, as a SIGNED
    int64 (bit 63 = two's-complement sign bit — Spark/DuckDB BIGINT)."""
    s = _sample_grid(_gray_int(px), GRID_H, GRID_W + 1)
    sig = 0
    for r in range(GRID_H):
        for c in range(GRID_W):
            if s[r, c] > s[r, c + 1]:
                sig |= 1 << (r * GRID_W + c)
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def phash_int(px) -> int:
    """63-bit DCT hash of a decoded pixel array (always positive).

    C = T·G·Tᵀ over exact int64; threshold = the rank-32 (1-based) AC
    coefficient under (value, bit index) ordering — the lower median of
    63 values, made deterministic under ties by the index key; bit
    (u*8+v-1) = 1 iff C[u][v] > threshold."""
    import numpy as np

    g = _sample_grid(_gray_int(px), 8, 8)
    t = np.array(DCT_T, dtype=np.int64)
    c = t @ g @ t.T  # exact: |C| <= 255 * 1024^2 * 64 < 2^44
    ac = [(int(c[u, v]), u * 8 + v - 1) for u in range(8) for v in range(8) if u or v]
    thr = sorted(ac)[31][0]
    sig = 0
    for val, bit in ac:
        if val > thr:
            sig |= 1 << bit
    return sig


def _sampled_gray_grids(pxs, n_rows: int, n_cols: int):
    """Stack point-sampled grayscale grids for a BATCH of decoded pixel
    arrays → (n, n_rows, n_cols) int64. Semantically identical to
    ``_sample_grid(_gray_int(px), ...)`` per image, but (a) samples
    FIRST and grays the 72 sampled pixels instead of the whole raster
    (grayscale is pointwise, so sample∘gray ≡ gray∘sample exactly) and
    (b) caches the sampling index vectors per (h, w) — the planted
    corpus has ~13 distinct shapes, and per-image numpy call overhead
    was the measured decode-stage floor (see _dhash_batch)."""
    import numpy as np

    out = np.empty((len(pxs), n_rows, n_cols), dtype=np.int64)
    cache: dict = {}
    for i, px in enumerate(pxs):
        a = np.asarray(px)
        h, w = a.shape[0], a.shape[1]
        rc = cache.get((h, w))
        if rc is None:
            rows = (np.arange(n_rows) * h) // n_rows
            cols = (np.arange(n_cols) * w) // n_cols
            rc = cache[(h, w)] = (rows[:, None], cols)
        s = a[rc[0], rc[1]]
        if a.ndim == 3:
            out[i] = s[..., :3].sum(axis=2, dtype=np.int64) // 3
        else:
            out[i] = s
    return out


def _dhash_batch(grids):
    """Vectorized dHash-64 over stacked (n, GRID_H, GRID_W+1) grids —
    bit-identical to ``dhash_int`` per row (pinned in
    tests/test_image_dedup.py): the gradient-sign bits pack via one
    uint64 weight dot, and the signed-int64 reinterpret IS the
    two's-complement wrap dhash_int applies to bit 63. Replaces the
    per-image 8×8 Python loop (measured 45 µs/image → the whole batch
    in one shot; perf/ab_decode_vectorize_r12.json), per guide §4.2 —
    heavy lifting in vectorized numpy inside the Arrow boundary."""
    import numpy as np

    bits = grids[:, :, :-1] > grids[:, :, 1:]
    flat = bits.reshape(len(grids), GRID_H * GRID_W)
    weights = np.uint64(1) << np.arange(GRID_H * GRID_W, dtype=np.uint64)
    sig = (flat.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
    return sig.view(np.int64)


def _phash_batch(grids):
    """Vectorized pHash-63 over stacked (n, 8, 8) grids — bit-identical
    to ``phash_int`` per row (pinned in tests): the integer DCT runs as
    one batched int64 matmul (exact, |C| ≤ 2⁴⁴), and the rank-32
    (value, bit) order statistic comes from sorting the composite key
    ``val·64 + bit`` (monotone in (val, bit) because 0 ≤ bit < 64;
    arithmetic right-shift by 6 recovers the value exactly, negatives
    included). Bit weights stay in int64 (bit ≤ 62)."""
    import numpy as np

    # DCT_T is 8x8: the pHash grid must not follow the dHash GRID_H
    assert grids.shape[1:] == (8, 8), grids.shape
    t = np.array(DCT_T, dtype=np.int64)
    c = t @ grids @ t.T  # (n, 8, 8), exact int64
    vals = c.reshape(len(grids), 64)[:, 1:]  # AC coeffs; bit = column
    key = vals * 64 + np.arange(63, dtype=np.int64)
    thr = np.sort(key, axis=1)[:, 31] >> 6
    bits = vals > thr[:, None]
    weights = np.int64(1) << np.arange(63, dtype=np.int64)
    return (bits * weights).sum(axis=1, dtype=np.int64)


def _decode_grids(pdf, id_col, content_col, n_rows, n_cols):
    """Decode one Arrow batch to (ids, grids) for the batched hashes."""
    pxs = []
    ids = []
    for id_, content in zip(pdf[id_col], pdf[content_col]):
        _, _, _, px = decode_image(bytes(content))
        ids.append(int(id_))
        pxs.append(px)
    return ids, _sampled_gray_grids(pxs, n_rows, n_cols)


def image_signatures(
    df: DataFrame,
    algo: str = "dhash",
    id_col: str = "id",
    content_col: str = "content",
) -> DataFrame:
    """Perceptual signatures over a binary image column: one Arrow-batch
    mapInPandas decode pass (in-repo PPM/PGM/BMP/PNG codecs), no
    shuffle, content bytes never leave the executor. Hashing runs
    batched (one numpy pass per Arrow batch — _dhash_batch/_phash_batch,
    pinned bit-identical to the scalar forms). Output ``(id, sig)``
    with sig a long."""
    if algo not in ("dhash", "phash"):
        raise ValueError(f"unknown perceptual hash {algo!r}: dhash|phash")
    dhash = algo == "dhash"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids, grids = _decode_grids(
                pdf, id_col, content_col, GRID_H, (GRID_W + 1) if dhash else 8
            )
            sigs = _dhash_batch(grids) if dhash else _phash_batch(grids)
            yield pd.DataFrame({"id": pd.array(ids, dtype="int64"),
                                "sig": sigs})

    return df.select(id_col, content_col).mapInPandas(run, "id long, sig long")


def image_signatures_both(
    df: DataFrame,
    id_col: str = "id",
    content_col: str = "content",
) -> DataFrame:
    """Both perceptual signatures from ONE decode pass — ``(id, dsig,
    psig)``. Decode is the family's scale bottleneck, so the composite
    pair join must not pay it twice; the two hashes share the decoded
    arrays, each hashed in one batched numpy pass."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            pxs, ids = [], []
            for id_, content in zip(pdf[id_col], pdf[content_col]):
                _, _, _, px = decode_image(bytes(content))
                ids.append(int(id_))
                pxs.append(px)
            d_grids = _sampled_gray_grids(pxs, GRID_H, GRID_W + 1)
            # the 8x8 pHash grid subsamples columns of the SAME images —
            # but with its own floor indices, so sample independently
            p_grids = _sampled_gray_grids(pxs, 8, 8)
            yield pd.DataFrame(
                {
                    "id": pd.array(ids, dtype="int64"),
                    "dsig": _dhash_batch(d_grids),
                    "psig": _phash_batch(p_grids),
                }
            )

    return df.select(id_col, content_col).mapInPandas(
        run, "id long, dsig long, psig long"
    )


def image_near_dup_pairs_composite(
    df: DataFrame,
    dhash_hamming: int = 4,
    phash_hamming: int = 6,
    id_col: str = "id",
    content_col: str = "content",
) -> DataFrame:
    """Composite perceptual near-dup pairs: dHash-ball ∪ pHash-ball.

    Single hashes trade off failure modes — a single-pixel edit moves a
    gradient (dHash) signature ≤ a few bits (100% planted-mutant
    recall, SURVEY §16) but SMEARS across all DCT coefficients, so
    pHash alone recovers only ~79% of the same mutants at radius 6;
    conversely global tone shifts move dHash more than pHash. The
    union keeps a pair when EITHER hash is within its radius, so
    composite recall ≥ max(single-hash recalls) by construction
    (measured in tests/test_image_dedup.py's recall table).

    Candidates come from TWO pigeonhole chunk joins (one per signature,
    each complete within its own ball — so the union is complete for
    the OR predicate and a plain all-pairs SQL oracle can verify it).
    Both joins read the same single-decode signature frame
    (:func:`image_signatures_both`); each carries the other signature
    as a pass-through column, so both Hamming distances are map-side
    projections — no second decode, no extra join back.

    Output ``(id_a, id_b, hamming_dhash, hamming_phash)``, each
    unordered pair once."""
    from etl_demos_spark.operators.dedup import (
        hamming64,
        hamming_chunk_keys,
    )

    sigs = materialize_reused(image_signatures_both(df, id_col, content_col))
    keep = (F.col("hamming_dhash") <= dhash_hamming) | (
        F.col("hamming_phash") <= phash_hamming
    )

    def side(sig_col: str, bits: int, h: int, other: str) -> DataFrame:
        keys = hamming_chunk_keys(
            sigs, bits, h, sig_col=sig_col, extra_cols=(other,)
        )
        right = keys.select(
            F.col("id").alias("id2"),
            F.col("sig").alias("sig2"),
            F.col(other).alias("other2"),
            "chunk",
            "val",
        )
        keyed = hamming64(F.col("sig"), F.col("sig2"))
        carried = hamming64(F.col(other), F.col("other2"))
        d, p = (keyed, carried) if sig_col == "dsig" else (carried, keyed)
        return (
            keys.join(right, ["chunk", "val"])
            .filter(F.col("id") < F.col("id2"))
            .select(
                F.col("id").alias("id_a"),
                F.col("id2").alias("id_b"),
                d.alias("hamming_dhash"),
                p.alias("hamming_phash"),
            )
            .filter(keep)
        )

    return (
        side("dsig", DHASH_BITS, dhash_hamming, "psig")
        .unionByName(side("psig", PHASH_BITS, phash_hamming, "dsig"))
        .dropDuplicates(["id_a", "id_b"])
    )


def image_near_dup_pairs(
    df: DataFrame,
    algo: str = "dhash",
    max_hamming: int = 4,
    id_col: str = "id",
    content_col: str = "content",
) -> DataFrame:
    """Near-duplicate image pairs within a Hamming ball: signatures →
    the pigeonhole chunk join (complete within the ball — recall 1, and
    verifiable by an all-pairs oracle). Output ``(id_a, id_b,
    hamming)``, each unordered pair once.

    **Pick max_hamming for the corpus size, not just the recall.** The
    pigeonhole join needs max_hamming+1 chunks, so chunk width is
    bits//(h+1) and random-signature candidate volume is
    ≈ (h+1)·n²/2^(bits//(h+1)) — the radius is in the EXPONENT of the
    bucket count. h=4 over 64 bits → 12-bit chunks (4096 buckets);
    h=10 → 5-bit chunks (32 buckets), which degenerates toward n²/3 at
    web scale. Single-pixel edits move dHash ≤ a few bits (gradient
    domain — measured max 1 on the planted corpus), so small radii
    carry the near-dup story; pHash spreads a local edit across all
    coefficients, so treat it as the confirmatory hash at a modest
    radius rather than chasing its tail with a wide one."""
    sig_bits = DHASH_BITS if algo == "dhash" else PHASH_BITS
    sigs = image_signatures(df, algo, id_col, content_col)
    # both chunk-join sides reference the signature frame; decode once
    # (same eager-materialize rationale as simhash_pairs)
    sigs = materialize_reused(sigs)
    return hamming_chunk_pairs(sigs, sig_bits, max_hamming)


def write_image_signature_store(
    df: DataFrame,
    path: str,
    id_col: str = "id",
    content_col: str = "content",
) -> None:
    """Decode ONCE, persist the 16-bytes-per-image signature store
    ``(id, dsig, psig)`` as parquet — the scale recipe for re-runs
    (VERDICT r10 rec 4): at 100 TB the perceptual family's cost is the
    pure-Python pixel decode in mapInPandas, not the banded join, and
    the decode output is 16 bytes/image of pure function of the
    content. Any later pairs / e2e / incremental run probes the store
    (:func:`pairs_from_signature_store`) instead of re-decoding;
    incremental batches append their survivors
    (incremental_image_dedup already returns the updated store).

    Plugging a NATIVE codec (the measured bottleneck beyond the
    in-repo uncompressed formats): replace
    ``multimodal.decode_image`` — the ONLY pixel entry point this
    family calls — with a binding that returns the same
    ``(w, h, mode, ndarray)`` tuple (e.g. libvips/turbojpeg via a
    pandas-batched FFI). Signatures, chunk joins, stores, and oracles
    are unchanged: everything downstream consumes the decoded array
    through dhash_int/phash_int only."""
    image_signatures_both(df, id_col, content_col).write.mode(
        "overwrite"
    ).parquet(path)


def pairs_from_signature_store(
    spark,
    path: str,
    algo: str = "dhash",
    max_hamming: int = 4,
) -> DataFrame:
    """Near-dup pairs straight from a persisted signature store — the
    re-run path that skips decode entirely. Same pigeonhole chunk join
    and output contract as :func:`image_near_dup_pairs`; the scan
    reads two 8-byte columns (column pruning keeps ``content`` bytes
    out of the plan entirely because they are not even in the store)."""
    if algo not in ("dhash", "phash"):
        raise ValueError(f"unknown perceptual hash {algo!r}: dhash|phash")
    sig_bits = DHASH_BITS if algo == "dhash" else PHASH_BITS
    sigs = spark.read.parquet(path).select(
        "id", F.col("dsig" if algo == "dhash" else "psig").alias("sig")
    )
    return hamming_chunk_pairs(sigs, sig_bits, max_hamming)


def dedup_by_image_hash(
    df: DataFrame,
    algo: str = "dhash",
    max_hamming: int = 4,
    id_col: str = "id",
    content_col: str = "content",
    prefer=None,
) -> DataFrame:
    """End-to-end perceptual image dedup: Hamming-ball pairs →
    connected components → keep one representative per cluster — the
    dedup_by_minhash / dedup_by_embedding composition with the
    perceptual-hash candidate graph. Transitive near-dup chains
    collapse to ONE survivor (pairwise filtering keeps A and C when
    A~B~C but A≁C).

    ``prefer=None`` keeps the min-id member (free — it IS the
    component label); a ``prefer`` column expression keeps the
    highest-scoring member instead (e.g. largest n_bytes = best
    resolution copy)."""
    from etl_demos_spark.operators.dedup import keep_best_per_cluster
    from etl_demos_spark.operators.embedding_dedup import connected_components

    pairs = image_near_dup_pairs(df, algo, max_hamming, id_col, content_col)
    comps = connected_components(pairs)
    if prefer is None:
        losers = comps.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias(id_col)
        )
        return df.join(losers, id_col, "left_anti")
    return keep_best_per_cluster(df, comps, id_col, prefer)


def incremental_image_dedup(
    new_df: DataFrame,
    existing_sigs: DataFrame | None,
    algo: str = "dhash",
    max_hamming: int = 0,
    id_col: str = "id",
    content_col: str = "content",
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW image batch against itself AND a persisted signature
    store — the daily-increment form of the perceptual family
    (incremental_minhash_dedup's shape at the pixel granularity): the
    existing corpus is never re-decoded; per increment the work is one
    decode pass over the batch plus banded key collisions. Only the
    8-byte signatures and their chunk keys ever ship — payload bytes
    stay where they were decoded.

    Policy is **first-seen wins**: a new image within ``max_hamming``
    of the store is dropped; within the batch, clusters keep their
    min id. At ``max_hamming=0`` (exact perceptual match — identical
    signature) the relation is transitive, so repeated application
    over increments equals one global min-per-signature pass — the
    replay identity the registered query certifies. At radius > 0 the
    ball is not transitive and replay equality holds only for
    transitivity-free duplicate sets (the same scoping as the MinHash
    incremental, documented there).

    Returns ``(kept_new_ids, updated_sigs)``: surviving new ids (one
    column, ``id_col``) and the (id, sig) store for the next increment
    (existing ∪ survivors)."""
    from etl_demos_spark.operators.dedup import (
        hamming_chunk_keys,
        hamming_chunk_pairs,
    )
    from etl_demos_spark.operators.embedding_dedup import connected_components

    sig_bits = DHASH_BITS if algo == "dhash" else PHASH_BITS
    new_sigs = image_signatures(new_df, algo, id_col, content_col)
    # referenced by the store probe, the self-join and the survivor
    # anti-join: decode once, truncate the plan (the simhash_pairs /
    # incremental_minhash eager-checkpoint discipline)
    new_sigs = materialize_reused(new_sigs)

    if existing_sigs is not None:
        ex_keys = hamming_chunk_keys(
            existing_sigs.select("id", "sig"), sig_bits, max_hamming
        ).select(F.col("id").alias("id2"), F.col("sig").alias("sig2"), "chunk", "val")
        new_keys = hamming_chunk_keys(new_sigs, sig_bits, max_hamming)
        from etl_demos_spark.operators.dedup import hamming64

        matched = (
            new_keys.join(ex_keys, ["chunk", "val"])
            .filter(hamming64(F.col("sig"), F.col("sig2")) <= max_hamming)
            .select("id")
            .distinct()
        )
        fresh = new_sigs.join(matched, "id", "left_anti")
        fresh = materialize_reused(fresh)
    else:
        fresh = new_sigs

    pairs = hamming_chunk_pairs(fresh, sig_bits, max_hamming)
    comps = connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("id")
    )
    kept = fresh.join(losers, "id", "left_anti")
    updated = (
        kept.select("id", "sig")
        if existing_sigs is None
        else existing_sigs.select("id", "sig").unionByName(kept.select("id", "sig"))
    )
    return kept.select(F.col("id").alias(id_col)), updated
