"""Deduplication family: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point of these operators):

- **Exact**: hash-groupBy on a normalized fingerprint — one shuffle on the
  hash, combiner-friendly, no skew (md5 is uniform). The canonical-doc
  choice (min doc_id) is a deterministic tie-break.
- **N-gram Jaccard**: exact pairwise similarity via an inverted index
  (doc, shingle) self-join. Quadratic in the worst case — used as the
  *oracle* for the approximate paths and for small blocked domains.
- **MinHash + LSH**: the 100 TB path. k independent min-hashes per doc
  (one pass, xxhash64 with k seeds — JVM built-in, no UDF), banded into
  b bands of r rows; docs sharing a band-hash land in the same bucket →
  candidate pairs ∝ true near-dups, not n². Collision probability for
  Jaccard s is 1-(1-s^r)^b (the standard S-curve; Leskovec MMDS ch.3).
- **SimHash**: 64-bit weighted-projection signature; near-dups differ in
  ≤ h bits. Hamming-ball join done by splitting the signature into
  (h+1) chunks (pigeonhole: some chunk matches exactly) — equi-join on
  chunk value, verify Hamming distance on match.

Everything below is pure DataFrame ops — shuffles only on
shingle/band/chunk keys, never a cross join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from etl_demos_spark.operators.matutil import materialize_reused
from etl_demos_spark.operators.text import WORD_RE, fingerprint


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one canonical row (min id) per normalized-text fingerprint.

    NULL text never dedups: fingerprint(NULL) is NULL, and groupBy
    would treat all NULL fingerprints as ONE key — silently deleting
    every null-text row but one, on zero equality evidence. Null-text
    rows instead group under a per-id sentinel key, so each survives.
    (Sentinel form: ``\\x00null:<id>`` — md5 hex can't collide with it.
    Folding the null rows into the SAME aggregation instead of a
    second filtered branch keeps this a single corpus scan with a
    single fingerprint pass; the old two-branch union read and hashed
    the whole corpus twice.)

    CONTRACT: ``id_col`` must be non-null — it is the join-back key,
    and both ``min(id)`` and the null-unsafe left-semi join are
    meaningless for NULL ids. A row with NULL id is dropped (if its
    text is also NULL the sentinel itself evaluates NULL, collapsing
    such rows into one NULL key whose min(id) is NULL, and the semi
    join then matches none of them). Every corpus this engine produces
    carries a non-null doc_id; callers with nullable ids must assign
    one first (e.g. operators.keys.surrogate_key)."""
    key = F.coalesce(
        fingerprint(text_col),
        F.concat(F.lit("\x00null:"), F.col(id_col).cast("string")),
    )
    winners = (
        df.select(F.col(id_col), key.alias("__k"))
        .groupBy("__k")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(winners, id_col, "left_semi")


def duplicate_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-fingerprint multiplicity — the dedup report."""
    return (
        df.select(fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Shingling + exact n-gram Jaccard (inverted-index join)
# ---------------------------------------------------------------------------


def tokenize(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(WORD_RE), F.lit(0))


def shingles_from_tokens(tokens: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams from a *materialized* token array column.

    Keep tokenization in a separate projection: an expression (rather than
    a column reference) used inside the transform lambda is re-evaluated
    per element — with regexp_extract_all that meant ~50 regex scans per
    document (measured 8.8s for 5k docs; <1s after splitting)."""
    tokens = F.col(tokens) if isinstance(tokens, str) else tokens
    count = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(0), count - 1),
        lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
    )
    return F.when(count > 0, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingled_docs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(id, sh) with non-empty shingle arrays — the two-projection shape
    every dedup path starts from.

    The emptiness filter runs on the TOKEN count, not on size(sh):
    filtering on an aliased expression lets predicate pushdown substitute
    the alias and re-evaluate the full shingling (with per-element
    re-tokenization) inside the filter — measured 7s of the 7.4s total.
    ``size(__toks) >= n ⇔ size(sh) > 0`` and costs one regex per row."""
    toked = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra],
        tokenize(text_col).alias("__toks"),
    ).filter(F.size("__toks") >= n)
    return toked.select(
        "id", *extra, shingles_from_tokens("__toks", n).alias("sh")
    )


def exploded_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    extra: tuple[str, ...] = (),
    short_docs: str = "drop",
) -> DataFrame:
    """(id, g) shingle rows WITHOUT per-doc dedup — the codegen'd hot
    path for consumers insensitive to shingle multiplicity (MinHash: the
    min of a multiset equals the min of its set; duplicates cannot move
    any minimum). Construction is arrays_zip of n shifted slice views of
    the once-materialized token array + explode + one row-level
    concat_ws — no higher-order lambdas, unlike shingles_from_tokens'
    transform (interpreted; measured 8× slower on the bigram path, see
    text.exploded_word_ngrams). Tokens stay a separate projection for the
    same alias-substitution reasons as shingled_docs. NOT for exact
    Jaccard or SimHash, where set semantics / vote weights matter.

    ``short_docs``: documents with fewer than n tokens produce no
    n-shingle. ``"drop"`` (default) omits them — right for cross-corpus
    matching (decontamination, fuzzy join), where a sub-n doc simply
    has nothing to match on. ``"whole"`` emits ONE degenerate gram (the
    whole token sequence, '' for empty docs) — required by consumers
    whose CONTRACT covers every input row (the MinHash dedup family:
    without it, sub-n docs get no signature and incremental dedup would
    silently drop unique short documents from its kept set; with it,
    identical short texts dedup exactly and distinct ones survive).

    The "whole" branch is fused into the SAME scan: a union of a
    long-doc branch and a short-doc branch would scan AND tokenize the
    whole corpus twice (two full parquet reads of the dedup family's
    hot input — the r7 plan audit caught exactly that). ``when()`` is
    per-row lazy, so the short rows never evaluate the slice
    expressions and the long rows never evaluate the degenerate gram."""
    toked = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra],
        tokenize(text_col).alias("__toks"),
    )
    m = F.size(F.col("__toks")) - F.lit(n - 1)
    zipped = F.arrays_zip(
        *[F.slice("__toks", i + 1, m).alias(f"t{i}") for i in range(n)]
    )
    if short_docs == "whole":
        # the predicate must name NULL explicitly: under ANSI (Spark 4
        # default) size(NULL) is NULL, so a null-text row would take
        # neither side of a plain comparison — the exact every-row
        # contract "whole" exists to provide. A null text carries no
        # equality evidence, so it gets a per-id unique sentinel gram:
        # the doc keeps a signature (never silently dropped) but can
        # never match anything, unlike '' which dedups all empty docs.
        # The degenerate gram rides in field t0 of a 1-element array of
        # the same struct shape arrays_zip emits; t1.. stay NULL, which
        # concat_ws skips — so one explode serves both branches.
        degenerate = F.struct(
            F.when(
                F.col("__toks").isNull(),
                F.concat(F.lit("\x00null:"), F.col("id").cast("string")),
            )
            .otherwise(F.concat_ws(" ", "__toks"))
            .alias("t0"),
            *[
                F.lit(None).cast("string").alias(f"t{i}")
                for i in range(1, n)
            ],
        )
        arr = F.when(
            F.col("__toks").isNull() | (F.size("__toks") < n),
            F.array(degenerate),
        ).otherwise(zipped)
        rows = toked.select("id", *extra, F.explode(arr).alias("_z"))
    else:
        rows = toked.filter(F.size("__toks") >= n).select(
            "id", *extra, F.explode(zipped).alias("_z")
        )
    return rows.select(
        "id",
        *extra,
        F.concat_ws(" ", *[F.col(f"_z.t{i}") for i in range(n)]).alias("g"),
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Single-expression form (tokenize inlined) — convenience for tiny
    inputs; hot paths use shingled_docs to avoid per-element re-tokenize."""
    return shingles_from_tokens(tokenize(text), n)


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via inverted index:
    explode shingles → self-join on shingle (+ optional blocking key) →
    count intersections → |A∪B| = |A|+|B|−|A∩B|.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    block = [block_col] if block_col else []
    docs = shingled_docs(df, id_col, text_col, n, extra=tuple(block)).withColumn(
        "n_sh", F.size("sh")
    )
    index = docs.select(
        "id", *block, "n_sh", F.explode_outer("sh").alias("g")
    ).filter(F.col("g").isNotNull())
    # Both join sides read the index; materialize it so the
    # scan→tokenize→shingle→explode pipeline runs once, not twice —
    # eager localCheckpoint, not persist(): computed once, plan
    # truncated, and the executor-side blocks are released when the
    # frame is garbage-collected. A persist() here leaks a
    # CacheManager entry per CALL (driver GC never frees those), which
    # thrashes any long-running caller invoking dedup repeatedly
    index = materialize_reused(index)
    left = index
    right = index.select(
        F.col("id").alias("id2"),
        *[F.col(b).alias(f"{b}2") for b in block],
        F.col("n_sh").alias("n_sh2"),
        F.col("g").alias("g2"),
    )
    on = (left["g"] == right["g2"]) & (left["id"] < right["id2"])
    for b in block:
        on = on & (left[b] == right[f"{b}2"])
    inter = (
        left.join(right, on)
        .groupBy("id", "id2", "n_sh", "n_sh2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("n_sh") + F.col("n_sh2") - F.col("n_inter"))
    return (
        inter.select(
            F.col("id").alias("id_a"),
            F.col("id2").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


MERSENNE31 = (1 << 31) - 1

# Bits of signal taken from the md5 digest for the portable base hash:
# 15 hex chars = 60 bits — the widest slice whose conv() result fits a
# signed long without overflow anywhere downstream (affine products stay
# < 2^62 because h < 2^31 after mod p).
MD5_HEX_CHARS = 15
SIMHASH_BITS = 60


def md5_long(col: Column, chars: int = MD5_HEX_CHARS) -> Column:
    """Engine-portable 4·``chars``-bit hash: first ``chars`` hex digits of
    md5 as a long. The repo's cross-engine hash idiom (sampling.py,
    sketches.py `_cms_bucket`): DuckDB reproduces it bit-for-bit as
    ``CAST('0x' || substr(md5(x), 1, chars) AS BIGINT)``, which is what
    lets the MinHash/SimHash dedup family carry full driver hash oracles
    instead of rows-only checks. ~2× the cost of xxhash64 per row
    (still JVM codegen'd); pass ``base_hash="xxhash64"`` to the dedup
    entry points when oracle portability is not needed."""
    return F.conv(F.substring(F.md5(col), 1, chars), 16, 10).cast("long")


def _base_hash(col: Column, base_hash: str) -> Column:
    if base_hash == "md5":
        return md5_long(col)
    if base_hash == "xxhash64":
        return F.xxhash64(col)
    raise ValueError(f"unknown base_hash {base_hash!r}")


def _affine_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic universal-hash family h_i(x) = (a_i·x + b_i) mod p."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "id",
    shingles_col: str = "sh",
    num_hashes: int = 128,
    base_hash: str = "md5",
) -> DataFrame:
    """Per-doc MinHash signature as array<long>, the scalable way.

    Performance note (measured at 5k docs × 52 shingles): evaluating the
    k-hash family inside higher-order lambdas is *interpreted* per element
    in Spark — 33M lambda evals took ~13s. Instead: ONE exploded pass
    computes a base hash per (doc, shingle) — codegen'd — and the k
    hashes are affine transforms of the base hash (universal hashing)
    reduced per doc in one vectorized pass (:func:`_minhash_from_base`).
    Same asymptotics, ~50× constant factor.

    ``base_hash="md5"`` (default) uses the engine-portable md5_long hash,
    making signatures — and everything derived from them — reproducible
    in a DuckDB oracle. ``"xxhash64"`` is the marginally faster
    non-portable variant.

    The mod-p arithmetic keeps every product < 2^62: safe under ANSI
    overflow checking.
    """
    p = F.lit(MERSENNE31).cast("long")
    # explode_outer, not explode: for plain explode the optimizer infers a
    # size(sh)>0 filter and pushes it down, substituting the whole
    # shingling expression into an interpreted per-row filter (measured as
    # the dominant cost of this operator). Inputs are pre-filtered
    # non-empty, so the outer variant is semantically identical.
    base = df.select(
        F.col(id_col).alias("id"), F.explode_outer(shingles_col).alias("g")
    ).filter(F.col("g").isNotNull()).select(
        "id", F.pmod(_base_hash(F.col("g"), base_hash), p).alias("h")
    )
    return _minhash_from_base(base, num_hashes)


def minhash_signatures_from_grams(
    grams: DataFrame,
    id_col: str = "id",
    gram_col: str = "g",
    num_hashes: int = 128,
    base_hash: str = "md5",
) -> DataFrame:
    """minhash_signatures over already-exploded (id, gram) rows (see
    exploded_shingles) — identical signatures, skips the array build and
    the interpreted shingle lambda entirely."""
    p = F.lit(MERSENNE31).cast("long")
    base = grams.select(
        F.col(id_col).alias("id"),
        F.pmod(_base_hash(F.col(gram_col), base_hash), p).alias("h"),
    )
    return _minhash_from_base(base, num_hashes)


def _arrow_exact_id(base: DataFrame):
    """Make the ``id`` column exact through the Arrow→pandas boundary.

    pandas materializes a nullable int64 column as float64 — one null id
    anywhere in an Arrow batch silently rounds every id ≥ 2^53 in that
    batch (verified: 2^53+1 arrives as ...992.0). Integral ids therefore
    round-trip through STRING for the partial stage (exact for all
    int64), restored to the original type after the final combine;
    string ids pass through. Returns (prepared_base, restore_fn), or
    None for id types with no exact string round-trip — the caller
    falls back to the codegen implementation."""
    id_type = dict(base.dtypes)["id"]
    if id_type == "string":
        return base, (lambda df: df)
    if id_type in ("bigint", "int", "smallint", "tinyint"):
        return (
            base.withColumn("id", F.col("id").cast("string")),
            lambda df: df.withColumn("id", F.col("id").cast(id_type)),
        )
    return None


def _minhash_from_base(base: DataFrame, num_hashes: int) -> DataFrame:
    # Shared null-gram contract for BOTH implementations: null base
    # hashes (null grams via the public from_grams entry point) are
    # ignored, and a doc with zero non-null grams yields NO signature
    # row — never an all-null signature that would spuriously bucket
    # with other gram-less docs downstream.
    base = base.filter(F.col("h").isNotNull())
    prepared = _arrow_exact_id(base)
    if prepared is not None:
        return _minhash_from_base_arrow(prepared, num_hashes)
    return _minhash_codegen(base, num_hashes)


def _minhash_codegen(base: DataFrame, num_hashes: int) -> DataFrame:
    """JVM ``groupBy(id)`` of ``num_hashes`` min aggregates over
    null-filtered (id, h) rows: the only path for id types
    :func:`_arrow_exact_id` cannot round-trip, and the bit-identity
    reference the Arrow reduce is tested against. It lost the
    signature stage to the Arrow path at sf0.1 (r7: 2.17 vs 1.74 s
    min, PERF.md; r12 reshaped the Arrow side again,
    perf/ab_sig_combine_r12.json): the k min-agg buffers cost more in
    per-row updates than one vectorized numpy pass costs in Arrow
    transfer."""
    p = F.lit(MERSENNE31).cast("long")
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % p).alias(f"__m{i}")
        for i, (a, b) in enumerate(_affine_params(num_hashes))
    ]
    wide = base.groupBy("id").agg(*aggs)
    return wide.select(
        "id", F.array(*[f"__m{i}" for i in range(num_hashes)]).alias("sig")
    )


def _minhash_from_base_arrow(prepared, num_hashes: int) -> DataFrame:
    """Arrow signature reduction over id-clustered gram rows — one
    shuffle, no wide JVM aggregate (r12 rework, profiled in
    perf/ab_sig_combine_r12.json).

    The previous shape (per-batch partial minima + a JVM
    groupBy(id).agg of ``num_hashes`` array-element mins) spent most of
    its wall NOT moving or reducing data but in the 128-aggregate
    combine plan itself (259-expression analysis/codegen per
    invocation: measured ~1.5-3 s of a ~3-4 s stage at sf0.1, against
    ~0.5 s of actual partial computation). Both shapes pay exactly ONE
    shuffle of comparable volume (partial rows are ~1 KB x n_ids x
    n_partitions vs 25 B x n_grams here, a wash at ~50 grams/doc), so
    the combine bought nothing the repartition doesn't.

    New shape: hash-repartition the narrow (id, h) rows by id (16 B +
    id bytes per row), sort within partitions, then ONE mapInPandas
    pass emits FINAL signatures: within a sorted partition every id's
    grams are contiguous, so per-id minima are one np.minimum.reduceat
    per batch plus a carried boundary row merged across batches. All
    rows of an id land in one partition (hash partitioning, nulls
    included), so per-task state is ONE 128-long carry row — memory is
    Arrow-batch-bounded at any scale, and the sort spills like any
    shuffle sort. Signatures are bit-identical to
    :func:`_minhash_codegen` (min over int64 is order-free; asserted in
    tests/test_dedup.py and by the q_dedup_minhash oracle). Products
    stay < 2^62 (h, a < 2^31), safe in int64. ``prepared`` comes from
    :func:`_arrow_exact_id` (string-typed id, caller's h already
    null-filtered)."""
    import numpy as np
    import pandas as pd

    base, restore = prepared
    params = np.array(_affine_params(num_hashes), dtype=np.int64)
    a, b = params[:, 0], params[:, 1]

    # repartition("id") sizes itself from spark.sql.shuffle.partitions
    # (scale-adaptive via session.py) and co-locates every id's grams;
    # the sort makes them contiguous so the reducer below can stream.
    clustered = base.repartition("id").sortWithinPartitions("id")

    _missing = object()  # null id is a real group — can't use None

    def reduce_sorted(batches):
        carry_id, carry_min = _missing, None
        for pdf in batches:
            if not len(pdf):
                continue
            # h is null-filtered JVM-side, so pandas delivers exact
            # int64 (a null anywhere would flip the column to float64)
            h = pdf["h"].to_numpy(dtype=np.int64)
            m = (h[:, None] * a + b) % MERSENNE31
            ids = pdf["id"].to_numpy()
            bounds = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
            mins = np.minimum.reduceat(m, bounds, axis=0)
            run_ids = ids[bounds]
            if carry_id is not _missing:
                # ids are sorted within the partition, so a batch can
                # only continue the PREVIOUS batch's last id (None ==
                # None is True for the null group)
                if run_ids[0] == carry_id or (
                    run_ids[0] is None and carry_id is None
                ):
                    mins[0] = np.minimum(mins[0], carry_min)
                else:
                    yield pd.DataFrame({"id": [carry_id], "sig": [carry_min]})
            if len(run_ids) > 1:
                yield pd.DataFrame(
                    {"id": run_ids[:-1], "sig": list(mins[:-1])}
                )
            carry_id, carry_min = run_ids[-1], mins[-1]
        if carry_id is not _missing:
            yield pd.DataFrame({"id": [carry_id], "sig": [carry_min]})

    sigs = clustered.mapInPandas(reduce_sorted, "id string, sig array<long>")
    return restore(sigs)


def minhash_signatures_from_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    base_hash: str = "md5",
    short_docs: str = "whole",
) -> DataFrame:
    """(id, sig) MinHash signatures straight from raw documents:
    exploded_shingles(short_docs=...) → minhash_signatures_from_grams,
    with that pipeline's contract corners — sub-n docs carry the
    degenerate whole-text gram under ``short_docs="whole"``, null text
    gets the per-id sentinel gram, a null-id null-text row contributes
    the EMPTY gram to the null-id group (concat_ws skips the NULL
    sentinel field and yields '', never NULL), and all null-id rows
    merge into ONE signature.

    Tokenizing, shingling and hashing stay in the JVM: a fused
    mapInPandas doing all of it per document lost the signature stage
    4.36 vs 1.73 s min at sf0.1 (perf/ab_minhash_fused_r8.json) — the
    per-doc Python loop costs far more than the codegen'd explode+md5,
    and the Arrow transfer it saved was never the bottleneck."""
    grams = exploded_shingles(df, id_col, text_col, n, short_docs=short_docs)
    return minhash_signatures_from_grams(grams, "id", "g", num_hashes, base_hash)


def banded_buckets(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(id, band, bucket) LSH keys from an (id, sig) signature table —
    16 B/row, the only thing the bucket join ever ships.

    The bucket hash stays xxhash64 even when signatures are md5-portable:
    two docs collide in a band iff their signature slices are EQUAL, and
    xxhash64(slice_a) == xxhash64(slice_b) ⇔ slice_a == slice_b up to a
    2^-64 collision — so a DuckDB oracle can band by joining on the raw
    slice without reproducing this hash."""
    return sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice("sig", b * rows + 1, F.lit(rows))
                    ).alias("bucket"),
                ),
            )
        ).alias("bk"),
    ).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )


def _sig_est_jaccard(num_hashes: int):
    return F.size(
        F.filter(F.zip_with("sig", "sig2", lambda a, b: a == b), lambda x: x)
    ) / F.lit(float(num_hashes))


def incremental_minhash_dedup(
    new_df: DataFrame,
    existing_sigs: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    base_hash: str = "md5",
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against itself AND a persisted corpus signature
    store — the daily-increment form: the existing corpus text is never
    re-read and never re-shingled; per increment the work is
    |batch| signatures + banded collisions only.

    ``existing_sigs`` is the (id, sig) table a previous run returned
    (write it out with the corpus; at real scale persist the banded
    bucket keys alongside so the probe side is a pure scan). Policy is
    **first-seen wins**: a new doc matching the existing corpus is
    dropped; within the batch, clusters keep their min id — the same
    semantic as streaming/dedup.py's replay guard, and the policy under
    which repeated application equals one big batch for
    transitivity-free duplicate sets.

    Returns ``(kept_new_ids, updated_sigs)``: the surviving new ids
    (one column, named ``id_col``) and the signature store to persist
    for the next increment (existing ∪ survivors).
    """
    rows = num_hashes // bands
    new_sigs = minhash_signatures_from_docs(
        new_df, id_col, text_col, n, num_hashes, base_hash, short_docs="whole"
    ).persist()
    new_b = banded_buckets(new_sigs, bands, rows)

    est = _sig_est_jaccard(num_hashes)
    if existing_sigs is not None:
        # Referenced by both the band probe and the verify join; if the
        # caller passed a computed frame (not a parquet store) this stops
        # the signature aggregation running twice.
        ex_sigs = existing_sigs.select("id", "sig").persist()
        ex_b = banded_buckets(ex_sigs, bands, rows).select(
            F.col("id").alias("id2"), "band", "bucket"
        )
        cross_cand = (
            new_b.join(ex_b, ["band", "bucket"])
            .select("id", "id2")
            .dropDuplicates(["id", "id2"])
        )
        cross_matched = (
            cross_cand.join(new_sigs, "id")
            .join(
                ex_sigs.select(F.col("id").alias("id2"), F.col("sig").alias("sig2")),
                "id2",
            )
            .withColumn("est", est)
            .filter(F.col("est") >= threshold)
            .select("id")
            .distinct()
        )
        fresh = new_sigs.join(cross_matched, "id", "left_anti")
    else:
        fresh = new_sigs
    # fresh feeds the band self-join (2 sides), both verify joins, the
    # survivor anti-join and the returned store. An eager localCheckpoint
    # (not persist) both computes the corpus probe once AND truncates the
    # plan, so the five downstream references duplicate a LogicalRDD leaf
    # instead of the whole probe tree — self-join plan duplication is
    # what blows up analysis otherwise.
    #
    # NOT fused (r12, VERDICT r11 rec 1 attempted and REJECTED with an
    # interleaved A/B): materializing the batch's banded keys once and
    # deriving the self-join side as new_b ⋉ cross_matched (one banded
    # subtree feeding both probes) measured 9.56 vs 7.89 s median
    # (min 8.10 vs 6.87) on the full query — the two extra eager
    # materialization jobs it requires (new_b, cross_matched; without
    # them the self-join side would re-run the WHOLE unpersisted
    # signature pipeline) cost more than the re-run banded explode over
    # the already-checkpointed fresh frame, which is one narrow
    # projection of 16 B keys.
    fresh = fresh.localCheckpoint(eager=True)
    # the checkpoint materialized everything upstream: release the two
    # scoped persists NOW. Cached plans live in the CacheManager until
    # explicitly unpersisted (driver GC never frees them), so a
    # long-running caller — the streaming near-dedup processor invokes
    # this once per micro-batch — would otherwise leak two cache entries
    # per batch, one of them store-sized, until executors thrash.
    new_sigs.unpersist()
    if existing_sigs is not None:
        ex_sigs.unpersist()

    # within-batch: banded self-join over the docs that survived the
    # corpus probe, then min-id survivor per connected component
    fb = banded_buckets(fresh, bands, rows)
    right = fb.select(F.col("id").alias("id2"), "band", "bucket")
    self_pairs = (
        fb.join(right, ["band", "bucket"])
        .filter(F.col("id") < F.col("id2"))
        .select("id", "id2")
        .dropDuplicates(["id", "id2"])
        .join(fresh, "id")
        .join(
            fresh.select(F.col("id").alias("id2"), F.col("sig").alias("sig2")),
            "id2",
        )
        .withColumn("est", est)
        .filter(F.col("est") >= threshold)
        .select(F.col("id").alias("id_a"), F.col("id2").alias("id_b"))
    )
    from etl_demos_spark.operators.embedding_dedup import connected_components

    comps = connected_components(self_pairs)
    losers = comps.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("id")
    )
    kept = fresh.select("id").join(losers, "id", "left_anti")
    kept_sigs = fresh.join(kept, "id", "left_semi")
    updated = (
        existing_sigs.select("id", "sig").unionByName(kept_sigs)
        if existing_sigs is not None
        else kept_sigs
    )
    return kept.select(F.col("id").alias(id_col)), updated


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    base_hash: str = "md5",
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH, verified with the
    signature-estimated Jaccard (matching fraction of the k min-hashes).

    Shuffles: one on band-hash (bucket join), one on (id_a, id_b) dedup of
    candidates. Never materializes n² pairs.

    The bucket join ships only (id, band, bucket) — 16 B/row; signatures
    (k longs, ~1 KB each) are fetched AFTER candidate dedup by joining
    back to the persisted signature table, so shuffle volume for the join
    is keyed rows, not n·bands signature copies (measured ~60× smaller at
    k=128/32 bands), and the verify joins move only candidate-count rows.
    """
    rows = num_hashes // bands
    # No parallelism floor on the pre-explosion side: interleaved A/B at
    # sf0.1 showed the repartition shuffle of full text bodies costs as
    # much as it buys even on a single-row-group scan, and on any real
    # multi-split corpus the floor is a no-op anyway (see data.py).
    # short_docs="whole": sub-n-token docs carry a degenerate whole-text
    # gram so identical short texts pair and the incremental kept-set
    # contract covers every input row (see exploded_shingles).
    sigs = minhash_signatures_from_docs(
        df, id_col, text_col, n, num_hashes, base_hash, short_docs="whole"
    )
    # reused by banding + both verify fetches — eager localCheckpoint,
    # not persist(): computed once, plan truncated, and the
    # executor-side blocks are released when the frame is
    # garbage-collected. A persist() here leaks a CacheManager entry
    # per CALL (driver GC never frees those), which thrashes any
    # long-running caller invoking dedup repeatedly
    sigs = materialize_reused(sigs)
    banded = banded_buckets(sigs, bands, rows)
    right = banded.select(F.col("id").alias("id2"), "band", "bucket")
    cands = (
        banded.join(right, ["band", "bucket"])
        .filter(F.col("id") < F.col("id2"))
        .select("id", "id2")
        .dropDuplicates(["id", "id2"])
    )
    verified = cands.join(sigs, "id").join(
        sigs.select(F.col("id").alias("id2"), F.col("sig").alias("sig2")), "id2"
    )
    est = F.size(
        F.filter(
            F.zip_with("sig", "sig2", lambda a, b: a == b), lambda x: x
        )
    ) / F.lit(float(num_hashes))
    return (
        verified.select(
            F.col("id").alias("id_a"),
            F.col("id2").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame,
    id_col: str = "id",
    shingles_col: str = "sh",
    base_hash: str = "md5",
    bits: int | None = None,
) -> DataFrame:
    """Per-doc SimHash as ``sig`` long: sign of per-bit vote sums over
    feature hashes (bit set iff strictly more features have it than not;
    deterministic). ``base_hash="md5"`` (default) votes over
    SIMHASH_BITS=60 engine-portable bits (md5_long), so a DuckDB oracle
    reproduces signatures and Hamming distances exactly;
    ``"xxhash64"`` votes over 63 bits of the non-portable hash.

    Same explode + per-doc reduce design as minhash_signatures — per-bit
    voting inside higher-order lambdas is interpreted and ~50× slower
    (measured)."""
    if bits is None:
        bits = SIMHASH_BITS if base_hash == "md5" else 63
    base = df.select(
        F.col(id_col).alias("id"), F.explode_outer(shingles_col).alias("g")
    ).filter(F.col("g").isNotNull()).select(
        "id", _base_hash(F.col("g"), base_hash).alias("h")
    )  # see minhash_signatures for the explode_outer rationale

    # same null contract as _minhash_from_base (entry points already
    # filter null grams; this makes the primitive itself safe)
    base = base.filter(F.col("h").isNotNull())
    prepared = _arrow_exact_id(base)
    if prepared is not None:
        return _simhash_sigs_arrow(prepared, bits)
    return _simhash_codegen(base, bits)


def _simhash_codegen(base: DataFrame, bits: int) -> DataFrame:
    """JVM ``groupBy(id)`` of ``bits`` vote sums over null-filtered
    (id, h) rows, then a ``bits``-branch bit assembly: the only path
    for id types :func:`_arrow_exact_id` cannot round-trip, and the
    bit-identity reference the Arrow reduce is tested against (lost
    the vote stage 5.20 vs 1.97 s median, perf/ab_simhash_sig_r12.json)."""
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << i).cast("long")) != 0, 1).otherwise(-1)
        ).alias(f"__v{i}")
        for i in range(bits)
    ]
    votes = base.groupBy("id").agg(*aggs)
    bit_terms = F.array(
        *[
            F.when(F.col(f"__v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for i in range(bits)
        ]
    )
    return votes.select(
        "id",
        F.aggregate(bit_terms, F.lit(0).cast("long"), lambda acc, b: acc.bitwiseOR(b)).alias(
            "sig"
        ),
    )


def _simhash_sigs_arrow(prepared, bits: int) -> DataFrame:
    """Arrow SimHash over id-clustered gram rows — the
    :func:`_minhash_from_base_arrow` r12 shape: hash-repartition the
    narrow (id, h) rows by id, sort within partitions, then ONE
    mapInPandas pass sums the ±1 vote matrix per contiguous id run
    (np.add.reduceat, one carried boundary row across batches) and
    assembles the FINAL signature long in numpy. Replaces the previous
    per-batch partial votes + ``bits``-aggregate JVM combine +
    ``bits``-branch bit assembly, whose 120+-expression plan cost more
    in analysis/codegen than the stage's actual compute (measured on
    the minhash twin, perf/ab_sig_combine_r12.json). Exact-integer
    votes (order-free sums), arithmetic right-shift extracts
    two's-complement bits exactly like the JVM bitwiseAND path (the
    xxhash64 base hash can be negative), and bit weights stay in int64
    (bit 62 max — ``bits`` ≤ 63). Signatures bit-identical to
    :func:`_simhash_codegen` (asserted in tests/test_dedup.py and by the
    q_dedup_simhash oracle). ``prepared`` comes from
    :func:`_arrow_exact_id` (string-typed id, h null-filtered by the
    caller)."""
    import numpy as np
    import pandas as pd

    base, restore = prepared
    shifts = np.arange(bits, dtype=np.int64)
    weights = np.int64(1) << shifts

    clustered = base.repartition("id").sortWithinPartitions("id")

    _missing = object()  # null id is a real group — can't use None

    def _sig(votes):
        return (votes > 0) @ weights

    def reduce_sorted(batches):
        carry_id, carry_votes = _missing, None
        for pdf in batches:
            if not len(pdf):
                continue
            # h null-filtered JVM-side → exact int64 in pandas (a null
            # would flip the column to float64 and corrupt ≥2^53 hashes)
            h = pdf["h"].to_numpy(dtype=np.int64)
            m = ((h[:, None] >> shifts) & 1) * 2 - 1
            ids = pdf["id"].to_numpy()
            bounds = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
            sums = np.add.reduceat(m, bounds, axis=0)
            run_ids = ids[bounds]
            if carry_id is not _missing:
                if run_ids[0] == carry_id or (
                    run_ids[0] is None and carry_id is None
                ):
                    sums[0] += carry_votes
                else:
                    yield pd.DataFrame(
                        {"id": [carry_id], "sig": [_sig(carry_votes)]}
                    )
            if len(run_ids) > 1:
                yield pd.DataFrame({"id": run_ids[:-1], "sig": _sig(sums[:-1])})
            carry_id, carry_votes = run_ids[-1], sums[-1]
        if carry_id is not _missing:
            yield pd.DataFrame({"id": [carry_id], "sig": [_sig(carry_votes)]})

    sigs = clustered.mapInPandas(reduce_sorted, "id string, sig long")
    return restore(sigs)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def hamming_chunk_keys(
    sigs: DataFrame,
    sig_bits: int,
    max_hamming: int,
    id_col: str = "id",
    sig_col: str = "sig",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Pigeonhole chunk keys for a signature frame: max_hamming+1
    chunks covering ALL ``sig_bits`` (last chunk absorbs the
    remainder) → one (id, sig, chunk, val) row per chunk. Any pair
    within Hamming distance max_hamming shares ≥1 (chunk, val) key —
    the banded probe surface for both the batch self-join
    (:func:`hamming_chunk_pairs`) and the incremental store probe
    (image_dedup.incremental_image_dedup), where only these small keys
    ship, never payloads.

    ``extra_cols`` are carried through unchanged so callers can extend
    the equi-join key (e.g. video frame alignment joins on
    (frame_idx, chunk, val) — operators/video_dedup.py)."""
    k = max_hamming + 1
    chunk_bits = sig_bits // k
    # chunk i covers [starts[i], starts[i+1]); last chunk takes remainder
    starts = [i * chunk_bits for i in range(k)] + [sig_bits]

    def mask(width: int) -> int:
        # a full-64-bit chunk's mask is all-ones = -1 in two's
        # complement; (1<<64)-1 overflows the signed long literal
        m = (1 << width) - 1
        return m - (1 << 64) if m > 0x7FFFFFFFFFFFFFFF else m

    return sigs.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("sig"),
        *[F.col(c) for c in extra_cols],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col(sig_col), starts[i])
                        .bitwiseAND(F.lit(mask(starts[i + 1] - starts[i])))
                        .alias("val"),
                    )
                    for i in range(k)
                ]
            )
        ).alias("ck"),
    ).select(
        "id",
        "sig",
        *extra_cols,
        F.col("ck.chunk").alias("chunk"),
        F.col("ck.val").alias("val"),
    )


def hamming_chunk_pairs(
    sigs: DataFrame,
    sig_bits: int,
    max_hamming: int,
    id_col: str = "id",
    sig_col: str = "sig",
) -> DataFrame:
    """Pairs within a Hamming ball over ANY integer-signature frame via
    the pigeonhole chunk join: split the signature into max_hamming+1
    chunks covering ALL ``sig_bits`` (the last chunk absorbs the
    remainder); any pair within distance max_hamming agrees on ≥1 chunk
    → equi-join per chunk, verify exactly. Full-coverage chunking makes
    the join COMPLETE (recall 1 within the ball), which is what lets a
    DuckDB oracle verify output with a plain all-pairs Hamming filter.

    This is the signature-agnostic core shared by text SimHash
    (:func:`simhash_pairs`) and perceptual image hashes
    (operators/image_dedup.py dHash/pHash) — same join, different
    fingerprint upstream. ``sigs`` should be cheap to recompute or
    already materialized; both join sides reference it.

    Output: ``(id_a, id_b, hamming)`` with id_a < id_b, each unordered
    pair exactly once."""
    chunked = hamming_chunk_keys(sigs, sig_bits, max_hamming, id_col, sig_col)
    right = chunked.select(
        F.col("id").alias("id2"), F.col("sig").alias("sig2"), "chunk", "val"
    )
    # Hamming filter BEFORE the candidate dedup: hamming is a cheap
    # map-side projection (xor + bit_count) of columns the chunk join
    # already carries, while dropDuplicates is a shuffle — filtering
    # first shrinks that shuffle from every chunk-collision candidate
    # (∝ n²/2^chunk_bits per chunk) to just the true near-pairs.
    # dedup∘filter ≡ filter∘dedup here because hamming is a function
    # of the pair key. (r7 interleaved A/B: full pairs 4.2 → 2.6 s at
    # sf0.1, identical output.)
    return (
        chunked.join(right, ["chunk", "val"])
        .filter(F.col("id") < F.col("id2"))
        .select(
            F.col("id").alias("id_a"),
            F.col("id2").alias("id_b"),
            hamming64(F.col("sig"), F.col("sig2")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_hamming: int = 3,
    base_hash: str = "md5",
) -> DataFrame:
    """Text SimHash pairs within a Hamming ball: shingle → signature →
    the signature-agnostic pigeonhole chunk join
    (:func:`hamming_chunk_pairs`). Full-coverage chunking is what makes
    the join COMPLETE (recall 1 within the Hamming ball) — which is also
    why a DuckDB oracle can verify the output with a plain all-pairs
    Hamming filter.
    """
    sig_bits = SIMHASH_BITS if base_hash == "md5" else 63
    docs = shingled_docs(df, id_col, text_col, n)
    sigs = simhash_signatures(docs, "id", "sh", base_hash)
    # reused by both chunk-join sides — eager localCheckpoint, not
    # persist(): computed once, plan truncated, and the executor-side
    # blocks are released when the frame is garbage-collected. A
    # persist() here leaks a CacheManager entry per CALL (driver GC
    # never frees those), which thrashes any long-running caller
    # invoking dedup repeatedly
    sigs = materialize_reused(sigs)
    return hamming_chunk_pairs(sigs, sig_bits, max_hamming)


# ---------------------------------------------------------------------------
# Canonical selection (pairs → clusters → keep one per cluster)
# ---------------------------------------------------------------------------


def dedup_by_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    prefer: Column | None = None,
    base_hash: str = "md5",
) -> DataFrame:
    """End-to-end near-dup dedup: MinHash-LSH pairs → connected
    components → keep one representative per cluster.

    The same composition as embedding_dedup.dedup_by_embedding, with the
    LSH candidate graph instead of the cosine graph: transitive
    near-dup chains collapse to ONE survivor (pairwise-only filtering
    keeps A and C when A~B~C but A≁C — clustering is what makes the
    dedup rate match the true duplicate rate).

    ``prefer=None`` keeps the min-id member (free — it IS the component
    label). A ``prefer`` column expression (e.g. a quality score
    evaluated against ``df``) keeps the highest-scoring member instead —
    the survivor choice production dedup actually wants."""
    from etl_demos_spark.operators.embedding_dedup import connected_components

    pairs = minhash_lsh_pairs(
        df, id_col, text_col, n, num_hashes, bands, threshold, base_hash
    )
    comps = connected_components(pairs)
    if prefer is None:
        losers = comps.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias(id_col)
        )
        return df.join(losers, id_col, "left_anti")
    return keep_best_per_cluster(df, comps, id_col, prefer)


def keep_best_per_cluster(
    df: DataFrame,
    comps: DataFrame,
    id_col: str = "doc_id",
    prefer: Column | None = None,
) -> DataFrame:
    """Survivor selection over a duplicate-cluster labeling
    (``comps``: (node, comp) from connected_components): keep the
    highest-``prefer`` member of each cluster, ties broken by min id;
    ``prefer=None`` (the declared default) degrades to plain min-id
    selection — the dedup_by_minhash policy — instead of crashing.
    Rows in no cluster survive untouched.

    Shape: broadcast-or-shuffle join of the (small, pairs-derived)
    component table to the scored ids, then ONE windowed top-1 per comp —
    Spark's WindowGroupLimit pushes the top-1 below the exchange, so
    state per cluster is one row, never the member list."""
    from pyspark.sql import Window

    if prefer is None:
        prefer = F.lit(0)  # constant score → the id tie-break decides
    scored = df.select(F.col(id_col), prefer.alias("__score")).join(
        comps.withColumnRenamed("node", id_col), id_col
    )
    w = Window.partitionBy("comp").orderBy(
        F.col("__score").desc(), F.col(id_col).asc()
    )
    losers = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Exact duplicated-span detection (ExactSubstr)
# ---------------------------------------------------------------------------


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 10,
) -> DataFrame:
    """Exact duplicated-SPAN detection — the ExactSubstr pass of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499) re-expressed Spark-first. The paper
    builds a suffix array over the concatenated corpus; a distributed
    engine gets the same detection guarantee from fingerprinted sliding
    windows: every ``window``-token window is hashed (md5 → portable,
    the whole pass is DuckDB-twinnable), a window is *duplicated* when
    its fingerprint occurs more than once in the corpus (across or
    within documents — both are repetition the paper removes), and
    overlapping/adjacent duplicated windows merge into maximal
    token-aligned spans per document (gaps-and-islands). Any repeated
    substring of ≥ 2·window−1 tokens is guaranteed to be fully covered
    by flagged windows; shorter repeats (≥ window) are detected at
    window granularity. Downstream removal is one substring op per span.

    Plan shape (the 100 TB argument): tokenize once; windows come from
    ``arrays_zip`` of ``window`` shifted slice views + ``posexplode``
    (codegen'd — the exploded_shingles pattern, no interpreted
    higher-order lambdas); duplicate detection is ONE shuffle keyed on
    the 16-byte fingerprint carrying (id, pos) — corpus text never
    shuffles; span merge is ONE per-doc window pass. Cost ∝ corpus
    tokens + duplicated windows; nothing quadratic, no driver state.

    Returns ``(id, span_start, span_end, span_tokens)`` — token-index
    spans, end-exclusive, maximal (non-overlapping, non-adjacent),
    every span ≥ ``window`` tokens.
    """
    w = window
    _, wins = _window_fingerprints(df, id_col, text_col, w)
    # combiner-friendly multiplicity: a count window partitioned on g
    # has NO map-side combine — a boilerplate fingerprint repeated 10^8
    # times lands every occurrence on one straggler task to be sorted.
    # groupBy collapses per-partition first (the shuffle carries ≤ one
    # row per distinct g per partition), and the semi-join's build side
    # is the deduped multi-occurrence g set — broadcastable while it
    # fits, AQE-skew-splittable when it doesn't.
    multi = (
        wins.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("g")
    )
    kept = wins.join(multi, "g", "left_semi").select("id", "i")
    return _merge_islands(kept, w)


def _window_fingerprints(
    df: DataFrame, id_col: str, text_col: str, w: int
) -> tuple[DataFrame, DataFrame]:
    """(toked, wins): the tokenized corpus ``(id, __toks)`` and its
    md5-fingerprinted ``w``-token sliding windows ``(id, i, g)`` — built
    with arrays_zip over ``w`` shifted slice views + posexplode so the
    whole pass stays in codegen (no interpreted higher-order lambdas).
    ``toked`` keeps ALL docs (removal must pass short docs through);
    windows only come from docs with ≥ w tokens."""
    toked = df.select(
        F.col(id_col).alias("id"), tokenize(text_col).alias("__toks")
    )
    eligible = toked.filter(F.size("__toks") >= w)
    m = F.size(F.col("__toks")) - F.lit(w - 1)
    zipped = F.arrays_zip(
        *[F.slice("__toks", i + 1, m).alias(f"t{i}") for i in range(w)]
    )
    wins = eligible.select("id", F.posexplode(zipped).alias("i", "_z")).select(
        "id",
        F.col("i").cast("long").alias("i"),
        F.md5(
            F.concat_ws(" ", *[F.col(f"_z.t{i}") for i in range(w)])
        ).alias("g"),
    )
    return toked, wins


def _merge_islands(flagged: DataFrame, w: int) -> DataFrame:
    """Merge flagged window positions ``(id, i)`` into maximal token
    spans per doc — the uniform-width [i, i+w) case of
    :func:`_merge_interval_islands`."""
    iv = flagged.select(
        "id",
        F.col("i").cast("long").alias("s"),
        (F.col("i") + F.lit(w)).cast("long").alias("e"),
    )
    return _merge_interval_islands(iv)


def _merge_interval_islands(iv: DataFrame) -> DataFrame:
    """Merge per-doc token intervals ``(id, s, e)`` into maximal
    non-overlapping, non-adjacent spans (gaps-and-islands over
    VARIABLE-width intervals): a new island starts iff its start lies
    strictly past the running max end of everything before it. ONE
    per-doc window pass."""
    from pyspark.sql import Window as W

    byd = W.partitionBy("id").orderBy("s", "e")
    prev_max_e = F.max("e").over(byd.rowsBetween(W.unboundedPreceding, -1))
    isl = iv.select(
        "id",
        "s",
        "e",
        F.when(F.col("s") > prev_max_e, 1).otherwise(0).alias("ni"),
    )
    grp = isl.withColumn(
        "isl",
        F.sum("ni").over(byd.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        grp.groupBy("id", "isl")
        .agg(
            F.min("s").cast("long").alias("span_start"),
            F.max("e").cast("long").alias("span_end"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 10,
) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. 2022, arXiv:2107.06499) —
    the action half of :func:`duplicated_spans`, with keep-FIRST
    semantics: for every duplicated window fingerprint the globally
    first occurrence (ordered by ``(id, position)``) survives; every
    later occurrence is flagged, flagged windows merge into maximal
    spans, and span tokens are cut from the document. Two identical
    documents → the lower-id copy is untouched, the other collapses;
    a self-repeating document keeps its first occurrence only. Output
    text is the normalized token stream re-joined with single spaces
    (the same stream every dedup operator scores on — byte-faithful
    surgery would need character offsets, which regexp tokenization
    does not expose engine-portably; declared, not hidden).

    Plan shape: the fingerprint pass of duplicated_spans, then
    keep-first = ONE row_number per fingerprint partition (16-byte
    keys; corpus text never shuffles), islands merge, and ONE
    anti-join of exploded token positions against the span table —
    spans are ∝ duplicated windows, usually ≪ corpus, so AQE
    broadcasts them. Reconstruction is a per-doc sort of surviving
    (position, token) structs — no driver state, nothing quadratic.

    Returns ``(id, clean_text, kept_tokens, removed_tokens)`` for
    EVERY input document (short and untouched docs pass through)."""
    from pyspark.sql import Window as W

    w = window
    toked, wins = _window_fingerprints(df, id_col, text_col, w)
    order = W.partitionBy("g").orderBy("id", "i")
    ranked = wins.withColumn("rn", F.row_number().over(order))
    # keep-first must protect the first occurrence's OWN tokens: in a
    # self-overlapping repeat (e.g. a periodic doc), the windows at
    # i = f+1 .. f+w-1 duplicate the first occurrence at f but overlap
    # it — removing [i, i+w) whole would gut the very occurrence the
    # semantics promise to keep (a 12-token periodic doc kept 1 token).
    # Clip each flagged window that overlaps its fingerprint's SAME-DOC
    # first occurrence to start at that occurrence's end; first
    # occurrences in other docs don't constrain removal here.
    firsts = ranked.filter(F.col("rn") == 1).select(
        F.col("g"), F.col("id").alias("fid"), F.col("i").alias("fi")
    )
    flagged = (
        ranked.filter(F.col("rn") > 1)
        .join(firsts, "g")
        .select(
            "id",
            F.when(
                (F.col("id") == F.col("fid")) & (F.col("i") < F.col("fi") + w),
                F.col("fi") + w,
            )
            .otherwise(F.col("i"))
            .cast("long")
            .alias("s"),
            (F.col("i") + F.lit(w)).cast("long").alias("e"),
        )
    )
    spans = _merge_interval_islands(flagged).select(
        F.col("id").alias("sid"), "span_start", "span_end"
    )
    pos = toked.select(
        "id", F.posexplode("__toks").alias("i", "tok")
    ).select("id", F.col("i").cast("long").alias("i"), "tok")
    surviving = pos.join(
        spans,
        (pos["id"] == spans["sid"])
        & (pos["i"] >= spans["span_start"])
        & (pos["i"] < spans["span_end"]),
        "left_anti",
    )
    clean = surviving.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("kept_tokens"),
    )
    # coalesce the total too: size(NULL) is NULL under ANSI, and a
    # null-text doc must report (0 kept, 0 removed), not NULL — the
    # kept+removed==total accounting holds for EVERY input row
    totals = toked.select(
        "id",
        F.coalesce(F.size("__toks"), F.lit(0)).cast("long").alias("__n"),
    )
    return totals.join(clean, "id", "left").select(
        "id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
        (F.col("__n") - F.coalesce("kept_tokens", F.lit(0)))
        .cast("long")
        .alias("removed_tokens"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup
# ---------------------------------------------------------------------------


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    mask: int = 16,
) -> DataFrame:
    """Content-defined chunks per document — the rsync/FastCDC idea on
    token streams: cut AFTER token position j whenever the w-token gram
    starting at j hashes to 0 mod ``mask`` (md5_long, engine-portable),
    so expected chunk length is ~``mask`` tokens and boundaries are a
    pure function of LOCAL content. That is the property the fixed
    windows of the ExactSubstr family (duplicated_spans) lack: insert
    one token at the front of a document and every fixed window shifts
    — zero fingerprint matches — while CDC boundaries resynchronize at
    the next content-defined cut, so all chunks after it match the
    original verbatim (asserted in tests/test_dedup.py). This is the
    sub-document dedup granularity for corpora of near-identical long
    documents (boilerplate headers, license stamps, quoted replies).

    Plan shape: one codegen pass (posexplode of arrays_zip(tokens,
    w shifted slice views) → one md5 per token position), one per-doc
    window cumsum for chunk ids, one (id, chunk) groupBy to rebuild
    chunk text. All keys are bounded per-doc or uniform hashes — no
    skew, nothing quadratic, ~3 keyed shuffles at any scale.

    Sub-``w``-token docs form one whole-text chunk (no gram ⇒ no cut);
    empty/null text yields no rows. Returns one row per (doc, chunk):
    ``(id, chunk_idx, chunk_text, chunk_tokens, chunk_fp)``.

    CONTRACT: ``id_col`` must be non-null — it is the window-partition
    key for chunk assignment AND the join-back key downstream
    (:func:`remove_duplicated_cdc_chunks`). Multiple NULL-id documents
    would merge into ONE window partition with duplicate token
    positions ``p``, making chunk boundaries nondeterministic across
    runs; NULL-id rows are therefore dropped up front (same contract
    and remedy as :func:`exact_dedup` — assign ids first, e.g.
    operators.keys.surrogate_key)."""
    from pyspark.sql import Window as W

    toked = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("id"), tokenize(text_col).alias("__toks")
    )
    m = F.size(F.col("__toks")) - F.lit(w - 1)
    # arrays_zip pads the shorter slice views with NULL structs, so the
    # zip has one entry per TOKEN; gram validity is the p < m bound.
    # slice length clamps at 0: sub-(w-1)-token docs would otherwise
    # feed slice() a negative length, which throws under Spark 4
    m_len = F.greatest(m, F.lit(0))
    zipped = F.arrays_zip(
        F.col("__toks").alias("tok"),
        *[F.slice("__toks", i + 1, m_len).alias(f"t{i}") for i in range(w)],
    )
    pos = toked.select(
        "id", m.alias("__m"), F.posexplode(zipped).alias("p", "_z")
    ).select(
        "id",
        F.col("p").cast("long").alias("p"),
        F.col("_z.tok").alias("tok"),
        (
            (F.col("p") < F.col("__m"))
            & (
                F.pmod(
                    md5_long(
                        F.concat_ws(
                            " ", *[F.col(f"_z.t{i}") for i in range(w)]
                        )
                    ),
                    F.lit(mask),
                )
                == 0
            )
        ).alias("bp"),
    )
    prev = (
        W.partitionBy("id")
        .orderBy("p")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    chunked = pos.select(
        "id",
        "p",
        "tok",
        F.coalesce(
            F.sum(F.col("bp").cast("long")).over(prev), F.lit(0)
        ).alias("chunk_idx"),
    )
    return chunked.groupBy("id", "chunk_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("chunk_text"),
        F.count(F.lit(1)).cast("long").alias("chunk_tokens"),
    ).withColumn("chunk_fp", F.md5("chunk_text"))


def cdc_duplicate_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    mask: int = 16,
) -> DataFrame:
    """Cross-corpus duplicated-chunk report over :func:`cdc_chunks`:
    one row per chunk fingerprint that occurs more than once —
    ``(chunk_fp, n_copies, n_docs, chunk_tokens)``. n_docs < n_copies
    means self-repetition inside documents; n_docs > 1 means shared
    boilerplate across documents. The fingerprint groupBy is a uniform
    md5 key — skew-free at any corpus size."""
    chunks = cdc_chunks(df, id_col, text_col, w, mask)
    return (
        chunks.groupBy("chunk_fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct("id").cast("long").alias("n_docs"),
            F.min("chunk_tokens").cast("long").alias("chunk_tokens"),
        )
        .filter(F.col("n_copies") > 1)
    )


def _rebuild_from_surviving_chunks(
    df: DataFrame, surviving: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Shared tail of the chunk-removal family: rebuild each document's
    text from its SURVIVING chunks (ordered by chunk_idx) and account
    kept/removed against the document's true token total. One row per
    non-null-id input doc: (id, clean_text, kept_tokens, removed_tokens);
    null/empty text passes through as empty with full accounting."""
    clean = surviving.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
                lambda x: x["chunk_text"],
            ),
            " ",
        ).alias("clean_text"),
        F.sum("chunk_tokens").cast("long").alias("kept_tokens"),
    )
    totals = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.coalesce(F.size(tokenize(text_col)), F.lit(0))
        .cast("long")
        .alias("__n"),
    )
    return totals.join(clean, "id", "left").select(
        "id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
        (F.col("__n") - F.coalesce("kept_tokens", F.lit(0)))
        .cast("long")
        .alias("removed_tokens"),
    )


def remove_duplicated_cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    mask: int = 16,
) -> DataFrame:
    """The action half of :func:`cdc_chunks` — keep-FIRST sub-document
    dedup at chunk granularity: for every chunk fingerprint the
    globally first occurrence (ordered by ``(id, chunk_idx)``)
    survives; every later copy is cut, and each document's text is
    rebuilt from its surviving chunks. Because CDC chunks are DISJOINT
    by construction (unlike the overlapping fixed windows of
    remove_duplicated_spans) there is no island merging and no
    position anti-join: one row_number per fingerprint partition and a
    per-doc re-join of survivors is the whole plan — two keyed
    shuffles on uniform hashes, nothing quadratic.

    Returns ``(id, clean_text, kept_tokens, removed_tokens)`` for
    EVERY input document with a non-null id (null/empty TEXT passes
    through as empty; NULL-ID rows are dropped per the
    :func:`cdc_chunks` contract — they cannot be joined back)."""
    from pyspark.sql import Window as W

    chunks = cdc_chunks(df, id_col, text_col, w, mask)
    order = W.partitionBy("chunk_fp").orderBy("id", "chunk_idx")
    surviving = (
        chunks.withColumn("rn", F.row_number().over(order))
        .filter(F.col("rn") == 1)
    )
    return _rebuild_from_surviving_chunks(df, surviving, id_col, text_col)


def incremental_cdc_dedup(
    batch: DataFrame,
    chunk_store: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    mask: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Chunk-level keep-first dedup of a NEW batch against a persisted
    chunk-fingerprint store — the daily-increment form of
    :func:`remove_duplicated_cdc_chunks`, and the exact-granularity
    twin of :func:`incremental_minhash_dedup`: the existing corpus
    text is never re-read and never re-chunked; per increment the work
    is |batch| chunking + one fp-keyed anti-join against the store.

    ``chunk_store`` is the one-column ``(chunk_fp)`` frame a previous
    call returned (persist it with the corpus; at real scale it is a
    parquet table the anti-join probes — fingerprints only, never
    chunk text, so the probe side stays bytes-per-chunk tiny).

    Policy is **first-seen wins** at chunk granularity: a batch chunk
    whose fingerprint is already in the store is cut; within the
    batch, the earliest (id, chunk_idx) copy survives — so replaying
    increments b₀, b₁, … equals one global keep-first pass ordered by
    (batch, id, chunk_idx). That replay-equals-batch identity is what
    the q_dedup_cdc_incremental oracle certifies.

    Returns ``(clean, updated_store)``: per-batch-doc rebuilt text
    with kept/removed accounting (the remove_duplicated_cdc_chunks
    contract), and store ∪ ALL batch fingerprints (survivors and
    within-batch duplicates alike — both are now "seen").

    The batch's chunk set feeds three consumers (survivor filter,
    rebuild, store update); an eager localCheckpoint computes it once
    and truncates the growing replay lineage, same as the minhash
    incremental path."""
    from pyspark.sql import Window as W

    chunks = cdc_chunks(batch, id_col, text_col, w, mask).localCheckpoint(
        eager=True
    )
    order = W.partitionBy("chunk_fp").orderBy("id", "chunk_idx")
    first_in_batch = (
        chunks.withColumn("rn", F.row_number().over(order))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    surviving = (
        first_in_batch.join(chunk_store, "chunk_fp", "left_anti")
        if chunk_store is not None
        else first_in_batch
    )
    clean = _rebuild_from_surviving_chunks(batch, surviving, id_col, text_col)
    batch_fps = chunks.select("chunk_fp").distinct()
    updated = (
        chunk_store.unionByName(batch_fps).distinct()
        if chunk_store is not None
        else batch_fps
    )
    return clean, updated
