"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

The published recipe for choosing pretraining data that "looks like" a
target domain without training a model: represent every document as
hashed n-gram counts, fit two bag-of-ngrams distributions (target
corpus vs raw corpus) over the bucket space, weight each raw document
by its log importance ratio Σ cnt_b·(ln p_target(b) − ln p_raw(b)),
and draw the k winners with Gumbel top-k sampling — which equals
sampling without replacement proportionally to the importance weights.

Spark-first shape, every stage scale-shaped:

- features: ONE codegen'd pass (split → unigrams + adjacent bigrams via
  transform/sequence → explode → md5 bucket → count); rows ∝ distinct
  grams per doc. The shuffle is (doc, bucket)-keyed and
  combiner-friendly.
- distributions: two bucket-keyed combiner aggs producing ≤ n_buckets
  rows each — corpus-sized data collapses to a bounded table, the
  sketch discipline.
- scoring: broadcast the ≤ n_buckets log-ratio table, one exact int64
  dot product per doc (no Python, no floats in the aggregation).
- selection: Gumbel keys from the portable md5 uniform, one windowed
  top-k (WindowGroupLimit keeps state at k rows).

Determinism / oracle discipline: log-ratios are quantized to integer
MICRO-nats (1e-6) per bucket — the only libm call shared across
engines sits behind a 1e-6 quantizer (a 1-ulp ln divergence moves
λ·1e6 by ~1e-10, nowhere near a rounding boundary), after which doc
scores are order-independent exact int64 sums both engines agree on
bit-for-bit. The Gumbel key is a deterministic function of doc_id via
the md5 uniform, so "random" selection is replayable AND
cross-engine-checkable — the same trick as trainprep.py's
deterministic corpus shuffle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from etl_demos_spark.operators.matutil import materialize_reused

_UNATS = 1_000_000          # micro-nat quantization of log-ratios
_TWO52 = float(1 << 52)     # 52-bit uniform: exact in double arithmetic


def hashed_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 2048,
) -> DataFrame:
    """Hashed unigram + adjacent-bigram counts per doc (the DSIR
    feature space). Tokens are lowercased whitespace splits with empty
    strings dropped BEFORE bigram formation (positions re-pack, so the
    oracle's filtered-array subscripts line up). All codegen'd:
    transform/sequence builds bigrams without a self-join."""
    from etl_demos_spark.operators.dedup import md5_long

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    d = df.select(id_col, toks.alias("t"))
    bigrams = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("t") - 2),
            lambda i: F.concat_ws(" ", F.element_at("t", i + 1),
                                  F.element_at("t", i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = d.select(
        id_col, F.explode(F.concat("t", bigrams)).alias("gram")
    )
    return (
        grams.select(
            id_col, (md5_long(F.col("gram")) % n_buckets).alias("bucket")
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def dsir_log_ratios(
    feats: DataFrame,
    target_ids: DataFrame,
    id_col: str = "doc_id",
    n_buckets: int = 2048,
) -> DataFrame:
    """Per-bucket quantized importance log-ratio λ(b) = ln p̂_t(b) −
    ln p̂_r(b) with Laplace smoothing (+1 per bucket), as integer
    micro-nats. Two combiner aggs + one tiny outer join — output is
    ≤ n_buckets rows regardless of corpus size; totals ride along via
    a window sum over the bounded table (no driver round-trip).

    Returns (bucket, lr_unats long)."""
    from pyspark.sql import Window as W

    # one pass computes BOTH distributions: flag target membership with
    # a broadcastable left join, then a single bucket-keyed combiner agg
    # carries (raw, target) sums together — half the shuffles of two
    # separate aggregations
    flagged = feats.join(
        target_ids.select(id_col).withColumn("__t", F.lit(1)),
        id_col,
        "left",
    )
    joined = flagged.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("__t") == 1, F.col("cnt")).otherwise(0)
        ).cast("long").alias("ct"),
        F.sum("cnt").cast("long").alias("cr"),
    )
    wall = W.partitionBy()
    tot = joined.select(
        "bucket", "ct", "cr",
        F.sum("ct").over(wall).alias("tott"),
        F.sum("cr").over(wall).alias("totr"),
    )
    lam = (
        F.log((F.col("ct") + 1).cast("double"))
        - F.log((F.col("tott") + F.lit(n_buckets)).cast("double"))
        - F.log((F.col("cr") + 1).cast("double"))
        + F.log((F.col("totr") + F.lit(n_buckets)).cast("double"))
    )
    return tot.select(
        "bucket",
        F.round(lam * F.lit(float(_UNATS)), 0).cast("long").alias("lr_unats"),
    )


def dsir_scores(
    feats: DataFrame,
    ratios: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc importance score: exact int64 Σ cnt·λ_unats against the
    broadcast ≤ n_buckets ratio table — order-independent, engine-
    portable. Returns (id, score_unats long)."""
    j = feats.join(F.broadcast(ratios), "bucket")
    return j.groupBy(id_col).agg(
        F.sum(F.col("cnt") * F.col("lr_unats")).cast("long").alias("score_unats")
    )


def gumbel_key(id_col: Column, score_nats: Column) -> Column:
    """Gumbel top-k key: score + G where G = −ln(−ln(u)) and u is the
    portable md5 uniform u = (h mod 2^52 + 0.5)/2^52 ∈ (0,1) —
    truncated to 52 bits so every step is EXACT double arithmetic (a
    60-bit value would round, and could land on exactly 1.0).
    Deterministic per doc, replayable, reproducible by any engine with
    md5 (the trainprep.py corpus-shuffle discipline). Top-k by this
    key == sampling k without replacement ∝ exp(score)
    (Efraimidis–Spirakis / Gumbel-max)."""
    from etl_demos_spark.operators.dedup import md5_long

    u = (
        (md5_long(id_col.cast("string")) % F.lit(1 << 52)).cast("double")
        + F.lit(0.5)
    ) / F.lit(_TWO52)
    return score_nats - F.log(-F.log(u))


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 2048,
) -> DataFrame:
    """End-to-end DSIR: features → distributions → exact scores →
    Gumbel top-k. Returns the k selected (id, score_unats, rn), rn by
    descending Gumbel key. The hash-certifiable surface is membership,
    rank, and the exact integer scores; the float Gumbel key itself
    stays internal.

    The feature table is consumed three times (target agg, raw agg,
    scoring join), so it is checkpointed (matutil: persist 5.00 vs
    checkpoint 2.20 s medians on the sf0.1 documents corpus). At
    corpus scale you would checkpoint features to parquet instead."""
    from pyspark.sql import Window as W

    feats = materialize_reused(hashed_ngram_features(df, text_col, id_col, n_buckets))
    ratios = dsir_log_ratios(feats, target, id_col, n_buckets)
    scores = dsir_scores(feats, ratios, id_col)
    key = gumbel_key(
        F.col(id_col), F.col("score_unats").cast("double") / F.lit(float(_UNATS))
    )
    # TakeOrdered pre-prune BEFORE the ranking window (the search.py
    # BM25 discipline): a partitionless row_number gets no
    # WindowGroupLimit pushdown (verified on the physical plan), so
    # ranking the raw score table would funnel one row PER CORPUS DOC
    # through a single partition. orderBy+limit instead runs as
    # per-partition partial top-k (TakeOrderedAndProject), and the
    # window then ranks only the k surviving rows. The (key, id) order
    # is total (id tie-break), so membership and rank are unchanged.
    keyed = scores.select(id_col, "score_unats", key.alias("key"))
    topk = keyed.orderBy(F.desc("key"), F.col(id_col).asc()).limit(k)
    wnd = W.partitionBy().orderBy(F.desc("key"), id_col)
    return (
        topk.withColumn("rn", F.row_number().over(wnd).cast("long"))
        .select(id_col, "score_unats", "rn")
    )
