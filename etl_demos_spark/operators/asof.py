"""As-of (time-series) join — an operator Spark has no built-in for.

Semantics: for each left row, attach the most recent right row with
``right.ts <= left.ts`` per key (backward as-of; the financial tick-join).

Implementation is the union-and-carry formulation, which is the
shuffle-minimal way to express as-of in pure DataFrame ops:
tag both sides, union, then one window pass per key ordered by (ts, tag)
carrying the last-seen right row forward (``last(..., ignorenulls)``),
and keep the left rows. Cost: ONE shuffle of left+right on the key —
same as a single sort-merge join — versus the naive range-join
(inequality theta join → broadcast-nested-loop, quadratic per key).

Tie rule: a right row at exactly left.ts matches (right sorts before left
at equal ts via the tag), mirroring ASOF JOIN's inclusive bound.

At 100 TB: partitions by key like any keyed shuffle; skewed keys respond
to the same salting/AQE toolbox. If both sides are bucketed+sorted by
(key, ts), the exchange disappears entirely.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from etl_demos_spark.operators.matutil import materialize_reused


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    ts_col: str = "ts",
    right_ts_col: str | None = None,
    carry: Sequence[str] = (),
    suffix: str = "_asof",
) -> DataFrame:
    """Left as-of join: every ``left`` row + the latest ``right`` row at or
    before its timestamp, per ``on`` key. Unmatched lefts keep NULLs
    (LEFT ASOF semantics). ``carry`` names the right columns to attach
    (output as ``<name><suffix>``, plus ``<ts_col><suffix>``).
    """
    right_ts_col = right_ts_col or ts_col
    on = list(on)
    carry = list(carry)

    l_tag = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__r_{c}") for c in carry],
        F.lit(None).cast(dict(right.dtypes)[right_ts_col]).alias("__r_ts"),
    )
    r_tag = right.select(
        *[F.col(c) for c in on],
        F.col(right_ts_col).alias(ts_col),
        *[F.lit(None).cast(t).alias(c) for c, t in left.dtypes if c not in on and c != ts_col],
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in carry],
        F.col(right_ts_col).alias("__r_ts"),
    ).select(*l_tag.columns)

    unioned = l_tag.unionByName(r_tag)
    # total order: (ts, side) alone leaves ties between multiple right
    # rows at the same (key, ts) to shuffle luck — last(...) would carry
    # whichever tied row happened to sort last, flipping across runs and
    # partitionings (and against the DuckDB oracle). The carried right
    # columns themselves break the tie deterministically: identical
    # carried payloads tie harmlessly.
    tie_cols = [F.col(f"__r_{c}") for c in sorted(carry)] + [F.col("__r_ts")]
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(ts_col), F.col("__side"), *tie_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        *[c for c in unioned.columns if not c.startswith("__")],
        F.col("__side").alias("__side"),
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"{c}{suffix}")
            for c in carry
        ],
        F.last("__r_ts", ignorenulls=True).over(w).alias(f"{ts_col}{suffix}"),
    )
    return carried.filter(F.col("__side") == 1).drop("__side")


def first_response_join(
    df: DataFrame,
    key_cols: tuple[str, ...],
    ts_col: str,
    event_col: str,
    first: str,
    then: str,
    within: str,
) -> DataFrame:
    """Temporal pattern join (CEP-lite "A followed by B within T"): for
    every ``first`` event, the EARLIEST ``then`` event by the same key
    strictly after it and within ``within`` — the conversion-latency /
    response-time primitive funnels can't express (the funnel uses
    first occurrences only; this pairs every A).

    Plan: two filtered scans of the same input → per-key equi-join with
    the time band as a join-level predicate → min-aggregate per (key,
    a_ts). The join is keyed (never a cross join); per-key fan-out is
    |A per key| × |B per key|, bounded by per-key activity, and AQE
    skew-split handles hot keys. The min collapses before anything
    leaves the aggregation. Streaming twin:
    :func:`etl_demos_spark.streaming.stateful.stream_first_response`.

    Output: (*key_cols, a_ts, b_ts) — one row per matched A.
    """
    a = df.filter(F.col(event_col) == first).select(
        *key_cols, F.col(ts_col).alias("a_ts")
    )
    b = df.filter(F.col(event_col) == then).select(
        *key_cols, F.col(ts_col).alias("b_ts")
    )
    j = a.join(b, list(key_cols)).filter(
        (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"interval {within}"))
    )
    return j.groupBy(*key_cols, "a_ts").agg(F.min("b_ts").alias("b_ts"))


def resample_locf(
    df: DataFrame,
    ts_col: str,
    key_cols: tuple[str, ...],
    agg_exprs: tuple,
    step: str = "1 hour",
    fill_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Regular-grid resampling with last-observation-carried-forward —
    the time-series gap-fill (locf) every metrics/sensor pipeline needs
    before joins or models that assume a dense grid.

    Three cheap stages: (1) bucket + aggregate observations to the step
    grid (one combiner shuffle); (2) per key, generate the FULL grid
    from its min/max bucket (sequence+explode off a tiny per-key agg —
    never a driver loop, never a calendar table scan); (3) left-join
    observations onto the grid and forward-fill ``fill_cols`` with
    ``last(ignorenulls)`` over the per-key time order — one window pass,
    state per key is one row. Output marks ``was_observed`` so callers
    can distinguish carried values.

    The observation aggregation must be provided decimal-exact
    (repo float conventions) for cross-engine stability.
    """
    trunc_unit = {"1 hour": "hour", "1 day": "day", "1 minute": "minute"}.get(step)
    if trunc_unit is None:
        raise ValueError(
            f"step {step!r} unsupported — use '1 minute'/'1 hour'/'1 day' "
            "(arbitrary steps need a window-start formula, not date_trunc)"
        )
    bucket = F.date_trunc(trunc_unit, F.col(ts_col))
    # obs feeds BOTH the per-key min/max spine agg and the grid join —
    # unmaterialized, the full input scan + bucket aggregation (the
    # operator's only corpus-sized shuffle) would run twice. Checkpoint,
    # not persist(): see matutil (q_gap_fill persist 0.641 vs
    # checkpoint 0.451 s median, PERF.md round 6).
    obs = materialize_reused(
        df.withColumn("__b", bucket)
        .groupBy(*key_cols, "__b")
        .agg(*agg_exprs, F.count(F.lit(1)).cast("long").alias("__n_obs"))
    )
    spine = (
        obs.groupBy(*key_cols)
        .agg(F.min("__b").alias("__lo"), F.max("__b").alias("__hi"))
        .select(
            *key_cols,
            F.explode(
                F.sequence("__lo", "__hi", F.expr(f"interval {step}"))
            ).alias("__b"),
        )
    )
    joined = spine.join(obs, [*key_cols, "__b"], "left")
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # was_observed comes from the bucket's own row count, NOT from a
    # fill column's NULL-ness: a bucket whose aggregate is NULL (sum
    # over all-NULL values) IS observed and must not be reported as
    # carried. This also makes fill_cols=() (the declared default,
    # which previously crashed on fill_cols[0]) a working grid-densify
    # with no forward fill.
    out = joined.withColumn(
        "was_observed",
        F.when(F.col("__n_obs").isNotNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("long"),
    ).drop("__n_obs")
    for c in fill_cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out.withColumnRenamed("__b", "bucket_ts")
