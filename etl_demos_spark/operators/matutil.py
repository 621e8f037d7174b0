"""Materialization of multi-consumer / per-iteration frames.

A frame consumed a handful of times inside one operator call is
``localCheckpoint``'d, never ``persist()``'d. The round-6 interleaved
A/Bs (PERF.md, "Round-6" sections) settled it:

- ``persist()`` builds a COLUMNAR compressed in-memory cache, and for
  diverse intermediate tables the build costs more than it saves:
  q_gap_fill persist 0.641 vs checkpoint 0.451 s median (recompute
  0.455), dsir features persist 5.00 vs checkpoint 2.20 s, q_pagerank
  11.00 vs 4.40 s, q_label_prop 7.35 vs 5.57 s. With no unpersist
  point (the returned lazy frame references the intermediate) every
  call also leaks a CacheManager entry that driver GC never frees.
- ``localCheckpoint`` writes raw blocks (cheap), truncates the plan
  (keeps iterative lineage linear), and its blocks are freed by the
  ContextCleaner when the frame is garbage collected.

Persist won only on pathologically compressible tables (a 1M-doc
corpus of 40 distinct texts) and on large many-times-reread ones (BFS
at 2M nodes, ~6%); real corpora at the measured scales sit on the
checkpoint side.

Sites where materialization is a correctness requirement (the CSV
corrupt-record read) call ``localCheckpoint`` directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize_reused(df: DataFrame) -> DataFrame:
    """Materialize a frame that is consumed multiple times within one
    operator call (or once per iteration round)."""
    return df.localCheckpoint(eager=True)


def materialize_stats(df: DataFrame, *aggs):
    """Materialize a reused frame AND compute routing statistics in the
    SAME job: the checkpoint is marked lazily and the caller's aggregate
    is the action that materializes it, so size-routing probes
    (graph.py, embedding_dedup.py) cost zero extra jobs — previously an
    eager checkpoint job plus a dedicated ``count()`` job per operator
    call (VERDICT r11 rec 7). Returns ``(materialized_df, Row)`` where
    Row holds the requested aggregates."""
    out = df.localCheckpoint(eager=False)
    return out, out.agg(*aggs).collect()[0]
