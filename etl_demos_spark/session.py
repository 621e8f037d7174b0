"""SparkSession factory and runtime tuning.

Scale notes (100 TB design envelope):
- AQE on everywhere: runtime coalescing of shuffle partitions, skew-join
  splitting and dynamic join-strategy demotion are the difference between a
  plan that works at sf0.1 and one that works at 1000 executors.
- ``spark.sql.shuffle.partitions`` is a *default*, not a tuning commitment:
  with AQE coalescing enabled we set it high-ish and let runtime statistics
  shrink it. On a real cluster this would be ~2-3x total executor cores.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle (naive timestamps).
- ``nanosAsLong``: the driver testdata's events table stores TIMESTAMP(NANOS)
  which Spark's vectorized Parquet reader rejects; reading nanos as long and
  converting explicitly keeps the scan vectorized (see data.load_events).
- Sessions built by ``get_spark`` own their Python worker daemon
  (``etl_demos_spark.pydaemon``): it stops every Python task re-reading
  the directories of ``pyspark.zip``, py4j's zip and the Spark jar —
  150-250 ms per task before CPython 3.13, the bulk of what looked like
  Python/Arrow boundary cost (PERF.md, "the per-task zip re-read"). On
  CPython >= 3.13, whose zip importers invalidate lazily, it installs
  nothing and runs the stock daemon. The daemon module is a static conf,
  so a session handed in by a harness (``configure_runtime``) keeps
  Spark's.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Where the workers import etl_demos_spark (and so the daemon) from.
_PACKAGE_PARENT = str(Path(__file__).resolve().parent.parent)

# Runtime-settable confs applied to ANY session (including one handed to us
# by an external harness). Keep strictly to confs Spark allows at runtime.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # testdata events.parquet uses TIMESTAMP(NANOS); read as long + convert.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any pandas interchange (UDF paths, toPandas in tests/bench).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Coalesce shuffle partitions by SIZE, not up to max parallelism: the
    # default (parallelismFirst=true) pads every small intermediate shuffle
    # out to the core count, so a multi-stage pipeline (MinHash banding:
    # agg → band join → dedup → verify) pays ~64 near-empty tasks per stage
    # — measured 5.5s → 3.6s on the cold minhash path at sf0.1. Size-first
    # is also the setting Spark's own docs recommend for production: at
    # real scale partitions hit the advisory size anyway and this flag is
    # moot; it only changes behavior where partitions are tiny.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Whole-stage codegen bails out above 100 fields by default. The
    # MinHash signatures are an Arrow reducer now; only its codegen form
    # (dedup._minhash_codegen: the fallback for ids Arrow cannot group, and
    # the tests' reference) carries 128 min-buffers, which fell back to
    # interpreted evaluation (measured ~25% slower). Any wide
    # agg/projection under 256 fields stays codegen'd.
    "spark.sql.codegen.maxFields": "256",
}


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent).

    Call this at the top of every externally-invoked entry point: the
    driver/harness owns the session there and we cannot rely on builder-time
    configuration.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not settable at runtime in this build — non-fatal.
            pass
    return spark


def get_spark(
    app_name: str = "etl_demos_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local session shaped like a scaled-down cluster.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real cluster
    the master/deploy settings come from spark-submit; everything else here
    still applies.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # 128 MiB input splits: good default for both local[32] and clusters.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Long-lived-session hygiene: the status store retains per-query
        # plan graphs/metrics even with the UI disabled (defaults: 1000
        # SQL executions, 1000 jobs/stages) — with this engine's wide
        # plans that is hundreds of MB over a marathon session and was
        # observed to OOM a single session late in a 460+-test run. Cap
        # retention and GC cleaner-tracked state often enough to matter.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "2000")
        # Periodic full GC: 10min default. The round-4 value (2min) was
        # marathon-test OOM protection, but a measured interleaved
        # A-B-A-B (PERF.md, "Round-5: attribution of the r04 +13%
        # shared-set bench drift") showed it taxes a bench-length session
        # ~6% — System.gc() pauses land inside whichever query is
        # running. 10min still bounds cleaner state on multi-hour
        # sessions; the pytest conftest opts back into 2min via
        # extra_confs for the marathon suite where the OOM risk lives.
        .config("spark.cleaner.periodicGC.interval", "10min")
        .config("spark.python.daemon.module", "etl_demos_spark.pydaemon")
    )
    confs = {**RUNTIME_CONFS, **(extra_confs or {})}
    # the workers must import the daemon even when the driver runs outside
    # the checkout with no PYTHONPATH
    confs["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        filter(None, (_PACKAGE_PARENT, confs.get("spark.executorEnv.PYTHONPATH")))
    )
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # If getOrCreate returned a pre-existing session, still enforce runtime confs.
    return configure_runtime(spark)
