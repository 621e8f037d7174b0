"""Per-layer spans, harvested from Spark's status store, and the
process-tree memory sampler.

A span is a Spark job group the benchmark sets around one of its own
calls into an engine layer; the call's output is forced inside it. After
the call, the stages of the group's jobs are read from
``sc._jsc.sc().statusStore()`` and summed. Nothing inside the engine is
instrumented.
"""

from __future__ import annotations

import os
import threading
from collections import defaultdict

from py4j.protocol import Py4JJavaError

# Stats of a span that runs Spark jobs. Map-only spans (no shuffle, no
# sort) leave out the shuffle and spill bytes, which stay zero there.
STATS = (
    "s",
    "jobs",
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    "failed_tasks",
    "idle_frac",
)
MAP_ONLY = tuple(s for s in STATS if s not in ("shuffle_write_bytes", "spill_bytes"))

# span -> the per-layer metrics it reports (besides the stats above, the
# extra names are counts the benchmark records at that boundary).
SPANS: dict[str, tuple[str, ...]] = {
    "session.start": ("s",),
    "data.scan": STATS + ("plan_ms",),
    "staging.cast": MAP_ONLY,
    "keys.dims": STATS,
    "starjoin.facts": STATS + ("plan_ms",),
    "incremental.write": STATS + ("bytes_written",),
    "incremental.merge": STATS + ("bytes_written",),
    "quality.assert": STATS,
    "dedup.signatures": STATS,
    "dedup.lsh": STATS + ("candidates", "verified", "verified_per_candidate"),
    "embedding_dedup.gemm": MAP_ONLY,
    "embedding_dedup.cc": STATS,
    "image_dedup.decode": MAP_ONLY,
}
UNITS = {
    "s": "s",
    "jobs": "count",
    "run_ms": "ms",
    "cpu_ms": "ms",
    "gc_ms": "ms",
    "plan_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "bytes_written": "bytes",
    "failed_tasks": "count",
    "idle_frac": "1",
    "candidates": "count",
    "verified": "count",
    "verified_per_candidate": "1",
}


def layer_metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = [("traced.round_s", "s")]
    for span, stats in SPANS.items():
        out += [(f"{span}.{st}", UNITS[st]) for st in stats]
    return out


class StatusStore:
    """Sums stage metrics of one job group from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def harvest(self, group: str) -> dict[str, float]:
        # the store is fed asynchronously by the listener bus
        self.jsc.listenerBus().waitUntilEmpty()
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        tot = defaultdict(float)
        tot["jobs"] = len(job_ids)
        for j in job_ids:
            stages = self.store.job(j).stageIds()
            for k in range(stages.size()):
                try:
                    st = self.store.lastStageAttempt(stages.apply(k))
                except Py4JJavaError:  # a stage skipped before it ever ran
                    continue
                tot["run_ms"] += st.executorRunTime()
                tot["cpu_ms"] += st.executorCpuTime() / 1e6
                tot["gc_ms"] += st.jvmGcTime()
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                tot["failed_tasks"] += st.numFailedTasks()
        return tot


def plan_ms(df) -> float:
    """Analysis + optimization + planning time of a DataFrame's query."""
    phases = df._jdf.queryExecution().tracker().phases().values().iterator()
    total = 0.0
    while phases.hasNext():
        total += phases.next().durationMs()
    return total


def _tree_rss_bytes(root: int) -> int:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(d))
    total, stack = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        stack += children[pid]
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled every ``period`` seconds
    since the last ``reset``."""

    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._lock = threading.Lock()
        self._halt = threading.Event()

    def _sample(self) -> int:
        rss = _tree_rss_bytes(os.getpid())
        with self._lock:
            self.peak = max(self.peak, rss)
            return self.peak

    def run(self) -> None:
        while not self._halt.is_set():
            self._sample()
            self._halt.wait(self.period)

    def reset(self) -> None:
        with self._lock:
            self.peak = 0
        self._sample()

    def peak_mb(self) -> float:
        return self._sample() / 2**20

    def stop(self) -> None:
        self._halt.set()
        self.join()
