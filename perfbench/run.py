"""Benchmark entry point.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Generates the seed's inputs (cached
under ``perfbench/.work``), computes the expected output digests with
DuckDB (cached too), then runs the workload in one process against a
local Spark session at ``local[nproc-1]``:

1. set-up (``setup_s``): the engine is imported, the session built
   (JVM launch included) and the workload's inputs registered; the
   input generation and the oracle in between are not counted;
2. a cold round (``cold_round_s``), one untimed warm-up round;
3. timed rounds, one after another, until ``--seconds`` is used up
   (at least ``MIN_TIMED``); ``round_s`` is their median.
   ``peak_rss_mb`` is the median of the peak resident memory of the
   warm-up and timed rounds.

Every round deletes what it wrote, and between rounds the cache is
cleared and the JVM collects garbage, so every round does the same work.
Every op's output is checked against the oracle in every round.

The last stdout line is the result object. With ``--trace 1`` its metrics
are the per-layer metrics of ``spans.SPANS``; otherwise the end-to-end
metrics. The line before it carries the details: inputs, sample counts.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
MIN_TIMED = 2
CORES = max(1, len(os.sched_getaffinity(0)) - 1)
WORKLOADS = ("warehouse", "near_dedup")
END_TO_END = [
    ("setup_s", "s"),
    ("cold_round_s", "s"),
    ("round_s", "s"),
    ("peak_rss_mb", "MB"),
    ("write_amp", "1"),
]


class Round:
    """One pass of a workload: times ops, checks digests, harvests spans."""

    def __init__(self, bench, index: int, timed: bool):
        self.bench, self.index = bench, index
        self.spark, self.inputs = bench.spark, bench.inputs
        # spans are harvested in the timed rounds of a traced run only
        self.trace = bench.trace and timed
        self.out = WORK / "out" / f"{bench.workload}-{os.getpid()}"
        shutil.rmtree(self.out, ignore_errors=True)
        self.out.mkdir(parents=True)
        self.seconds = self.check_s = 0.0
        self.ops: dict[str, float] = {}
        self.bytes_written = 0
        self.layers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._planned = []

    def force(self, df):
        """Materialize ``df`` at the span boundary."""
        self._planned.append(df)
        return df.localCheckpoint(eager=True)

    def count(self, span: str, **counts) -> None:
        self.layers[span].update(counts)

    def op(self, span, name, fn, digest=None, written: Path | None = None, check=True):
        """Time ``fn`` under ``span``; then, untimed, harvest the span and
        check the output digest (unless ``check`` is false: an
        intermediate step whose result a later op checks)."""
        from oracle import spark_digest
        from spans import plan_ms

        sc = self.spark.sparkContext
        group = f"{span}#{self.index}#{name}"
        sc.setJobGroup(group, group)
        before = _parquet_files(written) if written else {}
        self._planned = []
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # counted as a failed op; the round goes on
            traceback.print_exc()
            sc.setJobGroup("check", "check")
            self.bench.fail(name, repr(e))
            return None
        dt = time.perf_counter() - t0
        sc.setJobGroup("check", "check")
        self.seconds += dt
        self.ops[name] = dt
        layer = self.layers[span]
        layer["s"] += dt
        if written:
            new = sum(s for ino, s in _parquet_files(written).items() if ino not in before)
            self.bytes_written += new
            layer["bytes_written"] += new
        if self.trace:
            for k, v in self.bench.store.harvest(group).items():
                layer[k] += v
            layer["plan_ms"] += sum(plan_ms(df) for df in self._planned)
        if not check:
            return out
        c0 = time.perf_counter()
        try:
            self.bench.check(name, (digest or spark_digest)(out))
        except Exception as e:
            traceback.print_exc()
            self.bench.fail(name, repr(e))
        self.check_s += time.perf_counter() - c0
        return out

    def close(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


def _parquet_files(path: Path) -> dict[int, int]:
    out = {}
    for p in path.rglob("*.parquet"):
        st = p.stat()
        out[st.st_ino] = st.st_size
    return out


class Bench:
    def __init__(self, args, inputs: Path, expected: dict, sampler):
        self.workload, self.trace = args.workload, bool(args.trace)
        self.sampler = sampler
        self.inputs, self.expected = inputs, expected
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.spark = self.store = None

    def check(self, name: str, got) -> None:
        self.attempted += 1
        if json.loads(json.dumps(got)) != self.expected[name]:
            self.failed += 1
            self.failures.append(f"{name}: digest {got} != oracle {self.expected[name]}")

    def fail(self, name: str, why: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(f"{name}: {why}")

    def setup(self) -> float:
        """Build the session and register the workload's inputs."""
        from etl_demos_spark.engine import Engine
        from etl_demos_spark.session import get_spark
        from spans import StatusStore
        from workloads import TABLES

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cpus=CORES,
            shuffle_partitions=2 * CORES,
            extra_confs={
                # keep the JVM's temp files and perf counters out of /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": str(WORK / "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        engine = Engine(self.spark)
        for t in TABLES[self.workload]:
            engine.add_parquet(t, str(self.inputs / f"{t}.parquet"))
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.store = StatusStore(self.spark)
        return dt

    def round(self, index: int, timed: bool = True) -> Round:
        from workloads import ROUNDS

        r = Round(self, index, timed)
        self.sampler.reset()
        try:
            ROUNDS[self.workload](r)
            r.peak_mb = self.sampler.peak_mb()
        finally:
            r.close()
            self.spark.catalog.clearCache()
            gc.collect()
            self.spark.sparkContext._jvm.System.gc()
        return r

    def teardown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def _environment() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine."""
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # the launcher JVM spark-submit starts would write perf counters to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"))
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(ROOT), str(HERE)]
    t0 = time.perf_counter()
    try:
        import etl_demos_spark.workload_ext  # noqa: F401  (fills the registry)
        import pyspark  # noqa: F401
        from workloads import TABLES
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - t0
    import gen
    import oracle
    from spans import RssSampler

    _environment()
    inputs, manifest = gen.generate(args.seed, WORK / "inputs")
    expected = oracle.expected(args.workload, inputs)
    sampler = RssSampler()
    sampler.start()
    bench = Bench(args, inputs, expected, sampler)
    try:
        setup_s = import_s + bench.setup()
        cold = bench.round(0, timed=False)
        warm = bench.round(1, timed=False)
        timed: list[Round] = []
        t0 = time.perf_counter()
        walls: list[float] = []
        while True:
            w0 = time.perf_counter()
            timed.append(bench.round(2 + len(timed)))
            walls.append(time.perf_counter() - w0)
            left = args.seconds - (time.perf_counter() - t0)
            if len(timed) >= MIN_TIMED and left < statistics.median(walls):
                break
    finally:
        bench.teardown()
        sampler.stop()

    rounds = [r.seconds for r in timed]
    if args.trace:
        metrics = layer_metrics(timed, setup_s)
    else:
        read = sum(manifest["bytes"][t] for t in TABLES[args.workload])
        metrics = {
            "setup_s": setup_s,
            "cold_round_s": cold.seconds,
            "round_s": statistics.median(rounds),
            "peak_rss_mb": statistics.median(r.peak_mb for r in [warm] + timed),
            "write_amp": statistics.median(r.bytes_written for r in timed) / read,
        }
        units = dict(END_TO_END)
        metrics = {k: (v, units[k]) for k, v in metrics.items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": CORES,
        "inputs": manifest,
        "samples": {
            "setup_s": setup_s,
            "import_s": import_s,
            "cold_round_s": cold.seconds,
            "round_s": rounds,
            "round_wall_s": walls,
            "peak_rss_mb": [r.peak_mb for r in [warm] + timed],
            "check_s": [r.check_s for r in timed],
            "op_s": {
                k: statistics.median(r.ops[k] for r in timed if k in r.ops)
                for k in {k for r in timed for k in r.ops}
            },
        },
        "failures": bench.failures[:20],
    }
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def layer_metrics(timed: list[Round], setup_s: float) -> dict:
    """Per-layer metrics, in ``spans.layer_metric_names`` order: for each
    span statistic, its median over the timed rounds."""
    from spans import SPANS, UNITS

    def stat(span: str, name: str) -> float:
        vals = []
        for r in timed:
            layer = r.layers.get(span, {})
            if name == "idle_frac":
                s = layer.get("s", 0.0)
                vals.append(1 - layer.get("run_ms", 0.0) / 1000 / (s * CORES) if s else 0.0)
            else:
                vals.append(layer.get(name, 0.0))
        return float(statistics.median(vals))

    metrics = {
        "traced.round_s": (statistics.median(r.seconds for r in timed), "s"),
        "session.start.s": (setup_s, "s"),
    }
    for span, stats in SPANS.items():
        if span != "session.start":
            metrics.update({f"{span}.{st}": (stat(span, st), UNITS[st]) for st in stats})
    return metrics


if __name__ == "__main__":
    sys.exit(main())
