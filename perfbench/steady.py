"""Steadiness receipt: run the benchmark on several seeds per workload,
in one or more sets, and summarise each metric by set.

    python3 perfbench/steady.py --seeds 10 --sets 2 --out perfbench/receipt.json

Within a set, workloads alternate (set 1 runs A then B for each seed, set
2 runs B then A). For every metric the summary holds the median, the
quartiles (``statistics.quantiles(values, n=4)``), and the spread: the
interquartile distance as a share of the median, which is what each
metric's ``bound`` in BENCHMARK.json is judged against. ``--trace 1``
runs are summarised the same way; their ``traced.round_s`` against the
untraced ``round_s`` is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = json.loads((ROOT / "BENCHMARK.json").read_text())["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    result["detail"] = json.loads(lines[-2])["detail"]["samples"]
    return result


def summarise(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else None,
        "n": len(values),
    }


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    workloads = [w["name"] for w in bench["workloads"]]
    runs: dict[str, list[list[dict]]] = {w: [] for w in workloads}
    for s in range(args.sets):
        for w in workloads:
            runs[w].append([])
        order = workloads if s % 2 == 0 else workloads[::-1]
        for seed in range(1, 1 + args.seeds):
            for w in order:
                r = run_once(w, seed, bench["run_seconds"], args.trace)
                runs[w][s].append(r)
                m = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
                print(json.dumps({"set": s + 1, "workload": w, "seed": seed,
                                  "wall_s": round(r["wall_s"], 1), "correct": r["correct"],
                                  "failed": r["failed"], "metrics": m if not args.trace else {
                                      k: m[k] for k in ("traced.round_s",)}}),
                      file=sys.stderr, flush=True)

    summary = {}
    for w, sets in runs.items():
        summary[w] = []
        for rs in sets:
            names = rs[0]["metrics"].keys()
            summary[w].append({
                "metrics": {k: summarise([r["metrics"][k]["value"] for r in rs]) for k in names},
                "wall_s": summarise([r["wall_s"] for r in rs]),
                "all_correct": all(r["correct"] for r in rs),
                "failed": sum(r["failed"] for r in rs),
                "attempted": sum(r["attempted"] for r in rs),
            })
    out = {"args": vars(args), "summary": summary, "runs": runs}
    text = json.dumps(out, indent=1)
    if args.out:
        Path(args.out).write_text(text)
    for w, sets in summary.items():
        for i, st in enumerate(sets):
            for k, v in st["metrics"].items():
                if args.trace and k != "traced.round_s":
                    continue
                print(f"{w:11s} set{i + 1} {k:22s} median {v['median']:.4f} "
                      f"spread {v['spread'] if v['spread'] is None else round(v['spread'], 4)}")
            print(f"{w:11s} set{i + 1} wall_s median {st['wall_s']['median']:.1f} "
                  f"correct={st['all_correct']} failed={st['failed']}/{st['attempted']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
