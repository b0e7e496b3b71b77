#!/usr/bin/env python3
"""Steadiness harness: runs one workload once per seed, one run at a time,
and prints each metric's median, quartiles and spread (interquartile range
over median) against its bound in BENCHMARK.json.

    python3 perfbench/repeat.py --workload board --seeds 1-10
    python3 perfbench/repeat.py --workload dashboard_tick --seeds 1-3 --trace

`--trace` adds a traced run after each untraced one and reports the
per-layer medians and the tracing overhead: the traced run's median round
over the untraced run's, minus one. Quartiles are Python's
`statistics.quantiles(values, n=4)`.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "1" if trace else "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"seed {seed}: run failed (exit {p.returncode})\n{p.stderr[-3000:]}")
    res = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
    steal = [ln.rsplit("CPU steal ", 1)[-1] for ln in p.stderr.splitlines() if "CPU steal" in ln]
    return res, detail, time.time() - t0, (steal or ["?"])[-1]


def spread(vals):
    med = statistics.median(vals)
    if len(vals) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def table(title, series, bounds=None):
    print(f"\n{title}")
    for name, vals in series.items():
        med, q1, q3, sp = spread(vals)
        b = (bounds or {}).get(name)
        flag = "" if b is None else f"  bound {b:.3f} {'ok' if sp <= b else 'OVER'}"
        print(f"  {name:40s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}"
              f"  spread {sp:7.4f}{flag}")


def main():
    ap = argparse.ArgumentParser(description="Run a workload over several seeds.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    e2e, det, layers, walls, shares, overhead = {}, {}, {}, [], set(), []
    for s in seeds(a.seeds):
        res, detail, wall, steal = run(a.workload, s, seconds, False)
        walls.append(wall)
        shares.add((res["failed"], res["attempted"]))
        for k, v in res["metrics"].items():
            e2e.setdefault(k, []).append(v["value"])
        for k, v in detail.items():
            if isinstance(v, (int, float)):
                det.setdefault(k, []).append(v)
        line = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {s}: {wall:.0f} s wall, steal {steal}, attempted {res['attempted']}, "
              f"failed {res['failed']}, {line}", flush=True)
        if a.trace:
            tres, _, twall, _ = run(a.workload, s, seconds, True)
            walls.append(twall)
            for k, v in tres["metrics"].items():
                layers.setdefault(k, []).append(v["value"])
            overhead.append(tres["metrics"]["trace.round_s"]["value"] /
                            res["metrics"]["round_s"]["value"] - 1)

    table(f"{a.workload}: end-to-end over {len(walls) if not a.trace else len(walls) // 2} seeds",
          e2e, bounds)
    table("workload figures (not bounded)", det)
    if a.trace:
        table("per-layer (traced runs)", layers)
        table("tracing overhead (traced round / untraced round - 1)",
              {"trace.overhead": overhead})
    print(f"\nfailed/attempted pairs seen: {sorted(shares)}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")


if __name__ == "__main__":
    main()
