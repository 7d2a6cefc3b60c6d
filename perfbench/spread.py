#!/usr/bin/env python3
"""Steadiness check: run the benchmark on several seeds and report, per
end-to-end metric, the median and the inter-quartile spread as a share
of the median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload slim_ci --seeds 1-10 [--trace 0]

Run from the repository root. Each run is a separate process, as in a
real comparison; the raw result lines are appended to --out.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(".bench_build", "spread.jsonl"))
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lo, hi = map(int, a.seeds.split("-"))
    os.makedirs(os.path.dirname(a.out) or ".", exist_ok=True)
    values = {}
    for seed in range(lo, hi + 1):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]),
                            "--trace", str(a.trace)],
                           capture_output=True, text=True)
        wall = time.time() - t0
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not line.startswith("{"):
            sys.stderr.write(p.stderr[-3000:])
            sys.exit(f"seed {seed}: run failed (rc {p.returncode})")
        res = json.loads(line)
        with open(a.out, "a") as fh:
            fh.write(json.dumps({"workload": a.workload, "seed": seed,
                                 "wall_s": wall, **res}) + "\n")
        print(f"seed {seed}: {wall:.1f} s correct={res['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        s = stats.spread(vs) if len(vs) > 1 else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else (" OK" if s < b / 3 else " WIDE")
        print(f"{k:14s} median={stats.median(vs):.5g} spread={s:.3f} bound={b}{flag}")


if __name__ == "__main__":
    main()
