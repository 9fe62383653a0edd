"""Run-to-run spread of the end-to-end metrics, the way they are judged.

    python3 perfbench/spread.py --workloads bulk_replay,serve_under_ingest --seeds 1-10 --seconds 6

Runs `run.py` once per seed and workload, one at a time (for each seed,
every workload in turn), each in a fresh process, and prints per workload
and metric the median and (Q3 - Q1) / median over the runs next to the
metric's bound from BENCHMARK.json (a spread should stay under a third of
it). Per-run results, with their wall time, are appended to
`.perfbench/spread.jsonl`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True, help="comma-separated; runs interleave")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--tag", default="", help="label of this set in spread.jsonl")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    workloads = args.workloads.split(",")
    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    log = os.path.join(ROOT, ".perfbench", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for s in seeds(args.seeds):
        for w in workloads:
            t0 = time.monotonic()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                return 1
            result = json.loads(lines[-1])
            runs[w].append({k: v["value"] for k, v in result["metrics"].items()})
            with open(log, "a") as f:
                f.write(json.dumps({"tag": args.tag, "workload": w, "seed": s, "wall_s": wall,
                                    "result": result, "info": json.loads(lines[-2])}) + "\n")
            print(f"{w} seed {s} ({wall:.0f} s): "
                  + " ".join(f"{k}={v:.4g}" for k, v in runs[w][-1].items()), flush=True)
    for w in workloads:
        if len(runs[w]) < 2:
            continue
        print(f"{w}\n{'metric':32} {'median':>12} {'spread':>8} {'bound/3':>8}")
        for k in runs[w][0]:
            vals = [r[k] for r in runs[w]]
            spread = quartile_spread(vals)
            b = bounds.get(k)
            flag = "" if b is None or spread < b / 3 else "  <-- wide"
            print(f"{k:32} {statistics.median(vals):12.5g} {spread:8.4f} {(b or 0) / 3:8.4f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
