"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload catalog_small --seeds 1-10

Runs ``BENCHMARK.json``'s command once per seed (untraced, its
``run_seconds``), then prints for each end-to-end metric the median, the
quartiles from ``statistics.quantiles(values, n=4)``, the spread
(Q3 - Q1) / median and that spread as a share of the metric's bound.
The acceptance rule is spread < bound; aim for spread < bound / 3.
Writes every raw result to ``.perfbench_cache/spread-<workload>.jsonl``.
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


def seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    log = ROOT / ".perfbench_cache" / f"spread-{args.workload}.jsonl"
    log.parent.mkdir(exist_ok=True)
    results = []
    for seed in seeds(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload,
                                 "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]),
                                 "--trace", "0"]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                              text=True, timeout=900)
        wall = time.perf_counter() - t
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        res["op_latencies"] = next(
            (ln.split(":", 1)[1].split() for ln in lines
             if ln.startswith("op latencies")), [])
        res["seed"], res["wall_s"] = seed, wall
        results.append(res)
        with open(log, "a") as fh:
            fh.write(json.dumps(res) + "\n")
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} "
              f"ops={res['attempted']} [{' '.join(res['op_latencies'])}] "
              + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    if len(results) < 2:
        return 0
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        print(f"{m['name']:>20}: median {med:.4g} {m['unit']}, "
              f"Q1 {q1:.4g} Q3 {q3:.4g}, spread {spread:.3f} "
              f"= {spread / m['bound']:.2f} x bound {m['bound']}")
    print(f"all correct: {all(r['correct'] for r in results)}; "
          f"max run wall {max(r['wall_s'] for r in results):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
