"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds 15]

Runs the benchmark once per seed and prints, per metric, the median, the
quartiles (Python's statistics.quantiles, n=4) and the spread: the
distance between the quartiles as a share of the median — the figure the
bounds in BENCHMARK.json are set against.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec: str):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int,
                    default=json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]
                    if (HERE.parent / "BENCHMARK.json").exists() else 15)
    a = ap.parse_args()
    values = {}
    for s in seeds(a.seeds):
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            print(f"seed {s}: exit {r.returncode}")
            continue
        rec = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {s}: correct={rec['correct']} attempted={rec['attempted']} failed={rec['failed']}",
              flush=True)
        for k, v in rec["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k in sorted(values):
        v = values[k]
        if len(v) < 2:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{k:24s} median={med:12.4f} q1={q1:12.4f} q3={q3:12.4f} "
              f"spread={(q3 - q1) / med if med else float('nan'):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
