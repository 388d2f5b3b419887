"""CDC lakehouse benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (see build.py), runs one
workload in a fresh JVM (Spark local[4]) and prints, as the last line of
standard output, one JSON object: the correctness verdict, the number of
operations attempted and failed, and the metrics — the end-to-end ones
with --trace 0, the per-layer ones with --trace 1. The full record
(details, host context, sample counts) is written under
<build dir>/out/, and a traced run also writes its spans there.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["cow_recent_upsert", "mor_uniform_upsert", "mor_uniform_mixed", "corpus_views"]
JVM_TIMEOUT_S = 170


def cpu_times() -> list:
    """The aggregate `cpu` line of /proc/stat (user ... steal jiffies)."""
    return [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:9]]


def host_context() -> dict:
    ctx = {"nproc": len(os.sched_getaffinity(0))}
    try:
        ctx["cgroup_cpu_max"] = Path("/sys/fs/cgroup/cpu.max").read_text().strip()
    except OSError:
        ctx["cgroup_cpu_max"] = "unavailable"
    ctx["loadavg_start"] = os.getloadavg()[0]
    return ctx


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    host = host_context()
    classes = build.build()
    cpu0 = cpu_times()
    out_dir = build.build_dir() / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out = out_dir / f"{tag}.json"
    work = build.build_dir() / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    if out.exists():
        out.unlink()
    cmd = build.java_cmd(classes, "graftbench.Main", [
        "--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
        "--trace", a.trace, "--work", work, "--out", out], work / "tmp")
    t0 = time.time()
    try:
        with open(out_dir / f"{tag}.log", "w") as log:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S, cwd=work)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s\n")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not out.exists():
        sys.stderr.write(f"benchmark JVM failed (exit {r.returncode}); see {out_dir / (tag + '.log')}\n")
        return 4
    record = json.loads(out.read_text())
    host["loadavg_end"] = os.getloadavg()[0]
    d = [b - a for a, b in zip(cpu0, cpu_times())]
    # share of the run's CPU time the hypervisor gave to other guests
    host["steal_share"] = d[7] / max(1, sum(d))
    record["details"]["host"] = host
    record["details"]["jvm_wall_s"] = time.time() - t0
    out.write_text(json.dumps(record, indent=1))
    print(json.dumps({"workload": a.workload, "seed": a.seed, "details": record["details"]}))
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
