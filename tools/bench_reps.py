"""Run bench.py N times at a given SF and print per-query min/median
plus box-load context (1-min load average before each rep).

Separate from the frozen bench.py; used for the round-6 before/after
evidence. Usage:

    python tools/bench_reps.py <sf_dir> <reps> [out.json]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys


def main() -> None:
    sf_dir = sys.argv[1]
    reps = int(sys.argv[2])
    out_path = sys.argv[3] if len(sys.argv) > 3 else None
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # one Spark task slot per core this process may run on
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

    samples = []
    for i in range(reps):
        load1 = os.getloadavg()[0]
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS=cpus)
        p = subprocess.run(
            [sys.executable, os.path.join(repo, "bench.py")],
            env=env, capture_output=True, text=True,
        )
        line = p.stdout.strip().splitlines()[-1]
        parsed = json.loads(line)
        parsed["load1_before"] = round(load1, 2)
        samples.append(parsed)
        print(f"rep {i}: total={parsed['value']} load1_before={load1:.2f}")

    queries = samples[0]["queries"].keys()
    summary = {
        "sf": samples[0]["sf"],
        "n": reps,
        "total_median": round(statistics.median(s["value"] for s in samples), 3),
        "total_min": round(min(s["value"] for s in samples), 3),
        "queries_median": {
            q: round(statistics.median(s["queries"][q] for s in samples), 4)
            for q in queries
        },
        "queries_min": {
            q: round(min(s["queries"][q] for s in samples), 4) for q in queries
        },
        "loads": [s["load1_before"] for s in samples],
        "samples": samples,
    }
    print(json.dumps({k: v for k, v in summary.items() if k != "samples"}))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
