"""Scaling-efficiency evidence for the north rule.

Runs the SAME indexing job (materialized index build over the
synthetic webpage corpus, code-aware analyzer chain) at two
parallelism levels — local[N] and local[4N] standing in for N and 4N
executors in this sandbox — on IDENTICAL input, and reports docs/sec
at both plus efficiency = throughput(4N) / (4 * throughput(N)).

Each level runs in a FRESH subprocess (a JVM cannot change its core
count after start), writing one JSON line; this driver aggregates
into BENCH/BASELINE.md.

Usage: python tools/scaling_bench.py [n_docs] [N]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, os, shutil, sys, time
cores = int(sys.argv[1]); n_docs = int(sys.argv[2]); out_root = sys.argv[3]
from pyspark.sql import SparkSession, functions as F
from coa_codesearch_mcp_spark.fixtures.webgen import generate_webpages
from coa_codesearch_mcp_spark.index.store import IndexConfig, IndexWriter
from coa_codesearch_mcp_spark.session import python_daemon_module

# ParallelGC: measurably faster + steadier than G1 for this batch
# workload (array-heavy parquet writes) in a single JVM
# IDENTICAL physical plan at both levels: shuffle partitions and
# stage task counts are fixed by the JOB (sized for the larger
# level), not derived from the current core count — exactly how the
# same spark-submit job behaves on N vs 4N executors.
plan_tasks = int(os.environ.get("SPARK_GRAFT_PLAN_TASKS", "32"))
master = f"local[{cores}]"
spark = (
    SparkSession.builder.master(master)
    .appName(f"scale{cores}")
    .config("spark.sql.shuffle.partitions", str(plan_tasks))
    .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
    .config("spark.ui.enabled", "false")
    # the Python worker daemon get_spark ships, so the ratio measures
    # the engine's own worker path
    .config("spark.python.daemon.module", python_daemon_module(master))
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

# materialize the input once OUTSIDE the timed section (input gen is
# not part of indexing throughput)
src = os.path.join(out_root, f"input_{n_docs}")
if not os.path.exists(src):
    # fixed split count independent of this run's cores — both levels
    # must read IDENTICAL input with enough splits for the larger one
    docs = generate_webpages(spark, n_docs, partitions=128)
    docs.withColumn("doc_id", F.monotonically_increasing_id()).write.parquet(src)
docs = spark.read.parquet(src)
n = docs.count()

# warmup (untimed): a FULL mini-build at full parallelism — spins up
# EVERY python UDF worker (not just one), JITs the tokenizer, codec,
# shuffle and parquet-write paths. Without this the large level pays
# 4x the one-time worker spin-up inside the timed section.
wcfg = IndexConfig(field="content", n_buckets=4, range_size=1 << 14,
                   chunk_size=1 << 11, chunks_per_wave=64,
                   salt_threshold=10_000, max_salts=64, with_positions=True)
wroot = os.path.join(out_root, f"warm_{cores}")
shutil.rmtree(wroot, ignore_errors=True)
IndexWriter(spark, wroot, wcfg).build(docs.limit(8 * 2048))
shutil.rmtree(wroot, ignore_errors=True)

# salt_threshold MUST fire here: the synthetic vocabulary is tiny, so
# hot terms would otherwise serialize the encode stage on one task —
# exactly the skew the north rule's salting exists for
cfg = IndexConfig(field="content", n_buckets=32, range_size=1 << 14,
                  chunk_size=1 << 14, chunks_per_wave=64,
                  salt_threshold=10_000, max_salts=64,
                  with_positions=True,
                  tokenize_tasks=plan_tasks, encode_tasks=plan_tasks)
rep = sys.argv[4] if len(sys.argv) > 4 else "0"
root = os.path.join(out_root, f"ix_{cores}_{rep}")
shutil.rmtree(root, ignore_errors=True)
t0 = time.perf_counter()
IndexWriter(spark, root, cfg).build(docs)
dt = time.perf_counter() - t0
print(json.dumps({"cores": cores, "n_docs": n, "secs": round(dt, 3),
                  "docs_per_sec": round(n / dt, 2)}))
"""


def default_driver_mem() -> str:
    """Half the memory available now, capped at 24 GB: the heap of one
    level's JVM must fit beside its Python workers."""
    avail = os.sysconf("SC_AVPHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail = int(line.split()[1]) * 1024
    except OSError:
        pass
    return f"{max(1, min(24, avail // (2 << 30)))}g"


def run_level(cores: int, n_docs: int, out_root: str, rep: int) -> dict:
    env = dict(os.environ)
    # local mode = single JVM; heap must cover concurrent task memory
    # at the LARGER core count (on a real cluster this is per-executor
    # memory and does not change with cluster size)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", default_driver_mem())
    # the package on the driver's and the Python workers' import path
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", WORKER, str(cores), str(n_docs), out_root, str(rep)],
        capture_output=True, text=True, env=env, timeout=3600,
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    # N = cores / 4 by default, so the large level 4N uses the cores
    # this process may run on (local[1] vs local[4] on a 4-core box).
    # Arrow-UDF stages run N JVM task threads PLUS N python workers
    # concurrently, so a larger 4N oversubscribes the box and the
    # harness itself (single-JVM thread doubling a real 4N-executor
    # cluster never sees) throttles it; the rule only fixes the RATIO
    # at 4x.
    # 480k docs so per-level fixed costs (~5 s) stay <5% of the small
    # level's wall time.
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 480_000
    n = int(sys.argv[2]) if len(sys.argv) > 2 else max(1, len(os.sched_getaffinity(0)) // 4)
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    out_root = "/tmp/spark_graft_scaling"
    os.makedirs(out_root, exist_ok=True)

    # Each rep runs the two levels BACK TO BACK (a paired experiment:
    # this shared virtualized box drifts +/-10-20% over tens of
    # minutes, and pairing means both levels see ~the same machine
    # state, so the drift cancels out of the ratio). The headline is
    # the MEDIAN paired efficiency across reps; per-rep pairs and the
    # per-level bests are all recorded for audit.
    import statistics

    pairs = []
    small = large = None
    for rep in range(reps):
        s = run_level(n, n_docs, out_root, rep)
        l = run_level(4 * n, n_docs, out_root, rep)
        pairs.append(
            {
                "rep": rep,
                "small": s,
                "large": l,
                "eff": round(l["docs_per_sec"] / (4 * s["docs_per_sec"]), 3),
            }
        )
        if small is None or s["secs"] < small["secs"]:
            small = s
        if large is None or l["secs"] < large["secs"]:
            large = l
    eff = statistics.median(p["eff"] for p in pairs)
    result = {
        "metric": "indexing_scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "n_docs": n_docs,
        "reps": reps,
        "pairs": pairs,
        "best_of_levels_eff": round(
            large["docs_per_sec"] / (4 * small["docs_per_sec"]), 3
        ),
        "levels": {f"local[{n}]": small, f"local[{4*n}]": large},
        "rule": "throughput(4N) / (4 * throughput(N)) >= 0.8",
    }
    print(json.dumps(result))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling.json"), "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
