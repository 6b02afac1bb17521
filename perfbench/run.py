"""Benchmark entry point.

    python3 perfbench/run.py --workload {bulk_build,search_mix,live_churn}
        --seed N --seconds S --trace {0,1} [--smoke]

Run from the root of a checkout. Generates (or reuses) the seeded
inputs, then starts ``worker.py`` in a fresh process with Spark's
Python workers pinned to this checkout, and samples the resident
memory of that process tree from outside. With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` it runs
the same seed untraced and then traced, and the last line carries the
per-layer metrics and the tracing overhead. The line before it is a
full report (every metric with its sample count, provenance, failures).
``--smoke`` selects the tiny input sizes the benchmark's tests use.

Exits non-zero, printing no result, when the program is not beside it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

DEADLINE_S = 172  # whole command, both workers of a traced run included
RSS_SAMPLE_S = 0.2

WAND_SHAPES = ("term", "and", "or_stop_rare", "or_mid", "not")
EXPAND_SHAPES = ("prefix", "fuzzy")


# ------------------------------------------------------- process handling


def session_pids(sid: int) -> dict[int, str]:
    """Live processes of one session (pid -> command name): the worker,
    its JVM and Spark's Python workers, which start no session of their
    own."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                comm, rest = f.read().split("(", 1)[1].rsplit(")", 1)
        except OSError:
            continue
        fields = rest.split()
        if int(fields[3]) == sid and fields[0] != "Z":
            out[int(name)] = comm
    return out


def tree_pss(sid: int) -> tuple[int, dict[str, int]]:
    """Proportional set size summed over the session (pages the forked
    Python workers share count once, not once per worker), and its split
    by command name."""
    parts: dict[str, int] = {}
    for pid, comm in session_pids(sid).items():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        parts[comm] = parts.get(comm, 0) + int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return sum(parts.values()), parts


def stop_session(sid: int, timeout: float = 10.0) -> None:
    """Kill whatever is left of a worker's session and wait until it is gone."""
    t0 = time.monotonic()
    while True:
        pids = session_pids(sid)
        if not pids:
            return
        sig = signal.SIGTERM if time.monotonic() - t0 < timeout / 2 else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if time.monotonic() - t0 > timeout:
            return
        time.sleep(0.1)


def run_worker(workload: str, inputs: str, seconds: float, trace: int, tmp: str,
               deadline: float) -> tuple[dict | None, dict]:
    """One worker process; returns (its result or None, process facts)."""
    os.makedirs(os.path.join(tmp, "tmp"), exist_ok=True)
    out_path = os.path.join(tmp, "result.json")
    env = dict(os.environ)
    # Spark's Python workers inherit PYTHONPATH through the JVM: with the
    # package only on the driver's sys.path they fail to import it
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    env["TMPDIR"] = os.path.join(tmp, "tmp")
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        f"--driver-java-options -Djava.io.tmpdir={os.path.join(tmp, 'tmp')} pyspark-shell"
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--inputs", inputs, "--seconds", str(seconds), "--trace", str(trace),
           "--tmp", tmp, "--out", out_path, "--root", ROOT]
    facts = {"load1_before": os.getloadavg()[0]}
    log_path = os.path.join(tmp, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        peak, peak_parts = 0, {}
        t0 = time.monotonic()
        done_marker = os.path.join(tmp, "timed.done")
        try:
            while proc.poll() is None:
                total, parts = tree_pss(proc.pid)
                if total > peak and not os.path.exists(done_marker):
                    peak, peak_parts = total, dict(parts, at_s=round(time.monotonic() - t0, 1))
                if time.monotonic() > deadline:
                    facts["timed_out"] = True
                    break
                time.sleep(RSS_SAMPLE_S)
        finally:
            stop_session(proc.pid)
            proc.wait()
    facts.update(returncode=proc.returncode, peak_rss_bytes=peak, peak_parts=peak_parts,
                 load1_after=os.getloadavg()[0])
    result = None
    if proc.returncode == 0 and os.path.exists(out_path):
        with open(out_path) as f:
            result = json.load(f)
    else:
        with open(log_path) as f:
            facts["log_tail"] = f.read()[-3000:]
    return result, facts


# ----------------------------------------------------------------- metrics


def median(xs):
    return statistics.median(xs) if xs else None


def p90(xs):
    """Nearest-rank 90th percentile."""
    if not xs:
        return None
    s = sorted(xs)
    return s[max(0, -(-9 * len(s) // 10) - 1)]


def shape_gmean(ops) -> float | None:
    """Geometric mean over the query shapes of each shape's median
    latency. The shapes' latencies span about 2x, so the plain median of
    a run's queries falls in the gap between the faster and the slower
    shapes, where the two queries bordering it set its value; this keeps
    the per-shape median and weights every shape alike."""
    by: dict[str, list[float]] = {}
    for o in ops:
        by.setdefault(o["shape"], []).append(o["wall_s"])
    if not by:
        return None
    return math.exp(sum(math.log(statistics.median(v)) for v in by.values()) / len(by))


def timed(ops, kinds, shapes=None):
    return [o for o in ops if o["kind"] in kinds and o["ok"]
            and (shapes is None or o["shape"] in shapes)]


def stat(values, fn, scale=1.0):
    v = fn(values)
    return {"value": None if v is None else v * scale, "samples": len(values)}


def workload_metrics(workload: str, res: dict, facts: dict) -> dict:
    """Every end-to-end figure the run gives, with its sample count."""
    ops = res["ops"]
    builds = res["builds"]
    m = {
        "setup_s": {"value": res["setup_s"], "unit": "s", "samples": 1},
        "peak_rss_mb": {"value": facts["peak_rss_bytes"] / 2**20, "unit": "MB", "samples": 1},
    }
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    m["failed_ratio"] = {"value": failed / attempted if attempted else 1.0, "unit": "ratio",
                         "samples": attempted}
    if workload == "bulk_build":
        ok_builds = [b for b in builds if "n_docs" in b and ops[b["op"]]["ok"]]
        rates = [b["docs"] / b["wall_s"] for b in ok_builds]
        m["build_docs_per_s"] = {**stat(rates, median), "unit": "docs/s"}
        last = ok_builds[-1] if ok_builds else None
        m["index_bytes_per_text_byte"] = {
            "value": last["index_bytes"] / res["text_bytes"] if last else None,
            "unit": "ratio", "samples": 1 if last else 0}
        query_ops = timed(ops, ("query",))
    elif workload == "search_mix":
        b = builds[0]
        m["build_docs_per_s"] = {"value": b["docs"] / b["wall_s"], "unit": "docs/s", "samples": 1}
        m["index_bytes_per_text_byte"] = {"value": b["index_bytes"] / res["text_bytes"],
                                          "unit": "ratio", "samples": 1}
        query_ops = timed(ops, ("query",))
        walls = [o["wall_s"] for o in query_ops]
        m["search_p50_ms"] = {**stat(walls, median, 1e3), "unit": "ms"}
        m["search_p90_ms"] = {**stat(walls, p90, 1e3), "unit": "ms"}
        for name, shapes in (("search_wand_p50_ms", WAND_SHAPES),
                             ("search_phrase_p50_ms", ("phrase",)),
                             ("search_expand_p50_ms", EXPAND_SHAPES)):
            w = [o["wall_s"] for o in timed(ops, ("query",), shapes)]
            m[name] = {**stat(w, median, 1e3), "unit": "ms"}
    else:
        applies = timed(ops, ("apply",))
        # docs per second over the main build (set-up) and the timed
        # delta builds together: the one timed batch, the process's first
        # delta build, swings by a quarter from run to run on its own
        b = builds[0]
        m["build_docs_per_s"] = {
            "value": (b["docs"] + sum(o["events"] for o in applies))
            / (b["wall_s"] + sum(o["wall_s"] for o in applies)),
            "unit": "docs/s", "samples": 1 + len(applies)}
        m["index_bytes_per_text_byte"] = {"value": b["index_bytes"] / res["text_bytes"],
                                          "unit": "ratio", "samples": 1}
        query_ops = timed(ops, ("live_query",))
        m["live_apply_p50_s"] = {**stat([o["wall_s"] for o in applies], median), "unit": "s"}
        m["live_query_p50_ms"] = {**stat([o["wall_s"] for o in query_ops], median, 1e3), "unit": "ms"}
        fired = [o["wall_s"] for o in timed(ops, ("compact",)) if o.get("fired")]
        m["live_compact_s"] = {**stat(fired, median), "unit": "s"}
    walls = [o["wall_s"] for o in query_ops]
    gm = shape_gmean(query_ops)
    m["query_gmean_ms"] = {"value": None if gm is None else gm * 1e3, "unit": "ms",
                           "samples": len(walls)}
    m["query_p50_ms"] = {**stat(walls, median, 1e3), "unit": "ms"}
    m["query_p90_ms"] = {**stat(walls, p90, 1e3), "unit": "ms"}
    return m


def load_manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def layer_metrics(traced: dict, untraced: dict) -> tuple[dict, dict]:
    """Per-layer figures from the traced run (means per call over the
    timed phase, zero where a workload never calls the layer), plus the
    tracing overhead against the untraced run of the same seed."""
    from tracer import self_times

    spans = traced["spans"]
    selfs = self_times(spans)
    ops = traced["ops"]
    kind_of = {o["i"]: o["kind"] for o in ops}
    timed_spans = [s for s in spans if s["phase"] == "timed"]
    setup_spans = [s for s in spans if s["phase"] == "setup"]

    def of(*names, where=None):
        return [s for s in timed_spans if s["name"] in names and (where is None or where(s))]

    def index_of(name):
        """Index layers of the timed phase, or of the set-up build when the
        workload builds only there (search_mix: they move setup_s)."""
        return of(name) or [s for s in setup_spans if s["name"] == name]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def self_s(ss):
        return mean([selfs[s["id"]] for s in ss])

    def field(ss, key):
        return mean([s.get(key, 0) for s in ss])

    n_ops = len(ops)
    lm: dict[str, float] = {}
    noop = [s for s in spans if s["name"] == "analysis.tokenize"]
    if noop:
        d = noop[0]["end"] - noop[0]["start"]
        lm["analysis.tokenize_s"] = d
        lm["analysis.docs_per_s"] = noop[0]["docs"] / d
    for stage in ("tokenize_stage", "dictionary_stage"):
        ss = index_of(f"index.{stage}")
        lm[f"index.{stage}_s"] = self_s(ss)
        lm[f"index.{stage}_jobs"] = field(ss, "jobs")
    ss = index_of("index.postings_stage")
    lm["index.postings_stage_s"] = self_s(ss)
    for key in ("jobs", "tasks", "executor_run_s", "shuffle_write_bytes"):
        lm[f"index.postings_stage_{key}"] = field(ss, key)
    ss = of("index.manifest_commit")
    lm["index.manifest_commit_s"] = self_s(index_of("index.manifest_commit"))
    lm["index.manifest_commits"] = len(ss) / n_ops if n_ops else 0.0
    lm["index.write_lock_s"] = self_s(index_of("index.write_lock"))
    roots = [b["root_bytes"] for b in traced["builds"] if "root_bytes" in b]
    lm["index.bytes_written"] = mean(roots)
    ss = of("query.lookup_terms")
    lm["query.lookup_terms_s"] = self_s(ss)
    lm["query.lookup_terms_jobs"] = field(ss, "jobs")
    lm["query.term_cache_hit_ratio"] = (
        sum(1 for s in ss if s.get("jobs", 0) == 0) / len(ss) if ss else 0.0)
    ss = of("query.expand_terms")
    lm["query.expand_terms_s"] = self_s(ss)
    lm["query.expanded_terms"] = field(ss, "n")
    ss = of("query.prepare", "streaming.live_prepare")
    lm["query.prepare_s"] = self_s(ss)
    lm["query.prepare_jobs"] = field(ss, "jobs")
    ss = of("query.collect")
    lm["query.collect_s"] = self_s(ss)
    for key in ("jobs", "tasks"):
        lm[f"query.collect_{key}"] = field(ss, key)
    lm["query.scan_input_bytes"] = field(ss, "input_bytes")
    wr = traced["notes"].get("wand_replay")
    lm["query.wand_kernel_s"] = wr["kernel_s"] / wr["queries"] if wr and wr["queries"] else 0.0
    lm["query.blocks_decoded_ratio"] = (
        wr["blocks_decoded"] / wr["blocks_total"] if wr and wr["blocks_total"] else 0.0)
    lm["query.docs_scored"] = wr["docs_scored"] / wr["queries"] if wr and wr["queries"] else 0.0
    ss = of("streaming.apply_batch")
    lm["streaming.apply_batch_s"] = self_s(ss)
    lm["streaming.apply_batch_jobs"] = field(ss, "jobs")
    lm["streaming.live_segments"] = field(
        of("streaming.segments", where=lambda s: kind_of.get(s["op"]) == "live_query"), "n")
    live_q = [o["i"] for o in ops if o["kind"] == "live_query"]
    lm["streaming.live_query_jobs"] = (
        sum(s.get("jobs", 0) for s in timed_spans if s["op"] in set(live_q)) / len(live_q)
        if live_q else 0.0)
    ss = of("streaming.compact", where=lambda s: s.get("fired"))
    lm["streaming.compact_s"] = self_s(ss)
    fired = [o["main_bytes"] for o in ops if o.get("fired")]
    lm["streaming.compact_bytes_rewritten"] = mean(fired)

    # tracing overhead and self-time coverage over the operations both
    # runs completed (same seed, so the same operations in the same order)
    u_ops, t_ops = untraced["ops"], ops
    n = 0
    while n < min(len(u_ops), len(t_ops)) and u_ops[n]["kind"] == t_ops[n]["kind"]:
        n += 1
    prefix = {o["i"] for o in t_ops[:n]}
    u_wall = sum(o["wall_s"] for o in u_ops[:n])
    t_wall = sum(o["wall_s"] for o in t_ops[:n])
    in_prefix = [s for s in timed_spans if s["op"] in prefix]
    self_sum = sum(selfs[s["id"]] for s in in_prefix)
    glue = sum(selfs[s["id"]] for s in in_prefix if s["name"].startswith("op."))
    lm["trace.overhead_s"] = t_wall - u_wall
    lm["trace.overhead_ratio"] = (t_wall - u_wall) / u_wall if u_wall else 0.0
    lm["trace.self_sum_ratio"] = self_sum / u_wall if u_wall else 0.0
    lm["trace.attributed_ratio"] = (self_sum - glue) / self_sum if self_sum else 0.0
    detail = {"common_ops": n, "untraced_wall_s": u_wall, "traced_wall_s": t_wall,
              "self_sum_s": self_sum, "unattributed_self_s": glue}
    return lm, detail


def print_layer_table(layers: dict, phase: str) -> None:
    print(f"{'span (' + phase + ' phase)':34s} {'calls':>6s} {'self_s':>9s} {'incl_s':>9s} "
          f"{'jobs':>6s} {'stages':>6s} {'tasks':>6s}")
    for name, r in sorted(layers.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"{name:34s} {r['calls']:6d} {r['self_s']:9.3f} {r['incl_s']:9.3f} "
              f"{r['jobs']:6d} {r['stages']:6d} {r['tasks']:6d}")


# --------------------------------------------------------------- provenance


def provenance(seed: int) -> dict:
    git = {"commit": None, "dirty": None}
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            git["commit"] = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                check=True).stdout.strip()
            status = subprocess.run(
                ["git", "status", "--porcelain", "--untracked-files=no"], cwd=ROOT,
                capture_output=True, text=True, check=True).stdout
            git["dirty"] = bool(status.strip())
        except (OSError, subprocess.CalledProcessError):
            pass
    return {"git": git, "nproc": len(os.sched_getaffinity(0)), "python": platform.python_version(),
            "seed": seed, "hardware": platform.machine()}


# --------------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    t0 = time.monotonic()
    deadline = t0 + DEADLINE_S

    if not os.path.isfile(os.path.join(ROOT, "coa_codesearch_mcp_spark", "__init__.py")):
        print(f"perfbench: no coa_codesearch_mcp_spark package under {ROOT}", file=sys.stderr)
        return 2
    import inputs
    from tracer import layer_table

    if args.workload not in inputs.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    manifest = load_manifest()
    size = "smoke" if args.smoke else "full"
    inputs_dir = inputs.prepare(args.workload, size, args.seed, os.path.join(HERE, ".cache"))
    gen_s = time.monotonic() - t0

    runs_root = os.path.join(HERE, ".runs", f"{os.getpid()}")
    report = {"workload": args.workload, "size": size, "seconds": args.seconds,
              "trace": args.trace, "provenance": provenance(args.seed), "input_s": gen_s,
              "workers": []}
    results = []
    try:
        for traced in ([0, 1] if args.trace else [0]):
            tmp = os.path.join(runs_root, f"trace{traced}")
            res, facts = run_worker(args.workload, inputs_dir, args.seconds, traced, tmp, deadline)
            shutil.rmtree(tmp, ignore_errors=True)
            report["workers"].append({"trace": traced, **facts})
            if res is None:
                break
            results.append(res)
    finally:
        shutil.rmtree(runs_root, ignore_errors=True)

    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-{size}-seed{args.seed}-trace{args.trace}"
    if len(results) != (2 if args.trace else 1):
        report["error"] = "worker failed"
        print(json.dumps({"report": report}))
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    base = results[0]
    ops = base["ops"]
    # every worker's operations count: a traced run that fails where the
    # untraced one passed is a failure too
    all_ops = [o for r in results for o in r["ops"]]
    attempted = len(all_ops)
    failed = [o for o in all_ops if not o["ok"]]
    report["spark"] = base.get("spark_version")
    report["worker_import_path"] = base.get("worker_import_path")
    report["failures"] = [{"i": o["i"], "kind": o["kind"], "shape": o["shape"],
                           "error": o["error"]} for o in failed]
    report["notes"] = base["notes"]
    report["setup_parts"] = base["setup_parts"]
    report["timed_wall_s"] = base["timed_wall_s"]
    report["check_s"] = base["check_s"]
    report["builds"] = base["builds"]
    report["ops"] = [[o["kind"], o["shape"], round(o["wall_s"], 4), o["ok"]] for o in ops]
    report["metrics"] = workload_metrics(args.workload, base, report["workers"][0])
    wanted = manifest["per_layer"] if args.trace else manifest["end_to_end"]
    if args.trace:
        traced = results[1]
        lm, detail = layer_metrics(traced, base)
        report["layer_metrics"] = lm
        report["overhead"] = detail
        report["layers"] = {"timed": traced["layers"],
                            "setup": layer_table(traced["spans"], "setup")}
        with open(os.path.join(out_dir, f"spans-{tag}.jsonl"), "w") as f:
            for s in traced["spans"]:
                f.write(json.dumps({k: s[k] for k in ("id", "name", "start", "end", "parent", "op",
                                                      "phase")}) + "\n")
        for phase in ("setup", "timed"):
            print_layer_table(report["layers"][phase], phase)
        print(f"tracing overhead: {detail['traced_wall_s'] - detail['untraced_wall_s']:+.3f} s over "
              f"{detail['common_ops']} operations ({lm['trace.overhead_ratio']:+.1%}); "
              f"self times sum to {lm['trace.self_sum_ratio']:.3f} of the untraced wall time")
        values = lm
    else:
        values = {k: v["value"] for k, v in report["metrics"].items()}
    with open(os.path.join(out_dir, f"report-{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"report": report}))

    metrics = {}
    missing = []
    for spec in wanted:
        v = values.get(spec["name"])
        if v is None:
            missing.append(spec["name"])
            v = 0.0
        metrics[spec["name"]] = {"value": v, "unit": spec["unit"]}
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
    print(json.dumps({"correct": not failed and not missing, "attempted": max(1, attempted),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
