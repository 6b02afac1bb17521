"""The benchmark's own tests: tiny ("smoke") runs of every workload end to
end, the traced run, the refusal without the program, and the pieces
the metrics rest on (input determinism, span self times, the two BM25
oracles agreeing).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import oracle  # noqa: E402
from tracer import self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    MANIFEST = json.load(f)


def run_bench(workload: str, trace: int, cwd: str = ROOT, seconds: int = 2) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", str(seconds), "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


def last_json(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:] + proc.stdout[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_smoke_run_reports_every_end_to_end_metric(workload):
    res = last_json(run_bench(workload, 0))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = {m["name"]: m["unit"] for m in MANIFEST["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == names
    assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]


def test_traced_run_reports_layers_and_overhead():
    proc = run_bench("live_churn", 1)
    res = last_json(proc)
    assert res["correct"]
    assert set(res["metrics"]) == {m["name"] for m in MANIFEST["per_layer"]}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["streaming.apply_batch_jobs"] > 0 and m["index.postings_stage_jobs"] > 0
    assert m["streaming.compact_bytes_rewritten"] > 0
    assert 0.5 < m["trace.self_sum_ratio"] < 1.5
    assert "tracing overhead:" in proc.stdout
    report = json.loads(proc.stdout.strip().splitlines()[-2])["report"]
    spans = os.path.join(HERE, ".out", "spans-live_churn-smoke-seed3-trace1.jsonl")
    with open(spans) as f:
        first = json.loads(f.readline())
    assert set(first) == {"id", "name", "start", "end", "parent", "op", "phase"}
    assert report["worker_import_path"] == [os.path.join(ROOT, "coa_codesearch_mcp_spark")]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".runs", ".out", "__pycache__"))
    proc = run_bench("search_mix", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = inputs.prepare("live_churn", "smoke", 5, str(tmp_path / "a"))
    b = inputs.prepare("live_churn", "smoke", 5, str(tmp_path / "b"))
    c = inputs.prepare("live_churn", "smoke", 6, str(tmp_path / "c"))

    def read(d):
        with open(os.path.join(d, "ops.json")) as f:
            return json.load(f)

    assert read(a) == read(b)
    assert read(a)["batches"] != read(c)["batches"]
    with open(os.path.join(a, "corpus.parquet"), "rb") as fa, open(os.path.join(b, "corpus.parquet"), "rb") as fb:
        assert fa.read() == fb.read()


def test_search_stream_queries_are_distinct_and_cover_every_shape(tmp_path):
    d = inputs.prepare("search_mix", "smoke", 5, str(tmp_path))
    with open(os.path.join(d, "ops.json")) as f:
        ops = json.load(f)
    keys = [json.dumps(q, sort_keys=True) for q in ops["stream"] + ops["warm"]]
    assert len(keys) == len(set(keys))
    first_round = {q["shape"] for q in ops["stream"][: len(inputs.SEARCH_SHAPES)]}
    assert first_round == set(inputs.SEARCH_SHAPES)


def test_self_time_excludes_direct_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 5.0, "end": 6.0},
    ]
    assert self_times(spans) == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}


def test_duckdb_and_python_bm25_agree():
    texts = ["a b c a", "b c d", "a a a e", "c d e f g", "b b a"]
    ids = [10, 11, 12, 13, 14]
    duck = oracle.DuckBm25(ids, texts)
    per_doc = [Counter(inputs.patterns_tokens(t)) for t in texts]
    try:
        for terms, mode in ((["a"], "or"), (["a", "b"], "or"), (["b", "c"], "and")):
            assert duck.topk(terms, mode) == oracle.python_bm25(per_doc, ids, terms, mode)
        assert [d for d, _ in duck.phrase("c", "d")] == [11, 13]
        assert duck.expand("wildcard", "b*") == ["b"]
        assert duck.expand("fuzzy", "ab", 1) == ["a", "b"]
    finally:
        duck.close()
