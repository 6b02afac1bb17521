"""One run of one workload, in a fresh process (started by run.py).

Phases, in order:
  setup   Spark session on local[nproc], a check that Spark's Python
          workers import the checkout under test (which also spawns
          them), the untimed warm-up and the workload's prebuilt index.
          ``setup_s`` covers all of it; input generation happened
          before this process started.
  timed   one closed-loop client (this thread) runs the workload's
          operations until ``--seconds`` have passed. Every operation
          is wrapped: an exception is recorded with its type and the
          loop goes on.
  extra   traced runs only: the analysis micro-measurement, the WAND
          kernel replay and the read-back of Spark job figures.
  check   the correctness gate, after Spark has stopped; a mismatch
          marks its operation failed.

Writes one JSON document (``--out``) that run.py turns into metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracer import NullTracer, Tracer, layer_table  # noqa: E402

K = 10
# index layouts are sized to the box: one bucket and one doc range per
# core (at these corpus sizes more partitions only add files and tasks)
NPROC = len(os.sched_getaffinity(0))


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.startswith("_"):
                total += os.path.getsize(os.path.join(base, f))
    return total


def index_bytes(root: str) -> int:
    """Bytes of dictionary and postings on disk."""
    return dir_bytes(os.path.join(root, "dictionary")) + dir_bytes(os.path.join(root, "postings"))


def store_config(field: str, n_docs: int):
    """Dense-id store layout: one bucket and one doc range per core, two
    tokenize chunks, and a salt threshold low enough that the head
    terms are split (salting fires)."""
    from coa_codesearch_mcp_spark.index.store import IndexConfig

    return IndexConfig(
        field=field, n_buckets=NPROC, range_size=max(32, -(-n_docs // NPROC)),
        chunk_size=max(64, -(-n_docs // 2)), chunks_per_wave=8,
        salt_threshold=max(16, n_docs // 8), with_positions=True,
    )


class Run:
    """Shared state and the operation wrapper."""

    def __init__(self, spark, tracer, inputs_dir: str, tmp: str, ops_spec: dict):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs_dir
        self.tmp = tmp
        self.spec = ops_spec
        self.ops: list[dict] = []
        self.builds: list[dict] = []
        self.notes: dict = {}
        import pyarrow.parquet as pq

        table = pq.read_table(os.path.join(inputs_dir, "corpus.parquet"))
        self.doc_ids = table.column("doc_id").to_pylist()
        self.urls = table.column("url").to_pylist()
        self.texts = table.column("text").to_pylist()
        self.text_bytes = sum(len(t.encode("utf-8")) for t in self.texts)

    def op(self, kind: str, shape: str, fn, **attrs):
        rec = {"i": len(self.ops), "kind": kind, "shape": shape, **attrs}
        self.tracer.set_op(rec["i"])
        out = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op." + kind):
                out = fn()
            rec["ok"] = True
        except Exception as e:  # a failed operation is data, not the end of the run
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {str(e)[:200]}"
        rec["wall_s"] = time.perf_counter() - t0
        self.tracer.set_op(None)
        self.ops.append(rec)
        return rec, out

    def collect(self, df) -> list[tuple[int, float]]:
        with self.tracer.span("query.collect"):
            rows = df.collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def fail(self, rec: dict, why: str) -> None:
        if rec.get("ok"):
            rec["ok"] = False
            rec["error"] = why

    def corpus_df(self, name: str = "corpus.parquet"):
        return self.spark.read.parquet(os.path.join(self.inputs, name))


# ---------------------------------------------------------------- queries


def search_ast(q: dict, field: str):
    """Input query -> planner AST. Text forms go through the reference
    syntax (``build_query``); that syntax has no OR / NOT operator on
    the whitespace chain, so those two shapes are given as the
    planner's BoolQ directly."""
    from coa_codesearch_mcp_spark.query.ast import BoolQ, TermQ
    from coa_codesearch_mcp_spark.query.planner import build_query

    if "text" in q:
        return build_query(q["text"], q["type"], field)
    if "should" in q:
        return BoolQ(should=[TermQ(t) for t in q["should"]])
    return BoolQ(must=[TermQ(t) for t in q["must"]],
                 must_not=[TermQ(t) for t in q["must_not"]])


def expected_store(oracle, ast) -> list[tuple[int, float]]:
    """Oracle answer for a planner AST of the shapes the stream uses."""
    from coa_codesearch_mcp_spark.query.ast import BoolQ, FuzzyQ, PhraseQ, TermQ, WildcardQ

    if isinstance(ast, TermQ):
        return oracle.topk([ast.term])
    if isinstance(ast, PhraseQ) and len(ast.terms) == 2 and ast.slop == 0:
        return oracle.phrase(*ast.terms)
    if isinstance(ast, WildcardQ):
        terms = oracle.expand("wildcard", ast.pattern)
        return oracle.topk(terms) if terms else []
    if isinstance(ast, FuzzyQ):
        terms = oracle.expand("fuzzy", ast.term, ast.max_edits)
        return oracle.topk(terms) if terms else []
    if isinstance(ast, BoolQ):
        def flat(cs):
            if not all(isinstance(c, TermQ) for c in cs):
                raise ValueError("nested clause")
            return [c.term for c in cs]

        must, should, must_not = flat(ast.must), flat(ast.should), flat(ast.must_not)
        if should and not must:
            return oracle.topk(should, "or", must_not)
        if must and not should:
            return oracle.topk(must, "and" if len(must) > 1 else "or", must_not)
    raise ValueError(f"no oracle for {ast!r}")


# --------------------------------------------------------------- workloads


class BulkBuild(Run):
    """Full IndexWriter.build of the code-chain corpus, repeated."""

    FIELD = "content"

    def _probe(self, root: str, queries: list[dict], timed: bool) -> None:
        from coa_codesearch_mcp_spark.index.store import IndexReader
        from coa_codesearch_mcp_spark.query.planner import build_query
        from coa_codesearch_mcp_spark.query.store_executor import StoreSearcher

        ss = StoreSearcher(IndexReader(self.spark, root))
        for q in queries:
            run = lambda q=q: self.collect(ss.execute(build_query(q["text"], q["type"], self.FIELD), K))
            if timed:
                rec, rows = self.op("query", q["shape"], run, text=q["text"], type=q["type"])
                rec["rows"] = rows
            else:
                run()

    def setup(self) -> None:
        from coa_codesearch_mcp_spark.index.store import IndexWriter

        warm = self.corpus_df("warm.parquet")
        n_warm = warm.count()
        root = os.path.join(self.tmp, "warm")
        IndexWriter(self.spark, root, store_config(self.FIELD, n_warm)).build(warm)
        self._probe(root, self.spec["warm"], timed=False)
        self.docs = self.corpus_df()
        self.cfg = store_config(self.FIELD, len(self.texts))

    def run(self, seconds: float) -> None:
        from coa_codesearch_mcp_spark.index.store import IndexWriter

        t0 = time.perf_counter()
        prev = None
        while time.perf_counter() - t0 < seconds:
            root = os.path.join(self.tmp, f"build{len(self.builds)}")
            rec, manifest = self.op(
                "build", "build", lambda: IndexWriter(self.spark, root, self.cfg).build(self.docs)
            )
            build = {"op": rec["i"], "docs": len(self.texts), "wall_s": rec["wall_s"]}
            if rec["ok"]:
                corpus = manifest.get_stats("corpus")
                build.update(n_docs=corpus["n_docs"], total_tokens=corpus["total_tokens"],
                             index_bytes=index_bytes(root), root_bytes=dir_bytes(root))
                self._probe(root, self.spec["probes"], timed=True)
            self.builds.append(build)
            if prev is not None:
                shutil.rmtree(prev, ignore_errors=True)
            prev = root

    def check(self) -> None:
        from oracle import code_chain_totals, python_bm25

        from coa_codesearch_mcp_spark.query.ast import BoolQ, TermQ
        from coa_codesearch_mcp_spark.query.planner import build_query

        n, total, per_doc = code_chain_totals(self.texts)
        self.notes["oracle"] = {"n_docs": n, "total_tokens": total}
        by_op = {r["i"]: r for r in self.ops}
        for b in self.builds:
            rec = by_op[b["op"]]
            if rec["ok"] and (b["n_docs"], b["total_tokens"]) != (n, total):
                self.fail(rec, f"mismatch: manifest ({b['n_docs']}, {b['total_tokens']}) != ({n}, {total})")
        for rec in self.ops:
            if rec["kind"] != "query" or not rec["ok"]:
                continue
            ast = build_query(rec["text"], rec["type"], self.FIELD)
            if isinstance(ast, TermQ):
                terms, mode = [ast.term], "or"
            elif isinstance(ast, BoolQ) and all(isinstance(c, TermQ) for c in ast.must) and not ast.should:
                terms, mode = [c.term for c in ast.must], "and"
            else:
                self.fail(rec, f"no oracle for {ast!r}")
                continue
            want = python_bm25(per_doc, self.doc_ids, terms, mode, K)
            if rec["rows"] != want:
                self.fail(rec, "mismatch: top-k differs from the Python BM25 recount")

    def extras(self) -> None:
        analysis_noop(self, self.corpus_df(), self.FIELD)


class SearchMix(Run):
    """Distinct queries of eight shapes over a prebuilt store index."""

    FIELD = "content_patterns"

    def setup(self) -> None:
        from coa_codesearch_mcp_spark.index.store import IndexReader, IndexWriter
        from coa_codesearch_mcp_spark.query.store_executor import StoreSearcher

        warm = self.corpus_df("warm.parquet")
        IndexWriter(self.spark, os.path.join(self.tmp, "warm"),
                    store_config(self.FIELD, warm.count())).build(warm)
        n = len(self.texts)
        root = os.path.join(self.tmp, "store")
        t0 = time.perf_counter()
        IndexWriter(self.spark, root, store_config(self.FIELD, n)).build(self.corpus_df())
        self.builds.append({"docs": n, "wall_s": time.perf_counter() - t0,
                            "index_bytes": index_bytes(root), "root_bytes": dir_bytes(root),
                            "phase": "setup"})
        self.ss = StoreSearcher(IndexReader(self.spark, root))
        for q in self.spec["warm"]:
            self.collect(self.ss.execute(search_ast(q, self.FIELD), K))

    def run(self, seconds: float) -> None:
        """Whole rounds of the stream (one query of every shape per
        round), so the shape mix behind each percentile is the same in
        every run."""
        from inputs import SEARCH_SHAPES

        t0 = time.perf_counter()
        for i, q in enumerate(self.spec["stream"]):
            if i % len(SEARCH_SHAPES) == 0 and time.perf_counter() - t0 >= seconds:
                break
            rec, rows = self.op(
                "query", q["shape"], lambda q=q: self.collect(self.ss.execute(search_ast(q, self.FIELD), K)),
            )
            rec["q"] = q
            rec["rows"] = rows
        else:
            self.notes["stream_exhausted"] = True

    def check(self) -> None:
        from oracle import DuckBm25

        oracle = DuckBm25(self.doc_ids, self.texts)
        try:
            for rec in self.ops:
                if rec["ok"] and rec["rows"] != expected_store(oracle, search_ast(rec["q"], self.FIELD)):
                    self.fail(rec, "mismatch: top-k differs from DuckDB BM25")
        finally:
            oracle.close()

    def extras(self) -> None:
        analysis_noop(self, self.corpus_df(), self.FIELD)
        wand_replay(self)


class LiveChurn(Run):
    """apply_batch / three live queries / maybe_compact, repeated."""

    FIELD = "content_patterns"

    def setup(self) -> None:
        from coa_codesearch_mcp_spark.index.store import IndexConfig
        from coa_codesearch_mcp_spark.streaming.incremental import DeltaIndexManager, _url_doc_id

        n = len(self.texts)
        # hashed 62-bit url ids: range/chunk size 2^60 gives 4 ranges
        self.cfg = IndexConfig(
            field=self.FIELD, n_buckets=NPROC, range_size=1 << 60, chunk_size=1 << 60,
            chunks_per_wave=32, salt_threshold=max(16, n // 4), with_positions=True,
        )
        self.root = os.path.join(self.tmp, "live")
        self.mgr = DeltaIndexManager(self.spark, self.root, self.cfg)
        docs = self.corpus_df().select("url", "text").withColumn("doc_id", _url_doc_id())
        t0 = time.perf_counter()
        self.mgr.init_main(docs)
        main = self.mgr._main_root()
        self.builds.append({"docs": n, "wall_s": time.perf_counter() - t0,
                            "index_bytes": index_bytes(main), "root_bytes": dir_bytes(main),
                            "phase": "setup"})
        for q in self.spec["live_queries"]:
            self.collect(self.live_query(q))
        self.applied = 0

    def batch_df(self, i: int):
        import datetime

        base = datetime.datetime(2024, 4, 1) + datetime.timedelta(hours=i)
        rows = [
            (e["url"], e["op"], e["text"], base if e["op"] == "upsert" else None,
             base + datetime.timedelta(microseconds=j))
            for j, e in enumerate(self.spec["batches"][i])
        ]
        return self.spark.createDataFrame(
            rows, "url string, op string, text string, warc_ts timestamp, event_ts timestamp"
        )

    def live_query(self, q: dict):
        if q["mode"] == "phrase":
            return self.mgr.search_phrase(q["terms"], K)
        if q["mode"] == "and":
            return self.mgr.search_and(q["terms"], K)
        return self.mgr.search_or(q["terms"], K)

    def run(self, seconds: float) -> None:
        """Cycles of apply_batch, the live queries and maybe_compact. A
        batch is sized so that it alone trips the size-tiered trigger:
        every cycle ends in a merge, and with --seconds shorter than a
        cycle (about 20 s on 4 cores) a run is one cycle. (A second pass
        of the queries would not add like samples: the first query after
        a batch pays for the new snapshot's file listings and corpus
        totals, which the manager caches for every later one.)"""
        t0 = time.perf_counter()
        fired = False
        while (time.perf_counter() - t0 < seconds or not fired) and self.applied < len(self.spec["batches"]):
            i = self.applied
            rec, _ = self.op("apply", "apply", lambda: self.mgr.apply_batch(self.batch_df(i)),
                             events=len(self.spec["batches"][i]))
            self.applied += 1
            for q in self.spec["live_queries"]:
                rec, rows = self.op("live_query", q["shape"], lambda q=q: self.collect(self.live_query(q)))
                rec.update(q=q, rows=rows, batches=self.applied)
            rec, did = self.op("compact", "compact", self.mgr.maybe_compact)
            rec["fired"] = bool(did)
            if did:
                fired = True
                rec["main_bytes"] = dir_bytes(self.mgr._main_root())
        self.notes["batches_applied"] = self.applied
        self.notes["compaction_fired"] = fired

    def live_docs(self, n_batches: int) -> dict[str, str]:
        """url -> text after the first ``n_batches`` batches, replayed
        from the benchmark's own record of the changes."""
        live = dict(zip(self.urls, self.texts))
        for events in self.spec["batches"][:n_batches]:
            for e in events:
                if e["op"] == "delete":
                    live.pop(e["url"], None)
                else:
                    live[e["url"]] = e["text"]
        return live

    def check(self) -> None:
        """Every live query is checked against DuckDB over the live docs
        as they stood when it ran (compaction changes no live doc)."""
        from oracle import DuckBm25

        from coa_codesearch_mcp_spark.index.hashing import xxh64_signed

        mask = (1 << 62) - 1
        by_state: dict[int, list[dict]] = {}
        for rec in self.ops:
            if rec["kind"] == "live_query" and rec["ok"]:
                by_state.setdefault(rec["batches"], []).append(rec)
        for n_batches, recs in sorted(by_state.items()):
            live = self.live_docs(n_batches)
            oracle = DuckBm25([xxh64_signed(u.encode("utf-8")) & mask for u in live],
                              list(live.values()))
            try:
                for rec in recs:
                    q = rec["q"]
                    want = (oracle.phrase(*q["terms"]) if q["mode"] == "phrase"
                            else oracle.topk(q["terms"], q["mode"]))
                    if rec["rows"] != want:
                        self.fail(rec, "mismatch: live top-k differs from DuckDB over the live docs")
            finally:
                oracle.close()
        self.notes["live_docs"] = len(self.live_docs(self.applied))

    def extras(self) -> None:
        analysis_noop(self, self.corpus_df(), self.FIELD)


WORKLOADS = {"bulk_build": BulkBuild, "search_mix": SearchMix, "live_churn": LiveChurn}


# ------------------------------------------------------ traced-run extras


def analysis_noop(run: Run, docs, field: str) -> None:
    """The analyzer chain alone: grouped_tokens_arrow into a noop sink."""
    from coa_codesearch_mcp_spark.analysis.udfs import grouped_tokens_arrow

    with run.tracer.span("analysis.tokenize") as rec:
        grouped_tokens_arrow(docs, field).write.format("noop").mode("overwrite").save()
    rec["docs"] = len(run.texts)


def wand_replay(run: SearchMix) -> None:
    """Driver-side replay of query.wand.wand_topk over postings_blocks
    for the timed WAND-shape queries (the method bench.py uses for its
    block counters). Only the kernel calls are timed; the counters
    repeat exactly for a given seed and operation count."""
    from coa_codesearch_mcp_spark.index.codec import decode_blocks
    from coa_codesearch_mcp_spark.index.store import WAND_BLOCK_COLUMNS
    from coa_codesearch_mcp_spark.query.ast import BoolQ, TermQ
    from coa_codesearch_mcp_spark.query.wand import WandStats, wand_topk

    stats = WandStats()
    kernel_s = 0.0
    n = 0
    reader = run.ss.reader
    for rec in run.ops:
        if rec["shape"] not in ("term", "and", "or_stop_rare", "or_mid", "not"):
            continue
        ast = search_ast(rec["q"], run.FIELD)
        if isinstance(ast, TermQ):
            terms, exclude, mode = [ast.term], [], "or"
        elif isinstance(ast, BoolQ):
            terms = [c.term for c in (ast.must or ast.should)]
            exclude = [c.term for c in ast.must_not]
            mode = "and" if len(ast.must) > 1 else "or"
        else:
            continue
        terms = sorted(set(terms))
        blocks, info = reader.postings_blocks(terms + exclude, columns=WAND_BLOCK_COLUMNS)
        pdf = blocks.toPandas()
        n += 1
        for _, grp in pdf.groupby("range_id"):
            term_blocks, banned = {}, set()
            for t, g in grp.groupby("term"):
                rows = g.sort_values("block_no").to_dict("records")
                if t in exclude:
                    banned.update(int(d) for d in decode_blocks(rows)[0])
                elif t in info:
                    term_blocks[t] = (info[t]["idf"], rows)
            t0 = time.perf_counter()
            wand_topk(term_blocks, reader.avgdl, K, mode=mode, stats=stats,
                      n_required=len(terms) if mode == "and" else None,
                      banned=banned.__contains__ if banned else None)
            kernel_s += time.perf_counter() - t0
    run.notes["wand_replay"] = {
        "queries": n, "kernel_s": kernel_s, "blocks_total": stats.blocks_total,
        "blocks_decoded": stats.blocks_decoded, "docs_scored": stats.docs_scored,
    }


# ------------------------------------------------------------------- main


def pinned_imports(spark, root: str) -> list[str]:
    """Where Spark's Python workers import the package from: one task
    per core, so this also spawns every worker before anything is timed."""
    import pandas as pd

    def where(batches):
        import coa_codesearch_mcp_spark

        for _ in batches:
            yield pd.DataFrame({"path": [os.path.dirname(os.path.abspath(coa_codesearch_mcp_spark.__file__))]})

    n = spark.sparkContext.defaultParallelism
    paths = sorted({r["path"] for r in spark.range(0, n, 1, n).mapInPandas(where, "path string").collect()})
    want = os.path.join(root, "coa_codesearch_mcp_spark")
    if paths != [want]:
        raise RuntimeError(f"Spark workers import {paths}, not the checkout's {want}")
    return paths


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--root", required=True)
    args = ap.parse_args()

    sys.path.insert(0, args.root)
    from coa_codesearch_mcp_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{NPROC}]", shuffle_partitions=NPROC)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark) if args.trace else NullTracer()
    if args.trace:
        tracer.install()
    with open(os.path.join(args.inputs, "ops.json")) as f:
        spec = json.load(f)
    out: dict = {"workload": args.workload, "trace": args.trace, "spark_version": spark.version}
    try:
        parts = {"session_s": time.perf_counter() - T_START}
        out["worker_import_path"] = pinned_imports(spark, args.root)
        parts["spawn_s"] = time.perf_counter() - T_START - sum(parts.values())
        run = WORKLOADS[args.workload](spark, tracer, args.inputs, args.tmp, spec)
        run.setup()
        out["setup_s"] = time.perf_counter() - T_START
        parts["workload_s"] = out["setup_s"] - sum(parts.values())
        out["setup_parts"] = parts
        tracer.phase("timed")
        t0 = time.perf_counter()
        run.run(args.seconds)
        out["timed_wall_s"] = time.perf_counter() - t0
        # tells run.py that the program's part of the run is over: the
        # memory peak it reports covers set-up and the timed phase only
        open(os.path.join(args.tmp, "timed.done"), "w").close()
        if args.trace:
            tracer.phase("extra")
            run.extras()
            tracer.uninstall()
            tracer.attach_spark_metrics()
            out["spans"] = tracer.spans
            out["layers"] = layer_table(tracer.spans, "timed")
    finally:
        spark.stop()
    # the gates need no Spark; run once it has stopped (and its Python
    # workers with it), the oracles' memory stays out of the peak
    t0 = time.perf_counter()
    run.check()
    out["check_s"] = time.perf_counter() - t0
    out.update(ops=[{k: v for k, v in r.items() if k != "rows"} for r in run.ops],
               builds=run.builds, notes=run.notes, text_bytes=run.text_bytes,
               n_docs=len(run.texts))
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
