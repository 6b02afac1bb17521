"""Spans around the program's public entry points, recorded from the
benchmark's own files.

``Tracer.install()`` replaces a fixed set of methods and module
functions (``WRAPPED``) with wrappers that open a span for the call;
nothing in the program is edited. A span records name, start, end,
parent and the operation it belongs to. Spark jobs are attributed to
the innermost open span through ``SparkContext.setJobGroup``; after the
run the job and stage figures are read back from the status store,
which keeps them with the UI disabled.

``NullTracer`` has the same ``span``/``phase`` interface and records
nothing: the untraced run uses it, so both runs execute the same
benchmark code.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from collections import defaultdict

# (module, class or None, attribute, span name). A call made while a
# span of the same name is already innermost (StoreSearcher.execute
# recursing into itself) folds into that span.
WRAPPED = [
    ("coa_codesearch_mcp_spark.index.store", "IndexWriter", "build", "index.build"),
    ("coa_codesearch_mcp_spark.index.store", "IndexWriter", "build_from_tokens", "index.build"),
    ("coa_codesearch_mcp_spark.index.store", "IndexWriter", "tokenize_stage", "index.tokenize_stage"),
    ("coa_codesearch_mcp_spark.index.store", "IndexWriter", "dictionary_stage", "index.dictionary_stage"),
    ("coa_codesearch_mcp_spark.index.store", "IndexWriter", "postings_stage", "index.postings_stage"),
    ("coa_codesearch_mcp_spark.index.manifest", "Manifest", "commit", "index.manifest_commit"),
    ("coa_codesearch_mcp_spark.index.lock", "WriteLock", "acquire", "index.write_lock"),
    ("coa_codesearch_mcp_spark.index.lock", "WriteLock", "release", "index.write_lock"),
    ("coa_codesearch_mcp_spark.index.store", "IndexReader", "lookup_terms", "query.lookup_terms"),
    ("coa_codesearch_mcp_spark.query.expansion", None, "expand_terms", "query.expand_terms"),
    ("coa_codesearch_mcp_spark.query.store_executor", "StoreSearcher", "execute", "query.prepare"),
    ("coa_codesearch_mcp_spark.streaming.incremental", "DeltaIndexManager", "init_main", "streaming.init_main"),
    ("coa_codesearch_mcp_spark.streaming.incremental", "DeltaIndexManager", "apply_batch", "streaming.apply_batch"),
    ("coa_codesearch_mcp_spark.streaming.incremental", "DeltaIndexManager", "segments", "streaming.segments"),
    ("coa_codesearch_mcp_spark.streaming.incremental", "DeltaIndexManager", "search_or", "streaming.live_prepare"),
    ("coa_codesearch_mcp_spark.streaming.incremental", "DeltaIndexManager", "search_and", "streaming.live_prepare"),
    ("coa_codesearch_mcp_spark.streaming.incremental", "DeltaIndexManager", "search_phrase", "streaming.live_prepare"),
    ("coa_codesearch_mcp_spark.streaming.incremental", "DeltaIndexManager", "maybe_compact", "streaming.compact"),
]

# what a wrapper records about the call's result
_RESULT_ATTRS = {
    "query.expand_terms": lambda out: {"n": len(out)},
    "streaming.segments": lambda out: {"n": len(out)},
    "streaming.compact": lambda out: {"fired": bool(out)},
}


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield attrs

    def phase(self, name: str) -> None:
        pass

    def set_op(self, op_id) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self._phase = "setup"
        self._op = None
        self._restore: list[tuple] = []

    # ------------------------------------------------------- recording

    def phase(self, name: str) -> None:
        self._phase = name

    def set_op(self, op_id) -> None:
        self._op = op_id

    def _group(self, rec: dict | None) -> None:
        gid = f"pb-{rec['id']}" if rec is not None else "pb-none"
        self.sc.setJobGroup(gid, rec["name"] if rec else "untraced")

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": self._seq,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self._op,
            "phase": self._phase,
            **attrs,
        }
        self._seq += 1
        self._group(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)
            self.spans.append(rec)

    # -------------------------------------------------------- wrapping

    def _wrap(self, orig, name: str):
        tracer = self
        attrs_of = _RESULT_ATTRS.get(name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer._stack and tracer._stack[-1]["name"] == name:
                return orig(*args, **kwargs)
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if attrs_of is not None:
                    rec.update(attrs_of(out))
                return out

        return wrapper

    def install(self) -> None:
        for mod_name, cls_name, attr, name in WRAPPED:
            owner = importlib.import_module(mod_name)
            if cls_name is not None:
                owner = getattr(owner, cls_name)
            orig = owner.__dict__[attr] if cls_name else getattr(owner, attr)
            self._restore.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # ------------------------------------------------- spark read-back

    def attach_spark_metrics(self) -> None:
        """Jobs, stages and task figures per span, from the status
        store. Waits for the listener bus first so the last jobs are in."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        by_group: dict[str, list[tuple[int, list[int]]]] = defaultdict(list)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            group = j.jobGroup()
            if not group.isDefined():
                continue
            sids = j.stageIds()
            by_group[group.get()].append(
                (int(j.jobId()), [int(sids.apply(k)) for k in range(sids.size())])
            )
        stage_cache: dict[int, dict] = {}

        def stage(sid: int) -> dict:
            if sid not in stage_cache:
                s = store.lastStageAttempt(sid)
                stage_cache[sid] = {
                    "status": str(s.status()),
                    "tasks": int(s.numCompleteTasks()),
                    "executor_run_s": int(s.executorRunTime()) / 1000.0,
                    "input_bytes": int(s.inputBytes()),
                    "shuffle_write_bytes": int(s.shuffleWriteBytes()),
                }
            return stage_cache[sid]

        for rec in self.spans:
            got = by_group.get(f"pb-{rec['id']}", [])
            stages = [stage(s) for _, ss in got for s in ss]
            ran = [s for s in stages if s["status"] != "SKIPPED"]
            rec["jobs"] = len(got)
            rec["stages"] = len(ran)
            rec["tasks"] = sum(s["tasks"] for s in ran)
            rec["executor_run_s"] = sum(s["executor_run_s"] for s in ran)
            rec["input_bytes"] = sum(s["input_bytes"] for s in ran)
            rec["shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in ran)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the time its direct children cover
    (children of one span run one after another on the driver thread)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def layer_table(spans: list[dict], phase: str = "timed") -> dict[str, dict]:
    """Per span name, over one phase: calls, self seconds, inclusive
    seconds and the Spark figures of the jobs launched directly in it."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        if s["phase"] != phase:
            continue
        row = out.setdefault(
            s["name"],
            {"calls": 0, "self_s": 0.0, "incl_s": 0.0, "jobs": 0, "stages": 0,
             "tasks": 0, "executor_run_s": 0.0, "input_bytes": 0,
             "shuffle_write_bytes": 0},
        )
        row["calls"] += 1
        row["self_s"] += selfs[s["id"]]
        row["incl_s"] += s["end"] - s["start"]
        for key in ("jobs", "stages", "tasks", "executor_run_s", "input_bytes",
                    "shuffle_write_bytes"):
            row[key] += s.get(key, 0)
    return out
