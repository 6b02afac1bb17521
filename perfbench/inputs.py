"""Seeded benchmark inputs, generated once per (workload, size, seed).

The program under test only ever sees what this module writes: a
corpus parquet file plus a JSON file of operations (queries, churn
batches). Generation runs in the orchestrating process, outside the
measured set-up, and the result is cached under a key that includes
the hash of this file and of ``fixtures/webgen.py`` — a change to
either generator invalidates every cached input.

Rows come from ``fixtures.webgen._make_row`` over ``extended_vocab``:
the exact per-row generator that ``generate_webpages`` runs inside
Spark tasks (Zipf 1.3 over the vocabulary, log-normal lengths, ~1% of
docs stuffed with hot terms), called here directly so the inputs are
plain files independent of the program's Spark code.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
from collections import Counter

# Sizes are set so one run (JVM start, set-up, a --seconds timed loop,
# the correctness gate) stays well under a minute on 4 cores; "smoke"
# is the tiny variant the benchmark's own tests use.
SIZES = {
    "full": {
        "bulk_build": {"docs": 1000, "vocab": 1000, "warm_docs": 48},
        "search_mix": {"docs": 1000, "vocab": 500, "queries_per_shape": 12, "warm_docs": 48},
        "live_churn": {"docs": 250, "vocab": 400, "batch": 96, "batches": 8},
    },
    "smoke": {
        "bulk_build": {"docs": 150, "vocab": 300, "warm_docs": 24},
        "search_mix": {"docs": 300, "vocab": 300, "queries_per_shape": 4, "warm_docs": 24},
        "live_churn": {"docs": 100, "vocab": 300, "batch": 40, "batches": 4},
    },
}

WORKLOADS = ("bulk_build", "search_mix", "live_churn")

SEARCH_SHAPES = (
    "term", "and", "or_stop_rare", "or_mid", "not", "phrase", "prefix", "fuzzy",
)

# the live-churn change mix: upserts of existing urls, deletes, new urls
CHURN_MIX = {"upsert": 0.75, "delete": 0.15, "new": 0.10}


def _webgen():
    from coa_codesearch_mcp_spark.fixtures import webgen

    return webgen


def _generator_hash() -> str:
    h = hashlib.sha256()
    for path in (__file__, _webgen().__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def patterns_tokens(text: str) -> list[str]:
    """The ``content_patterns`` analyzer, restated: whitespace split +
    lowercase (the DuckDB oracle tokenizes the same way)."""
    return [t.lower() for t in text.split()]


def _rows(n: int, seed: int, vocab_size: int | None, start: int = 0) -> list[dict]:
    wg = _webgen()
    vocab = wg.extended_vocab(vocab_size) if vocab_size else None
    return [wg._make_row(i, seed, vocab) for i in range(start, start + n)]


def _write_corpus(path: str, doc_ids: list[int], urls: list[str], texts: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "url": pa.array(urls, pa.string()),
            "text": pa.array(texts, pa.string()),
        }
    )
    pq.write_table(table, path)


def _df_bands(texts: list[str]) -> tuple[list[tuple[str, int]], int]:
    df: Counter = Counter()
    for t in texts:
        df.update(set(patterns_tokens(t)))
    ranked = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked, len(texts)


def _bands(ranked: list[tuple[str, int]], n: int, k: int = 10) -> dict[str, list[str]]:
    """Term pools by document frequency. ``selective`` terms have at
    least 4k postings so an OR with a stopword takes the WAND bootstrap
    path (query/wand.py BOOTSTRAP_MIN_DF_FACTOR), and at most an eighth
    of the stopword df (BOOTSTRAP_DF_RATIO). Corpora too small for that
    band (the smoke size) fall back to any df of 2 or more."""
    stop = [t for t, d in ranked if d >= n // 2][:8]
    mid = [t for t, d in ranked if n // 40 <= d < n // 4]
    selective = [t for t, d in ranked if 4 * k <= d <= n // 8] or [
        t for t, d in ranked if 2 <= d <= n // 8
    ]
    rare = [t for t, d in ranked if 2 <= d < 4 * k]
    return {"stop": stop, "mid": mid, "selective": selective, "rare": rare}


def _adjacent_pairs(texts: list[str], rng: random.Random, n_pairs: int) -> list[list[str]]:
    pairs: list[list[str]] = []
    seen = set()
    tries = 0
    while len(pairs) < n_pairs and tries < 50 * n_pairs:
        tries += 1
        toks = patterns_tokens(texts[rng.randrange(len(texts))])
        if len(toks) < 2:
            continue
        i = rng.randrange(len(toks) - 1)
        a, b = toks[i], toks[i + 1]
        if a == b or (a, b) in seen or not a.isalpha() or not b.isalpha():
            continue
        seen.add((a, b))
        pairs.append([a, b])
    return pairs


def _edit(term: str, rng: random.Random) -> str:
    """One substitution inside the term: a fuzzy probe that is not
    itself (necessarily) a dictionary term."""
    i = rng.randrange(len(term))
    c = rng.choice([ch for ch in "abcdefghijklmnopqrstuvwxyz" if ch != term[i]])
    return term[:i] + c + term[i + 1:]


def _edit_distance_at_most(a: str, b: str, k: int) -> bool:
    if abs(len(a) - len(b)) > k:
        return False
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
        if min(cur) > k:
            return False
        prev = cur
    return prev[-1] <= k


def expansion_size(kind: str, pattern: str, dictionary: list[str]) -> int:
    """How many dictionary terms the engine's rewrite would OR together
    (query/expansion.py: anchored glob, or Levenshtein <= 2)."""
    if kind == "wildcard":
        from oracle import glob_regex

        rx = re.compile(glob_regex(pattern))
        return sum(1 for t in dictionary if rx.fullmatch(t))
    return sum(1 for t in dictionary if _edit_distance_at_most(t, pattern, 2))


# Expansion shapes cost roughly in proportion to the terms they OR
# together; these bands keep that cost alike across seeds.
EXPANSION_BAND = {"wildcard": (4, 32), "fuzzy": (8, 64)}


def _search_queries(texts: list[str], seed: int, per_shape: int) -> dict:
    """A stream of DISTINCT queries, round-robin over the eight shapes
    (shuffled per round) so every run length sees the same mix, plus a
    disjoint set of warm-up queries. Terms come from a bounded pool of a
    few hundred terms, so the reader's term cache warms as it would in a
    long session."""
    rng = random.Random(seed * 7919 + 1)
    ranked, n = _df_bands(texts)
    dictionary = [t for t, _ in ranked]
    # terms the reference syntax would re-parse (wildcards, quotes,
    # escapes) stay out of the text-form pools
    ranked = [(t, d) for t, d in ranked if not any(c in t for c in '*?"\\')]
    b = _bands(ranked, n)
    pool_mid = rng.sample(b["mid"], min(len(b["mid"]), 120))
    pool_sel = rng.sample(b["selective"], min(len(b["selective"]), 120))
    pool_rare = rng.sample(b["rare"], min(len(b["rare"]), 60))
    alpha = [t for t in pool_mid + pool_sel + pool_rare if t.isalpha() and len(t) >= 4]
    pairs = _adjacent_pairs(texts, rng, 4 * per_shape)

    def make(shape: str) -> dict:
        if shape == "term":
            return {"shape": shape, "text": rng.choice(pool_mid + pool_sel + pool_rare), "type": "standard"}
        if shape == "and":
            a, c = rng.sample(pool_mid, 2)
            return {"shape": shape, "text": f"{a} {c}", "type": "standard"}
        if shape == "or_stop_rare":
            return {"shape": shape, "should": [rng.choice(b["stop"]), rng.choice(pool_sel)]}
        if shape == "or_mid":
            return {"shape": shape, "should": rng.sample(pool_mid, 2)}
        if shape == "not":
            a, c = rng.sample(pool_mid, 2)
            return {"shape": shape, "must": [a], "must_not": [c]}
        if shape == "phrase":
            a, c = rng.choice(pairs)
            return {"shape": shape, "text": f'"{a} {c}"', "type": "standard"}
        kind = "wildcard" if shape == "prefix" else "fuzzy"
        lo, hi = EXPANSION_BAND[kind]
        for _ in range(200):
            t = rng.choice(alpha)
            text = t[: rng.choice((2, 3))] + "*" if kind == "wildcard" else _edit(t, rng)
            if lo <= expansion_size(kind, text, dictionary) <= hi:
                return {"shape": shape, "text": text, "type": kind}
        raise ValueError(f"no {shape} query expands to {lo}..{hi} terms")

    seen: set[str] = set()
    stream: list[dict] = []
    warm: list[dict] = []

    def fresh(shape: str) -> dict:
        for _ in range(1000):
            q = make(shape)
            key = json.dumps(q, sort_keys=True)
            if key not in seen:
                seen.add(key)
                return q
        raise ValueError(f"corpus too small for {per_shape} distinct {shape} queries")

    # warm-up: one query of every shape. A shape's first query in a
    # process runs up to 1.7x slower than its later ones, by an amount
    # that varies from run to run, so it stays out of the timed stream
    warm.extend(fresh(shape) for shape in SEARCH_SHAPES)
    for _ in range(per_shape):
        order = list(SEARCH_SHAPES)
        rng.shuffle(order)
        stream.extend(fresh(s) for s in order)
    return {"stream": stream, "warm": warm}


def _churn(rows: list[dict], seed: int, vocab: int, batch: int, n_batches: int) -> dict:
    """Change batches over url-keyed docs. Upserts pick existing live
    urls with Zipf-like skew (a few pages change often); each batch
    touches a url at most once, so last-event-wins never hides an event
    and the oracle's replay is exact."""
    rng = random.Random(seed * 104729 + 3)
    live = [r["url"] for r in rows]
    n_up = round(batch * CHURN_MIX["upsert"])
    n_del = round(batch * CHURN_MIX["delete"])
    n_new = batch - n_up - n_del
    fresh_rows = _rows(n_batches * (n_up + n_new), seed + 1_000_003, vocab)
    fresh_i = 0
    new_i = 0
    batches = []
    weights_cache: dict[int, list[float]] = {}
    for _ in range(n_batches):
        n_live = len(live)
        w = weights_cache.get(n_live)
        if w is None:
            w = weights_cache[n_live] = [1.0 / (i + 1) ** 0.8 for i in range(n_live)]
        chosen: list[int] = []
        seen = set()
        while len(chosen) < n_up + n_del:
            i = rng.choices(range(n_live), weights=w)[0]
            if i not in seen:
                seen.add(i)
                chosen.append(i)
        events = []
        for j, i in enumerate(chosen):
            url = live[i]
            if j < n_up:
                events.append({"url": url, "op": "upsert", "text": fresh_rows[fresh_i]["text"]})
                fresh_i += 1
            else:
                events.append({"url": url, "op": "delete", "text": None})
        for _ in range(n_new):
            url = f"https://example.org/new/{seed}/{new_i:08d}.html"
            new_i += 1
            events.append({"url": url, "op": "upsert", "text": fresh_rows[fresh_i]["text"]})
            fresh_i += 1
        rng.shuffle(events)
        dead = {e["url"] for e in events if e["op"] == "delete"}
        live = [u for u in live if u not in dead] + [
            e["url"] for e in events if e["op"] == "upsert" and e["url"] not in set(live)
        ]
        batches.append(events)
    return {"batches": batches}


def _live_queries(texts: list[str], seed: int) -> dict:
    """The three fixed live queries: OR stopword x selective, AND of two
    mid terms, an adjacent phrase."""
    rng = random.Random(seed * 15485863 + 5)
    ranked, n = _df_bands(texts)
    b = _bands(ranked, n)
    mid = rng.sample(b["mid"], 2)
    sel = rng.sample(b["selective"], 2)
    pairs = _adjacent_pairs(texts, rng, 1)
    fixed = [
        {"shape": "or_stop_rare", "mode": "or", "terms": [b["stop"][0], sel[0]]},
        {"shape": "and", "mode": "and", "terms": mid[0:2]},
        {"shape": "phrase", "mode": "phrase", "terms": pairs[0]},
    ]
    return {"live_queries": fixed}


def generate(workload: str, size: str, seed: int, out_dir: str) -> None:
    cfg = SIZES[size][workload]
    os.makedirs(out_dir, exist_ok=True)
    rows = _rows(cfg["docs"], seed, cfg["vocab"])
    texts = [r["text"] for r in rows]
    _write_corpus(os.path.join(out_dir, "corpus.parquet"), list(range(len(rows))),
                  [r["url"] for r in rows], texts)
    ops: dict = {"workload": workload, "size": size, "seed": seed, "config": cfg}
    if "warm_docs" in cfg:
        # a tiny corpus on the default vocabulary for the untimed warm-up
        # build: it pays the process's first-build costs, so the measured
        # build that follows does not
        warm = _rows(cfg["warm_docs"], seed + 17, None)
        _write_corpus(os.path.join(out_dir, "warm.parquet"), list(range(len(warm))),
                      [r["url"] for r in warm], [r["text"] for r in warm])
    if workload == "bulk_build":
        # the probe queries run on each freshly built index
        ops["probes"] = [
            {"shape": "term", "text": "search", "type": "standard"},
            {"shape": "and", "text": "index query", "type": "standard"},
        ]
        ops["warm"] = [
            {"shape": "term", "text": "stream", "type": "standard"},
            {"shape": "and", "text": "merge sort", "type": "standard"},
        ]
    elif workload == "search_mix":
        ops.update(_search_queries(texts, seed, cfg["queries_per_shape"]))
    elif workload == "live_churn":
        ops.update(_churn(rows, seed, cfg["vocab"], cfg["batch"], cfg["batches"]))
        ops.update(_live_queries(texts, seed))
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out_dir, "ops.json"), "w") as f:
        json.dump(ops, f)


def prepare(workload: str, size: str, seed: int, cache_root: str) -> str:
    """Directory holding the inputs for (workload, size, seed); built on
    first use, atomically (tmp dir + rename)."""
    key = f"{workload}-{size}-{seed}-{_generator_hash()}"
    path = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(path, "ops.json")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(workload, size, seed, tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path
