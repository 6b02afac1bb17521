"""Materialized index: store build + WAND search rank-identical to the
logical engine; resume skips re-tokenization; WAND actually prunes."""

import glob
import json
import os

import pytest

from coa_codesearch_mcp_spark.index.build import build_logical_index
from coa_codesearch_mcp_spark.index.store import IndexConfig, IndexReader, IndexWriter
from coa_codesearch_mcp_spark.query.executor import Searcher
from coa_codesearch_mcp_spark.query.store_executor import StoreSearcher

CFG = IndexConfig(
    field="content_patterns",
    n_buckets=4,
    range_size=64,       # several doc ranges at 500 docs
    chunk_size=128,      # several resume chunks
    chunks_per_wave=2,   # several manifest snapshots
    salt_threshold=100,  # common terms get salted
    max_salts=8,
)


@pytest.fixture(scope="module")
def index_root(spark, documents, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ix"))
    IndexWriter(spark, root, CFG).build(documents)
    return root


@pytest.fixture(scope="module")
def store(spark, index_root):
    return StoreSearcher(IndexReader(spark, index_root))


@pytest.fixture(scope="module")
def logical(documents):
    return Searcher(build_logical_index(documents, field="content_patterns").cache())


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_stats_match(store, logical):
    assert store.reader.n_docs == logical.ix.n_docs
    assert abs(store.reader.avgdl - logical.ix.avgdl) < 1e-9


def test_salting_applied(spark, index_root):
    d = spark.read.parquet(f"{index_root}/dictionary")
    assert d.filter("n_salts > 1").count() > 0, "expected hot terms to be salted"
    p = spark.read.parquet(f"{index_root}/postings")
    assert p.filter("salt > 0").count() > 0, "salted sub-lists should exist"


@pytest.mark.parametrize(
    "method,args",
    [
        ("search_term", ("spark",)),
        ("search_or", (["spark", "stream"],)),
        ("search_and", (["spark", "stream"],)),
        ("search_wildcard", ("sp*",)),
        ("search_fuzzy", ("sparkk",)),
        ("search_regexp", ("s.a.*",)),
        ("search_prefix", ("wi",)),
    ],
)
def test_store_matches_logical(store, logical, method, args):
    got = rows(getattr(store, method)(*args, k=10))
    want = rows(getattr(logical, method)(*args, k=10))
    assert got == want, method


def test_store_not_matches_logical(store, logical):
    got = rows(store.search_or(["spark"], k=10, exclude=["stream"]))
    want = rows(logical.search_or(["spark"], k=10, exclude=["stream"]))
    assert got == want


def test_store_phrase_matches_logical(store, logical, documents_rows):
    words = documents_rows[0][1].split()
    bigram = [words[0].lower(), words[1].lower()]
    got = rows(store.search_phrase(bigram, k=10))
    want = rows(logical.search_phrase(bigram, k=10))
    assert got == want
    got2 = rows(store.search_phrase([words[0].lower(), words[2].lower()], k=10, slop=2))
    want2 = rows(logical.search_phrase([words[0].lower(), words[2].lower()], k=10, slop=2))
    assert got2 == want2


def test_lookup_terms_mixed_hit_at_cache_bound(spark, index_root):
    """A lookup mixing a cached term with a new one at the cache bound
    clears the cache mid-call; the cached term must still be returned."""
    reader = IndexReader(spark, index_root)
    reader.TERM_CACHE_MAX = 1
    assert set(reader.lookup_terms(["spark", "zzz_absent_term"])) == {"spark"}
    got = reader.lookup_terms(["spark", "stream"])
    assert set(got) == {"spark", "stream"}
    assert got["spark"]["df"] > 0 and got["stream"]["df"] > 0


def test_reader_follows_in_place_rebuild(spark, documents, tmp_path):
    """A reader that never calls refresh_if_changed answers lookups and
    block reads from the current snapshot after an in-place rebuild,
    not from the term cache and file listing of the one it opened."""
    import shutil

    root = str(tmp_path / "ix_rebuilt")
    cfg = IndexConfig(
        field="content_patterns", n_buckets=4, range_size=256, chunk_size=512,
        salt_threshold=10_000,
    )
    terms = ["spark", "stream"]
    cols = ["term", "salt", "range_id", "block_no", "first_doc", "n", "ub"]

    def blocks(reader):
        return sorted(tuple(r) for r in reader.postings_blocks(terms, cols)[0].collect())

    IndexWriter(spark, root, cfg).build(documents.limit(100))
    old = IndexReader(spark, root)
    before = blocks(old)
    shutil.rmtree(root)
    IndexWriter(spark, root, cfg).build(documents.limit(300))
    new = IndexReader(spark, root)
    assert old.lookup_terms(terms) == new.lookup_terms(terms)
    assert blocks(old) == blocks(new) != before
    assert old.n_docs == new.n_docs == 300


def test_wand_prunes_blocks(store):
    """Single-node check on real index data: WAND decodes fewer blocks
    than exist once the heap fills."""
    import pandas as pd

    from coa_codesearch_mcp_spark.query.wand import WandStats, wand_topk

    blocks, info = store.reader.postings_blocks(["the", "of", "and"])
    present = [t for t in info]
    pdf = blocks.toPandas()
    stats = WandStats()
    for _, grp in pdf.groupby("range_id"):
        term_blocks = {
            t: (info[t]["idf"], g.sort_values("block_no").to_dict("records"))
            for t, g in grp.groupby("term")
            if t in present
        }
        wand_topk(term_blocks, store.reader.avgdl, k=3, stats=stats)
    assert stats.blocks_total > 0
    assert stats.blocks_decoded <= stats.blocks_total


def test_manifest_and_resume(spark, documents, tmp_path_factory):
    """Kill after the token stage -> rerun -> no re-tokenization of
    completed chunks (unit timestamps unchanged), search identical."""
    root = str(tmp_path_factory.mktemp("ix_resume"))
    w = IndexWriter(spark, root, CFG)
    w.tokenize_stage(documents)
    m1 = json.load(open(f"{root}/manifest.json"))
    tokens_files_before = sorted(glob.glob(f"{root}/tokens/**/*.parquet", recursive=True))
    assert len(m1["stages"]["tokens"]["units"]) > 0
    assert len(m1["snapshots"]) >= 2  # one per wave

    # resume with a FRESH writer (as a restarted driver would)
    w2 = IndexWriter(spark, root, CFG)
    w2.build(documents)
    m2 = json.load(open(f"{root}/manifest.json"))
    tokens_files_after = sorted(glob.glob(f"{root}/tokens/**/*.parquet", recursive=True))
    # no chunk re-tokenized: same unit timestamps, same token files
    for cid, unit in m1["stages"]["tokens"]["units"].items():
        assert m2["stages"]["tokens"]["units"][cid]["ts"] == unit["ts"]
    assert tokens_files_before == tokens_files_after

    got = rows(StoreSearcher(IndexReader(spark, root)).search_term("spark", k=5))
    assert len(got) == 5


def test_writer_rejects_config_mismatch(spark, index_root):
    """Round-2 ADVICE: reopening a built index with a different
    structural config (n_buckets) must raise, not silently corrupt
    bucket-pruned lookups."""
    import dataclasses

    bad = dataclasses.replace(CFG, n_buckets=CFG.n_buckets * 2)
    with pytest.raises(ValueError, match="different config"):
        IndexWriter(spark, index_root, bad)
    # same structural config is fine (tuning fields may differ)
    ok = dataclasses.replace(CFG, encode_tasks=3)
    IndexWriter(spark, index_root, ok)


def test_writer_rejects_layout_mismatch(spark, tmp_path):
    """A persisted index from an older layout version must raise and
    point at clear_index — never silently delete data."""
    import json as _json

    from coa_codesearch_mcp_spark.functions.tools_ops import clear_index
    from coa_codesearch_mcp_spark.index.manifest import Manifest

    root = str(tmp_path / "ix_old_layout")
    m = Manifest.load_or_create(root)
    m.data["layout"] = 1
    m.data["stages"]["tokens"] = {"units": {"0": {"ts": 0}}}
    m.commit()
    with pytest.raises(ValueError, match="clear_index"):
        IndexWriter(spark, root, CFG)
    clear_index(root)
    IndexWriter(spark, root, CFG)  # cleared root opens fine
