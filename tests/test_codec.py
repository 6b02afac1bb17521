import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from coa_codesearch_mcp_spark.index.codec import (
    BLOCK_SIZE,
    POSTING_ARROW_SCHEMA,
    decode_block,
    decode_blocks,
    encode_blocks,
    encode_partition,
    encode_postings,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip():
    rng = np.random.RandomState(42)
    vals = rng.randint(0, 1 << 40, size=1000).astype(np.uint64)
    assert np.array_equal(varint_decode(varint_encode(vals), 1000), vals)


def test_varint_edge_values():
    vals = np.array([0, 1, 127, 128, 255, 1 << 35], dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(vals), len(vals)), vals)


def test_block_roundtrip_multi_block():
    rng = np.random.RandomState(7)
    n = 300  # spans 3 blocks of 128
    doc_ids = np.sort(rng.choice(10_000, size=n, replace=False)).astype(np.int64)
    tfs = rng.randint(1, 50, size=n).astype(np.int64)
    dls = rng.randint(10, 500, size=n).astype(np.float64)
    blocks = encode_blocks(doc_ids, tfs, dls, avgdl=100.0)
    assert len(blocks) == 3
    assert blocks[0]["n"] == 128 and blocks[2]["n"] == 44
    got_docs, got_tfs = decode_blocks(blocks)
    assert np.array_equal(got_docs, doc_ids)
    assert np.array_equal(got_tfs, tfs)
    # skip pointers
    assert blocks[1]["first_doc"] == int(doc_ids[128])
    assert blocks[1]["last_doc"] == int(doc_ids[255])
    # block-max ub bounds every tf-normalization in the block
    # (idf-free: the query side multiplies by idf, wand.py TermCursor)
    from coa_codesearch_mcp_spark.query.bm25 import B, K1

    for bi, blk in enumerate(blocks):
        t = tfs[bi * 128 : (bi + 1) * 128].astype(float)
        d = dls[bi * 128 : (bi + 1) * 128]
        tfn = t * (K1 + 1) / (t + K1 * (1 - B + B * d / 100.0))
        assert blk["ub"] >= tfn.max() - 1e-12


def test_single_block_decode_standalone():
    doc_ids = np.array([5, 9, 100], dtype=np.int64)
    tfs = np.array([1, 2, 3], dtype=np.int64)
    dls = np.array([10.0, 20.0, 30.0])
    blocks = encode_blocks(doc_ids, tfs, dls, avgdl=20.0)
    d, t = decode_block(blocks[0]["doc_gaps"], blocks[0]["tfs"], 3, -1)
    assert list(d) == [5, 9, 100]
    assert list(t) == [1, 2, 3]


def test_driver_side_xxh64_matches_spark(spark):
    """hashing.py must be bit-identical to F.xxhash64 (seed 42) so
    term->bucket routing never launches a job (store.lookup_terms)."""
    import random
    import string

    from pyspark.sql import functions as F

    from coa_codesearch_mcp_spark.index.hashing import term_bucket, xxh64_signed

    rng = random.Random(5)
    pool = string.ascii_letters + string.digits + "_-./:~ \u00e4\u00fc\u6f22"
    words = ["", "a", "spark", "x" * 31, "y" * 32, "z" * 33] + [
        "".join(rng.choices(pool, k=rng.randint(1, 80))) for _ in range(300)
    ]
    df = spark.createDataFrame([(w,) for w in words], "term string").select(
        "term",
        F.xxhash64("term").alias("h"),
        F.pmod(F.xxhash64("term"), F.lit(16)).cast("int").alias("b"),
    )
    for r in df.collect():
        enc = r["term"].encode("utf-8")
        assert xxh64_signed(enc) == r["h"], repr(r["term"])
        assert term_bucket(r["term"], 16) == r["b"]


def test_wand_prunes_on_skewed_postings():
    """Block-max WAND must SKIP whole blocks (Ding & Suel 2011): the
    classic stopword-x-rare-term query decodes a small fraction of the
    stopword's blocks — the rare terms' pivots leap over them and the
    shallow block-max check rejects the rest on metadata alone — while
    returning EXACTLY the decode-everything scorer's top-k. (On the
    uniform synthetic bench corpus all block maxima are equal, so
    pruning legitimately shows ~1.0 there; this is the distribution
    the algorithm exists for.)"""
    import numpy as np

    from coa_codesearch_mcp_spark.query.wand import (
        WandStats,
        exhaustive_topk_range,
        wand_topk,
    )

    rng = np.random.RandomState(3)
    N_IDS, avgdl = 500_000, 120.0

    def make_list(n, idf):
        docs = np.sort(rng.choice(N_IDS, size=n, replace=False)).astype(np.int64)
        tfs = rng.zipf(1.7, size=n).clip(1, 100).astype(np.int64)
        dls = (
            np.exp(rng.normal(np.log(avgdl), 0.7, size=n)).clip(10, 3000)
        ).astype(np.int64)
        return (idf, encode_blocks(docs, tfs, dls, avgdl=avgdl))

    term_blocks = {
        "the": make_list(400_000, 0.2),    # stopword: dense, low idf
        "zebra": make_list(600, 6.0),      # rare, high idf
        "quark": make_list(900, 5.2),
    }
    stats = WandStats()
    hits = wand_topk(term_blocks, avgdl, k=10, stats=stats)
    assert len(hits) == 10
    frac = stats.blocks_decoded / stats.blocks_total
    assert frac < 0.5, f"expected real block skipping, got {frac:.3f}"
    # evaluation count is a tiny fraction of total postings
    assert stats.docs_scored < 5_000

    # and the pruned result is EXACT: equals the decode-everything scorer
    want = [(d, round(sc, 4)) for d, sc in exhaustive_topk_range(term_blocks, avgdl, 10)]
    got = [(d, round(sc, 4)) for d, sc in hits]
    assert got == want


# ---------------------------------------------------------------------------
# Independent oracle for the partition encoder: the per-(term, salt)
# group encoder the store used before the Arrow kernel, with a scalar
# LEB128 writer instead of the vectorized one.

KEY = ["term", "salt", "range_id", "block_no"]


def _leb128(values) -> bytes:
    out = bytearray()
    for v in values:
        v = int(v)
        while True:
            byte = v & 0x7F
            v >>= 7
            if v:
                out.append(byte | 0x80)
            else:
                out.append(byte)
                break
    return bytes(out)


def _oracle_group(pdf: pd.DataFrame, avgdl: float, with_pos: bool) -> list[dict]:
    """One (term, salt) posting sub-list -> block rows; blocks never
    cross ranges and gaps restart at doc_id + 1 on each range."""
    k1, b = 1.2, 0.75
    rows = []
    term, salt, bucket = pdf["term"].iloc[0], int(pdf["salt"].iloc[0]), int(pdf["bucket"].iloc[0])
    pdf = pdf.sort_values("doc_id", kind="stable")
    for range_id, grp in pdf.groupby("range_id", sort=True):
        docs = grp["doc_id"].to_numpy(np.int64)
        tfs = grp["tf"].to_numpy(np.int64)
        dls = grp["dl"].to_numpy(np.int64)
        positions = grp["positions"].tolist() if with_pos else None
        prev_last = -1
        for bno, start in enumerate(range(0, len(docs), BLOCK_SIZE)):
            sl = slice(start, start + BLOCK_SIZE)
            d, t, dl = docs[sl], tfs[sl], dls[sl]
            gaps = [int(d[0]) - prev_last] + [int(x) for x in np.diff(d)]
            tfn = t * (k1 + 1.0) / (t + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl))
            pos_blob = None
            if with_pos:
                deltas = []
                for plist in positions[sl]:
                    plist = [int(p) for p in plist]
                    if plist:
                        deltas += [plist[0] + 1] + [y - x for x, y in zip(plist, plist[1:])]
                pos_blob = _leb128(deltas)
            rows.append(
                {
                    "term": term, "salt": salt, "range_id": int(range_id),
                    "block_no": bno, "first_doc": int(d[0]), "last_doc": int(d[-1]),
                    "n": len(d), "doc_gaps": _leb128(gaps), "tfs": _leb128(t),
                    "dls": _leb128(dl), "pos_blob": pos_blob, "max_tf": int(t.max()),
                    "ub": float(tfn.max()), "bucket": bucket,
                }
            )
            prev_last = int(d[-1])
    return rows


def oracle_encode(postings: pd.DataFrame, avgdl: float, with_pos: bool) -> list[dict]:
    out = []
    for _, grp in postings.groupby(["term", "salt"], sort=False):
        out += _oracle_group(grp, avgdl, with_pos)
    return sorted(out, key=lambda r: tuple(r[k] for k in KEY))


def random_postings(seed: int, range_size: int = 300, n_ranges: int = 4) -> pd.DataFrame:
    """Posting rows (term, salt, bucket, range_id, doc_id, tf, dl,
    positions) with lists longer than a block, salted hot terms and
    several ranges per term; some position lists are empty."""
    rng = np.random.RandomState(seed)
    n_docs = range_size * n_ranges
    dl = rng.randint(1, 400, size=n_docs)
    rows = []
    for ti in range(12):
        term = f"t{ti}" if ti % 5 else f"hot{ti}"
        df = int(rng.choice([1, 3, 40, 129, 300, 700, n_docs]))
        n_salts = 1 if term.startswith("t") else int(rng.randint(2, 5))
        for doc in np.sort(rng.choice(n_docs, size=min(df, n_docs), replace=False)):
            range_id = int(doc) // range_size
            tf = int(rng.randint(1, 9))
            npos = 0 if rng.rand() < 0.05 else tf
            pos = np.sort(rng.choice(5000, size=npos, replace=False)).tolist()
            rows.append(
                (term, range_id % n_salts, ti % 3, range_id, int(doc), tf, int(dl[doc]), pos)
            )
    return pd.DataFrame(
        rows, columns=["term", "salt", "bucket", "range_id", "doc_id", "tf", "dl", "positions"]
    )


def _arrow_postings(pdf: pd.DataFrame, with_pos: bool) -> pa.Table:
    pdf = pdf.sort_values(["term", "salt", "doc_id"], kind="stable")
    cols = ["term", "salt", "bucket", "range_id", "doc_id", "tf", "dl"]
    schema = pa.schema(
        [("term", pa.string()), ("salt", pa.int32()), ("bucket", pa.int32()),
         ("range_id", pa.int64()), ("doc_id", pa.int64()), ("tf", pa.int32()),
         ("dl", pa.int64())]
        + ([("positions", pa.list_(pa.int32()))] if with_pos else [])
    )
    if with_pos:
        cols.append("positions")
    return pa.Table.from_pandas(pdf[cols], schema=schema, preserve_index=False)


def _batches(table: pa.Table, rng: np.random.RandomState) -> list[pa.RecordBatch]:
    """Cut a sorted table into batches of random sizes (1 to 300 rows,
    plus an empty one), so lists and blocks straddle batch boundaries."""
    out, start = [], 0
    while start < table.num_rows:
        size = int(rng.choice([1, 2, 7, 64, 128, 129, 300]))
        out.extend(table.slice(start, size).to_batches())
        start += size
    out.insert(len(out) // 2, pa.RecordBatch.from_pylist([], schema=table.schema))
    return out


def _kernel_rows(batches, avgdl) -> list[dict]:
    got = []
    for rb in encode_partition(iter(batches), avgdl):
        assert rb.schema == POSTING_ARROW_SCHEMA
        got += rb.to_pylist()
    return sorted(got, key=lambda r: tuple(r[k] for k in KEY))


@pytest.mark.parametrize("with_pos", [True, False])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_partition_encoder_matches_group_oracle(seed, with_pos):
    """Every column of every block equals the per-group oracle's, for
    whole-partition batches and for random batch cuts."""
    pdf = random_postings(seed)
    assert pdf.groupby(["term", "salt", "range_id"]).size().max() > BLOCK_SIZE
    assert (pdf.groupby("term")["salt"].nunique() > 1).any()
    assert (pdf.groupby(["term", "salt"])["range_id"].nunique() > 1).any()
    avgdl = 123.4
    want = oracle_encode(pdf, avgdl, with_pos)
    table = _arrow_postings(pdf, with_pos)
    whole = _kernel_rows(table.combine_chunks().to_batches(), avgdl)
    assert whole == want
    cut = _kernel_rows(_batches(table, np.random.RandomState(seed)), avgdl)
    assert cut == want
    assert all((r["pos_blob"] is None) != with_pos for r in cut)


def test_partition_encoder_empty_partition():
    schema = _arrow_postings(random_postings(0), True).schema
    assert list(encode_partition(iter([]), 10.0)) == []
    empty = pa.RecordBatch.from_pylist([], schema=schema)
    assert list(encode_partition(iter([empty, empty]), 10.0)) == []
    out = encode_postings(empty, 10.0)
    assert out.num_rows == 0 and out.schema == POSTING_ARROW_SCHEMA


def test_store_build_small_arrow_batches_matches_oracle(spark, documents, tmp_path):
    """A store build whose Arrow batches hold 7 rows (so posting lists
    and blocks straddle batch boundaries) writes exactly the oracle's
    postings table, encoded from the build's own tokens table."""
    import pyarrow.parquet as pq

    from coa_codesearch_mcp_spark.index.hashing import term_bucket
    from coa_codesearch_mcp_spark.index.store import IndexConfig, IndexWriter

    cfg = IndexConfig(
        field="content_patterns", n_buckets=4, range_size=256, chunk_size=256,
        salt_threshold=100, max_salts=4,
    )
    root = str(tmp_path / "ix_b7")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        IndexWriter(spark, root, cfg).build(documents)
    finally:
        spark.conf.set(key, old)

    tok = pq.read_table(f"{root}/tokens").to_pandas()
    rows = [
        (t["term"], int(r.doc_id), int(t["tf"]), int(r.dl), list(t["positions"]))
        for r in tok.itertuples()
        for t in r.tokens
    ]
    pdf = pd.DataFrame(rows, columns=["term", "doc_id", "tf", "dl", "positions"])
    df = pdf.groupby("term")["doc_id"].transform("size")
    n_salts = np.minimum(np.maximum(np.ceil(df / cfg.salt_threshold), 1), cfg.max_salts)
    pdf["range_id"] = pdf["doc_id"] // cfg.range_size
    pdf["salt"] = (pdf["range_id"] % n_salts.astype(np.int64)).astype(int)
    pdf["bucket"] = [term_bucket(t, cfg.n_buckets) for t in pdf["term"]]
    avgdl = tok["dl"].sum() / len(tok)
    want = oracle_encode(pdf, avgdl, with_pos=True)
    assert any(r["salt"] > 0 for r in want) and any(r["block_no"] > 0 for r in want)

    got = pq.read_table(f"{root}/postings").to_pandas()
    got["bucket"] = got["bucket"].astype(int)
    got = sorted(
        got[[f.name for f in POSTING_ARROW_SCHEMA]].to_dict("records"),
        key=lambda r: tuple(r[k] for k in KEY),
    )
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w
