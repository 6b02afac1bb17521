"""Posting-list block codec: delta-encoded docID gaps + term
frequencies, varint (LEB128) compressed in blocks of 128 with skip
pointers and block-max metadata.

Reference analog: Lucene 4.8 segment postings (FOR/PForDelta blocks of
128 with skip lists and, in modern Lucene, block-max impacts). This is
a from-scratch implementation; layout is our own:

    one encoded block = up to 128 (doc_id, tf) pairs
      doc_gaps : varint(delta(doc_ids))      (first gap = doc_id - prev_last)
      tfs      : varint(tf)
      dls      : varint(dl)
      pos_blob : varint(position deltas), per doc in block order
      first_doc/last_doc : skip pointers (block skipped when the
                           WAND pivot exceeds last_doc)
      max_tf, ub : block-max metadata; ub = max BM25 contribution of
                   any doc in the block given its true dl (block-max
                   WAND upper bound)

numpy vectorized encode/decode (no per-row Python in the hot path):
:func:`encode_partition` encodes a whole sorted partition of postings
batch by batch, one varint pass per column per batch.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pyarrow as pa

from ..query.bm25 import B, K1

BLOCK_SIZE = 128


# 7-bit group boundaries: values below _LEN_THRESHOLDS[i] need i+1 bytes
_LEN_THRESHOLDS = np.array([1 << (7 * i) for i in range(1, 10)], dtype=np.uint64)


def _varint_bytes(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 bytes of a uint64 array plus each value's byte length —
    fully vectorized (<=10 numpy passes regardless of length)."""
    v = values.astype(np.uint64, copy=False)
    lengths = np.digitize(v, _LEN_THRESHOLDS) + 1
    offs = np.cumsum(lengths) - lengths
    buf = np.zeros(int(lengths.sum()), dtype=np.uint8)
    cur = v
    for i in range(10):
        mask = lengths > i
        if not mask.any():
            break
        idx = offs[mask] + i
        byte = (cur[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (lengths[mask] - 1 > i).astype(np.uint8)
        buf[idx] = byte | (cont << 7)
        cur = cur >> np.uint64(7)
    return buf, lengths


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array."""
    return _varint_bytes(np.asarray(values))[0].tobytes()


def varint_decode(data: bytes, n: int) -> np.ndarray:
    """Decode ``n`` LEB128 values — vectorized inverse of
    :func:`varint_encode`."""
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(data, dtype=np.uint8)
    is_last = (b & 0x80) == 0
    # value index of each byte
    vidx = np.zeros(len(b), dtype=np.int64)
    vidx[1:] = np.cumsum(is_last)[:-1]
    # byte position within its value
    starts = np.empty(len(b), dtype=bool)
    starts[0] = True
    starts[1:] = is_last[:-1]
    start_idx = np.maximum.accumulate(
        np.where(starts, np.arange(len(b)), -1)
    )
    pos = (np.arange(len(b)) - start_idx).astype(np.uint64)
    vals = np.zeros(n, dtype=np.uint64)
    np.add.at(
        vals, vidx[: len(b)], (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * pos)
    )
    return vals


# the posting table's layout (the store derives its Spark schema from
# it): encoded block rows; only pos_blob may be null
POSTING_ARROW_SCHEMA = pa.schema(
    [
        pa.field(name, type_, nullable=name == "pos_blob")
        for name, type_ in [
            ("term", pa.string()),
            ("salt", pa.int32()),
            ("range_id", pa.int64()),
            ("block_no", pa.int32()),
            ("first_doc", pa.int64()),
            ("last_doc", pa.int64()),
            ("n", pa.int32()),
            ("doc_gaps", pa.binary()),
            ("tfs", pa.binary()),
            ("dls", pa.binary()),
            ("pos_blob", pa.binary()),
            ("max_tf", pa.int32()),
            ("ub", pa.float64()),
            ("bucket", pa.int32()),
        ]
    ]
)
_SEGMENT_KEY = ("term", "salt", "range_id")


def _segment_starts(batch: pa.RecordBatch) -> np.ndarray:
    """Row indices where a new (term, salt, range_id) posting list
    begins (row 0 always does)."""
    same = np.ones(max(batch.num_rows - 1, 0), dtype=bool)
    for name in _SEGMENT_KEY:
        key = batch.column(name)
        if name == "term":
            key = key.dictionary_encode().indices
        key = key.to_numpy()
        same &= key[1:] == key[:-1]
    return np.concatenate([[0], np.flatnonzero(~same) + 1])


def _blocks_binary(values: np.ndarray, bounds: np.ndarray) -> pa.Array:
    """Varint-encode ``values`` in one pass and cut the bytes into one
    binary cell per block; ``bounds`` are the blocks' row boundaries
    (n_blocks + 1 indices into ``values``)."""
    buf, lengths = _varint_bytes(values)
    ends = np.zeros(len(values) + 1, dtype=np.int64)
    np.cumsum(lengths, out=ends[1:])
    offsets = ends[bounds].astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(), len(bounds) - 1, [None, pa.py_buffer(offsets), pa.py_buffer(buf)]
    )


def _position_blobs(positions: pa.ListArray, bounds: np.ndarray) -> pa.Array:
    """Per-block position blobs: each doc's sorted positions as deltas
    (the first one + 1), varint-encoded and concatenated in doc order."""
    offs = positions.offsets.to_numpy().astype(np.int64)
    vals = positions.values.to_numpy()[offs[0] : offs[-1]].astype(np.int64)
    offs -= offs[0]
    deltas = np.empty(len(vals), dtype=np.int64)
    if len(vals):
        deltas[1:] = np.diff(vals)
        heads = offs[:-1][np.diff(offs) > 0]
        deltas[heads] = vals[heads] + 1
    return _blocks_binary(deltas, offs[bounds])


def encode_postings(batch: pa.RecordBatch, avgdl: float) -> pa.RecordBatch:
    """Encode a batch of postings into block rows (POSTING_ARROW_SCHEMA).

    ``batch`` holds (term, salt, range_id, bucket, doc_id, tf, dl) and
    an optional ``positions`` list column, sorted by (term, salt,
    doc_id), and every (term, salt, range_id) posting list in it is
    complete. Each list is cut into blocks of BLOCK_SIZE that never
    cross a range; docID gaps restart at doc_id + 1 on each list. The
    whole batch is encoded column by column: one varint pass each for
    gaps, tfs, dls and position deltas, sliced into per-block binary
    cells at the block byte offsets. Without a ``positions`` column
    ``pos_blob`` is null.

    ``ub`` is the exact block-max TF-NORMALIZATION bound (tfn with
    each doc's true dl, NO idf): the build stage therefore never needs
    per-term df — at web scale the term dictionary is itself a big
    table, and joining/broadcasting it into the encode shuffle was the
    one build-side step that could not scale. The query side multiplies
    by idf (which it already looks up per term) to recover the exact
    idf*tfn block-max bound — same pruning power, zero extra state.
    """
    n = batch.num_rows
    if n == 0:
        return pa.RecordBatch.from_pylist([], schema=POSTING_ARROW_SCHEMA)
    seg = _segment_starts(batch)
    seg_first = np.repeat(seg, np.diff(np.append(seg, n)))
    rank = np.arange(n) - seg_first
    starts = np.flatnonzero(rank % BLOCK_SIZE == 0)
    bounds = np.append(starts, n)

    doc = batch.column("doc_id").to_numpy().astype(np.int64)
    tf = batch.column("tf").to_numpy().astype(np.int64)
    dl = batch.column("dl").to_numpy().astype(np.int64)
    gaps = np.empty(n, dtype=np.int64)
    gaps[1:] = np.diff(doc)
    gaps[seg] = doc[seg] + 1
    tfn = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl.astype(np.float64) / avgdl))
    if "positions" in batch.schema.names:
        pos_blob = _position_blobs(batch.column("positions"), bounds)
    else:
        pos_blob = pa.nulls(len(starts), pa.binary())

    take = pa.array(starts)
    return pa.RecordBatch.from_arrays(
        [
            batch.column("term").take(take).cast(pa.string()),
            pa.array(batch.column("salt").to_numpy()[starts].astype(np.int32)),
            pa.array(batch.column("range_id").to_numpy()[starts].astype(np.int64)),
            pa.array((rank[starts] // BLOCK_SIZE).astype(np.int32)),
            pa.array(doc[starts]),
            pa.array(doc[bounds[1:] - 1]),
            pa.array(np.diff(bounds).astype(np.int32)),
            _blocks_binary(gaps, bounds),
            _blocks_binary(tf, bounds),
            _blocks_binary(dl, bounds),
            pos_blob,
            pa.array(np.maximum.reduceat(tf, starts).astype(np.int32)),
            pa.array(np.maximum.reduceat(tfn, starts)),
            pa.array(batch.column("bucket").to_numpy()[starts].astype(np.int32)),
        ],
        schema=POSTING_ARROW_SCHEMA,
    )


def _concat(batches: list[pa.RecordBatch]) -> pa.RecordBatch:
    if len(batches) == 1:
        return batches[0]
    return pa.Table.from_batches(batches).combine_chunks().to_batches()[0]


def _same_list(prev: pa.RecordBatch, nxt: pa.RecordBatch) -> bool:
    """Does ``nxt``'s first row continue ``prev``'s last posting list?"""
    last = prev.num_rows - 1
    return all(
        prev.column(k)[last].as_py() == nxt.column(k)[0].as_py() for k in _SEGMENT_KEY
    )


def encode_partition(
    batches: Iterable[pa.RecordBatch], avgdl: float
) -> Iterator[pa.RecordBatch]:
    """Encode one partition's postings, sorted by (term, salt, doc_id)
    and arriving in batches of any size. The last posting list of a
    batch may continue in the next one, so it is held back until its
    end is seen: memory stays bounded by one posting list."""
    pending: list[pa.RecordBatch] = []
    for batch in batches:
        if batch.num_rows == 0:
            continue
        last = int(_segment_starts(batch)[-1])
        if last == 0 and pending and _same_list(pending[-1], batch):
            pending.append(batch)
            continue
        if last:
            pending.append(batch.slice(0, last))
        if pending:
            yield encode_postings(_concat(pending), avgdl)
        pending = [batch.slice(last)]
    if pending:
        yield encode_postings(_concat(pending), avgdl)


def encode_blocks(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, avgdl: float
) -> list[dict]:
    """One posting list -> encoded block dicts {block_no, first_doc,
    last_doc, n, doc_gaps, tfs, dls, max_tf, ub}, through
    :func:`encode_postings`."""
    order = np.argsort(doc_ids, kind="stable")
    n = len(order)
    zeros = np.zeros(n, dtype=np.int32)
    batch = pa.RecordBatch.from_pydict(
        {
            "term": pa.array([""] * n, pa.string()),
            "salt": zeros,
            "range_id": zeros.astype(np.int64),
            "bucket": zeros,
            "doc_id": np.asarray(doc_ids, dtype=np.int64)[order],
            "tf": np.asarray(tfs, dtype=np.int64)[order],
            "dl": np.asarray(dls).astype(np.int64)[order],
        }
    )
    blocks = encode_postings(batch, avgdl)
    return blocks.drop_columns(["term", "salt", "range_id", "pos_blob", "bucket"]).to_pylist()


def decode_block(
    doc_gaps: bytes, tfs: bytes, n: int, prev_last: int
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_postings for one block."""
    gaps = varint_decode(doc_gaps, n).astype(np.int64)
    doc_ids = np.cumsum(gaps) + prev_last
    tf = varint_decode(tfs, n).astype(np.int64)
    return doc_ids, tf


def decode_blocks(rows: list[dict]) -> tuple[np.ndarray, np.ndarray]:
    """Decode consecutive blocks of one (term, salt) posting list.

    Rows must be sorted by block_no; gap chaining uses each block's
    predecessor's last_doc (first block chains from -1).
    """
    all_docs = []
    all_tfs = []
    prev_last = -1
    for r in rows:
        d, t = decode_block(r["doc_gaps"], r["tfs"], r["n"], prev_last)
        prev_last = int(r["last_doc"])
        all_docs.append(d)
        all_tfs.append(t)
    if not all_docs:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    return np.concatenate(all_docs), np.concatenate(all_tfs)
