"""Block-max WAND top-k over encoded posting blocks.

Runs INSIDE one doc-range partition (the scatter unit): all query
terms' blocks for that range are co-located by a narrow repartition of
the candidate block set, so early termination is sequential here and
embarrassingly parallel across ranges (SURVEY §4.2: top-k early
termination is custom — Spark's planner owns everything around it).

Skipping levers:
- blocks whose [first_doc, last_doc] the cursor jumps over are never
  varint-decoded (skip pointers);
- at each pivot, the sum of the involved terms' CURRENT block-max
  upper bounds (``ub``, exact per-block BM25 bound computed at build)
  must beat the running threshold, else the cursor advances to the
  nearest block boundary without scoring (block-max WAND,
  Ding & Suel 2011 — public literature).

``stats`` returns decode counters so tests can assert real pruning.
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from ..index.codec import decode_block
from .bm25 import B, K1


@dataclass
class TermCursor:
    """Cursor over one term's blocks within one doc range."""

    idf: float
    blocks: list[dict]               # sorted by block_no; skip metadata
    bi: int = 0                      # current block index
    pos: int = 0                     # position inside decoded block
    doc_ids: np.ndarray | None = None
    scores: np.ndarray | None = None
    exhausted: bool = False
    decoded_blocks: int = 0

    def __post_init__(self):
        # stored block ub is idf-FREE (codec.encode_postings: max tfn);
        # the cursor owns the term's idf, so bounds are idf * ub here
        self.term_ub = (
            self.idf * max(b["ub"] for b in self.blocks) if self.blocks else 0.0
        )
        if not self.blocks:
            self.exhausted = True

    # -- block handling -------------------------------------------------

    def _decode_current(self, avgdl: float) -> None:
        blk = self.blocks[self.bi]
        prev_last = self.blocks[self.bi - 1]["last_doc"] if self.bi > 0 else -1
        doc_ids, tfs = decode_block(blk["doc_gaps"], blk["tfs"], blk["n"], prev_last)
        from ..index.codec import varint_decode

        dls = varint_decode(blk["dls"], blk["n"]).astype(np.float64)
        tfs = tfs.astype(np.float64)
        self.doc_ids = doc_ids
        self.scores = self.idf * tfs * (K1 + 1.0) / (
            tfs + K1 * (1.0 - B + B * dls / avgdl)
        )
        self.pos = 0
        self.decoded_blocks += 1

    @property
    def current_block_ub(self) -> float:
        return self.idf * self.blocks[self.bi]["ub"]

    @property
    def current_block_last(self) -> int:
        return self.blocks[self.bi]["last_doc"]

    def current_doc(self, avgdl: float) -> int:
        if self.exhausted:
            return 1 << 62
        if self.doc_ids is None:
            # not decoded yet: the block's first_doc is the cursor doc
            if self.pos == 0:
                return self.blocks[self.bi]["first_doc"]
            self._decode_current(avgdl)
        return int(self.doc_ids[self.pos])

    def seek(self, target: int, avgdl: float) -> None:
        """Advance to the first doc >= target, skipping whole blocks
        via skip pointers without decoding them."""
        if self.exhausted:
            return
        while self.blocks[self.bi]["last_doc"] < target:
            self.bi += 1
            self.doc_ids = None
            self.pos = 0
            if self.bi >= len(self.blocks):
                self.exhausted = True
                return
        if self.blocks[self.bi]["first_doc"] >= target:
            # cursor rests at block start; decode lazily
            if self.doc_ids is None:
                self.pos = 0
            return
        if self.doc_ids is None:
            self._decode_current(avgdl)
        self.pos = int(np.searchsorted(self.doc_ids, target, side="left"))
        if self.pos >= len(self.doc_ids):
            # target past this block (possible when pos advanced)
            self.bi += 1
            self.doc_ids = None
            self.pos = 0
            if self.bi >= len(self.blocks):
                self.exhausted = True

    def shallow_block_for(self, target: int) -> tuple[float, int]:
        """(block-max ub contribution at ``target``, that block's
        last_doc) using METADATA ONLY — the BMW NextShallow peek. No
        decode, no cursor movement. Contribution is 0.0 when the block
        that could contain ``target`` starts after it (the term then
        cannot score target at all)."""
        bi = self.bi
        while bi < len(self.blocks) and self.blocks[bi]["last_doc"] < target:
            bi += 1
        if bi >= len(self.blocks):
            return 0.0, 1 << 62
        blk = self.blocks[bi]
        ub = self.idf * blk["ub"] if blk["first_doc"] <= target else 0.0
        return ub, blk["last_doc"]

    def score_at(self, doc: int, avgdl: float) -> float:
        if self.doc_ids is None:
            self._decode_current(avgdl)
        if self.pos < len(self.doc_ids) and self.doc_ids[self.pos] == doc:
            return float(self.scores[self.pos])
        return 0.0

    def advance(self, avgdl: float) -> None:
        """Move one posting forward."""
        if self.doc_ids is None:
            self._decode_current(avgdl)
        self.pos += 1
        if self.pos >= len(self.doc_ids):
            self.bi += 1
            self.doc_ids = None
            self.pos = 0
            if self.bi >= len(self.blocks):
                self.exhausted = True


@dataclass
class WandStats:
    blocks_total: int = 0
    blocks_decoded: int = 0
    docs_scored: int = 0


# Global-threshold-bootstrap gate, SHARED by the store and live-tier
# executors (hoisted so a tuning edit cannot leave the two tiers
# gated differently): the bootstrap pre-pass pays off when the rare
# term's list is at least BOOTSTRAP_DF_RATIO times shorter than the
# most common one, and the seed is only defined when the rare term
# has at least BOOTSTRAP_MIN_DF_FACTOR * k postings (a term with
# df < k can never allow pruning at all).
BOOTSTRAP_DF_RATIO = 8
BOOTSTRAP_MIN_DF_FACTOR = 4


def wand_topk(
    term_blocks: dict[str, tuple[float, list[dict]]],
    avgdl: float,
    k: int,
    mode: str = "or",
    threshold0: float = 0.0,
    stats: WandStats | None = None,
    n_required: int | None = None,
    banned=None,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) within one doc range.

    term_blocks: term -> (idf, [block rows sorted by block_no]).
    mode 'or' = WAND disjunction; 'and' = conjunction (all terms).
    n_required: for mode='and', the number of terms in the FULL query.
    A caller that scatters per doc-range must pass this: term_blocks
    only carries the terms present in this range, so comparing against
    len(term_blocks) alone would wrongly answer AND(alpha, beta) with
    alpha-only docs in a range that never saw beta.
    banned: optional predicate ``doc_id -> bool``; a banned doc is
    skipped at pivot evaluation (never scored, never heaped), so the
    returned top-k is exact over the non-banned set and the threshold
    stays monotone — NOT-excluded docs and tombstone-hidden segment
    copies use this instead of over-fetching k+|banned| and filtering
    after (which weakened pruning proportionally to the banned count).
    """
    cursors = [
        TermCursor(idf=idf, blocks=blocks)
        for idf, blocks in term_blocks.values()
        if blocks
    ]
    if n_required is None:
        n_required = len(term_blocks)
    if mode == "and" and len(cursors) != n_required:
        return []
    if not cursors:
        return []
    if stats is not None:
        stats.blocks_total += sum(len(c.blocks) for c in cursors)

    heap: list[tuple[float, int]] = []  # min-heap of (rounded score, -doc)
    theta = threshold0
    required = len(cursors) if mode == "and" else None
    # selection operates on 4dp-rounded scores (the engine's global
    # ordering contract); EPS absorbs the rounding slack so a doc whose
    # raw upper bound sits within one rounding step of theta is never
    # wrongly pruned.
    EPS = 1e-4

    while True:
        live = [c for c in cursors if not c.exhausted]
        if mode == "and" and len(live) < len(cursors):
            break
        if not live:
            break
        live.sort(key=lambda c: c.current_doc(avgdl))

        if mode == "and":
            pivot_doc = live[-1].current_doc(avgdl)
            pivot_idx = len(live) - 1
        else:
            # find pivot: smallest prefix whose ub sum beats theta
            acc = 0.0
            pivot_idx = -1
            for i, c in enumerate(live):
                acc += c.term_ub
                if acc + EPS > theta:
                    pivot_idx = i
                    break
            if pivot_idx < 0:
                break
            pivot_doc = live[pivot_idx].current_doc(avgdl)

        if live[0].current_doc(avgdl) == pivot_doc:
            prefix = [c for c in live if c.current_doc(avgdl) <= pivot_doc]
            if mode == "or":
                # BMW shallow check (metadata only, nothing decoded):
                # sum of the block maxima of the blocks that could
                # contain the pivot across the prefix lists
                shallow = [c.shallow_block_for(pivot_doc) for c in prefix]
                bm_ub = sum(u for u, _ in shallow)
                if bm_ub + EPS <= theta:
                    # no doc in these blocks can beat theta: jump to
                    # the nearest block boundary past the pivot
                    # (Ding & Suel Alg. 2 GetNewCandidate) — entire
                    # blocks are skipped without decoding
                    d = min(last for _, last in shallow) + 1
                    if pivot_idx + 1 < len(live):
                        d = min(d, live[pivot_idx + 1].current_doc(avgdl))
                    d = max(d, pivot_doc + 1)
                    for c in prefix:
                        c.seek(d, avgdl)
                    continue
            # full evaluation at the pivot
            for c in prefix:
                c.seek(pivot_doc, avgdl)
            matched = [
                c
                for c in prefix
                if not c.exhausted and c.current_doc(avgdl) == pivot_doc
            ]
            if not matched:
                continue
            if (mode == "and" and len(matched) < required) or (
                banned is not None and banned(pivot_doc)
            ):
                for c in matched:
                    c.advance(avgdl)
                continue
            score = sum(c.score_at(pivot_doc, avgdl) for c in matched)
            if stats is not None:
                stats.docs_scored += 1
            entry = (round(score, 4), -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, entry)
                if len(heap) == k and mode == "or":
                    # max(): with a bootstrapped threshold0 the heap
                    # may legitimately hold docs below threshold0 —
                    # theta must never regress below the seed
                    theta = max(theta, heap[0][0])
            elif entry > heap[0]:
                heapq.heapreplace(heap, entry)
                theta = max(theta, heap[0][0])
            for c in matched:
                c.advance(avgdl)
        else:
            # advance the leading cursor with the largest ub to pivot
            leaders = [c for c in live if c.current_doc(avgdl) < pivot_doc]
            adv = max(leaders, key=lambda c: c.term_ub)
            adv.seek(pivot_doc, avgdl)

    if stats is not None:
        stats.blocks_decoded += sum(c.decoded_blocks for c in cursors)
    out = sorted(heap, key=lambda e: (-e[0], -e[1]))
    return [(-nd, s) for s, nd in out]


def exhaustive_topk_range(
    term_blocks: dict[str, tuple[float, list[dict]]],
    avgdl: float,
    k: int,
    mode: str = "or",
    exclude_docs: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Decode-everything reference scorer for the same range (used to
    cross-check WAND and for NOT queries)."""
    from ..index.codec import decode_blocks, varint_decode

    per_term = []
    for term, (idf, blocks) in sorted(term_blocks.items()):
        if not blocks:
            if mode == "and":
                return []
            continue
        doc_ids, tfs = decode_blocks(blocks)
        dls = np.concatenate(
            [varint_decode(b["dls"], b["n"]) for b in blocks]
        ).astype(np.float64)
        tfsf = tfs.astype(np.float64)
        scores = idf * tfsf * (K1 + 1.0) / (tfsf + K1 * (1.0 - B + B * dls / avgdl))
        per_term.append((doc_ids, scores))
    if not per_term:
        return []
    all_docs = np.concatenate([d for d, _ in per_term])
    all_scores = np.concatenate([s for _, s in per_term])
    uniq, inv = np.unique(all_docs, return_inverse=True)
    sums = np.zeros(len(uniq))
    counts = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(sums, inv, all_scores)
    np.add.at(counts, inv, 1)
    mask = np.ones(len(uniq), dtype=bool)
    if mode == "and":
        mask &= counts == len(per_term)
    if exclude_docs is not None and len(exclude_docs):
        mask &= ~np.isin(uniq, exclude_docs)
    uniq, sums = uniq[mask], sums[mask]
    order = np.lexsort((uniq, -np.round(sums, 4)))[:k]
    return [(int(uniq[i]), float(sums[i])) for i in order]
