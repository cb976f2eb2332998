"""Query-side operators (SURVEY.md §2D, D1-D7).

Batch top-k retrieval over the segment index:

    queries -> parse_query (D1, one pure-Python parser for every route)
      -> dictionary lookup (D2: driver probe, or a broadcast join for
         batches over 10,000 queries, parsed under applyInPandas)
      -> pruned segment fetch, ``pruned_segments`` (D3: bucket partition
         filter + term IN-list, no shuffle)
      -> decode + Block-Max WAND + BM25 (D4): in the driver when the
         batch's postings fit ``_fits_driver_budget``, else in executor
         Python workers
      -> deterministic top-k order (D5, B4) -> optional url join-back (D6)

Block-Max WAND here is a *window-sweep* variant, chosen so the Python side
stays numpy-vectorized: doc-id space is swept in windows delimited by the
union of all cursors' block boundaries (every 128 postings — BASELINE.json
north_star). For each window the sum of the active blocks' upper bounds
(idf * stored max_tfnorm, exact per block) is compared with the current
top-k threshold θ; windows that can't beat θ are skipped WITHOUT decoding
— the same skip decision Ding & Suel's document-at-a-time BMW makes at
block granularity [public: Ding & Suel, SIGIR 2011] — and windows that
survive are decoded and scored as numpy batches. Exactness (same doc_ids,
order, scores as exhaustive scoring) is a tested property, not a hope:
tests/test_index_query.py.
"""

from __future__ import annotations

import heapq
import os
import re
import threading
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from find_that_charity_spark.functions import analyzer
from find_that_charity_spark.functions.bm25 import idf_np
from find_that_charity_spark.plans.checkpoint import check_format
from find_that_charity_spark.functions.codec import decode_block

RESULTS_SCHEMA = StructType(
    [
        StructField("qid", StringType()),
        StructField("rank", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
    ]
)
# RESULTS_SCHEMA plus the url join-back (run_queries(join_urls=True))
_URL_RESULTS_SCHEMA = "qid string, rank int, doc_id long, url string, score double"


@dataclass
class _Cursor:
    """One (term, segment) posting-list cursor over block metadata."""

    idf: float
    blob: bytes
    last_docs: np.ndarray  # per block
    ubs: np.ndarray        # idf * max_tfnorm per block
    offsets: np.ndarray
    ns: np.ndarray
    first_docs: np.ndarray  # first doc of each block (prev block's last + delta unknown -> lower bound prev_last+1)
    blk: int = 0           # current block index

    def n_blocks(self) -> int:
        return len(self.last_docs)


def _make_cursor(idf: float, blob: bytes, blockmax, avgdl: float) -> _Cursor:
    from find_that_charity_spark.functions.codec import tfnorm as _tfn

    last_docs = np.array([b["last_doc"] for b in blockmax], dtype=np.int64)
    # avgdl-independent stored stats -> bound computed with CURRENT stats:
    # tfnorm is increasing in tf, decreasing in dl, so idf*tfnorm(max_tf,
    # min_dl) dominates every true posting score in the block.
    max_tfs = np.array([b["max_tf"] for b in blockmax], dtype=np.float64)
    min_dls = np.array([b["min_dl"] for b in blockmax], dtype=np.float64)
    ubs = idf * _tfn(max_tfs, min_dls, avgdl)
    offsets = np.array([b["offset"] for b in blockmax], dtype=np.int64)
    ns = np.array([b["n"] for b in blockmax], dtype=np.int64)
    # block i covers (prev_last, last]; first possible doc = prev_last + 1
    first_docs = np.empty_like(last_docs)
    first_docs[0] = 0
    first_docs[1:] = last_docs[:-1] + 1
    return _Cursor(idf, blob, last_docs, ubs, offsets, ns, first_docs)


# The exhaustive (pruning-free) twin of BMW is score_boolean in OR mode —
# decode everything, unique+accumulate, top-k. Reached via use_bmw=False.


def score_query_bmw(
    cursors: list[_Cursor],
    k: int,
    avgdl: float,
    stats: dict | None = None,
    exclude: np.ndarray | None = None,
    include: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Window-sweep Block-Max WAND: exact top-k with block skipping.

    ``stats`` (optional) is filled with pruning counters:
    windows_total / windows_skipped / blocks_decoded / blocks_total.

    ``exclude`` (sorted int64, optional): doc ids barred from the top-k —
    the tombstone set of updated/deleted documents (streaming/incremental).
    Applied when candidates enter the heap; block upper bounds still count
    excluded postings, which only ever OVER-estimates, so pruning stays
    safe (the ES/Lucene analog: deleted docs still shape skip data until
    a merge drops them).

    ``include`` (sorted int64, optional): ES filter-context POSITIVE
    filter — only these doc ids may enter the heap; scoring stats are
    untouched (the Lucene analog: the filter bitset intersects the
    scorer's DISI, norms/idf unchanged). Same safe over-estimate argument
    as ``exclude``."""
    from find_that_charity_spark.functions.codec import tfnorm as _tfn

    if not cursors or k <= 0:
        return []
    if stats is not None:
        stats.update(
            windows_total=0, windows_skipped=0, blocks_decoded=0,
            blocks_total=int(sum(c.n_blocks() for c in cursors)),
        )
    # window boundaries: union of all block last_docs
    boundaries = np.unique(np.concatenate([c.last_docs for c in cursors]))
    heap: list[tuple[float, int]] = []  # (score, -doc_id), size <= k
    decoded_cache: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}

    lo = 0  # current window start (doc id)
    for hi in boundaries:
        # collect cursors whose current block intersects [lo, hi]
        active = []
        ub_sum = 0.0
        for ci, c in enumerate(cursors):
            while c.blk < c.n_blocks() and c.last_docs[c.blk] < lo:
                c.blk += 1
            if c.blk < c.n_blocks() and c.first_docs[c.blk] <= hi:
                active.append((ci, c))
                ub_sum += c.ubs[c.blk]
        if stats is not None:
            stats["windows_total"] += 1
        if not active:
            lo = int(hi) + 1
            continue
        theta = heap[0][0] if len(heap) >= k else -np.inf
        if ub_sum <= theta:
            if stats is not None:
                stats["windows_skipped"] += 1
            lo = int(hi) + 1
            continue
        # decode + slice postings within [lo, hi]
        win_docs, win_scores = [], []
        for ci, c in active:
            key = (ci, c.blk)
            if key not in decoded_cache:
                if stats is not None:
                    stats["blocks_decoded"] += 1
                prev = int(c.last_docs[c.blk - 1]) if c.blk > 0 else 0
                docs, tfs, dls = decode_block(
                    c.blob, int(c.offsets[c.blk]), int(c.ns[c.blk]), prev
                )
                decoded_cache[key] = (docs, c.idf * _tfn(tfs, dls.astype(np.float64), avgdl))
                if len(decoded_cache) > 64:
                    # bound memory: drop blocks before current window
                    decoded_cache = {
                        kk: vv for kk, vv in decoded_cache.items() if vv[0][-1] >= lo
                    }
            docs, scores = decoded_cache[key]
            s = np.searchsorted(docs, lo, side="left")
            e = np.searchsorted(docs, hi, side="right")
            if s < e:
                win_docs.append(docs[s:e])
                win_scores.append(scores[s:e])
        if win_docs:
            docs = np.concatenate(win_docs)
            scores = np.concatenate(win_scores)
            uniq, inv = np.unique(docs, return_inverse=True)
            total = np.zeros(len(uniq))
            np.add.at(total, inv, scores)
            if exclude is not None and exclude.size:
                keep = ~_member_mask(exclude, uniq)
                uniq, total = uniq[keep], total[keep]
            if include is not None:
                keep = _member_mask(include, uniq)
                uniq, total = uniq[keep], total[keep]
            for d, sc in zip(uniq.tolist(), total.tolist()):
                entry = (sc, -d)
                if len(heap) < k:
                    heapq.heappush(heap, entry)
                elif entry > heap[0]:
                    heapq.heapreplace(heap, entry)
        lo = int(hi) + 1

    out = sorted(heap, key=lambda e: (-e[0], -e[1]))
    return [(-d, s) for s, d in out]


def _decode_cursor_range(
    c: _Cursor, avgdl: float, lo: int | None = None, hi: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Decode one cursor -> (docs, per-posting BM25 scores), optionally
    restricted to doc range [lo, hi) using block skip pointers (only
    overlapping blocks are decoded)."""
    from find_that_charity_spark.functions.codec import tfnorm as _tfn

    docs_l, score_l = [], []
    prev = 0
    for i in range(c.n_blocks()):
        last = int(c.last_docs[i])
        first_possible = prev + 1 if i > 0 else 0
        if (hi is not None and first_possible >= hi) or (lo is not None and last < lo):
            prev = last
            continue
        docs, tfs, dls = decode_block(c.blob, int(c.offsets[i]), int(c.ns[i]), prev)
        prev = last
        scores = c.idf * _tfn(tfs, dls.astype(np.float64), avgdl)
        if lo is not None or hi is not None:
            s = np.searchsorted(docs, lo) if lo is not None else 0
            e = np.searchsorted(docs, hi) if hi is not None else docs.size
            docs, scores = docs[s:e], scores[s:e]
        if docs.size:
            docs_l.append(docs)
            score_l.append(scores)
    if not docs_l:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    return np.concatenate(docs_l), np.concatenate(score_l)


def _decode_cursor_positions(
    c: _Cursor, lo: int | None = None, hi: int | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode (docs, tfs, dls, positions_flat), optionally range-restricted
    via block skip pointers (phrase-query path)."""
    docs_l, tfs_l, dls_l, pos_l = [], [], [], []
    prev = 0
    for i in range(c.n_blocks()):
        last = int(c.last_docs[i])
        first_possible = prev + 1 if i > 0 else 0
        if (hi is not None and first_possible >= hi) or (lo is not None and last < lo):
            prev = last
            continue
        docs, tfs, dls, pos = decode_block(
            c.blob, int(c.offsets[i]), int(c.ns[i]), prev, with_positions=True
        )
        prev = last
        if lo is not None or hi is not None:
            s = np.searchsorted(docs, lo) if lo is not None else 0
            e = np.searchsorted(docs, hi) if hi is not None else docs.size
            bounds = np.concatenate([[0], np.cumsum(tfs)]).astype(np.int64)
            pos = pos[bounds[s] : bounds[e]]
            docs, tfs, dls = docs[s:e], tfs[s:e], dls[s:e]
        if docs.size:
            docs_l.append(docs)
            tfs_l.append(tfs)
            dls_l.append(dls)
            pos_l.append(pos)
    if not docs_l:
        e64 = np.empty(0, np.int64)
        return e64, e64, e64, e64
    return (
        np.concatenate(docs_l),
        np.concatenate(tfs_l),
        np.concatenate(dls_l),
        np.concatenate(pos_l),
    )


def score_phrase(
    term_data: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]],
    q_offsets: dict[str, list[int]],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    exclude: np.ndarray | None = None,
    include: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Exact phrase top-k (ES match_phrase / Lucene PhraseQuery analog).

    A doc matches when some anchor position p has term t at p+off for
    every query occurrence (t, off). Scoring follows Lucene PhraseQuery:
    weight = sum of idf over query occurrences, tf = phrase frequency,
    score = weight * tfnorm(phrase_freq, dl, avgdl).
    ``term_data``: term -> (docs, tfs, dls, positions_flat).

    Anchor verification is one numpy pass over the WHOLE candidate set:
    positions are encoded as global keys ``doc_id * stride + pos`` (stride
    sized so ``pos - base_off + off`` can never cross a doc boundary), so
    each (term, offset) occurrence costs a single vectorized
    ``searchsorted`` over every candidate anchor at once — no per-doc
    Python loop regardless of candidate-set size.
    """
    from find_that_charity_spark.functions.codec import tfnorm as _tfn

    if not term_data or not q_offsets:
        return []
    # intersect candidate docs across unique terms (rarest first)
    lists = sorted(term_data.values(), key=lambda t: t[0].size)
    base = lists[0][0]
    for docs, _tf, _dl, _p in lists[1:]:
        base = base[_member_mask(docs, base)]
        if base.size == 0:
            return []
    if exclude is not None and exclude.size:
        # tombstoned (updated/deleted) docs leave the candidate set before
        # the position gather — cheapest possible point to drop them
        base = base[~_member_mask(exclude, base)]
        if base.size == 0:
            return []
    if include is not None:
        # filter context (positive): same pre-gather drop point
        base = base[_member_mask(include, base)]
        if base.size == 0:
            return []
    weight = sum(idfs[t] * len(offs) for t, offs in q_offsets.items())
    max_off = max(max(offs) for offs in q_offsets.values())

    # gather each term's positions restricted to the candidate docs, flat.
    # starts/lens index the per-posting segments; the arange-minus-repeat
    # trick materializes all variable-length segments in one fancy-index.
    gathered: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    dls_base: np.ndarray | None = None
    max_pos = 0
    for t, (docs, tfs, dls, pos_flat) in term_data.items():
        bounds = np.concatenate([[0], np.cumsum(tfs)]).astype(np.int64)
        idx = np.searchsorted(docs, base)
        starts = bounds[idx]
        lens = tfs[idx].astype(np.int64)
        total = int(lens.sum())
        cum = np.concatenate([[0], np.cumsum(lens)])
        flat_idx = (
            np.arange(total, dtype=np.int64)
            - np.repeat(cum[:-1], lens)
            + np.repeat(starts, lens)
        )
        pos_g = pos_flat[flat_idx].astype(np.int64)
        doc_g = np.repeat(base, lens).astype(np.int64)
        gathered[t] = (doc_g, pos_g)
        if pos_g.size:
            max_pos = max(max_pos, int(pos_g.max()))
        if dls_base is None:
            dls_base = dls[idx]

    # global encoding: doc * stride + pos is strictly increasing (docs asc,
    # positions asc within doc) and pos - base_off + off < stride, so no
    # anchor arithmetic can collide with a neighboring doc's range.
    stride = np.int64(max_pos + max_off + 2)
    glob = {t: d * stride + p for t, (d, p) in gathered.items()}

    ordered = sorted(q_offsets.items(), key=lambda kv: min(kv[1]))
    t0, offs0 = ordered[0]
    base_off = min(offs0)
    d0, p0 = gathered[t0]
    keep = p0 >= base_off  # the anchor itself must sit inside the doc
    anchors = d0[keep] * stride + (p0[keep] - base_off)
    for t, offs in ordered:
        for off in offs:
            if t == t0 and off == base_off:
                continue
            anchors = anchors[_member_mask(glob[t], anchors + off)]
            if anchors.size == 0:
                return []

    # phrase frequency per doc + BM25 scoring, vectorized end-to-end
    uniq, counts = np.unique(anchors // stride, return_counts=True)
    dl_m = dls_base[np.searchsorted(base, uniq)].astype(np.float64)
    scores = weight * _tfn(counts.astype(np.float64), dl_m, avgdl)
    order = np.lexsort((uniq, -scores))[:k]
    return [(int(uniq[j]), float(scores[j])) for j in order]


def _member_mask(sorted_haystack: np.ndarray, needles: np.ndarray) -> np.ndarray:
    """Membership of needles in a sorted array via searchsorted (the
    vectorized form of galloping intersection — SURVEY.md §2D D7)."""
    if sorted_haystack.size == 0:
        return np.zeros(needles.shape, dtype=bool)
    idx = np.searchsorted(sorted_haystack, needles)
    idx[idx == sorted_haystack.size] = sorted_haystack.size - 1
    return sorted_haystack[idx] == needles


def score_boolean(
    term_lists: dict[str, tuple[np.ndarray, np.ndarray]],
    conjunctive: bool,
    neg_docs: np.ndarray,
    k: int,
    min_match: int = 1,
    include: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Exact boolean scoring: AND = intersection driven by the rarest term
    (searchsorted membership), OR = unique+accumulate; NOT = exclusion set.
    ``min_match`` > 1 is ES minimum_should_match: keep only docs matching
    at least that many DISTINCT positive terms (a doc appears at most once
    per term's postings, so the per-doc occurrence count across term lists
    IS the distinct-term count). All docID-sorted numpy, no per-posting
    Python."""
    if not term_lists:
        return []
    if conjunctive:
        by_rarity = sorted(term_lists.values(), key=lambda t: t[0].size)
        base = by_rarity[0][0]
        for docs, _ in by_rarity[1:]:
            base = base[_member_mask(docs, base)]
            if base.size == 0:
                return []
        total = np.zeros(base.size)
        for docs, scores in term_lists.values():
            idx = np.searchsorted(docs, base)
            total += scores[idx]
        uniq = base
    else:
        docs = np.concatenate([d for d, _ in term_lists.values()])
        scores = np.concatenate([s for _, s in term_lists.values()])
        uniq, inv = np.unique(docs, return_inverse=True)
        total = np.zeros(len(uniq))
        np.add.at(total, inv, scores)
        if min_match > 1:
            n_terms = np.bincount(inv, minlength=len(uniq))
            keep = n_terms >= min_match
            uniq, total = uniq[keep], total[keep]
    if neg_docs.size:
        keep = ~_member_mask(neg_docs, uniq)
        uniq, total = uniq[keep], total[keep]
    if include is not None:
        keep = _member_mask(include, uniq)
        uniq, total = uniq[keep], total[keep]
    order = np.lexsort((uniq, -total))[:k]
    return [(int(uniq[i]), float(total[i])) for i in order]


def make_query_scorer(
    n_docs: int, avgdl: float, use_bmw: bool = True, tombstones=None,
    include=None,
):
    """applyInPandas scorer over per-qid groups of (term, segment) rows.

    Pure-OR queries go through Block-Max WAND; conjunctive ('bool_and')
    and exclusion ('-term') queries use the galloping-intersect path —
    itself sublinear for AND, since the rarest term drives the scan.

    ``tombstones``: sorted int64 array of superseded doc ids (document
    updates/deletes — streaming/incremental.py), or a Spark Broadcast of
    one (ships once per executor instead of once per task closure).
    Excluded from every result; physically dropped by vacuum_index.

    ``include``: sorted int64 array (or Broadcast) of the ES filter-
    context POSITIVE set — only these ids may appear in any result;
    scoring stats untouched (run_queries.include_doc_ids)."""

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        tomb = tombstones.value if hasattr(tombstones, "value") else tombstones
        inc = include.value if hasattr(include, "value") else include
        qid = pdf["qid"].iloc[0]
        k = int(pdf["k"].iloc[0])
        mode = pdf["mode"].iloc[0]
        conjunctive = mode == "bool_and"
        # ES minimum_should_match: mode "min_should:<m>" keeps only docs
        # matching >= m distinct positive terms, scored as a plain OR
        min_match = (
            int(mode.split(":", 1)[1]) if mode.startswith("min_should") else 1
        )
        # sharded mode: this group covers one doc range of one query
        lo = int(pdf["range_lo"].iloc[0]) if "range_lo" in pdf.columns else None
        hi = int(pdf["range_hi"].iloc[0]) if "range_hi" in pdf.columns else None
        sharded = lo is not None
        pos = pdf[~pdf["neg"]]
        negs = pdf[pdf["neg"]]
        empty = pd.DataFrame(
            {"qid": pd.Series([], dtype=str), "rank": pd.Series([], dtype=np.int32),
             "doc_id": pd.Series([], dtype=np.int64), "score": pd.Series([], dtype=np.float64)}
        )
        if pos.empty:
            return empty
        if conjunctive or mode == "phrase":
            n_required = int(pdf["n_required"].iloc[0])
            if pos["term"].nunique() < n_required:
                return empty  # a required term is absent from the corpus

        def cursors_of(grp: pd.DataFrame) -> list[_Cursor]:
            idf = float(idf_np(float(n_docs), float(grp["df"].iloc[0])))
            # per-term boost (Lucene 'term^2.5'): scales the cursor weight,
            # which scales scores AND block upper bounds consistently — BMW
            # pruning stays exact (ub = weight * tfnorm(max_tf, min_dl))
            idf *= float(grp["boost"].iloc[0])
            return [
                _make_cursor(idf, row["postings"], row["blockmax"], avgdl)
                for _, row in grp.sort_values("min_doc").iterrows()
            ]

        if mode == "phrase":
            assert bool(pdf["has_positions"].all()), (
                "phrase query against an index built without positions "
                "(BuildConfig.positions=True required)"
            )
            term_data = {}
            idfs = {}
            q_offsets = {}
            for term, grp in pos.groupby("term", sort=True):
                idfs[term] = float(idf_np(float(n_docs), float(grp["df"].iloc[0])))
                q_offsets[term] = [int(o) for o in grp["q_offsets"].iloc[0]]
                parts = [
                    _decode_cursor_positions(c, lo, hi) for c in cursors_of(grp)
                ]
                term_data[term] = (
                    np.concatenate([p[0] for p in parts]),
                    np.concatenate([p[1] for p in parts]),
                    np.concatenate([p[2] for p in parts]),
                    np.concatenate([p[3] for p in parts]),
                )
            top = score_phrase(
                term_data, q_offsets, idfs, avgdl, k, exclude=tomb, include=inc
            )
        elif conjunctive or min_match > 1 or not negs.empty or sharded or not use_bmw:
            term_lists: dict[str, tuple[np.ndarray, np.ndarray]] = {}
            for term, grp in pos.groupby("term", sort=True):
                parts = [_decode_cursor_range(c, avgdl, lo, hi) for c in cursors_of(grp)]
                docs_cat = np.concatenate([p[0] for p in parts])
                if sharded and docs_cat.size == 0 and conjunctive:
                    return empty  # required term absent from this doc range
                term_lists[term] = (
                    docs_cat,
                    np.concatenate([p[1] for p in parts]),
                )
            neg_docs_l = []
            for term, grp in negs.groupby("term", sort=True):
                for c in cursors_of(grp):
                    neg_docs_l.append(_decode_cursor_range(c, avgdl, lo, hi)[0])
            neg_docs = (
                np.unique(np.concatenate(neg_docs_l)) if neg_docs_l else np.empty(0, np.int64)
            )
            if tomb is not None and tomb.size:
                # tombstones ride the existing NOT-exclusion path (D7)
                neg_docs = np.union1d(neg_docs, tomb)
            top = score_boolean(
                term_lists, conjunctive, neg_docs, k, min_match, include=inc
            )
        else:
            cursors: list[_Cursor] = []
            for term, grp in pos.groupby("term", sort=True):
                cursors.extend(cursors_of(grp))
            top = score_query_bmw(cursors, k, avgdl, exclude=tomb, include=inc)
        return pd.DataFrame(
            {
                "qid": qid,
                "rank": np.arange(1, len(top) + 1, dtype=np.int32),
                "doc_id": np.array([d for d, _ in top], dtype=np.int64),
                "score": np.array([s for _, s in top], dtype=np.float64),
            }
        )

    return score


def read_tombstones(spark: SparkSession, index_dir: str) -> np.ndarray:
    """Superseded doc ids (document updates/deletes) as a sorted int64
    array — empty when the index has none.

    The set is bounded by updates since the last ``vacuum_index`` (the ES
    analog: deleted-docs count between merges), so a maintained index
    keeps it far below driver/broadcast comfort; at web scale the
    operational rule is vacuum when the tombstone ratio passes a few
    percent, exactly like ES's expunge-deletes threshold. Units may
    contain duplicate ids (replayed epochs re-tombstone dominated rows),
    hence the distinct."""
    import os

    from find_that_charity_spark.plans.checkpoint import strip_file_scheme

    path = f"{index_dir}/tombstones"
    local = strip_file_scheme(path)
    if "://" not in local and not os.path.exists(local):
        return np.empty(0, dtype=np.int64)
    key = _local_mtime_key(path)
    if key is not None:
        hit = _TOMB_CACHE.get(index_dir)
        if hit is not None and hit[0] == key:
            return hit[1]
    try:
        rows = cached_parquet(spark, path).select("doc_id").distinct().collect()
    except AnalysisException:  # remote store without a tombstones dir
        return np.empty(0, dtype=np.int64)
    out = np.sort(np.array([r[0] for r in rows], dtype=np.int64))
    if key is not None:
        _TOMB_CACHE[index_dir] = (key, out)
    return out


# driver-side mtime-keyed caches (VERDICT r04 item 5): corpus_stats and
# tombstones are re-read per run_queries batch — one constant Spark job
# each. On a local store the freshness signal is free (file mtimes), so a
# warm driver serves repeats at zero jobs; any writer (refresh, vacuum)
# rewrites the files and the key changes. Remote schemes skip the cache.
_STATS_CACHE: dict[str, tuple[tuple, int, float]] = {}
_TOMB_CACHE: dict[str, tuple[tuple, np.ndarray]] = {}


def _local_mtime_key(path: str) -> tuple | None:
    """Recursive (path, mtime_ns) signature of a local dir, or None when
    the path is remote (no cheap freshness signal) — None disables
    caching. A missing dir gets an empty signature (cacheable)."""
    from find_that_charity_spark.plans.checkpoint import strip_file_scheme

    local = strip_file_scheme(path)
    if "://" in local:
        return None
    if os.path.isfile(local):  # single-file table (e.g. fixture parquet)
        return ((local, os.stat(local).st_mtime_ns),)
    sig = []
    for dirpath, _dirs, files in os.walk(local):
        sig.append((dirpath, os.stat(dirpath).st_mtime_ns))
        for fn in files:
            fp = os.path.join(dirpath, fn)
            try:
                sig.append((fp, os.stat(fp).st_mtime_ns))
            except FileNotFoundError:  # racing writer: fall back to fresh read
                return None
    return tuple(sig)


# mtime-keyed parquet READER cache (optimization round 6, batch 2): every
# `spark.read.parquet(path)` pays a driver file-listing/schema-inference
# job (~20-30 ms measured) plus InMemoryFileIndex construction — and the
# warm query path opened dictionary/segments/docs readers afresh on every
# call. A DataFrame is only a plan, so reusing it is free; the cached
# reader's file listing is frozen at creation, hence the same mtime
# signature the stats/tombstone caches use invalidates it whenever any
# writer (refresh, vacuum, compaction) touches the directory. Remote
# schemes (no cheap freshness signal) skip the cache. Keyed on the
# driver's SparkContext object, which a new session replaces, so a stopped
# session's plans are never reused (the application id would cost two py4j
# round trips per call to read).
_PARQUET_READER_CACHE: dict[str, object] = {"sc": None, "readers": {}}


def cached_parquet(spark: SparkSession, path: str) -> DataFrame:
    sc = spark.sparkContext
    if _PARQUET_READER_CACHE["sc"] is not sc:
        _PARQUET_READER_CACHE["sc"] = sc
        _PARQUET_READER_CACHE["readers"] = {}
    sig = _local_mtime_key(path)
    if sig is None:
        return spark.read.parquet(path)
    readers: dict = _PARQUET_READER_CACHE["readers"]
    hit = readers.get(path)
    if hit is not None and hit[0] == sig:
        return hit[1]
    df = spark.read.parquet(path)
    readers[path] = (sig, df)
    return df


@dataclass
class _DictRecord:
    """What the driver knows of one dictionary version: term -> (df,
    bucket) for every term probed so far (``missing`` holds probed terms
    the dictionary lacks), or, when ``complete``, for the whole
    dictionary. ``key`` is the dictionary's mtime signature, None on a
    remote store. ``alphabet`` and ``del_index`` are the lazily built
    state of the in-memory fuzzy expansion (``_fuzzy_candidates``)."""

    key: tuple | None
    terms: dict = field(default_factory=dict)
    missing: set = field(default_factory=set)
    complete: bool = False
    alphabet: str | None = None
    del_index: dict | None = None


# one record per local index, keyed by the same mtime signature as the
# stats/tombstone caches (optimization round 6): every warm query batch,
# facet, highlight and more_like_this call was paying one pushed IN-list
# dictionary probe JOB for terms the driver had already resolved. Bounded
# by distinct probed terms, or by ``IndexSearcher``'s ``preload_terms``.
_DICT_RECORDS: dict[str, _DictRecord] = {}


def _dict_record(index_dir: str) -> _DictRecord:
    """The current dictionary version's record. Remote stores (no cheap
    freshness signal) get a fresh record per call, as with
    ``_STATS_CACHE``."""
    key = _local_mtime_key(f"{index_dir}/dictionary")
    if key is None:
        return _DictRecord(None)
    rec = _DICT_RECORDS.get(index_dir)
    if rec is None or rec.key != key:
        rec = _DICT_RECORDS[index_dir] = _DictRecord(key)
    return rec


def probe_dictionary(
    spark: SparkSession, index_dir: str, terms: list[str],
    record: _DictRecord | None = None,
) -> dict[str, tuple[int, int]]:
    """term -> (df, bucket) for the subset of ``terms`` in the dictionary.

    One pushed IN-list probe job for the terms ``record`` (by default the
    current version's) does not know yet; a warm driver resolves repeat
    terms, and every term of a complete record, with zero jobs."""
    rec = _dict_record(index_dir) if record is None else record
    todo = [] if rec.complete else sorted(
        {t for t in terms if t not in rec.terms and t not in rec.missing}
    )
    if todo:
        dictionary = cached_parquet(spark, f"{index_dir}/dictionary")
        rows = dictionary.where(in_list("term", todo)).collect()
        rec.terms.update((r["term"], (int(r["df"]), int(r["bucket"]))) for r in rows)
        rec.missing.update(t for t in todo if t not in rec.terms)
    return {t: rec.terms[t] for t in terms if t in rec.terms}


def load_stats(spark: SparkSession, index_dir: str) -> tuple[int, float]:
    # every query entry point reads stats first — piggyback the on-disk
    # format check here so an old-layout store fails fast with a rebuild
    # hint instead of misdecoding blobs (ADVICE r03)
    check_format(index_dir)
    key = _local_mtime_key(f"{index_dir}/corpus_stats")
    if key is not None:
        hit = _STATS_CACHE.get(index_dir)
        if hit is not None and hit[0] == key:
            return hit[1], hit[2]
    row = cached_parquet(spark, f"{index_dir}/corpus_stats").collect()[0]
    out = (int(row["n_docs"]), float(row["avgdl"]))
    if key is not None:
        _STATS_CACHE[index_dir] = (key, *out)
    return out


class IndexSearcher:
    """Warm-index read handle and the one driver read path: ``search``,
    ``recon.reconcile`` and ``recon.add_to_csv`` answer through
    ``search_batch``. Pins one index version at open: corpus stats,
    tombstones, the segments reader and the dictionary record, complete
    when ``preload_terms`` covers the dictionary (one count and one
    collect, none when the version's record is already complete). On a
    local store the record is the one ``probe_dictionary`` keeps for the
    version, shared by every route; on a remote store it is the handle's
    own. Built from warm caches, a handle costs no Spark job. Reopen it
    after appends, compaction or vacuum. p50/p99 latency in BENCH uses
    this: the BASELINE.md 'warm index' protocol, and Elasticsearch's warm
    long-lived service."""

    def __init__(
        self, spark: SparkSession, index_dir: str, preload_terms: int = 2_000_000
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.n_docs, self.avgdl = load_stats(spark, index_dir)
        self._tomb = read_tombstones(spark, index_dir)
        self.segments = cached_parquet(spark, f"{index_dir}/segments")
        # ES keeps the terms dictionary in node heap; the analog here is a
        # complete record when it fits (~100 B/term). Web-scale
        # dictionaries (10^8-10^9 terms) exceed the bound and are probed.
        self._dict = _dict_record(index_dir)
        if preload_terms > 0 and not self._dict.complete:
            dictionary = cached_parquet(spark, f"{index_dir}/dictionary")
            if dictionary.count() <= preload_terms:
                rows = dictionary.select("term", "df", "bucket").collect()
                self._dict = _DictRecord(
                    self._dict.key,
                    {r["term"]: (int(r["df"]), int(r["bucket"])) for r in rows},
                    complete=True,
                )
                if self._dict.key is not None:
                    _DICT_RECORDS[index_dir] = self._dict

    def search(self, text: str, k: int = 10, mode: str = "freetext") -> list:
        """One query -> [(rank, doc_id, score)]: a one-row ``search_batch``,
        one Spark job when warm."""
        res = self.search_batch([{"qid": "q", "text": text, "k": k, "mode": mode}])
        return list(zip(res["rank"].tolist(), res["doc_id"].tolist(), res["score"].tolist()))

    def search_batch(
        self,
        qrows: list,
        *,
        join_urls: bool = False,
        exclude_by_qid: "dict[str, np.ndarray] | None" = None,
    ) -> pd.DataFrame:
        """Answer (qid, text, k, mode) rows: the pandas frame (qid, rank,
        doc_id[, url], score) ordered by (qid, rank).

        One parse and probe through the pinned dictionary record, and one
        routing decision for the whole batch: within ``_fits_driver_budget``
        one ``_score_driver`` pass (one segments fetch, and one url probe
        with ``join_urls``), else one ``_score_matched`` plan per exclusion
        set, collected. ``exclude_by_qid`` bars per-qid doc ids on top of
        the tombstones (a reconcile signature's property filter); qids
        sharing one array object share one exclusion set."""
        matched = _analyze_batch_driver(self.spark, self.index_dir, qrows, self._dict)
        # a query without a positive dictionary term has no hits
        live = {r[0] for r in matched if not r[3]}
        matched = [r for r in matched if r[0] in live]
        if not matched:
            return _no_results(join_urls)
        if _fits_driver_budget(sum(r[7] for r in matched)):
            return _score_driver(
                self.spark, self.index_dir, matched, self.n_docs, self.avgdl, True,
                self._tomb, None, join_urls, exclude_by_qid, segments=self.segments,
            )
        by_excl: dict[int, tuple] = {}
        for r in matched:
            extra = (exclude_by_qid or {}).get(r[0])
            by_excl.setdefault(id(extra), (extra, []))[1].append(r)
        # read through Arrow: the result is a pandas frame, not Rows
        frames = [
            _score_matched(
                self.spark, self.index_dir, rows, self.n_docs, self.avgdl, True,
                self._tomb if extra is None else np.union1d(self._tomb, extra),
                None, None, join_urls, segments=self.segments,
            ).toArrow().to_pandas()
            for extra, rows in by_excl.values()
        ]
        return pd.concat(frames, ignore_index=True).sort_values(
            ["qid", "rank"], ignore_index=True
        )

    def close(self) -> None:
        """Release the driver-side dictionary. A closed handle still
        answers, looking terms up through ``probe_dictionary`` into a
        record of its own."""
        if self._dict.complete and _DICT_RECORDS.get(self.index_dir) is self._dict:
            del _DICT_RECORDS[self.index_dir]
        self._dict = _DictRecord(self._dict.key)


# Lucene boost suffix 'word^2.5'; an invalid suffix ('a^b') does not match
# and the word is analyzed as written
_BOOST_RE = re.compile(r"^(.*)\^(\d+(?:\.\d+)?)$")


def parse_query(
    text: str | None, mode: str
) -> tuple[dict[str, tuple[bool, "list[int] | None", float]], int]:
    """The query language (D1, D7). Every route parses with this function:
    ``IndexSearcher.search``, the driver parse of a small batch, and the
    applyInPandas parse of a batch over 10,000 queries.

    Returns ``({term: (neg, q_offsets, boost)}, n_required)``:

    - ``phrase``: the analyzed tokens in order; ``q_offsets`` lists each
      term's positions (ES match_phrase); ``-`` and ``^`` are not operators.
    - ``fuzzy``: the recon-analyzed query terms, before their edit-1
      expansion against the dictionary.
    - every other mode: whitespace-separated words. ``-word`` negates the
      word's terms (ES bool must_not) and ``word^2.5`` boosts them (Lucene
      term boost); ``recon`` folds accents (``analyze_name``). A term both
      included and negated is negated; a repeated term takes its largest
      boost.

    ``n_required`` counts the distinct terms of non-negated words, the
    oracle's rule (``oracle.brute_force_topk``): ``bool_and`` requires each
    of them and then drops documents holding a negated term, so a term
    both required and negated leaves no hits."""
    text = text or ""
    if mode == "phrase":
        offsets: dict[str, list[int]] = {}
        for i, t in enumerate(analyzer.analyze(text)):
            offsets.setdefault(t, []).append(i)
        return {t: (False, offs, 1.0) for t, offs in offsets.items()}, len(offsets)
    if mode == "fuzzy":
        qterms = set(analyzer.analyze_name(text))
        return {t: (False, None, 1.0) for t in qterms}, len(qterms)
    qa = analyzer.analyze_name if mode == "recon" else analyzer.analyze
    terms: dict[str, tuple[bool, None, float]] = {}
    required: set[str] = set()
    for word in text.split():
        neg = word.startswith("-")
        m = _BOOST_RE.match(word)
        boost = float(m.group(2)) if m else 1.0
        for t in qa((m.group(1) if m else word).lstrip("-")):
            was_neg, _, was_boost = terms.get(t, (False, None, 1.0))
            terms[t] = (was_neg or neg, None, max(was_boost, boost))
            if not neg:
                required.add(t)
    return terms, len(required)


def _parse_batch(qrows) -> list[tuple]:
    """Parse (qid, text, k, mode) rows: [(qid, k, mode, terms, n_required)]
    in first-seen qid order. Rows sharing a qid are one query (malformed
    input, but every route must agree): the first row's k and mode, the
    rows' words pooled (phrase: offsets union-sorted)."""
    by_qid: dict[str, tuple[int, str, list[str]]] = {}
    for r in qrows:
        by_qid.setdefault(r["qid"], (int(r["k"]), r["mode"], []))[2].append(r["text"] or "")
    out = []
    for qid, (k, mode, texts) in by_qid.items():
        if mode != "phrase" or len(texts) == 1:
            terms, n_required = parse_query(" ".join(texts), mode)
        else:
            offsets: dict[str, list[int]] = {}
            for text in texts:
                for t, (_, offs, _) in parse_query(text, mode)[0].items():
                    offsets.setdefault(t, []).extend(offs)
            terms = {t: (False, sorted(offs), 1.0) for t, offs in offsets.items()}
            n_required = len(terms)
        out.append((qid, k, mode, terms, n_required))
    return out


# matched-terms relation: one row per (qid, dictionary term), the input of
# both scoring tails
_MATCHED_SCHEMA = (
    "qid string, k int, mode string, neg boolean, boost double, "
    "q_offsets array<int>, "
    "term string, df_global long, bucket int, n_required long"
)


def _matched_rows(parsed: list[tuple], by_term: dict) -> list[tuple]:
    """``_MATCHED_SCHEMA`` tuples of parsed queries, one per (qid, term)
    whose term is in ``by_term`` ({term: (df, bucket)})."""
    return [
        (qid, k, mode, neg, boost, offs, t, *by_term[t], n_required)
        for qid, k, mode, terms, n_required in parsed
        for t, (neg, offs, boost) in sorted(terms.items())
        if t in by_term
    ]


# generation beats the deletion-key index only while terms*alphabet is
# small: generation tests O(len*|alphabet|) strings per query term, the
# index probes O(len) keys but pays a one-time build over the whole
# dictionary (~len+1 keys per dictionary term)
_FUZZY_DUAL_MIN_TERMS = 32
_FUZZY_DUAL_MAX_ALPHABET = 64


def _fuzzy_candidates(
    spark: SparkSession, index_dir: str, qterms: list[str],
    record: _DictRecord | None = None,
) -> list[str]:
    """Dictionary terms that may lie within edit distance 1 of a query
    term. Callers verify each candidate with ``within_edit1``.

    When ``record`` (by default the current version's) holds the whole
    dictionary, the exact edit-1 set with ZERO Spark jobs (VERDICT r03
    item 6): each query term's edit-1 neighbourhood is generated over the
    dictionary's own alphabet and tested against the record (SymSpell's
    generate-and-test dual). An in-dictionary neighbour's substituted or
    inserted char appears in that term, hence in the alphabet, so
    analyzer-legal chars beyond [a-z0-9] are covered (ADVICE r04). Large
    batches and large (multilingual) alphabets use a lazily built
    deletion-key index over the record instead: O(len) probes per term
    (VERDICT r04 item 6).

    Otherwise one pushed IN-list probe of the build-time deletion-key
    index (``fuzzy_keys``), or, on an index built before it existed, a
    levenshtein filter over the dictionary."""
    from find_that_charity_spark.functions.fuzzy import deletion_keys, within_edit1

    if not qterms:
        return []
    rec = _dict_record(index_dir) if record is None else record
    if rec.complete:
        vocab = rec.terms
        if rec.alphabet is None:
            rec.alphabet = "".join(sorted({ch for t in vocab for ch in t}))
        abc = rec.alphabet
        out: set[str] = set()
        if len(qterms) >= _FUZZY_DUAL_MIN_TERMS or len(abc) > _FUZZY_DUAL_MAX_ALPHABET:
            if rec.del_index is None:
                idx: dict[str, list[str]] = {}
                for u in vocab:
                    for key in deletion_keys(u):
                        idx.setdefault(key, []).append(u)
                rec.del_index = idx
            for t in qterms:
                out.update(
                    c for key in deletion_keys(t) for c in rec.del_index.get(key, ())
                    if within_edit1(c, t)
                )
        else:
            for t in qterms:
                near = {t}
                near.update(t[:i] + t[i + 1 :] for i in range(len(t)))
                near.update(t[:i] + ch + t[i + 1 :] for i in range(len(t)) for ch in abc)
                near.update(t[:i] + ch + t[i:] for i in range(len(t) + 1) for ch in abc)
                out.update(c for c in near if c in vocab)
        return sorted(out)
    try:
        cand = cached_parquet(spark, f"{index_dir}/fuzzy_keys").where(
            in_list("key", sorted({key for t in qterms for key in deletion_keys(t)}))
        )
    except AnalysisException:  # pre-fuzzy_keys index: no such table
        cand = cached_parquet(spark, f"{index_dir}/dictionary").where(" OR ".join(
            f"(abs(length(term) - {len(t)}) <= 1 AND levenshtein(term, {sql_string(t)}) <= 1)"
            for t in qterms
        ))
    return sorted({r["term"] for r in cand.collect()})


def _analyze_batch_driver(
    spark: SparkSession, index_dir: str, qrows: list,
    record: _DictRecord | None = None,
) -> list[tuple]:
    """Small-batch analysis on the driver (VERDICT r03 item 8): the
    batch's ``_MATCHED_SCHEMA`` rows from ``_parse_batch``, one
    ``_fuzzy_candidates`` call for the batch's fuzzy queries, and one
    ``probe_dictionary`` call, both through ``record`` (by default the
    current version's): a job only for terms the driver has not resolved
    before, none when the record is complete."""
    from find_that_charity_spark.functions.fuzzy import within_edit1

    parsed = _parse_batch(qrows)
    fuzzy_terms = sorted({t for p in parsed if p[2] == "fuzzy" for t in p[3]})
    if fuzzy_terms:
        cand = _fuzzy_candidates(spark, index_dir, fuzzy_terms, record)
        parsed = [
            p if p[2] != "fuzzy" else (
                *p[:3],
                {c: (False, None, 1.0) for c in cand if any(within_edit1(c, t) for t in p[3])},
                None,
            )
            for p in parsed
        ]
    probe_terms = sorted({t for p in parsed for t in p[3]})
    if not probe_terms:
        return []
    return _matched_rows(parsed, probe_dictionary(spark, index_dir, probe_terms, record))


_TAKE_WIDE_LOCK = threading.Lock()


def take_wide(df: DataFrame, n: int) -> list:
    """take(n) in ONE job round: CollectLimit's incremental strategy
    (1 partition, then scale up) costs several sequential job rounds —
    measured 1.1 s vs 0.36 s for a 1-row relation at local[32]. Scoping
    ``spark.sql.limit.initialNumPartitions`` to the session's parallelism
    runs every partition in the first round; LocalLimit still caps each
    task's output at n rows, so a huge source stays bounded.

    The conf is session-global, so the mutate-take-restore window is
    serialized under a process lock (ADVICE r04): concurrent take_wide
    calls on a shared warm SparkSession can no longer clobber each
    other's restore. (A concurrent PLAIN .take() on another thread may
    still observe the widened value — harmless: it only changes that
    take's first-round partition count, never its result.)"""
    spark = df.sparkSession
    key = "spark.sql.limit.initialNumPartitions"
    with _TAKE_WIDE_LOCK:
        prev = spark.conf.get(key, None)
        spark.conf.set(key, str(max(spark.sparkContext.defaultParallelism, 1)))
        try:
            return df.take(n)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


def sql_string(v: str) -> str:
    """``v`` as a Spark SQL string literal: quoted, with backslashes and
    quotes escaped, so no value can end the literal early."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def in_list(col: str, values) -> str:
    """``col IN (values)`` as SQL text for ``DataFrame.where``, which hands
    the string to the JVM in ONE py4j round trip (``Column.isin`` sends
    one per value, ~0.7 ms each). The parsed predicate is the same ``In``
    Catalyst node, with the same parquet pushdown. Values must be strings
    or integers (Python or numpy; ``bool`` and ``float`` raise
    ``TypeError`` rather than being truncated); strings are quoted with
    ``sql_string`` and the column name is backtick-quoted. No values give
    ``false``."""
    parts = []
    for v in values:
        if isinstance(v, str):
            parts.append(sql_string(v))
        elif isinstance(v, (int, np.integer)) and not isinstance(v, bool):
            parts.append(str(int(v)))
        else:
            raise TypeError(f"in_list values must be str or int, got {type(v).__name__}")
    if not parts:
        return "false"
    return f"`{col.replace('`', '``')}` IN ({', '.join(parts)})"


# the driver's query bound: a batch of at most this many queries is parsed
# and probed on the driver; a larger one is parsed in executors
DRIVER_MAX_QUERIES = 10_000


def _driver_score_max_postings() -> int:
    """Postings-volume bound for the driver-side scoring tail. The default
    (2M postings ≈ a few MB of blobs, positions included) keeps the pull
    far below driver comfort; production tunes it via env. 0 disables the
    driver tail entirely (every batch scores distributed)."""
    return int(os.environ.get("FTC_DRIVER_SCORE_MAX_POSTINGS", "2000000"))


def _fits_driver_budget(postings: int) -> bool:
    """The one driver-vs-executor routing rule, for every entry point: a
    postings volume (the sum of the matched terms' df, known exactly from
    the dictionary probe) within ``_driver_score_max_postings()`` is
    fetched and decoded on the driver, a larger one in executors."""
    return postings <= _driver_score_max_postings()


def pruned_segments(
    segments: DataFrame,
    by_term: dict[str, tuple[int, int]],
    doc_range: "tuple[int, int] | None" = None,
) -> DataFrame:
    """The segment rows of ``by_term``'s terms ({term: (df, bucket)}): a
    bucket partition filter (D3) and a term IN-list, both pushed to the
    parquet scan, and given ``doc_range`` = (lo, hi), inclusive, only the
    rows whose doc range overlaps it. The conjunction is one SQL predicate
    and one ``where`` call, so building the relation is one py4j round
    trip. Every postings fetch starts here, collected on the driver or
    decoded in executors."""
    pred = (
        f"{in_list('bucket', sorted({b for _, b in by_term.values()}))}"
        f" AND {in_list('term', sorted(by_term))}"
    )
    if doc_range is not None:
        lo, hi = doc_range
        pred += f" AND max_doc >= {int(lo)} AND min_doc <= {int(hi)}"
    return segments.where(pred)


def _score_driver(
    spark: SparkSession,
    index_dir: str,
    matched_rows: list[tuple],
    n_docs: int,
    avgdl: float,
    use_bmw: bool,
    tomb: np.ndarray,
    include_arr: "np.ndarray | None",
    join_urls: bool,
    exclude_by_qid: "dict[str, np.ndarray] | None" = None,
    segments: DataFrame | None = None,
) -> pd.DataFrame:
    """The driver scoring tail, for batches with bounded postings volume
    (``_fits_driver_budget``): ONE pushed IN-list segments job fetches the
    query terms' posting rows, the same ``make_query_scorer`` kernel the
    distributed tail (:func:`_score_matched`) ships to executors scores
    them in-process, and the url join-back becomes ONE pushed IN-list docs
    probe over the union of the result ids. Returns the pandas frame
    (qid, rank, doc_id[, url], score) ordered by (qid, rank) — no Spark
    relation is built.

    ``exclude_by_qid``: per-qid doc ids barred on top of ``tomb`` (one
    reconcile signature's property filter), so queries with different
    filter contexts share one fetch and one url probe. Qids sharing the
    same array object share one exclusion union.

    ``segments``: a pinned segments reader (``IndexSearcher``'s); by
    default the mtime-checked ``cached_parquet`` one."""
    segs = segments if segments is not None else cached_parquet(spark, f"{index_dir}/segments")
    terms = {r[6]: (r[7], r[8]) for r in matched_rows}
    # collected as it is: a projection would cost more round trips than
    # the segment rows' few extra scalar columns cost to ship
    seg_rows = pruned_segments(segs, terms).collect() if terms else []
    by_term: dict[str, list] = {}
    for sr in seg_rows:
        by_term.setdefault(sr["term"], []).append(sr)
    scorers: dict = {}  # id(extra exclusion array) or None -> scorer

    def scorer_for(qid: str):
        extra = (exclude_by_qid or {}).get(qid)
        key = None if extra is None else id(extra)
        if key not in scorers:
            barred = tomb if extra is None else np.union1d(tomb, extra)
            scorers[key] = make_query_scorer(
                n_docs, avgdl, use_bmw=use_bmw,
                tombstones=barred if barred.size else None, include=include_arr,
            )
        return scorers[key]

    by_qid: dict[str, list] = {}
    for r in matched_rows:
        by_qid.setdefault(r[0], []).append(r)
    cols = [
        "qid", "k", "mode", "neg", "boost", "q_offsets", "n_required",
        "term", "df", "min_doc", "max_doc", "has_positions", "postings",
        "blockmax",
    ]
    frames = []
    for qid in sorted(by_qid):
        recs = []
        for (q, k, mode, neg, boost, q_offsets, term, df, _bucket, n_req) in by_qid[qid]:
            for sr in by_term.get(term, ()):
                recs.append(
                    (q, k, mode, neg, boost, q_offsets, n_req, term, df,
                     sr["min_doc"], sr["max_doc"], sr["has_positions"],
                     sr["postings"], sr["blockmax"])
                )
        if not recs:
            continue
        out = scorer_for(qid)(pd.DataFrame(recs, columns=cols))
        if len(out):
            frames.append(out)
    if not frames:
        return _no_results(join_urls)
    res = pd.concat(frames, ignore_index=True)
    if not join_urls:
        return res
    ids = sorted({int(d) for d in res["doc_id"]})
    docs = cached_parquet(spark, f"{index_dir}/docs")
    url_of = {
        int(r["doc_id"]): r["url"] for r in docs.where(in_list("doc_id", ids)).collect()
    }
    # inner-join semantics, exactly like docs.join(broadcast(results)):
    # a result id absent from the docs table drops its row
    keep = res["doc_id"].map(lambda d: int(d) in url_of)
    res = res[keep].reset_index(drop=True)
    res = res.assign(url=[url_of[int(d)] for d in res["doc_id"]])
    return res[["qid", "rank", "doc_id", "url", "score"]]


def _no_results(join_urls: bool) -> pd.DataFrame:
    """An empty driver-route results frame, typed like a full one."""
    res = pd.DataFrame(
        {"qid": pd.Series([], dtype=str),
         "rank": pd.Series([], dtype=np.int32),
         "doc_id": pd.Series([], dtype=np.int64),
         "score": pd.Series([], dtype=np.float64)}
    )
    if not join_urls:
        return res
    return res.assign(url=pd.Series([], dtype=str))[["qid", "rank", "doc_id", "url", "score"]]


def run_queries(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    use_bmw: bool = True,
    join_urls: bool = False,
    doc_shards: int | None = None,
    localize_threshold: int = DRIVER_MAX_QUERIES,
    exclude_doc_ids: "np.ndarray | None" = None,
    include_doc_ids: "np.ndarray | None" = None,
    prefetched_qrows: list | None = None,
) -> DataFrame:
    """Answer a batch of queries (qid, text, k, mode) against the index.

    Returns (qid, rank, doc_id, score[, url]) — deterministic order within
    qid by (score DESC, doc_id ASC).

    ``exclude_doc_ids`` (sorted int64, optional): docs barred from every
    query in the batch WITHOUT affecting scoring stats — ES filter-context
    semantics, the Recon API type/properties hook (operators/recon.py).
    Rides the tombstone exclusion broadcast; applied before top-k
    selection in every scoring path, so results are the exact top-k of
    the allowed set.

    ``include_doc_ids`` (sorted int64, optional): the POSITIVE filter
    context — only these docs may appear in any result, scoring stats
    still over the full corpus (ES bool filter / Lucene filter-bitset
    DISI intersection). Exact: applied before top-k selection in every
    scoring path. Derive it from a pushed-down docs-table predicate
    (e.g. a warc_ts range or lang filter) — at scale the set is a
    per-executor broadcast, so keep filters selective or prefer -term
    exclusions for stop-word-sized complements.

    ``doc_shards``: when set, each query is scored in S parallel doc-range
    shards (every term's postings for a doc live in the same range, so
    per-shard scores are complete), then shard top-ks merge through one
    tiny window — the path that spreads a single heavy query across a
    cluster instead of one Python worker. Exact: tested equal to the
    unsharded path and the brute-force oracle.
    """
    # the stats, tombstones, dictionary record and segments reader of the
    # index's current version, as every driver read takes them
    h = IndexSearcher(spark, index_dir, preload_terms=0)
    tomb = h._tomb
    if exclude_doc_ids is not None and len(exclude_doc_ids):
        tomb = np.union1d(tomb, np.asarray(exclude_doc_ids, dtype=np.int64))
    include_arr = (
        np.asarray(include_doc_ids, dtype=np.int64)
        if include_doc_ids is not None
        else None
    )

    # SMALL batches are parsed on the driver: plain-Python parse + ONE
    # pushed IN-list dictionary probe (VERDICT r03 item 8 — measured 28
    # jobs -> 5 per batch against the Spark-expression lineage this
    # replaced). Batch size is probed with an early-terminating
    # take(threshold + 1), cheap for any source; the rows are then already
    # in hand for the small case. A caller that already holds the batch
    # driver-side (add_to_csv's probe) passes ``prefetched_qrows`` and
    # skips the probe job entirely (VERDICT r04 item 5 — the rows must
    # mirror queries_df).
    if prefetched_qrows is not None:
        if len(prefetched_qrows) > localize_threshold:
            raise ValueError("prefetched_qrows only supports small batches")
        qrows = prefetched_qrows
    else:
        qrows = take_wide(queries_df, localize_threshold + 1)
    if len(qrows) > localize_threshold:
        matched = _analyze_batch_distributed(spark, index_dir, queries_df)
    else:
        matched = _analyze_batch_driver(spark, index_dir, qrows, h._dict)
        if not matched:
            return spark.createDataFrame([], _results_schema(join_urls))
        # Driver-side scoring tail (optimization round 6 batch 2): the
        # dictionary probe already yields the EXACT postings volume of the
        # batch (sum of matched df), so when it is bounded the pruned
        # segment rows are pulled driver-side in ONE pushed IN-list job
        # and scored with the same numpy scorer the executor task would
        # run. This is the warm-searcher regime ES serves from a data
        # node's heap; a hot-term batch that exceeds the bound (the 100-TB
        # stop-word case) keeps the distributed scoring tail, lazily (so
        # not through ``search_batch``, which collects it). Guard is
        # parameterised, never a result cache: every call re-reads the
        # store.
        if (not doc_shards or doc_shards <= 1) and _fits_driver_budget(
            sum(r[7] for r in matched)
        ):
            return spark.createDataFrame(
                _score_driver(
                    spark, index_dir, matched, h.n_docs, h.avgdl, use_bmw,
                    tomb, include_arr, join_urls, segments=h.segments,
                ),
                _results_schema(join_urls),
            )
    return _score_matched(
        spark, index_dir, matched, h.n_docs, h.avgdl, use_bmw, tomb, include_arr,
        doc_shards, join_urls, segments=h.segments,
    )


def _results_schema(join_urls: bool):
    return _URL_RESULTS_SCHEMA if join_urls else RESULTS_SCHEMA


# the applyInPandas parse's output: one row per (qid, parsed term); fuzzy
# rows carry the query term, expanded by the fuzzy_keys join
_PARSED_SCHEMA = (
    "qid string, k int, mode string, neg boolean, boost double, "
    "q_offsets array<int>, term string, n_required long"
)


def _parse_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas body of the large-batch parse: ``_parse_batch`` over
    one group's (qid, text, k, mode) rows. Groups are a hash of qid, so
    every row of a qid is in the same call."""
    rows = [
        (qid, k, mode, neg, boost, offs, t, n_required)
        for qid, k, mode, terms, n_required in _parse_batch(pdf.to_dict("records"))
        for t, (neg, offs, boost) in sorted(terms.items())
    ]
    return pd.DataFrame(
        rows,
        columns=["qid", "k", "mode", "neg", "boost", "q_offsets", "term", "n_required"],
    )


def _analyze_batch_distributed(
    spark: SparkSession, index_dir: str, queries_df: DataFrame
) -> DataFrame:
    """``_MATCHED_SCHEMA`` relation of a batch over the driver's 10,000-
    query bound: ``_parse_batch`` runs in executor Python workers
    (queries are the parallelism axis), and the dictionary and
    ``fuzzy_keys`` lookups stay distributed joins."""
    from find_that_charity_spark.functions.fuzzy import deletion_keys_expr

    dictionary = cached_parquet(spark, f"{index_dir}/dictionary")
    n_groups = max(1, spark.sparkContext.defaultParallelism)
    parsed = (
        queries_df.select("qid", "text", "k", "mode")
        .groupBy(F.pmod(F.hash("qid"), F.lit(n_groups)))
        .applyInPandas(_parse_group, _PARSED_SCHEMA)
    )
    # D2: the query-term set is small next to the dictionary — broadcast it
    matched = dictionary.join(
        F.broadcast(parsed.where(F.col("mode") != "fuzzy")), "term"
    ).select(
        "qid", "k", "mode", "neg", "boost", "q_offsets", "term",
        F.col("df").alias("df_global"), "bucket", "n_required",
    )

    # mode 'fuzzy' (ES fuzziness=1 analog, typo-tolerant reconciliation):
    # expand each query term to every dictionary term within edit
    # distance 1, then score as a plain OR over the expansions, each with
    # its own idf. The expansion is a deletion-neighborhood EQUI-join
    # (functions/fuzzy.py); the exact levenshtein check runs only on the
    # key-matched candidates — never a scan-wide levenshtein over the
    # dictionary.
    try:  # build-time deletion index (df-free: key -> term only)
        cand_terms = cached_parquet(spark, f"{index_dir}/fuzzy_keys").select(
            "key", "term"
        )
    except AnalysisException:  # older index without fuzzy_keys: expand inline
        cand_terms = dictionary.select(
            "term",
            F.explode(deletion_keys_expr("term")).alias("key"),
        )
    fuzzy_keys_df = parsed.where(F.col("mode") == "fuzzy").select(
        "qid", "k", F.col("term").alias("qterm"),
        F.explode(deletion_keys_expr("term")).alias("key"),
    )
    # accepted expansions carry only (qid, k, term); fresh (df, bucket)
    # come from the LIVE dictionary below — fuzzy_keys stores no stats,
    # so streaming refresh can append new-term keys without rewriting
    # the table (stale-df correctness hazard removed by construction)
    fuzzy_hits = (
        cand_terms.join(fuzzy_keys_df, "key")
        .where(
            (F.abs(F.length("term") - F.length("qterm")) <= 1)
            & (F.levenshtein(F.col("term"), F.col("qterm")) <= 1)
        )
        .select("qid", "k", "term")
        .dropDuplicates(["qid", "term"])
    )
    fuzzy_matched = dictionary.join(fuzzy_hits, "term").select(
        "qid",
        "k",
        F.lit("fuzzy").alias("mode"),
        F.lit(False).alias("neg"),
        F.lit(1.0).alias("boost"),
        F.lit(None).cast("array<int>").alias("q_offsets"),
        "term",
        F.col("df").alias("df_global"),
        "bucket",
        F.lit(None).cast("long").alias("n_required"),
    )
    return matched.unionByName(fuzzy_matched)


def _score_matched(
    spark: SparkSession,
    index_dir: str,
    matched: "list[tuple] | DataFrame",
    n_docs: int,
    avgdl: float,
    use_bmw: bool,
    tomb: np.ndarray,
    include: "np.ndarray | None",
    doc_shards: int | None,
    join_urls: bool,
    segments: DataFrame | None = None,
) -> DataFrame:
    """The distributed scoring tail, for batches over the driver budget or
    the driver's query bound. ``matched`` holds ``_MATCHED_SCHEMA`` rows:
    driver-side tuples (a small batch) or a relation (a large one).

    One driver-side query (and no doc shards) takes ``_one_query_plan``.
    Otherwise the pruned segment scan joins the matched terms and
    applyInPandas scores each qid (or each (qid, doc shard)); then the
    optional url join-back. ``segments``: a pinned segments reader, as
    for ``_score_driver``."""
    sharded = bool(doc_shards and doc_shards > 1)
    if segments is None:
        segments = cached_parquet(spark, f"{index_dir}/segments")
    if isinstance(matched, list):
        if not sharded and len({r[0] for r in matched}) == 1:
            return _with_urls(
                spark, index_dir, join_urls,
                _one_query_plan(segments, matched, n_docs, avgdl, use_bmw, tomb, include),
            )
        # row layout follows _MATCHED_SCHEMA: term, df, bucket are 6-8
        by_term = {r[6]: (r[7], r[8]) for r in matched}
        matched = spark.createDataFrame(matched, _MATCHED_SCHEMA)
        matched_side = F.broadcast(matched.drop("bucket"))
    else:
        # a huge query batch (|queries| x |terms| beyond driver comfort)
        # keeps the matched set distributed — scan pruning survives via a
        # distinct-terms collect (bounded by the batch's vocabulary), and
        # the segments join falls back to a shuffle join. localCheckpoint
        # (eager): materializes once (the terms collect below + the
        # scoring join both read it), truncates the parse lineage, and is
        # reclaimed by the ContextCleaner when the returned DataFrame is
        # dropped — unlike persist(), which this long-lived function could
        # never safely unpersist.
        matched = matched.localCheckpoint()
        by_term = {
            r["term"]: (r["df_global"], r["bucket"])
            for r in matched.select("term", "df_global", "bucket").distinct().collect()
        }
        if not by_term:
            return spark.createDataFrame([], _results_schema(join_urls))
        matched_side = matched.drop("bucket")
    rows = pruned_segments(segments, by_term).join(
        matched_side,
        "term",
    ).select(
        "qid", "k", "mode", "neg", "boost", "q_offsets", "n_required", "term",
        F.col("df_global").alias("df"), "min_doc", "max_doc",
        "has_positions", "postings", "blockmax",
    )
    # one broadcast per batch: the (small, vacuum-bounded) tombstone set
    # ships once per executor, not once per scorer task closure
    sc = spark.sparkContext
    scorer = make_query_scorer(
        n_docs, avgdl, use_bmw=use_bmw,
        tombstones=sc.broadcast(tomb) if tomb.size else None,
        include=sc.broadcast(include) if include is not None else None,
    )
    if sharded:
        span = max(1, -(-(n_docs) // doc_shards))  # ceil
        # explode each segment row to the doc-range shards it overlaps;
        # block skip pointers keep per-shard decode proportional to overlap
        sharded_rows = rows.select(
            "*",
            F.explode(
                F.sequence(
                    F.floor(F.col("min_doc") / span).cast("int"),
                    F.floor(F.col("max_doc") / span).cast("int"),
                )
            ).alias("shard"),
        ).withColumns(
            {
                "range_lo": (F.col("shard").cast("long") * span),
                "range_hi": (F.col("shard").cast("long") * span + span),
            }
        )
        partial = sharded_rows.groupBy("qid", "shard").applyInPandas(scorer, RESULTS_SCHEMA)
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
        results = (
            partial.join(
                F.broadcast(matched.select("qid", "k").dropDuplicates(["qid"])), "qid"
            )
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= F.col("k"))
            .select("qid", F.col("rank").cast("int").alias("rank"), "doc_id", "score")
        )
    else:
        results = rows.groupBy("qid").applyInPandas(scorer, RESULTS_SCHEMA)
    return _with_urls(spark, index_dir, join_urls, results)


def _one_query_plan(
    segments: DataFrame,
    rows: list[tuple],
    n_docs: int,
    avgdl: float,
    use_bmw: bool,
    tomb: np.ndarray,
    include: "np.ndarray | None",
) -> DataFrame:
    """ONE query's distributed plan — one Spark job. ``rows``: the query's
    ``_MATCHED_SCHEMA`` tuples. Its per-term constants (df, neg flag,
    boost, phrase offsets) ride as literal map expressions over the
    pruned segment scan instead of a broadcast-joined query relation
    (that join costs a broadcast job), and the single group is a narrow
    coalesce(1) + mapInPandas instead of a groupBy exchange (AQE splits
    that into two more jobs). The one task's closure carries the
    exclusion and filter arrays."""
    qid, k, mode = rows[0][:3]

    def per_term(values: list, lit=F.lit):
        # a literal when every term shares the value, else a term-keyed map
        if all(v == values[0] for v in values):
            return lit(values[0])
        return F.create_map(
            *[x for r, v in zip(rows, values) for x in (F.lit(r[6]), lit(v))]
        )[F.col("term")]

    def int_array(offs):
        if not offs:
            return F.lit(None).cast("array<int>")
        return F.array(*[F.lit(int(o)) for o in offs])

    relation = (
        pruned_segments(segments, {r[6]: (r[7], r[8]) for r in rows})
        .select(
            F.lit(qid).alias("qid"),
            F.lit(int(k)).alias("k"),
            F.lit(mode).alias("mode"),
            per_term([bool(r[3]) for r in rows]).alias("neg"),
            per_term([float(r[4]) for r in rows]).alias("boost"),
            per_term([r[5] for r in rows], int_array).alias("q_offsets"),
            F.lit(rows[0][9]).cast("long").alias("n_required"),
            "term",
            per_term([int(r[7]) for r in rows]).cast("long").alias("df"),
            "min_doc", "max_doc", "has_positions", "postings", "blockmax",
        )
    )
    scorer = make_query_scorer(
        n_docs, avgdl, use_bmw=use_bmw,
        tombstones=tomb if tomb.size else None, include=include,
    )

    def one_group(it):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        batches = [pdf for pdf in it if len(pdf)]
        if batches:
            yield scorer(pd.concat(batches, ignore_index=True))

    return relation.coalesce(1).mapInPandas(one_group, RESULTS_SCHEMA)


def _with_urls(
    spark: SparkSession, index_dir: str, join_urls: bool, results: DataFrame
) -> DataFrame:
    if not join_urls:
        return results
    # D6 join-back: results is qids x k rows against a corpus-sized docs
    # table — broadcast the top-k side EXPLICITLY (VERDICT r03 item 7:
    # AQE usually picks this at runtime, but the guaranteed plan beats the
    # usual one at the 100x setting where a sort-merge fallback would
    # shuffle the whole docs table)
    docs = cached_parquet(spark, f"{index_dir}/docs").select("doc_id", "url")
    return docs.join(F.broadcast(results), "doc_id").select(
        "qid", "rank", "doc_id", "url", "score"
    )
