"""Block-Max WAND pruning effectiveness + exactness at the numpy level
(no Spark): on a skewed corpus, BMW must skip real work AND return
exactly the exhaustive answer."""

from __future__ import annotations

import numpy as np
import pytest

from find_that_charity_spark.functions.bm25 import idf_np
from find_that_charity_spark.functions.codec import encode_postings
from find_that_charity_spark.operators.query import (
    _make_cursor,
    score_boolean,
    score_query_bmw,
)


def _cursor_from(docs, tfs, dls, n_docs, df, avgdl):
    blob, bm = encode_postings(
        np.asarray(docs, np.int64), np.asarray(tfs, np.int64), np.asarray(dls, np.int64)
    )
    bm_dicts = [
        {"last_doc": ld, "max_tf": mt, "min_dl": md, "offset": off, "n": n}
        for ld, mt, md, off, n in bm
    ]
    idf = float(idf_np(float(n_docs), float(df)))
    return _make_cursor(idf, blob, bm_dicts, avgdl), idf


@pytest.fixture(scope="module")
def skewed():
    """One huge low-idf list (head term) + one rare high-idf list whose
    hits score far above the head's ceiling — the classic WAND win."""
    rng = np.random.default_rng(11)
    n_docs = 200_000
    avgdl = 60.0
    head_docs = np.arange(0, n_docs, 2, dtype=np.int64)  # df = 100k
    head_tfs = np.ones(head_docs.size, dtype=np.int64)
    head_dls = np.full(head_docs.size, 120, dtype=np.int64)  # long docs -> low scores
    # rare term clustered in a narrow doc range: its blocks then cover only
    # that region, so windows elsewhere are head-only and skippable once
    # θ locks in — the classic BMW win (a uniformly sprayed sparse term
    # has blocks spanning the whole doc space, which bounds skipping)
    rare_docs = np.sort(rng.choice(3000, size=300, replace=False)).astype(np.int64)
    rare_tfs = rng.integers(3, 8, size=rare_docs.size).astype(np.int64)
    rare_dls = np.full(rare_docs.size, 20, dtype=np.int64)  # short docs -> high scores
    c_head, _ = _cursor_from(head_docs, head_tfs, head_dls, n_docs, head_docs.size, avgdl)
    c_rare, _ = _cursor_from(rare_docs, rare_tfs, rare_dls, n_docs, rare_docs.size, avgdl)
    return {
        "cursors": [c_head, c_rare],
        "avgdl": avgdl,
        "fresh": lambda: [
            _cursor_from(head_docs, head_tfs, head_dls, n_docs, head_docs.size, avgdl)[0],
            _cursor_from(rare_docs, rare_tfs, rare_dls, n_docs, rare_docs.size, avgdl)[0],
        ],
        "term_lists": lambda: {
            "head": _decode_all(c_head := _cursor_from(head_docs, head_tfs, head_dls, n_docs, head_docs.size, avgdl)[0], avgdl),
            "rare": _decode_all(_cursor_from(rare_docs, rare_tfs, rare_dls, n_docs, rare_docs.size, avgdl)[0], avgdl),
        },
    }


def _decode_all(cursor, avgdl):
    from find_that_charity_spark.operators.query import _decode_cursor_range

    return _decode_cursor_range(cursor, avgdl)


def test_bmw_skips_blocks_and_stays_exact(skewed):
    stats: dict = {}
    got = score_query_bmw(skewed["fresh"](), k=10, avgdl=skewed["avgdl"], stats=stats)
    want = score_boolean(
        skewed["term_lists"](), conjunctive=False, neg_docs=np.empty(0, np.int64), k=10
    )
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, rel=1e-9)
    # the point of BMW: most windows skipped, most blocks never decoded
    assert stats["windows_skipped"] > 0.9 * stats["windows_total"], stats
    assert stats["blocks_decoded"] < 0.1 * stats["blocks_total"], stats


def test_bmw_no_pruning_when_k_large(skewed):
    """k larger than the candidate set -> nothing can be skipped, still exact."""
    stats: dict = {}
    got = score_query_bmw(
        skewed["fresh"](), k=10**9, avgdl=skewed["avgdl"], stats=stats
    )
    want = score_boolean(
        skewed["term_lists"](), conjunctive=False, neg_docs=np.empty(0, np.int64),
        k=10**9,
    )
    assert got == want
    assert stats["windows_skipped"] == 0
