"""Hypothesis property tests (SURVEY.md §5.3): codec roundtrip, analyzer
invariants and query-parse parity across routes over adversarial
generated inputs."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from find_that_charity_spark.functions.analyzer import analyze, analyze_name, analyze_series
from find_that_charity_spark.functions.codec import (
    decode_postings,
    encode_postings,
    varint_decode,
    varint_encode,
)

# ---------------------------------------------------------------------------
# varint / postings codec
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=600))
def test_varint_roundtrip_any_u64(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**53),   # doc gap
            st.integers(min_value=1, max_value=10_000),  # tf
            st.integers(min_value=1, max_value=100_000), # dl
        ),
        min_size=1,
        max_size=700,
    )
)
def test_postings_roundtrip_any_list(rows):
    gaps = np.array([r[0] for r in rows], dtype=np.int64)
    docs = np.cumsum(gaps + 1)  # strictly increasing
    tfs = np.array([r[1] for r in rows], dtype=np.int64)
    dls = np.array([r[2] for r in rows], dtype=np.int64)
    blob, bm = encode_postings(docs, tfs, dls)
    d, t, dl = decode_postings(blob, bm)
    assert np.array_equal(d, docs)
    assert np.array_equal(t, tfs)
    assert np.array_equal(dl, dls)
    # block invariants
    for i, (last_doc, max_tf, min_dl, _off, n) in enumerate(bm):
        s = i * 128
        assert last_doc == docs[min(s + n, len(docs)) - 1]
        assert max_tf == tfs[s : s + n].max()
        assert min_dl == dls[s : s + n].min()


# ---------------------------------------------------------------------------
# analyzer invariants
# ---------------------------------------------------------------------------

texts = st.text(max_size=300)


@settings(max_examples=300, deadline=None)
@given(texts)
def test_analyze_idempotent_and_normalized(s):
    toks = analyze(s)
    # re-analyzing the joined output is a fixpoint
    assert analyze(" ".join(toks)) == toks
    for t in toks:
        assert t == t.lower()
        assert t  # no empties


@settings(max_examples=300, deadline=None)
@given(texts)
def test_vectorized_equals_pinned(s):
    import pandas as pd

    assert list(analyze_series(pd.Series([s]))[0]) == analyze(s)


@settings(max_examples=200, deadline=None)
@given(texts)
def test_analyze_name_is_ascii_superset_fold(s):
    """ascii-folding never produces MORE distinct non-ascii content and is
    itself idempotent."""
    folded = analyze_name(s)
    assert analyze_name(" ".join(folded)) == folded


# ---------------------------------------------------------------------------
# query parse: every route answers a generated batch alike
# ---------------------------------------------------------------------------


_WORDS = ["w0000", "w0001", "w0003", "w0042", "charitable", "Chàritable", "trust",
          "acme", "charitible", "zzzqqq"]
_MODES = ["freetext", "bool_and", "recon", "phrase", "fuzzy", "min_should:2"]

_word = st.builds(
    lambda neg, w, suffix: ("-" if neg else "") + w + suffix,
    st.booleans(),
    st.sampled_from(_WORDS),
    st.sampled_from(["", "", "^2", "^0.5", "^3.25", "^x", "^", "^-1"]),
)
_text = st.lists(_word, max_size=4).map(" ".join)


@st.composite
def _batches(draw):
    """(qid, text, k, mode) rows: 1-4 qids, each with its own k and mode,
    plus up to two more rows of an existing qid (same k and mode)."""
    specs = [
        (f"q{i}", draw(st.sampled_from([1, 3, 10])), draw(st.sampled_from(_MODES)))
        for i in range(draw(st.integers(1, 4)))
    ]
    rows = [(qid, draw(_text), k, mode) for qid, k, mode in specs]
    for _ in range(draw(st.integers(0, 2))):
        qid, k, mode = draw(st.sampled_from(specs))
        rows.append((qid, draw(_text), k, mode))
    return draw(st.permutations(rows))


@pytest.fixture(scope="module")
def parse_index(spark, tmp_path_factory):
    from find_that_charity_spark.operators.build import BuildConfig, build_index
    from find_that_charity_spark.operators.query import IndexSearcher
    from find_that_charity_spark.sources.synth import write_fixture

    root = tmp_path_factory.mktemp("parse")
    fx, idx = str(root / "fx"), str(root / "idx")
    write_fixture(spark, fx, 200)
    build_index(spark, f"{fx}/web_pages.parquet", idx,
                BuildConfig(num_buckets=4, id_buckets=4, segment_chunks=1, positions=True))
    searcher = IndexSearcher(spark, idx)
    yield idx, searcher
    searcher.close()


@settings(max_examples=8, deadline=None)
@given(batch=_batches())
def test_every_route_parses_a_batch_alike(spark, parse_index, batch):
    """The driver parse, the distributed parse (localize_threshold=0) and
    the warm searcher (for qids with one row) give the same results."""
    from find_that_charity_spark.operators.query import run_queries

    index, searcher = parse_index
    qdf = spark.createDataFrame(batch, "qid string, text string, k int, mode string")

    def results(**kw):
        return sorted(
            (r["qid"], r["rank"], r["doc_id"], r["score"])
            for r in run_queries(spark, index, qdf, **kw).collect()
        )

    driver = results()
    distributed = results(localize_threshold=0)
    assert [r[:3] for r in distributed] == [r[:3] for r in driver], batch
    np.testing.assert_allclose(
        [r[3] for r in distributed], [r[3] for r in driver], rtol=1e-12
    )
    rows_of = Counter(qid for qid, _, _, _ in batch)
    for qid, text, k, mode in batch:
        if rows_of[qid] > 1:
            continue
        want = [(rank, d, sc) for q, rank, d, sc in driver if q == qid]
        got = searcher.search(text, k, mode)
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want], (text, mode)
        np.testing.assert_allclose(
            [sc for _, _, sc in got], [sc for _, _, sc in want], rtol=1e-12
        )
