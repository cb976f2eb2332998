"""Input guards of the query layer: ``in_list`` value types and quoting,
and the pre-fuzzy_keys fallbacks, which must catch only a missing table
and let any other read error through."""

from __future__ import annotations

import numpy as np
import pytest

from find_that_charity_spark.operators.build import BuildConfig, build_index
from find_that_charity_spark.operators.query import in_list
from find_that_charity_spark.sources.synth import write_fixture


def test_in_list_rejects_non_integer_numbers():
    with pytest.raises(TypeError):
        in_list("doc_id", [1, 3.7])  # would have been truncated to 3
    with pytest.raises(TypeError):
        in_list("doc_id", [True])
    with pytest.raises(TypeError):
        in_list("doc_id", list(range(40)) + [2.0])  # SQL-string branch too


def test_in_list_branches_agree(spark):
    col = "we`ird"  # a backtick in the column name must be quoted
    rows = [(i, f"t'{i}\\x") for i in range(60)]
    df = spark.createDataFrame(rows, [col, "s"])
    want = [3, 5, 7]
    small = [np.int64(3), 5, np.int32(7)]   # isin branch (<= 32 values)
    large = small + list(range(1000, 1040))  # SQL-string branch
    for vals in (small, large):
        got = sorted(r[0] for r in df.where(in_list(col, vals)).collect())
        assert got == want
    strs = [f"t'{i}\\x" for i in want]
    for vals in (strs, strs + [f"absent'{i}" for i in range(40)]):
        got = sorted(r[0] for r in df.where(in_list("s", vals)).collect())
        assert got == want


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("guards")
    fx, idx = str(root / "fx"), str(root / "idx")
    write_fixture(spark, fx, 200)
    build_index(spark, f"{fx}/web_pages.parquet", idx,
                BuildConfig(num_buckets=4, id_buckets=4, segment_chunks=1))
    return idx


def _fuzzy_batch(spark):
    return spark.createDataFrame(
        [("q0", "charitible trust", 5, "fuzzy")],
        "qid string, text string, k int, mode string",
    )


def _fuzzy_keys_raise(monkeypatch, module):
    orig = module.cached_parquet

    def reader(spark, path):
        if path.endswith("fuzzy_keys"):
            raise OSError("disk read failed")
        return orig(spark, path)

    monkeypatch.setattr(module, "cached_parquet", reader)


def test_fuzzy_keys_read_error_propagates(spark, index, monkeypatch):
    """Only a missing fuzzy_keys table switches plans; an I/O error on
    it surfaces instead of silently taking the levenshtein scan."""
    from find_that_charity_spark.operators import query, recon

    _fuzzy_keys_raise(monkeypatch, query)
    _fuzzy_keys_raise(monkeypatch, recon)
    with pytest.raises(OSError):
        query.run_queries(spark, index, _fuzzy_batch(spark)).collect()  # driver parse
    with pytest.raises(OSError):  # distributed parse
        query.run_queries(spark, index, _fuzzy_batch(spark), localize_threshold=0).collect()
    with pytest.raises(OSError):
        recon.suggest_spelling(spark, index, "charitible")
    s = query.IndexSearcher(spark, index)
    s._term_map = None  # an over-pin dictionary: expansion probes fuzzy_keys
    try:
        with pytest.raises(OSError):
            s.search("charitible", k=5, mode="fuzzy")
    finally:
        s.close()


def test_missing_fuzzy_keys_falls_back(spark, index):
    """A pre-fuzzy_keys index answers fuzzy queries through the
    levenshtein scan on both parse routes, identically."""
    import shutil

    from find_that_charity_spark.operators.query import run_queries

    def run(**kw):
        return sorted(
            (r["rank"], r["doc_id"], r["score"])
            for r in run_queries(spark, index, _fuzzy_batch(spark), **kw).collect()
        )

    want = run()
    assert want
    fk = f"{index}/fuzzy_keys"
    shutil.move(fk, fk + "_aside")
    try:
        assert run() == want
        assert run(localize_threshold=0) == want
    finally:
        shutil.move(fk + "_aside", fk)


def test_unknown_terms_keep_url_column(spark, index):
    """A batch whose terms are all missing from the dictionary still
    returns the url-bearing schema when ``join_urls=True``, on both parse
    routes."""
    from find_that_charity_spark.operators.query import run_queries

    qdf = spark.createDataFrame(
        [("q0", "zzzqqq", 5, "freetext")], "qid string, text string, k int, mode string"
    )
    for kw in ({}, {"localize_threshold": 0}):
        out = run_queries(spark, index, qdf, join_urls=True, **kw)
        assert out.columns == ["qid", "rank", "doc_id", "url", "score"], kw
        assert out.collect() == [], kw
        assert run_queries(spark, index, qdf, **kw).columns == [
            "qid", "rank", "doc_id", "score"
        ], kw
