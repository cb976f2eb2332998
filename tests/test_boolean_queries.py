"""D7 boolean semantics: conjunctive (AND) and exclusion (NOT) queries —
segment engine vs the extended brute-force oracle."""

from __future__ import annotations

import pytest

from find_that_charity_spark.operators.build import BuildConfig, build_index
from find_that_charity_spark.operators.oracle import brute_force_topk
from find_that_charity_spark.operators.query import run_queries
from find_that_charity_spark.sources.synth import write_fixture

AND_QUERIES = ["w0000 w0001", "w0001 w0002 w0005", "w0042 w0777", "w0000 nosuchterm"]
NOT_QUERIES = ["w0003 -w0000", "w0042 -w0001 -w0002", "w0001 -nosuchterm"]


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("boolq")
    fx, idx = str(root / "fx"), str(root / "idx")
    write_fixture(spark, fx, 400)
    build_index(spark, f"{fx}/web_pages.parquet", idx,
                BuildConfig(num_buckets=8, id_buckets=8, max_postings_per_segment=200,
                            segment_chunks=1))
    return {"fx": fx, "idx": idx}


@pytest.fixture(scope="module")
def corpus(spark, index):
    docs = spark.read.parquet(f"{index['idx']}/docs").select("doc_id", "url").toPandas()
    pages = spark.read.parquet(f"{index['fx']}/web_pages.parquet").toPandas()
    latest = pages.sort_values("warc_ts").groupby("url").tail(1)
    return docs.merge(latest[["url", "text"]], on="url").sort_values("doc_id")


def _run(spark, index, queries, mode, **kw):
    qdf = spark.createDataFrame(
        [(f"q{i}", q, 10, mode) for i, q in enumerate(queries)],
        "qid string, text string, k int, mode string",
    )
    return run_queries(spark, index["idx"], qdf, **kw).toPandas()


def test_conjunctive_matches_oracle(spark, index, corpus):
    got = _run(spark, index, AND_QUERIES, "bool_and")
    for i, q in enumerate(AND_QUERIES):
        want = brute_force_topk(
            corpus["doc_id"].tolist(), corpus["text"].tolist(), q, k=10, conjunctive=True
        )
        mine = got[got["qid"] == f"q{i}"].sort_values("rank")
        assert mine["doc_id"].tolist() == [d for d, _ in want], q
        for s_got, (_, s_want) in zip(mine["score"], want):
            assert s_got == pytest.approx(s_want, rel=1e-6), q


def test_conjunctive_missing_term_returns_nothing(spark, index, corpus):
    got = _run(spark, index, ["w0000 nosuchterm"], "bool_and")
    assert got.empty


def test_exclusions_match_oracle(spark, index, corpus):
    got = _run(spark, index, NOT_QUERIES, "freetext")
    for i, q in enumerate(NOT_QUERIES):
        want = brute_force_topk(
            corpus["doc_id"].tolist(), corpus["text"].tolist(), q, k=10
        )
        mine = got[got["qid"] == f"q{i}"].sort_values("rank")
        assert mine["doc_id"].tolist() == [d for d, _ in want], q
        for s_got, (_, s_want) in zip(mine["score"], want):
            assert s_got == pytest.approx(s_want, rel=1e-6), q


def test_excluded_docs_absent(spark, index, corpus):
    """Every returned doc for 'w0003 -w0000' really lacks w0000."""
    got = _run(spark, index, ["w0003 -w0000"], "freetext")
    by_id = corpus.set_index("doc_id")["text"]
    from find_that_charity_spark.functions.analyzer import analyze

    for d in got["doc_id"]:
        toks = set(analyze(by_id.loc[d]))
        assert "w0003" in toks and "w0000" not in toks


SELF_NEGATED = ["w0000 w0001 -w0000", "charitable trust -charitable"]


def test_self_negated_term_matches_oracle(spark, index, corpus):
    """A term that is both required and negated: the oracle requires every
    term of a non-negated word, then drops the docs holding a negated
    term, so 'a b -a' under bool_and has no hits. Every route — the driver
    parse, the distributed parse, the warm searcher and a reconcile batch
    (mode recon, an OR query) — answers as the oracle does."""
    from find_that_charity_spark.functions.analyzer import analyze_name
    from find_that_charity_spark.operators.query import IndexSearcher
    from find_that_charity_spark.operators.recon import reconcile

    ids, texts = corpus["doc_id"].tolist(), corpus["text"].tolist()
    url_of = dict(zip(corpus["doc_id"], corpus["url"]))
    searcher = IndexSearcher(spark, index["idx"])
    try:
        for mode in ("bool_and", "recon"):
            routes = {
                "driver": _run(spark, index, SELF_NEGATED, mode),
                "distributed": _run(spark, index, SELF_NEGATED, mode, localize_threshold=0),
            }
            for i, q in enumerate(SELF_NEGATED):
                want = brute_force_topk(
                    ids, texts, q, k=10, conjunctive=mode == "bool_and",
                    query_analyzer=analyze_name if mode == "recon" else None,
                )
                if mode == "bool_and":
                    assert want == [], q
                for name, got in routes.items():
                    mine = got[got["qid"] == f"q{i}"].sort_values("rank")
                    assert mine["doc_id"].tolist() == [d for d, _ in want], (q, mode, name)
                    assert mine["score"].tolist() == pytest.approx(
                        [s for _, s in want], rel=1e-9
                    ), (q, mode, name)
                hits = searcher.search(q, 10, mode)
                assert [d for _, d, _ in hits] == [d for d, _ in want], (q, mode)
                if mode == "recon":
                    res = reconcile(spark, index["idx"], {"r": {"query": q, "limit": 10}})
                    assert [h["id"] for h in res["r"]["result"]] == [
                        url_of[d] for d, _ in want
                    ], q
    finally:
        searcher.close()
