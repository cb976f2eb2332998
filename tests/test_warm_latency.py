"""Warm single-query path (VERDICT r02 item 7): a preloaded IndexSearcher
answers a warm query in ONE Spark job — per-query constants ride as
literal map expressions (no broadcast-join job) and the single-qid group
is a narrow coalesce(1) + mapInPandas (no groupBy exchange jobs).
Results must stay identical to the batched run_queries path."""

from __future__ import annotations

import numpy as np
import pytest

from find_that_charity_spark.operators.build import BuildConfig, build_index
from find_that_charity_spark.operators.query import IndexSearcher, run_queries
from find_that_charity_spark.sources.synth import write_fixture


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("warm")
    fx, idx = str(root / "fx"), str(root / "idx")
    write_fixture(spark, fx, 400)
    build_index(
        spark, f"{fx}/web_pages.parquet", idx,
        BuildConfig(num_buckets=8, id_buckets=8, segment_chunks=1, positions=True),
    )
    return idx


def test_warm_search_is_one_spark_job(spark, index):
    s = IndexSearcher(spark, index)
    assert s._term_map is not None, "toy dictionary must preload"
    s.search("charitable trust", k=10)  # warm the JVM/codegen paths
    sc = spark.sparkContext
    for i, (q, mode) in enumerate(
        [
            ("charitable trust", "freetext"),
            ("acme w0001", "freetext"),
            ("w0001", "freetext"),
            # VERDICT r03 item 6: warm fuzzy must also be ONE job — the
            # edit-1 expansion probes the pinned term map driver-side
            ("charitible", "fuzzy"),
            ("charitable trust", "phrase"),
            ("charitable trust", "bool_and"),
        ]
    ):
        group = f"warmjob_{i}"
        sc.setJobGroup(group, "warm query job count")
        got = s.search(q, k=10, mode=mode)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert n_jobs == 1, f"{q} ({mode}): {n_jobs} jobs (expected 1 warm)"
        assert got, q
    s.close()


PARITY_CASES = [
    ("charitable trust", "freetext"),
    ("acme w0001", "freetext"),
    ("charitable trust", "phrase"),
    ("charitible", "fuzzy"),
    ("charitable trust", "bool_and"),
]


def test_warm_search_matches_run_queries(spark, index):
    s = IndexSearcher(spark, index)
    cases = PARITY_CASES
    qdf = spark.createDataFrame(
        [(f"q{i}", q, 10, m) for i, (q, m) in enumerate(cases)],
        "qid string, text string, k int, mode string",
    )
    want = run_queries(spark, index, qdf).toPandas()
    for i, (q, m) in enumerate(cases):
        mine = s.search(q, k=10, mode=m)
        w = want[want["qid"] == f"q{i}"].sort_values("rank")
        assert [d for _, d, _ in mine] == w["doc_id"].tolist(), (q, m)
        np.testing.assert_allclose(
            [x for _, _, x in mine], w["score"].to_numpy(), rtol=1e-12
        )
    s.close()


def test_expand_fuzzy_covers_full_word_alphabet(spark, index):
    """ADVICE r04 (medium): the analyzer tokenizes \\w+, so dictionary
    terms can contain '_' and non-ASCII word chars. The warm edit-1
    expansion derives its alphabet FROM the pinned dictionary, so such
    neighbors are found — and the generation path, the deletion-key dual,
    and the brute within_edit1 scan must agree exactly."""
    from find_that_charity_spark.functions.fuzzy import within_edit1

    s = IndexSearcher(spark, index)
    assert s._term_map is not None
    # inject word-char terms the [a-z0-9] alphabet would miss
    for t in ["foo_bar", "cafés", "naïve"]:
        s._term_map[t] = (0, 1)
    s._alphabet = None  # force re-derivation from the patched map
    s._del_index = None

    queries = ["foo_baz", "cafes", "café", "naive", "charitible"]
    brute = {
        q: {u for u in s._term_map if within_edit1(u, q)} for q in queries
    }
    gen = {q: s._expand_fuzzy([q]) for q in queries}
    # underscore/é neighbors must be present (the r04 bug: silently missed)
    assert "foo_bar" in gen["foo_baz"]
    assert "cafés" in gen["cafes"]
    assert gen == brute

    # the deletion-key dual (large-batch / large-alphabet route): same set
    s._del_index = None
    big_batch = queries * 7  # >= _FUZZY_DUAL_MIN_TERMS terms
    assert len(big_batch) >= s._FUZZY_DUAL_MIN_TERMS
    dual_all = s._expand_fuzzy(big_batch)
    assert dual_all == set().union(*brute.values())
    assert s._del_index is not None, "dual index must have been built"
    s.close()


def test_over_budget_search_is_one_job_and_same_answer(spark, index, monkeypatch):
    """Over the driver postings budget the searcher scores through the
    one-query distributed plan: the same answers as within the budget, in
    one Spark job warm. A one-query run_queries batch over the budget
    takes the same plan: 2 jobs (the batch-size take and the plan), one
    fewer than the broadcast-join plan it replaced."""
    from find_that_charity_spark.operators import query

    s = IndexSearcher(spark, index)
    want = {c: s.search(c[0], k=10, mode=c[1]) for c in PARITY_CASES}

    def refuse(*a, **k):
        raise AssertionError("driver route taken over budget")

    monkeypatch.setattr(query, "_score_driver", refuse)
    monkeypatch.setenv("FTC_DRIVER_SCORE_MAX_POSTINGS", "1")
    sc = spark.sparkContext
    for i, (q, mode) in enumerate(PARITY_CASES):
        s.search(q, k=10, mode=mode)  # warm the plan shape
        group = f"overbudget_{i}"
        sc.setJobGroup(group, "over-budget warm query job count")
        got = s.search(q, k=10, mode=mode)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert n_jobs == 1, f"{q} ({mode}): {n_jobs} jobs (expected 1 warm)"
        assert got, (q, mode)
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in want[(q, mode)]]
        np.testing.assert_allclose(
            [x for _, _, x in got], [x for _, _, x in want[(q, mode)]], rtol=1e-12
        )
    s.close()

    qdf = spark.createDataFrame(
        [("q0", "charitable trust", 10, "freetext")],
        "qid string, text string, k int, mode string",
    )
    run_queries(spark, index, qdf).collect()  # warm
    sc.setJobGroup("overbudget_batch", "over-budget one-query batch job count")
    rows = run_queries(spark, index, qdf).collect()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("overbudget_batch"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_jobs == 2, n_jobs
    assert [(r["rank"], r["doc_id"]) for r in sorted(rows, key=lambda r: r["rank"])] == [
        (r, d) for r, d, _ in want[("charitable trust", "freetext")]
    ]
