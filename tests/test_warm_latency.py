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
    assert s._dict.complete, "toy dictionary must preload"
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


def test_fuzzy_candidates_cover_full_word_alphabet(spark, index):
    """ADVICE r04 (medium): the analyzer tokenizes \\w+, so dictionary
    terms can contain '_' and non-ASCII word chars. The in-memory edit-1
    expansion of a complete dictionary record derives its alphabet FROM
    the record, so such neighbors are found — and the generation path,
    the deletion-key dual, and the brute within_edit1 scan must agree
    exactly."""
    from find_that_charity_spark.functions.fuzzy import within_edit1
    from find_that_charity_spark.operators import query

    s = IndexSearcher(spark, index)
    assert s._dict.complete
    # a copy with word-char terms the [a-z0-9] alphabet would miss
    rec = query._DictRecord(None, dict(s._dict.terms), complete=True)
    s.close()
    for t in ["foo_bar", "cafés", "naïve"]:
        rec.terms[t] = (0, 1)

    queries = ["foo_baz", "cafes", "café", "naive", "charitible"]
    brute = {
        q: {u for u in rec.terms if within_edit1(u, q)} for q in queries
    }
    gen = {q: set(query._fuzzy_candidates(spark, index, [q], rec)) for q in queries}
    # underscore/é neighbors must be present (the r04 bug: silently missed)
    assert "foo_bar" in gen["foo_baz"]
    assert "cafés" in gen["cafes"]
    assert gen == brute
    assert rec.del_index is None, "one-term calls generate over the alphabet"

    # the deletion-key dual (large-batch / large-alphabet route): same set
    big_batch = queries * 7  # >= _FUZZY_DUAL_MIN_TERMS terms
    assert len(big_batch) >= query._FUZZY_DUAL_MIN_TERMS
    dual_all = set(query._fuzzy_candidates(spark, index, big_batch, rec))
    assert dual_all == set().union(*brute.values())
    assert rec.del_index is not None, "dual index must have been built"


def test_preloaded_record_expands_fuzzy_without_fuzzy_keys(spark, index, monkeypatch):
    """While a preloading IndexSearcher is open, the index's dictionary
    record is complete for every route: a fuzzy run_queries batch and a
    spelling suggestion expand in memory, with no read of the fuzzy_keys
    table, and answer exactly as the fuzzy_keys probe does."""
    from find_that_charity_spark.operators import query, recon

    reads = []
    orig = query.cached_parquet

    def counted(spark, path):
        if path.endswith("fuzzy_keys"):
            reads.append(path)
        return orig(spark, path)

    monkeypatch.setattr(query, "cached_parquet", counted)
    qdf = spark.createDataFrame(
        [("f0", "charitible", 10, "fuzzy"), ("f1", "trust w0001", 10, "fuzzy"),
         ("f2", "acme fnd", 10, "fuzzy")],
        "qid string, text string, k int, mode string",
    )

    def answers():
        rows = sorted(tuple(r) for r in run_queries(spark, index, qdf).collect())
        spell = [tuple(r) for r in recon.suggest_spelling(spark, index, "charitible").collect()]
        return rows, spell

    want = answers()  # no handle open: both calls probe fuzzy_keys
    assert len(reads) == 2 and want[0] and want[1]
    reads.clear()
    s = IndexSearcher(spark, index)
    try:
        got = answers()
    finally:
        s.close()
    assert reads == []
    assert got == want


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


class _RoundTrips:
    """Counts the py4j commands the driver sends to the JVM: each call of
    ``ClientServerConnection.send_command`` is one Python/JVM round trip.
    Memory-release commands are not counted: py4j sends one when Python
    frees a JVM object handle, so how many fall inside a call depends on
    when the garbage collector ran, not on the call."""

    def __init__(self, monkeypatch):
        from py4j.clientserver import ClientServerConnection

        self.n = 0
        orig = ClientServerConnection.send_command

        def send_command(conn, command, *a, **k):
            if not command.startswith("m\n"):
                self.n += 1
            return orig(conn, command, *a, **k)

        monkeypatch.setattr(ClientServerConnection, "send_command", send_command)


def _recon_batch():
    from find_that_charity_spark.sources.synth import ENTITY_NAMES

    batch = {}
    for i in range(10):
        q = {"query": ENTITY_NAMES[i % len(ENTITY_NAMES)], "limit": 10, "type": "web_page"}
        if i % 2:
            q["properties"] = [{"pid": "lang", "v": "en"}]
        batch[f"q{i}"] = q
    return batch


def test_warm_calls_make_few_jvm_round_trips(spark, index, monkeypatch):
    """A warm driver-route search and a warm 10-query reconcile cross the
    Python/JVM boundary a handful of times per Spark probe, not once per
    IN-list value or chained transformation: each probe is one
    ``where(<SQL predicate>)`` on a cached reader and then its action.
    When probes were built from ``Column`` expressions the same two calls
    made 110 (search) and 270 (reconcile) round trips on this index; each
    bound is a fifth of that. The counts depend on the installed pyspark
    (4.1.2): another version may send more or fewer commands per action."""
    from find_that_charity_spark.operators.recon import reconcile

    s = IndexSearcher(spark, index)
    batch = _recon_batch()
    want_search = s.search("charitable trust", k=10)  # warm
    want_recon = reconcile(spark, index, batch)
    trips = _RoundTrips(monkeypatch)
    got = s.search("charitable trust", k=10)
    n_search, trips.n = trips.n, 0
    got_recon = reconcile(spark, index, batch)
    n_recon = trips.n
    monkeypatch.undo()
    s.close()
    assert got == want_search and got_recon == want_recon
    assert n_search <= 110 // 5, n_search
    assert n_recon <= 270 // 5, n_recon
