"""Reference app surface (A3/A5/A6): recon endpoint shape, suggest,
add-to-csv — over a small built index."""

from __future__ import annotations

import pytest

from find_that_charity_spark.operators.build import BuildConfig, build_index
from find_that_charity_spark.operators.recon import add_to_csv, reconcile, suggest
from find_that_charity_spark.sources.synth import ENTITY_NAMES, write_fixture


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("recon")
    fx, idx = str(root / "fx"), str(root / "idx")
    write_fixture(spark, fx, 300)
    build_index(spark, f"{fx}/web_pages.parquet", idx,
                BuildConfig(num_buckets=8, id_buckets=8, segment_chunks=1))
    return idx


def test_reconcile_shape_and_hits(spark, index):
    batch = {
        "q0": {"query": ENTITY_NAMES[0], "limit": 5},
        "q1": {"query": "Bromley RELIEF Fund", "limit": 3},
        "q2": {"query": "zzz-no-such-entity", "limit": 5},
    }
    out = reconcile(spark, index, batch)
    assert set(out) == {"q0", "q1", "q2"}
    for qid in out:
        assert "result" in out[qid]
        for hit in out[qid]["result"]:
            assert set(hit) == {"id", "name", "score", "match"}
            assert hit["id"].startswith("https://")
    assert len(out["q0"]["result"]) == 5
    assert len(out["q1"]["result"]) == 3
    assert out["q2"]["result"] == []
    # scores descend; at most one match=True, and only at rank 1
    for qid in ("q0", "q1"):
        scores = [h["score"] for h in out[qid]["result"]]
        assert scores == sorted(scores, reverse=True)
        matches = [h["match"] for h in out[qid]["result"]]
        assert sum(matches) <= 1
        if any(matches):
            assert matches[0]


def test_suggest(spark, index):
    out = suggest(spark, index, "w00", k=5)
    assert len(out) == 5
    assert all(s["text"].startswith("w00") for s in out)
    dfs = [s["df"] for s in out]
    assert dfs == sorted(dfs, reverse=True)
    assert suggest(spark, index, "zzzz") == []


def test_add_to_csv_from_real_csv_file(spark, index, tmp_path):
    """E1 CSV source + A6 end-to-end: user uploads a CSV, gets it back
    enriched with reconciliation matches."""
    csv_path = tmp_path / "orgs.csv"
    csv_path.write_text(
        "row_id,org_name\n"
        f"r1,{ENTITY_NAMES[1]}\n"
        "r2,Nonexistent Charity 999\n"
    )
    user = spark.read.option("header", True).csv(str(csv_path))
    assert user.columns == ["row_id", "org_name"]
    out = {r["row_id"]: r for r in add_to_csv(spark, index, user, "org_name").collect()}
    assert out["r1"]["match_url"] is not None
    assert out["r2"]["match_url"] is None


def test_json_query_source(spark, index, tmp_path):
    """E1 JSON source: a recon batch arrives as JSON lines."""
    import json as _json

    jpath = tmp_path / "queries.json"
    jpath.write_text(
        "\n".join(
            _json.dumps({"qid": f"j{i}", "text": t, "k": 5, "mode": "recon"})
            for i, t in enumerate(ENTITY_NAMES[:2])
        )
    )
    from find_that_charity_spark.operators.query import run_queries

    qdf = spark.read.json(str(jpath))
    res = run_queries(spark, index, qdf).collect()
    assert {r["qid"] for r in res} == {"j0", "j1"}


def test_add_to_csv(spark, index):
    user = spark.createDataFrame(
        [("r1", ENTITY_NAMES[0]), ("r2", "acme charitable trust"), ("r3", "qqqq zzzz")],
        "row_id string, org_name string",
    )
    out = add_to_csv(spark, index, user, "org_name").collect()
    by_id = {r["row_id"]: r for r in out}
    assert len(out) == 3
    assert by_id["r1"]["match_url"] is not None
    assert by_id["r1"]["match_url"] == by_id["r2"]["match_url"]  # same entity
    assert by_id["r3"]["match_url"] is None
    assert by_id["r1"]["match_score"] > 0


def test_reconcile_type_and_properties(spark, index):
    """Recon API v0.2 constraint fields (VERDICT r03 item 9): a foreign
    type matches nothing; a lang property restricts candidates WITHOUT
    changing their scores (ES filter-context semantics)."""
    from find_that_charity_spark.operators.recon import RECON_TYPE

    base = {"q0": {"query": ENTITY_NAMES[0], "limit": 10}}
    plain = reconcile(spark, index, base)
    assert plain["q0"]["result"]

    # wrong type: empty result, right type: unchanged
    wrong = reconcile(
        spark, index, {"q0": {**base["q0"], "type": "organisation"}}
    )
    assert wrong["q0"]["result"] == []
    same = reconcile(spark, index, {"q0": {**base["q0"], "type": RECON_TYPE}})
    assert same == plain

    # lang filter: only lang-matching docs remain, scores preserved
    docs = spark.read.parquet(f"{index}/docs").select("url", "lang").collect()
    lang_of = {r["url"]: r["lang"] for r in docs}
    filtered = reconcile(
        spark, index,
        {"q0": {**base["q0"], "properties": [{"pid": "lang", "v": "en"}]}},
    )
    hits = filtered["q0"]["result"]
    assert hits, "some en hits expected"
    assert all(lang_of[h["id"]] == "en" for h in hits)
    plain_scores = {h["id"]: h["score"] for h in plain["q0"]["result"]}
    for h in hits:
        if h["id"] in plain_scores:  # filter context: score unchanged
            assert h["score"] == pytest.approx(plain_scores[h["id"]], rel=1e-12)
    # the filtered set is exactly the plain set minus non-en docs, topped up
    non_en_plain = [h for h in plain["q0"]["result"] if lang_of[h["id"]] != "en"]
    assert non_en_plain, "fixture should have non-en hits for this query"
    assert not {h["id"] for h in hits} & {h["id"] for h in non_en_plain}

    # unknown property pids are ignored (OpenRefine convention)
    loose = reconcile(
        spark, index,
        {"q0": {**base["q0"], "properties": [{"pid": "nope", "v": "x"}]}},
    )
    assert loose == plain

    # mixed batch: per-signature grouping keeps qids independent
    mixed = reconcile(
        spark, index,
        {
            "a": base["q0"],
            "b": {**base["q0"], "properties": [{"pid": "lang", "v": "en"}]},
            "c": {**base["q0"], "type": "organisation"},
        },
    )
    assert mixed["a"] == plain["q0"]
    assert mixed["b"] == filtered["q0"]
    assert mixed["c"]["result"] == []


@pytest.fixture(scope="module")
def corpus(spark, index):
    """(doc_ids, texts, lang_of) of the live corpus, doc_id order."""
    import os

    docs = spark.read.parquet(f"{index}/docs").select("doc_id", "url", "lang").toPandas()
    fx = os.path.join(os.path.dirname(index), "fx")
    pages = spark.read.parquet(f"{fx}/web_pages.parquet").toPandas()
    latest = pages.sort_values("warc_ts").groupby("url").tail(1)
    live = docs.merge(latest[["url", "text"]], on="url").sort_values("doc_id")
    return (
        live["doc_id"].tolist(),
        live["text"].tolist(),
        dict(zip(live["doc_id"].tolist(), live["lang"].tolist())),
        dict(zip(live["doc_id"].tolist(), live["url"].tolist())),
    )


def _mixed_batch():
    lang = lambda v: [{"pid": "lang", "v": v}]  # noqa: E731
    return {
        "u": {"query": ENTITY_NAMES[0], "limit": 10},
        "e": {"query": ENTITY_NAMES[0], "limit": 10, "properties": lang("en")},
        "s": {"query": ENTITY_NAMES[4], "limit": 3, "properties": lang("es")},
        "s2": {"query": "north star educaton society", "limit": 10, "properties": lang("es")},
        "w": {"query": ENTITY_NAMES[2], "limit": 10, "type": "organisation"},
    }


def test_reconcile_warm_mixed_batch_is_three_jobs(spark, index):
    """On the driver route a warm batch with an unfiltered, a lang-filtered
    and a wrong-type qid costs three Spark jobs: the filter's docs scan,
    one postings fetch and one url probe for the whole batch."""
    batch = {
        "a": {"query": ENTITY_NAMES[0], "limit": 10},
        "b": {"query": ENTITY_NAMES[1], "limit": 10,
              "properties": [{"pid": "lang", "v": "en"}]},
        "c": {"query": ENTITY_NAMES[2], "limit": 10, "type": "organisation"},
    }
    want = reconcile(spark, index, batch)  # warm readers, stats, dictionary probe
    assert want["a"]["result"] and want["b"]["result"]
    assert want["c"]["result"] == []
    sc = spark.sparkContext
    sc.setJobGroup("recon_warm_jobs", "warm reconcile job count")
    try:
        got = reconcile(spark, index, batch)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("recon_warm_jobs"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == want
    assert n_jobs == 3, f"{n_jobs} jobs (expected 3: filter, fetch, url probe)"


def test_reconcile_signatures_share_one_pass(spark, index, corpus):
    """Two lang signatures and an unfiltered query in one batch answer
    exactly as one-signature calls do, and as the brute-force oracle
    restricted to each query's allowed set."""
    from find_that_charity_spark.functions.analyzer import analyze, analyze_name
    from find_that_charity_spark.operators.oracle import brute_force_topk

    ids, texts, lang_of, url_of = corpus
    batch = _mixed_batch()
    got = reconcile(spark, index, batch)
    assert set(got) == set(batch)
    assert got["w"]["result"] == []
    for qid, q in batch.items():
        assert got[qid] == reconcile(spark, index, {qid: q})[qid], qid
        if qid == "w":
            continue
        lang = (q.get("properties") or [{}])[0].get("v")
        include = None if lang is None else [d for d in ids if lang_of[d] == lang]
        want = brute_force_topk(
            ids, texts, q["query"], q["limit"], analyzer=analyze,
            query_analyzer=analyze_name, include=include,
        )
        hits = got[qid]["result"]
        assert hits, qid
        assert [h["id"] for h in hits] == [url_of[d] for d, _ in want], qid
        assert [h["score"] for h in hits] == pytest.approx([s for _, s in want], rel=1e-9)


def test_reconcile_over_budget_takes_distributed_route(spark, index, monkeypatch):
    """A batch over the driver postings budget runs run_queries per
    signature on the distributed route, with the same response."""
    from find_that_charity_spark.operators import query

    batch = _mixed_batch()
    want = reconcile(spark, index, batch)
    routes = []
    orig = query._score_matched

    def counted(*a, **k):
        routes.append("distributed")
        return orig(*a, **k)

    def refuse(*a, **k):
        raise AssertionError("driver route taken over budget")

    monkeypatch.setattr(query, "_score_matched", counted)
    monkeypatch.setattr(query, "_score_driver", refuse)
    monkeypatch.setenv("FTC_DRIVER_SCORE_MAX_POSTINGS", "1")
    got = reconcile(spark, index, batch)
    assert routes == ["distributed"] * 3  # one per kept signature
    assert got == want


def test_add_to_csv_repeat_and_over_budget(spark, index, monkeypatch):
    """A second call on the same table answers the same (the output schema
    must not grow the caller's cached schema); over the driver budget a
    small table takes the distributed plan, with the same enriched rows
    (NULLs included)."""
    user = spark.createDataFrame(
        [("r1", ENTITY_NAMES[0]), ("r2", "acme charitable trust"),
         ("r3", "qqqq zzzz"), ("r4", None)],
        "row_id string, org_name string",
    )

    def rows():
        return sorted(tuple(r) for r in add_to_csv(spark, index, user, "org_name").collect())

    want = rows()
    assert [r[2] is None for r in want] == [False, False, True, True]
    assert rows() == want
    assert len(user.schema.fields) == 2
    monkeypatch.setenv("FTC_DRIVER_SCORE_MAX_POSTINGS", "1")
    assert rows() == want
