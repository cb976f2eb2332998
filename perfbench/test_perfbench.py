"""Self-tests of the benchmark: its output check, its generator and its
metric names. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pandas as pd
import pytest

from perfbench import check, gen, metrics, workloads
from perfbench.trace import Tracer
from perfbench.workloads import verify_exact

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def oracle():
    live = gen.live_view(gen.make_corpus(300, seed=5))
    docs = pd.DataFrame({"doc_id": range(len(live)), "url": live["url"][::-1].tolist()})
    return check.Oracle(live, docs)


# -- the output check -------------------------------------------------------


def test_compare_accepts_identical_results():
    want = [(3, 2.5), (1, 2.0), (7, 1.25)]
    assert check.compare(list(want), want) is None


def test_compare_rejects_two_swapped_ranks():
    want = [(3, 2.5), (1, 2.0), (7, 1.25)]
    got = [want[1], want[0], want[2]]
    assert "order differs at rank 1" in check.compare(got, want)


def test_compare_rejects_a_score_off_by_1e5_relative():
    want = [(3, 2.5), (1, 2.0), (7, 1.25)]
    got = [(3, 2.5), (1, 2.0 * (1 + 1e-5)), (7, 1.25)]
    assert "score differs at rank 2" in check.compare(got, want)


def test_compare_rejects_a_missing_hit():
    want = [(3, 2.5), (1, 2.0)]
    assert check.compare(want[:1], want) is not None


def _log_from_oracle(oracle):
    log = []
    for text, k, mode in [
        ("w0001 w0020", 10, "freetext"), ("ACME CHARITABLE TRUST", 10, "recon"),
        ("w0011 w0012", 10, "bool_and"), ("w0002 w0030^2 -w0003", 10, "freetext"),
        ("relief fund", 10, "phrase"), ("charitible", 10, "fuzzy"),
    ]:
        log.append(("search", 0, (text, k, mode), oracle.search(text, k, mode)))
    batch = {
        "q0": {"query": "bromley relief fund", "limit": 10},
        "q1": {"query": "Royal Albion", "limit": 3, "properties": [{"pid": "lang", "v": "en"}]},
    }
    result = {
        qid: {"result": [
            {"id": u, "name": u, "score": s, "match": False}
            for u, s in oracle.reconcile(q["query"], q["limit"], check.recon_lang(q))
        ]}
        for qid, q in batch.items()
    }
    log.append(("reconcile", 0, batch, result))
    return log


def test_every_mode_has_hits_to_check(oracle):
    for kind, _, inp, out in _log_from_oracle(oracle):
        assert out if kind == "search" else all(r["result"] for r in out.values()), inp


def test_verification_passes_oracle_outputs(oracle):
    assert verify_exact(oracle, _log_from_oracle(oracle), 1, "t") == (0, [])


def test_verification_fails_swapped_search_ranks(oracle):
    log = _log_from_oracle(oracle)
    hits = log[0][3]
    log[0] = log[0][:3] + ([hits[1], hits[0], *hits[2:]],)
    wrong, msgs = verify_exact(oracle, log, 1, "t")
    assert wrong == 1 and "order differs" in msgs[0]


def test_verification_fails_perturbed_recon_score(oracle):
    log = _log_from_oracle(oracle)
    hit = log[-1][3]["q0"]["result"][0]
    hit["score"] *= 1 + 1e-5
    wrong, msgs = verify_exact(oracle, log, 1, "t")
    assert wrong == 1 and "score differs" in msgs[0]


def test_stale_hits_counts_pages_without_query_terms():
    assert check.stale_hits([{"acme", "w0001"}, {"w0002"}], {"acme", "trust"}) == 1


# -- the generator ----------------------------------------------------------


def _inputs(seed: int):
    pages = gen.make_corpus(200, seed)
    live = gen.live_view(pages)
    rnd = gen.make_round(live, seed, 0, 20, 30)
    rng = gen.rng_for(seed, "client")
    texts = live["text"].tolist()
    searches = [gen.make_search(rng, texts, i) for i in range(40)]
    batches = [gen.make_recon_batch(rng, i) for i in range(5)]
    return pages, rnd, searches, batches


def test_generator_is_deterministic_per_seed():
    a, b = _inputs(7), _inputs(7)
    pd.testing.assert_frame_equal(a[0], b[0])
    pd.testing.assert_frame_equal(a[1], b[1])
    assert a[2] == b[2] and a[3] == b[3]


def test_generator_differs_across_seeds():
    a, b = _inputs(7), _inputs(8)
    assert not a[0]["text"].equals(b[0]["text"])
    assert not a[1]["text"].equals(b[1]["text"])
    assert a[2] != b[2] and a[3] != b[3]


def test_search_mix_follows_the_reference_set():
    rng = gen.rng_for(1, "client")
    calls = [gen.make_search(rng, ["a b c d"], i) for i in range(90)]
    kinds = [gen.MODE_CYCLE[i % len(gen.MODE_CYCLE)] for i in range(90)]
    # 4 freetext to 1 recon, as in the reference set's 40 + 10
    assert kinds.count("freetext") == 4 * kinds.count("recon") == 40
    # k edge cases at the reference positions of every 50 calls
    assert [k for _, k, _ in calls[:50]].count(1) == 3
    assert [k for _, k, _ in calls[:50]].count(100) == 2
    recon = [t for t, _, m in calls if m == "recon"]
    assert sum(t not in gen.ENTITY_NAMES for t in recon) == 3


def test_bulk_batch_is_over_the_driver_budget():
    live = gen.live_view(gen.make_corpus(workloads.INTERACTIVE_DOCS, 1))
    docs = pd.DataFrame({"doc_id": range(len(live)), "url": live["url"]})
    queries = gen.make_bulk(gen.rng_for(1, "bulk"), workloads.BULK_QUERIES)
    assert check.Oracle(live, docs).postings_volume(queries["text"]) > workloads.DRIVER_BUDGET


def test_corpus_shape():
    pages = gen.make_corpus(1000, 3)
    live = gen.live_view(pages)
    assert len(live) == 1000 and len(pages) == 1010
    for name in gen.ENTITY_NAMES:
        assert live["text"].str.contains(name).sum() == 20


def test_round_supersedes_updated_urls():
    live = gen.live_view(gen.make_corpus(300, 3))
    rnd = gen.make_round(live, 3, 0, 30, 40)
    after = gen.apply_round(live, rnd)
    assert len(after) == 340
    upd = set(rnd["url"][:30])
    assert upd <= set(live["url"])
    assert (after.set_index("url").loc[sorted(upd), "text"] == rnd.set_index("url").loc[sorted(upd), "text"]).all()


# -- metric names -------------------------------------------------------------


def test_end_to_end_names_match_benchmark_json(spec):
    run = SimpleNamespace(lat={"search": [float(i) for i in range(30)],
                               "reconcile": [float(i) for i in range(30)]})
    res = {"docs_written": 10, "write_wall": 2.0, "index_bytes_per_text_byte": 0.8,
           "rss_mb": 100.0, "setup": 5.0}
    out = metrics.end_to_end(run, res, spec)
    assert list(out) == [m["name"] for m in spec["end_to_end"]]
    assert all(v["unit"] for v in out.values())


def test_per_layer_names_match_benchmark_json(spec):
    tr = Tracer()
    with tr.span("search"):
        with tr.span("scorer"):
            pass
    run = SimpleNamespace(
        tracer=tr, read_reqs={0}, walls={},
        traced_lat={"search": [1.0]}, untraced_lat={"search": [1.0]},
        collector=SimpleNamespace(n_ops=1, totals=lambda: {
            f: 1.0 for f in ("jobs", "stages", "tasks", "executor_run_ms",
                             "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes")
        }),
    )
    res = {"index_dir": os.path.join(ROOT, "no-such-index"), "bulk_queries": 0,
           "calibration": {"py_1thread_s": 0.3, "jvm_allcore_s": 0.2}}
    out = metrics.per_layer(run, res, spec)
    assert list(out) == [m["name"] for m in spec["per_layer"]]


def test_tail_is_highest_percentile_with_ten_beyond_and_at_least_p75():
    p, v = metrics.tail([float(i) for i in range(1, 41)])
    assert p == 75.0 and v == 30.0
    p, v = metrics.tail([float(i) for i in range(1, 61)])
    assert round(p, 3) == 83.333 and v == 50.0
    p, v = metrics.tail([float(i) for i in range(1, 13)])
    assert p == 75.0 and v == 9.0
    with pytest.raises(ValueError):
        metrics.tail([1.0] * 7)


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("a") as a:
        with tr.span("b") as b:
            pass
    a["start"], a["end"], b["start"], b["end"] = 0.0, 1.0, 0.25, 0.75
    assert tr.self_ms() == {"a": 500.0, "b": 500.0}


# -- tracing against the engine ----------------------------------------------


@pytest.fixture(scope="module")
def small_index(tmp_path_factory):
    from find_that_charity_spark.operators import build
    from find_that_charity_spark.session import get_spark

    spark = get_spark(master="local[2]", app_name="perfbench-selftest", shuffle_partitions=4)
    work = str(tmp_path_factory.mktemp("perfbench"))
    pages = gen.make_corpus(300, seed=5)
    workloads.write_pages(pages, f"{work}/pages")
    build.build_index(spark, f"{work}/pages", f"{work}/index", workloads.build_config())
    return spark, work, gen.live_view(pages)


def test_traced_search_records_its_layers(small_index):
    from find_that_charity_spark.operators import query

    spark, work, live = small_index
    run = workloads.Run(spark, 1, 1, True, work)
    searcher = query.IndexSearcher(spark, f"{work}/index")
    rng, log = gen.rng_for(1, "selftest"), []
    for _ in range(4):  # the 2nd and 4th read are traced
        workloads._search_client(run, searcher, rng, live["text"].tolist(), log, 0)
    run.trace_off()
    searcher.close()
    assert len(log) == 4 and len(run.read_reqs) == 2
    names = {(sp["req"], sp["name"]) for sp in run.tracer.spans}
    for req in run.read_reqs:
        assert {(req, "search"), (req, "scorer"), (req, "fetch")} <= names
    # the untraced reads left no spans
    assert {req for req, _ in names} == run.read_reqs
    assert run.tracer.count("route.driver") == 2
