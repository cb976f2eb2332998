"""Round-2 regression tests.

Covers the round-1 verdict/advice defects:
- fuzzy mode double-counted in-vocab query terms (exact + expansion path);
- fuzzy expansion was a scan-wide levenshtein NLJ (now deletion-key join);
- simhash banding block count ignored max_hamming (recall loss at 4-8);
- minhash LSH had no per-bucket candidate cap (quadratic on boilerplate);
- dedup_latest_by_url lacked the content-hash tie-break;
- compaction swap could crash with no segments directory;
- streaming foreachBatch replay could permanently drop half a batch.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from find_that_charity_spark.functions.fuzzy import deletion_keys
from find_that_charity_spark.operators.build import (
    BuildConfig,
    _recover_segment_swap,
    build_index,
)
from find_that_charity_spark.operators.dedup import (
    dedup_latest_by_url,
    minhash_lsh_pairs,
    simhash_near_dups,
    _shingle_hashes,
)
from find_that_charity_spark.operators.doc_ids import dedup_and_assign_ids
from find_that_charity_spark.operators.query import run_queries
from find_that_charity_spark.sources.corpus import WEB_PAGES_SCHEMA
from find_that_charity_spark.sources.synth import synth_web_pages, write_fixture


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("r2idx")
    fx, idx = str(root / "fx"), str(root / "idx")
    write_fixture(spark, fx, 300)
    build_index(
        spark,
        f"{fx}/web_pages.parquet",
        idx,
        BuildConfig(num_buckets=8, id_buckets=8, segment_chunks=1,
                    max_postings_per_segment=10_000),
    )
    return idx


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _dict_terms(spark, index: str) -> list[str]:
    return [r["term"] for r in
            spark.read.parquet(f"{index}/dictionary").select("term").collect()]


# ---------------------------------------------------------------------------
# fuzzy mode
# ---------------------------------------------------------------------------

def test_fuzzy_no_double_count(spark, index):
    """An in-vocab term with NO edit-1 neighbors must score exactly like
    freetext (one contribution, not exact-path + expansion-path)."""
    terms = _dict_terms(spark, index)
    neighbors = [t for t in terms if _lev(t, "charitable") <= 1]
    assert neighbors == ["charitable"], "fixture invariant: no edit-1 neighbors"
    qdf = spark.createDataFrame(
        [("f", "charitable", 10, "fuzzy"), ("t", "charitable", 10, "freetext")],
        "qid string, text string, k int, mode string",
    )
    got = run_queries(spark, index, qdf).toPandas()
    fz = got[got["qid"] == "f"].sort_values("rank")
    ft = got[got["qid"] == "t"].sort_values("rank")
    assert fz["doc_id"].tolist() == ft["doc_id"].tolist()
    np.testing.assert_allclose(fz["score"].to_numpy(), ft["score"].to_numpy(), rtol=1e-12)


def test_fuzzy_expansion_equals_or_query(spark, index):
    """fuzzy(q) == freetext OR over the full edit-1 vocabulary expansion —
    proves the deletion-neighborhood equi-join recalls every edit-1 term."""
    terms = _dict_terms(spark, index)
    expansion = sorted(t for t in terms if _lev(t, "w0001") <= 1)
    assert len(expansion) > 5, "fixture invariant: w0001 has many neighbors"
    qdf = spark.createDataFrame(
        [("f", "w0001", 20, "fuzzy"), ("o", " ".join(expansion), 20, "freetext")],
        "qid string, text string, k int, mode string",
    )
    got = run_queries(spark, index, qdf).toPandas()
    fz = got[got["qid"] == "f"].sort_values("rank")
    orq = got[got["qid"] == "o"].sort_values("rank")
    assert fz["doc_id"].tolist() == orq["doc_id"].tolist()
    np.testing.assert_allclose(fz["score"].to_numpy(), orq["score"].to_numpy(), rtol=1e-12)


def test_fuzzy_keys_table(spark, index):
    """The deletion-key index exists, is complete, and its key filter is
    pushed into the parquet scan (IN-list, no scan-wide levenshtein)."""
    fk = spark.read.parquet(f"{index}/fuzzy_keys")
    terms = _dict_terms(spark, index)
    want_rows = sum(len(deletion_keys(t)) for t in terms)
    assert fk.count() == want_rows
    pruned = fk.where(F.col("key").isin(deletion_keys("w0001")))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(key" in plan
    assert "levenshtein" not in plan.lower()


def test_run_queries_distributed_matched_path(spark, index):
    """localize_threshold=0 forces the huge-batch branch (matched term set
    stays distributed, shuffle join); results must equal the localized
    (driver-materialized broadcast) default path exactly."""
    qdf = spark.createDataFrame(
        [
            ("a", "w0001 w0042", 10, "freetext"),
            ("b", "charitable trust", 5, "bool_and"),
            ("c", "custmer", 10, "fuzzy"),
        ],
        "qid string, text string, k int, mode string",
    )
    local = run_queries(spark, index, qdf).toPandas().sort_values(["qid", "rank"])
    dist = run_queries(spark, index, qdf, localize_threshold=0).toPandas().sort_values(
        ["qid", "rank"]
    )
    assert local["qid"].tolist() == dist["qid"].tolist()
    assert local["doc_id"].tolist() == dist["doc_id"].tolist()
    np.testing.assert_allclose(
        local["score"].to_numpy(), dist["score"].to_numpy(), rtol=1e-12
    )


def test_within_edit1_matches_dp():
    """Exhaustive check of the O(len) edit<=1 test vs the DP distance."""
    import itertools

    from find_that_charity_spark.functions.fuzzy import within_edit1

    words = ["".join(p) for n in range(4) for p in itertools.product("abc", repeat=n)]
    for a in words:
        for b in words:
            assert within_edit1(a, b) == (_lev(a, b) <= 1), (a, b)


def test_index_searcher_fuzzy_parity(spark, index):
    """Warm-path fuzzy == batch-path fuzzy (same expansion, same scores)."""
    from find_that_charity_spark.operators.query import IndexSearcher

    searcher = IndexSearcher(spark, index)
    try:
        got = searcher.search("w0001", k=15, mode="fuzzy")
    finally:
        searcher.close()
    qdf = spark.createDataFrame(
        [("q", "w0001", 15, "fuzzy")], "qid string, text string, k int, mode string"
    )
    want = run_queries(spark, index, qdf).toPandas().sort_values("rank")
    assert [(r, d) for r, d, _ in got] == list(
        zip(want["rank"].tolist(), want["doc_id"].tolist())
    )
    np.testing.assert_allclose(
        np.array([s for _, _, s in got]), want["score"].to_numpy(), rtol=1e-12
    )


def test_index_searcher_preload_parity(spark, index):
    """A complete dictionary record (small dictionaries, preloaded) and a
    probing one (web-scale fallback) must answer identically."""
    from find_that_charity_spark.operators.query import IndexSearcher

    # opened first: preloading installs a new complete record for the
    # index, and the probing handle keeps the one it pinned
    s_probe = IndexSearcher(spark, index, preload_terms=0)
    s_pre = IndexSearcher(spark, index)
    assert s_pre._dict.complete and not s_probe._dict.complete
    try:
        for text, mode in [
            ("w0001 w0042", "freetext"),
            ("charitable -trust", "freetext"),
            ("acme charitable trust", "recon"),
            ("slow fast", "phrase"),
        ]:
            assert s_pre.search(text, 10, mode) == s_probe.search(text, 10, mode), (
                text, mode,
            )
    finally:
        s_pre.close()
        s_probe.close()


# ---------------------------------------------------------------------------
# simhash banding radius
# ---------------------------------------------------------------------------

def _simhash_py(tokens: list[str]) -> int:
    """Scalar twin of simhash_udf (same md5 + bit-majority)."""
    if not tokens:
        return 0
    buf = b"".join(hashlib.md5(t.encode("utf-8")).digest()[:8] for t in tokens)
    hs = np.frombuffer(buf, dtype=np.uint64)
    bitmat = np.unpackbits(
        hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    ).astype(np.int64)
    acc = 2 * bitmat.sum(axis=0) - len(hs)
    return int(np.packbits((acc > 0).astype(np.uint8), bitorder="little").view(np.uint64)[0])


def _hamming(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def test_simhash_recall_beyond_hamming_3(spark):
    """Plant a pair at hamming 4-8 where EVERY legacy 16-bit block differs:
    the old fixed 4-block banding provably misses it; the radius-derived
    banding must find it. Then assert full output == brute-force recount."""
    rng = np.random.default_rng(7)
    vocab = [f"tok{i:03d}" for i in range(400)]
    base = [vocab[i] for i in rng.integers(0, 400, size=120)]
    base_sh = _simhash_py(base)
    planted = None
    for trial in range(500):
        var = list(base)
        for _ in range(int(rng.integers(1, 5))):
            var[int(rng.integers(0, len(var)))] = vocab[int(rng.integers(0, 400))]
        h = _hamming(base_sh, _simhash_py(var))
        if 4 <= h <= 8:
            xor = base_sh ^ _simhash_py(var)
            blocks16 = [(xor >> (16 * i)) & 0xFFFF for i in range(4)]
            if all(b != 0 for b in blocks16):
                planted = (var, h)
                break
    assert planted is not None, "could not plant a 4-block-spread pair"
    var, want_h = planted
    fillers = [
        [vocab[i] for i in rng.integers(0, 400, size=100)] for _ in range(6)
    ]
    texts = [" ".join(base), " ".join(var)] + [" ".join(f) for f in fillers]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = simhash_near_dups(docs, max_hamming=8).collect()
    got_pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in got}
    assert got_pairs.get((0, 1)) == want_h, f"planted pair missed: {got_pairs}"
    # full equivalence vs brute-force recount over all pairs
    shs = [_simhash_py(t.split()) for t in texts]
    want = {
        (i, j): _hamming(shs[i], shs[j])
        for i in range(len(texts))
        for j in range(i + 1, len(texts))
        if _hamming(shs[i], shs[j]) <= 8
    }
    assert got_pairs == want


def test_simhash_rejects_bad_radius():
    with pytest.raises(ValueError):
        simhash_near_dups(None, max_hamming=64)  # validation is eager


# ---------------------------------------------------------------------------
# minhash bucket cap + recall
# ---------------------------------------------------------------------------

def test_minhash_bucket_cap_linear(spark):
    """A degenerate corpus (one giant identical-signature bucket) emits
    star pairs, not the quadratic clique."""
    n = 200
    docs = spark.createDataFrame(
        [(i, "exactly the same boilerplate text for every single row") for i in range(n)],
        "doc_id long, text string",
    )
    capped = minhash_lsh_pairs(docs, threshold=0.9, bucket_cap=50).collect()
    assert len(capped) == n - 1, "star pairs: one per non-representative member"
    assert all(r["id_a"] == 0 and r["jaccard_mil"] == 1000 for r in capped)
    uncapped = minhash_lsh_pairs(docs, threshold=0.9, bucket_cap=10_000)
    assert uncapped.count() == n * (n - 1) // 2


def test_minhash_recall_and_estimate_quality(spark):
    """Planted near-dups (doc + one appended token) must all surface, and
    the signature-agreement estimate must track exact shingle Jaccard."""
    pages = synth_web_pages(30)
    pages = pages.sort_values("warc_ts").groupby("url").tail(1)
    texts = pages["text"].tolist()[:30]
    rows = [(i, t) for i, t in enumerate(texts)]
    rows += [(i + 1000, t + " appendedtoken") for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = minhash_lsh_pairs(docs, threshold=0.5).collect()
    got_pairs = {(r["id_a"], r["id_b"]): r["jaccard_mil"] for r in got}
    for i in range(30):
        assert (i, i + 1000) in got_pairs, f"planted near-dup {i} missed"
    # estimate quality: emitted pairs' signature agreement ~ exact Jaccard
    from find_that_charity_spark.functions.analyzer import analyze

    shingles = {i: set(_shingle_hashes(analyze(t), 3).tolist()) for i, t in rows}
    for (a, b), est_mil in got_pairs.items():
        sa, sb = shingles[a], shingles[b]
        exact = len(sa & sb) / max(1, len(sa | sb))
        assert abs(est_mil / 1000 - exact) <= 0.3, (a, b, est_mil, exact)


def test_embedding_cosine_pairs_probe_recall(spark, sf_small):
    """Planted identical-vector pairs land in the SAME SRP bucket, so even
    radius-0 probing recalls all of them; wider probing only adds pairs."""
    from find_that_charity_spark.operators.similarity import embedding_cosine_pairs
    from find_that_charity_spark.sources.corpus import read_table

    emb = read_table(spark, sf_small, "embeddings").where(F.col("vec_id") < 100)
    shifted = emb.withColumn("vec_id", F.col("vec_id") + F.lit(100000))
    both = emb.unionByName(shifted)
    r0 = embedding_cosine_pairs(both, threshold=0.95, probe_radius=0).collect()
    r0_pairs = {(r["id_a"], r["id_b"]) for r in r0}
    for i in range(100):
        assert (i, i + 100000) in r0_pairs, f"planted identical pair {i} missed"
    assert all(r["cos_mil"] == 10000 for r in r0 if r["id_b"] - r["id_a"] == 100000)
    full = embedding_cosine_pairs(both, threshold=0.95, probe_radius=8).collect()
    full_pairs = {(r["id_a"], r["id_b"]) for r in full}
    assert r0_pairs <= full_pairs


# ---------------------------------------------------------------------------
# dedup tie-break
# ---------------------------------------------------------------------------

def test_dedup_tiebreak_matches_fused(spark):
    """Same-url same-ts captures: both dedup paths keep the SAME text,
    regardless of partitioning."""
    ts = pd.Timestamp("2024-03-01")
    rows = [
        ("https://x/dup", ts, None, "alpha text one", "en"),
        ("https://x/dup", ts, None, "bravo text two", "en"),
        ("https://x/other", ts, None, "charlie", "en"),
    ]
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    for parts in (1, 7):
        pages = spark.createDataFrame(pdf, WEB_PAGES_SCHEMA).repartition(parts)
        kept_window = {
            r["url"]: r["text"] for r in dedup_latest_by_url(pages).collect()
        }
        kept_fused = {
            r["url"]: r["text"] for r in dedup_and_assign_ids(pages, 4).collect()
        }
        assert kept_window == kept_fused
        assert kept_window["https://x/dup"] in ("alpha text one", "bravo text two")


# ---------------------------------------------------------------------------
# compaction swap recovery
# ---------------------------------------------------------------------------

def _mkdir_with(path: str, marker: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, marker), "w") as f:
        f.write(marker)


def test_recover_segment_swap_mid_rename(tmp_path):
    """Crash between 'old aside' and 'new in': segments missing, compacted
    present -> recovery installs the compacted store."""
    idx = str(tmp_path)
    _mkdir_with(f"{idx}/segments_old", "old")
    _mkdir_with(f"{idx}/segments_compacted", "new")
    _recover_segment_swap(idx)
    assert os.path.exists(f"{idx}/segments/new")
    assert not os.path.exists(f"{idx}/segments_compacted")
    assert not os.path.exists(f"{idx}/segments_old")


def test_recover_segment_swap_before_cleanup(tmp_path):
    """Crash after the swap, before deleting the backup: segments (new)
    and segments_old both present -> backup is dropped, new kept."""
    idx = str(tmp_path)
    _mkdir_with(f"{idx}/segments", "new")
    _mkdir_with(f"{idx}/segments_old", "old")
    _recover_segment_swap(idx)
    assert os.path.exists(f"{idx}/segments/new")
    assert not os.path.exists(f"{idx}/segments_old")


def test_recover_segment_swap_backup_only(tmp_path):
    """Defensive: only the backup survives -> it is restored."""
    idx = str(tmp_path)
    _mkdir_with(f"{idx}/segments_old", "old")
    _recover_segment_swap(idx)
    assert os.path.exists(f"{idx}/segments/old")


def test_streaming_append_preserves_positions(spark, tmp_path_factory):
    """Appending to a POSITIONAL index must produce positional segments,
    or phrase queries over appended docs break (and compaction would drop
    positions). Phrase hits on an appended doc must match the brute
    oracle."""
    from find_that_charity_spark.functions.analyzer import analyze
    from find_that_charity_spark.operators.oracle import brute_force_phrase_topk
    from find_that_charity_spark.streaming.incremental import (
        _append_batch,
        refresh_stats,
    )

    root = tmp_path_factory.mktemp("streampos")
    pages = synth_web_pages(240)
    pages = pages.sort_values("warc_ts").groupby("url").tail(1).sort_index()
    base, batch = pages.iloc[:200], pages.iloc[200:]
    idx = str(root / "idx")
    base_path = str(root / "base")
    spark.createDataFrame(base, WEB_PAGES_SCHEMA).write.parquet(base_path)
    build_index(
        spark, base_path, idx,
        BuildConfig(num_buckets=8, id_buckets=8, segment_chunks=1,
                    max_postings_per_segment=10_000, positions=True),
    )
    _append_batch(spark, spark.createDataFrame(batch, WEB_PAGES_SCHEMA), 0, idx, 8)
    refresh_stats(spark, idx)
    segs = spark.read.parquet(f"{idx}/segments")
    assert segs.where(~F.col("has_positions")).count() == 0

    # phrase taken from an APPENDED doc's text
    phrase = " ".join(analyze(batch.iloc[0]["text"])[:2])
    docs_pd = spark.read.parquet(f"{idx}/docs").select("doc_id", "url").toPandas()
    merged = docs_pd.merge(pages[["url", "text"]], on="url", validate="one_to_one")
    merged = merged.sort_values("doc_id")
    qdf = spark.createDataFrame(
        [("p", phrase, 10, "phrase")], "qid string, text string, k int, mode string"
    )
    got = run_queries(spark, idx, qdf).toPandas().sort_values("rank")
    want = brute_force_phrase_topk(
        merged["doc_id"].tolist(), merged["text"].tolist(), phrase, k=10
    )
    assert got["doc_id"].tolist() == [d for d, _ in want]
    for s_got, (_, s_want) in zip(got["score"], want):
        assert s_got == pytest.approx(s_want, rel=1e-6)
    appended_urls = set(batch["url"])
    hit_urls = set(
        merged[merged["doc_id"].isin(got["doc_id"])]["url"]
    )
    assert hit_urls & appended_urls, "phrase hits must include appended docs"


# ---------------------------------------------------------------------------
# streaming replay idempotence
# ---------------------------------------------------------------------------

def test_streaming_replay_idempotent(spark, tmp_path_factory):
    from find_that_charity_spark.plans.checkpoint import Manifest
    from find_that_charity_spark.streaming.incremental import (
        _append_batch,
        refresh_stats,
    )

    root = tmp_path_factory.mktemp("replay")
    idx = str(root / "idx")
    pages = synth_web_pages(200)
    pages = pages.sort_values("warc_ts").groupby("url").tail(1).sort_index()
    base, batch = pages.iloc[:150], pages.iloc[150:]
    base_path = str(root / "base")
    spark.createDataFrame(base, WEB_PAGES_SCHEMA).write.parquet(base_path)
    build_index(
        spark, base_path, idx,
        BuildConfig(num_buckets=8, id_buckets=8, segment_chunks=1,
                    max_postings_per_segment=10_000),
    )
    batch_df = spark.createDataFrame(batch, WEB_PAGES_SCHEMA)

    # simulate a half-done epoch 0: segments landed (stale content copied
    # from another dir), docs never appended, manifest unmarked
    some_bucket = f"{idx}/segments/chunk=0"
    shutil.copytree(some_bucket, f"{idx}/segments/chunk=stream_default_0")
    n_docs_before = spark.read.parquet(f"{idx}/docs").count()

    _append_batch(spark, batch_df, 0, idx, 8)  # the replay
    docs = spark.read.parquet(f"{idx}/docs")
    assert docs.count() == n_docs_before + len(batch)
    assert docs.select("url").distinct().count() == docs.count()

    # exact replay of a COMPLETED epoch: manifest short-circuits, no dups
    _append_batch(spark, batch_df, 0, idx, 8)
    assert spark.read.parquet(f"{idx}/docs").count() == n_docs_before + len(batch)

    # replay where every url is already indexed (crash was after the docs
    # append): fresh is empty -> epoch is marked complete, not dropped
    _append_batch(spark, batch_df, 1, idx, 8)
    assert Manifest(idx).is_done("stream_batch", "default:1")
    # a NEW stream (different checkpoint -> different stream_id) restarting
    # at epoch 0 must NOT be short-circuited by the old stream's epoch 0
    assert not Manifest(idx).is_done("stream_batch", "other:0")
    assert spark.read.parquet(f"{idx}/docs").count() == n_docs_before + len(batch)

    # end state is a correct, queryable index
    refresh_stats(spark, idx)
    from find_that_charity_spark.operators.oracle import brute_force_topk

    docs_pd = spark.read.parquet(f"{idx}/docs").select("doc_id", "url").toPandas()
    merged = docs_pd.merge(pages[["url", "text"]], on="url", validate="one_to_one")
    merged = merged.sort_values("doc_id")
    qdf = spark.createDataFrame(
        [("q", "w0003 w0042", 10, "freetext")],
        "qid string, text string, k int, mode string",
    )
    got = run_queries(spark, idx, qdf).toPandas().sort_values("rank")
    want = brute_force_topk(
        merged["doc_id"].tolist(), merged["text"].tolist(), "w0003 w0042", k=10
    )
    assert got["doc_id"].tolist() == [d for d, _ in want]
    for s_got, (_, s_want) in zip(got["score"], want):
        assert s_got == pytest.approx(s_want, rel=1e-6)
