"""D7+/D8/D9/D10 search features: minimum_should_match, facet counts/
histogram, highlight snippets, more_like_this — each against an
independent driver-side oracle over the same corpus (SURVEY.md §5.2
model: exhaustive numpy/pandas recomputation, no index)."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from find_that_charity_spark.functions.analyzer import analyze
from find_that_charity_spark.functions.bm25 import idf_np
from find_that_charity_spark.operators.build import BuildConfig, build_index
from find_that_charity_spark.operators.oracle import brute_force_topk
from find_that_charity_spark.operators.query import run_queries
from find_that_charity_spark.sources.synth import write_fixture

N_DOCS = 400


@pytest.fixture(scope="module")
def sindex(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("sfx")
    fx = str(root / "fixture")
    idx = str(root / "index")
    write_fixture(spark, fx, N_DOCS)
    cfg = BuildConfig(
        num_buckets=4, id_buckets=4, max_postings_per_segment=500,
        positions=True,
    )
    build_index(spark, f"{fx}/web_pages.parquet", idx, cfg)
    return {"fixture": fx, "index": idx}


@pytest.fixture(scope="module")
def corpus(spark, sindex):
    """(doc_id, url, text) pandas view of the live corpus, doc_id order."""
    docs = spark.read.parquet(f"{sindex['index']}/docs").select(
        "doc_id", "url"
    ).toPandas()
    pages = spark.read.parquet(
        f"{sindex['fixture']}/web_pages.parquet"
    ).toPandas()
    latest = pages.sort_values("warc_ts").groupby("url").tail(1)
    return docs.merge(latest[["url", "text"]], on="url").sort_values(
        "doc_id"
    ).reset_index(drop=True)


# Real synth-vocab terms with strictly nested partial-match structure at
# N_DOCS=400: |OR|=357, |>=2|=241, |>=3|=93, |>=4|=11 — min_should
# genuinely bites at every m (test_filter_bites guards this non-vacuity;
# it caught the original choice of four out-of-vocabulary words).
QUERY = "w0005 w0011 w0019 w0030"


def _run_one(spark, idx, text, mode, k=10):
    qdf = spark.createDataFrame(
        [("q", text, k, mode)], "qid string, text string, k int, mode string"
    )
    rows = run_queries(spark, idx, qdf).orderBy("rank").collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


class TestMinShouldMatch:
    def test_matches_brute_oracle(self, spark, sindex, corpus):
        for m in (2, 3):
            got = _run_one(spark, sindex["index"], QUERY, f"min_should:{m}")
            want = brute_force_topk(
                corpus["doc_id"], corpus["text"], QUERY, k=10, min_match=m
            )
            assert [d for d, _ in got] == [d for d, _ in want], f"m={m}"
            np.testing.assert_allclose(
                [s for _, s in got], [s for _, s in want], rtol=1e-6
            )

    def test_m1_equals_plain_or(self, spark, sindex):
        assert _run_one(spark, sindex["index"], QUERY, "min_should:1") == \
            _run_one(spark, sindex["index"], QUERY, "freetext")

    def test_m_all_equals_conjunctive(self, spark, sindex):
        n_terms = len(set(analyze(QUERY)))
        got = _run_one(spark, sindex["index"], QUERY, f"min_should:{n_terms}")
        want = _run_one(spark, sindex["index"], QUERY, "bool_and")
        assert got == want

    def test_warm_searcher_parity(self, spark, sindex):
        """The one-job warm path (IndexSearcher) passes mode through
        opaquely — min_should must score identically there."""
        from find_that_charity_spark.operators.query import IndexSearcher

        s = IndexSearcher(spark, sindex["index"])
        try:
            got = [
                (d, round(sc, 6))
                for _, d, sc in s.search(QUERY, k=10, mode="min_should:2")
            ]
            want = [
                (d, round(sc, 6))
                for d, sc in _run_one(spark, sindex["index"], QUERY, "min_should:2")
            ]
            assert got == want
        finally:
            s.close()

    def test_filter_bites(self, spark, sindex, corpus):
        """The fixture must contain partial-match docs, else m>1 tests
        are vacuous — assert the m=2 match SET is strictly smaller than
        the OR match set and non-empty."""
        toks = [set(analyze(t)) for t in corpus["text"]]
        terms = set(analyze(QUERY))
        n_or = sum(1 for t in toks if t & terms)
        n_m2 = sum(1 for t in toks if len(t & terms) >= 2)
        assert 0 < n_m2 < n_or


class TestFacets:
    def test_counts_vs_pandas(self, spark, sindex, corpus):
        from find_that_charity_spark.operators.facets import facet_counts

        got = {
            r["facet"]: r["matches"]
            for r in facet_counts(
                spark, sindex["index"], QUERY, facet_col="lang"
            ).collect()
        }
        langs = spark.read.parquet(f"{sindex['index']}/docs").select(
            "doc_id", "lang"
        ).toPandas()
        merged = corpus.merge(langs, on="doc_id")
        terms = set(analyze(QUERY))
        want = Counter(
            lang
            for lang, text in zip(merged["lang"], merged["text"])
            if terms & set(analyze(text))
        )
        assert got == dict(want)

    def test_cardinality_vs_pandas(self, spark, sindex, corpus):
        from find_that_charity_spark.operators.facets import facet_cardinality

        got = facet_cardinality(
            spark, sindex["index"], QUERY, "doc_len"
        ).collect()[0]["distinct_values"]
        terms = set(analyze(QUERY))
        want = len(
            {
                len(analyze(t))
                for t in corpus["text"]
                if terms & set(analyze(t))
            }
        )
        assert got == want and want > 10

    def test_top_hits_vs_pandas(self, spark, sindex, corpus):
        from find_that_charity_spark.operators.facets import facet_top_hits

        got = sorted(
            (r["facet"], r["pos"], r["doc_id"], r["sort_key"])
            for r in facet_top_hits(
                spark, sindex["index"], QUERY, "lang", "doc_len", 3
            ).collect()
        )
        langs = spark.read.parquet(f"{sindex['index']}/docs").select(
            "doc_id", "lang"
        ).toPandas()
        merged = corpus.merge(langs, on="doc_id")
        terms = set(analyze(QUERY))
        rows = [
            (lang, int(d), len(analyze(t)))
            for lang, d, t in zip(merged["lang"], merged["doc_id"], merged["text"])
            if terms & set(analyze(t))
        ]
        want = []
        for lang in sorted({r[0] for r in rows}):
            bucket = sorted(
                [r for r in rows if r[0] == lang],
                key=lambda r: (-r[2], r[1]),
            )[:3]
            want += [(lang, i + 1, d, ln) for i, (_, d, ln) in enumerate(bucket)]
        assert got == sorted(want) and len({f for f, *_ in got}) >= 2

    def test_histogram_vs_pandas(self, spark, sindex, corpus):
        from find_that_charity_spark.operators.facets import facet_histogram

        interval = 8
        got = {
            r["bucket_lo"]: r["matches"]
            for r in facet_histogram(
                spark, sindex["index"], QUERY, "doc_len", interval
            ).collect()
        }
        terms = set(analyze(QUERY))
        want: Counter = Counter()
        for text in corpus["text"]:
            toks = analyze(text)
            if terms & set(toks):
                want[len(toks) // interval * interval] += 1
        assert got == dict(want)


class TestIncludeFilter:
    """ES positive filter context (run_queries.include_doc_ids): results
    restricted to an allowed set, BM25/phrase stats corpus-wide — across
    all three scorer paths (BMW, boolean, phrase)."""

    def _include(self, corpus):
        # every third doc — arbitrary but reproducible allowed set
        return np.array(sorted(int(d) for d in corpus["doc_id"] if d % 3 == 0))

    def _run(self, spark, idx, text, mode, inc, k=10):
        qdf = spark.createDataFrame(
            [("q", text, k, mode)],
            "qid string, text string, k int, mode string",
        )
        rows = run_queries(spark, idx, qdf, include_doc_ids=inc).orderBy(
            "rank"
        ).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    @pytest.mark.parametrize("mode,conj", [("freetext", False), ("bool_and", True)])
    def test_bmw_and_boolean_paths(self, spark, sindex, corpus, mode, conj):
        inc = self._include(corpus)
        got = self._run(spark, sindex["index"], QUERY, mode, inc)
        want = brute_force_topk(
            corpus["doc_id"], corpus["text"], QUERY, k=10,
            conjunctive=conj, include=inc,
        )
        assert [d for d, _ in got] == [d for d, _ in want]
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in want], rtol=1e-6
        )
        assert all(d % 3 == 0 for d, _ in got)
        # the filter must change the result, else the test is vacuous
        unfiltered = brute_force_topk(
            corpus["doc_id"], corpus["text"], QUERY, k=10, conjunctive=conj
        )
        assert got != [
            (d, s) for d, s in unfiltered
        ], "allowed set did not bite"

    def test_phrase_path(self, spark, sindex, corpus):
        from find_that_charity_spark.operators.oracle import (
            brute_force_phrase_topk,
        )

        # find a phrase that actually occurs: first two tokens of a doc
        toks = analyze(corpus["text"].iloc[0])
        phrase = " ".join(toks[:2])
        inc = self._include(corpus)
        got = self._run(spark, sindex["index"], phrase, "phrase", inc)
        want = brute_force_phrase_topk(
            corpus["doc_id"], corpus["text"], phrase, k=10, include=inc
        )
        assert [d for d, _ in got] == [d for d, _ in want]
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in want], rtol=1e-6
        )


class TestSignificantTerms:
    def test_jlh_vs_pandas(self, spark, sindex, corpus):
        from find_that_charity_spark.operators.facets import significant_terms

        cdf = spark.createDataFrame(corpus[["url", "text"]])
        got = [
            (r["term"], r["fg_count"], r["bg_count"], r["score_mil"])
            for r in significant_terms(
                spark, sindex["index"], cdf, QUERY, n=10
            ).collect()
        ]
        qterms = set(analyze(QUERY))
        toksets = [set(analyze(t)) for t in corpus["text"]]
        matched = [s for s in toksets if s & qterms]
        fgt, n = len(matched), len(toksets)
        fg = Counter(t for s in matched for t in s)
        bg = Counter(t for s in toksets for t in s)
        scored = [
            (
                (fg[t] / float(fgt) - bg[t] / float(n))
                * ((fg[t] / float(fgt)) / (bg[t] / float(n))),
                t,
            )
            for t in fg
        ]
        scored.sort(key=lambda st: (-st[0], st[1]))
        want = [
            (t, fg[t], bg[t], int(np.floor(s * 1e6 + 0.5)))
            for s, t in scored[:10]
        ]
        assert got == want
        # winners must be genuinely over-represented in the match set
        assert all(f / float(fgt) > b / float(n) for _, f, b, _ in got)

    def test_significance_is_not_df_order(self, spark, sindex, corpus):
        """Top significant terms must differ from the top-df terms —
        otherwise JLH degenerated to popularity and the gate is weak."""
        from find_that_charity_spark.operators.facets import significant_terms

        cdf = spark.createDataFrame(corpus[["url", "text"]])
        top_sig = [
            r["term"]
            for r in significant_terms(
                spark, sindex["index"], cdf, QUERY, n=10
            ).collect()
        ]
        bg = Counter(
            t for text in corpus["text"] for t in set(analyze(text))
        )
        top_df = [t for t, _ in bg.most_common(10)]
        assert top_sig != top_df


class TestHighlight:
    def test_first_hit_and_snippet(self, spark, sindex, corpus):
        """first_hit comes from POSITIONAL POSTINGS; re-derive it (and the
        snippet) from the raw text — the two must agree exactly, which is
        also the property that makes the DuckDB oracle a fair twin."""
        from find_that_charity_spark.operators.highlight import highlight_topk

        cdf = spark.createDataFrame(corpus[["doc_id", "url", "text"]])
        url2id = dict(zip(corpus["url"], corpus["doc_id"]))
        out = highlight_topk(
            spark, sindex["index"], cdf, QUERY, k=10, window=5,
            url_to_id=lambda u: int(url2id[u]),
        ).collect()
        want = brute_force_topk(corpus["doc_id"], corpus["text"], QUERY, k=10)
        assert len(out) == len(want) == 10
        terms = set(analyze(QUERY))
        by_id = {int(r["doc_id"]): r for r in out}
        texts = dict(zip(corpus["doc_id"], corpus["text"]))
        for rank, (doc_id, score) in enumerate(want, 1):
            r = by_id[doc_id]
            assert r["rank"] == rank
            assert r["score_mil"] == int(np.floor(score * 1e4 + 0.5))
            toks = analyze(texts[doc_id])
            fh0 = min(i for i, t in enumerate(toks) if t in terms)
            assert r["first_hit"] == fh0 + 1, "postings-derived hit diverges"
            assert r["snippet"] == " ".join(toks[fh0 : fh0 + 5])

    def test_non_ascii_snippet(self, spark, tmp_path):
        """Snippets slice the same ``analyze`` token stream the postings'
        positions count, so accented and non-Latin words before the hit
        do not shift the window."""
        import datetime

        import pandas as pd

        from find_that_charity_spark.operators.highlight import highlight_topk
        from find_that_charity_spark.sources.corpus import WEB_PAGES_SCHEMA

        texts = [
            "Société Générale acme trust fund annual report",
            "Ærø Ünïon Москва acme relief fund",
            "plain acme charity fund",
            "naïve café society without the term",
        ]
        pages = pd.DataFrame({
            "url": [f"https://h/p/{i:08d}" for i in range(len(texts))],
            "warc_ts": [datetime.datetime(2024, 1, 1)] * len(texts),
            "html": [t.encode("utf-8") for t in texts],
            "text": texts,
            "lang": ["fr", "da", "en", "en"],
        })
        src, idx = str(tmp_path / "web_pages.parquet"), str(tmp_path / "idx")
        spark.createDataFrame(pages, schema=WEB_PAGES_SCHEMA).write.parquet(src)
        build_index(spark, src, idx, BuildConfig(
            num_buckets=2, id_buckets=2, segment_chunks=1, positions=True,
        ))
        cdf = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        out = {
            int(r["doc_id"]): (r["first_hit"], r["snippet"])
            for r in highlight_topk(spark, idx, cdf, "acme", k=10, window=3).collect()
        }
        assert out == {
            0: (3, "acme trust fund"),
            1: (4, "acme relief fund"),
            2: (2, "acme charity fund"),
        }


class TestPrefixQuery:
    def test_scoring_boolean_rewrite(self, spark, sindex, corpus):
        from find_that_charity_spark.operators.recon import prefix_topk

        prefix = "s"
        vocab = {t for text in corpus["text"] for t in analyze(text)}
        expansions = sorted(t for t in vocab if t.startswith(prefix))
        assert len(expansions) >= 2, "prefix must be genuinely multi-term"
        got = [
            (int(r["doc_id"]), float(r["score"]))
            for r in prefix_topk(spark, sindex["index"], prefix, k=10)
            .orderBy("rank")
            .collect()
        ]
        want = brute_force_topk(
            corpus["doc_id"], corpus["text"], " ".join(expansions), k=10
        )
        assert [d for d, _ in got] == [d for d, _ in want]
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in want], rtol=1e-6
        )

    def test_no_match_prefix(self, spark, sindex):
        from find_that_charity_spark.operators.recon import prefix_topk

        assert prefix_topk(spark, sindex["index"], "zzzzqq", k=10).count() == 0


class TestSearchAfter:
    def test_cursor_pages_equal_sorted_slices(self, spark, sindex, corpus):
        from find_that_charity_spark.operators.facets import search_after_page

        terms = set(analyze(QUERY))
        rows = [
            (int(d), len(analyze(t)))
            for d, t in zip(corpus["doc_id"], corpus["text"])
            if terms & set(analyze(t))
        ]
        rows.sort(key=lambda r: (-r[1], r[0]))
        assert len(rows) > 20, "match set must span several pages"

        p1 = search_after_page(
            spark, sindex["index"], QUERY, "doc_len", after=None, k=10
        ).collect()
        got1 = [(int(r["doc_id"]), int(r["sort_key"])) for r in p1]
        assert got1 == rows[:10]
        cursor = (got1[-1][1], got1[-1][0])
        p2 = search_after_page(
            spark, sindex["index"], QUERY, "doc_len", after=cursor, k=10
        ).collect()
        assert [(int(r["doc_id"]), int(r["sort_key"])) for r in p2] == rows[10:20]


class TestBoost:
    """D7+ per-term boost ('term^2.5'): idf-multiplier, exact under BMW
    (block upper bounds scale with the cursor weight)."""

    BQ = "w0005^2 w0011 w0019^0.5 w0030"

    def test_boosted_vs_brute_oracle(self, spark, sindex, corpus):
        got = _run_one(spark, sindex["index"], self.BQ, "freetext")
        want = brute_force_topk(corpus["doc_id"], corpus["text"], self.BQ, k=10)
        assert [d for d, _ in got] == [d for d, _ in want]
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in want], rtol=1e-6
        )
        # the boost must actually change the ranking, else vacuous
        plain = _run_one(spark, sindex["index"], QUERY, "freetext")
        assert [d for d, _ in got] != [d for d, _ in plain]

    def test_unit_boost_is_identity(self, spark, sindex):
        got = _run_one(
            spark, sindex["index"], "w0005^1 w0011 w0019^1.0 w0030", "freetext"
        )
        assert got == _run_one(spark, sindex["index"], QUERY, "freetext")

    def test_warm_searcher_parity(self, spark, sindex):
        from find_that_charity_spark.operators.query import IndexSearcher

        s = IndexSearcher(spark, sindex["index"])
        try:
            got = [
                (d, round(sc, 6)) for _, d, sc in s.search(self.BQ, k=10)
            ]
            want = [
                (d, round(sc, 6))
                for d, sc in _run_one(spark, sindex["index"], self.BQ, "freetext")
            ]
            assert got == want
        finally:
            s.close()

    def test_invalid_suffix_tokenizes_as_is(self, spark, sindex, corpus):
        """'w0005^x' is not a boost — both engines split it into tokens
        (w0005, x) and score them as plain OR terms."""
        got = _run_one(spark, sindex["index"], "w0005^x w0011", "freetext")
        want = brute_force_topk(
            corpus["doc_id"], corpus["text"], "w0005^x w0011", k=10
        )
        assert [d for d, _ in got] == [d for d, _ in want]
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in want], rtol=1e-6
        )

    def test_repeated_term_takes_max_boost(self, spark, sindex, corpus):
        got = _run_one(
            spark, sindex["index"], "w0005^3 w0005^2 w0011", "freetext"
        )
        want = _run_one(spark, sindex["index"], "w0005^3 w0011", "freetext")
        assert got == want


class TestSpellSuggest:
    @staticmethod
    def _lev(a: str, b: str) -> int:
        """Full DP levenshtein — independent of functions/fuzzy.py."""
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    def test_vs_brute(self, spark, sindex, corpus):
        from find_that_charity_spark.operators.recon import suggest_spelling

        typo = "w005"  # 1-deletion of many wNNNN vocab terms
        dfc = Counter(
            t for text in corpus["text"] for t in set(analyze(text))
        )
        cands = [
            (t, dfc[t]) for t in dfc if t != typo and self._lev(t, typo) <= 1
        ]
        cands.sort(key=lambda td: (-td[1], td[0]))
        assert len(cands) >= 3, "typo must have several vocab neighbors"
        got = [
            (r["suggestion"], r["df"], r["distance"])
            for r in suggest_spelling(spark, sindex["index"], typo, k=8).collect()
        ]
        assert got == [(t, d, 1) for t, d in cands[:8]]

    def test_fallback_without_fuzzy_keys(self, spark, sindex):
        """A pre-fuzzy_keys index takes the levenshtein-filtered scan
        (JVM-side filter, tiny collect) — same answer as the probe path."""
        import shutil

        from find_that_charity_spark.operators.recon import suggest_spelling

        def run():
            return [
                (r["suggestion"], r["df"], r["distance"])
                for r in suggest_spelling(
                    spark, sindex["index"], "w005", k=8
                ).collect()
            ]

        primary = run()
        fk = f"{sindex['index']}/fuzzy_keys"
        shutil.move(fk, fk + "_aside")
        try:
            fallback = run()
        finally:
            shutil.move(fk + "_aside", fk)
        assert fallback == primary and len(primary) >= 3

    def test_no_neighbors_and_input_exclusion(self, spark, sindex, corpus):
        from find_that_charity_spark.operators.recon import suggest_spelling

        assert suggest_spelling(spark, sindex["index"], "qqqqqqqq").count() == 0
        # an exact vocabulary term is never its own suggestion
        term = next(t for t in analyze(corpus["text"].iloc[0]) if len(t) > 2)
        got = [
            r["suggestion"]
            for r in suggest_spelling(spark, sindex["index"], term, k=8).collect()
        ]
        assert term not in got


class TestMoreLikeThis:
    def test_term_selection_and_results(self, spark, sindex, corpus):
        from find_that_charity_spark.operators.morelike import (
            more_like_this,
            select_mlt_terms,
        )

        src = corpus.iloc[3]
        # independent term selection: tf from the text, df from the corpus
        tf = Counter(analyze(src["text"]))
        n = len(corpus)
        toksets = [set(analyze(t)) for t in corpus["text"]]
        want_terms = sorted(
            tf,
            key=lambda t: (
                -tf[t] * idf_np(float(n), float(sum(1 for s in toksets if t in s))),
                t,
            ),
        )[:5]
        got_terms = select_mlt_terms(spark, sindex["index"], src["text"], m=5)
        assert got_terms == want_terms

        out = more_like_this(
            spark, sindex["index"], src["text"],
            exclude_urls=[src["url"]], m=5, k=10,
        ).orderBy("rank").collect()
        assert all(r["url"] != src["url"] for r in out), "source must be excluded"
        # oracle: OR query over the selected terms, source doc dropped
        want = brute_force_topk(
            corpus["doc_id"], corpus["text"], " ".join(got_terms), k=11
        )
        want = [(d, s) for d, s in want if d != int(src["doc_id"])][:10]
        url_of = dict(zip(corpus["doc_id"], corpus["url"]))
        got = [(r["url"], r["rank"], r["score_mil"]) for r in out]
        assert got == [
            (url_of[d], i + 1, int(np.floor(s * 1e4 + 0.5)))
            for i, (d, s) in enumerate(want)
        ]


class _OverDriverBudget:
    """Re-runs the inherited tests with a 1-posting driver budget, so the
    match-set and first-hit decodes (and the top-k scoring) take the
    executor route; the inherited names keep running the driver route."""

    @pytest.fixture(autouse=True)
    def _over_budget(self, monkeypatch):
        monkeypatch.setenv("FTC_DRIVER_SCORE_MAX_POSTINGS", "1")


class TestFacetsOverBudget(_OverDriverBudget, TestFacets):
    pass


class TestSignificantTermsOverBudget(_OverDriverBudget, TestSignificantTerms):
    pass


class TestHighlightOverBudget(_OverDriverBudget, TestHighlight):
    pass


class TestSearchAfterOverBudget(_OverDriverBudget, TestSearchAfter):
    pass
