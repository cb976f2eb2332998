"""Output checks against the repository's brute-force oracle.

Every verified result must equal ``operators/oracle.py`` exactly: the same
documents in the same order, and scores equal to 1e-6 relative. The
oracle scores every live document with no pruning and no compression.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from find_that_charity_spark.functions.analyzer import analyze, analyze_name
from find_that_charity_spark.functions.fuzzy import within_edit1
from find_that_charity_spark.operators.oracle import brute_force_phrase_topk, brute_force_topk

REL_TOL = 1e-6


def compare(got: list[tuple], want: list[tuple], rel: float = REL_TOL) -> str | None:
    """None when ``got`` equals ``want`` (keys in order, scores to ``rel``);
    otherwise a one-line description of the first difference."""
    gk, wk = [g[0] for g in got], [w[0] for w in want]
    if gk != wk:
        i = next((i for i, (a, b) in enumerate(zip(gk, wk)) if a != b), min(len(gk), len(wk)))
        return f"order differs at rank {i + 1}: got {gk[i:i + 3]} want {wk[i:i + 3]} (n {len(gk)} vs {len(wk)})"
    for i, ((_, gs), (_, ws)) in enumerate(zip(got, want)):
        if not math.isclose(float(gs), float(ws), rel_tol=rel, abs_tol=0.0):
            return f"score differs at rank {i + 1}: got {gs!r} want {ws!r}"
    return None


class Oracle:
    """The brute-force oracle over one live corpus, with doc ids as the
    index assigned them (read back from the index's docs table)."""

    def __init__(self, live: pd.DataFrame, docs: pd.DataFrame):
        merged = docs[["doc_id", "url"]].merge(live[["url", "text", "lang"]], on="url", validate="one_to_one")
        merged = merged.sort_values("doc_id").reset_index(drop=True)
        self.ids = merged["doc_id"].astype(np.int64).tolist()
        self.texts = merged["text"].tolist()
        self.url_of = dict(zip(merged["doc_id"].tolist(), merged["url"].tolist()))
        self.langs = merged["lang"].tolist()
        self._memo = {t: analyze(t) for t in self.texts}
        self.df: dict[str, int] = {}
        for toks in self._memo.values():
            for tok in set(toks):
                self.df[tok] = self.df.get(tok, 0) + 1
        self.vocab = sorted(self.df)
        self._recon_memo: dict[tuple, list] = {}

    def _an(self, text: str) -> list[str]:
        hit = self._memo.get(text)
        return hit if hit is not None else analyze(text)

    def search(self, text: str, k: int, mode: str) -> list[tuple[int, float]]:
        """Expected ``IndexSearcher.search`` hits as (doc_id, score)."""
        if mode == "phrase":
            return brute_force_phrase_topk(self.ids, self.texts, text, k, analyzer=self._an)
        if mode == "fuzzy":
            qterms = set(analyze_name(text))
            expanded = [v for v in self.vocab if any(within_edit1(v, t) for t in qterms)]
            return brute_force_topk(self.ids, self.texts, " ".join(expanded), k, analyzer=self._an)
        return brute_force_topk(
            self.ids, self.texts, text, k, analyzer=self._an,
            query_analyzer=analyze_name if mode == "recon" else analyze,
            conjunctive=mode == "bool_and",
        )

    def postings_volume(self, texts) -> int:
        """Postings a freetext batch scores: per query, the document
        frequencies of its distinct analyzed terms, summed."""
        return sum(sum(self.df.get(t, 0) for t in set(analyze(q))) for q in texts)

    def reconcile(self, query: str, limit: int, lang: str | None) -> list[tuple[str, float]]:
        """Expected reconciliation candidates as (url, score); remembered
        per (query, limit, lang), since batches repeat entity names."""
        key = (query, limit, lang)
        if key not in self._recon_memo:
            self._recon_memo[key] = self._reconcile(query, limit, lang)
        return self._recon_memo[key]

    def _reconcile(self, query: str, limit: int, lang: str | None) -> list[tuple[str, float]]:
        include = None
        if lang is not None:
            include = [d for d, lg in zip(self.ids, self.langs) if lg == lang]
        hits = brute_force_topk(
            self.ids, self.texts, query, limit, analyzer=self._an,
            query_analyzer=analyze_name, include=include,
        )
        return [(self.url_of[d], s) for d, s in hits]


def recon_lang(q: dict) -> str | None:
    for p in q.get("properties") or ():
        if p.get("pid") == "lang":
            return str(p.get("v"))
    return None


def recon_hits(result: dict, qid: str) -> list[tuple[str, float]]:
    return [(h["id"], h["score"]) for h in result.get(qid, {}).get("result", [])]


def stale_hits(hit_terms: list[set[str]], query_terms: set[str]) -> int:
    """Hits whose live text holds none of the query's terms. A correct
    index never returns such a hit for an OR query; a superseded version
    of a re-crawled page would."""
    return sum(1 for terms in hit_terms if not terms & query_terms)
