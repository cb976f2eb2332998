"""Seeded input generator for the benchmark.

Everything the engine receives is made here from ``--seed``: the web-page
corpus, the search and reconciliation queries, and the re-crawl rounds of
the lifecycle workload. The corpus follows the shape of the repository's
fixture synthesizer (``sources/synth.py``): a 1,000-term vocabulary drawn
with Zipf(a=1.3) skew, five planted multi-word entity names, ~10% of tokens
mangled with case and punctuation, ~1% duplicate urls, and five languages.
The generator is self-contained so that a change to the program cannot
change the benchmark's inputs.
"""

from __future__ import annotations

import zlib
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

VOCAB_SIZE = 1000
ZIPF_A = 1.3
HEAD_TERMS = 10
HOSTS = [f"src{i}" for i in range(20)]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.40, 0.16, 0.16, 0.15, 0.13]
ENTITY_NAMES = [
    "acme charitable trust",
    "bromley relief fund",
    "north star education society",
    "green valley hospice care",
    "royal albion benevolent",
]
# typos one edit away from an entity word (fuzzy mode): substitutions,
# deletions and insertions
ENTITY_TYPOS = [
    "charitible", "trusst", "bromly", "relif", "fnd", "nortth",
    "educaton", "societty", "gren", "valey", "hospise", "carre",
    "royall", "albian", "benevolant", "acne",
]
BASE_TS = datetime(2024, 1, 1)
VOCAB = np.array([f"w{i:04d}" for i in range(VOCAB_SIZE)])

# Call shapes. The shares the repository's reference query set has
# (``sources/synth.py:synth_queries``, FIXTURES.md section 2) are copied:
# 40 freetext to 10 recon queries, 3 in 10 recon names case/accent-mangled,
# and k=1 at positions 0, 7, 14 and k=100 at 21, 28 of every 50 calls (10
# otherwise). The reference set has no bool_and, -neg/^boost, phrase or
# fuzzy queries and no property filters; for those one rule is assumed,
# not taken from traffic: each uncovered mode gets recon's share, and each
# uncovered either/or choice (filtered query or not, phrase of an entity
# name or of a page span) is split evenly.
MODE_CYCLE = [
    "freetext", "recon", "freetext", "bool_and", "freetext", "negboost",
    "freetext", "phrase", "fuzzy",
]
K_EDGE = {0: 1, 7: 1, 14: 1, 21: 100, 28: 100}
K_PERIOD = 50
NAME_MANGLES = (str.upper, lambda s: s.replace("a", "á"), str.title)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent, reproducible stream per input component."""
    return np.random.default_rng([int(seed), zlib.crc32(stream.encode("utf-8"))])


def zipf_terms(rng: np.random.Generator, k: int) -> np.ndarray:
    """``k`` vocabulary ids, Zipf-distributed, rejected down to the vocab."""
    out = np.empty(k, dtype=np.int64)
    filled = 0
    while filled < k:
        cand = rng.zipf(ZIPF_A, size=(k - filled) * 2 + 8)
        cand = cand[cand <= VOCAB_SIZE] - 1
        take = min(len(cand), k - filled)
        out[filled : filled + take] = cand[:take]
        filled += take
    return out


def _mangle(rng: np.random.Generator, toks: list[str]) -> list[str]:
    out = []
    for t, r, style in zip(toks, rng.random(len(toks)), rng.integers(0, 4, len(toks))):
        if r >= 0.10:
            out.append(t)
        elif style == 0:
            out.append(t.upper())
        elif style == 1:
            out.append(t.capitalize() + ",")
        elif style == 2:
            out.append(t + ".")
        else:
            out.append(f"({t})")
    return out


def _doc_text(rng: np.random.Generator, entity: str | None) -> str:
    n = int(rng.integers(8, 121))
    toks = _mangle(rng, VOCAB[zipf_terms(rng, n)].tolist())
    if entity is not None:
        pos = int(rng.integers(0, len(toks) + 1))
        toks[pos:pos] = entity.split()
    return " ".join(toks)


def _frame(urls, tss, texts, langs) -> pd.DataFrame:
    df = pd.DataFrame({"url": urls, "warc_ts": tss, "text": texts, "lang": langs})
    df["html"] = [b"<html><body>" + t.encode("utf-8") + b"</body></html>" for t in texts]
    return df[["url", "warc_ts", "html", "text", "lang"]]


def make_corpus(n_docs: int, seed: int, stream: str = "corpus") -> pd.DataFrame:
    """``n_docs`` distinct urls plus ~1% older duplicate captures.

    Each entity name is planted in a disjoint set of ~n_docs/50 pages, so
    reconciliation queries have known answers."""
    rng = rng_for(seed, stream)
    per_entity = max(3, n_docs // 50)
    perm = rng.permutation(n_docs)
    entity_of = {
        int(d): name
        for e, name in enumerate(ENTITY_NAMES)
        for d in perm[e * per_entity : (e + 1) * per_entity]
    }
    hosts = rng.choice(HOSTS, size=n_docs)
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    offs = rng.exponential(3600.0, size=n_docs).cumsum()
    urls = [f"https://{hosts[i]}/{stream}/{i:08d}" for i in range(n_docs)]
    tss = [BASE_TS + timedelta(seconds=float(o)) for o in offs]
    texts = [_doc_text(rng, entity_of.get(i)) for i in range(n_docs)]
    lang_l = langs.tolist()
    # ~1% duplicate urls: an OLDER capture with shuffled text, which the
    # build's dedup must drop
    for i in rng.choice(n_docs, size=max(1, n_docs // 100), replace=False):
        words = texts[i].split()
        rng.shuffle(words)
        urls.append(urls[i])
        tss.append(tss[i] - timedelta(days=1))
        texts.append(" ".join(words))
        lang_l.append(lang_l[i])
    return _frame(urls, tss, texts, lang_l)


def live_view(pages: pd.DataFrame) -> pd.DataFrame:
    """The latest capture per url: what a correct index must serve."""
    return (
        pages.sort_values(["url", "warc_ts"])
        .groupby("url", sort=False)
        .tail(1)
        .reset_index(drop=True)
    )


def make_round(live: pd.DataFrame, seed: int, rnd: int, n_updated: int, n_new: int) -> pd.DataFrame:
    """One re-crawl round: ``n_updated`` live urls captured again later with
    new text (half of them with a different planted entity, so a stale
    version answering an entity query is detectable), plus ``n_new`` urls
    the index has never seen."""
    rng = rng_for(seed, f"round{rnd}")
    picks = rng.choice(len(live), size=n_updated, replace=False)
    upd = live.iloc[np.sort(picks)]
    later = live["warc_ts"].max() + timedelta(days=1 + rnd)
    urls, tss, texts, langs = [], [], [], []
    for url, lang in zip(upd["url"], upd["lang"]):
        ent = ENTITY_NAMES[int(rng.integers(len(ENTITY_NAMES)))] if rng.random() < 0.5 else None
        urls.append(url)
        tss.append(later)
        texts.append(_doc_text(rng, ent))
        langs.append(lang)
    hosts = rng.choice(HOSTS, size=n_new)
    for i in range(n_new):
        ent = ENTITY_NAMES[int(rng.integers(len(ENTITY_NAMES)))] if rng.random() < 0.1 else None
        urls.append(f"https://{hosts[i]}/r{rnd}/{i:08d}")
        tss.append(later + timedelta(seconds=i))
        texts.append(_doc_text(rng, ent))
        langs.append(str(rng.choice(LANGS, p=LANG_P)))
    return _frame(urls, tss, texts, langs)


def apply_round(live: pd.DataFrame, rnd_pages: pd.DataFrame) -> pd.DataFrame:
    return live_view(pd.concat([live, rnd_pages], ignore_index=True))


def _recon_name(rng: np.random.Generator, ordinal: int) -> str:
    """The ``ordinal``-th entity name a client asks for: three in ten are
    mangled (upper case, accents, title case), as in the reference set."""
    name = ENTITY_NAMES[int(rng.integers(len(ENTITY_NAMES)))]
    style = ordinal % 10
    return NAME_MANGLES[style](name) if style < len(NAME_MANGLES) else name


def _zipf_words(rng: np.random.Generator, n: int, head: bool) -> list[str]:
    words = VOCAB[zipf_terms(rng, n)].tolist()
    if head:
        words[0] = str(VOCAB[int(rng.integers(HEAD_TERMS))])
    return words


def make_search(rng: np.random.Generator, live_texts: list[str], slot: int) -> tuple[str, int, str]:
    """The ``slot``-th search call of a client: (text, k, mode).

    The slot fixes the shape of the call (mode, term count, whether a head
    term leads, k); the seed picks its terms. Every run therefore serves
    the same mix of shapes, and only the content varies with the seed."""
    turn, pos = divmod(slot, len(MODE_CYCLE))
    kind = MODE_CYCLE[pos]
    # how many calls of this kind came before: it picks the variant
    nth = turn * MODE_CYCLE.count(kind) + MODE_CYCLE[:pos].count(kind)
    k = K_EDGE.get(slot % K_PERIOD, 10)
    if kind == "freetext":
        # 1-4 terms, half led by a head term: every pairing once in 8 calls
        words = _zipf_words(rng, 1 + nth % 4, (nth + nth // 4) % 2 == 0)
        return " ".join(words), k, "freetext"
    if kind == "recon":
        return _recon_name(rng, nth), k, "recon"
    if kind == "bool_and":
        ids = rng.integers(HEAD_TERMS, 60, size=2 + nth % 2)
        return " ".join(VOCAB[ids].tolist()), k, "bool_and"
    if kind == "negboost":
        a, b, c = _zipf_words(rng, 3, nth % 2 == 0)
        return f"{a} {b}^{2 + nth % 2} -{c}", k, "freetext"
    if kind == "phrase":
        if nth % 2 == 0:
            return ENTITY_NAMES[int(rng.integers(len(ENTITY_NAMES)))], k, "phrase"
        words = live_texts[int(rng.integers(len(live_texts)))].split()
        n = 2 + (nth // 2) % 2
        s = int(rng.integers(0, max(1, len(words) - n)))
        return " ".join(words[s : s + n]), k, "phrase"
    return ENTITY_TYPOS[int(rng.integers(len(ENTITY_TYPOS)))], k, "fuzzy"


def make_recon_batch(rng: np.random.Generator, ordinal: int, size: int = 10) -> dict:
    """The ``ordinal``-th OpenRefine reconciliation batch of a client:
    ``size`` entity names, three in ten mangled, each asking for 10
    candidates (the reference k). Every other query carries a ``lang``
    property filter, as OpenRefine sends when the property column is blank
    on half the rows; the filter's language is fixed by ``ordinal``, the
    seed picks the names."""
    lang = LANGS[ordinal % len(LANGS)]
    batch = {}
    for i in range(size):
        q = {"query": _recon_name(rng, i), "limit": 10, "type": "web_page"}
        if i % 2 == 1:
            q["properties"] = [{"pid": "lang", "v": lang}]
        batch[f"q{i}"] = q
    return batch


def make_bulk(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """A re-match batch for ``run_queries``: ``n`` freetext queries of 1-4
    Zipf terms, each led by a head term, so the batch's postings exceed the
    driver-scoring budget and it is scored by the distributed route."""
    rows = []
    for i in range(n):
        words = _zipf_words(rng, 1 + i % 4, True)
        rows.append((f"b{i:05d}", " ".join(words), K_EDGE.get(i % K_PERIOD, 10), "freetext"))
    return pd.DataFrame(rows, columns=["qid", "text", "k", "mode"])
