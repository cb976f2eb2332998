"""D9 — highlight / snippet generation for top-k results.

The ES highlight analog, split exactly the way Lucene splits it:

- **first_hit** comes from the INDEX's positional postings (the fast-
  vector-highlighter model: term vectors are stored at build time, the
  highlighter never re-analyzes the document). One kernel,
  :func:`_first_hit_kernel`, decodes the query terms' pruned segment rows
  (``query.pruned_segments``: bucket, term and doc-range overlap with
  the k result ids) with the phrase scorer's numpy block decoder. Within
  the driver budget (``query._fits_driver_budget``) it runs in-process
  on the collected rows; over it, under ``mapInPandas`` in executors,
  reduced to one ``min(pos0)`` row per result doc before the collect;
- **snippet** re-analyzes the STORED field of only the k result rows (the
  plain-highlighter model): one pushed IN-list probe of the corpus, then
  ``analyze`` — the tokenization the postings' positions count, so
  first_hit indexes the same token stream on any text, ASCII or not — and
  the window slice on the driver, for both routes — never a scan-wide
  tokenize.

Both are exact and deterministic; a test pins first_hit-from-postings ==
first_hit-from-re-analysis, which is also what makes the DuckDB oracle
(which only has the text) a fair twin of the postings path.

100-TB posture: the per-query work after top-k is O(k) corpus rows + the
query terms' postings blocks that overlap the k doc ids (block skip
pointers drop the rest) — independent of corpus size.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from find_that_charity_spark.functions.analyzer import analyze
from find_that_charity_spark.operators import query
from find_that_charity_spark.operators.query import (
    _decode_cursor_positions,
    _make_cursor,
    _member_mask,
)
from find_that_charity_spark.plans.checkpoint import check_format

_HIT_SCHEMA = "doc_id long, pos0 long"


def _first_hit_kernel(ids_sorted: np.ndarray):
    """Segment rows (has_positions, postings, blockmax) -> (doc_id, pos0):
    the first 0-based position of each row's term in each doc of
    ``ids_sorted`` it holds. Run in-process or under mapInPandas."""
    lo, hi = int(ids_sorted[0]), int(ids_sorted[-1]) + 1

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        doc_l, pos_l = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        for has_pos, blob, blockmax in zip(
            pdf["has_positions"], pdf["postings"], pdf["blockmax"]
        ):
            if not has_pos:
                raise ValueError(
                    "highlight_topk needs a positional index "
                    "(BuildConfig.positions=True)"
                )
            c = _make_cursor(0.0, blob, blockmax, 1.0)
            docs, tfs, _dls, pos = _decode_cursor_positions(c, lo, hi)
            mask = _member_mask(ids_sorted, docs)
            # positions are per-doc ascending; the first occurrence of
            # this term in doc i is the head of its flat-position slice
            bounds = np.concatenate([[0], np.cumsum(tfs)]).astype(np.int64)
            doc_l.append(docs[mask])
            pos_l.append(pos[bounds[:-1][mask]])
        return pd.DataFrame(
            {"doc_id": np.concatenate(doc_l), "pos0": np.concatenate(pos_l)}
        )

    return kernel


def highlight_topk(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    query_text: str,
    k: int = 10,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_to_id=None,
) -> DataFrame:
    """BM25 top-k with highlight info per hit.

    Output (one row per result): (doc_id bigint — CORPUS id, rank int,
    score_mil bigint, first_hit int — 1-based token offset of the
    earliest query-term occurrence, snippet string — ``window`` analyzed
    tokens starting at first_hit, space-joined).

    ``corpus`` is the stored-field table (C1 scan); ``url_to_id`` maps a
    result url back to its ``id_col`` value (default: trailing digits).
    """
    if url_to_id is None:
        url_to_id = lambda u: int(re.search(r"(\d+)$", u).group(1))  # noqa: E731
    check_format(index_dir)
    terms = sorted(set(analyze(query_text)))
    qrows = [{"qid": "hq", "text": query_text, "k": k, "mode": "freetext"}]
    qdf = spark.createDataFrame(
        [("hq", query_text, k, "freetext")],
        "qid string, text string, k int, mode string",
    )
    # top-k rows are tiny (k) — driver-side from here on
    res = query.run_queries(spark, index_dir, qdf, use_bmw=True, join_urls=True,
                            prefetched_qrows=qrows)
    top = res.select("rank", "doc_id", "score", "url").collect()
    out_schema = (
        "doc_id bigint, rank int, score_mil bigint, first_hit int, "
        "snippet string"
    )
    if not top:
        return spark.createDataFrame([], out_schema)
    ids_sorted = np.array(sorted(int(r["doc_id"]) for r in top), dtype=np.int64)

    # first hits: the query terms' positional postings, pruned to the
    # segments overlapping the k ids (dictionary probe mtime-cached
    # driver-side — zero jobs warm, r06)
    by_term = query.probe_dictionary(spark, index_dir, terms)
    rel = query.pruned_segments(
        query.cached_parquet(spark, f"{index_dir}/segments"), by_term,
        (ids_sorted[0], ids_sorted[-1]),
    ).select("has_positions", "postings", "blockmax")
    kernel = _first_hit_kernel(ids_sorted)
    if query._fits_driver_budget(sum(df for df, _ in by_term.values())):
        hits = kernel(pd.DataFrame(rel.collect(), columns=rel.columns))
        first_hit_of = hits.groupby("doc_id")["pos0"].min().to_dict()
    else:
        first_hit_of = {
            r["doc_id"]: r["pos0"]
            for r in rel.mapInPandas(lambda it: map(kernel, it), _HIT_SCHEMA)
            .groupBy("doc_id")
            .agg(F.min("pos0").alias("pos0"))
            .collect()
        }

    # snippets: the k stored rows, re-analyzed and sliced at first_hit
    corpus_ids = sorted({url_to_id(r["url"]) for r in top})
    toks_of = {
        int(r[0]): analyze(r[1])
        for r in corpus.where(query.in_list(id_col, corpus_ids))
        .select(id_col, text_col)
        .collect()
    }
    out_rows = []
    for r in top:
        d = int(r["doc_id"])
        cid = url_to_id(r["url"])
        # inner-join semantics: a top doc missing a first hit or a stored
        # row drops its row
        if d not in first_hit_of or cid not in toks_of:
            continue
        fh = int(first_hit_of[d]) + 1  # 1-based
        snippet = " ".join(toks_of[cid][fh - 1 : fh - 1 + window])
        out_rows.append(
            (cid, int(r["rank"]), int(np.floor(r["score"] * 1e4 + 0.5)), fh, snippet)
        )
    if not out_rows:
        return spark.createDataFrame([], out_schema)
    return spark.createDataFrame(
        pd.DataFrame(
            out_rows, columns=["doc_id", "rank", "score_mil", "first_hit", "snippet"]
        ),
        schema=out_schema,
    )
