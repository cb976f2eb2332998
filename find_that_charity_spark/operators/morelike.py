"""D10 — more_like_this: find documents similar to a given document.

The ES ``more_like_this`` analog (Lucene MoreLikeThis [public]): select
the source document's most characteristic terms by tf·idf, then run them
as a plain OR BM25 query, excluding the source document itself.

Determinism contract (so a DuckDB oracle can hash-match):
- term selection: top ``m`` by (tf·idf DESC, term ASC) — the explicit
  tie-break replaces Lucene's priority-queue nondeterminism;
- idf from the LIVE dictionary (equals corpus df on a freshly built or
  vacuumed index — the same freshness contract the scorer documents);
- exclusion rides the ES filter-context hook (``exclude_doc_ids`` in
  run_queries): scoring stats are unaffected, results are the exact
  top-k of the allowed set.

100-TB posture: the source text is ONE stored row (the caller passes it
or fetches it with a pushed point-filter); term stats are one pushed
IN-list dictionary probe; the query itself is the normal pruned-segment
OR path. Nothing scales with corpus size except the final query.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from find_that_charity_spark.functions.analyzer import analyze
from find_that_charity_spark.functions.bm25 import idf_np
from find_that_charity_spark.operators.query import (
    cached_parquet,
    in_list,
    load_stats,
    run_queries,
)
from find_that_charity_spark.plans.checkpoint import check_format


def select_mlt_terms(
    spark: SparkSession, index_dir: str, text: str, m: int = 5
) -> list[str]:
    """The top-``m`` tf·idf terms of ``text`` against the index stats."""
    tf = Counter(analyze(text))
    if not tf:
        return []
    n_docs, _avgdl = load_stats(spark, index_dir)
    from find_that_charity_spark.operators.query import probe_dictionary

    dfs = {
        t: df for t, (df, _b) in probe_dictionary(spark, index_dir, sorted(tf)).items()
    }
    weighted = [
        (float(tf[t]) * float(idf_np(float(n_docs), float(dfs[t]))), t)
        for t in tf
        if t in dfs  # out-of-vocabulary terms match nothing — skip
    ]
    weighted.sort(key=lambda wt: (-wt[0], wt[1]))
    return [t for _, t in weighted[:m]]


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    text: str,
    exclude_urls: list[str] | None = None,
    m: int = 5,
    k: int = 10,
) -> DataFrame:
    """Top-``k`` docs most similar to ``text`` (the stored field of the
    source document), excluding ``exclude_urls`` (normally the source
    document itself). Output: (url string, rank int, score_mil bigint).
    """
    check_format(index_dir)
    terms = select_mlt_terms(spark, index_dir, text, m)
    out_schema = "url string, rank int, score_mil bigint"
    if not terms:
        return spark.createDataFrame([], out_schema)
    exclude_ids = None
    if exclude_urls:
        # identity is url (A2) — resolve to index doc ids with a pushed
        # IN-list point probe of the docs table
        exclude_ids = np.array(
            sorted(
                int(r["doc_id"])
                for r in cached_parquet(spark, f"{index_dir}/docs")
                .where(in_list("url", sorted(exclude_urls)))
                .collect()
            ),
            dtype=np.int64,
        )
    qrows = [{"qid": "mlt", "text": " ".join(terms), "k": k, "mode": "freetext"}]
    qdf = spark.createDataFrame(
        [("mlt", " ".join(terms), k, "freetext")],
        "qid string, text string, k int, mode string",
    )
    res = run_queries(
        spark,
        index_dir,
        qdf,
        use_bmw=True,
        join_urls=True,
        exclude_doc_ids=exclude_ids,
        prefetched_qrows=qrows,
    )
    return res.select(
        "url",
        F.col("rank").cast("int").alias("rank"),
        F.floor(F.col("score") * 1e4 + F.lit(0.5)).cast("bigint").alias("score_mil"),
    )
