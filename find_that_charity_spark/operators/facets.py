"""D8 — faceted search analytics over the MATCH SET (not the top-k).

The ES terms-aggregation analog (`"aggs": {"by_lang": {"terms":
{"field": "lang"}}}` under a query): count every live document matching
ANY analyzed query term, grouped by a docs-table column. This is the
"search + analytics in one engine" surface — e.g. find-that-charity's
count-by-source/org-type panels next to the result list.

Spark-first plan, 100-TB posture:

- dictionary probe: pushed IN-list on the (tiny) query-term set — the
  scan reads only matching row groups, no shuffle;
- segments scan (``query.pruned_segments``): ``bucket IN (...)``
  partition filter + term IN-list, postings blobs of non-matching terms
  never leave parquet;
- decode: one numpy kernel, :func:`_match_set_kernel` (the codec the
  scorer uses, never per-row Python), which also drops tombstoned ids.
  Within the driver budget (``query._fits_driver_budget``) it runs
  in-process on the collected rows and the ids become a local relation;
  over it, under Arrow ``mapInPandas`` in executors, followed by one
  ``distinct`` shuffle over MATCHED ids only (bounded by the union of
  the query terms' df, not the corpus);
- facet join: matched ids x docs on doc_id, left to AQE — it broadcasts
  the id side when small and falls back to a shuffle join when a stop-
  word-sized match set genuinely needs one.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from find_that_charity_spark.functions.analyzer import analyze, analyze_name
from find_that_charity_spark.functions.codec import decode_postings
from find_that_charity_spark.operators import query
from find_that_charity_spark.operators.query import cached_parquet
from find_that_charity_spark.plans.checkpoint import check_format

_IDS_SCHEMA = "doc_id long"


def _match_set_kernel(tomb: np.ndarray):
    """Segment rows (postings, blockmax) -> their distinct doc ids minus
    the tombstones ``tomb``. Run in-process or under mapInPandas."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        chunks = [np.empty(0, dtype=np.int64)]
        for postings, blockmax in zip(pdf["postings"], pdf["blockmax"]):
            bm = [
                (b["last_doc"], b["max_tf"], b["min_dl"], b["offset"], b["n"])
                for b in blockmax
            ]
            chunks.append(decode_postings(postings, bm, with_positions=False)[0])
        ids = np.unique(np.concatenate(chunks))
        if tomb.size:
            ids = np.setdiff1d(ids, tomb)
        return pd.DataFrame({"doc_id": ids})

    return kernel


def _matched_live_ids(
    spark: SparkSession, index_dir: str, terms: list[str]
) -> DataFrame | None:
    """Distinct live doc_ids matching ANY of ``terms`` (the ES filter-
    context match set): dictionary probe -> pruned segments -> the match-
    set kernel, on the driver or in executors. None when no term is in
    the dictionary."""
    by_term = query.probe_dictionary(spark, index_dir, terms)
    if not by_term:
        return None
    rel = query.pruned_segments(
        cached_parquet(spark, f"{index_dir}/segments"), by_term
    ).select("postings", "blockmax")
    kernel = _match_set_kernel(query.read_tombstones(spark, index_dir))
    if query._fits_driver_budget(sum(df for df, _ in by_term.values())):
        ids = kernel(pd.DataFrame(rel.collect(), columns=rel.columns))
        return spark.createDataFrame(ids, _IDS_SCHEMA)
    return rel.mapInPandas(lambda it: map(kernel, it), _IDS_SCHEMA).distinct()


def facet_counts(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    facet_col: str = "lang",
    mode: str = "freetext",
) -> DataFrame:
    """(facet, matches) for every live doc matching ANY analyzed term of
    ``query_text`` (OR semantics — ES filter context + terms agg). The
    facet value is cast to string; NULL facets group as NULL, matching
    SQL GROUP BY."""
    check_format(index_dir)
    analyzer = analyze_name if mode == "recon" else analyze
    terms = sorted(set(analyzer(query_text)))
    docs = cached_parquet(spark, f"{index_dir}/docs")
    empty = docs.select(
        F.col(facet_col).cast("string").alias("facet"),
        F.lit(0).cast("long").alias("matches"),
    ).limit(0)
    if not terms:
        return empty
    ids = _matched_live_ids(spark, index_dir, terms)
    if ids is None:
        return empty
    return (
        docs.join(ids, "doc_id")
        .groupBy(F.col(facet_col).cast("string").alias("facet"))
        .agg(F.count(F.lit(1)).cast("long").alias("matches"))
    )


def search_after_page(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    sort_col: str,
    after: tuple | None = None,
    k: int = 10,
    mode: str = "freetext",
) -> DataFrame:
    """ES ``search_after`` pagination over the match set, sorted by
    (``sort_col`` DESC, doc_id ASC).

    ``after`` is the cursor — the (sort_value, doc_id) of the LAST row of
    the previous page; rows strictly after it in sort order form the next
    page. Unlike from+size, a deep page never materializes its prefix:
    the cursor predicate is a pushable filter on the joined docs rows, so
    page 1000 costs the same one small top-k as page 1 (the exact reason
    ES recommends search_after at depth).

    Output: (doc_id, sort_key) — ``sort_key`` is ``sort_col`` cast to
    long (numeric sort keys only, matching the quantized-gate contract).
    """
    check_format(index_dir)
    analyzer = analyze_name if mode == "recon" else analyze
    terms = sorted(set(analyzer(query_text)))
    docs = cached_parquet(spark, f"{index_dir}/docs")
    empty = docs.select(
        F.col("doc_id").cast("long"),
        F.col(sort_col).cast("long").alias("sort_key"),
    ).limit(0)
    if not terms:
        return empty
    ids = _matched_live_ids(spark, index_dir, terms)
    if ids is None:
        return empty
    page = docs.join(ids, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col(sort_col).cast("long").alias("sort_key"),
    )
    if after is not None:
        a_key, a_id = int(after[0]), int(after[1])
        page = page.where(
            (F.col("sort_key") < a_key)
            | ((F.col("sort_key") == a_key) & (F.col("doc_id") > a_id))
        )
    return page.orderBy(F.desc("sort_key"), F.asc("doc_id")).limit(k)


def facet_cardinality(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    facet_col: str,
    mode: str = "freetext",
) -> DataFrame:
    """ES ``cardinality`` aggregation analog, EXACT flavor: the number of
    distinct ``facet_col`` values among live docs matching ANY analyzed
    query term. (ES approximates with HyperLogLog++ above a threshold;
    Spark's exact count_distinct is one partial-agg shuffle over the
    match set — bounded by the query's df — so the exact form IS the
    scale path here; `approx_count_distinct` remains available for
    corpus-wide cardinalities.) Output: one row (distinct_values bigint).
    """
    check_format(index_dir)
    analyzer = analyze_name if mode == "recon" else analyze
    terms = sorted(set(analyzer(query_text)))
    docs = cached_parquet(spark, f"{index_dir}/docs")
    if terms:
        ids = _matched_live_ids(spark, index_dir, terms)
    else:
        ids = None
    if ids is None:
        return spark.createDataFrame([(0,)], "distinct_values bigint")
    return (
        docs.join(ids, "doc_id")
        .agg(
            F.count_distinct(F.col(facet_col))
            .cast("bigint")
            .alias("distinct_values")
        )
    )


def facet_top_hits(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    facet_col: str,
    sort_col: str,
    k_per_facet: int = 3,
    mode: str = "freetext",
) -> DataFrame:
    """ES ``top_hits`` sub-aggregation analog: for every facet bucket of
    the match set, the top ``k_per_facet`` documents by
    (``sort_col`` DESC, doc_id ASC).

    Plan: the shared pruned match-set pipeline (:func:`_matched_live_ids`)
    joined to the docs table, then ONE window (`row_number` partitioned by
    facet) — rank-within-group never materializes more than the match
    set, and at scale the window's facet-hash shuffle is bounded by the
    query's df, not the corpus. Output: (facet string, pos int,
    doc_id bigint, sort_key bigint).
    """
    from pyspark.sql import Window

    check_format(index_dir)
    analyzer = analyze_name if mode == "recon" else analyze
    terms = sorted(set(analyzer(query_text)))
    docs = cached_parquet(spark, f"{index_dir}/docs")
    empty = docs.select(
        F.col(facet_col).cast("string").alias("facet"),
        F.lit(0).cast("int").alias("pos"),
        F.col("doc_id").cast("long"),
        F.col(sort_col).cast("long").alias("sort_key"),
    ).limit(0)
    if not terms:
        return empty
    ids = _matched_live_ids(spark, index_dir, terms)
    if ids is None:
        return empty
    w = Window.partitionBy("facet").orderBy(
        F.desc("sort_key"), F.asc("doc_id")
    )
    return (
        docs.join(ids, "doc_id")
        .select(
            F.col(facet_col).cast("string").alias("facet"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col(sort_col).cast("long").alias("sort_key"),
        )
        .withColumn("pos", F.row_number().over(w).cast("int"))
        .where(F.col("pos") <= k_per_facet)
        .select("facet", "pos", "doc_id", "sort_key")
    )


def significant_terms(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    query_text: str,
    n: int = 10,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """ES significant_terms analog: terms over-represented in the match
    set vs the whole corpus, scored with the JLH heuristic

        score = (fg_rate - bg_rate) * (fg_rate / bg_rate)

    where fg_rate = fg/|match set| (docs in the match set containing the
    term) and bg_rate = df/N (the dictionary's corpus df). Output:
    (term, fg_count, bg_count, score_mil) — top ``n`` by (score DESC,
    term ASC); score is pure rational double arithmetic (no libm), so
    both engines compute bit-identical values.

    ``corpus`` must hold ONE row per live url (the deduped stored-field
    view — a duplicate url would double-count its terms in fg).

    Plan: match-set ids from the index (same pruned path as facets),
    mapped to stored rows via the docs table's url identity (A2); ONLY
    matched docs are re-analyzed (the ES "sampled term vectors" analog —
    fg work is bounded by the query's df, not the corpus); bg df is a
    dictionary join, no second corpus pass.
    """
    check_format(index_dir)
    terms = sorted(set(analyze(query_text)))
    out_schema = "term string, fg_count bigint, bg_count bigint, score_mil bigint"
    if not terms:
        return spark.createDataFrame([], out_schema)
    ids = _matched_live_ids(spark, index_dir, terms)
    if ids is None:
        return spark.createDataFrame([], out_schema)
    ids = ids.localCheckpoint()  # three consumers: count + join + nothing else re-decodes
    fg_total = ids.count()
    if fg_total == 0:
        return spark.createDataFrame([], out_schema)
    stats = cached_parquet(spark, f"{index_dir}/corpus_stats").collect()[0]
    n_docs = int(stats["n_docs"])
    docs_tbl = cached_parquet(spark, f"{index_dir}/docs").select(
        "doc_id", F.col("url").alias("__u")
    )
    matched_urls = docs_tbl.join(ids, "doc_id").select("__u")
    from find_that_charity_spark.functions.analyzer import tokenize_expr

    fg = (
        corpus.join(matched_urls, corpus[url_col] == F.col("__u"), "left_semi")
        .select(F.explode(F.array_distinct(tokenize_expr(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("fg"))
    )
    bg = cached_parquet(spark, f"{index_dir}/dictionary").select("term", "df")
    fg_rate = F.col("fg") / F.lit(float(fg_total))
    bg_rate = F.col("df") / F.lit(float(n_docs))
    return (
        fg.join(bg, "term")
        .withColumn("score", (fg_rate - bg_rate) * (fg_rate / bg_rate))
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(n)
        .select(
            "term",
            F.col("fg").cast("bigint").alias("fg_count"),
            F.col("df").cast("bigint").alias("bg_count"),
            F.floor(F.col("score") * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .alias("score_mil"),
        )
    )


def facet_histogram(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    value_col: str,
    interval: int,
    mode: str = "freetext",
) -> DataFrame:
    """(bucket_lo, matches) — the ES histogram-aggregation analog over the
    match set: live docs matching ANY analyzed query term, bucketed by
    ``floor(value/interval)*interval`` of a numeric docs-table column.
    Same plan as :func:`facet_counts` (the groupBy key is the only
    difference — one small shuffle over matched rows)."""
    check_format(index_dir)
    analyzer = analyze_name if mode == "recon" else analyze
    terms = sorted(set(analyzer(query_text)))
    docs = cached_parquet(spark, f"{index_dir}/docs")
    bucket_lo = (
        F.floor(F.col(value_col) / F.lit(interval)) * F.lit(interval)
    ).cast("long").alias("bucket_lo")
    empty = docs.select(bucket_lo, F.lit(0).cast("long").alias("matches")).limit(0)
    if not terms:
        return empty
    ids = _matched_live_ids(spark, index_dir, terms)
    if ids is None:
        return empty
    return (
        docs.join(ids, "doc_id")
        .groupBy(bucket_lo)
        .agg(F.count(F.lit(1)).cast("long").alias("matches"))
    )
