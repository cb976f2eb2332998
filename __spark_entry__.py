"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Float discipline: every float-valued output column is quantized with
``floor(x * 10^d + 0.5)`` cast to BIGINT in BOTH engines, so JVM-vs-libm
last-ULP differences cannot flip the value hash. Column names are aliased
identically on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from find_that_charity_spark.functions.analyzer import ASCII_TOKEN_PATTERN, tokenize_expr
from find_that_charity_spark.functions import text as T
from find_that_charity_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    minhash_pairs_sql,
    ngram_jaccard_pairs,
    simhash_near_dups,
    simhash_pairs_sql,
)
from find_that_charity_spark.operators.relational import (
    FLAGSHIP_QUERY,
    bm25_topk,
    bm25_topk_sql,
    fuzzy_topk_sql,
    phrase_topk_sql,
    prefix_topk_sql,
    suggest_spelling_sql,
)
from find_that_charity_spark.operators.similarity import cosine_topk_brute, cosine_topk_lsh
from find_that_charity_spark.sources.corpus import read_table, widen_scan

import tempfile

from find_that_charity_spark.functions.analyzer import analyze, analyze_name
from find_that_charity_spark.operators.build import BuildConfig, build_index
from find_that_charity_spark.operators.query import run_queries

# One segment index per sf_dir, built lazily and reused across gate queries.
# id_buckets=1 makes the engine's internal doc ids coincide with the original
# documents.doc_id order (urls are zero-padded doc ids), so BM25 score ties
# break identically in the engine and the SQL oracle.
_SEG_INDEX_CACHE: dict[tuple[str, str], str] = {}


def _ensure_segment_index(
    spark: SparkSession, sf_dir: str, codec: str = "varint"
) -> str:
    """One index per (sf_dir, codec). The "pfor" twin backs the
    bm25_segments_pfor gate: same corpus, same queries, alternate
    posting-block codec (BuildConfig.block_codec) — the driver's DuckDB
    oracle then verifies the PForDelta path end-to-end, not just pytest."""
    if (sf_dir, codec) not in _SEG_INDEX_CACHE:
        idx = tempfile.mkdtemp(prefix="ftc_idx_")
        docs = read_table(spark, sf_dir, "documents")
        pages = docs.select(
            F.format_string("doc://%08d", "doc_id").alias("url"),
            F.lit("2024-01-01").cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            "lang",
        )
        build_index(
            spark,
            pages,
            idx,
            BuildConfig(
                num_buckets=8, id_buckets=1, max_postings_per_segment=5000,
                positions=True,  # phrase-query gate needs positional postings
                aqe_coalesce=True,  # toy-corpus setting (see BuildConfig)
                block_codec=codec,
            ),
        )
        _SEG_INDEX_CACHE[(sf_dir, codec)] = idx
    return _SEG_INDEX_CACHE[(sf_dir, codec)]


# Document-update gates (VERDICT r03 item 1): one base index per sf_dir is
# re-crawled (docs with doc_id % 17 == 0 get brand-new text with a marker
# term and a newer warc_ts) through the STREAMING append path, which
# tombstones the superseded rows. Stage "updated" keeps the tombstones
# (queries exclude them at scoring); stage "vacuumed" runs vacuum_index
# (physical drop + exact df/avgdl). Both stages are score-exact vs the
# DuckDB oracle over the post-update corpus for the marker query; the
# flagship gate needs the vacuumed stage (stale df before it — the same
# drift ES tolerates between merges).
_UPDATED_INDEX_CACHE: dict[str, dict] = {}

# text for an updated doc — MUST tokenize identically in Spark and DuckDB:
#   'zzupdated revision of page <doc_id>' + (doc_id % 3) extra markers,
# so tf in {1,2,3} and dl in {5,6,7} vary by doc (scores form classes)
def _updated_text_expr():
    return F.concat(
        F.lit("zzupdated revision of page "),
        F.col("doc_id").cast("string"),
        F.expr("repeat(' zzupdated', CAST(pmod(doc_id, 3) AS INT))"),
    )
_UPDATED_TABLE_SQL = """(
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0
              THEN 'zzupdated revision of page ' || CAST(doc_id AS VARCHAR)
                   || repeat(' zzupdated', CAST(doc_id % 3 AS INT))
              ELSE text END AS text
  FROM documents)"""


def _ensure_updated_index(
    spark: SparkSession, sf_dir: str, vacuumed: bool, tiered: bool = False
) -> str:
    from find_that_charity_spark.operators.vacuum import vacuum_index
    from find_that_charity_spark.streaming.incremental import incremental_refresh

    state = _UPDATED_INDEX_CACHE.get(sf_dir)
    if state is None:
        idx = tempfile.mkdtemp(prefix="ftc_updidx_")
        docs = read_table(spark, sf_dir, "documents")
        pages = docs.select(
            F.format_string("doc://%08d", "doc_id").alias("url"),
            F.lit("2024-01-01").cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            "lang",
        )
        build_index(
            spark, pages, idx,
            BuildConfig(num_buckets=8, id_buckets=1, max_postings_per_segment=5000,
                        positions=True, aqe_coalesce=True),
        )
        stream_dir = tempfile.mkdtemp(prefix="ftc_updstream_")
        upd = docs.where(F.pmod("doc_id", F.lit(17)) == 0)
        # two refresh rounds (urls disjoint, so n_docs/score classes are
        # identical to a single round) -> at least two chunk=stream_* dirs,
        # giving the tiered fold gate real multi-chunk input
        for half, mode in ((0, "overwrite"), (1, "append")):
            upd.where(F.pmod("doc_id", F.lit(2)) == half).select(
                F.format_string("doc://%08d", "doc_id").alias("url"),
                F.lit("2024-02-01").cast("timestamp").alias("warc_ts"),
                F.lit(None).cast("binary").alias("html"),
                _updated_text_expr().alias("text"),
                "lang",
            ).coalesce(1).write.mode(mode).parquet(stream_dir)
            incremental_refresh(spark, stream_dir, idx, num_buckets=8)
        state = {"idx": idx, "vacuumed": False, "tiered": False}
        _UPDATED_INDEX_CACHE[sf_dir] = state
    if tiered and not state.get("tiered"):
        from find_that_charity_spark.operators.build import compact_stream_chunks
        from find_that_charity_spark.streaming.incremental import refresh_stats

        n = compact_stream_chunks(spark, state["idx"], max_postings_per_segment=5000)
        assert n >= 2 or state["vacuumed"], "tiered gate expected >=2 minor chunks"
        refresh_stats(spark, state["idx"])
        state["tiered"] = True
    if vacuumed and not state["vacuumed"]:
        vacuum_index(spark, state["idx"])
        state["vacuumed"] = True
    return state["idx"]


def _q_segments_after_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query over the updated-and-vacuumed index: superseded docs
    are physically gone and df/avgdl are exact for the live corpus, so
    top-10 is rank- and score-identical to the oracle over the post-update
    corpus. Updated docs (new text lacks the flagship terms) never match —
    their absence IS the 'stale doc is gone' assertion."""
    idx = _ensure_updated_index(spark, sf_dir, vacuumed=True)
    qrows = [{"qid": "q1", "text": FLAGSHIP_QUERY, "k": 10, "mode": "freetext"}]
    qdf = spark.createDataFrame(
        [("q1", FLAGSHIP_QUERY, 10, "freetext")],
        "qid string, text string, k int, mode string",
    )
    res = run_queries(spark, idx, qdf, use_bmw=True, join_urls=True,
                      prefetched_qrows=qrows)
    return res.select(
        F.regexp_extract("url", r"doc://(\d+)", 1).cast("bigint").alias("doc_id"),
        F.col("rank").cast("int").alias("rank"),
        F.floor(F.col("score") * 1e4 + F.lit(0.5)).cast("bigint").alias("score_mil"),
    )


def _q_segments_updated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-term query over the updated index — exercises the tombstone-
    exclusion scoring path when it runs before the vacuum gate (and is
    score-exact either way: the marker term exists only in post-update
    text, so its df and the refreshed n_docs/avgdl are already exact
    pre-vacuum). Rank is omitted: updated docs score in (tf, dl) classes
    with in-class ties, and the engine's internal append ids order ties
    differently than the oracle's original doc ids — the value multiset is
    the deterministic contract. k exceeds every possible match count, so
    the cutoff never binds."""
    idx = _ensure_updated_index(spark, sf_dir, vacuumed=False)
    qrows = [{"qid": "q1", "text": "zzupdated", "k": 50_000, "mode": "freetext"}]
    qdf = spark.createDataFrame(
        [("q1", "zzupdated", 50_000, "freetext")],
        "qid string, text string, k int, mode string",
    )
    res = run_queries(spark, idx, qdf, use_bmw=True, join_urls=True,
                      prefetched_qrows=qrows)
    return res.select(
        F.regexp_extract("url", r"doc://(\d+)", 1).cast("bigint").alias("doc_id"),
        F.floor(F.col("score") * 1e4 + F.lit(0.5)).cast("bigint").alias("score_mil"),
    )


def _q_facet_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 facet gate: ES terms-aggregation analog — count every doc
    matching ANY flagship term, grouped by lang, over the segment index
    (pushed dictionary IN-list, bucket-pruned postings scan, Arrow
    decode, one distinct over matched ids; operators/facets.py)."""
    from find_that_charity_spark.operators.facets import facet_counts

    idx = _ensure_segment_index(spark, sf_dir)
    return facet_counts(spark, idx, FLAGSHIP_QUERY, facet_col="lang")


def _q_facet_lang_updated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet gate over the UPDATED index pre-vacuum: superseded rows
    still sit in the postings and DO contain flagship terms, so the
    tombstone exclusion inside facet_counts' match-set kernel is load-bearing —
    the oracle counts only the live post-update corpus."""
    from find_that_charity_spark.operators.facets import facet_counts

    idx = _ensure_updated_index(spark, sf_dir, vacuumed=False)
    return facet_counts(spark, idx, FLAGSHIP_QUERY, facet_col="lang")


def _q_facet_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 histogram facet: ES histogram-aggregation analog — matched live
    docs bucketed by floor(doc_len/16)*16 over the index's own exact
    token counts (operators/facets.py facet_histogram)."""
    from find_that_charity_spark.operators.facets import facet_histogram

    idx = _ensure_segment_index(spark, sf_dir)
    return facet_histogram(spark, idx, FLAGSHIP_QUERY, "doc_len", 16)


def _q_segments_minshould(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7+ minimum_should_match: OR query keeping only docs that match
    >= 3 of the 4 flagship terms (ES minimum_should_match; engine mode
    ``min_should:3`` — the count-filtered boolean path)."""
    return _segment_topk(spark, sf_dir, FLAGSHIP_QUERY, "min_should:3", k=10)


BOOSTED_QUERY = "spark^2 merge join^0.5 window"


def _q_segments_boosted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7+ per-term boost (Lucene ``term^2.5`` syntax): boost multiplies
    the term's idf — scores AND Block-Max upper bounds scale together, so
    WAND pruning stays exact. Repeated term takes the max boost (pinned
    contract across the distributed, driver-batch and warm paths); the
    oracle applies the identical parse and multiplies idf in SQL."""
    return _segment_topk(spark, sf_dir, BOOSTED_QUERY, "freetext", k=10)


def _q_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 highlight: top-k + first query-term hit position from the
    POSITIONAL POSTINGS (fast-vector-highlighter model) + a 5-token
    snippet sliced from the re-analyzed stored field of only the k
    result rows (operators/highlight.py)."""
    from find_that_charity_spark.operators.highlight import highlight_topk

    idx = _ensure_segment_index(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents")
    return highlight_topk(spark, idx, docs, FLAGSHIP_QUERY, k=10, window=5)


def _q_segments_filter_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES POSITIVE filter context (bool filter): flagship top-k restricted
    to lang='en' docs via run_queries(include_doc_ids=...) — the allowed
    set comes from a pushed docs-table predicate; BM25 stats stay
    corpus-wide (the oracle's IN-subselect twin proves exactness)."""
    import numpy as np

    idx = _ensure_segment_index(spark, sf_dir)
    inc = np.array(
        sorted(
            r["doc_id"]
            for r in spark.read.parquet(f"{idx}/docs")
            .where(F.col("lang") == "en")
            .select("doc_id")
            .collect()
        ),
        dtype=np.int64,
    )
    qrows = [{"qid": "q1", "text": FLAGSHIP_QUERY, "k": 10, "mode": "freetext"}]
    qdf = spark.createDataFrame(
        [("q1", FLAGSHIP_QUERY, 10, "freetext")],
        "qid string, text string, k int, mode string",
    )
    res = run_queries(spark, idx, qdf, use_bmw=True, join_urls=True,
                      include_doc_ids=inc, prefetched_qrows=qrows)
    return res.select(
        F.regexp_extract("url", r"doc://(\d+)", 1).cast("bigint").alias("doc_id"),
        F.col("rank").cast("int").alias("rank"),
        F.floor(F.col("score") * 1e4 + F.lit(0.5)).cast("bigint").alias("score_mil"),
    )


def _q_prefix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7+ prefix/wildcard query ``s*``: dictionary prefix expansion (6
    terms at this sf) scored as OR with per-expansion idf — Lucene's
    scoring_boolean multi-term rewrite (operators/recon.py prefix_topk)."""
    from find_that_charity_spark.operators.recon import prefix_topk

    idx = _ensure_segment_index(spark, sf_dir)
    res = prefix_topk(spark, idx, "s", k=10)
    return res.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("rank").cast("int").alias("rank"),
        F.floor(F.col("score") * 1e4 + F.lit(0.5)).cast("bigint").alias("score_mil"),
    )


SPELL_INPUTS = ("hast", "spart", "low")  # typos with 2 vocab neighbors each


def _q_spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12 term suggester ("did you mean"): for each misspelled input,
    dictionary terms at edit distance 1 ranked (df DESC, term ASC) —
    deletion-key equi-join probe of fuzzy_keys + exact verify, never a
    vocabulary-wide levenshtein scan (operators/recon.py
    suggest_spelling). Inputs chosen with TWO neighbors each (hast ->
    fast/hash, spart -> spark/part, low -> row/slow) so ranking by df
    is genuinely exercised."""
    from find_that_charity_spark.operators.recon import suggest_spelling

    idx = _ensure_segment_index(spark, sf_dir)
    out = None
    for t in SPELL_INPUTS:
        part = suggest_spelling(spark, idx, t, k=5).withColumn(
            "input", F.lit(t)
        )
        out = part if out is None else out.unionByName(part)
    return out.select("input", "suggestion", "df", "distance")


def _q_search_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES search_after deep pagination: page 2 of the flagship match set
    sorted by (doc_len DESC, doc_id ASC). The engine paginates with the
    page-1 cursor (never materializing the prefix); the oracle proves
    exactness with LIMIT/OFFSET over the same sort."""
    from find_that_charity_spark.operators.facets import search_after_page

    idx = _ensure_segment_index(spark, sf_dir)
    page1 = search_after_page(
        spark, idx, FLAGSHIP_QUERY, "doc_len", after=None, k=10
    ).collect()
    assert len(page1) == 10, "gate premise: match set deeper than one page"
    cursor = (int(page1[-1]["sort_key"]), int(page1[-1]["doc_id"]))
    return search_after_page(
        spark, idx, FLAGSHIP_QUERY, "doc_len", after=cursor, k=10
    )


def _q_facet_top_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 top_hits sub-aggregation: per lang bucket of the flagship match
    set, the top-3 docs by (doc_len DESC, doc_id ASC) — one window over
    the match-set join (operators/facets.py facet_top_hits)."""
    from find_that_charity_spark.operators.facets import facet_top_hits

    idx = _ensure_segment_index(spark, sf_dir)
    return facet_top_hits(spark, idx, FLAGSHIP_QUERY, "lang", "doc_len", 3)


def _q_facet_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 cardinality aggregation (exact): distinct doc_len values among
    flagship-matching live docs — the index's exact token counts, so the
    oracle recomputes them from raw text (operators/facets.py
    facet_cardinality)."""
    from find_that_charity_spark.operators.facets import facet_cardinality

    idx = _ensure_segment_index(spark, sf_dir)
    return facet_cardinality(spark, idx, FLAGSHIP_QUERY, "doc_len")


def _q_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 significant_terms: JLH-scored over-representation of terms in
    the flagship match set vs the corpus (operators/facets.py). Score is
    pure rational double arithmetic — bit-identical across engines."""
    from find_that_charity_spark.operators.facets import significant_terms

    idx = _ensure_segment_index(spark, sf_dir)
    corpus = read_table(spark, sf_dir, "documents").select(
        F.format_string("doc://%08d", "doc_id").alias("url"), "text"
    )
    return significant_terms(spark, idx, corpus, FLAGSHIP_QUERY, n=10)


MLT_SOURCE_DOC = 7  # fixed source document for the more_like_this gate


def _q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 more_like_this: top-5 tf-idf terms of document 7 run as an OR
    BM25 query, the source doc excluded via the filter-context hook
    (operators/morelike.py; term tie-break (w DESC, term ASC) pinned so
    the SQL oracle selects the identical term set)."""
    from find_that_charity_spark.operators.morelike import more_like_this

    idx = _ensure_segment_index(spark, sf_dir)
    text = (
        read_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") == MLT_SOURCE_DOC)
        .select("text")
        .collect()[0]["text"]
    )
    out = more_like_this(
        spark, idx, text,
        exclude_urls=[f"doc://{MLT_SOURCE_DOC:08d}"], m=5, k=10,
    )
    return out.select(
        F.regexp_extract("url", r"doc://(\d+)", 1).cast("bigint").alias("doc_id"),
        "rank",
        "score_mil",
    )


def _q_segments_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-term query over the updated index AFTER a tiered minor
    compaction (operators/build.py compact_stream_chunks): the two
    streaming-append chunks are folded into one tier chunk — base chunks
    hard-linked, per-term sub-segments merged positional-/codec-aware —
    and scoring must stay value-identical to the oracle over the
    post-update corpus (df of the marker term and refreshed n_docs/avgdl
    are exact pre-vacuum, as in bm25_segments_updated_docs)."""
    idx = _ensure_updated_index(spark, sf_dir, vacuumed=False, tiered=True)
    qrows = [{"qid": "q1", "text": "zzupdated", "k": 50_000, "mode": "freetext"}]
    qdf = spark.createDataFrame(
        [("q1", "zzupdated", 50_000, "freetext")],
        "qid string, text string, k int, mode string",
    )
    res = run_queries(spark, idx, qdf, use_bmw=True, join_urls=True,
                      prefetched_qrows=qrows)
    return res.select(
        F.regexp_extract("url", r"doc://(\d+)", 1).cast("bigint").alias("doc_id"),
        F.floor(F.col("score") * 1e4 + F.lit(0.5)).cast("bigint").alias("score_mil"),
    )


def _segment_topk(
    spark: SparkSession, sf_dir: str, text: str, mode: str, k: int = 10,
    codec: str = "varint",
) -> DataFrame:
    idx = _ensure_segment_index(spark, sf_dir, codec)
    # the batch is built driver-side, so hand the rows to run_queries
    # directly (prefetched_qrows): the take_wide size probe on a
    # pickled-RDD-backed local relation cost one ~0.3 s Python-worker job
    # per gate call (optimization round 6 batch 2, guide §1/§5)
    qrows = [{"qid": "q1", "text": text, "k": k, "mode": mode}]
    qdf = spark.createDataFrame(
        [("q1", text, k, mode)], "qid string, text string, k int, mode string"
    )
    res = run_queries(spark, idx, qdf, use_bmw=True, join_urls=True,
                      prefetched_qrows=qrows)
    return res.select(
        F.regexp_extract("url", r"doc://(\d+)", 1).cast("bigint").alias("doc_id"),
        F.col("rank").cast("int").alias("rank"),
        F.floor(F.col("score") * 1e4 + F.lit(0.5)).cast("bigint").alias("score_mil"),
    )


# Executor Python workers must be able to import find_that_charity_spark
# (pandas UDFs are pickled by module reference) regardless of the driver's
# cwd — ship the package zip via addPyFile (= spark-submit --py-files).
from find_that_charity_spark.session import ensure_pyfiles as _ensure_pyfiles


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ensure_pyfiles(spark)
    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    return bm25_topk(docs, FLAGSHIP_QUERY, k=10)


# ---------------------------------------------------------------------------
# queries(): (spark, sf_dir) -> DataFrame, one per implemented operator
# ---------------------------------------------------------------------------

def _q_bm25_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(read_table(spark, sf_dir, "documents"), FLAGSHIP_QUERY, k=10)


def _q_bm25_single_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(read_table(spark, sf_dir, "documents"), "customer", k=10)


def _q_term_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # aggregate before you shuffle (guide §2.3): per-doc (term, tf) pairs
    # are computed INSIDE the row (distinct terms of the token array, tf
    # via two native size()s), so the single groupBy(term) exchange gets
    # map-side partial aggregation down to vocabulary size per task. The
    # old plan exploded every token occurrence and ran the mixed
    # countDistinct+count aggregate, whose Expand node doubled the
    # exploded rows through a (term, doc_id)-grained shuffle. df = one
    # pair per (doc, distinct term) — identical to countDistinct(doc_id);
    # cf = sum of tfs — identical to count(*) over occurrences.
    docs = widen_scan(read_table(spark, sf_dir, "documents"))
    toks = docs.select(tokenize_expr("text").alias("tokens"))
    pairs = toks.select(
        F.explode(
            F.transform(
                F.array_distinct("tokens"),
                lambda t: F.struct(
                    t.alias("term"),
                    (
                        F.size("tokens") - F.size(F.array_remove("tokens", t))
                    ).alias("tf"),
                ),
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(F.col("p.term").alias("term"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum("p.tf").cast("bigint").alias("cf"),
        )
        .orderBy("term")
    )


def _q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen_scan(read_table(spark, sf_dir, "documents"))
    dl = docs.select(F.size(tokenize_expr("text")).alias("dl"))
    return dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
        F.floor(F.avg("dl") * 1e4 + F.lit(0.5)).cast("bigint").alias("avgdl_mil"),
    )


def _q_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A5 suggest: terms with prefix 's', most-frequent-first.
    # Round 6: the prefix filter moves INSIDE the token array (array_distinct
    # + filter before explode — guide §2.3: don't explode rows you throw
    # away), and df comes from counting the per-doc-distinct (term, doc_id)
    # pairs directly instead of a countDistinct Expand.
    docs = widen_scan(read_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(
            F.filter(
                F.array_distinct(tokenize_expr("text")),
                lambda t: t.startswith("s"),
            )
        ).alias("term")
    )
    return (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(10)
    )


def _q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.floor(F.sum("l_quantity") * 100 + F.lit(0.5)).cast("bigint").alias("sum_qty_c"),
            F.floor(F.sum("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint").alias("sum_price_c"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    n = read_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.floor(F.sum("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("revenue_c"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
        .orderBy("n_name")
    )


def _q_top2_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project the 3 needed columns BEFORE the window's hash exchange
    # (guide §2.3: the window previously shuffled every orders column).
    # NOT widened: the map-side Sort + partial WindowGroupLimit on the
    # 2-row-group scan beat paying an extra round-robin exchange
    # (measured 1.9 s vs 2.3 s at sf1.0); the residual wall is the
    # ~2-rows-per-customer result collect, which is the query's output,
    # not plan overhead.
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select(
            F.col("o_custkey").cast("bigint"),
            F.col("o_orderkey").cast("bigint"),
            F.col("rn").cast("int"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("price_c"),
        )
    )


def _q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.floor(F.sum("value") * 100 + F.lit(0.5)).cast("bigint").alias("sum_value_c"),
        )
        .orderBy("day")
    )


def _q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("bigint")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
        .orderBy("event_type")
    )


def _q_sessions_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 window depth: sessionization via lag — a new session starts when
    the gap to the previous event of the same user exceeds 30 minutes."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # cast via timestamp: works for both TIMESTAMP and TIMESTAMP_NTZ scans
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    return (
        e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(F.col("user_id").cast("bigint"), "n_sessions", "n_events")
        .orderBy("user_id")
    )


def _q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 array fns: distinct/sort/slice/intersect over token arrays."""
    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    toks = F.array_sort(F.array_distinct(tokenize_expr("text")))
    common = F.array_intersect(toks, F.array(F.lit("spark"), F.lit("join"), F.lit("table")))
    return d.select(
        F.col("doc_id").cast("bigint"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.size(common).cast("int").alias("n_common"),
    ).orderBy("doc_id")


def _q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 distinct aggregation: exact countDistinct per event_type."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
        .orderBy("event_type")
    )


def _q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 left_semi/left_anti: customers with orders > 400k vs without."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.col("c_custkey").cast("bigint"), F.lit("has_big_order").alias("kind")
    )
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").cast("bigint"), F.lit("no_big_order").alias("kind")
    )
    return semi.unionByName(anti).orderBy("c_custkey")


def _q_setop_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    en = d.where(F.col("lang") == "en").select("source")
    zh = d.where(F.col("lang") == "zh").select("source")
    return en.distinct().exceptAll(zh.distinct()).orderBy("source")


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT widened: md5 per row is too cheap to pay a repartition for
    # (measured 0.76 -> 0.87 s with widen_scan at sf1.0)
    return exact_dedup_groups(read_table(spark, sf_dir, "documents")).orderBy("keep_id")


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    return ngram_jaccard_pairs(docs, threshold=0.8).orderBy("id_a", "id_b")


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = widen_scan(read_table(spark, sf_dir, "documents"))
    return (
        d.withColumn("pred_lang", T.lang_id("text"))
        .groupBy("pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("pred_lang")
    )


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = widen_scan(read_table(spark, sf_dir, "documents"))
    return (
        d.select(
            F.col("doc_id").cast("bigint"),
            F.floor(T.quality_score("text") * 1e4 + F.lit(0.5)).cast("bigint").alias("quality_mil"),
        )
        .orderBy(F.desc("quality_mil"), F.asc("doc_id"))
        .limit(20)
    )


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = widen_scan(read_table(spark, sf_dir, "documents"))
    return (
        d.select("source", T.fingerprint("text").alias("fp"))
        .groupBy("source")
        .agg(F.countDistinct("fp").cast("bigint").alias("n_distinct_fp"))
        .orderBy("source")
    )


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = widen_scan(read_table(spark, sf_dir, "documents"))
    return (
        d.select(F.col("doc_id").cast("bigint"), T.token_count("text").cast("bigint").alias("n_tokens"))
        .orderBy(F.desc("n_tokens"), F.asc("doc_id"))
        .limit(20)
    )


def _q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_topk_brute(emb, query_vec_id=0, k=10)


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hash-verified vs a DuckDB rendering of the SAME signature math
    # (minhash_pairs_sql). Planted near-dups (a doc_id-shifted exact copy
    # of every doc) keep the check non-vacuous: every (i, i+100000) pair
    # must surface with agreement 1.0.
    docs = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    shifted = docs.withColumn("doc_id", F.col("doc_id") + F.lit(100000))
    return minhash_lsh_pairs(docs.unionByName(shifted), threshold=0.9).orderBy(
        "id_a", "id_b"
    )


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_hamming=8 is sound now that banding derives its block count from
    # the radius (9 blocks -> pigeonhole recall is total at hamming <= 8);
    # the DuckDB oracle recounts exact hamming over all pairs.
    docs = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return simhash_near_dups(docs, max_hamming=8).orderBy("id_a", "id_b")


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # probe_radius = n_bits probes every bucket -> exact brute force
    # through the full LSH machinery (bucketing, multi-probe mask join),
    # so the brute-force DuckDB oracle applies. Partial-probe recall is
    # pytest-covered (tests/test_similarity.py).
    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_topk_lsh(emb, query_vec_id=0, k=10, n_bits=8, probe_radius=8)


_IVF_INDEX_CACHE: dict[str, str] = {}


def _ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Fit + persist the IVF index once per sf_dir (centroids table +
    vectors partitioned by centroid); queries only read it."""
    from find_that_charity_spark.operators.similarity import write_ivf_index

    if sf_dir not in _IVF_INDEX_CACHE:
        out = tempfile.mkdtemp(prefix="ftc_ivf_")
        emb = read_table(spark, sf_dir, "embeddings")
        write_ivf_index(emb, out, n_centroids=8)
        _IVF_INDEX_CACHE[sf_dir] = out
    return _IVF_INDEX_CACHE[sf_dir]


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nprobe = n_centroids probes every cell -> exact brute force through
    # the full IVF machinery (k-means assignment, cell pruning); DuckDB
    # brute-force oracle applies. Partial-probe recall is pytest-covered.
    # The k-means model is fitted once and persisted (centroid-partitioned
    # layout); repeat calls only read it.
    import numpy as np

    from find_that_charity_spark.operators.similarity import ivf_cosine_topk_indexed

    emb = read_table(spark, sf_dir, "embeddings")
    ivf_dir = _ensure_ivf_index(spark, sf_dir)
    q = np.asarray(
        emb.where("vec_id = 0").collect()[0]["embedding"], dtype=np.float64
    )
    return ivf_cosine_topk_indexed(spark, ivf_dir, q, k=10, nprobe=8, exclude_id=0)


def _q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Planted vector dups (id-shifted exact copies -> cos 1.0) keep the
    # check non-vacuous; probe_radius = n_bits probes every SRP bucket so
    # the output is exactly all-pairs >= threshold and the brute-force
    # DuckDB oracle applies. Fixture vectors top out near cos ~0.5, far
    # from the 0.95 threshold — no cross-engine boundary flips.
    from find_that_charity_spark.operators.similarity import embedding_cosine_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    shifted = emb.withColumn("vec_id", F.col("vec_id") + F.lit(100000))
    return embedding_cosine_pairs(
        emb.unionByName(shifted), threshold=0.95, probe_radius=8
    ).orderBy("id_a", "id_b")


def _q_events_json_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 native JSON + map surface: from_json to a MAP type (element_at /
    map_keys) plus get_json_object path extraction — not regexp.

    Optimization round 6 (guide §1.2 "don't compute things you throw
    away"): every output is a pure function of (event_type, props), so the
    rows are pre-aggregated to (event_type, props, cnt) — map-side partial
    aggregation collapses duplicate JSON payloads BEFORE the (expensive)
    double JSON parse, which then runs once per distinct group instead of
    once per row. The per-row aggregates are recovered exactly by
    weighting with cnt (sum) or ignoring it (max); null parse results drop
    out of sums in both shapes. Identical results for ANY input; at worst
    (all-distinct props) it degrades to the old per-row parse count plus
    one pre-shuffle."""
    e = read_table(spark, sf_dir, "events")
    grouped = e.groupBy("event_type", "props").agg(F.count(F.lit(1)).alias("cnt"))
    parsed = (
        grouped.withColumn("pmap", F.from_json("props", "map<string,bigint>"))
        .withColumn("k_map", F.element_at("pmap", F.lit("k")))
        .withColumn("k_path", F.get_json_object("props", "$.k").cast("bigint"))
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.sum(F.col("k_map") * F.col("cnt")).cast("bigint").alias("sum_k"),
            F.max("k_path").cast("bigint").alias("max_k"),
            F.sum(F.size(F.map_keys("pmap")) * F.col("cnt")).cast("bigint").alias("n_keys"),
            F.sum(
                F.when(F.col("k_map") == F.col("k_path"), F.col("cnt")).otherwise(0)
            ).cast("bigint").alias("n_consistent"),
        )
        .orderBy("event_type")
    )


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing under the oracle: a media table synthesized from
    document bytes runs the real mapInPandas decode/feature/frame-sample
    pipeline; n_bytes and frame counts are SQL-checkable (octet_length)."""
    from find_that_charity_spark.operators.multimodal import (
        extract_features,
        sample_frames,
    )

    docs = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.format_string("media://%05d", "doc_id").alias("url"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    # both operator outputs are k-row-bounded by construction (the gate's
    # 40-row media slice), so the left-join/coalesce glue runs driver-side
    # on the collected rows (optimization round 6 batch 3): the
    # distributed join of two mapInPandas subtrees cost 5 sequential AQE
    # stage-jobs (~0.6 s of scheduling for 40 rows, measured). The REAL
    # operator kernels (Arrow-batched decode/feature/frame-sample) still
    # run distributed — only the tiny post-aggregation moved.
    feat_rows = extract_features(media).select("media_id", "kind", "n_bytes").collect()
    frame_rows = sample_frames(media).select("media_id").collect()
    n_frames: dict[int, int] = {}
    for r in frame_rows:
        n_frames[int(r["media_id"])] = n_frames.get(int(r["media_id"]), 0) + 1
    import pandas as pd

    out = pd.DataFrame(
        sorted(
            (
                int(r["media_id"]),
                r["kind"],
                int(r["n_bytes"]),
                n_frames.get(int(r["media_id"]), 0),
            )
            for r in feat_rows
        ),
        columns=["media_id", "kind", "n_bytes", "n_frames"],
    )
    return spark.createDataFrame(
        out, "media_id bigint, kind string, n_bytes bigint, n_frames bigint"
    )


def _q_add_to_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 add-to-CSV batch reconciliation: enrich a user table with its
    best recon match (url + score); unmatched rows keep nulls."""
    from find_that_charity_spark.operators.recon import add_to_csv

    idx = _ensure_segment_index(spark, sf_dir)
    user_rows = [("r1", "customer query"), ("r2", "slow fast table"), ("r3", "zzz unmatchable")]
    user = spark.createDataFrame(user_rows, "row_id string, name string")
    from pyspark.sql import Row as _Row

    out = add_to_csv(
        spark, idx, user, "name",
        prefetched_rows=[_Row(row_id=a, name=b) for a, b in user_rows],
    )
    return out.select(
        "row_id",
        F.coalesce(
            F.regexp_extract("match_url", r"doc://(\d+)", 1).cast("bigint"), F.lit(-1)
        ).alias("match_doc_id"),
        F.coalesce(
            F.floor(F.col("match_score") * 1e4 + F.lit(0.5)).cast("bigint"), F.lit(-1)
        ).alias("score_mil"),
    ).orderBy("row_id")


def _q_segments_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine path: tokenize -> segments -> BMW top-k (SURVEY.md §2C/§2D)."""
    return _segment_topk(spark, sf_dir, FLAGSHIP_QUERY, "freetext", k=10)


def _q_segments_pfor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query against a PForDelta-coded index (B6's alternate
    codec, BuildConfig.block_codec="pfor"): the oracle is the same
    brute-force SQL, so a hash match proves codec-independence of the
    whole engine path under the driver's own gate."""
    return _segment_topk(spark, sf_dir, FLAGSHIP_QUERY, "freetext", k=10,
                         codec="pfor")


def _q_segments_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recon-mode (A3): case-mangled entity-style lookup via analyze_name."""
    return _segment_topk(spark, sf_dir, "CUSTOMER Query", "recon", k=10)


def _q_segments_bool_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 conjunctive: all terms required (posting-list intersection)."""
    return _segment_topk(spark, sf_dir, "table scan row", "bool_and", k=10)


def _q_segments_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 exclusion: '-query' docs are filtered out (posting subtraction)."""
    return _segment_topk(spark, sf_dir, "customer -query", "freetext", k=10)


def _q_segments_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase query (ES match_phrase): positional postings + adjacency."""
    return _segment_topk(spark, sf_dir, "slow fast", "phrase", k=10)


def _q_segments_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy query (ES fuzziness=1): typo'd term expands via dictionary."""
    return _segment_topk(spark, sf_dir, "custmer quary", "fuzzy", k=10)


def _q_segments_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_shards path: one query scored in 4 parallel doc-range shards,
    shard top-ks merged by a window — must equal the unsharded oracle."""
    idx = _ensure_segment_index(spark, sf_dir)
    qrows = [{"qid": "q1", "text": FLAGSHIP_QUERY, "k": 10, "mode": "freetext"}]
    qdf = spark.createDataFrame(
        [("q1", FLAGSHIP_QUERY, 10, "freetext")],
        "qid string, text string, k int, mode string",
    )
    res = run_queries(spark, idx, qdf, use_bmw=True, join_urls=True, doc_shards=4,
                      prefetched_qrows=qrows)
    return res.select(
        F.regexp_extract("url", r"doc://(\d+)", 1).cast("bigint").alias("doc_id"),
        F.col("rank").cast("int").alias("rank"),
        F.floor(F.col("score") * 1e4 + F.lit(0.5)).cast("bigint").alias("score_mil"),
    )


def _q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-side invariants: dictionary/posting totals vs raw recount."""
    idx = _ensure_segment_index(spark, sf_dir)
    dictionary = spark.read.parquet(f"{idx}/dictionary")
    stats = spark.read.parquet(f"{idx}/corpus_stats")
    d = dictionary.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("df").cast("bigint").alias("total_postings"),
        F.sum("cf").cast("bigint").alias("total_tokens"),
    )
    return d.crossJoin(stats.select(F.col("n_docs").cast("bigint").alias("n_docs")))


def _with_pyfiles(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_pyfiles(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        name: _with_pyfiles(fn)
        for name, fn in _raw_queries().items()
    }


def _raw_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "bm25_segments_flagship": _q_segments_flagship,
        "bm25_segments_recon": _q_segments_recon,
        "bm25_segments_bool_and": _q_segments_bool_and,
        "bm25_segments_not": _q_segments_not,
        "bm25_segments_phrase": _q_segments_phrase,
        "bm25_segments_fuzzy": _q_segments_fuzzy,
        "bm25_segments_sharded": _q_segments_sharded,
        "bm25_segments_pfor": _q_segments_pfor,
        "bm25_facet_lang": _q_facet_lang,
        "bm25_facet_histogram": _q_facet_histogram,
        "bm25_segments_minshould": _q_segments_minshould,
        "bm25_segments_boosted": _q_segments_boosted,
        "bm25_highlight": _q_highlight,
        "more_like_this_doc": _q_more_like_this,
        "significant_terms_flagship": _q_significant_terms,
        "facet_top_hits_lang": _q_facet_top_hits,
        "facet_cardinality_doclen": _q_facet_cardinality,
        "bm25_segments_filter_lang": _q_segments_filter_lang,
        "bm25_prefix_query": _q_prefix_query,
        "spell_suggest": _q_spell_suggest,
        "search_after_page2": _q_search_after,
        "bm25_segments_updated_docs": _q_segments_updated_docs,
        "bm25_facet_lang_updated": _q_facet_lang_updated,
        "bm25_segments_tiered": _q_segments_tiered,
        "bm25_segments_after_update": _q_segments_after_update,
        "index_stats": _q_index_stats,
        "bm25_topk_flagship": _q_bm25_flagship,
        "bm25_topk_single_term": _q_bm25_single_term,
        "term_dictionary": _q_term_dictionary,
        "corpus_stats": _q_corpus_stats,
        "autocomplete_prefix": _q_autocomplete,
        "lineitem_pricing_agg": _q_lineitem_pricing,
        "revenue_by_nation": _q_revenue_by_nation,
        "top2_orders_per_cust": _q_top2_orders_per_cust,
        "events_daily": _q_events_daily,
        "events_json_props": _q_events_json,
        "semi_anti_join": _q_semi_anti_join,
        "sessions_per_user": _q_sessions_per_user,
        "array_ops_docs": _q_array_ops,
        "distinct_users": _q_distinct_users,
        "setop_sources": _q_setop_sources,
        "dedup_exact": _q_dedup_exact,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "lang_id_counts": _q_lang_id,
        "quality_top20": _q_quality,
        "token_counts_top20": _q_token_counts,
        "fingerprint_by_source": _q_fingerprint,
        "ann_cosine_top10": _q_ann_cosine,
        "minhash_lsh_pairs": _q_minhash_pairs,
        "simhash_near_dups": _q_simhash_pairs,
        "ann_cosine_lsh": _q_ann_lsh,
        "ann_cosine_ivf": _q_ann_ivf,
        "events_json_native": _q_events_json_native,
        "multimodal_features": _q_multimodal_features,
        "add_to_csv_recon": _q_add_to_csv,
        "embedding_cosine_dups": _q_embedding_dups,
    }


# ---------------------------------------------------------------------------
# oracle_sql(): DuckDB twins (same aliases, same quantization)
# ---------------------------------------------------------------------------

_TOKS = f"regexp_extract_all(lower(text), '{ASCII_TOKEN_PATTERN}')"


def _facet_lang_sql(table: str) -> str:
    """D8 oracle: docs matching ANY flagship term, counted per lang —
    the exact OR-match set facet_counts computes from the postings.
    ``table`` supplies the text (post-update corpora swap it); lang
    always joins from the base documents table, which every corpus
    variant preserves."""
    terms = ", ".join(f"'{t}'" for t in sorted(set(analyze(FLAGSHIP_QUERY))))
    toks = f"regexp_extract_all(lower(d.text), '{ASCII_TOKEN_PATTERN}')"
    return f"""
        SELECT documents.lang AS facet, CAST(count(*) AS BIGINT) AS matches
        FROM {table} d JOIN documents ON d.doc_id = documents.doc_id
        WHERE len(list_filter({toks}, x -> x IN ({terms}))) > 0
        GROUP BY documents.lang
    """

def _facet_hist_sql(interval: int = 16) -> str:
    """D8 histogram-facet oracle: matched docs bucketed by exact token
    count (the index's doc_len) in fixed-width intervals."""
    terms = ", ".join(f"'{t}'" for t in sorted(set(analyze(FLAGSHIP_QUERY))))
    return f"""
        WITH toks AS (
          SELECT doc_id, regexp_extract_all(lower(text), '{ASCII_TOKEN_PATTERN}') AS t
          FROM documents
        )
        SELECT CAST(floor(len(t) / {interval}) * {interval} AS BIGINT) AS bucket_lo,
               CAST(count(*) AS BIGINT) AS matches
        FROM toks
        WHERE len(list_filter(t, x -> x IN ({terms}))) > 0
        GROUP BY 1
    """


def _highlight_sql(k: int = 10, window: int = 5) -> str:
    """D9 oracle: flagship top-k + 1-based first query-term hit + the
    ``window``-token snippet (DuckDB list slice is 1-based inclusive-end,
    so [fh : fh+window-1] == Spark slice(toks, fh, window))."""
    terms = ", ".join(f"'{t}'" for t in sorted(set(analyze(FLAGSHIP_QUERY))))
    return f"""
        WITH topk AS (SELECT * FROM ({bm25_topk_sql(FLAGSHIP_QUERY, k=k)}) t0),
        docs_t AS (
          SELECT doc_id, regexp_extract_all(lower(text), '{ASCII_TOKEN_PATTERN}') AS toks
          FROM documents
        ),
        tp AS (
          SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS p
          FROM docs_t
        ),
        fh AS (SELECT doc_id, min(p) AS fh FROM tp WHERE term IN ({terms}) GROUP BY 1)
        SELECT t.doc_id, t.rank, t.score_mil,
               CAST(fh.fh AS INT) AS first_hit,
               array_to_string(d.toks[fh.fh : fh.fh + {window - 1}], ' ') AS snippet
        FROM topk t JOIN fh ON t.doc_id = fh.doc_id
        JOIN docs_t d ON t.doc_id = d.doc_id
    """


def _search_after_sql(offset: int = 10, k: int = 10) -> str:
    """search_after oracle: the engine's cursor-paginated page 2 must
    equal LIMIT k OFFSET k of the globally sorted match set."""
    terms = ", ".join(f"'{t}'" for t in sorted(set(analyze(FLAGSHIP_QUERY))))
    return f"""
        WITH toks AS (
          SELECT doc_id, regexp_extract_all(lower(text), '{ASCII_TOKEN_PATTERN}') AS t
          FROM documents
        ),
        m AS (
          SELECT doc_id, len(t) AS sort_key FROM toks
          WHERE len(list_filter(t, x -> x IN ({terms}))) > 0
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(sort_key AS BIGINT) AS sort_key
        FROM m
        ORDER BY sort_key DESC, doc_id ASC
        LIMIT {k} OFFSET {offset}
    """


def _facet_cardinality_sql() -> str:
    """Cardinality oracle over the exact token count (== index doc_len)."""
    terms = ", ".join(f"'{t}'" for t in sorted(set(analyze(FLAGSHIP_QUERY))))
    return f"""
        WITH toks AS (
          SELECT doc_id, regexp_extract_all(lower(text), '{ASCII_TOKEN_PATTERN}') AS t
          FROM documents
        )
        SELECT CAST(count(DISTINCT len(t)) AS BIGINT) AS distinct_values
        FROM toks
        WHERE len(list_filter(t, x -> x IN ({terms}))) > 0
    """


def _facet_top_hits_sql(k: int = 3) -> str:
    """top_hits oracle: rank docs inside each lang bucket of the match
    set by (token count DESC, doc_id ASC), keep the top k."""
    terms = ", ".join(f"'{t}'" for t in sorted(set(analyze(FLAGSHIP_QUERY))))
    return f"""
        WITH toks AS (
          SELECT doc_id, lang, regexp_extract_all(lower(text), '{ASCII_TOKEN_PATTERN}') AS t
          FROM documents
        ),
        m AS (
          SELECT lang AS facet, doc_id, len(t) AS sort_key FROM toks
          WHERE len(list_filter(t, x -> x IN ({terms}))) > 0
        ),
        ranked AS (
          SELECT facet, doc_id, sort_key,
                 row_number() OVER (
                   PARTITION BY facet ORDER BY sort_key DESC, doc_id ASC
                 ) AS pos
          FROM m
        )
        SELECT CAST(facet AS VARCHAR) AS facet,
               CAST(pos AS INT) AS pos,
               CAST(doc_id AS BIGINT) AS doc_id,
               CAST(sort_key AS BIGINT) AS sort_key
        FROM ranked WHERE pos <= {k}
    """


def _sigterms_sql(n: int = 10) -> str:
    """D11 oracle: JLH significance of terms in the flagship match set.
    The score expression mirrors the engine's Column arithmetic op-for-op
    (two divisions, one subtract, one multiply — no libm), so doubles are
    bit-identical and the quantized hash cannot drift."""
    terms = ", ".join(f"'{t}'" for t in sorted(set(analyze(FLAGSHIP_QUERY))))
    return f"""
        WITH toks AS (
          SELECT doc_id, regexp_extract_all(lower(text), '{ASCII_TOKEN_PATTERN}') AS t
          FROM documents
        ),
        matched AS (
          SELECT doc_id, t FROM toks
          WHERE len(list_filter(t, x -> x IN ({terms}))) > 0
        ),
        fgt AS (SELECT count(*) AS n FROM matched),
        n_all AS (SELECT count(*) AS n FROM toks),
        fg AS (
          SELECT term, count(*) AS fg
          FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM matched)
          GROUP BY 1
        ),
        bg AS (
          SELECT term, count(*) AS df
          FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM toks)
          GROUP BY 1
        ),
        scored AS (
          SELECT fg.term, fg.fg, bg.df,
                 ((fg.fg / (fgt.n * 1.0)) - (bg.df / (n_all.n * 1.0)))
                 * ((fg.fg / (fgt.n * 1.0)) / (bg.df / (n_all.n * 1.0))) AS score
          FROM fg JOIN bg USING (term) CROSS JOIN fgt CROSS JOIN n_all
        )
        SELECT term,
               CAST(fg AS BIGINT) AS fg_count,
               CAST(df AS BIGINT) AS bg_count,
               CAST(floor(score * 1e6 + 0.5) AS BIGINT) AS score_mil
        FROM scored
        ORDER BY score DESC, term ASC
        LIMIT {n}
    """


def _mlt_sql(source_doc: int, m: int = 5, k: int = 10) -> str:
    """D10 oracle: top-m tf·idf terms of the source doc (tie-break
    (w DESC, term ASC) — the operator's pinned contract), scored as an OR
    BM25 query with the source doc excluded (filter context: stats
    computed over the FULL corpus)."""
    from find_that_charity_spark.functions.bm25 import bm25_sql

    score_expr = bm25_sql(
        tf="tf.tf", dl="dl.dl", n="s.n_docs", df="d.df", avgdl="s.avgdl"
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text), '{ASCII_TOKEN_PATTERN}')) AS term
          FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        s  AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        dterms AS (SELECT term, tf AS tf_d FROM tf WHERE doc_id = {source_doc}),
        dfq AS (SELECT tf.term, count(*) AS df FROM tf JOIN dterms USING (term) GROUP BY 1),
        sel AS (
          SELECT dterms.term FROM dterms JOIN dfq USING (term) CROSS JOIN s
          ORDER BY dterms.tf_d * ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) DESC,
                   dterms.term ASC
          LIMIT {m}
        ),
        scored AS (
          SELECT tf.doc_id, sum({score_expr}) AS score
          FROM tf JOIN sel USING (term) JOIN dfq d ON tf.term = d.term
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN s
          WHERE tf.doc_id <> {source_doc}
          GROUP BY tf.doc_id
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
               CAST(floor(score * 1e4 + 0.5) AS BIGINT) AS score_mil
        FROM scored
        ORDER BY score DESC, doc_id ASC
        LIMIT {k}
    """


# Exact cosine top-10 of vec 0 — the oracle for the brute-force gate AND
# for the full-probe LSH/IVF gates (which degenerate to exact search).
_ANN_BRUTE_SQL = """
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT vec_id,
             list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qvec AS DOUBLE[])) /
             (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
              sqrt(list_dot_product(CAST(qvec AS DOUBLE[]), CAST(qvec AS DOUBLE[])))) AS cos
      FROM embeddings CROSS JOIN q WHERE vec_id <> 0
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS INT) AS rank,
           CAST(floor(cos * 1e4 + 0.5) AS BIGINT) AS cos_mil
    FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


def oracle_sql() -> dict[str, str]:
    return {
        "bm25_segments_flagship": bm25_topk_sql(FLAGSHIP_QUERY, k=10),
        "bm25_segments_recon": bm25_topk_sql("CUSTOMER Query", k=10, analyzer=analyze_name),
        "bm25_segments_bool_and": bm25_topk_sql("table scan row", k=10, conjunctive=True),
        "bm25_segments_not": bm25_topk_sql("customer -query", k=10),
        "bm25_segments_phrase": phrase_topk_sql("slow fast", k=10),
        "bm25_segments_fuzzy": fuzzy_topk_sql("custmer quary", k=10),
        "bm25_segments_sharded": bm25_topk_sql(FLAGSHIP_QUERY, k=10),
        "bm25_segments_pfor": bm25_topk_sql(FLAGSHIP_QUERY, k=10),
        "bm25_segments_updated_docs": (
            "SELECT doc_id, score_mil FROM ("
            + bm25_topk_sql("zzupdated", k=50_000, table=_UPDATED_TABLE_SQL)
            + ") t"
        ),
        "bm25_facet_lang": _facet_lang_sql("documents"),
        "bm25_facet_histogram": _facet_hist_sql(16),
        "bm25_segments_minshould": bm25_topk_sql(
            FLAGSHIP_QUERY, k=10, min_should_match=3
        ),
        "bm25_segments_boosted": bm25_topk_sql(BOOSTED_QUERY, k=10),
        "bm25_highlight": _highlight_sql(k=10, window=5),
        "more_like_this_doc": _mlt_sql(MLT_SOURCE_DOC, m=5, k=10),
        "significant_terms_flagship": _sigterms_sql(10),
        "facet_top_hits_lang": _facet_top_hits_sql(3),
        "facet_cardinality_doclen": _facet_cardinality_sql(),
        "bm25_segments_filter_lang": bm25_topk_sql(
            FLAGSHIP_QUERY, k=10, include_where="lang = 'en'"
        ),
        "bm25_prefix_query": prefix_topk_sql("s", k=10),
        "spell_suggest": " UNION ALL ".join(
            f"SELECT '{t}' AS input, * FROM ({suggest_spelling_sql(t, k=5)}) s{i}"
            for i, t in enumerate(SPELL_INPUTS)
        ),
        "search_after_page2": _search_after_sql(offset=10, k=10),
        "bm25_facet_lang_updated": _facet_lang_sql(_UPDATED_TABLE_SQL),
        "bm25_segments_tiered": (
            "SELECT doc_id, score_mil FROM ("
            + bm25_topk_sql("zzupdated", k=50_000, table=_UPDATED_TABLE_SQL)
            + ") t"
        ),
        "bm25_segments_after_update": bm25_topk_sql(
            FLAGSHIP_QUERY, k=10, table=_UPDATED_TABLE_SQL
        ),
        "index_stats": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS}) AS term FROM documents
            ),
            tf AS (SELECT term, doc_id FROM toks GROUP BY 1, 2)
            SELECT (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM toks) AS n_terms,
                   (SELECT CAST(count(*) AS BIGINT) FROM tf) AS total_postings,
                   (SELECT CAST(count(*) AS BIGINT) FROM toks) AS total_tokens,
                   (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs
        """,
        "bm25_topk_flagship": bm25_topk_sql(FLAGSHIP_QUERY, k=10),
        "bm25_topk_single_term": bm25_topk_sql("customer", k=10),
        "term_dictionary": f"""
            WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
            SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
                   CAST(count(*) AS BIGINT) AS cf
            FROM toks GROUP BY term ORDER BY term
        """,
        "corpus_stats": f"""
            WITH dl AS (SELECT len({_TOKS}) AS dl FROM documents)
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS total_len,
                   CAST(floor(avg(dl) * 1e4 + 0.5) AS BIGINT) AS avgdl_mil
            FROM dl
        """,
        "autocomplete_prefix": f"""
            WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
            SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM toks WHERE term LIKE 's%'
            GROUP BY term ORDER BY df DESC, term ASC LIMIT 10
        """,
        "lineitem_pricing_agg": """
            SELECT l_returnflag, l_linestatus,
                   CAST(floor(sum(l_quantity) * 100 + 0.5) AS BIGINT) AS sum_qty_c,
                   CAST(floor(sum(l_extendedprice) * 100 + 0.5) AS BIGINT) AS sum_price_c,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) AS revenue_c,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "top2_orders_per_cust": """
            SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
                   CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   CAST(rn AS INT) AS rn,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders
            ) WHERE rn <= 2
        """,
        "events_daily": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) AS sum_value_c
            FROM events GROUP BY 1 ORDER BY day
        """,
        "events_json_props": """
            SELECT event_type,
                   CAST(sum(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
                   CAST(max(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS max_k
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "semi_anti_join": """
            WITH big AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 400000)
            SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
                   CASE WHEN c_custkey IN (SELECT o_custkey FROM big)
                        THEN 'has_big_order' ELSE 'no_big_order' END AS kind
            FROM customer ORDER BY c_custkey
        """,
        "sessions_per_user": """
            WITH g AS (
              SELECT user_id,
                     CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                          OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
            )
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(sum(new_sess) AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM g GROUP BY user_id ORDER BY user_id
        """,
        "array_ops_docs": f"""
            WITH t AS (
              SELECT doc_id,
                     list_sort(list_distinct(regexp_extract_all(lower(text), '{ASCII_TOKEN_PATTERN}'))) AS toks
              FROM documents WHERE doc_id < 50
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   array_to_string(toks[1:3], ' ') AS first3,
                   CAST(len(list_intersect(toks, ['spark', 'join', 'table'])) AS INT) AS n_common
            FROM t ORDER BY doc_id
        """,
        "distinct_users": """
            SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "setop_sources": """
            SELECT source FROM documents WHERE lang = 'en'
            EXCEPT
            SELECT source FROM documents WHERE lang = 'zh'
            ORDER BY source
        """,
        "dedup_exact": """
            SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
                   CAST(count(*) AS BIGINT) AS n_dups
            FROM documents GROUP BY md5(text) ORDER BY keep_id
        """,
        "ngram_jaccard_pairs": f"""
            WITH toks AS (
              SELECT doc_id AS id, unnest(list_distinct({_TOKS})) AS t
              FROM documents WHERE doc_id < 60
            ),
            sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
            inter AS (
              SELECT l.id AS id_a, r.id AS id_b, count(*) AS i
              FROM toks l JOIN toks r ON l.t = r.t AND l.id < r.id
              GROUP BY 1, 2
            )
            SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
                   CAST(floor(i * 1.0 / (sa.sz + sb.sz - i) * 1000 + 0.5) AS BIGINT) AS jaccard_mil
            FROM inter JOIN sizes sa ON inter.id_a = sa.id
            JOIN sizes sb ON inter.id_b = sb.id
            WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.8
            ORDER BY id_a, id_b
        """,
        "lang_id_counts": f"""
            SELECT {T.lang_id_sql('text')} AS pred_lang,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1 ORDER BY pred_lang
        """,
        "quality_top20": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(floor({T.quality_score_sql('text')} * 1e4 + 0.5) AS BIGINT) AS quality_mil
            FROM documents ORDER BY quality_mil DESC, doc_id ASC LIMIT 20
        """,
        "token_counts_top20": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST({T.token_count_sql('text')} AS BIGINT) AS n_tokens
            FROM documents ORDER BY n_tokens DESC, doc_id ASC LIMIT 20
        """,
        "fingerprint_by_source": f"""
            SELECT source, CAST(count(DISTINCT {T.fingerprint_sql('text')}) AS BIGINT) AS n_distinct_fp
            FROM documents GROUP BY source ORDER BY source
        """,
        "ann_cosine_top10": _ANN_BRUTE_SQL,
        "minhash_lsh_pairs": minhash_pairs_sql(
            "SELECT doc_id AS id, text FROM documents WHERE doc_id < 60 "
            "UNION ALL "
            "SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id < 60",
            threshold=0.9,
        ),
        "simhash_near_dups": simhash_pairs_sql(
            "SELECT doc_id AS id, text FROM documents WHERE doc_id < 100",
            max_hamming=8,
        ),
        # full-probe LSH/IVF degenerate to exact brute force -> brute oracle
        "ann_cosine_lsh": _ANN_BRUTE_SQL,
        "ann_cosine_ivf": _ANN_BRUTE_SQL,
        "events_json_native": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
                   CAST(sum(len(json_keys(props))) AS BIGINT) AS n_keys,
                   CAST(count(*) AS BIGINT) AS n_consistent
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "multimodal_features": """
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   CAST(CASE WHEN doc_id % 3 = 2
                             THEN least(8, greatest(1, octet_length(encode(text)) // 10))
                             ELSE 0 END AS BIGINT) AS n_frames
            FROM documents WHERE doc_id < 40 ORDER BY media_id
        """,
        "add_to_csv_recon": _add_to_csv_oracle_sql(),
        "embedding_cosine_dups": """
            WITH base AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
            alldocs AS (
              SELECT id, v FROM base
              UNION ALL SELECT id + 100000, v FROM base
            ),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b,
                     list_dot_product(CAST(a.v AS DOUBLE[]), CAST(b.v AS DOUBLE[])) /
                     (sqrt(list_dot_product(CAST(a.v AS DOUBLE[]), CAST(a.v AS DOUBLE[]))) *
                      sqrt(list_dot_product(CAST(b.v AS DOUBLE[]), CAST(b.v AS DOUBLE[])))) AS cos
              FROM alldocs a JOIN alldocs b ON a.id < b.id
            )
            SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
                   CAST(floor(cos * 1e4 + 0.5) AS BIGINT) AS cos_mil
            FROM pairs WHERE cos >= 0.95
            ORDER BY id_a, id_b
        """,
    }


def _add_to_csv_oracle_sql() -> str:
    """Per-row best recon match: each user row is its own k=1 BM25 query
    (same analyzer, same quantization); unmatched rows yield NULLs."""
    rows = [("r1", "customer query"), ("r2", "slow fast table"), ("r3", "zzz unmatchable")]
    parts = []
    for row_id, text in rows:
        inner = bm25_topk_sql(text, k=1, analyzer=analyze_name)
        parts.append(
            f"SELECT '{row_id}' AS row_id, m.doc_id AS match_doc_id, "
            f"m.score_mil AS score_mil FROM ({inner}) m"
        )
        parts.append(
            f"SELECT '{row_id}', -1::BIGINT, -1::BIGINT "
            f"WHERE NOT EXISTS (SELECT 1 FROM ({inner}) m2)"
        )
    return " UNION ALL ".join(parts) + " ORDER BY row_id"
