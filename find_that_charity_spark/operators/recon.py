"""Reference application surface (SURVEY.md §2A): the OpenRefine
Reconciliation API batch endpoint (A3), suggest/autocomplete (A5), and
add-to-CSV batch reconciliation (A6).

find-that-charity exposes these over Elasticsearch [public: OpenRefine
Reconciliation Service API v0.2; find-that-charity /reconcile and
/addtocsv endpoints]; here they are thin driver-side shapes over the
engine's query pipeline — the engine subsumes the app surface.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from find_that_charity_spark.operators import query
from find_that_charity_spark.operators.query import cached_parquet, run_queries


# the corpus exposes one entity type (the reference's analog is its org
# types); a query constrained to anything else matches nothing
RECON_TYPE = "web_page"

# properties the corpus can filter on (Recon API v0.2 `properties`): pid ->
# SQL predicate builder over the docs table, the value quoted as a string
# literal. Unknown pids are ignored, as OpenRefine services conventionally do.
_RECON_PROPS = {
    "lang": lambda v: f"lang = {query.sql_string(str(v))}",
    "host": lambda v: (
        f"regexp_extract(url, {query.sql_string(r'^[a-z]+://([^/]+)')}, 1)"
        f" = {query.sql_string(str(v))}"
    ),
}


def _filter_exclusions(spark: SparkSession, index_dir: str, props) -> np.ndarray:
    """Doc ids failing the property constraints, as a sorted int64 array
    — ES filter-context semantics: scoring stats are untouched, the docs
    just can't appear. A doc whose property is NULL fails the constraint,
    as in an ES term filter. Rides the scoring tails' exclusion sets
    (the tombstone machinery), so filtered top-k stays exact.

    One docs scan: the conjunction of the constraints is one SQL predicate
    (``(<pred>) IS NOT TRUE`` selects the failing docs, NULLs included)
    and the ids come back through Arrow, not as ``Row`` objects.

    The disallowed set is collected driver-side: right for the selective
    filters the Recon API sends over this corpus, while a filter that
    disallows most of a web-scale corpus would want the inverse plan
    (allowed-set bitmap join) — documented trade-off, same guard as the
    reference's ES filter cache."""
    conds = [
        _RECON_PROPS[p["pid"]](p.get("v"))
        for p in props or []
        if isinstance(p, dict) and p.get("pid") in _RECON_PROPS
    ]
    if not conds:
        return np.empty(0, dtype=np.int64)
    barred = (
        cached_parquet(spark, f"{index_dir}/docs")
        .where(f"({' AND '.join(conds)}) IS NOT TRUE")
        .select("doc_id")
        .toArrow()
    )
    return np.sort(barred.column("doc_id").to_numpy().astype(np.int64, copy=False))


def reconcile(
    spark: SparkSession, index_dir: str, batch: dict[str, dict[str, Any]]
) -> dict[str, dict[str, Any]]:
    """OpenRefine Recon API v0.2 batch call.

    ``batch`` = {"q0": {"query": "acme trust", "limit": 10,
    "type": "web_page", "properties": [{"pid": "lang", "v": "en"}]}, ...}
    Returns {"q0": {"result": [{"id", "name", "score", "match"}, ...]}}.

    ``id``/``name`` carry the document url (the corpus analog of the
    reference's org-id + primary name). ``match`` follows the reference's
    heuristic: single candidate, or a clear winner (>= 1.5x runner-up
    score), marks the top hit as a confident match.

    v0.2 constraint fields (VERDICT r03 item 9): ``type`` other than
    RECON_TYPE matches nothing; ``properties`` compile to metadata
    exclusions applied at scoring (filter context — scores unchanged,
    top-k exact over the allowed set), one exclusion set per constraint
    signature (``_filter_exclusions``; a doc whose property is NULL is
    excluded).

    The whole batch is one ``IndexSearcher.search_batch`` call on a
    handle for the index's current version, each qid under its
    signature's exclusion set. Spark jobs per batch, with the batch's
    postings within ``_fits_driver_budget``: one docs scan per FILTERED
    signature, plus one postings fetch and one url probe for the whole
    batch, plus one dictionary probe only when the batch has terms the
    driver has not resolved before. Over the budget each exclusion set is
    one distributed plan."""
    import json

    groups: dict[str, list[str]] = {}
    for qid, q in batch.items():
        sig = json.dumps(
            {"type": q.get("type"), "properties": q.get("properties")}, sort_keys=True
        )
        groups.setdefault(sig, []).append(qid)

    kept: list[tuple[list[dict], "np.ndarray | None"]] = []  # (qrows, exclusions)
    for sig, qids in groups.items():
        spec = json.loads(sig)
        qtype = spec.get("type")
        if qtype is not None and qtype != RECON_TYPE:
            continue  # wrong entity type: no candidates for these qids
        excl = _filter_exclusions(spark, index_dir, spec.get("properties"))
        qrows = [
            {"qid": q, "text": batch[q].get("query", ""),
             "k": int(batch[q].get("limit", 10)), "mode": "recon"}
            for q in qids
        ]
        kept.append((qrows, excl if len(excl) else None))

    res = query.IndexSearcher(spark, index_dir, preload_terms=0).search_batch(
        [r for qrows, _ in kept for r in qrows],
        join_urls=True,
        exclude_by_qid={
            r["qid"]: excl for qrows, excl in kept if excl is not None for r in qrows
        },
    )
    by_q: dict[str, list] = {qid: [] for qid in batch}
    for qid, url, score in zip(res["qid"], res["url"], res["score"]):  # by (qid, rank)
        by_q[qid].append((url, float(score)))
    out: dict[str, dict[str, Any]] = {}
    for qid, cands in by_q.items():
        results = []
        for i, (url, score) in enumerate(cands):
            confident = len(cands) == 1 or (
                i == 0 and len(cands) > 1 and score >= 1.5 * cands[1][1]
            )
            results.append(
                {"id": url, "name": url, "score": score, "match": bool(i == 0 and confident)}
            )
        out[qid] = {"result": results}
    return out


def suggest(spark: SparkSession, index_dir: str, prefix: str, k: int = 10) -> list[dict[str, Any]]:
    """A5 completion suggester: dictionary prefix scan, most-frequent first.

    The dictionary is bucket-partitioned parquet; a prefix scan is a
    pruned scan + TakeOrderedAndProject — no shuffle of postings."""
    d = cached_parquet(spark, f"{index_dir}/dictionary")
    rows = (
        d.where(F.col("term").startswith(prefix.lower()))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
        .collect()
    )
    return [{"text": r["term"], "df": r["df"]} for r in rows]


def prefix_topk(
    spark: SparkSession, index_dir: str, prefix: str, k: int = 10
) -> DataFrame:
    """Prefix (wildcard ``term*``) query with Lucene's ``scoring_boolean``
    multi-term rewrite [public: Lucene MultiTermQuery rewrite modes]:
    expand the prefix against the dictionary, then score the expansions
    as a plain OR — each expansion with its own idf.

    Plan: ONE pruned dictionary prefix scan (same as A5 suggest) feeds
    the expansion list; scoring rides run_queries' normal pruned-segment
    path. Like Lucene, a prefix that expands to a huge term set is the
    caller's foot-gun — ES caps it at max_expansions; we cap identically.
    """
    max_expansions = 1024  # ES multi-term default cap analog
    d = cached_parquet(spark, f"{index_dir}/dictionary")
    terms = [
        r["term"]
        for r in d.where(F.col("term").startswith(prefix.lower()))
        .orderBy(F.desc("df"), F.asc("term"))  # ES keeps the most frequent
        .limit(max_expansions)
        .collect()
    ]
    if not terms:
        return spark.createDataFrame(
            [], "qid string, rank int, doc_id long, score double"
        )
    qtext = " ".join(sorted(terms))
    # expansions are analyzed tokens — re-analysis is identity
    qrows = [{"qid": "pq", "text": qtext, "k": k, "mode": "freetext"}]
    qdf = spark.createDataFrame(
        [("pq", qtext, k, "freetext")],
        "qid string, text string, k int, mode string",
    )
    return run_queries(spark, index_dir, qdf, use_bmw=True,
                       prefetched_qrows=qrows)


def suggest_spelling(
    spark: SparkSession, index_dir: str, term: str, k: int = 5
) -> DataFrame:
    """ES term-suggester ("did you mean") analog [public: ES term suggest
    API; Lucene DirectSpellChecker]: dictionary terms within levenshtein
    distance 1 of ``term``, ranked by (df DESC, term ASC) — ES's default
    frequency sort with the deterministic tie-break. The input term
    itself is never suggested (ES never returns the input).

    Plan (the D7+ fuzzy machinery, suggestion polarity): the term's
    deletion neighborhood (|t|+1 keys) is pushed as an IN-list into the
    build-time ``fuzzy_keys`` table — an equi-join probe, never a
    vocabulary-wide levenshtein scan (SymSpell [public]), the same probe
    fuzzy queries make (``query._fuzzy_candidates``, which expands in
    memory with no job while the dictionary is preloaded); the key-matched
    candidate set (tiny) is verified with an exact edit-distance check
    driver-side and the survivors' df comes from one pushed IN-list
    dictionary probe. At web scale both probes touch O(len(term)) keys /
    O(candidates) dictionary rows — independent of vocabulary size.

    Output: (suggestion string, df bigint, distance int).
    """
    from find_that_charity_spark.functions.analyzer import analyze
    from find_that_charity_spark.functions.fuzzy import within_edit1

    out_schema = "suggestion string, df bigint, distance int"
    toks = analyze(term)
    if len(toks) != 1:
        return spark.createDataFrame([], out_schema)
    t = toks[0]
    cands = query._fuzzy_candidates(spark, index_dir, [t])
    # shared key only bounds distance at 2 — exact verify, input excluded
    verified = [c for c in cands if c != t and within_edit1(c, t)]
    if not verified:
        return spark.createDataFrame([], out_schema)
    return (
        cached_parquet(spark, f"{index_dir}/dictionary")
        .where(query.in_list("term", verified))
        .select(
            F.col("term").alias("suggestion"),
            F.col("df").cast("bigint").alias("df"),
            F.lit(1).cast("int").alias("distance"),
        )
        .orderBy(F.desc("df"), F.asc("suggestion"))
        .limit(k)
    )


def add_to_csv(
    spark: SparkSession,
    index_dir: str,
    user_df: DataFrame,
    query_col: str,
    match_threshold: float = 0.0,
    prefetched_rows: list | None = None,
) -> DataFrame:
    """A6: enrich a user table with its best reconciliation match.

    Adds ``match_url`` and ``match_score`` columns (null when no hit).
    The user table keeps its row identity via a deterministic qid.

    Tables of at most ``DRIVER_MAX_QUERIES`` rows (the interactive
    add-to-CSV regime) dedup their queries, answer them through the same
    ``IndexSearcher.search_batch`` call as ``reconcile`` (within the
    postings budget one postings fetch and one url probe) and join the
    matches back DRIVER-side — a handful of jobs instead of the shuffle
    (dropDuplicates) + broadcast-join stage fan the distributed plan
    needs (VERDICT r03 item 8). Larger tables keep the distributed plan."""
    from find_that_charity_spark.operators.query import take_wide

    # a caller that already holds the table driver-side passes the rows
    # (same contract as run_queries.prefetched_qrows — they must mirror
    # user_df): the take_wide size probe on a pickled-RDD-backed local
    # relation costs a ~0.3 s Python-worker job (optimization round 6)
    bound = query.DRIVER_MAX_QUERIES
    probe = prefetched_rows if prefetched_rows is not None else take_wide(user_df, bound + 1)
    if len(probe) <= bound:
        seen: dict[str, None] = {}
        for r in probe:
            q = r[query_col]
            if q is not None:
                seen.setdefault(q, None)
        if not seen:
            return user_df.withColumn("match_url", F.lit(None).cast("string")) \
                          .withColumn("match_score", F.lit(None).cast("double"))
        import hashlib

        qid_of = {q: hashlib.md5(q.encode("utf-8")).hexdigest() for q in seen}
        res = query.IndexSearcher(spark, index_dir, preload_terms=0).search_batch(
            [{"qid": qid_of[q], "text": q, "k": 1, "mode": "recon"} for q in seen],
            join_urls=True,
        )
        top = res[res["score"] >= match_threshold]  # k=1: one row per hit qid
        by_qid = {
            q: (u, float(sc)) for q, u, sc in zip(top["qid"], top["url"], top["score"])
        }
        out_rows = []
        for r in probe:
            q = r[query_col]
            hit = by_qid.get(qid_of.get(q, "")) if q is not None else None
            out_rows.append(
                (*r, hit[0] if hit else None, hit[1] if hit else None)
            )
        # add() to a copy: DataFrame.schema is cached per DataFrame and
        # add() mutates in place, which would grow the caller's schema
        schema = StructType(list(user_df.schema.fields)) \
            .add("match_url", "string").add("match_score", "double")
        # Arrow-backed local relation (optimization round 6 batch 3): a
        # plain-list createDataFrame parallelizes into defaultParallelism
        # pickled slices, so the caller's collect paid ~0.4 s of Python-
        # worker tasks (measured); the pandas path ships one Arrow batch
        # the JVM evaluates without Python workers. A user column type
        # Arrow cannot convert takes Spark's own non-Arrow fallback
        # (spark.sql.execution.arrow.pyspark.fallback.enabled).
        pdf = pd.DataFrame(
            out_rows, columns=[f.name for f in schema.fields]
        ).astype(object)
        # missing values must reach Spark as NULL, not float NaN: the
        # non-Arrow createDataFrame path would otherwise ship NaN, and
        # CAST(NaN AS BIGINT) is 0 — observably different from a null
        # match_score (caught by the driver-style verify run)
        pdf = pdf.where(pd.notnull(pdf), None)
        return spark.createDataFrame(pdf, schema)
    keyed = user_df.withColumn("_qid", F.md5(F.col(query_col)))
    qdf = keyed.select(
        F.col("_qid").alias("qid"),
        F.col(query_col).alias("text"),
        F.lit(1).alias("k"),
        F.lit("recon").alias("mode"),
    ).dropDuplicates(["qid"])
    ranked = run_queries(spark, index_dir, qdf, join_urls=True).where(F.col("rank") == 1)
    matches = ranked.select(
        F.col("qid").alias("_qid"),
        F.col("url").alias("match_url"),
        F.col("score").alias("match_score"),
    ).where(F.col("score") >= match_threshold)
    return keyed.join(F.broadcast(matches), "_qid", "left").drop("_qid")
