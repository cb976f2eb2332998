"""Relational BM25 path (SURVEY.md §7 Slice 1) — the permanent equivalence
oracle and the driver-gated flagship query.

This is BM25 expressed entirely in native DataFrame operators — explode,
groupBy, join, window — with zero Python UDFs, so Catalyst whole-stage
codegens all of it and DuckDB can run the *same* logic as ANSI SQL for the
driver's correctness gate (__spark_entry__.oracle_sql). The segment/blob
fast path (operators/query.py) must produce identical top-k results; tests
hold the two paths together (SURVEY.md §5.4).

Scale notes (100 TB posture):
- tokenization stays JVM-side here (``regexp_extract_all``) — valid for the
  ASCII corpus; the production path uses the Arrow pandas UDF analyzer.
- ``posexplode``/``groupBy`` gets map-side partial aggregation from
  Catalyst; the (term, doc_id) shuffle is the unavoidable inversion
  shuffle, identical in shape to the segment build (C7).
- the query-side joins broadcast the (tiny) query-term set and the 1-row
  stats — no full shuffle of postings at query time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from find_that_charity_spark.functions.analyzer import analyze, tokenize_expr
from find_that_charity_spark.functions.bm25 import bm25_sql
from find_that_charity_spark.sources.corpus import read_table, widen_scan


def bm25_topk(
    docs: DataFrame,
    query_text: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k BM25 over ``docs`` for one query — pure relational plan.

    Output: (doc_id bigint, rank int, score_mil bigint) where score_mil =
    floor(score * 1e4 + 0.5) — integer-quantized so cross-engine float
    rounding (JVM Math.log vs C libm) can't flip the driver's value-hash.
    Tie-break (B4): score DESC, doc_id ASC.

    Plan shape (optimization round 6, guide §2.3/§2.4): the query-term set
    is known at plan time, so per-doc tfs are computed as array expressions
    in the scan projection instead of explode → groupBy(term, doc_id) →
    3-way join. Two corpus passes total (one for the 1-row stats+df
    aggregate — broadcast — and one for scoring into TakeOrdered), zero
    non-broadcast shuffles; the old plan tokenized the corpus four times
    and shuffled the full (term, doc_id) inversion twice. A term with
    tf = 0 contributes exactly 0.0 to the sum (0 numerator, positive
    denominator), so summing over all query terms equals the old
    postings-join sum.
    """
    spark = docs.sparkSession
    terms = sorted(set(analyze(query_text)))
    if not terms:
        return spark.createDataFrame(
            [], "doc_id bigint, rank int, score_mil bigint"
        )

    # widen_scan: parallelize the tokenize pass past row-group granularity
    # (guide §2.5); lazy localCheckpoint: the stats subtree and the scoring
    # subtree share ONE materialization of the (narrow — doc_id, dl, tfs)
    # per-doc relation instead of re-tokenizing per consumer. Scoped to
    # this query's DataFrame instance, reclaimed by the ContextCleaner
    # when it is dropped — nothing survives across invocations.
    #
    # Expressions are built as parsed SQL strings (optimization round 6
    # batch 5): the Column-by-Column construction of the per-term
    # tf/df/score tree cost ~900 py4j round trips ≈ 0.4 s of driver wall
    # per call (cProfile); the parser builds the IDENTICAL Catalyst tree
    # (same operator associativity, same double literals — the score
    # string is the very rendering the DuckDB oracle executes) in a
    # handful of calls.
    tokens = widen_scan(docs).select(
        F.col(id_col).alias("doc_id"), tokenize_expr(text_col).alias("tokens")
    )
    perdoc = tokens.selectExpr(
        "doc_id",
        "size(tokens) AS dl",
        *[
            f"(size(tokens) - size(array_remove(tokens, '{t}'))) AS tf_{i}"
            for i, t in enumerate(terms)
        ],
    ).localCheckpoint(eager=False)
    stats = perdoc.agg(
        F.expr("count(1) AS n_docs"),
        F.expr("avg(dl) AS avgdl"),
        *[
            F.expr(f"sum(CAST(tf_{i} > 0 AS BIGINT)) AS df_{i}")
            for i in range(len(terms))
        ],
    )

    matched_any = F.expr(" OR ".join(f"tf_{i} > 0" for i in range(len(terms))))
    score_sql = " + ".join(
        bm25_sql(tf=f"tf_{i}", dl="dl", n="n_docs", df=f"df_{i}", avgdl="avgdl")
        for i in range(len(terms))
    )
    scored = (
        perdoc.where(matched_any)
        .crossJoin(F.broadcast(stats))
        .selectExpr("doc_id", f"({score_sql}) AS score")
    )
    ranked = (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id"))),
        )
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("rank").cast("int").alias("rank"),
            F.floor(F.col("score") * F.lit(1e4) + F.lit(0.5)).cast("bigint").alias("score_mil"),
        )
    )
    return ranked


def bm25_topk_sql(
    query_text: str,
    k: int = 10,
    table: str = "documents",
    analyzer=analyze,
    conjunctive: bool = False,
    min_should_match: int | None = None,
    include_where: str | None = None,
) -> str:
    """DuckDB oracle twin of :func:`bm25_topk` / the segment engine — same
    math, same aliases. Supports D7 semantics: ``conjunctive`` requires all
    positive terms; query words prefixed ``-`` become exclusions;
    ``min_should_match`` keeps docs matching >= m distinct terms (ES
    minimum_should_match — the engine's mode ``min_should:<m>``);
    ``include_where`` is a predicate over ``{table}`` defining the ES
    POSITIVE filter context (run_queries.include_doc_ids) — results
    restricted, stats untouched. Lucene boost syntax ``word^2.5`` is
    parsed exactly as the engine does (strip before analysis, repeated
    term takes the max boost) and multiplies that term's idf."""
    import re as _re

    pos: set[str] = set()
    neg: set[str] = set()
    boosts: dict[str, float] = {}
    for word in query_text.split():
        m = _re.match(r"^(.*)\^(\d+(?:\.\d+)?)$", word)
        b = float(m.group(2)) if m else 1.0
        wtext = m.group(1) if m else word
        toks = analyzer(wtext.lstrip("-"))
        if word.startswith("-"):
            neg.update(toks)
        else:
            pos.update(toks)
            for t in toks:
                boosts[t] = max(boosts.get(t, 1.0), b)
    terms = sorted(pos)
    terms_list = ", ".join(
        f"('{t}', {boosts.get(t, 1.0)!r})" for t in terms
    )
    score_expr = bm25_sql(tf="tf.tf", dl="dl.dl", n="s.n_docs", df="d.df", avgdl="s.avgdl")
    having = f"HAVING count(DISTINCT tf.term) = {len(terms)}" if conjunctive else ""
    if min_should_match is not None:
        having = f"HAVING count(DISTINCT tf.term) >= {min_should_match}"
    neg_filter = ""
    if neg:
        neg_list = ", ".join(f"'{t}'" for t in sorted(neg))
        neg_filter = (
            f"AND tf.doc_id NOT IN (SELECT doc_id FROM tf WHERE term IN ({neg_list}))"
        )
    if include_where:
        neg_filter += (
            f" AND tf.doc_id IN (SELECT doc_id FROM {table} WHERE {include_where})"
        )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
s  AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
q  AS (SELECT * FROM (VALUES {terms_list}) AS v(term, boost)),
d  AS (SELECT tf.term, count(*) AS df FROM tf JOIN q USING (term) GROUP BY 1),
scored AS (
  SELECT tf.doc_id, sum(({score_expr}) * q.boost) AS score
  FROM tf JOIN q USING (term) JOIN d ON tf.term = d.term
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN s
  WHERE 1=1 {neg_filter}
  GROUP BY tf.doc_id
  {having}
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       CAST(floor(score * 1e4 + 0.5) AS BIGINT) AS score_mil
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def fuzzy_topk_sql(query_text: str, k: int = 10, table: str = "documents") -> str:
    """DuckDB oracle for fuzzy (edit-distance-1) retrieval: expand each
    query term to all corpus terms within levenshtein 1, score as OR."""
    from find_that_charity_spark.functions.analyzer import analyze_name

    terms = sorted(set(analyze_name(query_text)))
    terms_list = ", ".join(f"('{t}')" for t in terms)
    score_expr = bm25_sql(tf="tf.tf", dl="dl.dl", n="s.n_docs", df="d.df", avgdl="s.avgdl")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
s  AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
q  AS (SELECT * FROM (VALUES {terms_list}) AS v(qterm)),
vocab AS (SELECT DISTINCT term FROM tf),
exp AS (
  SELECT DISTINCT vocab.term FROM vocab, q
  WHERE abs(length(vocab.term) - length(q.qterm)) <= 1
    AND levenshtein(vocab.term, q.qterm) <= 1
),
d AS (SELECT tf.term, count(*) AS df FROM tf JOIN exp USING (term) GROUP BY 1),
scored AS (
  SELECT tf.doc_id, sum({score_expr}) AS score
  FROM tf JOIN exp USING (term) JOIN d ON tf.term = d.term
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN s
  GROUP BY tf.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       CAST(floor(score * 1e4 + 0.5) AS BIGINT) AS score_mil
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def prefix_topk_sql(prefix: str, k: int = 10, table: str = "documents") -> str:
    """DuckDB oracle for prefix (wildcard ``prefix*``) retrieval with the
    scoring_boolean rewrite: expand against the corpus vocabulary, score
    as OR with per-expansion idf. (The engine's max_expansions cap is
    inert at gate scale — expansion counts are asserted tiny in tests.)"""
    score_expr = bm25_sql(tf="tf.tf", dl="dl.dl", n="s.n_docs", df="d.df", avgdl="s.avgdl")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
s  AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
exp AS (SELECT DISTINCT term FROM tf WHERE term LIKE '{prefix.lower()}%'),
d AS (SELECT tf.term, count(*) AS df FROM tf JOIN exp USING (term) GROUP BY 1),
scored AS (
  SELECT tf.doc_id, sum({score_expr}) AS score
  FROM tf JOIN exp USING (term) JOIN d ON tf.term = d.term
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN s
  GROUP BY tf.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       CAST(floor(score * 1e4 + 0.5) AS BIGINT) AS score_mil
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def suggest_spelling_sql(term: str, k: int = 5, table: str = "documents") -> str:
    """DuckDB oracle for the term suggester: vocabulary terms at
    levenshtein distance exactly 1 from ``term`` (the input itself never
    suggested), ranked (df DESC, term ASC). The oracle runs the
    vocabulary-wide levenshtein scan the engine's deletion-key equi-join
    exists to avoid — same answer, different plan, which is the point of
    the pairing."""
    t = term.lower()
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
d  AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
SELECT term AS suggestion,
       CAST(df AS BIGINT) AS df,
       CAST(1 AS INT) AS distance
FROM d
WHERE term <> '{t}' AND levenshtein(term, '{t}') <= 1
ORDER BY df DESC, suggestion ASC
LIMIT {k}
"""


def phrase_topk_sql(query_text: str, k: int = 10, table: str = "documents") -> str:
    """DuckDB oracle for phrase queries (ES match_phrase semantics):
    weight = sum of idf over query token occurrences, tf = exact
    consecutive-occurrence count, score = weight * BM25 tf-normalization.
    Same quantized output columns as :func:`bm25_topk_sql`."""
    terms = analyze(query_text)
    assert terms, "empty phrase"
    uniq = sorted(set(terms))
    uniq_list = ", ".join(f"('{t}')" for t in uniq)
    # weight: idf summed per occurrence (repeats count)
    occ = {t: terms.count(t) for t in uniq}
    weight_expr = " + ".join(
        f"{occ[t]} * (SELECT ln(1 + (s.n_docs - df + 0.5) / (df + 0.5)) "
        f"FROM df_t, s WHERE term = '{t}')"
        for t in uniq
    )
    # adjacency joins: anchor at t0, require terms[i] at p + i
    joins = "\n  ".join(
        f"JOIN tp t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.p = t0.p + {i} "
        f"AND t{i}.term = '{terms[i]}'"
        for i in range(1, len(terms))
    )
    from find_that_charity_spark.functions.bm25 import B, K1

    tf_norm = (
        f"(pf * {K1 + 1.0}) / (pf + {K1} * ({1.0 - B} + {B} * (dl.dl / s.avgdl)))"
    )
    return f"""
WITH docs_t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM {table}
),
tp AS (
  SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS p FROM docs_t
),
dl AS (SELECT doc_id, len(toks) AS dl FROM docs_t),
s  AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
q  AS (SELECT * FROM (VALUES {uniq_list}) AS v(term)),
df_t AS (SELECT tp.term, count(DISTINCT doc_id) AS df FROM tp JOIN q USING (term) GROUP BY 1),
anchors AS (
  SELECT t0.doc_id, t0.p FROM tp t0
  {joins}
  WHERE t0.term = '{terms[0]}'
),
pfreq AS (SELECT doc_id, count(*) AS pf FROM anchors GROUP BY 1),
scored AS (
  SELECT pfreq.doc_id, ({weight_expr}) * {tf_norm} AS score
  FROM pfreq JOIN dl ON pfreq.doc_id = dl.doc_id CROSS JOIN s
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       CAST(floor(score * 1e4 + 0.5) AS BIGINT) AS score_mil
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's ``entry`` query: BM25 top-10 over the documents table."""
    docs = read_table(spark, sf_dir, "documents")
    return bm25_topk(docs, FLAGSHIP_QUERY, k=10)


# Multi-term query over the fixture vocabulary (all terms exist in corpus).
FLAGSHIP_QUERY = "spark merge join window"
