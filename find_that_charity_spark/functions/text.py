"""Text-analysis functions for large-scale corpus pipelines.

Language-ID (stopword-profile heuristic), quality scoring (length / punct /
stopword ratios), token counting, and document fingerprinting. Everything is
native Column expressions (whole-stage codegen, no Python), and each has an
ANSI-SQL rendering used by the DuckDB oracle gate so the two can never
drift: the SQL is generated from the same constants.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from find_that_charity_spark.functions.analyzer import ASCII_TOKEN_PATTERN, tokenize_expr

# Tiny deterministic stopword profiles (fixture langs: en fr es de; zh has
# no \w-ascii stopwords → falls through to 'und' = undetermined).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "for", "on", "with"),
    "fr": ("le", "la", "les", "de", "des", "et", "un", "une", "du", "en"),
    "es": ("el", "la", "los", "de", "y", "un", "una", "del", "en", "que"),
    "de": ("der", "die", "das", "und", "von", "ein", "eine", "zu", "mit", "den"),
}

PUNCT_CLASS = r"[.,!?;:()]"


def token_count(text_col: str = "text") -> Column:
    return F.size(tokenize_expr(text_col))


def token_count_sql(text_col: str = "text") -> str:
    return f"len(regexp_extract_all(lower({text_col}), '{ASCII_TOKEN_PATTERN}'))"


def punct_count(text_col: str = "text") -> Column:
    # global replace is Spark's default; DuckDB needs the 'g' flag (see SQL)
    return F.length(text_col) - F.length(F.regexp_replace(text_col, PUNCT_CLASS, ""))


def punct_count_sql(text_col: str = "text") -> str:
    return f"(length({text_col}) - length(regexp_replace({text_col}, '{PUNCT_CLASS}', '', 'g')))"


def stopword_count_sql(lang: str, text_col: str = "text") -> str:
    in_list = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter(regexp_extract_all(lower({text_col}), "
        f"'{ASCII_TOKEN_PATTERN}'), t -> t IN ({in_list})))"
    )


def _let(bound: Column, body) -> Column:
    """Evaluate ``body(x)`` with ``x`` bound once to ``bound`` — a let
    binding built from ``transform`` over a single-element array. Catalyst
    has no common-subexpression elimination across an interpreted
    (higher-order / CodegenFallback) projection, so an expensive
    expression referenced N times is otherwise evaluated N times
    (optimization round 6, guide §1.2: lang_id ran its regexp tokenizer 4x
    per row). The lambda variable is a plain attribute reference — free."""
    return F.transform(F.array(bound), body)[0]


def lang_id(text_col: str = "text") -> Column:
    """Heuristic language-ID: argmax stopword-profile hit count, fixed
    tie-break order en > fr > es > de, 'und' when nothing matches.

    Tokenize runs ONCE per row (bound via :func:`_let`), then each
    profile's hit count once, then the decision CASE chain over the bound
    counts — same decision table as always, 1 regexp instead of 4."""
    langs = list(STOPWORDS)

    def _hit_counter(words: tuple[str, ...]):
        # closure factory: pyspark derives the lambda's arity from its
        # signature, so the word list cannot ride a default parameter
        return lambda t: t.isin(*words)

    def counts_of(toks: Column) -> Column:
        return F.struct(
            *[
                F.size(F.filter(toks, _hit_counter(STOPWORDS[lang]))).alias(lang)
                for lang in langs
            ]
        )

    def decide(cnt: Column) -> Column:
        counts = {lang: cnt[lang] for lang in langs}
        expr = F.lit("und")
        # build reversed CASE chain so earlier langs win ties
        for lang in reversed(langs):
            cond = counts[lang] > 0
            for other in langs:
                if other == lang:
                    continue
                if langs.index(other) < langs.index(lang):
                    cond = cond & (counts[lang] > counts[other])
                else:
                    cond = cond & (counts[lang] >= counts[other])
            expr = F.when(cond, F.lit(lang)).otherwise(expr)
        return expr

    return _let(tokenize_expr(text_col), lambda toks: _let(counts_of(toks), decide))


def lang_id_sql(text_col: str = "text") -> str:
    langs = list(STOPWORDS)
    cnt = {lang: stopword_count_sql(lang, text_col) for lang in langs}
    sql = "'und'"
    for lang in reversed(langs):
        conds = [f"{cnt[lang]} > 0"]
        for other in langs:
            if other == lang:
                continue
            op = ">" if langs.index(other) < langs.index(lang) else ">="
            conds.append(f"{cnt[lang]} {op} {cnt[other]}")
        sql = f"CASE WHEN {' AND '.join(conds)} THEN '{lang}' ELSE {sql} END"
    return sql


def quality_score(text_col: str = "text") -> Column:
    """Composite quality in [0, ~1]: penalize very short docs and heavy
    punctuation; reward stopword presence (natural-language-ness).
    score = min(dl,100)/100 * (1 - punct_ratio) with +0.1 stopword bonus.

    Tokenize runs ONCE per row (:func:`_let` binding shared by the dl and
    stopword factors — it ran twice before optimization round 6); the
    formula is unchanged."""
    punct_ratio = punct_count(text_col).cast("double") / F.greatest(
        F.length(text_col).cast("double"), F.lit(1.0)
    )

    def score_of(toks: Column) -> Column:
        dl = F.size(toks).cast("double")
        sw = F.size(
            F.filter(toks, lambda t: t.isin(*STOPWORDS["en"]))
        ).cast("double")
        base = F.least(dl, F.lit(100.0)) / F.lit(100.0) * (F.lit(1.0) - punct_ratio)
        return base + F.when(sw > 0, F.lit(0.1)).otherwise(F.lit(0.0))

    return _let(tokenize_expr(text_col), score_of)


def quality_score_sql(text_col: str = "text") -> str:
    dl = f"CAST({token_count_sql(text_col)} AS DOUBLE)"
    pr = (
        f"(CAST({punct_count_sql(text_col)} AS DOUBLE) / "
        f"greatest(CAST(length({text_col}) AS DOUBLE), 1.0))"
    )
    sw = f"CAST({stopword_count_sql('en', text_col)} AS DOUBLE)"
    return (
        f"(least({dl}, 100.0) / 100.0 * (1.0 - {pr}) "
        f"+ CASE WHEN {sw} > 0 THEN 0.1 ELSE 0.0 END)"
    )


def fingerprint(text_col: str = "text") -> Column:
    """Canonical content fingerprint: md5 of the space-joined token stream
    (case/punct/whitespace-insensitive — two docs with equal token streams
    collide by design)."""
    return F.md5(F.array_join(tokenize_expr(text_col), " "))


def fingerprint_sql(text_col: str = "text") -> str:
    return (
        f"md5(array_to_string(regexp_extract_all(lower({text_col}), "
        f"'{ASCII_TOKEN_PATTERN}'), ' '))"
    )
