"""Analyzer chain (SURVEY.md §2B B1).

Semantics pinned to the Elasticsearch ``standard`` analyzer family the
reference delegates to [public: ES standard analyzer; find-that-charity
indexes org names/text through ES default analysis]:

    NFKC normalize -> lowercase -> tokenize on ``\\w+`` runs -> drop empties

``analyze_name`` adds ASCII-folding (ES ``asciifolding`` analog) for
reconciliation-mode queries: NFKD-decompose and strip combining marks so
``Société`` matches ``societe``.

Two executable forms, byte-identity-tested against each other per
BASELINE.json input_hint ("byte-identical extracted text per url"):

- the *pinned scalar* functions ``analyze`` / ``analyze_name`` — the
  reference definition, used by the in-repo brute-force oracle;
- the *vectorized* pandas forms ``analyze_series`` / ``analyze_name_series``;
  ``analyze_series`` is wrapped as the Arrow-batched ``tokenize_udf``, the
  build's tokenizer (no per-row Python UDFs anywhere, BASELINE.json
  input_hint). Queries are parsed with the scalar functions
  (``operators.query.parse_query``).

``tokenize_expr`` is a third, JVM-native form (``regexp_extract_all``)
valid only for ASCII-lowercase-safe text; it exists so DuckDB oracle SQL and
Spark plans can share one tokenization for the driver's correctness gate.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

# Pinned token pattern: runs of Unicode word chars. Do not change — rank
# identity across engine versions depends on it (SURVEY.md §2B B1).
TOKEN_PATTERN = r"\w+"
_TOKEN_RE = re.compile(TOKEN_PATTERN, re.UNICODE)

# ASCII-safe pattern shared verbatim with DuckDB oracle SQL.
ASCII_TOKEN_PATTERN = "[a-z0-9]+"


def analyze(text: str | None) -> list[str]:
    """Pinned scalar analyzer — the reference tokenization function."""
    if text is None:
        return []
    return _TOKEN_RE.findall(unicodedata.normalize("NFKC", text).lower())


def analyze_name(text: str | None) -> list[str]:
    """Recon-mode analyzer: ``analyze`` + ASCII folding (strip marks)."""
    if text is None:
        return []
    s = unicodedata.normalize("NFKC", text).lower()
    s = unicodedata.normalize("NFKD", s)
    s = "".join(c for c in s if not unicodedata.combining(c))
    return _TOKEN_RE.findall(s)


def analyze_series(s: pd.Series) -> pd.Series:
    """Vectorized twin of ``analyze`` over a pandas Series of strings."""
    out = s.fillna("").str.normalize("NFKC").str.lower().str.findall(_TOKEN_RE)
    return out


def analyze_name_series(s: pd.Series) -> pd.Series:
    """Vectorized twin of ``analyze_name``."""
    folded = (
        s.fillna("")
        .str.normalize("NFKC")
        .str.lower()
        .str.normalize("NFKD")
        # pandas has no vectorized combining-mark strip; a per-char filter on
        # the (short) name strings is still Arrow-batched, not per-row Spark.
        .map(lambda t: "".join(c for c in t if not unicodedata.combining(c)))
    )
    return folded.str.findall(_TOKEN_RE)


@pandas_udf(ArrayType(StringType()))
def tokenize_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched production tokenizer (SURVEY.md §2C C5)."""
    return analyze_series(s)


def tokenize_expr(col: Column | str) -> Column:
    """JVM-native tokenizer for ASCII-safe text.

    ``regexp_extract_all(lower(col), '[a-z0-9]+')`` — semantically equal to
    ``analyze`` on text containing only ASCII letters/digits/punct (tested),
    and expressible verbatim in DuckDB for the driver's oracle gate. Stays
    inside WholeStageCodegen; use it wherever the corpus is known-ASCII.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(ASCII_TOKEN_PATTERN), 0)
