from find_that_charity_spark.functions.analyzer import (  # noqa: F401
    analyze,
    analyze_name,
    analyze_name_series,
    analyze_series,
    tokenize_expr,
    tokenize_udf,
)
from find_that_charity_spark.functions.bm25 import (  # noqa: F401
    B,
    K1,
    bm25_term_score_col,
    bm25_term_score_np,
    idf_col,
    idf_np,
)
