"""BM25 scoring — the exact formula of SURVEY.md §4.3.

The reference scores with Tantivy's Lucene-style BM25 (pinned library,
tantivy-cli/Cargo.toml:31; invoked serve.rs:413-419), k1=1.2, b=0.75:

    idf   = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfp   = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score = boost * idf * tfp,   summed over query clauses

The formula is defined ONCE as a SQL expression string and used
verbatim by both the Spark engine (via ``F.expr``) and the DuckDB
oracle — same parse tree, same left-associated IEEE-double arithmetic,
so scores are bit-identical up to cross-engine libm ``ln`` (both use
the platform libm) and the final sum over 1-5 clauses.

Column contract: ``boost tf df dl n_docs avgdl`` must be in scope.
"""

from __future__ import annotations

K1 = 1.2
B = 0.75

# literal-constant form; both engines constant-fold identically.
SCORE_EXPR = (
    "boost"
    " * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
    " * (tf * (1.2 + 1.0))"
    " / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))"
)


# MoreLikeThis term-selection score: tf x the BM25 idf, rounded to the
# 6dp grid BEFORE ranking (ties -> term ASC). Like SCORE_EXPR this is
# ONE string used verbatim by the Spark engine (F.expr) and the DuckDB
# oracle, so the selected seed-term set is identical by construction.
MLT_TERM_EXPR = (
    "round(tf * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6)"
)


def bm25_py(tf: float, df: int, dl: int, n_docs: int, avgdl: float,
            boost: float = 1.0) -> float:
    """Pure-Python twin for the pandas oracle (same operation order)."""
    return (
        boost
        * __import__("math").log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        * (tf * (1.2 + 1.0))
        / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    )
