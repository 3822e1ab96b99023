"""Output checks against independent oracles, run outside the timed window.

- Routed /api answers: the DuckDB oracle SQL of ``query.oracle_sql``
  (fielded title/body semantics) over the generated documents.
- msearch batches: ``multi_topk_sql`` / ``multi_mixed_topk_sql``.
- Stack reads after ``force_merge``: the brute-force Python BM25 oracle
  (``prosearch_spark.oracle``) with the code analyzer.

Each check returns the number of mismatching answers.
"""

from __future__ import annotations

import sys

SCORE_TOL = 1e-6


def _same(got: list[tuple[int, float]], want: list[tuple[int, float]]
          ) -> bool:
    if len(got) != len(want):
        return False
    return all(g[0] == w[0] and abs(g[1] - w[1]) <= SCORE_TOL
               for g, w in zip(got, want))


def _report(what: str, q, got, want) -> None:
    print(f"oracle mismatch ({what}) for {q!r}: got {got[:3]}... "
          f"want {want[:3]}...", file=sys.stderr)


def _duckdb(docs):
    import duckdb

    con = duckdb.connect()
    con.register("documents", docs[["doc_id", "text"]])
    return con


def check_routed(docs, answers: list[tuple[str, list[tuple[int, float]]]],
                 k: int = 10) -> int:
    """``docs``: pandas (doc_id, text); ``answers``: (query, hits)."""
    from prosearch_spark.analyzer import parse_query_lenient, parse_query_slop
    from prosearch_spark.query.oracle_sql import (
        fielded_mixed_slop_topk_sql,
        fielded_mixed_topk_sql,
        fielded_topk_sql,
    )

    con = _duckdb(docs)
    bad = 0
    for q, got in answers:
        if '"' not in q:
            sql = fielded_topk_sql(q, k)
        elif parse_query_slop(q) != parse_query_lenient(q):
            sql = fielded_mixed_slop_topk_sql(q, k)
        else:
            sql = fielded_mixed_topk_sql(q, k)
        want = [(int(d), float(s)) for _r, d, s in con.execute(sql).fetchall()]
        if not _same(got, want):
            _report("routed", q, got, want)
            bad += 1
    con.close()
    return bad


def check_msearch(docs, batch: list[str],
                  got: dict[int, list[tuple[int, float]]],
                  k: int = 10) -> int:
    """One msearch batch against the single-field batched oracles."""
    from prosearch_spark.query.oracle_sql import (
        multi_mixed_topk_sql,
        multi_topk_sql,
    )

    con = _duckdb(docs)
    term_idx = [i for i, q in enumerate(batch) if '"' not in q]
    quoted_idx = [i for i, q in enumerate(batch) if '"' in q]
    want: dict[int, list[tuple[int, float]]] = {}
    for idx, sql_fn in ((term_idx, multi_topk_sql),
                        (quoted_idx, multi_mixed_topk_sql)):
        rows = con.execute(sql_fn([batch[i] for i in idx], k)).fetchall()
        for qid, _rank, d, s in rows:
            want.setdefault(idx[qid], []).append((int(d), float(s)))
    con.close()
    bad = 0
    for i, q in enumerate(batch):
        if not _same(got.get(i, []), want.get(i, [])):
            _report("msearch", q, got.get(i, []), want.get(i, []))
            bad += 1
    return bad


def code_topk(idx, q: str, k: int = 10) -> list[tuple[int, float]]:
    """Python-oracle top-k, rounded to 6 places before ranking (the
    engine's round-before-rank rule)."""
    from prosearch_spark.oracle import topk

    scored = topk(idx, q, k=idx.n_docs, fields=("body",))
    rounded = sorted(((d, round(s, 6)) for d, s in scored),
                     key=lambda x: (-x[1], x[0]))
    return rounded[:k]


def check_code(final_docs: list[dict],
               answers: list[tuple[str, list[tuple[int, float]]]],
               k: int = 10) -> int:
    """``final_docs``: the logical corpus after the upsert wave, as
    dicts with doc_id, content and lang."""
    from prosearch_spark.oracle import build_oracle_index

    idx = build_oracle_index(final_docs, {"body": "content"},
                             analyzer="code")
    bad = 0
    for q, got in answers:
        want = code_topk(idx, q, k)
        if not _same(got, want):
            _report("code", q, got, want)
            bad += 1
    return bad
