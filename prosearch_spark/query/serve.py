"""Search front-end facade — the reference's /api responder.

Replicates the Serp shape (serve.rs:301-312,436-440): for a query
string, return ``{"q": ..., "num_hits": ..., "hits": [{"doc": {...},
"snip": ...}], "timings_ms": ...}`` with the ``body`` field dropped
from each returned doc (P1, serve.rs:379-386) and per-query latency
reported (Q13). Also implements the warmup sweep (Q11,
serve.rs:220-257): run a query list once so caches/codegen are hot.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prosearch_spark.query.engine import MULTI_TOPK_SCHEMA
from prosearch_spark.query.snippet import make_snippet_py
from prosearch_spark.session import local_frame


class ArtifactSearcher:
    """Production /api responder over COMMITTED artifacts, routing each
    parsed query to the best physical plan. The reference exposes ONE
    endpoint; the BooleanQuery built from the lenient parse picks the
    execution over segment skip data (serve.rs:407-419) — here:

      - quoted span -> the staged mixed ladder (query/mixed.py) over
        the fielded artifacts when configured (title 1.5 / body 1.0
        for term clauses, phrases and slops scored in the positional
        body field), else over the single-field positional artifact;
      - fielded artifacts configured, no quotes -> fielded Block-Max
        WAND (title 1.5 / body 1.0, serve.rs:336-351);
      - otherwise -> single-field Block-Max WAND.

    Every branch is exact (each is oracle-gated on its own); routing
    changes COST only — except that configuring ``fielded`` opts into
    fielded scoring semantics, which is the caller's schema choice,
    not a plan choice.
    """

    def __init__(self, spark: SparkSession, artifact,
                 fielded: dict | None = None,
                 body_col: str = "text",
                 vectors=None, n_probe: int = 2):
        from prosearch_spark.query.block_engine import BlockSearchEngine
        from prosearch_spark.query.fielded import FieldedBlockSearchEngine

        self.spark = spark
        self.artifact = artifact
        self.block = BlockSearchEngine(spark, artifact)
        self.fielded = (FieldedBlockSearchEngine(spark, fielded)
                        if fielded else None)
        self.body_col = body_col
        # optional semantic deployment: a committed IVF VectorArtifact
        # (index/vectors.py) sharing the lexical doc_id space; enables
        # hybrid() / msearch_hybrid() with the partition-pruned probe
        self.vectors = vectors
        self.n_probe = n_probe

    def _dispatch(self, q: str, k: int, round_to: int | None,
                  want_stats: bool) -> tuple[DataFrame, str, dict]:
        """The one routing table: (predicate, plan name, engine call)
        rows in priority order, the first whose predicate holds serves
        ``q``. Calls return (hits, stats); ``want_stats`` asks the
        mixed engines for their pruning counters (two extra count
        jobs, so route() skips them — WAND stats come free).

        Every quoted query goes to the deployment's mixed engine
        (fielded when configured, else single-field — the same staged
        ladder, query/mixed.ladder_topk), which parses the proximity
        grammar ("..."~N) itself. The plan name says ``mixed_slop``
        whenever that grammar and the lenient one PARSE DIFFERENTLY (a
        glued ~suffix exists — including ~0 folds and dropped bad
        suffixes, which the lenient parse would turn into dead term
        clauses)."""
        from prosearch_spark.analyzer import (
            parse_query_lenient,
            parse_query_slop,
        )

        quoted = '"' in q
        slop = quoted and parse_query_slop(q) != parse_query_lenient(q)
        fld = self.fielded
        mix = fld if fld is not None else self.block
        prefix = "fielded_" if fld is not None else ""

        def mixed():
            out = mix.mixed_topk(q, k, round_to, return_stats=want_stats)
            return out if want_stats else (out, {})

        table = (
            (quoted, prefix + ("mixed_slop" if slop else "mixed"), mixed),
            (fld is not None, "fielded_wand",
             lambda: fld.topk_wand(q, k, round_to)),
            (True, "wand", lambda: self.block.topk_wand(q, k, round_to)),
        )
        plan, call = next((p, c) for ok, p, c in table if ok)
        hits, stats = call()
        return hits, plan, stats

    def route(self, q: str, k: int = 10,
              round_to: int | None = None) -> tuple[DataFrame, str]:
        """Pick the plan for ``q``; returns (hits, plan_name)."""
        hits, plan, _stats = self._dispatch(q, k, round_to, False)
        return hits, plan

    def more_like_this(self, seed_doc_id: int, k: int = 10,
                       round_to: int | None = None,
                       max_terms: int = 8, min_df: int = 2
                       ) -> tuple[DataFrame, str]:
        """Related-docs navigation over the committed deployment
        (serve.rs:336-453's per-result navigation analog): delegates
        to the artifact MLT (doc-store seed fetch + re-analysis +
        disjunctive Block-Max WAND — block_engine.more_like_this).
        On a fielded deployment MLT still runs over the single-field
        body artifact passed as ``artifact``: seed-term selection is a
        per-TERM statistic and the reference's MLT shape is unfielded;
        fielded boosts are a query-string concern the related-docs
        query never has."""
        hits, _stats = self.block.more_like_this(
            seed_doc_id, k, max_terms=max_terms, min_df=min_df,
            round_to=round_to, text_col=self.body_col)
        return hits, "mlt_wand_or"

    def msearch_mlt(self, seed_doc_ids: list[int], k: int = 10,
                    round_to: int | None = None,
                    max_terms: int = 8, min_df: int = 2) -> DataFrame:
        """Related docs for a whole result PAGE: the batched committed
        MLT (block_engine.multi_more_like_this — one doc-store fetch,
        one per-seed selection window, one decode + disjunctive batch
        rank; three jobs regardless of page size). Returns
        (query_id, rank, doc_id, score), query_id = seed doc_id."""
        return self.block.multi_more_like_this(
            seed_doc_ids, k, max_terms=max_terms, min_df=min_df,
            round_to=round_to, text_col=self.body_col)

    def hybrid(self, q: str, query_vec: list[float], k: int = 10,
               depth: int = 50,
               round_to: int | None = None) -> tuple[DataFrame, str]:
        """Hybrid serving over the configured deployments: Block-Max
        WAND lexical leg (FIELDED WAND when a fielded deployment is
        configured — the same schema-choice preference route() makes)
        + the committed IVF store's partition-pruned probe, fused by
        RRF (hybrid.hybrid_topk_ivf — the only fusion shape that holds
        at 100 TB of embeddings). Requires ``vectors`` configured at
        construction."""
        from prosearch_spark.query.hybrid import hybrid_topk_ivf

        if self.vectors is None:
            raise ValueError("no vector artifact configured; pass "
                             "vectors= to ArtifactSearcher")
        lex_eng = self.fielded if self.fielded is not None else self.block
        hits = hybrid_topk_ivf(lex_eng, self.vectors, q, query_vec,
                               k=k, depth=depth, n_probe=self.n_probe,
                               round_to=round_to)
        return hits, ("hybrid_fielded_wand_ivf" if self.fielded
                      else "hybrid_wand_ivf")

    def msearch_hybrid(self, queries: list[str], qvecs: DataFrame,
                       k: int = 10, depth: int = 50,
                       round_to: int | None = None) -> DataFrame:
        """Batched hybrid over the configured deployments: one lexical
        msearch batch + one batched IVF probe + one fused partitioned
        rank (hybrid.multi_hybrid_topk_ivf — three jobs per batch).
        ``qvecs`` is the (query_id, qv) frame pairing with ``queries``
        by list position."""
        from prosearch_spark.query.hybrid import multi_hybrid_topk_ivf

        if self.vectors is None:
            raise ValueError("no vector artifact configured; pass "
                             "vectors= to ArtifactSearcher")
        lex_eng = self.fielded if self.fielded is not None else self.block
        return multi_hybrid_topk_ivf(lex_eng, self.vectors, queries,
                                     qvecs, k=k, depth=depth,
                                     n_probe=self.n_probe,
                                     round_to=round_to)

    def msearch(self, queries: list[str], k: int = 10,
                round_to: int | None = None) -> DataFrame:
        """Batched serving (the Elasticsearch ``_msearch`` analog):
        (query_id, rank, doc_id, score) for every query of the batch,
        query_id = list position.

        The batch SPLITS by plan shape, on the deployment's engine
        (fielded when configured, boosts kept): every unquoted query
        scores in ONE multi_topk job over one bucket/term-pruned
        postings fetch, and every quoted (or "..."~N) member rides ONE
        multi_mixed_topk call — the batched mixed ladder
        (query/mixed.ladder_multi_topk: one term pass, one body decode,
        one position join per phrase length and chain), so a 24-term +
        8-phrase batch with phrase lengths {2, 3} costs three plans,
        not 9+. The batch skips the single-query staged pruning, which
        does not compose across members."""
        from functools import reduce

        eng = self.fielded if self.fielded is not None else self.block
        term_idx = [i for i, q in enumerate(queries) if '"' not in q]
        quoted_idx = [i for i, q in enumerate(queries) if '"' in q]
        parts: list[DataFrame] = []

        def _remap(batch: DataFrame, idx: list[int]) -> DataFrame:
            if idx == list(range(len(queries))):
                return batch
            # remap the sub-batch's positional ids to the original
            # list positions
            mapping = local_frame(self.spark, enumerate(idx),
                                  "query_id int, orig int")
            return batch.join(F.broadcast(mapping), "query_id") \
                .select(F.col("orig").alias("query_id"), "rank",
                        "doc_id", "score")

        if term_idx:
            parts.append(_remap(
                eng.multi_topk([queries[i] for i in term_idx], k,
                               round_to), term_idx))
        if quoted_idx:
            parts.append(_remap(
                eng.multi_mixed_topk([queries[i] for i in quoted_idx], k,
                                     round_to), quoted_idx))
        if not parts:
            return local_frame(self.spark, [], MULTI_TOPK_SCHEMA)
        return reduce(lambda a, b: a.unionByName(b), parts) \
            .orderBy("query_id", "rank")

    def profile(self, q: str, k: int = 10) -> dict:
        """Per-query diagnostics — the reference's timer tree analog
        (serve.rs:412-419 wraps every search in a timer and ships it
        on the Serp): dispatch ``q`` exactly like ``route`` but with
        each branch's stats surfaced, and report the chosen plan, wall
        seconds, hit count, and the pruning counters
        (blocks_total/blocks_decoded/...) where the branch produces
        them. Diagnostic endpoint: hits are collected and discarded."""
        t0 = time.perf_counter()
        hits, plan, stats = self._dispatch(q, k, 6, True)
        n = len(hits.collect())
        return {
            "q": q,
            "plan": plan,
            "num_hits": n,
            "sec": round(time.perf_counter() - t0, 4),
            "stats": stats,
        }

    def warmup(self, queries: list[str], k: int = 2) -> dict[str, float]:
        """Q11 on the production facade (serve.rs:220-257): run each
        query once through the ROUTER at small k so every branch's
        codegen, broadcast caches, and parquet footers are hot; returns
        per-query seconds keyed by query string."""
        out = {}
        for q in queries:
            t0 = time.perf_counter()
            hits, _plan = self.route(q, k)
            hits.collect()
            out[q] = round(time.perf_counter() - t0, 4)
        return out

    def api(self, q: str, nhits: int = 10) -> dict:
        """The Serp response (serve.rs:301-312): the routed hits'
        stored rows fetched by key in ONE doc-store job (the store is
        doc_id-sorted: row groups prune), a hit without one dropped,
        snippets rendered and ranked on the driver (with AQE off a
        Spark sort runs its whole child plan twice), body dropped (P1),
        latency + chosen plan reported (Q13)."""
        # parse_query_slop so a "..."~N query highlights its phrase
        # terms instead of a bogus "~N" token
        from prosearch_spark.analyzer import analyze_query, parse_query_slop

        t0 = time.perf_counter()
        hits, plan = self.route(q, nhits, round_to=6)
        store = self.artifact.doc_store()
        if store is None:
            raise ValueError("no doc_store written for this deployment")
        ranked = sorted(hits.collect(), key=lambda h: h["rank"])
        fetched = store.filter(F.col("doc_id").isin(
            [h["doc_id"] for h in ranked])).collect() if ranked else []
        stored: dict[int, list] = {}
        for r in fetched:
            stored.setdefault(r["doc_id"], []).append(r.asDict())
        flat_terms = " ".join(
            c[0] if kind == "term"
            else " ".join(c[0]) if kind == "slop"
            else " ".join(c)
            for kind, c in parse_query_slop(q)
        )
        terms = {t for t, _ in analyze_query(flat_terms)}
        lead = ("rank", "doc_id", "score")
        display = [c for c in store.columns
                   if c not in {*lead, self.body_col}]
        out = []
        for h in ranked:
            for doc in stored.get(h["doc_id"], []):
                row = {**doc, **h.asDict()}
                out.append({
                    "doc": {c: row[c] for c in (*lead, *display)},
                    "snip": make_snippet_py(row[self.body_col] or "",
                                            terms),
                })
        ms = (time.perf_counter() - t0) * 1000.0
        return {
            "q": q,
            "plan": plan,
            "num_hits": len(out),
            "hits": out,
            "timings_ms": round(ms, 3),
        }
