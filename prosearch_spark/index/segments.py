"""Multi-segment index: a stack of committed artifacts + merge policy.

The reference's index is a SET of immutable segments: every commit
seals a new segment, searches run over all alive segments, and a merge
policy compacts them in the background (Tantivy index.rs:191 commit →
new segment; merge.rs:18-31 segment merge; the pinned tantivy library
ships LogMergePolicy — segments bucketed by log(size), merged when a
bucket holds >= merge_factor of them). Round 1-2 modeled one artifact
per generation; this module adds the real segment stack:

    <root>/SEGMENTS.json           atomic pointer: [{name, n_docs,
                                   total_dl}] + gen (total_dl is the
                                   exact integer token sum, so the
                                   union view's avgdl is the SAME
                                   float division a single-artifact
                                   build performs — scores bit-match)
    <root>/segments/seg-<n>/       one IndexArtifact each (immutable)

Commit = save_index into a fresh seg dir, then atomically rewrite
SEGMENTS.json (rename). A crash before the pointer publish leaves the
previous view whole — the same atomic-publish rule as the single
artifact's manifest. On a real deployment the pointer is an Iceberg
snapshot; segment dirs are data files.

Query semantics: postings are the UNION over alive segments
(bucket/term-pruned per segment); df sums per term; N and total doc
length sum from the manifests, so avgdl and every BM25 score are
IDENTICAL to a single-artifact build over the same corpus — the gate
entry hashes against the ordinary flat oracle.

Scale: each segment is its own partitioned parquet tree, so a term's
lookup fans out to (n_segments x its bucket) directories — exactly why
the merge policy exists. Merging decodes only the merged segments and
rewrites them as one artifact (merge.rs:18-31); the pointer swap keeps
readers consistent.
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prosearch_spark.index.artifact import (
    IndexArtifact,
    _write_artifact,
    save_index,
)
from prosearch_spark.index.build import InvertedIndex
from prosearch_spark.index.locks import exclusive_writer_lock

POINTER = "SEGMENTS.json"


class SegmentedIndex:
    """A stack of immutable committed segments under one root."""

    def __init__(self, spark: SparkSession, root: str,
                 merge_factor: int = 8):
        self.spark = spark
        self.root = root
        self.merge_factor = merge_factor
        self._lock_held = [False]  # reentrancy cell (see locks.py)
        os.makedirs(os.path.join(root, "segments"), exist_ok=True)
        if not os.path.exists(os.path.join(root, POINTER)):
            self._publish([], gen=0)

    # -- pointer ---------------------------------------------------------------

    def _pointer(self) -> dict:
        with open(os.path.join(self.root, POINTER)) as f:
            return json.load(f)

    def _publish(self, segs: list[str], gen: int) -> None:
        payload = {"segments": segs, "gen": gen}
        tmp = os.path.join(self.root, POINTER + ".tmp")
        with open(tmp, "w") as f:
            json.dump(payload, f)
        # append-only snapshot history FIRST, current pointer last: a
        # crash between the two leaves the current pointer authoritative
        # and at worst an orphan history file for a gen that never
        # published (harmless — as_of reads are explicit by gen)
        hdir = os.path.join(self.root, "history")
        os.makedirs(hdir, exist_ok=True)
        with open(os.path.join(hdir, f"SEGMENTS-{gen:06d}.json"),
                  "w") as f:
            json.dump(payload, f)
        os.replace(tmp, os.path.join(self.root, POINTER))

    # -- writer lock (Tantivy INDEX_WRITER_LOCK analog) ------------------------

    def writer_lock(self):
        """Exclusive-writer guard (see locks.exclusive_writer_lock:
        flock, kernel-released on holder death, reentrant per
        instance). Commit/adopt/upsert/merge/gc acquire it implicitly;
        hold it explicitly around multi-step admin sequences."""
        return exclusive_writer_lock(self.root, self._lock_held)

    def segments(self) -> list[IndexArtifact]:
        p = self._pointer()
        return [
            IndexArtifact.load(self.spark,
                               os.path.join(self.root, "segments",
                                            e["name"]))
            for e in p["segments"]
        ]

    def has_segment(self, name: str) -> bool:
        return any(e["name"] == name
                   for e in self._pointer()["segments"])

    # -- commit ----------------------------------------------------------------

    def _seal(self, art: IndexArtifact, name: str,
              meta: dict | None = None) -> IndexArtifact:
        """Publish an already-written segment dir: append its pointer
        entry (exact integer doc/length totals) and swap the pointer."""
        p = self._pointer()
        total = art.manifest.get("total_dl")
        if total is None:
            # artifact written before manifests recorded the exact
            # integer sum(dl) — recompute it (one doc_stats scan)
            agg = art.doc_stats().agg(F.sum("dl").alias("t")).collect()[0]
            total = int(agg["t"] or 0)
        entry = {"name": name, "n_docs": art.manifest["n_docs"],
                 "total_dl": int(total), **(meta or {})}
        self._publish(p["segments"] + [entry], p["gen"] + 1)
        return art

    def commit(self, docs: DataFrame, name: str | None = None,
               meta: dict | None = None,
               store_cols: list[str] | None = None,
               **save_kwargs) -> IndexArtifact:
        """Seal ``docs`` as a new immutable segment and publish it.

        The segment is fully written BEFORE the pointer swap; a crash
        mid-commit leaves an orphan dir (GC fodder / adopt() fodder)
        and the old view. ``name`` pins the segment dir (streaming
        passes the batch id for idempotent re-delivery); ``meta`` is
        merged into the pointer entry; ``store_cols`` additionally
        writes the segment's doc store (S4) so the stack is servable
        through ArtifactSearcher.
        """
        with self.writer_lock():
            if name is None:
                # skip auto-generated names whose dir already exists: a
                # crash between save_index and _seal leaves an orphan
                # dir at gen+1 while gen is unchanged, and save_index
                # refuses an existing manifest — without the skip every
                # further default-named commit would wedge until a
                # manual gc()/adopt() (r3 ADVICE finding). The orphan
                # stays adopt()/gc() fodder either way.
                n = self._pointer()["gen"]
                while True:
                    n += 1
                    name = f"seg-{n:06d}"
                    if not os.path.exists(
                            os.path.join(self.root, "segments", name)):
                        break
            art = save_index(self.spark, docs,
                             os.path.join(self.root, "segments", name),
                             **save_kwargs)
            if store_cols:
                art.write_doc_store(
                    docs, store_cols,
                    id_col=save_kwargs.get("id_col", "doc_id"))
            return self._seal(art, name, meta)

    def adopt(self, name: str, meta: dict | None = None) -> IndexArtifact:
        """Complete a commit that crashed between segment write and
        pointer publish: the dir holds a full manifest but no pointer
        entry — load it and publish. No-op-safe only when the caller
        has checked ``has_segment`` first."""
        with self.writer_lock():
            art = IndexArtifact.load(
                self.spark, os.path.join(self.root, "segments", name))
            return self._seal(art, name, meta)

    def upsert(self, docs: DataFrame, id_col: str = "doc_id",
               name: str | None = None, meta: dict | None = None,
               **save_kwargs) -> IndexArtifact:
        """B8 at segment granularity: delete-then-index
        (TantivyCommitter.java:42-91) without rewriting anything —
        tombstone the incoming ids in every alive segment that holds
        them, then seal ``docs`` as a new segment. Work is O(batch +
        n_segments probe joins), never O(corpus); the merge policy
        keeps n_segments logarithmic and applies tombstones physically.

        Like the single-artifact path, df/avgdl drift until merge:
        replaced docs stop matching immediately, collection stats
        refresh on compaction (delete_docs NOTE, artifact.py).
        """
        with self.writer_lock():
            return self._upsert_locked(docs, id_col, name, meta,
                                       **save_kwargs)

    def _upsert_locked(self, docs, id_col, name, meta,
                       **save_kwargs) -> IndexArtifact:
        ids = docs.select(F.col(id_col).cast("long").alias("doc_id"))
        self._tombstone(ids)
        return self.commit(docs, name=name, meta=meta,
                           id_col=id_col, **save_kwargs)

    def _tombstone(self, ids: DataFrame) -> None:
        """Mark ``ids`` deleted in every alive segment that holds them.

        ONE tagged probe across the whole stack (the r3 path scheduled
        1-2 jobs PER alive segment per batch: a limit(1).count() probe
        plus a delete-side recompute of the same join — flat-cost now,
        r3 verdict item 6). Homogeneous stacks read every doc_stats
        tree in a SINGLE multi-path parquet scan (per-segment
        read.parquet calls each pay a footer/listing job) with the
        segment name recovered from the file path; mixed-schema stacks
        fall back to the per-segment union (still one JOIN)."""
        segs = self.segments()
        if not segs:
            return
        names = [e["name"] for e in self._pointer()["segments"]]
        uniform = len({
            tuple(sorted((s.manifest.get("fast_fields") or {})
                         .items()))
            for s in segs}) == 1
        if uniform:
            tagged = self.spark.read.parquet(*[
                os.path.join(self.root, "segments", n, "doc_stats")
                for n in names
            ]).select(
                "doc_id",
                F.regexp_extract(F.col("_metadata.file_path"),
                                 r"segments/([^/]+)/doc_stats",
                                 1).alias("seg"),
            )
        else:
            tagged = reduce(
                lambda a, b: a.unionByName(b),
                [s.doc_stats().select(F.lit(n).alias("seg"),
                                      "doc_id")
                 for n, s in zip(names, segs)],
            )
        # ONE broadcast semi-join over the whole scan (joining per
        # branch would rebuild the ids broadcast per segment)
        probe = tagged.join(F.broadcast(ids), "doc_id",
                            "left_semi").persist()
        try:
            hit_names = {r["seg"] for r in
                         probe.select("seg").distinct().collect()}
            for n, art in zip(names, segs):
                if n in hit_names:
                    art.delete_docs(
                        probe.filter(F.col("seg") == n)
                        .select("doc_id"))
        finally:
            probe.unpersist()

    def delete_docs(self, ids: DataFrame,
                    id_col: str = "doc_id") -> None:
        """B7 over the stack WITHOUT reindexing: tombstone ``ids`` in
        every alive segment that holds them (segment-scoped delete
        rows — the live view and WAND serving already apply them). No
        new segment is sealed; stats refresh physically on merge, like
        the single-artifact delete_docs."""
        with self.writer_lock():
            self._tombstone(
                ids.select(F.col(id_col).cast("long").alias("doc_id")))

    def delete_by_term(self, term: str) -> None:
        """Tantivy ``delete_term`` parity: tombstone every doc whose
        ALIVE postings contain ``term`` at call time (docs already
        tombstoned — e.g. an upsert's dead old version — stay dead
        where they are; their live re-adds only match through their
        own postings)."""
        import shutil
        import uuid

        with self.writer_lock():
            view = self.as_artifact()
            ids = view.postings([term]).filter(
                F.col("term") == term).select("doc_id").distinct()
            # MATERIALIZE before tombstoning: ids reads the stack's
            # current deletes (via the live view); a lazy plan
            # re-evaluated mid-write would see the deletes it is
            # itself creating. persist() is no guarantee (eviction
            # recomputes) — a temp parquet is.
            tmp = os.path.join(self.root, f"tmp-delete-{uuid.uuid4().hex}")
            try:
                ids.write.parquet(tmp)
                self._tombstone(self.spark.read.parquet(tmp))
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

    def gc(self, retain_history: int = 0) -> list[str]:
        """Remove segment dirs no longer referenced by the current
        pointer (merged-away inputs, orphaned crash leftovers). A
        deployment age-gates this behind its slowest reader's pointer;
        here it is an explicit sweep, never run by commit/merge.

        ``retain_history=N`` additionally keeps every segment
        referenced by the last N recorded snapshots (Iceberg snapshot
        expiry): those generations stay ``as_of``-readable; older
        history files are pruned so the history listing matches what
        is actually readable."""
        import shutil

        with self.writer_lock():
            alive = {e["name"] for e in self._pointer()["segments"]}
            gens = self.history()
            keep_gens = gens[-retain_history:] if retain_history > 0 else []
            for g in keep_gens:
                with open(os.path.join(self.root, "history",
                                       f"SEGMENTS-{g:06d}.json")) as f:
                    alive |= {e["name"] for e in json.load(f)["segments"]}
            for g in gens:
                if g not in keep_gens and g != self._pointer()["gen"]:
                    os.unlink(os.path.join(self.root, "history",
                                           f"SEGMENTS-{g:06d}.json"))
            segdir = os.path.join(self.root, "segments")
            removed = []
            for d in sorted(os.listdir(segdir)):
                if d not in alive:
                    shutil.rmtree(os.path.join(segdir, d))
                    removed.append(d)
            return removed

    # -- query view ------------------------------------------------------------

    def as_index(self, terms: list[str] | None = None) -> InvertedIndex:
        """The union view: per-segment pruned postings unioned, df
        summed per term, N / total-dl summed from the manifests —
        BM25-identical to a single-artifact build of the same corpus.
        A TOMBSTONED stack routes through the live artifact view so
        df/n_docs/avgdl are the alive-only values — flat and block
        engines agree, and both hash-match compact-then-query."""
        segs = self.segments()
        if not segs:
            raise ValueError("no committed segments")
        if any(s.deletes() is not None for s in segs):
            v = self.as_artifact()
            return InvertedIndex(postings=v.postings(terms),
                                 term_stats=v.term_stats(terms),
                                 stats=v.stats())
        postings = reduce(
            lambda a, b: a.unionByName(b),
            [s.postings(terms) for s in segs],
        )
        term_stats = (
            reduce(lambda a, b: a.unionByName(b),
                   [s.term_stats(terms) for s in segs])
            .groupBy("term").agg(F.sum("df").alias("df"))
        )
        p = self._pointer()
        n_docs = sum(e["n_docs"] for e in p["segments"])
        total_dl = sum(e["total_dl"] for e in p["segments"])
        # exact integer sums -> the identical float division the
        # single-artifact save performs
        avgdl = total_dl / n_docs if n_docs else 0.0
        stats = self.spark.createDataFrame(
            [(n_docs, float(avgdl))], "n_docs long, avgdl double"
        )
        return InvertedIndex(postings=postings, term_stats=term_stats,
                             stats=stats)

    def as_artifact(self) -> "SegmentedArtifactView":
        """Duck-typed IndexArtifact over the stack, so every
        BlockSearchEngine plan — including Block-Max WAND — runs
        UNCHANGED over multiple segments: block bounds (max_tf/min_dl)
        are segment-local data while ub/idf derive at query time from
        the GLOBAL stats this view serves.

        WAND stays exact under the union because segments share one
        docid space: a doc's other-term blocks always overlap its own
        rarest-term block's range, so every candidate range's bound
        still dominates the true score of each doc it covers
        (overlapping ranges across segments only weaken pruning, never
        correctness).

        TOMBSTONED stacks serve LIVE (round 5; the reference's
        per-segment alive-bitset model, serve.rs:535 — queries never
        wait for a merge): deletes are applied SEGMENT-LOCALLY, never
        as one global anti-join (an upserted doc's live re-add in a
        later segment must survive its dead old version). The view
        tags each block with its segment, the decode carries the tag
        per posting, and apply_deletes anti-joins on (seg, doc_id).
        Collection stats and per-term df are recomputed over ALIVE
        docs/postings (exact integer sums -> the identical float
        division a compaction performs), so live scores hash-match
        compact-then-query. WAND pruning stays sound: block max_tf /
        min_dl still cover the dead postings, so every bound can only
        be LOOSER than the alive-only bound — pruning weakens, never
        breaks."""
        return self._view_from_pointer(self._pointer())

    def _view_from_pointer(self, p: dict) -> "SegmentedArtifactView":
        if not p["segments"]:
            raise ValueError("no committed segments")
        segs = []
        for e in p["segments"]:
            d = os.path.join(self.root, "segments", e["name"])
            if not os.path.exists(os.path.join(d, "manifest.json")):
                raise ValueError(
                    f"segment {e['name']} of gen {p['gen']} no longer "
                    "exists — gc() expired this snapshot (retain more "
                    "history or re-read the current pointer)")
            segs.append(IndexArtifact.load(self.spark, d))
        return SegmentedArtifactView(
            self.spark, segs, names=[e["name"] for e in p["segments"]],
            n_docs=sum(e["n_docs"] for e in p["segments"]),
            total_dl=sum(e["total_dl"] for e in p["segments"]))

    # -- snapshots (Iceberg time travel over the pointer history) --------------

    def history(self) -> list[int]:
        """Generations with a recorded snapshot, ascending."""
        hdir = os.path.join(self.root, "history")
        if not os.path.isdir(hdir):
            return []
        return sorted(
            int(f[len("SEGMENTS-"):-len(".json")])
            for f in os.listdir(hdir)
            if f.startswith("SEGMENTS-") and f.endswith(".json"))

    def as_of(self, gen: int) -> "SegmentedArtifactView":
        """The stack AS OF generation ``gen`` — the Iceberg
        time-travel read over the append-only pointer history every
        ``_publish`` records. Snapshots reference the same immutable
        segment dirs, so any snapshot is readable (scores and all)
        until ``gc()`` physically removes segments the current pointer
        no longer holds; ``gc(retain_history=N)`` keeps the last N
        snapshots' segments alive for exactly this read.

        Snapshot scope is segment MEMBERSHIP, not tombstone state:
        per-segment delete files are index-wide and applied at read
        time, so a snapshot reflects deletes made after it was taken
        (and delete_docs alone bumps no generation). This is the
        Lucene live-docs model, not Iceberg's snapshot-scoped delete
        files; pinned by test_snapshot_sees_later_tombstones."""
        hfile = os.path.join(self.root, "history",
                             f"SEGMENTS-{gen:06d}.json")
        if not os.path.exists(hfile):
            raise ValueError(
                f"no snapshot recorded for gen {gen}; "
                f"available: {self.history()}")
        with open(hfile) as f:
            return self._view_from_pointer(json.load(f))

    def topk(self, q: str, k: int = 10,
             round_to: int | None = None) -> DataFrame:
        from prosearch_spark.analyzer import analyze_query
        from prosearch_spark.query.engine import SearchEngine

        terms = sorted({t for t, _ in analyze_query(q)})
        eng = SearchEngine(self.spark, self.as_index(terms))
        return eng.topk(q, k, round_to)

    # -- space usage (inspect.rs:40-77 analog) ---------------------------------

    def space_usage(self) -> list[dict]:
        """Per-segment on-disk bytes by structure (blocks / term_stats
        / doc_stats / deletes / doc_store) from manifests + file sizes
        — the `tantivy inspect` space report over the stack. Pure
        driver-side filesystem metadata; also the input to the
        size-based merge policy (``size_by='bytes'``)."""
        out = []
        for e, art in zip(self._pointer()["segments"], self.segments()):
            u = art.space_usage()
            u["name"] = e["name"]
            out.append(u)
        return out

    # -- merge policy ----------------------------------------------------------

    def _sizes(self, size_by: str = "n_docs") -> list[tuple[str, int]]:
        if size_by == "bytes":
            return [(u["name"], int(u["total"]))
                    for u in self.space_usage()]
        return [(e["name"], int(e["n_docs"]))
                for e in self._pointer()["segments"]]

    def merge_candidates(self, size_by: str = "n_docs") -> list[str]:
        """LogMergePolicy: bucket alive segments by floor(log2(size))
        (zero-size segments share the lowest bucket) and return the
        oldest ``merge_factor`` names of the first bucket holding at
        least merge_factor segments — else []. ``size_by='bytes'``
        buckets by ON-DISK bytes from the space-usage report instead
        of doc counts — Lucene's LogByteSizeMergePolicy: doc counts
        misjudge segments whose docs differ wildly in length, bytes
        track true merge cost."""
        import math

        buckets: dict[int, list[str]] = {}
        for name, n in self._sizes(size_by):
            b = int(math.log2(n)) if n > 0 else 0
            buckets.setdefault(b, []).append(name)
        for b in sorted(buckets):
            if len(buckets[b]) >= self.merge_factor:
                return sorted(buckets[b])[: self.merge_factor]
        return []

    def merge_once(self, candidates: list[str] | None = None,
                   size_by: str = "n_docs") -> bool:
        """Apply one round of the merge policy: rewrite the candidate
        segments as a single new segment and swap the pointer. Old dirs
        stay on disk (readers holding the previous pointer keep a
        consistent view) — GC is a separate sweep. Returns True when a
        merge happened. ``candidates`` overrides the policy (the
        explicit-segment-ids merge of IndexWriter.merge)."""
        cand = (self.merge_candidates(size_by) if candidates is None
                else candidates)
        if not cand or len(cand) < 2:
            return False
        with self.writer_lock():
            return self._merge_locked(cand)

    def _merge_locked(self, cand: list[str]) -> bool:
        p = self._pointer()
        gen = p["gen"] + 1
        name = f"seg-{gen:06d}"
        cand_set = set(cand)
        arts = [
            IndexArtifact.load(self.spark,
                               os.path.join(self.root, "segments", d))
            for d in cand
        ]
        # the merged manifest copies arts[0]'s schema knobs — refuse a
        # heterogeneous candidate set (mixed analyzers/bucket counts
        # would merge into a segment whose manifest misdescribes part
        # of its data: wrong bucket routing / tf semantics — r3 ADVICE)
        keys = {
            (a.n_buckets, a.manifest["analyzer"],
             bool(a.manifest.get("record_basic", False)),
             tuple(sorted((a.manifest.get("fast_fields") or {}).items())))
            for a in arts
        }
        if len(keys) > 1:
            raise ValueError(
                "merge candidates are not uniform on (n_buckets, "
                f"analyzer, record_basic, fast_fields): {sorted(keys)}")
        postings = reduce(lambda a, b: a.unionByName(b),
                          [a.postings(None) for a in arts]).persist()
        try:
            # doc_stats and doc stores minus each segment's tombstones
            # (merge applies deletes physically, like artifact.merge);
            # n_docs/avgdl recomputed from the surviving rows — the ONE
            # definition. Per segment: an upserted doc's dead old
            # version shares its doc_id with the live re-add.
            def alive(a: IndexArtifact, df: DataFrame) -> DataFrame:
                d = a.deletes()
                if d is not None:
                    df = df.join(F.broadcast(d), "doc_id", "left_anti")
                return df

            doc_stats = reduce(lambda a, b: a.unionByName(b),
                               [alive(a, a.doc_stats()) for a in arts])
            agg = doc_stats.agg(
                F.count("*").alias("n"), F.sum("dl").alias("total")
            ).collect()[0]
            n_docs = int(agg["n"] or 0)
            avgdl = (agg["total"] or 0) / n_docs if n_docs else 0.0
            # carry doc stores forward (minus tombstoned rows) when
            # every merged segment has one — mirrors artifact.merge
            stores = [a.doc_store() for a in arts]
            store = None
            if all(st is not None for st in stores):
                store = reduce(lambda a, b: a.unionByName(b),
                               [alive(a, st) for a, st in zip(arts, stores)])
            _write_artifact(
                self.spark, os.path.join(self.root, "segments", name),
                postings, doc_stats,
                n_docs=n_docs, avgdl=avgdl,
                n_buckets=arts[0].n_buckets,
                analyzer=arts[0].manifest["analyzer"],
                doc_store=store,
                record_basic=arts[0].manifest.get("record_basic", False),
                fast_fields=arts[0].manifest.get("fast_fields") or None,
                total_dl=int(agg["total"] or 0),
            )
        finally:
            postings.unpersist()
        survivors = [e for e in p["segments"]
                     if e["name"] not in cand_set] + [
            {"name": name, "n_docs": n_docs,
             "total_dl": int(agg["total"] or 0)}
        ]
        self._publish(survivors, gen)
        return True

    def force_merge(self) -> bool:
        """Compact ALL alive segments into one regardless of log
        buckets (Lucene forceMerge / Tantivy merge-on-ids parity).
        Physically applies every tombstone and refreshes n_docs/avgdl
        from the survivors, so post-merge BM25 stats equal a fresh
        single build over the logical corpus."""
        return self.merge_once(
            candidates=[e["name"] for e in self._pointer()["segments"]])

    def compact(self, max_rounds: int = 8,
                size_by: str = "n_docs") -> int:
        """Run the merge policy to a fixpoint (bounded); returns rounds
        applied — the background-merge loop a deployment would run."""
        n = 0
        while n < max_rounds and self.merge_once(size_by=size_by):
            n += 1
        return n


class SegmentedArtifactView:
    """The read-side union of a segment stack, exposing the
    IndexArtifact query surface (blocks/term_stats/doc_stats/postings/
    stats/deletes) so BlockSearchEngine needs no segment awareness.

    Each delegated call is bucket/term-pruned PER SEGMENT before the
    union, so a term lookup touches n_segments x one bucket directory —
    the fan-out the merge policy exists to bound. df sums across
    segments; n_docs/avgdl come from the pointer's exact integer
    totals (identical float division to a single build).

    TOMBSTONED stacks (round 5): blocks carry a ``seg`` tag (recovered
    from ``_metadata.file_path`` on the multi-path scan — no extra
    column is stored), ``deletes()`` is the (seg, doc_id) union of
    per-segment tombstones, and every consumer applies them through
    ``apply_deletes`` — the per-segment alive-bitset serving model
    (serve.rs:535): an upsert-heavy deployment keeps WAND, the router
    and msearch between compactions. Collection stats and per-term df
    are recomputed over ALIVE rows so results hash-match a compaction;
    the extra cost on the query path is one alive doc-stats aggregate
    (memoized per view) plus a decode of the DIRTY segments' blocks
    for the query terms — both bounded by tombstone churn, zero when
    the stack is clean."""

    def __init__(self, spark: SparkSession, segments: list[IndexArtifact],
                 names: list[str], n_docs: int, total_dl: int):
        self._spark = spark
        self._segments = segments
        self._names = names
        self._n_docs = n_docs
        self._total_dl = total_dl
        # per-segment tombstones, keyed by segment name (empty on a
        # clean stack — every live-path branch below is then dead code)
        self._del_map = {
            n: d for n, s in zip(names, segments)
            if (d := s.deletes()) is not None
        }
        self._alive: tuple[int, int] | None = None  # memoized (n, dl)
        # homogeneous stacks (the commit path's normal output) read all
        # segment trees in ONE multi-path parquet scan instead of
        # n_segments unioned scans: the measured 2.3x query latency on
        # an 8-segment stack was per-scan scheduling, and the single
        # scan removes it entirely (BENCH.md §2c, 6.55 s vs a merged
        # segment's 6.76 s)
        self._uniform = (
            len({(s.n_buckets, s.manifest.get("record_basic", False),
                  s.manifest["analyzer"]) for s in segments}) == 1
        )

    def _union(self, frames: list[DataFrame]) -> DataFrame:
        return reduce(lambda a, b: a.unionByName(b), frames)

    @staticmethod
    def _seg_tag(sub: str):
        """Segment name from the scan's file path (the upsert probe's
        trick, see SegmentedIndex.upsert) — tags multi-path reads
        without storing a column."""
        return F.regexp_extract(F.col("_metadata.file_path"),
                                rf"segments/([^/]+)/{sub}", 1).alias("seg")

    def _bucket_read(self, sub: str,
                     terms: list[str] | None) -> DataFrame | None:
        """One multi-path scan over the segments' ``sub`` trees with
        partition pruning done DRIVER-SIDE: the needed ``tb=<b>`` leaf
        dirs are enumerated per segment and read directly (leaf dirs
        carry no partition structure, so multi-root reads can't raise
        CONFLICTING_DIRECTORY_STRUCTURES; tb itself is never consumed
        downstream). Returns None when the caller must fall back to
        the per-segment union (full scan or no matching bucket dir)."""
        if terms is None:
            return None
        from prosearch_spark.index.artifact import term_buckets_py

        buckets = sorted(set(
            term_buckets_py(sorted(set(terms)),
                            self._segments[0].n_buckets,
                            self._spark).values()
        ))
        paths = [
            p for s in self._segments for b in buckets
            if os.path.isdir(p := os.path.join(s.path, sub, f"tb={b}"))
        ]
        if not paths:
            return None
        return self._spark.read.parquet(*paths).filter(
            F.col("term").isin(sorted(set(terms))))

    def blocks(self, terms: list[str] | None = None) -> DataFrame:
        if self._uniform:
            df = self._bucket_read("blocks", terms)
            if df is not None:
                if self._del_map:
                    df = df.withColumn("seg", self._seg_tag("blocks"))
                return df
        frames = [s.blocks(terms) for s in self._segments]
        if self._del_map:
            frames = [f.withColumn("seg", F.lit(n))
                      for n, f in zip(self._names, frames)]
        return self._union(frames)

    def term_stats(self, terms: list[str] | None = None) -> DataFrame:
        per_seg = self._bucket_read("term_stats", terms) \
            if self._uniform else None
        if per_seg is not None:
            per_seg = per_seg.select("term", "df")
        else:
            per_seg = self._union(
                [s.term_stats(terms) for s in self._segments])
        stored = per_seg.groupBy("term").agg(F.sum("df").alias("df"))
        if not self._del_map or terms is None:
            # full-vocabulary walks (dictionary expansion) tolerate df
            # drift under tombstones, like Lucene's reader stats; every
            # SCORING path passes its term list and gets exact df below
            return stored
        # exact alive df for the query terms: stored df minus the
        # dead-posting count, counted by decoding ONLY the dirty
        # segments' (bucket/term-pruned) blocks — bounded by churn
        from prosearch_spark.index.blocks import decode_blocks

        dirty = [
            s.blocks(terms).withColumn("seg", F.lit(n))
            for n, s in zip(self._names, self._segments)
            if n in self._del_map
        ]
        dead = (
            decode_blocks(self._union(dirty))
            .join(F.broadcast(self.deletes()), ["seg", "doc_id"],
                  "left_semi")
            .groupBy("term").agg(F.count("*").alias("dead"))
        )
        return (
            stored.join(dead, "term", "left")
            .select("term", (F.col("df") - F.coalesce("dead", F.lit(0)))
                    .alias("df"))
            .filter(F.col("df") > 0)  # fully-dead terms vanish, as in
            # a compaction's recomputed term_stats
        )

    def doc_stats(self) -> DataFrame:
        # plain (unpartitioned) parquet trees: multi-path read is safe
        df = self._spark.read.parquet(
            *[os.path.join(s.path, "doc_stats") for s in self._segments])
        if self._del_map:
            from prosearch_spark.index.artifact import apply_deletes

            df = apply_deletes(
                df.withColumn("seg", self._seg_tag("doc_stats")),
                self.deletes())
        return df

    def postings(self, terms: list[str] | None = None) -> DataFrame:
        if self._uniform:
            from prosearch_spark.index.artifact import apply_deletes
            from prosearch_spark.index.blocks import decode_blocks

            # single-scan decode; per-segment tombstones (if any)
            # anti-join on the decoded rows' seg tag
            return apply_deletes(decode_blocks(self.blocks(terms)),
                                 self.deletes())
        return self._union([s.postings(terms) for s in self._segments])

    def deletes(self) -> DataFrame | None:
        """(seg, doc_id) tombstones across the stack — segment-scoped
        so apply_deletes kills a doc's postings in the tombstoning
        segment ONLY (its upserted re-add in a later segment lives)."""
        if not self._del_map:
            return None
        return self._union([
            d.select(F.lit(n).alias("seg"),
                     F.col("doc_id").cast("long").alias("doc_id"))
            for n, d in self._del_map.items()
        ])

    def _alive_totals(self) -> tuple[int, int]:
        if self._alive is None:
            # subtract the tombstoned rows' exact integer (count, dl)
            # from the pointer's exact per-segment totals instead of
            # re-aggregating every segment's doc_stats: reads the DIRTY
            # segments only, so the cost is O(churned segments) not
            # O(stack). Identical integers — (Σ alive) == (Σ all) −
            # (Σ tombstoned ∩ present), and the semi-join intersection
            # ignores phantom tombstones exactly like the anti-join the
            # full scan applied. artifact.doc_stats() is raw (it never
            # applies its own deletes), so the intersection sees the
            # tombstoned rows.
            dirty = [
                s.doc_stats().withColumn("seg", F.lit(n))
                for n, s in zip(self._names, self._segments)
                if n in self._del_map
            ]
            dead = (
                self._union(dirty)
                .join(F.broadcast(self.deletes()), ["seg", "doc_id"],
                      "left_semi")
                .agg(F.count("*").alias("n"), F.sum("dl").alias("t"))
                .collect()[0]
            )
            self._alive = (self._n_docs - int(dead["n"] or 0),
                           self._total_dl - int(dead["t"] or 0))
        return self._alive

    def stats(self) -> DataFrame:
        if self._del_map:
            # exact ALIVE integer totals -> the identical float
            # division merge_once performs after applying tombstones,
            # so live scores hash-match compact-then-query
            n_docs, total_dl = self._alive_totals()
        else:
            n_docs, total_dl = self._n_docs, self._total_dl
        avgdl = total_dl / n_docs if n_docs else 0.0
        return self._spark.createDataFrame(
            [(n_docs, float(avgdl))], "n_docs long, avgdl double")

    def doc_store(self) -> DataFrame | None:
        """Union of the per-segment doc stores (S4), minus each
        segment's tombstoned rows (an upserted doc's stored fields come
        from its live re-add only). Every alive segment must carry one,
        else the stack has no store."""
        stores = [s.doc_store() for s in self._segments]
        if any(st is None for st in stores):
            return None
        if not self._del_map:
            return self._union(stores)
        from prosearch_spark.index.artifact import apply_deletes

        return apply_deletes(
            self._union([st.withColumn("seg", F.lit(n))
                         for n, st in zip(self._names, stores)]),
            self.deletes())

    def fetch_docs(self, hits: DataFrame) -> DataFrame:
        """S5/J3 over the stack: broadcast the k hits against each
        segment's store — same shape as IndexArtifact.fetch_docs, so
        ArtifactSearcher.api serves a live stack unchanged."""
        store = self.doc_store()
        if store is None:
            raise ValueError("no doc_store written for every segment")
        return store.join(F.broadcast(hits), "doc_id")
