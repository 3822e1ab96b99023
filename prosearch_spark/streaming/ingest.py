"""Structured-Streaming ingest into the index.

The reference ingests continuously: every crawled page is POSTed to
``/index`` and committed per document (serve.rs:503-525,630-671), with
upsert = delete-then-index (TantivyCommitter.java:42-91) and readers
seeing commits eventually (ReloadPolicy::OnCommitWithDelay,
serve.rs:353-355).

Spark shape: ``readStream -> writeStream.foreachBatch`` where each
micro-batch is one upsert commit sealing a new SEGMENT of a
``SegmentedIndex`` (delete-then-index: the batch's ids are tombstoned
in the older segments), published by an atomic pointer swap. Readers
resolve the pointer per query — i.e. they see new commits on their
next query, exactly the reference's eventually-visible reader
semantics. Per-doc commit becomes per-batch commit (the scalable
version of the same contract; one trigger = one snapshot).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class _BatchSink:
    """``attach`` for every foreachBatch sink below; subclasses define
    ``process_batch(batch, batch_id)``."""

    def attach(self, stream: DataFrame, checkpoint: str,
               trigger_available_now: bool = True):
        """Wire a streaming DataFrame into the sink.

        Throttling (the politeness-delay analog, Manager.java:76-82):
        cap per-trigger intake on the SOURCE, e.g.
        ``spark.readStream.option("maxFilesPerTrigger", 4).json(dir)``
        — each trigger then commits a bounded segment.
        """
        w = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
        )
        if trigger_available_now:
            w = w.trigger(availableNow=True)
        return w.start()


class SegmentedStreamingIndexer(_BatchSink):
    """foreachBatch sink sealing each micro-batch as ONE new segment.

    A trigger costs O(batch) (tokenize + block-encode the batch,
    tombstone-probe the alive segments) and the log merge policy
    amortizes compaction — exactly the reference's ingest loop: every
    ``/index`` commit seals a Tantivy segment (serve.rs:503-525,
    index.rs:191) and background merges compact them (merge.rs:18-31).

    Idempotency under at-least-once delivery: the segment dir name is
    the batch_id, published exactly once by ``SegmentStack.seal_once``
    (a re-run upsert's tombstone probe just appends duplicate tombstone
    rows — harmless under the read-side anti-join).
    """

    SHA_COL = "content_sha"

    def __init__(self, spark: SparkSession, root: str,
                 merge_factor: int = 8, compact_inline: bool = True,
                 merge_size_by: str = "n_docs",
                 text_col: str = "text", id_col: str = "doc_id",
                 lang_col: str = "lang", analyzer: str = "white_lower",
                 n_buckets: int = 8, skip_unchanged: bool = False):
        from prosearch_spark.index.segments import SegmentedIndex

        self.index = SegmentedIndex(spark, root, merge_factor=merge_factor)
        self.compact_inline = compact_inline
        # "bytes" buckets merge candidates by on-disk size instead of
        # doc counts (LogByteSizeMergePolicy — better when batch docs
        # vary wildly in length); pointer/manifest metadata only
        self.merge_size_by = merge_size_by
        self.text_col = text_col
        self.id_col = id_col
        self.lang_col = lang_col
        self.analyzer = analyzer
        self.n_buckets = n_buckets
        # recrawl checksum dedupe (P5/B11 — the reference's crawler
        # marks an unchanged recrawl "cached" and skips reprocessing,
        # CrawlerRunner.java:134-175): store sha256(text) as a fast
        # field and drop incoming docs whose LIVE stored version has
        # the same hash before the upsert pays tokenize+index+
        # tombstone. Enable from the FIRST commit — segments with and
        # without the field are non-uniform for the merge policy.
        self.skip_unchanged = skip_unchanged

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if self.skip_unchanged and not self.index.has_segment(
                f"seg-b{batch_id:09d}"):
            batch = self._drop_unchanged(batch)
            if batch.isEmpty():
                return  # whole batch already live and identical
        self._seal(batch, batch_id, {"batch_id": batch_id})

    def _drop_unchanged(self, batch: DataFrame) -> DataFrame:
        """Remove docs whose alive stored version carries the same
        content sha. Probe = the stack's (live) doc_stats scanned once
        against the BROADCAST batch hashes; unchanged ids come back
        batch-sized and anti-join the batch broadcast-side — the
        stored side is never shuffled."""
        if not self.index.segments():
            return batch
        inc = batch.select(
            F.col(self.id_col).cast("long").alias("doc_id"),
            F.sha2(F.col(self.text_col), 256).alias("sha"))
        stored = self.index.as_artifact().doc_stats()
        if self.SHA_COL not in stored.columns:
            return batch  # stack predates skip_unchanged
        unchanged = (
            stored.select("doc_id", F.col(self.SHA_COL).alias("sha"))
            .join(F.broadcast(inc), ["doc_id", "sha"], "left_semi")
            .select("doc_id")
        )
        return batch.join(
            F.broadcast(unchanged.withColumnRenamed("doc_id",
                                                    self.id_col)),
            self.id_col, "left_anti")

    def _seal(self, batch: DataFrame, batch_id: int, meta: dict) -> None:
        """Seal one (possibly pre-filtered) batch as the batch_id's
        segment under the idempotency protocol above."""
        name = f"seg-b{batch_id:09d}"
        kwargs = {}
        if self.skip_unchanged:
            batch = batch.withColumn(
                "__sha", F.sha2(F.col(self.text_col), 256))
            kwargs["fast_fields"] = {self.SHA_COL: "__sha"}
        sealed = self.index.seal_once(
            name, lambda: self.index.upsert(
                batch, name=name, meta=meta, text_col=self.text_col,
                id_col=self.id_col, analyzer=self.analyzer,
                lang_col=self.lang_col, n_buckets=self.n_buckets,
                **kwargs),
            meta=meta)
        if sealed and self.compact_inline:
            # a real deployment runs this loop in the background; the
            # pointer-swap protocol makes either placement safe. When
            # no bucket holds merge_factor segments this is a pointer
            # read only.
            self.index.merge_once(size_by=self.merge_size_by)


class CuratedSegmentedStreamingIndexer(SegmentedStreamingIndexer):
    """Curation-funnel gate in front of the segment sink (round 5
    late): each micro-batch is cleaned BEFORE indexing — quality ->
    repetition -> contamination (vs a FIXED broadcast eval set) ->
    deterministic stratified sampling — and only the survivors are
    sealed into the batch's segment.

    Every funnel stage is DOC-LOCAL (quality/repetition/sampling are
    per-doc expressions; contamination compares against the fixed
    eval set), so batch boundaries cannot change any verdict: the
    stream-built stack equals a batch build over the funnel survivors
    of the union — pinned by the ``curated_stream_search`` gate entry,
    whose oracle recomputes funnel + BM25 over the whole corpus in one
    query. Cross-doc work (near-dup dedup) stays a compaction-time
    concern (ops/dedup + the merge policy), exactly the Lucene split:
    per-doc hygiene at ingest, corpus-wide work in background merges.

    Idempotency is inherited: the funnel is deterministic, so a
    re-delivered batch re-derives the same survivor set and hits the
    same seal_once protocol. Per-stage drop counts land in the
    segment meta when ``track_drops`` (one tiny groupBy per batch).
    """

    def __init__(self, spark: SparkSession, root: str, eval_df: DataFrame,
                 rates: dict, strata_col: str = "lang",
                 default_rate: float = 0.0, salt: str = "s1",
                 shingle_n: int = 5, track_drops: bool = True, **kw):
        super().__init__(spark, root, **kw)
        self.eval_df = eval_df
        self.rates = rates
        self.strata_col = strata_col
        self.default_rate = default_rate
        self.salt = salt
        self.shingle_n = shingle_n
        self.track_drops = track_drops

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from prosearch_spark.ops.curate import curation_funnel

        if batch.isEmpty():
            return
        if self.index.has_segment(f"seg-b{batch_id:09d}"):
            return  # re-delivered batch: skip the funnel recompute
        # ONE funnel evaluation per batch (r5 verdict: the unpersisted
        # DAG re-ran for the drop collect, the emptiness probe, AND the
        # seal — a ~3x constant on the always-on ingest path): persist
        # the verdict, materialize it via the drop-count groupBy (now
        # unconditional — it is batch-sized and its 'kept' row answers
        # the emptiness probe for free), and let _seal's upsert read
        # the cached rows. Job count pinned by
        # test_curated_batch_funnel_runs_once.
        verdict = curation_funnel(
            batch, self.eval_df, self.rates, strata_col=self.strata_col,
            content_col=self.text_col, id_col=self.id_col,
            n=self.shingle_n, salt=self.salt,
            default_rate=self.default_rate).persist()
        try:
            drops = {
                (r["drop_stage"] or "kept"): r["count"]
                for r in verdict.groupBy("drop_stage").count().collect()
            }
            meta = {"batch_id": batch_id}
            if self.track_drops:
                meta["curation_drops"] = drops
            if drops.get("kept", 0) == 0:
                return  # a fully-dropped batch seals no segment
            survivors = batch.join(
                verdict.filter(F.col("keep")).select(
                    F.col("doc_id").alias(self.id_col)),
                self.id_col, "left_semi")
            self._seal(survivors, batch_id, meta)
        finally:
            verdict.unpersist()


class FieldedSegmentedStreamingIndexer(_BatchSink):
    """foreachBatch sink for a FIELDED deployment: each micro-batch
    seals one new segment PER FIELD (round 5 — the last reference-shape
    gap: the live serve loop continuously ingests into the one fielded
    schema, serve.rs:503-525 + meta.json:7-47, title record:basic /
    body record:position).

    Spark shape: one SegmentedIndex per field under
    ``<root>/field=<name>/``, all fed from the same batch rows — the
    per-field analyzers/record options are fixed at construction, like
    the reference's index schema. Queries go through the existing
    fields-over-stacks views (``artifacts()`` -> per-field
    SegmentedArtifactView, duck-typing the artifacts the
    FieldedBlockSearchEngine / ArtifactSearcher already take), and the
    round-5 live-tombstone views mean an upsert-heavy stream serves
    fielded WAND/mixed continuously, no compaction barrier.

    Idempotency under at-least-once delivery is PER FIELD, same
    ``seal_once`` protocol as the flat sink: only the fields that have
    not yet published the batch re-run (or adopt) it.
    Cross-field visibility: the per-field pointer swaps are not one
    atomic step, so between them a reader can see batch N in one field
    and N-1 in another — the same transient skew the reference's
    ReloadPolicy delay admits (serve.rs:353-355); foreachBatch
    serializes triggers, so the skew window is within one commit, and
    every field converges before the next batch starts.
    """

    def __init__(self, spark: SparkSession, root: str,
                 fields: dict[str, str],
                 positional_fields: frozenset[str] = frozenset({"body"}),
                 merge_factor: int = 8, compact_inline: bool = True,
                 merge_size_by: str = "n_docs",
                 id_col: str = "doc_id", lang_col: str = "lang",
                 analyzer: str = "white_lower", n_buckets: int = 8):
        from prosearch_spark.index.segments import SegmentedIndex

        self.fields = dict(fields)  # field name -> source column
        self.positional_fields = positional_fields
        self.indexes = {
            f: SegmentedIndex(spark, os.path.join(root, f"field={f}"),
                              merge_factor=merge_factor)
            for f in self.fields
        }
        self.compact_inline = compact_inline
        self.merge_size_by = merge_size_by
        self.id_col = id_col
        self.lang_col = lang_col
        self.analyzer = analyzer
        self.n_buckets = n_buckets

    def _field_kwargs(self, field: str) -> dict:
        # the reference's exact per-field options (meta.json:7-47):
        # positional fields store positions (phrase-capable); the rest
        # are record:basic (tf capped at 1 on the title path is the
        # engine's scoring rule, encoded at build via record_basic)
        if field in self.positional_fields:
            return {"with_positions": True}
        return {"record_basic": True}

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        name = f"seg-b{batch_id:09d}"
        meta = {"batch_id": batch_id}
        for field, col in sorted(self.fields.items()):
            si = self.indexes[field]
            sealed = si.seal_once(
                name, lambda: si.upsert(
                    batch, name=name, meta=meta, text_col=col,
                    id_col=self.id_col, analyzer=self.analyzer,
                    lang_col=self.lang_col, n_buckets=self.n_buckets,
                    **self._field_kwargs(field)),
                meta=meta)
            if sealed and self.compact_inline:
                si.merge_once(size_by=self.merge_size_by)

    def artifacts(self) -> dict:
        """Per-field union views for the fielded engines — resolved
        per call, so readers see each field's latest pointer (Q12)."""
        return {f: si.as_artifact() for f, si in self.indexes.items()}


class VectorStreamingIndexer(_BatchSink):
    """foreachBatch sink for the EMBEDDING side: each micro-batch of
    (vec_id, embedding) rows seals one immutable vector segment, with
    upsert tombstoning older versions segment-locally — the vector
    twin of SegmentedStreamingIndexer, so a training-data pipeline
    streams text and embeddings through the same segment protocol.

    Idempotency under at-least-once delivery is the lexical sink's
    ``seal_once`` protocol (dir name = batch_id; parquet's _SUCCESS
    marks a fully written segment).
    Live queries (VectorSegments.topk / multi_topk) see each publish
    on their next pointer read; compact_to() folds the stack into the
    partition-pruned IVF artifact.
    """

    def __init__(self, spark: SparkSession, root: str,
                 id_col: str = "vec_id", vec_col: str = "embedding"):
        from prosearch_spark.index.vectors import VectorSegments

        self.segs = VectorSegments(spark, root, id_col=id_col,
                                   vec_col=vec_col)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        name = f"seg-b{batch_id:09d}"
        self.segs.seal_once(name,
                            lambda: self.segs.upsert(batch, name=name))
