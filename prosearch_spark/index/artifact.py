"""Persistent index artifact: save/load/merge/delete.

The on-disk analog of a committed Tantivy index directory
(index.rs:191 ``commit``, merge.rs:18-31 ``merge``, serve.rs:456-467
``delete_term``), expressed as partitioned parquet tables plus an
atomic JSON manifest:

    <dir>/manifest.json            {n_docs, avgdl, version, analyzer}
    <dir>/blocks/                  block postings, partitioned by tb
    <dir>/term_stats/              (term, df, tb)
    <dir>/doc_stats/               (doc_id, dl)
    <dir>/deletes/                 (doc_id) tombstones  [optional]

``tb = pmod(xxhash64(term), n_buckets)`` is a physical partition
column: a query computes each query term's bucket on the driver and
filters ``tb IN (...)`` -> Spark prunes partition directories before
any IO (the term-dictionary point-lookup analog, serve.rs:407-419).
Within each bucket, blocks are written sorted by term so parquet
row-group min/max statistics prune further.

The manifest is written LAST (atomic publish): a crashed build leaves
no manifest -> readers see the previous commit only. That is the
reference's commit/rollback semantics (index.rs:141-146,191) on file
granularity; on a real deployment this maps 1:1 to an Iceberg snapshot
commit.

Deletes are logical tombstones anti-joined at query time
(alive-bitset analog, serve.rs:535); ``merge`` physically applies
them and rewrites blocks (merge.rs:18-31). Upsert (delete-then-index)
is ``SegmentedIndex.upsert``: tombstone the ids, seal a new segment.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prosearch_spark.index.blocks import decode_blocks, encode_blocks
from prosearch_spark.index.build import InvertedIndex, build_index

MANIFEST = "manifest.json"
VERSION = 1


def term_bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def apply_deletes(postings: DataFrame, deletes: DataFrame | None) -> DataFrame:
    """Anti-join tombstones out of decoded postings — the ONE rule for
    every decode site (flat artifact, live segment-stack view, fielded
    engines).

    Flat artifacts tombstone by ``doc_id``. The live segment-stack view
    (SegmentedIndex.as_artifact over a tombstoned stack) tombstones by
    ``(seg, doc_id)``: a delete kills the doc's postings in THAT
    segment only, so an upserted doc's live re-add in a later segment
    survives while its dead old version dies — the per-segment alive
    bitset (serve.rs:535; the Lucene/Tantivy model). The transient
    ``seg`` tag is dropped after the join: downstream scoring is
    segment-blind."""
    if deletes is not None:
        on = ["seg", "doc_id"] if "seg" in deletes.columns else ["doc_id"]
        if "seg" in deletes.columns and "seg" not in postings.columns:
            raise ValueError(
                "segment-scoped deletes require seg-tagged postings")
        postings = postings.join(F.broadcast(deletes), on, "left_anti")
    if "seg" in postings.columns:
        postings = postings.drop("seg")
    return postings


_BUCKET_MEMO: dict[tuple[str, int], int] = {}


def term_buckets_py(terms: list[str], n_buckets: int,
                    spark: SparkSession) -> dict[str, int]:
    """Driver-side buckets for a set of terms, in ONE local job.

    Computed by the SAME JVM expression as the write path (xxhash64
    semantics live in Spark, not Python) and memoized — a query must
    not pay one scheduler round-trip per term.
    """
    missing = [t for t in terms if (t, n_buckets) not in _BUCKET_MEMO]
    if missing:
        rows = spark.createDataFrame(
            [(t,) for t in missing], "term string"
        ).select("term", term_bucket(F.col("term"), n_buckets).alias("b")
                 ).collect()
        for r in rows:
            _BUCKET_MEMO[(r["term"], n_buckets)] = int(r["b"])
    return {t: _BUCKET_MEMO[(t, n_buckets)] for t in terms}


@dataclass
class IndexArtifact:
    path: str
    spark: SparkSession
    manifest: dict

    # -- load ----------------------------------------------------------------

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IndexArtifact":
        with open(os.path.join(path, MANIFEST)) as f:
            manifest = json.load(f)
        if manifest.get("version") != VERSION:
            raise ValueError(f"unsupported index version: {manifest}")
        return cls(path=path, spark=spark, manifest=manifest)

    @property
    def n_buckets(self) -> int:
        return self.manifest["n_buckets"]

    def blocks(self, terms: list[str] | None = None) -> DataFrame:
        """Block rows, bucket-pruned + term-filtered when terms given."""
        df = self.spark.read.parquet(os.path.join(self.path, "blocks"))
        if terms is not None:
            buckets = sorted(set(
                term_buckets_py(sorted(set(terms)), self.n_buckets,
                                self.spark).values()
            ))
            df = df.filter(F.col("tb").isin(buckets) &
                           F.col("term").isin(sorted(set(terms))))
        return df

    def postings(self, terms: list[str] | None = None) -> DataFrame:
        """Decoded flat postings, with tombstones anti-joined out."""
        return apply_deletes(decode_blocks(self.blocks(terms)),
                             self.deletes())

    def term_stats(self, terms: list[str] | None = None) -> DataFrame:
        df = self.spark.read.parquet(os.path.join(self.path, "term_stats"))
        if terms is not None:
            buckets = sorted(set(
                term_buckets_py(sorted(set(terms)), self.n_buckets,
                                self.spark).values()
            ))
            df = df.filter(F.col("tb").isin(buckets) &
                           F.col("term").isin(sorted(set(terms))))
        return df.select("term", "df")

    def doc_stats(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "doc_stats"))

    def deletes(self) -> DataFrame | None:
        d = os.path.join(self.path, "deletes")
        if os.path.isdir(d) and any(
            f.endswith(".parquet") for f in os.listdir(d)
        ):
            return self.spark.read.parquet(d)
        return None

    def stats(self) -> DataFrame:
        """One-row (n_docs, avgdl) frame from the manifest (broadcast
        scalar analog of per-segment collection stats)."""
        return self.spark.createDataFrame(
            [(self.manifest["n_docs"], self.manifest["avgdl"])],
            "n_docs long, avgdl double",
        )

    def as_index(self, terms: list[str] | None = None) -> InvertedIndex:
        """View the artifact as the logical InvertedIndex interface."""
        return InvertedIndex(
            postings=self.postings(terms),
            term_stats=self.term_stats(terms),
            stats=self.stats(),
        )

    # -- maintenance (B6/B7/B8) ----------------------------------------------

    def delete_docs(self, doc_ids: DataFrame) -> None:
        """B7: logical tombstones (delete_term analog, serve.rs:456-467).

        NOTE: like the reference, df/avgdl drift until merge() —
        deleted docs stop matching immediately, but collection stats
        are only refreshed by a merge/rebuild.
        """
        doc_ids.select(F.col("doc_id").cast("long")).write.mode("append").parquet(
            os.path.join(self.path, "deletes")
        )

    # -- doc store (S4/S5) ------------------------------------------------------

    def write_doc_store(self, docs: DataFrame, cols: list[str],
                        id_col: str = "doc_id") -> None:
        """S4: persist stored/display fields next to the index — the
        analog of Tantivy's compressed row store (LZ4 16 KB blocks,
        meta.json:2-5); here zstd parquet, columnar (strictly better
        for top-k field fetch)."""
        (
            docs.select(F.col(id_col).alias("doc_id"), *cols)
            .repartition(max(1, self.n_buckets // 2))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(os.path.join(self.path, "doc_store"))
        )

    def doc_store(self) -> DataFrame | None:
        d = os.path.join(self.path, "doc_store")
        if os.path.isdir(d):
            return self.spark.read.parquet(d)
        return None

    def fetch_docs(self, hits: DataFrame) -> DataFrame:
        """S5/J3: broadcast-join the k hits to stored fields
        (serve.rs:421-435)."""
        store = self.doc_store()
        if store is None:
            raise ValueError("no doc_store written for this artifact")
        return store.join(F.broadcast(hits), "doc_id")

    # -- space usage (inspect.rs:40-77 analog) ----------------------------------

    def space_usage(self) -> dict:
        """Per-structure on-disk bytes — the `tantivy inspect` report."""
        out = {}
        for sub in ["blocks", "term_stats", "doc_stats", "deletes",
                    "doc_store"]:
            p = os.path.join(self.path, sub)
            if os.path.isdir(p):
                total = 0
                for root, _d, files in os.walk(p):
                    total += sum(os.path.getsize(os.path.join(root, f))
                                 for f in files)
                out[sub] = total
        out["total"] = sum(out.values())
        out["n_docs"] = self.manifest["n_docs"]
        return out

    def delete_by_url(self, urls: DataFrame, docs: DataFrame,
                      url_expr: str = "concat(repo, '/', path)") -> None:
        """B7 exact parity: delete by the url TERM (serve.rs:456-467,
        delete_term on the raw-tokenized url field). The url is the
        primary key ``repo || '/' || path`` (SURVEY.md §1.4); resolve
        to doc_ids via broadcast join against the corpus and tombstone.
        """
        from pyspark.sql import functions as FF

        resolved = docs.withColumn("_url", FF.expr(url_expr)).join(
            F.broadcast(urls.select(F.col(urls.columns[0]).alias("_url"))),
            "_url",
        )
        self.delete_docs(resolved.select("doc_id"))

    def merge(self, out_path: str) -> "IndexArtifact":
        """B6: full merge — physically apply tombstones, recompute
        stats, rewrite blocks compacted (merge.rs:18-31 + GC).

        ``out_path`` must differ from the current path (Spark cannot
        overwrite parquet it is reading; generational dirs are the
        snapshot-commit analog)."""
        if os.path.abspath(out_path) == os.path.abspath(self.path):
            raise ValueError("merge requires a new generation path")
        # persist: stats aggregations + encode_blocks' range sampling
        # would otherwise re-decode the whole index ~5x
        alive = self.postings(None).persist()  # tombstones applied
        try:
            # doc_stats from the PERSISTED table minus tombstones, NOT
            # from alive postings: the stored table carries zero-token
            # docs (dl=0) which have no postings, and n_docs/avgdl must
            # keep the ONE definition shared by every commit path
            # (n_docs = corpus docs, incl. token-less ones).
            doc_stats = self.doc_stats()
            _deletes = self.deletes()
            if _deletes is not None:
                doc_stats = doc_stats.join(F.broadcast(_deletes), "doc_id",
                                           "left_anti")
            agg = doc_stats.agg(
                F.count("*").alias("n"), F.sum("dl").alias("total")
            ).collect()[0]
            n_docs = int(agg["n"] or 0)
            avgdl = (agg["total"] or 0) / n_docs if n_docs else 0.0
            # carry the doc store forward, minus tombstoned docs;
            # filtered against DOC_STATS-minus-tombstones, not alive
            # postings: a zero-token doc has no postings but still
            # exists in doc_stats/n_docs, and its stored fields must
            # survive. Written inside _write_artifact BEFORE the
            # manifest.
            store = self.doc_store()
            if store is not None:
                store = store.join(doc_stats.select("doc_id"),
                                   "doc_id", "left_semi")
            return _write_artifact(
                self.spark, out_path, alive, doc_stats,
                n_docs=n_docs, avgdl=avgdl,
                n_buckets=self.n_buckets, analyzer=self.manifest["analyzer"],
                doc_store=store,
                record_basic=self.manifest.get("record_basic", False),
                fast_fields=self.manifest.get("fast_fields") or None,
                total_dl=int(agg["total"] or 0),
            )
        finally:
            alive.unpersist()


def save_index(spark: SparkSession, docs: DataFrame, path: str,
               text_col: str = "text", id_col: str = "doc_id",
               analyzer: str = "white_lower", lang_col: str = "lang",
               n_buckets: int = 16, record_basic: bool = False,
               with_positions: bool = False,
               fast_fields: dict[str, str] | None = None) -> IndexArtifact:
    """Build + commit an index artifact from a document DataFrame.

    ``record_basic=True`` stores tf=1 for every posting — the
    reference's ``record:"basic"`` field option (meta.json:12, used by
    ``title``): docids only, no term frequencies; ``dl`` keeps the
    true token count (fieldnorms are still recorded).
    ``with_positions=True`` stores per-posting token positions in the
    blocks — ``record:"position"`` (meta.json:21-33) — enabling phrase
    queries over the committed artifact.
    ``fast_fields`` maps fast-field name -> source column: typed
    per-doc values (i64/f64/date/bool..., new.rs:136-231) stored
    COLUMNAR next to dl in doc_stats — the Tantivy ``fast:true``
    analog (meta.json:34-46) — filterable at query time with parquet
    predicate pushdown (BlockSearchEngine.topk_filtered).
    """
    if with_positions:
        if analyzer != "white_lower":
            raise ValueError("positional indexing implemented for the "
                             "white_lower analyzer")
        if record_basic:
            # decode delimits the position stream by tf; tf=1 with
            # multi-position postings would corrupt it (and makes no
            # sense: record:basic stores no positions by definition)
            raise ValueError("record_basic and with_positions are "
                             "mutually exclusive")
        from prosearch_spark.index.positions import positional_postings

        postings = positional_postings(docs, text_col=text_col,
                                       id_col=id_col)
    else:
        idx = build_index(docs, text_col=text_col, id_col=id_col,
                          analyzer=analyzer, lang_col=lang_col)
        postings = idx.postings
    if record_basic:
        postings = postings.withColumn("tf", F.lit(1).cast("long"))
    # materialize ONCE: blocks, term_stats, doc_stats and the stats
    # aggregate all derive from postings — without this the corpus
    # would be re-tokenized four times (measured 180 s -> ~60 s on an
    # 800k-doc commit). The 100 TB analog is a staging postings table.
    postings = postings.persist()
    try:
        # doc_stats covers EVERY corpus doc: zero-token docs get dl=0.
        # This is the one n_docs definition shared by save/merge/
        # lineage-finalize (n_docs = count(doc_stats)) so BM25 stats
        # never drift between build paths on corpora with empty docs.
        ff = fast_fields or {}
        doc_stats = docs.select(
            F.col(id_col).alias("doc_id"),
            *[F.col(src).alias(name) for name, src in ff.items()],
        ).join(
            postings.select("doc_id", "dl").distinct(), "doc_id", "left"
        ).select("doc_id", F.coalesce("dl", F.lit(0)).cast("long").alias("dl"),
                 *ff.keys())
        agg = doc_stats.agg(
            F.sum("dl").alias("total"), F.count("*").alias("n")
        ).collect()[0]
        n_docs = int(agg["n"] or 0)
        avgdl = (agg["total"] or 0) / n_docs if n_docs else 0.0
        return _write_artifact(
            spark, path, postings, doc_stats,
            n_docs=n_docs, avgdl=avgdl,
            n_buckets=n_buckets, analyzer=analyzer,
            record_basic=record_basic, fast_fields=fast_fields,
            total_dl=int(agg["total"] or 0),
        )
    finally:
        postings.unpersist()


def save_fielded_index(spark: SparkSession, docs: DataFrame, path: str,
                       field_cols: dict[str, str],
                       basic_fields: frozenset[str] = frozenset({"title"}),
                       positional_fields: frozenset[str] = frozenset(),
                       id_col: str = "doc_id",
                       analyzer: str = "white_lower", lang_col: str = "lang",
                       n_buckets: int = 16) -> dict[str, IndexArtifact]:
    """Per-field artifacts under ``<path>/field=<name>/`` — the
    physical layout of the reference's two-field schema (each Tantivy
    field has its own term dictionary / postings / fieldnorms;
    meta.json:7-47). ``positional_fields`` commit those fields with
    record:"position" blocks (the reference's ``body``,
    meta.json:21-33) so fielded PHRASE queries can run over the stack;
    a field cannot be both basic and positional (save_index refuses —
    record:basic stores no positions by definition, which is exactly
    why fielded phrases score body-only). Returns {field:
    IndexArtifact}.

    Fields commit CONCURRENTLY from a small driver thread pool (r7,
    optimization guide §2.6): each field's build is an independent
    job chain into its own ``field=<name>/`` directory, and the
    sequential form left most executors idle through every field's
    scheduling gaps and straggler tails. 2-3 in-flight fields
    back-fill those tails; artifacts and manifests are byte-identical
    per field (separate inputs, separate dirs — only the scheduling
    overlaps). Spark's scheduler is FIFO across the concurrent jobs,
    which is exactly the back-fill behaviour wanted."""
    from concurrent.futures import ThreadPoolExecutor

    def _one(item):
        field, col = item
        return field, save_index(
            spark, docs, os.path.join(path, f"field={field}"),
            text_col=col, id_col=id_col, analyzer=analyzer,
            lang_col=lang_col, n_buckets=n_buckets,
            record_basic=(field in basic_fields),
            with_positions=(field in positional_fields),
        )
    items = list(field_cols.items())
    if len(items) == 1:
        return dict([_one(items[0])])
    with ThreadPoolExecutor(max_workers=min(len(items), 3)) as pool:
        return dict(pool.map(_one, items))


def load_fielded_index(spark: SparkSession, path: str) -> dict[str, IndexArtifact]:
    out = {}
    for d in sorted(os.listdir(path)):
        if d.startswith("field="):
            out[d.split("=", 1)[1]] = IndexArtifact.load(
                spark, os.path.join(path, d)
            )
    return out


def _write_artifact(spark: SparkSession, path: str, postings: DataFrame,
                    doc_stats: DataFrame,
                    n_docs: int, avgdl: float, n_buckets: int,
                    analyzer: str,
                    doc_store: DataFrame | None = None,
                    record_basic: bool = False,
                    fast_fields: dict[str, str] | None = None,
                    total_dl: int | None = None
                    ) -> IndexArtifact:
    # refuse to commit over a LIVE artifact: overwriting blocks under a
    # readable old manifest breaks the atomic-publish guarantee (a crash
    # mid-commit would leave a valid-looking manifest over torn data).
    # Every commit goes to a fresh generation dir, like merge.
    if os.path.exists(os.path.join(path, MANIFEST)):
        raise ValueError(
            f"{path} already holds a committed artifact; commit to a new "
            "generation directory (the previous commit stays readable "
            "until the new manifest publishes)"
        )
    os.makedirs(path, exist_ok=True)
    # doc_stats is independent of the blocks/term_stats chain — its
    # write runs CONCURRENTLY from a driver thread (r7, optimization
    # guide §2.6) so its job back-fills the scheduling gaps and tail
    # of the encode+write stage instead of adding wall time after it.
    # Both jobs read the caller-persisted postings; outputs land in
    # disjoint directories and are byte-identical to the sequential
    # form.
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=1)
    try:
        ds_future = pool.submit(
            lambda: doc_stats.write.mode("overwrite")
            .parquet(os.path.join(path, "doc_stats")))
        blocks = encode_blocks(postings).withColumn(
            "tb", term_bucket(F.col("term"), n_buckets)
        )
        (
            blocks.repartition("tb")
            .sortWithinPartitions("term", "first_doc")
            .write.mode("overwrite")
            .partitionBy("tb")
            .parquet(os.path.join(path, "blocks"))
        )
        # term_stats derive from the blocks just WRITTEN: df == Σ n
        # over a term's blocks (every posting lands in exactly one
        # block), so the integers are identical to a groupBy over the
        # postings — but the input is the block METADATA (term, n, tb;
        # column-pruned read), ~block_size smaller than the postings.
        # At 100 TB this removes a full pass over the staged postings
        # per commit; the tb partition column rides along for free (a
        # term lives in one bucket).
        try:
            ts = spark.read.parquet(os.path.join(path, "blocks")) \
                .groupBy("tb", "term") \
                .agg(F.sum("n").cast("long").alias("df"))
        except Exception:
            # empty corpus: the blocks dir has no part files to infer
            # from
            ts = spark.createDataFrame([], "tb int, term string, df long")
        (
            ts.select("term", "df", "tb")
            .repartition("tb").sortWithinPartitions("term")
            .write.mode("overwrite").partitionBy("tb")
            .parquet(os.path.join(path, "term_stats"))
        )
        # join the concurrent doc_stats write BEFORE the manifest can
        # publish — the commit must be whole (atomic-publish guarantee)
        ds_future.result()
    finally:
        pool.shutdown(wait=True)
    # clear per-generation state from any previous commit at this
    # path: tombstones are physically applied in a fresh commit, and a
    # stale doc_store would silently serve outdated stored fields
    import shutil

    for stale in ("deletes", "doc_store"):
        d = os.path.join(path, stale)
        if os.path.isdir(d):
            shutil.rmtree(d)
    if doc_store is not None:
        # BEFORE the manifest publish — the commit must be whole
        doc_store.write.mode("overwrite").option("compression", "zstd") \
            .parquet(os.path.join(path, "doc_store"))
    manifest = {
        "version": VERSION,
        "n_docs": int(n_docs),
        "avgdl": float(avgdl),
        # exact integer sum(dl) over doc_stats, recorded at build time
        # where every commit path already aggregated it — segment-stack
        # pointer entries (SEGMENTS.json) need this exact integer, and
        # reading it here saves one doc_stats scan per seal/adopt.
        # Derivable as round(avgdl * n_docs) only under a float-error
        # argument; the stored integer needs no argument.
        **({"total_dl": int(total_dl)} if total_dl is not None else {}),
        "n_buckets": n_buckets,
        "analyzer": analyzer,
        "positions": "positions" in postings.columns,
        # record:"basic" (meta.json:12): postings carry tf=1. Persisted
        # so the segment merge policy never mixes true-tf docs into a
        # basic artifact.
        "record_basic": bool(record_basic),
        # fast-field name -> SOURCE column on the document table; the
        # segment merge policy merges only segments with the same map
        "fast_fields": dict(fast_fields or {}),
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    # atomic publish: manifest written last, via rename
    tmp = os.path.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, MANIFEST))
    return IndexArtifact(path=path, spark=spark, manifest=manifest)
