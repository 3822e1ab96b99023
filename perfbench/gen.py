"""Seeded inputs: corpora and query streams.

Every input of a run derives from the ``--seed`` argument alone; the
engine sees only the generated documents and query strings. Corpora
come from the library's own deterministic generators
(``corpus.zipf_corpus`` and ``corpus.synth_corpus``, pure column
expressions salted by the seed); query streams from ``random.Random``.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# serve corpus: a Zipf(1) long-tail vocabulary with topical id regions
SERVE_DOCS = 2000
SERVE_TOPICS = 8
SERVE_REGION = 256
TITLE_TOKENS = 4  # title = first 4 whitespace tokens, as the oracle derives it

# query classes of the routed stream, in rotation order: WAND and
# mixed plans alternate, so a short window sees both
ROUTE_CLASSES = ("hot_and", "phrase", "and", "slop", "term")

# msearch batch shape
BATCH_TERM = 24
BATCH_QUOTED = 8

# code corpus: files appended in batches, then one upsert wave
INGEST_BATCHES = 2
INGEST_BATCH_FILES = 300
INGEST_UPSERT_FILES = 60

# vocabulary words of corpus.synth_corpus that the code analyzer keeps
# as themselves (no camelCase / path splitting, not stopwords)
CODE_WORDS = ("spark", "shuffle", "partition", "index", "bm25", "tokenizer",
              "merge", "commit", "posting", "avgdl", "broadcast", "skew",
              "salt", "block", "varint", "delta", "python", "rust", "npm")


def serve_corpus(spark: SparkSession, seed: int) -> DataFrame:
    """(doc_id, text, lang, title) over the seeded Zipf corpus."""
    from prosearch_spark.corpus import zipf_corpus

    docs = zipf_corpus(spark, n_docs=SERVE_DOCS, n_topics=SERVE_TOPICS,
                       region=SERVE_REGION, seed=1000 + 17 * seed)
    docs = docs.select("doc_id", F.col("content").alias("text"), "lang")
    return docs.withColumn(
        "title",
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, TITLE_TOKENS)))


def code_corpus(spark: SparkSession, seed: int, salt: int = 0) -> DataFrame:
    """The seeded input_hint-shaped code corpus; ``salt`` gives other
    content for the same doc ids (the upsert wave's new versions)."""
    from prosearch_spark.corpus import synth_corpus

    n = INGEST_BATCHES * INGEST_BATCH_FILES
    return synth_corpus(spark, n_docs=n, seed=5000 + 31 * seed + salt,
                        dense_ids=False)


def _topical(rng: random.Random) -> tuple[int, int, int]:
    t = rng.randrange(SERVE_TOPICS)
    r1, r2 = rng.sample(range(1, 5), 2)
    return t, r1, r2


def route_query(rng: random.Random, cls: str) -> str:
    t, r1, r2 = _topical(rng)
    hot = rng.randint(1, 6)
    if cls == "term":
        return f"z{t}_{r1}"
    if cls == "and":
        return f"z{t}_{r1} z{t}_{r2}"
    if cls == "hot_and":
        return f"t{hot} z{t}_{r1}"
    if cls == "phrase":
        return f'"z{t}_{r1} t{hot}"'
    if cls == "slop":
        return f'"z{t}_{r1} t{hot}"~2'
    raise ValueError(cls)


def route_stream(seed: int, n: int) -> list[str]:
    """n routed queries; the class rotates through ROUTE_CLASSES so any
    window of the stream has the same class mix, the terms come from
    the seed."""
    rng = random.Random(f"route-{seed}")
    return [route_query(rng, ROUTE_CLASSES[i % len(ROUTE_CLASSES)])
            for i in range(n)]


def msearch_batch(rng: random.Random) -> list[str]:
    """24 term queries (single, AND, hot-and-topical) then 8 quoted."""
    out = [route_query(rng, ("term", "and", "hot_and")[i % 3])
           for i in range(BATCH_TERM)]
    for i in range(BATCH_QUOTED):
        t, r1, _ = _topical(rng)
        hot = rng.randint(1, 6)
        out.append(f'"z{t}_{r1} t{hot}"' if i % 2 == 0
                   else f'z{t}_{r1} "t{hot} t{hot + 1}"')
    return out


def msearch_batches(seed: int, n: int) -> list[list[str]]:
    rng = random.Random(f"msearch-{seed}")
    return [msearch_batch(rng) for _ in range(n)]


def code_queries(seed: int, n: int) -> list[str]:
    """Stack reads over the code corpus: single words and AND pairs of
    the 33-word vocabulary, so every query term is hot."""
    rng = random.Random(f"code-{seed}")
    out = []
    for i in range(n):
        if i % 2 == 0:
            out.append(rng.choice(CODE_WORDS))
        else:
            out.append(" ".join(rng.sample(CODE_WORDS, 2)))
    return out


def upsert_ids(seed: int) -> list[int]:
    """Doc ids the upsert wave replaces, spread over every batch."""
    rng = random.Random(f"upsert-{seed}")
    n = INGEST_BATCHES * INGEST_BATCH_FILES
    return sorted(rng.sample(range(n), INGEST_UPSERT_FILES))
