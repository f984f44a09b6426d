"""Streaming corpus ingestion: first-occurrence chunk dedup over document
micro-batches (the streaming twin of contract q64, built on the same
seen-state discipline as the URL frontier).

Reference semantic preserved: the reference dedupes incoming scrape
results against accumulated storage state as they arrive
(``cloud_storage.py`` existence checks inside the scraper loop); here
documents land as parquet files, Structured Streaming picks them up, and
each micro-batch removes every chunk already seen — in an earlier batch
or earlier in this one — before appending cleaned documents.

State shape mirrors the crawl's URL-seen exactly: the standing state is
8-byte ``xxhash64(chunk)`` keys only (never chunk text), appended per
batch, partitioned by ``batch_id``; at 10^10 chunks the same Bloom-shard
prefilter as ``operators/dedup.py`` drops in front of the exact
anti-join unchanged. When files land in doc_id order the result is
row-identical to the batch q64 over the concatenated corpus
(``tests/test_streaming_corpus.py`` pins this).

Collision bound (documented trade, r2 advice): keying chunk-seen state
on the 64-bit hash instead of the chunk string means a hash collision
between two distinct chunks silently drops a never-seen chunk. The
probability is ~n^2/2^65 for n distinct chunks — ~3e-6 at 10^9 chunks,
~3% at 10^12, at which point the key should widen to
(chunk_hash, length(chunk)) (the batch-side q66 already keys on that
pair, pushing the bound to n^2/2^97) or to a 128-bit hash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .commit import batch_committed, mark_committed, scrub_partial, write_batch
from .micro_batch import _has_batches

CHUNK_WORDS = 3


def chunked(docs: DataFrame) -> DataFrame:
    """(doc_id, j, chunk, chunk_hash) — one row per non-overlapping
    CHUNK_WORDS-word chunk, position j starting at 1 (q64's chunking)."""
    d = docs.select("doc_id", F.split("text", " ").alias("ws"))
    chunks = F.expr(
        f"transform(sequence(1, cast(ceil(size(ws) / {CHUNK_WORDS}.0) as int)),"
        f" j -> array_join(slice(ws, (j-1)*{CHUNK_WORDS} + 1,"
        f" least({CHUNK_WORDS}, size(ws) - (j-1)*{CHUNK_WORDS})), ' '))"
    )
    return (
        d.select("doc_id", F.posexplode(chunks).alias("j0", "chunk"))
        .select("doc_id", (F.col("j0") + 1).alias("j"), "chunk")
        .withColumn("chunk_hash", F.xxhash64("chunk"))
    )


def stream_chunk_dedup(spark: SparkSession, docs_dir: str, workdir: str) -> None:
    """Drain all available document files (trigger availableNow), each
    micro-batch deduplicating chunk occurrences against the accumulated
    chunk-seen state plus in-batch first-occurrence rank, then appending
    cleaned documents. Restartable AND idempotent, same discipline as
    ``stream_frontier_rounds``: both sinks are batch_id-partitioned with
    dynamic-partition overwrite; an explicit ``_COMMITTED`` marker lands
    in the chunk-seen partition AFTER both writes (commit.py), so an
    at-least-once replay of a half-committed batch scrubs and rewrites
    both partitions instead of double-counting (the no-chunk-kept-twice
    invariant survives crash/restart).
    """
    seen_dir = f"{workdir}/chunk_seen"
    out_dir = f"{workdir}/cleaned_docs"

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        seen_part = f"{seen_dir}/batch_id={bid}"
        if batch_committed(seen_part):
            return  # fully committed already (at-least-once replay)
        scrub_partial(seen_part, f"{out_dir}/batch_id={bid}")
        ch = chunked(batch_df)
        # in-batch first occurrence: global (doc_id, j) order, like q64
        w_first = Window.partitionBy("chunk_hash").orderBy("doc_id", "j")
        ch = ch.withColumn("occ", F.row_number().over(w_first))
        seen = spark.read.parquet(seen_dir) if _has_batches(seen_dir) else None
        if seen is not None:
            ch = ch.join(
                seen.select("chunk_hash").withColumn("_seen", F.lit(True)),
                "chunk_hash",
                "left",
            ).withColumn("_seen", F.coalesce(F.col("_seen"), F.lit(False)))
        else:
            ch = ch.withColumn("_seen", F.lit(False))
        keep = (F.col("occ") == 1) & ~F.col("_seen")
        cleaned = F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.when(keep, F.struct("j", "chunk")))),
                lambda s: s["chunk"],
            ),
            " ",
        )
        out = ch.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((~keep).cast("long")).alias("n_dropped"),
            cleaned.alias("cleaned_text"),
        )
        write_batch(out, out_dir, bid)
        # seen delta last, then the marker: only this batch's NEWLY-KEPT
        # chunk hashes
        write_batch(ch.filter(keep).select("chunk_hash"), seen_dir, bid)
        mark_committed(seen_part)

    from ..schemas import DOCUMENTS

    stream = spark.readStream.schema(DOCUMENTS).parquet(docs_dir)
    q = (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", f"{workdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_intradoc_dedup(spark: SparkSession, docs_dir: str, workdir: str) -> None:
    """Streaming twin of contract q70 (within-document repetition
    removal): because the operator is a pure per-row projection — each
    document's cleanup depends only on its own chunks — the streaming
    form needs NO state at all, so it is the streaming-safe pre-thinning
    stage to run in front of the stateful corpus-wide chunk dedup above
    (same composition as batch: q70 before q64/q66). Output is
    batch_id-partitioned with dynamic overwrite, so at-least-once
    replays are idempotent without any commit marker (no cross-batch
    state to half-commit).
    """
    out_dir = f"{workdir}/intradoc_cleaned"

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        d = batch_df.select("doc_id", F.split("text", " ").alias("ws"))
        chs = F.expr(
            f"transform(sequence(1, cast(ceil(size(ws) / {CHUNK_WORDS}.0) as int)),"
            f" j -> array_join(slice(ws, (j-1)*{CHUNK_WORDS} + 1,"
            f" least({CHUNK_WORDS}, size(ws) - (j-1)*{CHUNK_WORDS})), ' '))"
        )
        d = d.withColumn("chs", chs)
        kept = F.expr("filter(chs, (c, i) -> array_position(chs, c) == i + 1)")
        cleaned = d.select(
            "doc_id",
            F.size("chs").cast("long").alias("n_chunks"),
            (F.size("chs") - F.size(kept)).cast("long").alias("n_dropped"),
            F.array_join(kept, " ").alias("cleaned_text"),
        )
        write_batch(cleaned, out_dir, batch_id)

    from ..schemas import DOCUMENTS

    stream = spark.readStream.schema(DOCUMENTS).parquet(docs_dir)
    q = (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", f"{workdir}/ckpt_intradoc")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
