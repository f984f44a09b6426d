"""Streaming twin of contract q91 (WARC/CDX offset index): document
micro-batches arrive as parquet files and each batch's records are
appended to the archive index with byte offsets that CONTINUE from the
accumulated per-WARC-file total — incremental archive indexing, so a
petabyte archive stays random-access while it is still being written.

State discipline mirrors ``streaming/corpus.py`` / ``revisit.py``: the
index rows themselves are the state, APPEND-ONLY and partitioned by
``batch_id``; the partition is the commit marker, so an at-least-once
replay of a half-committed batch rewrites its own partition (dynamic
overwrite) instead of double-shifting every later offset. The per-file
base offset for a new batch is a rollup over committed partitions
(sum of rec_len per warc_file — O(files) rows after map-side combine).

When files land in doc_id order the accumulated index is row-identical
to batch q91 over the concatenated table
(``tests/test_streaming_cdx.py`` pins stream ≡ batch and replay
idempotence). Out-of-order arrivals shift offsets by arrival order —
exactly what a real WARC writer does (records are laid out in write
order); the batch q91 remains the canonical doc_id-ordered layout.

Reference semantic: the reference appends per-item metadata to durable
state as it scrapes (enhanced_batch_processor.py:94-143); this is the
archive-index half of that append at Common-Crawl scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .commit import batch_committed, mark_committed, scrub_partial, write_batch
from .micro_batch import _has_batches

# Mirrors the driver testdata `documents` table.
DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def _render_sized(batch_df: DataFrame) -> DataFrame:
    """(warc_file, doc_id, rec_len, digest) — q91's record rendering,
    shared byte-for-byte so stream ≡ batch holds by construction."""
    crlf = F.lit("\r\n")
    rec = F.concat(
        F.lit("WARC/1.0"),
        crlf,
        F.lit("WARC-Target-URI: https://"),
        F.col("source"),
        F.lit(".example.com/d/"),
        F.col("doc_id").cast("string"),
        crlf,
        F.lit("Content-Length: "),
        F.col("n_chars").cast("string"),
        crlf,
        crlf,
        F.col("text"),
        crlf,
        crlf,
    )
    return batch_df.select(
        F.col("source").alias("warc_file"),
        "doc_id",
        F.length(rec).cast("long").alias("rec_len"),
        F.md5(rec).alias("digest"),
    )


def _file_bases(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Accumulated bytes per warc_file across committed partitions — the
    base offset the next batch's records start at."""
    if not _has_batches(index_dir):
        return None
    s = spark.read.parquet(index_dir)
    return s.groupBy("warc_file").agg(F.sum("rec_len").alias("base"))


def stream_cdx_index(spark: SparkSession, docs_dir: str, workdir: str) -> None:
    """Drain all available document files (trigger availableNow), each
    micro-batch appending its CDX rows with offsets continued from the
    accumulated per-file totals. Restartable and idempotent."""
    index_dir = f"{workdir}/cdx_index"

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        part = f"{index_dir}/batch_id={bid}"
        if batch_committed(part):
            return  # fully committed already (at-least-once replay)
        scrub_partial(part)
        sized = _render_sized(batch_df)
        bases = _file_bases(spark, index_dir)
        if bases is not None:
            sized = sized.join(F.broadcast(bases), "warc_file", "left").withColumn(
                "base", F.coalesce(F.col("base"), F.lit(0))
            )
        else:
            sized = sized.withColumn("base", F.lit(0).cast("long"))
        w = (
            Window.partitionBy("warc_file")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        out = sized.select(
            "warc_file",
            "doc_id",
            (F.col("base") + F.coalesce(F.sum("rec_len").over(w), F.lit(0)))
            .cast("long")
            .alias("rec_offset"),
            "rec_len",
            "digest",
        )
        write_batch(out, index_dir, bid)
        mark_committed(part)

    q = (
        spark.readStream.schema(DOCUMENTS)
        .parquet(docs_dir)
        .writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", f"{workdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def cdx_index(spark: SparkSession, workdir: str) -> DataFrame:
    """The accumulated archive index in q91's exact output shape."""
    return spark.read.parquet(f"{workdir}/cdx_index").select(
        "warc_file", "doc_id", "rec_offset", "rec_len", "digest"
    )
