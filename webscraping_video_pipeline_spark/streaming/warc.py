"""Streaming twin of contract q125 (WARC revisit-record dedup): fetch
observations arrive as parquet micro-batches and each batch decides,
ONLINE, which captures become full payload records and which become
~64-byte revisit records — the decision a crawler's archive writer must
make at ingestion time, against the last stored digest per URL.

State discipline mirrors ``streaming/revisit.py`` exactly: the standing
state is APPEND-ONLY per-batch DELTA rows (url_id, d_fetches,
d_revisits, d_raw_bytes, d_stored_bytes, last_ts, last_event_id,
last_digest), partitioned by ``batch_id`` and written as the batch's
ONLY artifact — the partition is the commit marker, so an at-least-once
replay of a half-committed batch rewrites its own partition (dynamic
overwrite) instead of double-counting bytes. The storage report is a
rollup over the delta partitions, O(urls) rows.

Cross-batch digest carry: within a batch, revisits are marked by the
same (ts, event_id)-ordered lag as batch q125; at the batch BOUNDARY
the accumulated state's last digest (taken at the max
(batch_id, ts, event_id)) plays lag(digest), so when files land in
timestamp order the final report is row-identical to running q125 over
the concatenated log (``tests/test_streaming_warc.py`` pins stream ≡
batch, replay idempotence, and an explicit cross-boundary revisit).

Reference semantic: the reference's upload dedupe checks an md5 history
before re-uploading (cloud_storage.py:241-279); this is the same
identity-hash decision made per capture in the archive write path, with
provenance kept (WARC 1.1 revisit records — public IIPC/ISO 28500
practice).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .commit import batch_committed, mark_committed, scrub_partial, write_batch
from .micro_batch import _has_batches
from .revisit import EVENTS, N_URLS_MOD

REVISIT_REC_BYTES = 64  # must match contract.ingest._REVISIT_REC_BYTES


def _observations(batch_df: DataFrame) -> DataFrame:
    """(url_id, ts, event_id, digest, payload_bytes) — q125's exact
    derivation: observation quantized to integer cents FIRST, digest =
    md5(cents), synthetic payload size 200 + cents % 1400."""
    cents = F.round(F.col("value") * 100).cast("long")
    return batch_df.select(
        (F.col("user_id") % N_URLS_MOD).alias("url_id"),
        "ts",
        "event_id",
        F.md5(cents.cast("string")).alias("digest"),
        (F.lit(200) + cents % 1400).alias("payload_bytes"),
    )


def _batch_delta(batch_df: DataFrame, prev_tail: DataFrame | None) -> DataFrame:
    obs = _observations(batch_df)
    w = Window.partitionBy("url_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    d = obs.withColumn("prev_digest", F.lag("digest").over(w))
    if prev_tail is not None:
        d = d.join(
            prev_tail.select("url_id", F.col("last_digest").alias("carry")),
            "url_id",
            "left",
        )
    else:
        d = d.withColumn("carry", F.lit(None).cast("string"))
    # the batch's first capture per URL compares against the carried state
    eff_prev = F.coalesce(F.col("prev_digest"), F.col("carry"))
    rv = (F.col("digest") == eff_prev).cast("long")
    m = d.select(
        "url_id",
        "ts",
        "event_id",
        "digest",
        "payload_bytes",
        F.coalesce(rv, F.lit(0)).alias("is_revisit"),
        F.when(F.col("digest") == eff_prev, F.lit(REVISIT_REC_BYTES))
        .otherwise(F.col("payload_bytes"))
        .alias("stored_bytes"),
    )
    return m.groupBy("url_id").agg(
        F.count(F.lit(1)).alias("d_fetches"),
        F.sum("is_revisit").cast("long").alias("d_revisits"),
        F.sum("payload_bytes").cast("long").alias("d_raw_bytes"),
        F.sum("stored_bytes").cast("long").alias("d_stored_bytes"),
        F.max(F.struct("ts", "event_id", "digest")).alias("tail"),
    ).select(
        "url_id",
        "d_fetches",
        "d_revisits",
        "d_raw_bytes",
        "d_stored_bytes",
        F.col("tail.ts").alias("last_ts"),
        F.col("tail.event_id").alias("last_event_id"),
        F.col("tail.digest").alias("last_digest"),
    )


def _state_tail(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Latest (url_id, last_digest) across committed delta partitions."""
    if not _has_batches(state_dir):
        return None
    s = spark.read.parquet(state_dir)
    pick = F.max(
        F.struct("batch_id", "last_ts", "last_event_id", "last_digest")
    ).alias("m")
    return s.groupBy("url_id").agg(pick).select(
        "url_id", F.col("m.last_digest").alias("last_digest")
    )


def stream_warc_revisit(spark: SparkSession, events_dir: str, workdir: str) -> None:
    """Drain all available capture files (trigger availableNow), each
    micro-batch appending its per-URL delta partition. Restartable and
    idempotent: a replayed batch rewrites its own batch_id partition."""
    state_dir = f"{workdir}/warc_state"

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        part = f"{state_dir}/batch_id={bid}"
        if batch_committed(part):
            return  # fully committed already (at-least-once replay)
        scrub_partial(part)
        write_batch(_batch_delta(batch_df, _state_tail(spark, state_dir)), state_dir, bid)
        mark_committed(part)

    q = (
        spark.readStream.schema(EVENTS)
        .parquet(events_dir)
        .writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", f"{workdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def warc_storage_report(spark: SparkSession, workdir: str) -> DataFrame:
    """q125's exact output shape from the accumulated state — per URL the
    fetch/revisit counts, raw vs stored bytes, savings in permille."""
    s = spark.read.parquet(f"{workdir}/warc_state")
    return s.groupBy("url_id").agg(
        F.sum("d_fetches").cast("long").alias("n_fetches"),
        F.sum("d_revisits").cast("long").alias("n_revisits"),
        F.sum("d_raw_bytes").cast("long").alias("raw_bytes"),
        F.sum("d_stored_bytes").cast("long").alias("stored_bytes"),
        F.expr(
            "(1000 * sum(d_raw_bytes - d_stored_bytes)) div sum(d_raw_bytes)"
        ).alias("saved_permille"),
    )
