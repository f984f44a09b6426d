"""Streaming twin of contract q94 (AIMD adaptive per-host rate
control): fetch outcomes arrive as parquet micro-batches; each batch
folds its outcomes per host STARTING FROM THE CARRIED CLOSING RATE of
the accumulated state — exactly the per-(host, window) fold with
carried rate that q94's docstring names as the production form, made
concrete. The frontier can read "what rate should host H get right
now" at any point without replaying the whole outcome history.

State discipline mirrors ``streaming/revisit.py`` / ``warc.py``: the
standing state is APPEND-ONLY per-batch DELTA rows (host, d_events,
d_errors, closing_rate_micro, last_ts, last_event_id), partitioned by
``batch_id``, partition-as-commit-marker, dynamic overwrite on replay —
an at-least-once redelivery rewrites its own partition, never
double-folds (the fold is deterministic given the carry, and the carry
comes from COMMITTED partitions only).

The fold itself is the q94 integer-micro-unit AIMD (success: +0.1 rps
capped at 10; error: integer-halve floored at 0.125) run JVM-side via
``aggregate`` over the batch's (ts, event_id)-sorted outcome array,
with the carried rate as the fold's initial accumulator — so when
files land in timestamp order the final per-host rate is BIT-IDENTICAL
to batch q94 over the concatenated log (``tests/test_streaming_aimd.py``
pins stream ≡ batch, replay idempotence, and an explicit carried-halving
boundary case).

Reference semantic: the reference's backoff lives inside one process's
retry loop (cloud_storage.py:159-208); a resumable crawler must carry
learned rates across rounds and restarts — this is that state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .commit import batch_committed, mark_committed, scrub_partial, write_batch
from .micro_batch import _has_batches
from .revisit import EVENTS

AIMD_HOSTS = 50  # must match contract.crawl_ops._AIMD_HOSTS
AIMD_INIT = 1_000_000
AIMD_STEP = 100_000
AIMD_FLOOR = 125_000
AIMD_CEIL = 10_000_000


def _batch_delta(batch_df: DataFrame, prev_tail: DataFrame | None) -> DataFrame:
    e = batch_df.select(
        (F.col("user_id") % AIMD_HOSTS).alias("host"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("fail"),
    )
    a = e.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("d_events"),
        F.sum("fail").cast("long").alias("d_errors"),
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "fail"))).alias("evs"),
    )
    if prev_tail is not None:
        a = a.join(prev_tail, "host", "left")
    else:
        a = a.withColumn("carry", F.lit(None).cast("long"))
    fold = F.expr(
        f"aggregate(transform(evs, s -> s.fail),"
        f" coalesce(carry, CAST({AIMD_INIT} AS BIGINT)),"
        " (acc, x) -> CASE WHEN x = 1"
        f" THEN greatest(acc div 2, CAST({AIMD_FLOOR} AS BIGINT))"
        f" ELSE least(acc + CAST({AIMD_STEP} AS BIGINT), CAST({AIMD_CEIL} AS BIGINT)) END)"
    )
    return a.select(
        "host",
        "d_events",
        "d_errors",
        fold.cast("long").alias("closing_rate_micro"),
        F.element_at("evs", -1)["ts"].alias("last_ts"),
        F.element_at("evs", -1)["event_id"].alias("last_event_id"),
    )


def _state_tail(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Latest committed closing rate per host — the next fold's carry."""
    if not _has_batches(state_dir):
        return None
    s = spark.read.parquet(state_dir)
    pick = F.max(
        F.struct("batch_id", "last_ts", "last_event_id", "closing_rate_micro")
    ).alias("m")
    return s.groupBy("host").agg(pick).select(
        "host", F.col("m.closing_rate_micro").alias("carry")
    )


def stream_aimd_rates(spark: SparkSession, events_dir: str, workdir: str) -> None:
    """Drain all available outcome files (trigger availableNow), each
    micro-batch folding from the carried rates and appending its delta
    partition. Restartable and idempotent."""
    state_dir = f"{workdir}/aimd_state"

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


def current_rates(spark: SparkSession, workdir: str) -> DataFrame:
    """q94's exact output shape from the accumulated state: per host the
    event/error totals and the current (latest closing) rate."""
    s = spark.read.parquet(f"{workdir}/aimd_state")
    per = s.groupBy("host").agg(
        F.sum("d_events").cast("long").alias("n_events"),
        F.sum("d_errors").cast("long").alias("n_errors"),
        F.max(
            F.struct("batch_id", "last_ts", "last_event_id", "closing_rate_micro")
        ).alias("m"),
    )
    return per.select(
        "host",
        "n_events",
        "n_errors",
        F.col("m.closing_rate_micro").alias("rate_micro"),
        (F.col("m.closing_rate_micro").cast("double") / F.lit(1000000.0)).alias(
            "rate_rps"
        ),
    )
