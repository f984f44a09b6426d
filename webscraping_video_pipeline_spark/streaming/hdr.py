"""Streaming twin of contract q177 (HDR-histogram latency quantile
sketch): fetch-latency events arrive as parquet micro-batches and the
per-group bucket table accumulates batch over batch, so the monitor can
ask "what are P50/P90/P99 right now?" at any point without rescanning —
bounded state (<= (64-s)*2^s buckets per group) no matter how many
events have landed. This is the HdrHistogram deployment story made
literal: the sketch IS the state, raw latencies are never kept.

State discipline: the standing state is append-only per-batch DELTA
bucket rows (event_type, idx, d_c = the batch's count per bucket). HDR
bucket counts merge by plain SUM — associative and commutative — so
stream ≡ batch holds for ANY file landing order (the
``streaming/hostprior.py`` additive-state argument). Sums are NOT
idempotent, so the ``streaming/commit.py`` batch_id-partition marker
discipline is load-bearing here (unlike ``streaming/hll.py``'s MAX
registers): a replayed batch must rewrite its own partition, never
double-add.

``latency_quantiles`` folds the accumulated deltas with q177's exact
cumulative-walk arithmetic (integer ceil-rank, bucket lower bounds via
shifts) and emits EXACTLY the batch query's columns — bit-identical to
q177 on the concatenated input (``tests/test_streaming_hdr.py`` pins
stream ≡ batch, out-of-order equivalence, and replay idempotence).

Reference semantic: the reference tracks per-scraper elapsed times in a
driver-local list for one run (parallel_scraper_manager.py:447-461);
this is that timing ledger made mergeable, bounded, and restartable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..contract.monitor import _HDR_PCTS, _HDR_S
from .commit import batch_committed, mark_committed, scrub_partial, write_batch

# Mirrors the driver testdata `events` table.
EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

_M = 1 << _HDR_S


def _batch_delta(batch_df: DataFrame) -> DataFrame:
    """Per-(event_type, bucket) count for one micro-batch — q177's exact
    (exponent, sub-bucket) addressing over the batch's latencies."""
    v = F.greatest(
        F.floor(F.col("value") * 1000).cast("long") + 1, F.lit(1).cast("long")
    )
    ix = (
        batch_df.select("event_type", v.alias("v"))
        .withColumn("e", F.length(F.conv(F.col("v").cast("string"), 10, 2)) - 1)
        .withColumn(
            "idx",
            F.when(F.col("e") < _HDR_S, F.col("v")).otherwise(
                (F.col("e") - _HDR_S + 1) * _M
                + F.expr(f"shiftright(v, cast(e - {_HDR_S} as int))")
                - _M
            ),
        )
    )
    return ix.groupBy("event_type", "idx").agg(
        F.count(F.lit(1)).cast("long").alias("d_c")
    )


def stream_hdr_buckets(spark: SparkSession, events_dir: str, workdir: str) -> None:
    """Drain all available event files (trigger availableNow), each
    micro-batch appending its per-bucket delta partition. Restartable
    and idempotent: a replayed batch rewrites its own batch_id partition
    (counts are additive — the marker discipline is what keeps replays
    from double-adding)."""
    state_dir = f"{workdir}/hdr_state"

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        part = f"{state_dir}/batch_id={bid}"
        if batch_committed(part):
            return  # fully committed already (at-least-once replay)
        scrub_partial(part)
        write_batch(_batch_delta(batch_df), state_dir, bid)
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


def latency_quantiles(spark: SparkSession, workdir: str) -> DataFrame:
    """The quantile table from the accumulated buckets — q177's exact
    cumulative-walk arithmetic, computed from O(groups x buckets) delta
    rows (the windows partition by event_type over the bounded bucket
    table only, never events)."""
    s = spark.read.parquet(f"{workdir}/hdr_state")
    b = s.groupBy("event_type", "idx").agg(F.sum("d_c").alias("c"))
    wo = Window.partitionBy("event_type").orderBy("idx")
    wa = Window.partitionBy("event_type")
    lo = F.when(F.col("idx") < _M, F.col("idx")).otherwise(
        F.expr(f"shiftleft({_M} + idx % {_M}, cast(idx div {_M} as int) - 1)")
    )
    cw = b.select(
        "event_type",
        "idx",
        "c",
        F.sum("c").over(wo).alias("cum"),
        F.sum("c").over(wa).alias("n"),
        F.count(F.lit(1)).over(wa).alias("n_buckets"),
        lo.alias("lo"),
    )
    return cw.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max("n_buckets").cast("long").alias("n_buckets"),
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"({p} * n + 999) div 1000"),
                    F.col("lo"),
                )
            )
            .cast("long")
            .alias(f"p{p}_micro")
            for p in _HDR_PCTS
        ],
    )
