"""Streaming frontier ingestion: readStream + foreachBatch, micro-batch =
crawl round (SURVEY §2.10 row 1).

Reference semantic preserved: results are processed as they arrive off the
scraper queue while producers still run
(``parallel_scraper_manager.py:356-411``); here newly discovered seed
files land in a directory, Structured Streaming picks them up, and each
micro-batch ``k`` runs crawl round ``k`` over the newly landed seeds.

Both twins call the round kernel of ``plans/crawl.py`` — the same
``schedule_frontier`` / ``fetch_round`` / ``advance_frontier`` functions
``CrawlEngine.run_round`` calls, with the same ``CrawlConfig`` — and keep
only their own I/O: ``batch_id`` partitions written with dynamic
overwrite, scrubbed on replay and committed by a ``_COMMITTED`` marker
(``commit.py``). The stream keeps no seen-set prefilter: dedupe is the
exact anti-join (``use_bloom`` and the shard options do not apply).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.politeness import max_bucket_capacity
from ..plans.crawl import (
    FRONTIER_COLS,
    CrawlConfig,
    advance_frontier,
    fetch_round,
    schedule_frontier,
    seed_frontier,
)
from ..schemas import SEEDS
from .commit import batch_committed, mark_committed, scrub_partial, write_batch


def _run_stream(spark: SparkSession, seeds_dir: str, workdir: str, round_fn) -> None:
    """Drain every available seed file (trigger availableNow) through
    ``round_fn(batch_df, batch_id)``."""
    q = (
        spark.readStream.schema(SEEDS)
        .parquet(seeds_dir)
        .writeStream.foreachBatch(round_fn)
        .option("checkpointLocation", f"{workdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_frontier_rounds(
    spark: SparkSession,
    seeds_dir: str,
    workdir: str,
    host_policy: DataFrame,
    cfg: CrawlConfig | None = None,
) -> None:
    """The scheduling half of a crawl round per micro-batch: the landed
    seeds are deduped against the accumulated seen set and slotted by
    politeness (no robots, no fetch, no pending state); the admitted URLs
    go to ``scheduled_log`` and to the seen set.

    Restartable AND idempotent: foreachBatch gives at-least-once delivery,
    so both sinks are ``batch_id`` partitions written with dynamic
    overwrite. Commitment is the ``_COMMITTED`` marker in the seen-side
    partition, dropped AFTER both writes: a replay of an unmarked batch
    scrubs its partial partitions and rewrites both, preserving the
    no-URL-scheduled-twice invariant across crash/restart."""
    cfg = cfg or CrawlConfig()
    seen_dir = f"{workdir}/seen"
    out_dir = f"{workdir}/scheduled_log"
    max_cap = max_bucket_capacity(host_policy, cfg.default_capacity)

    def round_fn(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        seen_part = f"{seen_dir}/batch_id={bid}"
        if batch_committed(seen_part):
            return  # batch fully committed (at-least-once replay)
        scrub_partial(seen_part, f"{out_dir}/batch_id={bid}")
        seen = spark.read.parquet(seen_dir) if _has_batches(seen_dir) else None
        sched, _ = schedule_frontier(
            seed_frontier(batch_df), bid, seen, None, host_policy, None, cfg, max_cap
        )
        # scheduled_log first, seen last: a crash between the two leaves the
        # commit marker absent, so the replay rewrites both partitions
        write_batch(
            sched.select("canon_url", "url_hash", "host", "slot", "scheduled_ts"),
            out_dir,
            bid,
        )
        seen_delta = sched.select(
            "url_hash", "canon_url", F.lit(bid).cast("int").alias("seen_round")
        )
        write_batch(seen_delta, seen_dir, bid)
        mark_committed(seen_part)
        sched.unpersist()

    _run_stream(spark, seeds_dir, workdir, round_fn)


def _has_batches(base: str) -> bool:
    """True when the dir holds at least one batch_id= partition with a
    DATA file (a bare _SUCCESS left behind by a partition delete, or a
    marker-only partition from a zero-row batch, must not count — a
    parquet read over markers alone would fail schema inference)."""
    if not os.path.isdir(base):
        return False
    for n in os.listdir(base):
        sub = f"{base}/{n}"
        if (
            n.startswith("batch_id=")
            and os.path.isdir(sub)
            and any(not f.startswith(("_", ".")) for f in os.listdir(sub))
        ):
            return True
    return False


def _latest_partition(base: str, below: int) -> str | None:
    """Largest committed ``batch_id=<k>`` partition dir with k < below."""
    if not os.path.isdir(base):
        return None
    ks = [
        int(n.split("=", 1)[1])
        for n in os.listdir(base)
        if n.startswith("batch_id=") and os.listdir(f"{base}/{n}")
    ]
    ks = [k for k in ks if k < below]
    return f"{base}/batch_id={max(ks)}" if ks else None


def stream_crawl_rounds(
    spark: SparkSession,
    seeds_dir: str,
    workdir: str,
    pages: DataFrame,
    host_policy: DataFrame,
    robots_cache: DataFrame | None = None,
    cfg: CrawlConfig | None = None,
) -> None:
    """The FULL crawl round as a streaming micro-batch — the low-latency
    twin of ``plans/crawl.py::CrawlEngine.run_round``, running the same
    round kernel: micro-batch k's frontier is the pending snapshot of
    batch k-1 plus the newly landed seeds, and round k (robots, politeness,
    fetch against ``pages`` (the ``prepare_pages`` output), extract, retry
    backoff and 3-strike breaker, outlink discovery when
    ``cfg.discover_outlinks``) turns it into batch k's outputs. The
    streamed fetch_log, extracted and pending state are row-identical to
    the batch engine's fetch_log, extracted and frontier on the same input
    (asserted by ``tests/test_streaming.py``). ``robots_cache`` None skips
    the robots stage.

    State across batches (each a batch_id-partitioned parquet dir; the
    ``_COMMITTED`` marker in the seen partition, dropped after every
    write, makes at-least-once foreachBatch replay idempotent and
    restart-safe):

    - ``seen``      — append-only delta per batch (fetched + struck-out)
    - ``pending``   — SNAPSHOT per batch of the live frontier
                      (``schemas.FRONTIER``)
    - ``fetch_log`` / ``extracted`` / ``scheduled_log`` — per-batch appends
    """
    cfg = cfg or CrawlConfig()
    seen_dir = f"{workdir}/seen"
    pending_dir = f"{workdir}/pending"
    fetch_dir = f"{workdir}/fetch_log"
    extracted_dir = f"{workdir}/extracted"
    sched_dir = f"{workdir}/scheduled_log"
    max_cap = max_bucket_capacity(host_policy, cfg.default_capacity)

    def round_fn(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        seen_part = f"{seen_dir}/batch_id={bid}"
        if batch_committed(seen_part):
            return  # fully committed already (at-least-once replay)
        scrub_partial(
            seen_part,
            f"{fetch_dir}/batch_id={bid}",
            f"{extracted_dir}/batch_id={bid}",
            f"{sched_dir}/batch_id={bid}",
            f"{pending_dir}/batch_id={bid}",
        )

        frontier = seed_frontier(batch_df)
        prev_pending = _latest_partition(pending_dir, bid)
        if prev_pending:
            pending = spark.read.parquet(prev_pending).select(*FRONTIER_COLS)
            frontier = pending.unionByName(frontier)
        seen = spark.read.parquet(seen_dir) if _has_batches(seen_dir) else None

        sched, waiting = schedule_frontier(
            frontier, bid, seen, None, host_policy, robots_cache, cfg, max_cap
        )
        fetch = fetch_round(sched, pages, bid, cfg)
        pending_next = advance_frontier(waiting, fetch, bid, cfg, seen, fetch.newly_seen)

        # commit order: logs + pending, then seen, then the _COMMITTED marker
        write_batch(fetch.fetch_log, fetch_dir, bid)
        write_batch(fetch.extracted, extracted_dir, bid)
        write_batch(
            fetch.rows.select("canon_url", "url_hash", "host", "slot", "scheduled_ts"),
            sched_dir,
            bid,
        )
        # pending is a SNAPSHOT: write its batch dir directly (a partitionBy
        # write would emit nothing for an empty frontier, and a later batch
        # would then wrongly resurrect the previous snapshot)
        pending_next.write.mode("overwrite").parquet(f"{pending_dir}/batch_id={bid}")
        write_batch(fetch.newly_seen, seen_dir, bid)
        mark_committed(seen_part)
        sched.unpersist()
        fetch.rows.unpersist()

    _run_stream(spark, seeds_dir, workdir, round_fn)
