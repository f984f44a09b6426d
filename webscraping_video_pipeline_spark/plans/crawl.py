"""P4 — the crawl-round loop (SURVEY.md §2.9 P4, §3 EP1 Spark mapping).

Reference semantic preserved: ``process_batch`` loops rounds until a budget
target, checkpointing JSON state after every batch and resuming from it
(``enhanced_batch_processor.py:364-445,740-764``, ``main.py:187-196``).

One round is ONE declarative DataFrame job, defined once here as three
plain functions (the round kernel)::

    schedule_frontier   frontier ──► due-filter
                        ──► J2 dedupe (Bloom pre-filter + exact anti-join)
                        ──► P2 robots as-of (resolved once) + disallow filter
                        ──► P1 politeness slots (per-host token bucket,
                            robots crawl-delay overrides the host policy)
    fetch_round         ──► J5 fetch join against pages
                        ──► E1 extract_text + href harvest (one html pass)
                        ──► retry backoff, 3-strike breaker, url_seen delta
    advance_frontier    ──► not-admitted + deferred + retries + discovered
                        ──► deterministic merge ──► anti-join seen = frontier'

Misses back off exponentially (``next_attempt_round = k + 2**attempts`` —
the computed analog of the reference's retry sleep,
``cloud_storage.py:159-208``) and strike out after ``max_attempts``
(``parallel_scraper_manager.py:171-178``).

The callers keep only their own I/O. ``CrawlEngine.run_round`` writes
fetch_log, extracted, url_seen and round_metrics (append), frontier and
the seen-filter shards (snapshot), then ``catalog.commit_round(k)`` — the
single atomic commit. The streaming twins (``streaming/micro_batch.py``)
write the same tables as ``batch_id`` partitions under a commit marker.

Determinism: round_start_ts is a pure function of the round number; every
ordering has a total tiebreak; politeness slots are computed, never slept —
so crawl ordering is reproducible run-to-run and across restarts (north_rule).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..functions.extract import extract_text_udf
from ..functions.urls import canonicalize_url_udf, host_col, url_hash_col
from ..operators.dedup import build_bloom_shards, dedupe_against_seen
from ..operators.frontier import fetch_join
from ..operators.politeness import max_bucket_capacity, schedule_round
from ..operators.robots import apply_robots, resolve_robots_asof
from ..schemas import FRONTIER

BASE_ROUND_TS = "2025-06-01 00:00:00"
FRONTIER_COLS = FRONTIER.fieldNames()


@dataclass
class CrawlConfig:
    n_shards: int = 64
    salts: int = 16
    default_delay_s: float = 1.0
    default_capacity: int = 4
    max_attempts: int = 3
    round_interval_s: int = 3600
    discover_outlinks: bool = True
    use_bloom: bool = True  # False -> exact anti-join only, no prefilter
    # prefilter flavor when use_bloom is True: "bloom" (OR-mergeable,
    # smallest) or "cuckoo" (deletable — re-crawl-after-TTL support);
    # results are identical either way (exact-join backstop decides)
    seen_filter: str = "bloom"
    # fixed bitset width per shard so cross-round OR-merge works; size for
    # the shard's expected FINAL population (10 bits/key): the default
    # carries ~100k keys/shard at 1% fpp. At 10^10 keys / 4096 shards use
    # ~2.4e7 bits (~3 MB/shard).
    bloom_bits_per_shard: int = 1 << 20
    # cuckoo table width per shard (pow2; capacity ≈ buckets*4*0.95 keys)
    cuckoo_buckets_per_shard: int = 1 << 12


def round_ts(round_no: int, cfg: CrawlConfig) -> Column:
    return F.lit(BASE_ROUND_TS).cast("timestamp") + F.make_interval(
        secs=F.lit(round_no * cfg.round_interval_s)
    )


def canonicalize_candidates(df: DataFrame, url_col: str = "url") -> DataFrame:
    """C1 applied: adds canon_url, url_hash, host."""
    return (
        df.withColumn("canon_url", canonicalize_url_udf(F.col(url_col)))
        .withColumn("url_hash", url_hash_col(F.col("canon_url")))
        .withColumn("host", host_col(F.col("canon_url")))
    )


def prepare_pages(pages: DataFrame) -> DataFrame:
    """Canonicalize + dedup the pages table to one row per canon_url
    (latest warc_ts wins — the as-of fetch target)."""
    canon = canonicalize_candidates(pages, "url")
    w = Window.partitionBy("url_hash").orderBy(
        F.col("warc_ts").desc(), F.col("url").asc()
    )
    return (
        canon.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def seed_frontier(seeds: DataFrame) -> DataFrame:
    """Seed rows (``schemas.SEEDS``) as frontier rows, due at once."""
    return canonicalize_candidates(seeds, "url").select(
        "url",
        "canon_url",
        "url_hash",
        "host",
        "priority",
        "source",
        "discovered_ts",
        F.lit(0).alias("attempts"),
        F.lit(0).alias("next_attempt_round"),
    )


# ------------------------------------------------------------- round kernel


def schedule_frontier(
    frontier: DataFrame,
    round_no: int,
    url_seen: DataFrame | None,
    shards: DataFrame | None,
    host_policy: DataFrame,
    robots_cache: DataFrame | None,
    cfg: CrawlConfig,
    max_capacity: int,
) -> tuple[DataFrame, DataFrame]:
    """Admit round ``round_no`` from ``frontier`` (``schemas.FRONTIER``).

    Returns ``(scheduled, waiting)``: the cached admitted rows with slot /
    scheduled_ts, and the frontier rows that stay for a later round (due
    but not admitted, plus not yet due). Robots-disallowed and already-seen
    URLs are in neither. ``shards`` is the seen-set prefilter (None: exact
    anti-join only); ``robots_cache`` None skips the robots stage.
    """
    ts = round_ts(round_no, cfg)
    due = frontier.filter(F.col("next_attempt_round") <= round_no)
    deferred = frontier.filter(F.col("next_attempt_round") > round_no)

    # J2: within-batch + cross-round dedup (exact, filter-accelerated)
    allowed = dedupe_against_seen(
        due, url_seen, shards, n_shards=cfg.n_shards, prefilter=cfg.seen_filter
    )
    policy = host_policy
    if robots_cache is not None:
        # P2: robots as-of + disallow; its crawl delay overrides the policy
        robots = resolve_robots_asof(robots_cache, ts)
        allowed = apply_robots(allowed, robots, url_col="canon_url").drop("robots_delay_s")
        policy = (
            host_policy.join(
                robots.select("host", F.col("crawl_delay_s").alias("_rd")), "host", "left"
            )
            .withColumn(
                "crawl_delay_s",
                F.coalesce(
                    F.nanvl(F.col("_rd"), F.lit(None).cast("double")), F.col("crawl_delay_s")
                ),
            )
            .drop("_rd")
        )
    allowed = allowed.withColumn("priority", F.coalesce(F.col("priority"), F.lit(0.0)))

    # P1: politeness slots
    scheduled = schedule_round(
        allowed,
        policy,
        round_start_ts=ts,
        default_delay_s=cfg.default_delay_s,
        default_capacity=cfg.default_capacity,
        salts=cfg.salts,
        max_capacity=max_capacity,
    ).cache()
    waiting = (
        allowed.join(scheduled.select("url_hash"), "url_hash", "left_anti")
        .select(*FRONTIER_COLS)
        .unionByName(deferred.select(*FRONTIER_COLS))
    )
    return scheduled, waiting


class Fetch(NamedTuple):
    rows: DataFrame  # cached fetch-joined rows; unpersist once written
    fetch_log: DataFrame
    extracted: DataFrame
    retryable: DataFrame  # FRONTIER rows due again after backoff
    newly_seen: DataFrame  # the round's url_seen delta


def fetch_round(
    scheduled: DataFrame, pages: DataFrame, round_no: int, cfg: CrawlConfig
) -> Fetch:
    """J5 + E1 against ``pages`` (``prepare_pages`` output), plus the
    round's retry bookkeeping and url_seen delta."""
    # Both html consumers (extract, outlink harvest) run in ONE projection
    # so the BinaryType html column streams through the scan exactly once
    # and is NEVER cached — only the skinny derived columns persist
    # (caching page bytes is the first executor OOM at 100× scale).
    joined = fetch_join(
        scheduled,
        pages.select("canon_url", F.col("warc_ts"), "html", "lang"),
    )
    derived = [extract_text_udf(F.col("html")).alias("extracted_text")]
    if cfg.discover_outlinks:
        derived.append(
            F.regexp_extract_all(
                F.decode(F.col("html"), "utf-8"), F.lit('href="([^"]+)"'), F.lit(1)
            ).alias("_outlinks")
        )
    fetched = joined.select(
        *[c for c in joined.columns if c != "html"], *derived
    ).cache()
    ok = fetched.filter(F.col("status") == "fetched")
    round_col = F.lit(round_no).cast("int").alias("round")
    fetch_log = fetched.select(
        round_col,
        "url_hash",
        "canon_url",
        "host",
        "scheduled_ts",
        F.col("slot").cast("int"),
        "status",
    )
    extracted = ok.select(
        round_col,
        "url_hash",
        "canon_url",
        F.col("url"),
        "warc_ts",
        "lang",
        "extracted_text",
        F.length("extracted_text").cast("int").alias("n_chars"),
    )

    # retry bookkeeping: misses back off exponentially, 3 strikes out
    misses = (
        fetched.filter(F.col("status") == "miss")
        .select(*FRONTIER_COLS)
        .withColumn("attempts", F.col("attempts") + 1)
        .withColumn(
            "next_attempt_round",
            F.lit(round_no) + F.pow(F.lit(2.0), F.col("attempts")).cast("int"),
        )
    )
    retryable = misses.filter(F.col("attempts") < cfg.max_attempts)
    exhausted = misses.filter(F.col("attempts") >= cfg.max_attempts)

    # url_seen delta: fetched + exhausted are now permanently seen. Deltas
    # never overlap prior seen (scheduled rows passed the exact anti-join)
    # nor each other within a round (in-batch dedupe), so the full set is
    # the plain union of the committed deltas.
    newly_seen = (
        ok.select("url_hash", "canon_url")
        .unionByName(exhausted.select("url_hash", "canon_url"))
        .withColumn("seen_round", F.lit(round_no).cast("int"))
    )
    return Fetch(fetched, fetch_log, extracted, retryable, newly_seen)


def advance_frontier(
    waiting: DataFrame,
    fetch: Fetch,
    round_no: int,
    cfg: CrawlConfig,
    url_seen: DataFrame | None,
    seen_delta: DataFrame,
) -> DataFrame:
    """frontier': ``waiting`` + retries + discovered outlinks, minus every
    URL seen up to and including this round (``url_seen`` ∪ ``seen_delta``).

    The merge is DETERMINISTIC (north_rule): an existing row beats a
    discovered one on the same url_hash (explicit precedence rank), then
    the (priority DESC, canon_url ASC, url ASC) survivor rule of the
    in-batch dedupe (dedup.dedupe_against_seen) picks among duplicates.
    """
    merged = waiting.unionByName(fetch.retryable).withColumn("_cat", F.lit(0))
    if cfg.discover_outlinks:
        # hrefs were harvested in the single html pass; attribute values
        # are HTML-escaped in markup, so undo the one entity that URL query
        # strings legitimately contain (&amp;)
        hrefs = (
            fetch.rows.filter(F.col("status") == "fetched")
            .select(F.explode(F.col("_outlinks")).alias("_raw"))
            .select(
                F.regexp_replace(F.col("_raw"), F.lit("&amp;"), F.lit("&")).alias("url")
            )
            .filter(F.col("url").startswith("http"))
        )
        discovered = canonicalize_candidates(hrefs, "url").select(
            "url",
            "canon_url",
            "url_hash",
            "host",
            (1.0 / (1 + F.pmod(F.xxhash64("canon_url"), F.lit(1000)))).alias("priority"),
            F.lit("discovered").alias("source"),
            round_ts(round_no, cfg).alias("discovered_ts"),
            F.lit(0).alias("attempts"),
            F.lit(round_no + 1).alias("next_attempt_round"),
            F.lit(1).alias("_cat"),
        )
        merged = merged.unionByName(discovered)
    w_merge = Window.partitionBy("url_hash").orderBy(
        F.col("_cat").asc(),
        F.col("priority").desc(),
        F.col("canon_url").asc(),
        F.col("url").asc(),  # total order: raw spellings of one canon
    )
    seen = seen_delta.select("url_hash")
    if url_seen is not None:
        seen = url_seen.select("url_hash").unionByName(seen)
    return (
        merged.withColumn("_rn", F.row_number().over(w_merge))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_cat")
        .join(seen, "url_hash", "left_anti")
    )


def partition_lineage(df: DataFrame, round_no: int, stage: str, t_ms: float) -> DataFrame:
    """M1 — per-partition row counts (JVM-side spark_partition_id, no UDF)."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.lit(round_no).cast("int").alias("round"),
            F.lit(stage).alias("stage"),
            F.col("partition_id").cast("int"),
            F.col("n_rows").cast("long"),
            F.lit(float(t_ms)).alias("t_ms"),
        )
    )


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        pages: DataFrame,
        seeds: DataFrame,
        host_policy: DataFrame,
        robots_cache: DataFrame,
        cfg: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        self.catalog = Catalog(spark, workdir)
        self.host_policy = host_policy
        self.robots_cache = robots_cache
        self._pages_path = f"{workdir}/_prepared_pages"
        self._seeds = seeds
        self._pages_raw = pages
        # policy is static per crawl: resolve the top-k thinning bound ONCE
        # here, not per round (it is a plan-blocking collect otherwise)
        self._max_capacity = max_bucket_capacity(
            host_policy, self.cfg.default_capacity
        )

    # ------------------------------------------------------------ bootstrap
    def _ensure_prepared(self) -> DataFrame:
        import os

        if not os.path.exists(self._pages_path):
            prepare_pages(self._pages_raw).write.mode("overwrite").parquet(self._pages_path)
        return self.spark.read.parquet(self._pages_path)

    # ---------------------------------------------------------------- round
    def run_round(self, round_no: int) -> dict:
        cfg, cat = self.cfg, self.catalog
        pages = self._ensure_prepared()

        frontier = cat.read_snapshot("frontier", round_no - 1)
        if frontier is None:
            frontier = seed_frontier(self._seeds)
        # url_seen is APPEND-ONLY: each round adds a delta partition (rounds
        # never re-see a URL by construction), so the standing 10^10-row set
        # is never rewritten — the parquet analog of Iceberg appends
        url_seen = cat.read_appended("url_seen", round_no - 1)
        shards_table = f"{cfg.seen_filter}_shards"
        shards = (
            cat.read_snapshot(shards_table, round_no - 1) if cfg.use_bloom else None
        )

        t0 = time.monotonic()
        scheduled, waiting = schedule_frontier(
            frontier, round_no, url_seen, shards, self.host_policy,
            self.robots_cache, cfg, self._max_capacity,
        )
        t_sched = (time.monotonic() - t0) * 1000
        lineage = partition_lineage(scheduled, round_no, "scheduled", t_sched)

        t1 = time.monotonic()
        fetch = fetch_round(scheduled, pages, round_no, cfg)
        # round counters ride the fetch_log WRITE as observed metrics — no
        # separate count() jobs in the hot loop (every count re-executes a
        # full DAG or re-scans the cache; at 10^8-row rounds that is two
        # wasted cluster passes per round)
        obs = Observation(f"round_{round_no}")
        fetch_log = fetch.fetch_log.observe(
            obs,
            F.count(F.lit(1)).alias("n_scheduled"),
            F.count(F.when(F.col("status") == "fetched", 1)).alias("n_fetched"),
        )
        cat.append_round("fetch_log", fetch_log, round_no)
        counters = obs.get  # available: the write above ran the plan
        n_scheduled, n_fetched = counters["n_scheduled"], counters["n_fetched"]
        cat.append_round("extracted", fetch.extracted, round_no)
        t_fetch = (time.monotonic() - t1) * 1000
        lineage = lineage.unionByName(
            partition_lineage(fetch.rows, round_no, "fetched", t_fetch)
        )

        # url_seen delta is appended, O(delta) per round, never a full-table
        # rewrite; re-read the materialized delta so downstream stages don't
        # recompute the lineage (round not yet committed; direct path)
        cat.append_round("url_seen", fetch.newly_seen, round_no)
        seen_delta = self.spark.read.parquet(str(cat.root / "url_seen" / f"round={round_no}"))

        if cfg.use_bloom and cfg.seen_filter == "cuckoo":
            # incremental: insert the delta into the standing cuckoo tables
            # (O(delta) work per round; deletable for re-crawl-after-TTL)
            from ..operators.cuckoo import build_cuckoo_shards, insert_into_cuckoo_shards

            if shards is None:
                shards_next = build_cuckoo_shards(
                    seen_delta,
                    n_shards=cfg.n_shards,
                    n_buckets_per_shard=cfg.cuckoo_buckets_per_shard,
                )
            else:
                shards_next = insert_into_cuckoo_shards(
                    shards,
                    seen_delta,
                    n_shards=cfg.n_shards,
                    n_buckets_per_shard=cfg.cuckoo_buckets_per_shard,
                )
            cat.write_snapshot(shards_table, shards_next, round_no)
        elif cfg.use_bloom:
            # incremental: OR the delta's shards into the standing bitsets
            # (O(delta) build + O(n_shards) merge per round, SCALE.md §1)
            delta_shards = build_bloom_shards(
                seen_delta,
                n_shards=cfg.n_shards,
                fixed_n_bits=cfg.bloom_bits_per_shard,
            )
            from ..operators.dedup import or_merge_bloom_shards

            bloom_next = (
                delta_shards if shards is None else or_merge_bloom_shards(shards, delta_shards)
            )
            cat.write_snapshot(shards_table, bloom_next, round_no)

        frontier_next = advance_frontier(waiting, fetch, round_no, cfg, url_seen, seen_delta)
        cat.write_snapshot(
            "frontier",
            frontier_next.repartition(self.spark.sparkContext.defaultParallelism, "host"),
            round_no,
        )

        cat.append_round("round_metrics", lineage, round_no)

        cat.commit_round(
            round_no,
            {"n_scheduled": n_scheduled, "n_fetched": n_fetched},
        )
        scheduled.unpersist()
        fetch.rows.unpersist()
        return {"round": round_no, "n_scheduled": n_scheduled, "n_fetched": n_fetched}

    # ------------------------------------------------------------------ TTL
    def expire_seen_before(self, expire_round: int) -> dict:
        """Re-crawl-after-TTL: forget every URL whose ``seen_round`` is
        below ``expire_round`` so future discovery re-schedules it (the
        reference clears its JSON seen-state wholesale between batches —
        ``enhanced_batch_processor.py:126-143``; this is the incremental
        version). State surgery between rounds, not part of a round:

        - expired ``url_seen`` partitions are dropped whole (each round
          partition holds exactly that round's rows, so expiry by round is
          exact and O(1) per partition — never a rewrite of the survivors);
        - cuckoo shards: O(expired) counted deletes
          (``delete_from_cuckoo_shards``) — the operation this filter
          flavor exists for;
        - bloom shards: bitsets cannot delete, so the standing filter is
          REBUILT from the surviving seen set (O(survivors)) — correct but
          the expensive path, which is the documented trade-off.
        """
        import shutil

        cat, cfg = self.catalog, self.cfg
        last = cat.last_round()
        url_seen = cat.read_appended("url_seen", last)
        if url_seen is None:
            return {"n_expired": 0}
        # CRASH-SAFETY ORDER: every intermediate state must err toward
        # false POSITIVES (filter flags a hash url_seen no longer holds —
        # harmless, the exact join decides), never the reverse (filter
        # negative while url_seen still holds the hash would skip the
        # exact join and re-append a duplicate). So: (1) materialize the
        # expired hashes, (2) drop the url_seen partitions, (3) only then
        # rewrite the prefilter from the now-authoritative state.
        expired_tmp = str(cat.root / "_staging" / "expired_hashes")
        url_seen.filter(F.col("seen_round") < expire_round).select(
            "url_hash"
        ).write.mode("overwrite").parquet(expired_tmp)
        expired = self.spark.read.parquet(expired_tmp)
        n_expired = expired.count()
        if n_expired:
            for r in range(expire_round):
                part = cat.root / "url_seen" / f"round={r}"
                if part.exists():
                    shutil.rmtree(part)
        if n_expired and cfg.use_bloom:
            shards_table = f"{cfg.seen_filter}_shards"
            shards = cat.read_snapshot(shards_table, last)
            if shards is not None:
                if cfg.seen_filter == "cuckoo":
                    from ..operators.cuckoo import delete_from_cuckoo_shards

                    nxt = delete_from_cuckoo_shards(
                        shards, expired, n_shards=cfg.n_shards
                    )
                else:
                    survivors = cat.read_appended("url_seen", last)
                    if survivors is None:  # everything expired
                        from ..schemas import URL_SEEN

                        survivors = self.spark.createDataFrame([], URL_SEEN)
                    nxt = build_bloom_shards(
                        survivors,
                        n_shards=cfg.n_shards,
                        fixed_n_bits=cfg.bloom_bits_per_shard,
                    )
                cat.write_snapshot(shards_table, nxt, last)
        shutil.rmtree(expired_tmp, ignore_errors=True)
        return {"n_expired": n_expired}

    # ----------------------------------------------------------------- loop
    def run(self, n_rounds: int) -> list[dict]:
        """Run (or resume) the crawl through round ``n_rounds - 1``.

        Resume is trivial by construction: the catalog manifest names the
        last committed round; a crash mid-round leaves the manifest at k-1
        and re-running round k overwrites its partial output (idempotent).
        """
        results = []
        start = self.catalog.last_round() + 1
        for k in range(start, n_rounds):
            results.append(self.run_round(k))
        return results
