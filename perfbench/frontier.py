"""frontier workload: schedule-only frontier rounds.

One operation is one round: raw candidate spellings -> canonicalize (Arrow
UDF, ``urls``) -> ``dedupe_against_seen`` (Bloom probe + exact backstop,
``dedup``) -> ``schedule_round`` (per-host top-k slots, ``schedule``) ->
count. The seen side is steady state: cached pre-partitioned on
``url_hash`` with its Bloom shards prebuilt, so a round only probes a
static filter. No fetch, extract or catalog work happens here.

Shape (the ROADMAP north-metric shape, scaled to fit one short run on a
4-core host): N candidates per round, a seen set of 5N keys, 30 % of the
candidates rediscover a seen URL, 200 hosts at capacity 64. Every round
therefore yields exactly 0.7N fresh URLs and 200 x 64 = 12 800 scheduled
slots, whatever the seed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from webscraping_video_pipeline_spark.functions.urls import (
    canonicalize_url_udf,
    host_col,
    url_hash_col,
)
from webscraping_video_pipeline_spark.operators.dedup import (
    bloom_positive_hashes,
    build_bloom_shards,
    dedupe_against_seen,
)
from webscraping_video_pipeline_spark.operators.politeness import schedule_round

N_CANDIDATES = 100_000
N_SEEN = 5 * N_CANDIDATES
HOSTS = 200
CAPACITY = 64
ROUND_TS = "2025-06-01 00:00:00"
EXPECTED_FRESH = N_CANDIDATES * 7 // 10
EXPECTED_SCHEDULED = HOSTS * CAPACITY


def _host(pid, seed: int):
    return F.pmod(F.xxhash64(pid, F.lit(seed)), F.lit(HOSTS))


def canonical_url(pid, seed: int):
    """The one canonical spelling of URL ``pid``; even pids carry a query."""
    query = F.when(pid % 2 == 0, F.lit("?a=1&b=2")).otherwise(F.lit(""))
    return F.concat(
        F.lit("https://h"), _host(pid, seed), F.lit(".example.com/p/"), pid, query
    )


def raw_spelling(pid, variant, seed: int):
    """A non-canonical spelling of URL ``pid``. Together the variants cover
    scheme/host case, default-port stripping, query sorting, fragment and
    lone-``?`` removal, whitespace stripping and percent-decoding (the last
    one takes canonicalize's scalar urllib path)."""
    h = _host(pid, seed)
    even = pid % 2 == 0
    q_swapped = F.when(even, F.lit("?b=2&a=1")).otherwise(F.lit("?"))
    q_plain = F.when(even, F.lit("?a=1&b=2")).otherwise(F.lit(""))
    q_encoded = F.when(even, F.lit("?b=2&a=%31")).otherwise(F.lit("?"))
    return (
        F.when(
            variant == 0,
            F.concat(F.lit("HTTPS://H"), h, F.lit(".Example.COM:443/p/"), pid, q_swapped, F.lit("#frag")),
        )
        .when(variant == 1, F.concat(F.lit("https://h"), h, F.lit(".example.com/p/"), pid, q_plain))
        .when(
            variant == 2,
            F.concat(F.lit("  https://h"), h, F.lit(".EXAMPLE.com/p/"), pid, q_swapped, F.lit("  ")),
        )
        .otherwise(F.concat(F.lit("https://h"), h, F.lit(".example.com:443/p/"), pid, q_encoded))
    )


class Frontier:
    name = "frontier"
    ops_per_unit = 1
    item = "candidate URLs"

    def __init__(self, spark, seed: int, tracer, workdir, fail):
        self.spark, self.seed, self.tracer, self.fail = spark, seed, tracer, fail
        self.parts = spark.sparkContext.defaultParallelism
        self.n_shards = 2 * self.parts
        self.seen = self.shards = None
        self.bloom_positives = 0
        idc = F.col("id")
        pid = (
            F.when(idc % 10 < 3, (idc * 3 + seed) % N_SEEN)
            .otherwise(idc + N_SEEN)
            .cast("long")
        )
        variant = F.pmod(F.xxhash64(idc, F.lit(seed)), F.lit(4))
        raw = spark.range(0, N_CANDIDATES, 1, self.parts).select(
            raw_spelling(pid, variant, seed).alias("url")
        )
        self.cands = (
            raw.withColumn("canon_url", canonicalize_url_udf(F.col("url")))
            .withColumn("url_hash", url_hash_col(F.col("canon_url")))
            .withColumn("host", host_col(F.col("canon_url")))
            .withColumn(
                "priority",
                F.pmod(F.xxhash64("url_hash", F.lit(seed)), F.lit(1000)) / 1000.0,
            )
            .drop("url")
        )
        self.policy = spark.createDataFrame(
            [(f"h{i}.example.com", 1.0, CAPACITY, 3) for i in range(HOSTS)],
            "host string, crawl_delay_s double, bucket_capacity int, max_errors int",
        )

    # ------------------------------------------------------------- set-up
    def setup(self) -> None:
        """Steady-state seen side: 5N keys cached on ``url_hash`` plus their
        Bloom shards."""
        if self.seen is not None:
            self.shards.unpersist(True)
            self.seen.unpersist(True)
        pid = F.col("id")
        seen = (
            self.spark.range(0, N_SEEN, 1, self.parts)
            .select(canonical_url(pid, self.seed).alias("canon_url"))
            .withColumn("url_hash", url_hash_col(F.col("canon_url")))
            .withColumn("seen_round", F.lit(0))
            .repartition(self.parts, "url_hash")
            .cache()
        )
        seen.count()
        shards = build_bloom_shards(seen, n_shards=self.n_shards).cache()
        shards.count()
        self.seen, self.shards = seen, shards

    # ------------------------------------------------------------- rounds
    def _schedule(self, fresh):
        return schedule_round(
            fresh, self.policy, ROUND_TS, salts=16, max_capacity=CAPACITY
        )

    def warm(self) -> int:
        """Untimed warm round plus the once-per-invocation output checks:
        the Bloom path must schedule exactly what a no-Bloom recompute
        schedules, and the counts must equal the generator's."""
        batch = self.cands.persist()
        batch.count()
        fresh = dedupe_against_seen(batch, self.seen, self.shards, n_shards=self.n_shards)
        n_fresh = fresh.count()
        got = self._schedule(fresh).select("url_hash", "slot", "scheduled_ts").collect()
        ref_fresh = dedupe_against_seen(batch, self.seen, None, n_shards=self.n_shards)
        want = self._schedule(ref_fresh).select("url_hash", "slot", "scheduled_ts").collect()
        checks = 0
        if n_fresh != EXPECTED_FRESH:
            self.fail(f"frontier: {n_fresh} fresh URLs, expected {EXPECTED_FRESH}")
        checks += 1
        if len(got) != EXPECTED_SCHEDULED:
            self.fail(f"frontier: {len(got)} scheduled, expected {EXPECTED_SCHEDULED}")
        checks += 1
        if set(map(tuple, got)) != set(map(tuple, want)) or len(got) != len(want):
            self.fail("frontier: Bloom-path schedule differs from the no-Bloom recompute")
        checks += 1
        self.bloom_positives = bloom_positive_hashes(
            batch.select("url_hash").distinct(), self.shards, n_shards=self.n_shards
        ).count()
        batch.unpersist(True)
        return checks

    def start_unit(self, unit: int) -> None:
        pass

    def end_unit(self, unit: int) -> int:
        return 0

    def label(self, i: int) -> str:
        return f"round{i}"

    def op(self, i: int) -> int:
        tr = self.tracer
        with tr.span("urls"):
            batch = self.cands.persist()
            batch.count()
        with tr.span("dedup") as c:
            fresh = dedupe_against_seen(batch, self.seen, self.shards, n_shards=self.n_shards)
            if tr.enabled:  # lazy call: materialise at the layer boundary
                fresh = fresh.persist()
                c["fresh"] = fresh.count()
        with tr.span("schedule") as c:
            n_sched = self._schedule(fresh).count()
            c["admitted"] = n_sched
        if tr.enabled:
            fresh.unpersist(True)
        batch.unpersist(True)
        if n_sched != EXPECTED_SCHEDULED:
            self.fail(f"frontier op {i}: {n_sched} scheduled, expected {EXPECTED_SCHEDULED}")
            return 0
        return N_CANDIDATES

    def finish(self) -> None:
        if self.seen is not None:
            self.shards.unpersist(True)
            self.seen.unpersist(True)

    # -------------------------------------------------------- layer table
    def layers(self, tr, rounds) -> dict:
        """Per-round means over the traced rounds ``rounds`` (root span ids)."""
        from .layers import child, python_nodes, mean

        out = {}
        urls = [child(tr, r, "urls") for r in rounds]
        dedup = [child(tr, r, "dedup") for r in rounds]
        sched = [child(tr, r, "schedule") for r in rounds]
        out["urls.canon_s"] = mean(tr.self_time(s) for s in urls)
        canon = python_nodes("canonicalize_url_udf")
        out["urls.py_boot_s"] = mean(
            tr.operator_total([s], "time to start Python workers", canon)
            + tr.operator_total([s], "time to initialize Python workers", canon)
            for s in urls
        )
        out["urls.py_run_s"] = mean(
            tr.operator_total([s], "time to run Python workers", canon) for s in urls
        )
        out["urls.arrow_bytes"] = mean(
            tr.operator_total([s], "data sent to Python workers", canon)
            + tr.operator_total([s], "data returned from Python workers", canon)
            for s in urls
        )
        probe = python_nodes("probe")
        out["dedup.s"] = mean(tr.self_time(s) for s in dedup)
        out["dedup.probe_s"] = mean(
            tr.operator_total([s], "time to run Python workers", probe) for s in dedup
        )
        out["dedup.shuffle_bytes"] = mean(
            tr.operator_total([s], "shuffle bytes written") for s in dedup
        )
        true_dups = N_CANDIDATES - EXPECTED_FRESH
        out["dedup.bloom_positives"] = self.bloom_positives
        out["dedup.bloom_precision"] = (
            true_dups / self.bloom_positives if self.bloom_positives else 0.0
        )
        out["schedule.s"] = mean(tr.self_time(s) for s in sched)
        out["schedule.admitted"] = mean(tr.spans[s]["counters"]["admitted"] for s in sched)
        out["schedule.admit_ratio"] = mean(
            tr.spans[s]["counters"]["admitted"] / max(1, tr.spans[d]["counters"]["fresh"])
            for s, d in zip(sched, dedup)
        )
        out["schedule.shuffle_bytes"] = mean(
            tr.operator_total([s], "shuffle bytes written") for s in sched
        )
        return out
