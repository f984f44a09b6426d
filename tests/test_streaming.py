"""Structured Streaming: windowed aggs driven to completion on bounded
input match their batch twins; stateful token bucket admits per capacity.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from webscraping_video_pipeline_spark.streaming.windows import (
    run_to_memory,
    session_counts,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stream_and_batch(spark):
    """events as (streaming DF, batch DF); parquet normalized into a dir."""
    d = tempfile.mkdtemp(prefix="evt_stream_")
    src = f"{SF}/events.parquet"
    if os.path.isdir(src):
        shutil.copytree(src, f"{d}/data")
    else:
        os.makedirs(f"{d}/data")
        shutil.copy(src, f"{d}/data/part-0.parquet")
    batch = spark.read.parquet(f"{d}/data")
    stream = spark.readStream.schema(batch.schema).parquet(f"{d}/data")
    yield stream, batch
    shutil.rmtree(d, ignore_errors=True)


def test_tumbling_stream_matches_batch(spark, stream_and_batch):
    stream, batch = stream_and_batch
    run_to_memory(tumbling_counts(stream), "tumb_out", output_mode="complete")
    got = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in spark.sql("SELECT * FROM tumb_out").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in tumbling_counts(batch).collect()
    }
    assert got == want and len(want) > 0


def test_session_stream_matches_batch(spark, stream_and_batch):
    stream, batch = stream_and_batch
    run_to_memory(session_counts(stream), "sess_out", output_mode="complete")
    got = sorted(
        (r.session_start, r.user_id, r.n_events)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    )
    want = sorted(
        (r.session_start, r.user_id, r.n_events) for r in session_counts(batch).collect()
    )
    assert got == want and len(want) > 0


def test_stateful_token_bucket(spark, stream_and_batch):
    from webscraping_video_pipeline_spark.streaming.stateful import politeness_stream

    stream, _ = stream_and_batch
    cands = stream.select(
        F.concat(F.lit("h"), (F.col("user_id") % 3).cast("string")).alias("host"),
        F.concat(F.lit("https://x/"), F.col("event_id")).alias("canon_url"),
        F.col("value").alias("priority"),
    )
    run_to_memory(politeness_stream(cands, capacity=5), "bucket_out")
    out = spark.sql("SELECT host, count(*) AS n FROM bucket_out WHERE admitted GROUP BY host")
    rows = out.collect()
    assert rows, "no admitted rows"
    for r in rows:
        assert r.n <= 5, f"host {r.host} admitted {r.n} > capacity"


def _land_seeds(seeds_dir, name, pdf):
    pdf.to_parquet(f"{seeds_dir}/{name}.parquet", index=False, coerce_timestamps="us")


def test_stream_crawl_rounds_match_batch_engine(spark, tmp_path):
    """Batch ≡ stream: the full-round streaming twin (retry/backoff,
    3-strike circuit breaker, robots, OUTLINK DISCOVERY) produces a
    fetch_log and an extracted table row-identical to CrawlEngine's over 3
    rounds on the same fixtures, misses and all, and its pending state
    after every round equals the batch frontier snapshot of that round."""
    import os as _os

    import pandas as pd

    from webscraping_video_pipeline_spark import schemas, synth
    from webscraping_video_pipeline_spark.plans.crawl import (
        CrawlConfig,
        CrawlEngine,
        prepare_pages,
    )
    from webscraping_video_pipeline_spark.streaming.micro_batch import stream_crawl_rounds

    N, N_SEEDS, ROUNDS = 400, 120, 3
    pages = spark.createDataFrame(synth.gen_pages_pdf(N), schema=schemas.PAGES)
    seeds_pdf = synth.gen_seeds_pdf(N_SEEDS, N)
    seeds = spark.createDataFrame(seeds_pdf, schema=schemas.SEEDS)
    policy = spark.createDataFrame(synth.gen_host_policy_pdf(N), schema=schemas.HOST_POLICY)
    robots = spark.createDataFrame(synth.gen_robots_pdf(N), schema=schemas.ROBOTS_CACHE)

    cfg = CrawlConfig(n_shards=8, salts=4, discover_outlinks=True)
    # batch reference (real robots: disallow filters + crawl-delay overrides)
    eng = CrawlEngine(spark, str(tmp_path / "batch"), pages, seeds, policy, robots, cfg)
    eng.run(ROUNDS)
    want = {
        (r["round"], r["host"], r["slot"], r["canon_url"], r["scheduled_ts"], r["status"])
        for r in eng.catalog.read_appended("fetch_log").collect()
    }
    assert any(s == "miss" for *_, s in want), "fixture must produce misses"

    # streaming twin: all seeds in micro-batch 0; batches 1..2 are fired by
    # re-sending one already-fetched URL (it dedupes against seen, so the
    # batch carries only the pending-state work — same as a batch round)
    seeds_dir, wd = str(tmp_path / "seeds"), str(tmp_path / "wd")
    _os.makedirs(seeds_dir)
    prepared = prepare_pages(pages)
    _land_seeds(seeds_dir, "b0", seeds_pdf)
    stream_crawl_rounds(spark, seeds_dir, wd, prepared, policy, robots_cache=robots, cfg=cfg)
    pump_url = (
        spark.read.parquet(f"{wd}/fetch_log")
        .filter(F.col("status") == "fetched")
        .orderBy("canon_url")
        .first()["canon_url"]
    )
    pump_pdf = pd.DataFrame(
        {
            "url": pd.Series([pump_url], dtype="string"),
            "priority": [0.5],
            "source": pd.Series(["pump"], dtype="string"),
            "discovered_ts": pd.Series([pd.Timestamp("2025-01-01")]),
        }
    )
    for k in range(1, ROUNDS):
        _land_seeds(seeds_dir, f"b{k}", pump_pdf)
        stream_crawl_rounds(spark, seeds_dir, wd, prepared, policy, robots_cache=robots, cfg=cfg)

    got = {
        (r["batch_id"], r["host"], r["slot"], r["canon_url"], r["scheduled_ts"], r["status"])
        for r in spark.read.parquet(f"{wd}/fetch_log").collect()
    }
    assert got == want, (
        f"stream-only={sorted(got - want)[:5]} batch-only={sorted(want - got)[:5]}"
    )

    ext_cols = ["url_hash", "canon_url", "url", "warc_ts", "lang", "extracted_text", "n_chars"]
    want_ext = sorted(
        (r["round"], *(r[c] for c in ext_cols))
        for r in eng.catalog.read_appended("extracted").collect()
    )
    got_ext = sorted(
        (r["batch_id"], *(r[c] for c in ext_cols))
        for r in spark.read.parquet(f"{wd}/extracted").collect()
    )
    assert got_ext == want_ext and len(want_ext) > 0

    # the stream's pending state IS the batch frontier, round by round
    def state(df):
        return sorted(tuple(r) for r in df.select(*schemas.FRONTIER.fieldNames()).collect())

    for k in range(ROUNDS):
        want_state = state(eng.catalog.read_snapshot("frontier", k))
        got_state = state(spark.read.parquet(f"{wd}/pending/batch_id={k}"))
        assert got_state == want_state and len(want_state) > 0, (
            f"round {k}: stream-only={sorted(set(got_state) - set(want_state))[:3]} "
            f"batch-only={sorted(set(want_state) - set(got_state))[:3]}"
        )


def test_stream_crawl_restart_mid_batch_idempotent(spark, tmp_path):
    """Restart mid-stream: simulate a crash AFTER the fetch/pending writes
    but BEFORE the seen commit marker, then redeliver the batch — outputs
    must be rewritten identically (dynamic-partition overwrite), and a
    fully-committed batch must be skipped, not duplicated."""
    import os as _os
    import shutil

    from webscraping_video_pipeline_spark import schemas, synth
    from webscraping_video_pipeline_spark.plans.crawl import CrawlConfig, prepare_pages
    from webscraping_video_pipeline_spark.streaming.micro_batch import stream_crawl_rounds

    N = 200
    cfg = CrawlConfig(salts=4, discover_outlinks=False)
    pages = spark.createDataFrame(synth.gen_pages_pdf(N), schema=schemas.PAGES)
    seeds_pdf = synth.gen_seeds_pdf(40, N)
    policy = spark.createDataFrame(synth.gen_host_policy_pdf(N), schema=schemas.HOST_POLICY)
    seeds_dir, wd = str(tmp_path / "seeds"), str(tmp_path / "wd")
    _os.makedirs(seeds_dir)
    prepared = prepare_pages(pages)
    _land_seeds(seeds_dir, "b0", seeds_pdf)
    stream_crawl_rounds(spark, seeds_dir, wd, prepared, policy, cfg=cfg)

    def snap(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    first_fetch = snap(f"{wd}/fetch_log")
    first_seen = snap(f"{wd}/seen")

    # fully-committed replay (fresh checkpoint redelivers batch 0): skipped
    shutil.rmtree(f"{wd}/ckpt")
    stream_crawl_rounds(spark, seeds_dir, wd, prepared, policy, cfg=cfg)
    assert snap(f"{wd}/fetch_log") == first_fetch
    assert snap(f"{wd}/seen") == first_seen

    # crash-before-marker replay: drop the seen partition (the marker) and
    # redeliver — the batch recomputes and rewrites identical outputs
    shutil.rmtree(f"{wd}/seen/batch_id=0")
    shutil.rmtree(f"{wd}/ckpt")
    stream_crawl_rounds(spark, seeds_dir, wd, prepared, policy, cfg=cfg)
    assert snap(f"{wd}/fetch_log") == first_fetch
    assert snap(f"{wd}/seen") == first_seen


def test_foreachbatch_micro_batch_rounds(spark, tmp_path):
    """SURVEY §2.10 row 1: readStream + foreachBatch, micro-batch = crawl
    round. Batch 2 re-sends half of batch 1's URLs — they must dedupe
    against the cross-batch seen state; slots stay politeness-spaced."""
    import pandas as pd

    from webscraping_video_pipeline_spark import schemas
    from webscraping_video_pipeline_spark.streaming.micro_batch import (
        stream_frontier_rounds,
    )

    seeds_dir, wd = str(tmp_path / "seeds"), str(tmp_path / "wd")
    os.makedirs(seeds_dir)
    policy = spark.createDataFrame(
        [("a.example.com", 2.0, 3, 3), ("b.example.com", 1.0, 3, 3)],
        "host string, crawl_delay_s double, bucket_capacity int, max_errors int",
    )

    def seed_pdf(urls):
        return pd.DataFrame(
            {
                "url": pd.Series(urls, dtype="string"),
                "priority": [1.0 / (2 + i) for i in range(len(urls))],
                "source": pd.Series(["s"] * len(urls), dtype="string"),
                "discovered_ts": pd.Series(
                    [pd.Timestamp("2025-01-01")] * len(urls)
                ),
            }
        )

    def land(name, urls):
        # file streams list flat files: write via pandas/pyarrow directly
        seed_pdf(urls).to_parquet(
            f"{seeds_dir}/{name}.parquet",
            index=False,
            coerce_timestamps="us",  # Spark TimestampType is microseconds
        )

    batch1 = [f"https://a.example.com/p/{i}" for i in range(4)] + [
        f"https://b.example.com/p/{i}" for i in range(2)
    ]
    land("b1", batch1)
    stream_frontier_rounds(spark, seeds_dir, wd, policy)

    # second wave: 3 repeats of batch1 + 3 new
    batch2 = batch1[:3] + [f"https://b.example.com/p/{i}" for i in range(10, 13)]
    land("b2", batch2)
    stream_frontier_rounds(spark, seeds_dir, wd, policy)

    log = spark.read.parquet(f"{wd}/scheduled_log")
    # no URL scheduled twice across micro-batches
    assert log.count() == log.select("url_hash").distinct().count()
    # batch 2 scheduled only genuinely-new URLs
    b2 = log.filter(F.col("batch_id") > 0)
    assert all("p/1" in r.canon_url for r in b2.collect())
    # politeness: capacity respected per (batch, host)
    caps = log.groupBy("batch_id", "host").count().collect()
    assert all(r["count"] <= 3 for r in caps)
