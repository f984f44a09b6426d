"""Streaming twin of contract q197 (Poisson-bootstrap CI): documents
arrive as parquet micro-batches and the 40 replicate accumulators grow
batch over batch, so the quality dashboard's ERROR BARS stay current as
data lands — the streaming property the Poisson bootstrap was invented
for (Chamandy et al. 2012: per-row deterministic weights make the
resample additive, so a stream can maintain all replicates in one pass).

State discipline: pure additive counters — each batch appends one delta
row PER REPLICATE (r, d_w_total, d_w_kept, d_docs, d_keeps): exactly
{R} + 0 rows per batch regardless of batch size, pre-aggregated
map-side. Weights depend only on (replicate, doc_id) — never on batch
boundaries — so stream ≡ batch holds for ANY file landing order,
bit-identically (q197's integer arithmetic throughout). Partitioned by
``batch_id`` with the ``streaming/commit.py`` marker discipline: replays
of a half-committed batch scrub and rewrite their own partition
(``tests/test_streaming_bootstrap.py`` pins stream ≡ batch, out-of-order
equivalence, and replay idempotence).

Reference semantic: the reference's progress metrics are running counts
(parallel_scraper_manager.py); a measurement layer keeps running error
bars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..contract.quality import _BOOT_MIN_WORDS, _BOOT_R, _BOOT_W_SQL
from .commit import batch_committed, mark_committed, scrub_partial, write_batch
from .hostprior import DOCS


def _batch_delta(batch_df: DataFrame) -> DataFrame:
    """Per-replicate weight accumulators for one micro-batch — q197's
    exact weight law (20-bit md5 uniform -> fixed-point Poisson(1))."""
    d = batch_df.select(
        "doc_id",
        F.when(F.size(F.split("text", " ")) >= _BOOT_MIN_WORDS, 1)
        .otherwise(0)
        .alias("keep"),
    )
    x = d.select(
        "doc_id",
        "keep",
        F.explode(F.array(*[F.lit(r) for r in range(_BOOT_R)])).alias("r"),
    ).withColumn(
        "u",
        F.expr(
            "cast(conv(substr(md5(concat(cast(r as string), ':',"
            " cast(doc_id as string))), 1, 5), 16, 10) as long)"
        ),
    )
    w = x.withColumn("w", F.expr(_BOOT_W_SQL))
    return w.groupBy("r").agg(
        F.sum("w").cast("long").alias("d_w_total"),
        F.sum(F.col("w") * F.col("keep")).cast("long").alias("d_w_kept"),
        F.count(F.lit(1)).cast("long").alias("d_docs"),
        F.sum("keep").cast("long").alias("d_keeps"),
    )


def stream_bootstrap(spark: SparkSession, docs_dir: str, workdir: str) -> None:
    """Drain all available document files (trigger availableNow), each
    micro-batch appending its per-replicate delta partition. Restartable
    and idempotent: a replayed batch rewrites its own batch_id
    partition."""
    state_dir = f"{workdir}/bootstrap_state"

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        part = f"{state_dir}/batch_id={bid}"
        if batch_committed(part):
            return  # fully committed already (at-least-once replay)
        scrub_partial(part)
        write_batch(_batch_delta(batch_df), state_dir, bid)
        mark_committed(part)

    q = (
        spark.readStream.schema(DOCS)
        .parquet(docs_dir)
        .writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", f"{workdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def bootstrap_ci(spark: SparkSession, workdir: str) -> DataFrame:
    """The CI table from the accumulated state — q197's exact output
    shape and rank arithmetic, computed from O(replicates x batches)
    delta rows."""
    s = spark.read.parquet(f"{workdir}/bootstrap_state")
    rep = (
        s.groupBy("r")
        .agg(
            F.sum("d_w_total").cast("long").alias("w_total"),
            F.sum("d_w_kept").cast("long").alias("w_kept"),
        )
        .withColumn("m", F.expr("(1000 * w_kept) div w_total"))
        .localCheckpoint(eager=False)
    )
    lo = rep.select(F.col("r").alias("br"), F.col("m").alias("bm"))
    rk = (
        rep.join(
            F.broadcast(lo),
            (F.col("bm") < F.col("m"))
            | ((F.col("bm") == F.col("m")) & (F.col("br") < F.col("r"))),
            "left",
        )
        .groupBy("r", "m")
        .agg((F.count("br") + 1).cast("long").alias("rk"))
    )
    pt = s.groupBy().agg(
        F.expr(
            f"(1000 * cast(sum(d_keeps) as bigint))"
            f" div (cast(sum(d_docs) as bigint))"
        ).alias("point_permille")
    )
    summ = rep.agg(
        F.expr(f"cast(sum(m) as bigint) div {_BOOT_R}").alias(
            "mean_replicate_permille"
        )
    )
    ci_lo = rk.filter(F.col("rk") == 1).select(F.col("m").alias("ci_low_permille"))
    ci_hi = rk.filter(F.col("rk") == _BOOT_R - 1).select(
        F.col("m").alias("ci_high_permille")
    )
    return (
        pt.crossJoin(F.broadcast(summ))
        .crossJoin(F.broadcast(ci_lo))
        .crossJoin(F.broadcast(ci_hi))
        .select(
            "point_permille",
            F.lit(_BOOT_R).cast("long").alias("n_replicates"),
            "mean_replicate_permille",
            "ci_low_permille",
            "ci_high_permille",
            (F.col("ci_high_permille") - F.col("ci_low_permille")).alias(
                "ci_width_permille"
            ),
        )
    )
