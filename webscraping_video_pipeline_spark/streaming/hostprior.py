"""Streaming twin of contract q159 (host-prior quality gate): documents
arrive as parquet micro-batches and the per-host gate counters
accumulate batch over batch, so the curation layer can ask "which hosts
are trusted?" at any point without rescanning the corpus.

This is the SIMPLEST state discipline of the twin family — the gate
verdict is per-row and the shrinkage inputs are pure SUMS, so the
standing state is append-only per-batch DELTA rows (host, d_docs,
d_keeps) with no cross-batch boundary carry at all (unlike
``streaming/revisit.py``'s lag state): counters are order-independent,
so stream ≡ batch holds for ANY file landing order, not just
timestamp order. Partitioned by ``batch_id`` with the
``streaming/commit.py`` marker discipline: an at-least-once replay of a
half-committed batch scrubs and rewrites its own partition instead of
double-counting.

The trust table is a rollup over the delta partitions (O(hosts) rows)
applying q159's exact empirical-Bayes shrinkage arithmetic — BIGINT
permille throughout, so the streaming verdicts are bit-identical to the
batch query's (``tests/test_streaming_hostprior.py`` pins stream ≡
batch, out-of-order equivalence, and replay idempotence).

Reference semantic: the reference trusts a hand-curated source list for
the lifetime of the run (/root/reference/config.py:15-72); this is that
trust decision kept CURRENT as documents stream in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..contract.quality import _EB_HOSTS, _EB_M
from .commit import batch_committed, mark_committed, scrub_partial, write_batch

# Mirrors the driver testdata `documents` table.
DOCS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def _batch_delta(batch_df: DataFrame) -> DataFrame:
    """Per-host gate counters for one micro-batch — q159's exact gate
    (>= 30 words and >= 2% stopwords, integer 50*stop_n >= nw)."""
    d = batch_df.select(
        (F.col("doc_id") % _EB_HOSTS).alias("host"),
        F.size(F.split("text", " ")).alias("nw"),
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), " "),
                lambda x: x.isin("the", "a"),
            )
        ).alias("stop_n"),
    )
    return d.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("d_docs"),
        F.sum(
            F.when((F.col("nw") >= 30) & (50 * F.col("stop_n") >= F.col("nw")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("d_keeps"),
    )


def stream_host_prior(spark: SparkSession, docs_dir: str, workdir: str) -> None:
    """Drain all available document files (trigger availableNow), each
    micro-batch appending its per-host delta partition. Restartable and
    idempotent: a replayed batch rewrites its own batch_id partition."""
    state_dir = f"{workdir}/hostprior_state"

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


def host_trust(spark: SparkSession, workdir: str) -> DataFrame:
    """The trust table from the accumulated state — q159's exact output
    shape and shrinkage formula, computed from O(hosts) delta rows."""
    s = spark.read.parquet(f"{workdir}/hostprior_state")
    h = (
        s.groupBy("host")
        .agg(
            F.sum("d_docs").cast("long").alias("n_docs"),
            F.sum("d_keeps").cast("long").alias("n_keep"),
        )
        .localCheckpoint(eager=False)
    )
    g = h.agg(
        F.sum("n_docs").cast("long").alias("nn"),
        F.sum("n_keep").cast("long").alias("kk"),
    )
    shrunk = F.expr(
        f"(1000 * (n_keep * nn + {_EB_M} * kk)) div (nn * (n_docs + {_EB_M}))"
    )
    return h.crossJoin(F.broadcast(g)).select(
        "host",
        "n_docs",
        "n_keep",
        F.expr("(1000 * n_keep) div n_docs").alias("raw_permille"),
        shrunk.alias("shrunk_permille"),
        (shrunk >= F.expr("(1000 * kk) div nn")).alias("trusted"),
    )
