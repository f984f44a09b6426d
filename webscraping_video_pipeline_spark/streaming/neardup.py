"""Streaming NEAR-duplicate document filter: online MinHash-LSH dedup of
arriving micro-batches against the accumulated kept-document state — the
streaming twin of the batch q50 pipeline's candidate+verify stages, with
the greedy first-wins survivor rule every at-ingestion dedup uses.

Reference semantic: the reference dedupes incoming results against
accumulated storage state as they arrive (existence checks inside the
scraper loop, /root/reference/processors/enhanced_batch_processor.py:
515-519); this operator extends that seen-set from exact identity to
NEAR-dup identity without changing the arrival-order discipline.

Semantics (greedy, order-defined, batch-split invariant): a document is
DROPPED iff some KEPT document with a lower doc_id — from an earlier
batch or earlier in this one — is a verified near-dup of it (shared
MinHash band bucket AND hashed-word Jaccard >= 0.7). Dropped documents
never drop others (they are not in the kept set), so a chain a~b~c with
a<b<c keeps a AND c — by design different from batch q50's connected
components (which would keep only a): first-wins is what an online
pipeline can actually decide at arrival time, and it is stable under
re-batching (tests pin 1-file == 3-file splits).

State shape (the 10^10-doc story): per KEPT document the state stores
only (a) its 4 band signatures — 8-hex-char strings, the same md5
trigram-minhash family as q25 — and (b) its distinct-word xxhash64
array for the Jaccard verdict; never document text. Both tables are
batch_id-partitioned, written after the cleaned output with the
word-hash table LAST as the commit marker (the crawl frontier's
at-least-once replay discipline). The band join is the same bucketed
shape as q25 (capped in-batch via operators/lsh.py); verification runs
only on band-collision candidates; the greedy resolution loop touches
only edge-incident docs and runs O(chain depth) rounds (near-dup chains
are tiny). Word-hash Jaccard vs word-string Jaccard trades a ~n^2/2^65
collision bound for an 8-byte/word state row, the same documented trade
as the chunk-seen state (streaming/corpus.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.lsh import MINHASH_BUCKET_CAP, cap_buckets
from .commit import batch_committed, mark_committed, scrub_partial, write_batch
from .micro_batch import _has_batches

JACCARD_THRESHOLD = 0.7


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) — q25's banding: md5 over word trigrams, four
    disjoint 8-hex-char slices, min per band (contract/text.py q25)."""
    dw = docs.select("doc_id", "text", F.split(F.col("text"), " ").alias("ws"))
    words = F.col("ws")
    n_sh = F.greatest(F.size(words) - 2, F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.concat_ws(
            " ",
            F.element_at(words, i),
            F.element_at(words, i + 1),
            F.element_at(words, i + 2),
        ),
    )
    shingles = F.when(F.size(words) >= 3, shingles).otherwise(F.array(F.col("text")))
    sh = dw.select("doc_id", F.transform(shingles, lambda s: F.md5(s)).alias("hs"))

    def band_slice(b: int):
        off = 1 + 8 * b
        return lambda h: F.substring(h, off, 8)

    return sh.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.array_min(F.transform(F.col("hs"), band_slice(b)))
                    for b in range(4)
                ]
            )
        ).alias("band", "sig"),
    )


def word_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, wh) — sorted distinct xxhash64 per word: the skinny state
    row the Jaccard verdict runs on (8 B/word, never text)."""
    return docs.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.transform(F.split(F.col("text"), " "), lambda w: F.xxhash64(w))
            )
        ).alias("wh"),
    )


def _jaccard_ok(a: str, b: str) -> F.Column:
    inter = F.size(F.array_intersect(F.col(a), F.col(b))).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return inter / union >= JACCARD_THRESHOLD


def _greedy_resolve(
    spark: SparkSession, docs: DataFrame, dropped0: DataFrame, edges: DataFrame
) -> DataFrame:
    """Greedy first-wins over in-batch verified edges (lo < hi): a doc is
    dropped iff some KEPT lower neighbor exists. Each round resolves at
    least the minimum unresolved id (its lower neighbors are all already
    resolved), so rounds <= chain depth. Only edge-incident docs enter
    the loop; everything else is kept immediately. Returns kept doc_ids."""
    edges = edges.localCheckpoint(eager=True)
    # only docs with an INCOMING edge (appearing as hi) need resolution: a
    # doc with no lower near-dup neighbor is kept outright (unless already
    # dropped by the state screen)
    incident = edges.select(F.col("hi").alias("doc_id")).distinct()
    # status: 1 kept, 0 dropped, null unknown
    st = (
        docs.select("doc_id")
        .join(dropped0.withColumn("_d", F.lit(True)), "doc_id", "left")
        .join(incident.withColumn("_i", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_d").isNotNull(), F.lit(0))
            .when(F.col("_i").isNull(), F.lit(1))
            .alias("status"),
        )
        .localCheckpoint(eager=True)
    )
    while True:
        unknown = st.filter(F.col("status").isNull())
        if unknown.isEmpty():
            return st.filter(F.col("status") == 1).select("doc_id")
        # per unknown doc: any KEPT lower neighbor -> dropped;
        # all lower neighbors resolved-dropped (or none) -> kept
        lo_st = st.select(F.col("doc_id").alias("lo"), F.col("status").alias("lo_st"))
        nbr = (
            unknown.select("doc_id")
            .join(edges.withColumnRenamed("hi", "doc_id"), "doc_id")
            .join(lo_st, "lo")
            .groupBy("doc_id")
            .agg(
                F.max((F.coalesce(F.col("lo_st"), F.lit(-1)) == 1).cast("int")).alias("any_kept"),
                F.min((F.coalesce(F.col("lo_st"), F.lit(-1)) == 0).cast("int")).alias("all_dropped"),
            )
        )
        resolved = nbr.select(
            "doc_id",
            F.when(F.col("any_kept") == 1, F.lit(0))
            .when(F.col("all_dropped") == 1, F.lit(1))
            .alias("new_status"),
        ).filter(F.col("new_status").isNotNull())
        # docs with no in-batch edges at all were already kept above;
        # unknown docs absent from nbr have only unresolved neighbors
        st = (
            st.join(resolved, "doc_id", "left")
            .select(
                "doc_id", F.coalesce(F.col("status"), F.col("new_status")).alias("status")
            )
            .localCheckpoint(eager=True)
        )


def stream_neardup_dedup(spark: SparkSession, docs_dir: str, workdir: str) -> None:
    """Drain all available document files (trigger availableNow); each
    micro-batch drops arrivals that are verified near-dups of the kept
    state or of a lower-id kept doc in the same batch, appends survivors
    to ``kept_docs``, then appends the survivors' band signatures and
    word hashes to the state (an explicit ``_COMMITTED`` marker lands in
    the word-hash partition after ALL three writes — commit.py — so an
    at-least-once replay of a half-committed batch scrubs and rewrites
    all three partitions instead of double-counting)."""
    bands_dir = f"{workdir}/state_bands"
    wh_dir = f"{workdir}/state_wordhashes"
    out_dir = f"{workdir}/kept_docs"

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        marker = f"{wh_dir}/batch_id={bid}"
        if batch_committed(marker):
            return  # fully committed already (at-least-once replay)
        scrub_partial(
            marker, f"{out_dir}/batch_id={bid}", f"{bands_dir}/batch_id={bid}"
        )
        docs = batch_df.select("doc_id", "text").localCheckpoint(eager=True)
        bands = cap_buckets(
            minhash_bands(docs), ["band", "sig"], MINHASH_BUCKET_CAP
        ).localCheckpoint(eager=True)
        wh = word_hashes(docs).localCheckpoint(eager=True)

        # 1) candidates vs the kept state (band-bucket join, then verify)
        if _has_batches(wh_dir):
            st_bands = spark.read.parquet(bands_dir)
            st_wh = spark.read.parquet(wh_dir).select(
                F.col("doc_id").alias("st_id"), F.col("wh").alias("st_wh")
            )
            cand_state = (
                bands.join(
                    st_bands.select(
                        "band", "sig", F.col("doc_id").alias("st_id")
                    ),
                    ["band", "sig"],
                )
                .select("doc_id", "st_id")
                .distinct()
            )
            dropped0 = (
                cand_state.join(wh, "doc_id")
                .join(st_wh, "st_id")
                .filter(_jaccard_ok("wh", "st_wh"))
                .select("doc_id")
                .distinct()
            )
        else:
            dropped0 = spark.createDataFrame([], "doc_id long")

        # 2) in-batch verified edges (lo < hi), then greedy first-wins
        a, b = bands.alias("a"), bands.alias("b")
        cand_in = (
            a.join(b, ["band", "sig"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("lo"), F.col("b.doc_id").alias("hi")
            )
            .distinct()
        )
        edges = (
            cand_in.join(wh.select(F.col("doc_id").alias("lo"), F.col("wh").alias("wh_lo")), "lo")
            .join(wh.select(F.col("doc_id").alias("hi"), F.col("wh").alias("wh_hi")), "hi")
            .filter(_jaccard_ok("wh_lo", "wh_hi"))
            .select("lo", "hi")
        )
        kept = _greedy_resolve(spark, docs, dropped0, edges)

        write_batch(docs.join(kept, "doc_id"), out_dir, bid)
        write_batch(bands.join(kept, "doc_id"), bands_dir, bid)
        # word-hash delta last, then the marker
        write_batch(wh.join(kept, "doc_id"), wh_dir, bid)
        mark_committed(marker)

    from ..schemas import DOCUMENTS

    stream = spark.readStream.schema(DOCUMENTS).parquet(docs_dir)
    q = (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", f"{workdir}/ckpt_neardup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
