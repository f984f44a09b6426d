"""Per-batch commit markers for the foreachBatch sinks.

Every streaming sink in this package is batch_id-partitioned with
dynamic-partition overwrite (``write_batch``), so an at-least-once replay
of a batch can safely rewrite its own partitions. The replay GUARD,
however, must not mistake a *partial* partition (crash mid job-commit:
some task files renamed, some not) for a committed one — "directory
exists and is non-empty" is not commitment. These helpers implement the
discipline:

- the batch's designated marker partition gets an explicit ``_COMMITTED``
  file written AFTER every sink of the batch has finished (underscore
  prefix = invisible to Spark's parquet reader);
- a replayed batch whose marker is absent first SCRUBS all of its own
  partitions (removing any partial files a crash left behind — a partial
  marker partition would otherwise poison the state reads that feed the
  recomputation), then recomputes and rewrites them.

Crash windows: before any write → scrub is a no-op; between writes or
mid-commit → scrub removes partials, batch recomputes identically (the
state reads exclude this batch's partitions once scrubbed); between the
last write and the marker → same; after the marker → replay skips. In
every window the net effect equals exactly-once.

Reference parity: the reference's resume path trusts a JSON state file
written whole (enhanced_batch_processor.py:126-143); at cluster scale the
state is many files per batch, so commitment needs its own marker.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MARKER = "_COMMITTED"


def batch_committed(marker_part: str) -> bool:
    """True iff the batch that owns ``marker_part`` fully committed."""
    return os.path.isfile(os.path.join(marker_part, _MARKER))


def scrub_partial(*parts: str) -> None:
    """Remove any partial partition dirs a crashed attempt left behind.

    Call with EVERY partition the batch writes (all sinks), before
    recomputing: dynamic overwrite replaces whole partitions, but only
    for partitions present in the new data — a stale partial from a
    code path that now emits zero rows would otherwise linger.
    """
    for p in parts:
        shutil.rmtree(p, ignore_errors=True)


def mark_committed(marker_part: str) -> None:
    """Drop the commit marker; call strictly AFTER the batch's last write.

    Creates the dir if the final sink emitted zero rows for the batch
    (dynamic overwrite writes nothing then) — the zero-row batch is
    still committed and must be skipped on replay, not re-run forever.
    """
    os.makedirs(marker_part, exist_ok=True)
    with open(os.path.join(marker_part, _MARKER), "w", encoding="utf-8") as fh:
        fh.write("")


def write_batch(df: DataFrame, base: str, batch_id: int) -> None:
    """Write ``df`` as the ``batch_id=<batch_id>`` partition of ``base``.

    Dynamic-partition overwrite: a replayed batch rewrites its own
    partition instead of appending duplicates, and leaves every other
    batch's partition alone.
    """
    (
        df.withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(base)
    )
