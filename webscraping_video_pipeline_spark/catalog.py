"""Checkpointed table storage with atomic per-round commits (SURVEY.md §7.2).

Reference semantic preserved: the reference checkpoints a JSON ``batch_state``
(with the seen-set) after every batch and can ``resume_batch`` from it
(``processors/enhanced_batch_processor.py:94-143,318-340,740-764``). Here every
crawl round commits atomically:

1. each table for round k is written to a staging directory;
2. staged dirs are renamed into place (same-filesystem atomic rename);
3. a ``_MANIFEST.json`` recording ``last_round`` is swapped in via
   ``os.replace`` — the single commit point.

A restart reads the manifest and resumes at ``last_round + 1``; staged or
renamed-but-unmanifested data from a crashed round is invisible (reads are
manifest-gated) and is overwritten by the re-run, so crash-at-any-point
re-execution is idempotent — verified by ``tests/test_crawl_resume.py``.

Two table kinds:

- **snapshot** tables (``frontier``, ``bloom_shards``): each round writes a
  full new version under ``<name>/v=<round>``; reads resolve the latest
  committed version (Iceberg-snapshot analog). Both are O(live-frontier) /
  O(n_shards) sized — never O(all-URLs-ever-seen).
- **append** tables (``url_seen``, ``fetch_log``, ``extracted``,
  ``round_metrics``): each round appends a partition ``<name>/round=<k>``;
  reads union committed partitions. ``url_seen`` in particular grows by
  per-round deltas only — the 10^10-row standing set is never rewritten
  (Iceberg-append analog).

Every table is plain parquet under ``root`` — the only storage path. How
the same snapshot / append / manifest-commit model maps onto Iceberg tables
at cluster scale is in ``SCALE.md``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_MANIFEST = "_MANIFEST.json"


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------- manifest
    def _manifest_path(self) -> Path:
        return self.root / _MANIFEST

    def last_round(self) -> int:
        p = self._manifest_path()
        if not p.exists():
            return -1
        return int(json.loads(p.read_text()).get("last_round", -1))

    def manifest(self) -> dict:
        p = self._manifest_path()
        return json.loads(p.read_text()) if p.exists() else {"last_round": -1, "rounds": {}}

    def commit_round(self, round_no: int, meta: dict | None = None) -> None:
        """The single atomic commit point for round ``round_no``."""
        m = self.manifest()
        m["last_round"] = round_no
        m.setdefault("rounds", {})[str(round_no)] = {
            "committed_at": time.time(),
            **(meta or {}),
        }
        tmp = self._manifest_path().with_suffix(".tmp")
        tmp.write_text(json.dumps(m, indent=1))
        os.replace(tmp, self._manifest_path())

    # ------------------------------------------------------------- snapshot
    def write_snapshot(self, name: str, df: DataFrame, round_no: int) -> None:
        final = self.root / name / f"v={round_no}"
        staging = self.root / "_staging" / f"{name}-v{round_no}"
        if staging.exists():
            shutil.rmtree(staging)
        df.write.mode("overwrite").parquet(str(staging))
        if final.exists():  # re-run of an uncommitted round
            shutil.rmtree(final)
        final.parent.mkdir(parents=True, exist_ok=True)
        os.replace(staging, final)

    def read_snapshot(self, name: str, round_no: int | None = None) -> DataFrame | None:
        """Latest committed version at or before ``round_no`` (default: last)."""
        limit = self.last_round() if round_no is None else min(round_no, self.last_round())
        base = self.root / name
        if not base.exists() or limit < 0:
            return None
        versions = sorted(
            int(d.name.split("=", 1)[1])
            for d in base.iterdir()
            if d.name.startswith("v=")
        )
        versions = [v for v in versions if v <= limit]
        if not versions:
            return None
        return self.spark.read.parquet(str(base / f"v={versions[-1]}"))

    # --------------------------------------------------------------- append
    def append_round(self, name: str, df: DataFrame, round_no: int) -> None:
        final = self.root / name / f"round={round_no}"
        staging = self.root / "_staging" / f"{name}-r{round_no}"
        if staging.exists():
            shutil.rmtree(staging)
        df.write.mode("overwrite").parquet(str(staging))
        if final.exists():
            shutil.rmtree(final)
        final.parent.mkdir(parents=True, exist_ok=True)
        os.replace(staging, final)

    def read_appended(self, name: str, up_to_round: int | None = None) -> DataFrame | None:
        limit = self.last_round() if up_to_round is None else min(up_to_round, self.last_round())
        base = self.root / name
        if not base.exists() or limit < 0:
            return None
        parts = [
            str(d)
            for d in base.iterdir()
            if d.name.startswith("round=") and int(d.name.split("=", 1)[1]) <= limit
        ]
        if not parts:
            return None
        return self.spark.read.parquet(*parts)


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str = "canon_url", buckets: int = 16
) -> None:
    """Materialize a big standing table bucketed on its join key — the
    SCALE.md §1 layout (`pages` = `bucket(N, url)`), realized with Spark's
    native bucketing when no Iceberg runtime is present.

    At 10^10 rows the pages table must NEVER re-shuffle for the per-round
    fetch join; bucketing pre-hashes it into `buckets` files per partition
    so the join plans an Exchange only on the (small) scheduled side —
    asserted by ``tests/test_bucketed_join.py`` against the executed plan.
    On a real cluster choose buckets ~ total cores (and on Iceberg use a
    `bucket(N, url)` partition transform for the same effect).
    """
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )
