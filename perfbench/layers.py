"""Helpers that turn traced spans and harvested operator metrics into the
per-layer table, plus the full list of per-layer metric names (a workload
reports 0 for a layer it does not exercise)."""

from __future__ import annotations

CATALOG_TABLES = ("fetch_log", "extracted", "url_seen", "bloom_shards", "frontier", "round_metrics")
CONTRACT_MODULES = (
    "crawl_ops", "graph", "index", "ingest", "lm", "monitor",
    "quality", "relational", "resolve", "similarity", "text", "windows",
)

# name -> unit, in table order
PER_LAYER = {
    "urls.canon_s": "s",
    "urls.py_boot_s": "s",
    "urls.py_run_s": "s",
    "urls.arrow_bytes": "B",
    "dedup.s": "s",
    "dedup.probe_s": "s",
    "dedup.shuffle_bytes": "B",
    "dedup.bloom_positives": "count",
    "dedup.bloom_precision": "ratio",
    "dedup.bloom_build_s": "s",
    "robots.s": "s",
    "robots.dropped": "count",
    "schedule.s": "s",
    "schedule.admitted": "count",
    "schedule.admit_ratio": "ratio",
    "schedule.shuffle_bytes": "B",
    "fetch.join_s": "s",
    "fetch.hit_ratio": "ratio",
    "extract.pages": "count",
    "extract.py_run_s": "s",
    "extract.bytes_to_py": "B",
    **{f"catalog.write_s.{t}": "s" for t in CATALOG_TABLES},
    "catalog.commit_s": "s",
    "catalog.bytes_written": "B",
    "catalog.files_written": "count",
    "crawl.self_s": "s",
    "crawl.jobs_per_round": "count",
    "crawl.tasks_per_round": "count",
    **{f"contract.{m}.s": "s" for m in CONTRACT_MODULES},
    "contract.py_boot_s": "s",
    "contract.py_run_s": "s",
    "contract.shuffle_bytes": "B",
    "contract.spill_bytes": "B",
    "contract.jobs": "count",
    "jvm.start_s": "s",
    "proc.peak_rss_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.gc_count": "count",
    "jvm.leaked_rdds": "count",
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def child(tr, parent: int, name: str) -> int:
    """Id of the first direct child span of ``parent`` called ``name``."""
    for s in tr.spans:
        if s["parent"] == parent and s["name"] == name:
            return s["id"]
    raise KeyError(f"span {parent} has no child {name!r}")


def children(tr, parent: int, name: str) -> list[int]:
    return [s["id"] for s in tr.spans if s["parent"] == parent and s["name"] == name]


def python_nodes(fn_name: str | None = None):
    """Plan-node filter: Python-evaluating operators, optionally only those
    whose plan text names the UDF ``fn_name``."""

    def keep(node) -> bool:
        if "Python" not in node["name"] and "Pandas" not in node["name"]:
            return False
        return fn_name is None or f"{fn_name}(" in node["desc"]

    return keep
