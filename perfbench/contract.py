"""contract-leaves workload: a fixed set of ``bench.py`` HEADLINE leaves on
the sf0.01 tables, each run to the noop sink.

One operation is one leaf; one unit is a pass over all LEAVES in an order
permuted by the seed and the pass number. At this scale fixed per-query
and per-task costs (planning, Python-worker start, job scheduling, GC)
dominate, which is the regime of staged-frame release, the q184/q156
kernel and Python-worker start cost. Frontier and crawl code is barely
touched.

The whole 111-leaf HEADLINE list takes 2-3 minutes a pass on 4 cores, more
than one run may take, so LEAVES holds the fastest HEADLINE leaf of each
of the 12 contract modules (for ``monitor`` that is q193, one of the
three queries whose result hash is an open ROADMAP item). The seed
permutes their order; the tables are a copy of the deterministic sf0.01
test tables kept under ``data/``, so a run reads nothing outside the
repository.

Outputs are checked in the untimed warm pass: each leaf's
``tools/compare_oracle.table_digest`` must equal its DuckDB oracle's.
"""

from __future__ import annotations

import random
from pathlib import Path

from webscraping_video_pipeline_spark.contract import ORACLES, QUERIES, TABLES

DATA = Path(__file__).resolve().parent / "data" / "sf0.01"
LEAVES = (
    "q94_aimd_rate_control",
    "q82_revisit_scheduler",
    "q83_inverted_index",
    "q91_cdx_offset_index",
    "q116_bpe_pair_counts",
    "q193_partition_skew_audit",
    "q70_intradoc_chunk_dedup",
    "q08_best_line_per_order",
    "q189_crawl_trap_detection",
    "q67_multimodal_bmp_decode",
    "q20_dedup_exact",
    "q45_asof_last_click_before_purchase",
)


def module_of(leaf: str) -> str:
    return QUERIES[leaf].__module__.rsplit(".", 1)[1]


def oracle_mismatch(spark_cols, spark_rows, oracle_cols, oracle_rows) -> str | None:
    """Why a leaf's output differs from its oracle's, or None when row
    count, column names and ``table_digest`` all agree (the
    ``tools/compare_oracle.py`` rule)."""
    from tools.compare_oracle import table_digest

    if len(spark_rows) != len(oracle_rows):
        return f"rowcount {len(spark_rows)} vs {len(oracle_rows)}"
    if sorted(spark_cols) != sorted(c.lower() for c in oracle_cols) and sorted(
        spark_cols
    ) != sorted(oracle_cols):
        return f"columns {sorted(spark_cols)} vs {sorted(oracle_cols)}"
    if table_digest(spark_cols, spark_rows)[0] != table_digest(oracle_cols, oracle_rows)[0]:
        return "value digest mismatch"
    return None


class ContractLeaves:
    name = "contract-leaves"
    ops_per_unit = len(LEAVES)
    item = "leaves"

    def __init__(self, spark, seed: int, tracer, workdir, fail):
        self.spark, self.seed, self.tracer, self.fail = spark, seed, tracer, fail
        self.order = list(LEAVES)

    def setup(self) -> None:
        """Open every table and read it once (file listing, footers,
        schemas)."""
        for t in TABLES:
            self.spark.read.parquet(str(DATA / f"{t}.parquet")).count()

    def warm(self) -> int:
        """Untimed pass in seed order: each leaf collects its rows, which
        also warms its codegen, and is compared with its DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / t}.parquet'")
            self.start_unit(-1)
            for leaf in self.order:
                df = QUERIES[leaf](self.spark, str(DATA))
                rows = [tuple(r) for r in df.collect()]
                rel = con.sql(ORACLES[leaf])
                why = oracle_mismatch(df.columns, rows, rel.columns, rel.fetchall())
                if why:
                    self.fail(f"{leaf}: {why}")
        finally:
            con.close()
        return len(LEAVES)

    def start_unit(self, unit: int) -> None:
        self.order = list(LEAVES)
        random.Random(f"{self.seed}/{unit}").shuffle(self.order)

    def end_unit(self, unit: int) -> int:
        return 0

    def label(self, i: int) -> str:
        return self.order[i % len(LEAVES)]

    def op(self, i: int) -> int:
        leaf = self.order[i % len(LEAVES)]
        with self.tracer.span(leaf):
            QUERIES[leaf](self.spark, str(DATA)).write.format("noop").mode("overwrite").save()
        return 1

    def finish(self) -> None:
        pass

    def layers(self, tr, roots) -> dict:
        """Per-pass totals, averaged over the traced passes."""
        from .layers import CONTRACT_MODULES, python_nodes

        passes = max(1, len({tr.spans[r]["op"] // len(LEAVES) for r in roots}))
        leaves = [s for s in tr.spans if s["parent"] in set(roots)]
        ids = [s["id"] for s in leaves]
        out = {f"contract.{m}.s": 0.0 for m in CONTRACT_MODULES}
        for s in leaves:
            out[f"contract.{module_of(s['name'])}.s"] += (s["end"] - s["start"]) / passes
        py = python_nodes()
        out["contract.py_boot_s"] = (
            tr.operator_total(ids, "time to start Python workers", py)
            + tr.operator_total(ids, "time to initialize Python workers", py)
        ) / passes
        out["contract.py_run_s"] = tr.operator_total(ids, "time to run Python workers", py) / passes
        out["contract.shuffle_bytes"] = tr.operator_total(ids, "shuffle bytes written") / passes
        out["contract.spill_bytes"] = tr.operator_total(ids, "spill size") / passes
        out["contract.jobs"] = tr.execution_total(ids, "jobs") / passes
        return out
