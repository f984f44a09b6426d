"""crawl-fetch workload: multi-round ``CrawlEngine.run`` on the default
``CrawlConfig`` (Bloom prefilter, outlink discovery on).

One operation is one ``run_round``; one unit is a fresh crawl of ROUNDS
rounds in a new work directory. Most of a round goes to fetch, extract,
catalog writes and commit, and to the ``dedup`` write side (Bloom delta
build + OR-merge, ``url_seen`` appends), so a dedup change that speeds the
probe but slows the incremental build shows up here.

Inputs are generated from the seed by this file: pages sized like real
pages (a few KB, long tail) each carrying a golden text built from its
plain-text parts, seeds (about 1 % point at missing pages), the synth host
pool's policy with a capacity that admits thousands of URLs per round, and
its robots cache.
"""

from __future__ import annotations

import hashlib
import html as _html
import json
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import webscraping_video_pipeline_spark.operators.dedup as dedup_mod
import webscraping_video_pipeline_spark.plans.crawl as crawl_mod
from webscraping_video_pipeline_spark import schemas, synth
from webscraping_video_pipeline_spark.operators.dedup import bloom_positive_hashes
from webscraping_video_pipeline_spark.plans.crawl import CrawlConfig, CrawlEngine

N_PAGES = 4_000
N_SEEDS = 2_000
ROUNDS = 2
CAPACITY = 300
BASE_TS = np.datetime64("2025-01-01T00:00:00", "us")
_WORDS = (
    "river delta canyon harbor meadow summit glacier lantern archive signal "
    "beacon vessel timber granite ember willow orbit prism quartz saffron "
    "tundra violet walnut yarrow zephyr anchor bramble cobalt dune falcon"
).split()


def _h(seed: int, *parts) -> int:
    key = "|".join(str(p) for p in (seed, *parts)).encode()
    return int.from_bytes(hashlib.md5(key).digest()[:8], "big") & 0x7FFFFFFFFFFFFFFF


def _host(seed: int, i: int) -> str:
    """The synth host pool (3 mega-hosts with ~36 % of pages, then small
    hosts), so synth's host policy and robots cache cover every page."""
    r = _h(seed, "host", i) % 100
    if r < 36:
        return synth.MEGA_HOSTS[0 if r < 18 else 1 if r < 30 else 2]
    return f"h{_h(seed, 'small', i) % synth.n_small_hosts(N_PAGES)}.example.org"


def page_url(seed: int, i: int) -> str:
    private = "private/" if _h(seed, "priv", i) % 33 == 0 else ""
    query = f"?a={_h(seed, 'qa', i) % 50}&b={_h(seed, 'qb', i) % 50}" if i % 7 == 0 else ""
    return f"https://{_host(seed, i)}/{private}p{_h(seed, 'path', i) % 10**6}/page-{i}.html{query}"


def page(seed: int, i: int) -> tuple[bytes, str]:
    """(html, golden text) of page i. The golden text is assembled from the
    plain-text parts, not by running the extractor. Body paragraphs follow
    a Pareto-like count (median ~4, tail to 120), so pages run from ~1 KB
    to tens of KB."""
    rng = np.random.default_rng([seed, i])

    def sentence(n_words: int) -> str:
        return " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n_words))

    esc = _html.escape
    title = f"T{i} {sentence(6)}"
    h1 = f"H{i} {sentence(5)}"
    lead = sentence(8)
    mode = rng.integers(0, 3)
    if mode == 0:
        lead += " fish & chips 'n peas <tag-not-a-tag>"
    elif mode == 1:
        lead += " naïve café — déjà-vu ★"
    n_paras = min(120, int(3 / (1.0 - rng.random()) ** 0.6))
    paras = [sentence(n) for n in rng.integers(30, 60, n_paras)]
    n_links = int(rng.integers(2, 6))
    links = [page_url(seed, int(j)) for j in rng.integers(0, N_PAGES, n_links)]
    anchors = [f"link {a}" for a in rng.integers(0, 100, n_links)]
    pad, comment, style = rng.random(3) < (0.25, 0.33, 0.25)
    pad = "  \n\t " if pad else ""
    comment = f"<!-- build {i} <p>not text</p> -->" if comment else ""
    style = "<style>p { color: #333; }</style>" if style else ""
    jsonld = json.dumps({"@type": "WebPage", "name": title, "id": i})
    doc = (
        f"<html><head><title>{esc(title)}</title>"
        f'<script type="application/ld+json">{jsonld}</script>{comment}{style}</head>'
        f"<body><h1>{pad}{esc(h1)}{pad}</h1><p>{pad}{esc(lead)}{pad}</p>"
        + "".join(f"<p>{p}</p>" for p in paras)
        + "<div>"
        + " ".join(f'<a href="{esc(u)}">{esc(a)}</a>' for u, a in zip(links, anchors))
        + f"</div><script>var x = {i}; document.write('<b>no</b>');</script></body></html>"
    )
    golden = "\n".join([title, h1, " ".join(lead.split()), *paras, " ".join(anchors)])
    return doc.encode("utf-8"), golden


def _pages_rows(seed: int, start: int, end: int) -> pd.DataFrame:
    built = [page(seed, i) for i in range(start, end)]
    return pd.DataFrame(
        {
            "url": pd.Series([page_url(seed, i) for i in range(start, end)], dtype="string"),
            "warc_ts": BASE_TS + np.arange(start, end) * np.timedelta64(13, "s"),
            "html": pd.Series([b[0] for b in built], dtype=object),
            "text": pd.Series([b[1] for b in built], dtype="string"),
            "lang": pd.Series([synth.LANGS[i % len(synth.LANGS)] for i in range(start, end)], dtype="string"),
        }
    )


def _seeds_rows(seed: int, start: int, end: int) -> pd.DataFrame:
    """Seed s points at page (3s + seed) mod N, spelled non-canonically one
    time in five; about 1 % point at pages that do not exist."""
    urls = []
    for s in range(start, end):
        if _h(seed, "miss", s) % 100 == 0:
            urls.append(f"https://missing.example.net/m/{s}.html")
            continue
        url = page_url(seed, (3 * s + seed) % N_PAGES)
        if s % 5 == 0:
            scheme, rest = url.split("://", 1)
            host, _, tail = rest.partition("/")
            url = f"{scheme.upper()}://{host.upper()}:443/{tail}#top"
        urls.append(url)
    return pd.DataFrame(
        {
            "url": pd.Series(urls, dtype="string"),
            "priority": [1.0 / (1 + _h(seed, "prio", u) % 1000) for u in urls],
            "source": pd.Series([synth.SOURCES[s % len(synth.SOURCES)] for s in range(start, end)], dtype="string"),
            "discovered_ts": BASE_TS + np.arange(start, end) * np.timedelta64(1, "s"),
        }
    )


def _generated(spark, n: int, rows, schema):
    def build(iterator):
        for pdf in iterator:
            ids = pdf["id"].to_numpy()
            if len(ids):
                yield rows(int(ids.min()), int(ids.max()) + 1)

    return spark.range(0, n, 1, spark.sparkContext.defaultParallelism).mapInPandas(build, schema=schema)


# ------------------------------------------------------------ output checks


def text_mismatches(extracted, pages) -> int:
    """Fetched pages whose extracted text is not byte-equal to the golden
    text (a missing page counts as a mismatch)."""
    golden = pages.select("canon_url", F.col("text").alias("_golden"))
    return (
        extracted.join(golden, "canon_url", "left")
        .filter(~F.col("extracted_text").eqNullSafe(F.col("_golden")))
        .count()
    )


def refetched(fetch_log) -> int:
    """url_hashes fetched more than once across rounds."""
    return (
        fetch_log.filter(F.col("status") == "fetched")
        .groupBy("url_hash")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )


def table_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------------------------ tracing


class _Probes:
    """Wraps the engine's lazy operator calls and its Catalog instance
    methods with spans. Traced, each lazy call's output is persisted and
    counted at the boundary (so its layer's work lands in its span) and
    unpersisted when the round ends; untraced, the wrappers pass through."""

    def __init__(self, tracer, n_shards: int):
        self.tr, self.n_shards = tracer, n_shards
        self.persisted = []
        self.saved = []

    def _patch(self, module, name, make):
        orig = getattr(module, name)
        self.saved.append((module, name, orig))
        setattr(module, name, make(orig))

    def _materialise(self, span, extra=None):
        def make(fn):
            def wrapped(*a, **kw):
                df = fn(*a, **kw)
                if not self.tr.enabled:
                    return df
                with self.tr.span(span) as c:
                    df = df.persist()
                    self.persisted.append(df)
                    if extra is None:
                        c["rows"] = df.count()
                    else:
                        c.update(extra(df))
                return df

            return wrapped

        return make

    def install(self) -> None:
        def fetch_counts(df):
            row = df.agg(
                F.count(F.lit(1)).alias("rows"),
                F.count(F.when(F.col("status") == "fetched", 1)).alias("fetched"),
            ).first()
            return {"rows": row["rows"], "fetched": row["fetched"]}

        def dedupe(fn):
            inner = self._materialise("dedup")(fn)

            def wrapped(candidates, url_seen, bloom_shards=None, **kw):
                out = inner(candidates, url_seen, bloom_shards, **kw)
                if self.tr.enabled and bloom_shards is not None:
                    with self.tr.span("dedup.positives") as c:
                        hashes = candidates.select("url_hash").distinct()
                        c["candidates"] = hashes.count()
                        c["positives"] = bloom_positive_hashes(
                            hashes, bloom_shards, n_shards=self.n_shards
                        ).count()
                return out

            return wrapped

        self._patch(crawl_mod, "canonicalize_candidates", self._materialise("urls"))
        self._patch(crawl_mod, "dedupe_against_seen", dedupe)
        self._patch(crawl_mod, "apply_robots", self._materialise("robots"))
        self._patch(crawl_mod, "schedule_round", self._materialise("schedule"))
        self._patch(crawl_mod, "fetch_join", self._materialise("fetch", fetch_counts))
        self._patch(crawl_mod, "build_bloom_shards", self._materialise("bloom_build"))
        self._patch(dedup_mod, "or_merge_bloom_shards", self._materialise("bloom_build"))

    def wrap_catalog(self, catalog) -> None:
        tr = self.tr

        def table_writer(fn):
            def wrapped(name, df, round_no):
                with tr.span(f"catalog.write.{name}"):
                    return fn(name, df, round_no)

            return wrapped

        def commit(fn):
            def wrapped(*a, **kw):
                with tr.span("catalog.commit"):
                    return fn(*a, **kw)

            return wrapped

        catalog.append_round = table_writer(catalog.append_round)
        catalog.write_snapshot = table_writer(catalog.write_snapshot)
        catalog.commit_round = commit(catalog.commit_round)

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist(True)
        self.persisted.clear()

    def uninstall(self) -> None:
        for module, name, orig in reversed(self.saved):
            setattr(module, name, orig)
        self.saved.clear()


# ----------------------------------------------------------------- workload


class CrawlFetch:
    name = "crawl-fetch"
    ops_per_unit = ROUNDS
    item = "pages fetched and extracted"

    def __init__(self, spark, seed: int, tracer, workdir, fail):
        self.spark, self.seed, self.tracer, self.fail = spark, seed, tracer, fail
        self.workdir = workdir / "crawl"
        self.cfg = CrawlConfig()
        self.inputs = None
        self.prepared = None
        self.engine = None
        self.reference = None
        self.probes = _Probes(tracer, self.cfg.n_shards)
        self.probes.install()

    # ------------------------------------------------------------- set-up
    def setup(self) -> None:
        """Generate and cache the inputs, then prepare the pages table (the
        engine's canonicalize + dedup + parquet write of pages)."""
        if self.inputs is not None:
            for df in self.inputs.values():
                df.unpersist(True)
        seed = self.seed
        pages = _generated(self.spark, N_PAGES, lambda a, b: _pages_rows(seed, a, b), schemas.PAGES)
        seeds = _generated(self.spark, N_SEEDS, lambda a, b: _seeds_rows(seed, a, b), schemas.SEEDS)
        policy = self.spark.createDataFrame(
            synth.gen_host_policy_pdf(N_PAGES), schema=schemas.HOST_POLICY
        ).withColumn("bucket_capacity", F.lit(CAPACITY))
        robots = self.spark.createDataFrame(synth.gen_robots_pdf(N_PAGES), schema=schemas.ROBOTS_CACHE)
        # pages are read once, by prepare_pages; the rest are read every round
        self.inputs = {"pages": pages, "seeds": seeds, "policy": policy, "robots": robots}
        for name in ("seeds", "policy", "robots"):
            self.inputs[name].cache().count()
        shutil.rmtree(self.workdir, ignore_errors=True)
        self.prepared = self._engine("setup", self.cfg, prepared=False)._ensure_prepared()

    def _engine(self, tag: str, cfg, prepared: bool = True) -> CrawlEngine:
        """A crawl in a new work directory that, with ``prepared``, already
        holds the pages set-up prepared (preparing them is set-up, not part
        of a round)."""
        i = self.inputs
        engine = CrawlEngine(
            self.spark, str(self.workdir / tag), i["pages"], i["seeds"], i["policy"], i["robots"], cfg
        )
        if prepared:
            shutil.copytree(self.workdir / "setup" / "_prepared_pages", engine._pages_path)
        return engine

    # ---------------------------------------------------- warm + reference
    def warm(self) -> int:
        """The use_bloom=False reference crawl of the same inputs. It is
        also the warm-up: every plan a timed round runs except the Bloom
        build / probe / merge has run once before timing starts."""
        from dataclasses import replace

        ref = self._engine("reference", replace(self.cfg, use_bloom=False))
        ref.run(ROUNDS)
        self.reference = {
            t: table_rows(ref.catalog.read_appended(t)) for t in ("fetch_log", "url_seen")
        }
        return 0

    def start_unit(self, unit: int) -> None:
        self.engine = self._engine(f"crawl-{unit}", self.cfg)
        self.probes.wrap_catalog(self.engine.catalog)

    def label(self, i: int) -> str:
        return f"crawl{i // ROUNDS}.round{i % ROUNDS}"

    def op(self, i: int) -> int:
        try:
            return self.engine.run_round(i % ROUNDS)["n_fetched"]
        finally:
            self.probes.release()

    def end_unit(self, unit: int) -> int:
        """Untimed output checks on the finished crawl; returns how many."""
        cat = self.engine.catalog
        fetch_log = cat.read_appended("fetch_log")
        n_bad = text_mismatches(cat.read_appended("extracted"), self.prepared)
        if n_bad:
            self.fail(f"crawl {unit}: {n_bad} extracted texts differ from golden")
        n_twice = refetched(fetch_log)
        if n_twice:
            self.fail(f"crawl {unit}: {n_twice} url_hashes fetched twice")
        for t in ("fetch_log", "url_seen"):
            if table_rows(cat.read_appended(t)) != self.reference[t]:
                self.fail(f"crawl {unit}: {t} differs from the use_bloom=False reference")
        return 4

    def finish(self) -> None:
        self.probes.uninstall()
        for df in (self.inputs or {}).values():
            df.unpersist(True)

    # -------------------------------------------------------- layer table
    def layers(self, tr, roots) -> dict:
        from .layers import CATALOG_TABLES, children, mean, python_nodes

        rounds = roots
        out = {}

        def per_round(fn):
            return mean(fn(r) for r in rounds)

        def spans(r, name):
            return children(tr, r, name)

        def dur(ids):
            return sum(tr.spans[s]["end"] - tr.spans[s]["start"] for s in ids)

        def counter(r, name, key):
            return sum(tr.spans[s]["counters"].get(key, 0) for s in spans(r, name))

        def under(r):
            return tr.descendants(r)

        canon, extract = python_nodes("canonicalize_url_udf"), python_nodes("extract_text_udf")
        out["urls.canon_s"] = per_round(lambda r: dur(spans(r, "urls")))
        out["urls.py_boot_s"] = per_round(
            lambda r: tr.operator_total(under(r), "time to start Python workers", canon)
            + tr.operator_total(under(r), "time to initialize Python workers", canon)
        )
        out["urls.py_run_s"] = per_round(lambda r: tr.operator_total(under(r), "time to run Python workers", canon))
        out["urls.arrow_bytes"] = per_round(
            lambda r: tr.operator_total(under(r), "data sent to Python workers", canon)
            + tr.operator_total(under(r), "data returned from Python workers", canon)
        )
        out["dedup.s"] = per_round(lambda r: dur(spans(r, "dedup")))
        out["dedup.probe_s"] = per_round(
            lambda r: tr.operator_total(spans(r, "dedup"), "time to run Python workers", python_nodes("probe"))
        )
        out["dedup.shuffle_bytes"] = per_round(lambda r: tr.operator_total(spans(r, "dedup"), "shuffle bytes written"))
        positives = sum(counter(r, "dedup.positives", "positives") for r in rounds)
        true_dups = sum(
            counter(r, "dedup.positives", "candidates") - counter(r, "dedup", "rows")
            for r in rounds
            if spans(r, "dedup.positives")
        )
        out["dedup.bloom_positives"] = positives / max(1, len(rounds))
        out["dedup.bloom_precision"] = true_dups / positives if positives else 0.0
        out["dedup.bloom_build_s"] = per_round(lambda r: dur(spans(r, "bloom_build")))
        out["robots.s"] = per_round(lambda r: dur(spans(r, "robots")))
        out["robots.dropped"] = per_round(lambda r: counter(r, "dedup", "rows") - counter(r, "robots", "rows"))
        out["schedule.s"] = per_round(lambda r: dur(spans(r, "schedule")))
        out["schedule.admitted"] = per_round(lambda r: counter(r, "schedule", "rows"))
        out["schedule.admit_ratio"] = per_round(
            lambda r: counter(r, "schedule", "rows") / max(1, counter(r, "robots", "rows"))
        )
        out["schedule.shuffle_bytes"] = per_round(
            lambda r: tr.operator_total(spans(r, "schedule"), "shuffle bytes written")
        )
        out["fetch.join_s"] = per_round(lambda r: dur(spans(r, "fetch")))
        out["fetch.hit_ratio"] = per_round(
            lambda r: counter(r, "fetch", "fetched") / max(1, counter(r, "fetch", "rows"))
        )
        out["extract.pages"] = per_round(lambda r: counter(r, "fetch", "fetched"))
        out["extract.py_run_s"] = per_round(
            lambda r: tr.operator_total(under(r), "time to run Python workers", extract)
        )
        out["extract.bytes_to_py"] = per_round(
            lambda r: tr.operator_total(under(r), "data sent to Python workers", extract)
        )
        writes = lambda r: [s for t in CATALOG_TABLES for s in spans(r, f"catalog.write.{t}")]  # noqa: E731
        for t in CATALOG_TABLES:
            out[f"catalog.write_s.{t}"] = per_round(lambda r, t=t: dur(spans(r, f"catalog.write.{t}")))
        out["catalog.commit_s"] = per_round(lambda r: dur(spans(r, "catalog.commit")))
        out["catalog.bytes_written"] = per_round(lambda r: tr.operator_total(writes(r), "written output"))
        out["catalog.files_written"] = per_round(lambda r: tr.operator_total(writes(r), "number of written files"))
        out["crawl.self_s"] = per_round(tr.self_time)
        out["crawl.jobs_per_round"] = per_round(lambda r: tr.execution_total(under(r), "jobs"))
        out["crawl.tasks_per_round"] = per_round(lambda r: tr.execution_total(under(r), "tasks"))
        return out
