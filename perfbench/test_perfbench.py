"""Self-tests for the benchmark's own logic: the tail-percentile rule, metric
parsing, span self time, the page generator's golden texts, that each
output check fails on a deliberately corrupted output, and that shutdown
leaves no process behind.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.common import Tracer, parse_metric, tail_percentile  # noqa: E402


# ---------------------------------------------------------- percentile rule


def test_tail_percentile_111_samples_is_p90_with_11_above():
    xs = [float(i) for i in range(111)]
    p, v = tail_percentile(xs)
    assert p == 90
    assert sum(1 for x in xs if x > v) == 11


def test_tail_percentile_is_the_highest_with_ten_above():
    for n in (20, 37, 64, 111, 500):
        xs = [float(i) for i in range(n)]
        p, v = tail_percentile(xs)
        assert sum(1 for x in xs if x > v) >= 10
        if p < 99:  # the next percentile up leaves fewer than ten above
            nxt = xs[max(1, -(-(p + 1) * n // 100)) - 1]
            assert sum(1 for x in xs if x > nxt) < 10


def test_tail_percentile_needs_enough_samples():
    assert tail_percentile([1.0] * 19) is None
    assert tail_percentile([float(i) for i in range(19)]) is None
    assert tail_percentile([float(i) for i in range(20)])[0] == 50


def test_tail_percentile_counts_ties_as_not_above():
    # only 9 samples exceed the tied value 1.0, so no percentile qualifies
    assert tail_percentile([1.0] * 100 + [2.0] * 9) is None
    assert tail_percentile([1.0] * 100 + [2.0] * 10) == (90, 1.0)


# ------------------------------------------------------------ metric parsing


@pytest.mark.parametrize(
    "text,value",
    [
        ("12,345", 12345.0),
        ("2.7 MiB", 2.7 * 1024**2),
        ("24 ms", 0.024),
        ("total (min, med, max (stageId: taskId))\n13.2 s (3.1 s, 3.3 s, 3.6 s (stage 0.0: task 0))", 13.2),
        ("total (min, med, max (stageId: taskId))\n81.3 KiB (20.3 KiB, 20.3 KiB, 20.3 KiB (stage 0.0: task 1))", 81.3 * 1024),
        ("total (min, med, max (stageId: taskId))\n1.5 m (1 ms, 2 ms, 3 ms (stage 0.0: task 1))", 90.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


# ---------------------------------------------------------------- self time


def test_self_time_subtracts_the_union_of_child_spans():
    tr = Tracer.__new__(Tracer)
    tr.spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 7.0, "end": 8.0},
        {"id": 4, "parent": 3, "start": 7.2, "end": 7.8},  # grandchild: not subtracted from 0
    ]
    assert tr.self_time(0) == pytest.approx(10.0 - 4.0 - 1.0)
    assert tr.self_time(3) == pytest.approx(1.0 - 0.6)


# ------------------------------------------------------------ page generator


def test_generated_golden_text_is_what_the_extractor_returns():
    from perfbench.crawl import page
    from webscraping_video_pipeline_spark.functions.extract import extract_text

    sizes = []
    for i in range(200):
        html, golden = page(7, i)
        assert extract_text(html) == golden
        sizes.append(len(html))
    sizes.sort()
    assert 1500 < sizes[len(sizes) // 2] < 6000  # a few KB ...
    assert sizes[-1] > 4 * sizes[len(sizes) // 2]  # ... with a long tail


def test_inputs_follow_the_seed():
    from perfbench.crawl import page, page_url

    assert page(3, 5) == page(3, 5)
    assert page(3, 5) != page(4, 5)
    assert page_url(3, 5) != page_url(4, 5)


# --------------------------------------------------- checks on bad outputs


def test_oracle_check_fails_on_one_altered_leaf_row():
    from perfbench.contract import oracle_mismatch

    cols = ["host", "n"]
    rows = [("a.example", 1), ("b.example", 2), ("c.example", 3)]
    assert oracle_mismatch(cols, rows, ["HOST", "N"], list(reversed(rows))) is None
    altered = [rows[0], ("b.example", 20), rows[2]]
    assert oracle_mismatch(cols, altered, cols, rows) == "value digest mismatch"
    assert oracle_mismatch(cols, rows[:2], cols, rows).startswith("rowcount")
    assert oracle_mismatch(["host", "m"], rows, cols, rows).startswith("columns")


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from webscraping_video_pipeline_spark.session import get_spark

    yield get_spark(app_name="perfbench-selftest", cpus=1)
    from perfbench.common import stop_spark

    stop_spark()


def test_text_check_fails_on_one_altered_extracted_text(spark):
    from perfbench.crawl import text_mismatches

    pages = spark.createDataFrame(
        [("https://a/1", "one\ntext"), ("https://a/2", "two"), ("https://a/3", "three")],
        "canon_url string, text string",
    )
    good = spark.createDataFrame(
        [("https://a/1", "one\ntext"), ("https://a/2", "two")],
        "canon_url string, extracted_text string",
    )
    bad = spark.createDataFrame(
        [("https://a/1", "one text"), ("https://a/2", "two")],
        "canon_url string, extracted_text string",
    )
    assert text_mismatches(good, pages) == 0
    assert text_mismatches(bad, pages) == 1


def test_refetch_check_fails_when_a_hash_is_fetched_twice(spark):
    from perfbench.crawl import refetched

    schema = "round int, url_hash long, status string"
    once = spark.createDataFrame([(0, 1, "fetched"), (0, 2, "miss"), (1, 2, "fetched")], schema)
    twice = spark.createDataFrame([(0, 1, "fetched"), (1, 1, "fetched")], schema)
    assert refetched(once) == 0
    assert refetched(twice) == 1


# ----------------------------------------------------------------- shutdown


def test_descendants_lists_a_child_until_it_ends():
    from perfbench.common import descendants

    child = subprocess.Popen(["sleep", "30"])
    try:
        assert child.pid in descendants(os.getpid())
    finally:
        child.kill()
        child.wait()
    assert child.pid not in descendants(os.getpid())


def test_stop_spark_leaves_no_process_behind():
    """In a fresh interpreter: after a job has started the JVM and Python
    workers, stop_spark returns only once every process under it is gone."""
    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {str(ROOT)!r})
        os.environ["SPARK_DRIVER_MEMORY"] = "1g"
        from perfbench.common import descendants, stop_spark
        from webscraping_video_pipeline_spark.session import get_spark
        spark = get_spark(app_name="perfbench-stop", cpus=1)
        spark.range(4).rdd.map(lambda x: x).count()  # starts a Python worker
        assert descendants(os.getpid()), "the JVM should be running"
        stop_spark()
        left = descendants(os.getpid())
        assert not left, left
        print("ok")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=170
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().endswith("ok")
