"""Shared fixtures: one session-scoped SparkSession + small synthetic tables."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from webscraping_video_pipeline_spark import schemas, synth
from webscraping_video_pipeline_spark.session import get_spark

N_PAGES = 1200
N_SEEDS = 300
# local[N] and shuffle partitions; results must not depend on it
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=CPUS, shuffle_partitions=CPUS)
    yield s


@pytest.fixture(scope="session")
def pages(spark):
    return spark.createDataFrame(synth.gen_pages_pdf(N_PAGES), schema=schemas.PAGES).cache()


@pytest.fixture(scope="session")
def seeds(spark):
    return spark.createDataFrame(
        synth.gen_seeds_pdf(N_SEEDS, N_PAGES), schema=schemas.SEEDS
    ).cache()


@pytest.fixture(scope="session")
def host_policy(spark):
    return spark.createDataFrame(synth.gen_host_policy_pdf(N_PAGES), schema=schemas.HOST_POLICY)


@pytest.fixture(scope="session")
def robots_cache(spark):
    return spark.createDataFrame(synth.gen_robots_pdf(N_PAGES), schema=schemas.ROBOTS_CACHE)


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="wvp_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
