from __future__ import annotations

import os

import pytest

from crawling_infrastructure_spark.session import get_spark
from crawling_infrastructure_spark.synth import gen_pages

N_PAGES, N_HOSTS = 300, 6


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    df = gen_pages(spark, N_PAGES, N_HOSTS).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def corpus_dict():
    """Pure-Python view of the same corpus for the oracle — built from the
    identical page_html(i) single source of truth, no Spark involved."""
    from crawling_infrastructure_spark.synth import _zipf_cdf, page_html

    cdf = _zipf_cdf(N_HOSTS)
    d = {}
    for i in range(N_PAGES):
        url, html, _lang = page_html(i, N_PAGES, N_HOSTS, cdf)
        d[url] = html
    return d
