import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webcrawlergo_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cpus=min(8, len(os.sched_getaffinity(0))), shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def web():
    from webcrawlergo_spark.sources.synthweb import generate_web

    return generate_web(n_pages=60, seed=42)


@pytest.fixture(scope="session")
def web_dfs(spark, web):
    from webcrawlergo_spark.sources.synthweb import BASE_HOST, web_docs_df, web_index_df

    return {
        "index": web_index_df(spark, web).cache(),
        "docs": web_docs_df(spark, web).cache(),
        "robots": [(BASE_HOST, web.robots_txt, 200)],
    }


@pytest.fixture(scope="session")
def default_run(spark, web, web_dfs):
    """One shared default-config engine run (it's ~30s; several tests
    assert different properties of the same crawl)."""
    from webcrawlergo_spark.plans.wave import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(
        base_url=web.base_url, marked_paths=web.marked_paths, ignore_patterns=web.ignore_patterns
    )
    return CrawlEngine(spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"], cfg).run()


@pytest.fixture(scope="session")
def default_golden(web):
    from webcrawlergo_spark.golden import crawl_golden

    return crawl_golden(web)
