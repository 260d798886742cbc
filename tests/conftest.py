import os
import shutil
import tempfile

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from ipfs_search_spark.session import get_spark
    s = get_spark("ipfs-search-spark-tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages(spark):
    from ipfs_search_spark.fixtures import pages_df
    return pages_df(spark, n=600, seed=42, oversize_bytes=1 << 16).cache()


@pytest.fixture(scope="session")
def index_dir():
    d = tempfile.mkdtemp(prefix="isx-index-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def built_index(spark, pages, index_dir):
    """Build the full index once per test session over the fixture corpus."""
    from ipfs_search_spark.catalog import TableIO
    from ipfs_search_spark.operators.index_build import build_index
    io = TableIO(spark, index_dir)
    stats = build_index(spark, pages, io, n_shards=4, n_buckets=16,
                        max_bytes=1 << 15)
    return io, stats


@pytest.fixture(scope="session")
def cold_searcher():
    """Searcher factory for the uncached vocabulary path — the route a
    vocabulary larger than Searcher.TERM_CACHE_MAX takes at web scale —
    on the small fixture indexes: the cap is 0 while the Searcher opens."""
    from ipfs_search_spark.plans.query import Searcher

    def make(spark, io, **kwargs):
        cap = Searcher.TERM_CACHE_MAX
        Searcher.TERM_CACHE_MAX = 0
        try:
            return Searcher(spark, io, **kwargs)
        finally:
            Searcher.TERM_CACHE_MAX = cap
    return make
