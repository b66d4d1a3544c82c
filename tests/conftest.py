import os
import shutil

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache")


@pytest.fixture(scope="session")
def spark():
    from lucene_solr_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def pages_small():
    """Deterministic 2000-doc corpus (seed 42)."""
    from lucene_solr_spark.corpus import generate_pages

    return generate_pages(2000, seed=42)


@pytest.fixture(scope="session")
def small_index(spark, pages_small):
    """Index built once per session over pages_small; yields (index_dir, manifest)."""
    from lucene_solr_spark.index.build import build_index

    idx = os.path.join(CACHE, "test_index_small")
    shutil.rmtree(idx, ignore_errors=True)
    sdf = spark.createDataFrame(pages_small[["url", "text"]])
    man = build_index(spark, sdf, idx, num_segments=6, build_id="t0")
    return idx, man


@pytest.fixture(scope="session")
def oracle_small(pages_small):
    from lucene_solr_spark.oracle import OracleSearcher

    return OracleSearcher(pages_small)


def requires_reference(path: str):
    """Skip mark for differential tests that compile reference sources:
    they need ``path`` (a file or directory of the reference tree) and a
    JDK."""
    if not os.path.exists(path):
        return pytest.mark.skip(reason=f"reference tree {path} is absent")
    return pytest.mark.skipif(
        not (shutil.which("javac") and shutil.which("java")),
        reason="no JDK for the reference oracle",
    )
