import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest


@pytest.fixture(scope="session")
def spark():
    from geowave_spark.session import get_spark

    s = get_spark("geowave-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def no_cached_relations_left():
    """Session hygiene: a test module must unpersist every relation it
    caches — a cached InMemoryRelation leaks into later modules' plans
    (and their plan assertions).  The cache is cleared after a failure
    so one leak does not fail every later module too."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is None:
        return
    cache = active._jsparkSession.sharedState().cacheManager()
    if not cache.isEmpty():
        cache.clearCache()
        pytest.fail("test module left cached relations behind (unpersist in fixture teardown)")


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def image_rows(n, start=0, fmt_cycle=("png", "bmp", "jpeg")):
    """Shared fixture-row builder for the image+caption input_hint shape
    (used by the phash / imagefeat / clustering test families)."""
    from geowave_spark.functions import imagecodec as codec
    from geowave_spark.sources import images

    out = []
    for i in range(start, start + n):
        arr = images.pixels_for(i)
        fmt = fmt_cycle[i % len(fmt_cycle)]
        out.append(
            {
                "image_id": f"img{i:010d}",
                "bytes": codec.encode_image(arr, fmt),
                "w": arr.shape[1],
                "h": arr.shape[0],
                "fmt": fmt,
                "caption": f"c{i}",
                "phash": 0,
            }
        )
    return out
