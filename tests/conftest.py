import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entity_deduplication_spark.datagen import DATA_DIR  # noqa: E402
from entity_deduplication_spark.session import get_spark  # noqa: E402

TEST_DATA_DIR = os.path.join(DATA_DIR, "test")


@pytest.fixture(scope="session")
def spark():
    # one JVM serves every test, long enough for tiered C2 to pay back
    # (the suite took 461 s tiered, 501 s C1-only, back to back at 4 cores);
    # tests/test_session.py checks the C1-only default in its own JVM
    s = get_spark(
        app_name="dedup-tests",
        cores=8,
        shuffle_partitions=16,
        extra_conf={"spark.driver.defaultJavaOptions": ""},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def clips_1k(spark):
    from entity_deduplication_spark.datagen import ensure_clips_parquet

    clips_path, truth_path = ensure_clips_parquet(1000)
    return spark.read.parquet(clips_path), spark.read.parquet(truth_path)


@pytest.fixture()
def tmp_ckpt():
    path = os.path.join(TEST_DATA_DIR, "ckpt")
    shutil.rmtree(path, ignore_errors=True)
    yield path
    shutil.rmtree(path, ignore_errors=True)
