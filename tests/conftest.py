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
    s = get_spark(app_name="dedup-tests", cores=8, shuffle_partitions=16)
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
