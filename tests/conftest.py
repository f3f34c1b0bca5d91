import os
import shutil
import tempfile

import pytest

from kernel_memory_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmp_catalog_root():
    d = tempfile.mkdtemp(prefix="kms_tables_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def jobs_of(spark):
    """`jobs_of(fn)`: the Spark jobs `fn` launches, from the status
    tracker's job groups. The step scheduler's worker threads inherit the
    caller's group, so overlapped steps count too; counts do not move with
    host speed."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-of-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "pinned job count")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
