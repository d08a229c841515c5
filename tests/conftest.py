import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pdf_parser_spark.session import get_spark

    s = get_spark("pdf-parser-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_parquet(tmp_path_factory):
    """A 240-row synthesized pages table (all variants incl. corrupt)."""
    from pdf_parser_spark.synth.pages import write_pages_parquet

    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    write_pages_parquet(path, 240)
    return path


def _jobs_of(spark, fn):
    """(fn(), number of Spark jobs fn ran) via a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
