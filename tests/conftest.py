from __future__ import annotations

import contextlib
import itertools
import os

import pytest
from pyspark.sql import SparkSession

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("jsonschema_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # JIT-aligned codegen fallback (see jsonschema_spark/core/session.py)
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


_job_groups = itertools.count()


@pytest.fixture()
def spark_jobs(spark):
    """``with spark_jobs() as ids:`` — on exit ``ids`` holds the Spark
    jobs started inside the block (counted under a job group of its
    own)."""

    @contextlib.contextmanager
    def counted():
        sc = spark.sparkContext
        gid = f"counted-{next(_job_groups)}"
        sc.setJobGroup(gid, gid)
        ids: list[int] = []
        try:
            yield ids
        finally:
            # job starts reach the status tracker through the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids.extend(sc.statusTracker().getJobIdsForGroup(gid))
            sc.setLocalProperty("spark.jobGroup.id", None)

    return counted


def rows(df, *order):
    """Collect to sorted list-of-tuples for assertion."""
    if order:
        df = df.orderBy(*order)
    return [tuple(r) for r in df.collect()]
