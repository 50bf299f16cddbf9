from __future__ import annotations

import os
from contextlib import contextmanager

import pandas as pd
import pytest

from ipl_dagster_pipeline_spark.session import get_spark

# the suite's fixtures are sf0.001-sized: the benchmark's 2g driver heap is
# plenty, and the session default (8g) lets the test JVM grow several times
# larger than it needs to
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ipl-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@contextmanager
def shuffle_partitions(spark, n: int):
    """Run the block with ``n`` shuffle partitions and AQE partition
    coalescing off, so every shuffle without an explicit count (the range
    repartition of a prefix sum) has exactly ``n`` partitions.  Both
    settings are restored on exit, also when the block raises."""
    conf = {
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.fixture(scope="session")
def small_transcripts(spark):
    """Deterministic synthetic transcripts with ties, gaps, nulls, and a hot key."""
    from ipl_dagster_pipeline_spark.sources.transcripts import synthesize_transcripts

    df = synthesize_transcripts(
        spark, n_convs=20, turns_per_conv=30, seed=7, hot_conv_fraction=0.05, hot_multiplier=10
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def small_transcripts_pdf(small_transcripts) -> pd.DataFrame:
    return small_transcripts.toPandas()


@pytest.fixture(scope="session")
def small_tool_dim(spark):
    from ipl_dagster_pipeline_spark.sources.transcripts import synthesize_tool_dim

    df = synthesize_tool_dim(spark, seed=7, n_days=40).cache()
    df.count()
    return df
