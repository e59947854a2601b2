from __future__ import annotations

import contextlib
import uuid

import pandas as pd
import pytest

from bibexpy_spark import corpus, oracle
from bibexpy_spark.session import build_spark


@pytest.fixture(scope="session")
def spark():
    s = build_spark(app_name="bibexpy_spark_tests", cores=8,
                    extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def turns_pd() -> pd.DataFrame:
    return corpus.generate_transcripts(200, seed=42)


@pytest.fixture(scope="session")
def conv_pd(turns_pd) -> pd.DataFrame:
    return oracle.assemble(turns_pd)


@pytest.fixture(scope="session")
def golden(turns_pd):
    pairs, clusters = oracle.golden_fixtures(turns_pd)
    return {"pairs": pairs, "clusters": clusters}


@pytest.fixture(scope="session")
def turns_df(spark, turns_pd):
    return spark.createDataFrame(turns_pd)


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` under a fresh job group and returns
    ``(fn's result, ids of the Spark jobs it started)`` — the status
    tracker's view, read once the listener bus has delivered every event;
    the group is cleared afterwards."""
    sc = spark.sparkContext

    def run(fn):
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            value = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return value, sorted(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def crash(monkeypatch):
    """``with crash(after_writes=n):`` makes the n-th parquet table write
    in the block raise once it has finished (a driver dying between the
    table writes of one commit); ``with crash(step=name):`` makes that step
    of ``incremental.write_state`` raise.  Either raises "injected crash"."""
    from pyspark.sql.readwriter import DataFrameWriter

    from bibexpy_spark import incremental

    @contextlib.contextmanager
    def inject(after_writes=None, step=None):
        parquet, written = DataFrameWriter.parquet, []

        def crashing_write(self, path, *args, **kwargs):
            parquet(self, path, *args, **kwargs)
            written.append(path)
            if len(written) == after_writes:
                raise RuntimeError(f"injected crash after writing {path}")

        def crashing_step(*args, **kwargs):
            raise RuntimeError(f"injected crash at {step}")

        with monkeypatch.context() as m:
            if step:
                m.setattr(incremental, step, crashing_step)
            else:
                m.setattr(DataFrameWriter, "parquet", crashing_write)
            yield

    return inject
