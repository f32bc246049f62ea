from __future__ import annotations

import contextlib

import pandas as pd
import pytest

from tablecloth_time_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        app_name="tts-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def transcripts_pdf():
    from tablecloth_time_spark.sources.transcripts import generate_transcripts_pandas

    return generate_transcripts_pandas(n_conv=120, seed=42)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    from tablecloth_time_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA)
    df.cache().count()
    return df


def assert_frames_equal(spark_df, pandas_df, sort_cols, check_dtype=False):
    """Canonical-sort both sides and compare exactly."""
    left = (
        spark_df.toPandas()
        .sort_values(sort_cols, kind="stable")
        .reset_index(drop=True)
    )
    right = (
        pandas_df.sort_values(sort_cols, kind="stable").reset_index(drop=True)
    )
    left = left[sorted(left.columns)]
    right = right[sorted(right.columns)]
    pd.testing.assert_frame_equal(left, right, check_dtype=check_dtype)


@contextlib.contextmanager
def session_conf(spark, conf: dict[str, str]):
    """Set session confs for the block, then restore the previous values."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def await_stream(q) -> None:
    """Wait for a finite (availableNow) streaming query; one still running
    after 300 s fails as a timeout, not as a later data diff. The query is
    stopped either way."""
    try:
        assert q.awaitTermination(300), f"streaming query {q.id} timed out"
    finally:
        q.stop()


def run_microbatches(spark, tmp_path, frames, op, schema=None):
    """Drive the streaming operator ``op`` (stream -> stream) over
    ``frames``, one micro-batch per pandas frame, and return the sink.

    Each frame is written as one parquet file under ``tmp_path/src`` and
    the file stream reads them in order with ``maxFilesPerTrigger=1``
    (``schema`` defaults to the first frame's). The output goes to a
    parquet sink in append mode with an ``availableNow`` trigger."""
    src = tmp_path / "src"
    src.mkdir()
    for i, frame in enumerate(frames):
        spark.createDataFrame(frame).coalesce(1).write.parquet(str(src / f"f{i}"))
    if schema is None:
        schema = spark.createDataFrame(frames[0]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        op(stream).writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    return spark.read.parquet(sink)


def executed_plan(df) -> str:
    """The physical plan Spark would run for ``df``, as its plan string."""
    return df._jdf.queryExecution().executedPlan().toString()


def new_jobs(spark, fn) -> set[int]:
    """IDs of the Spark jobs ``fn()`` starts."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def jobs():
        bus.waitUntilEmpty()  # the status tracker learns of jobs from the bus
        return set(sc.statusTracker().getJobIdsForGroup(None))

    before = jobs()
    fn()
    return jobs() - before
