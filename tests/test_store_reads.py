"""The two store reads every dashboard query goes through.

- ``ParquetTierStore`` infers each table's schema once: a repeat
  ``read_state`` / ``read_blocks`` starts no Spark job, yet still lists
  the files committed since the previous read.
- ``read_blocks_slice`` over a ``ContinuousAggregate`` block table
  prunes ``p_date`` partitions, and the prune never changes the answer,
  whatever the session time zone the store was written in.
"""

from __future__ import annotations

import datetime as dt
import re

import pandas as pd

from tests.conftest import executed_plan, new_jobs, session_conf
from tablecloth_time_spark.operators.compress import read_blocks_slice
from tablecloth_time_spark.operators.slice import slice_time
from tablecloth_time_spark.plans.continuous import (
    CompressSpec,
    ContinuousAggregate,
    TierSpec,
)
from tablecloth_time_spark.plans.snapshots import SnapshotTable
from tablecloth_time_spark.plans.tier_store import ParquetTierStore
from tablecloth_time_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

CODECS = {"n_turns": "int"}
T0 = dt.datetime(2024, 3, 1)


def _turns(spark, first_day: int, days: int):
    """Three conversations, one turn every 37 minutes over ``days`` days
    from ``T0 + first_day``."""
    rows = []
    for c in range(3):
        t = T0 + dt.timedelta(days=first_day, minutes=5 + 11 * c)
        k = 0
        while t < T0 + dt.timedelta(days=first_day + days):
            rows.append((f"c{c}", k, "user", "x" * (k % 7), None, t))
            t += dt.timedelta(minutes=37)
            k += 1
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
        schema=TRANSCRIPTS_SCHEMA,
    )


def _aggregate(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "src"))
    ca = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"),
        keys=["conv_id"], ts_col="ts", aggs={"n_turns": ("count", "turn_idx")},
        tiers=(TierSpec("minute", 1, "minute"),),
        order_cols=["ts", "turn_idx"],
        compress=CompressSpec("minute", dict(CODECS)),
    )
    return src, ca


def _points(df) -> list[tuple]:
    return sorted(
        (r["conv_id"], r["ts"], r["n_turns"])
        for r in df.select("conv_id", "ts", "n_turns").collect()
    )


def _p_dates(df) -> set[str]:
    return {str(r[0]) for r in df.select("p_date").distinct().collect()}


def test_block_slice_plans_p_date_partition_filter(spark, tmp_path):
    src, ca = _aggregate(spark, tmp_path)
    src.append(_turns(spark, 0, 6))
    ca.refresh()
    lo, hi = T0 + dt.timedelta(days=3, hours=20), T0 + dt.timedelta(days=4, hours=3)
    blocks = ca.read_blocks("minute")
    pts = read_blocks_slice(blocks, CODECS, lo, hi)

    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", executed_plan(pts))
    assert any("p_date" in f for f in filters), filters
    got = _points(pts)
    assert got and got == _points(read_blocks_slice(blocks.drop("p_date"), CODECS, lo, hi))


def test_repeat_reads_start_no_spark_job(spark, tmp_path):
    src, ca = _aggregate(spark, tmp_path)
    src.append(_turns(spark, 0, 3))
    ca.refresh()
    store = ParquetTierStore(spark, ca.root)
    # a fresh store infers each schema on its first read: one job at least,
    # which also shows the job count below can see a read's jobs
    assert new_jobs(spark, lambda: store.read_blocks("minute"))
    assert new_jobs(spark, lambda: store.read_state("minute"))
    assert new_jobs(spark, lambda: store.read_blocks("minute")) == set()
    assert new_jobs(spark, lambda: store.read_state("minute")) == set()
    # the aggregate's own store learned the tier schema when the refresh
    # read the tier back to compress it (staging reads nothing back)
    assert new_jobs(spark, lambda: ca.store.read_state("minute")) == set()


def test_read_after_refresh_sees_new_partitions(spark, tmp_path):
    src, ca = _aggregate(spark, tmp_path)
    src.append(_turns(spark, 0, 2))
    ca.refresh()
    # a second store over the same root stands for another reader process
    reader = ParquetTierStore(spark, ca.root)
    tier_before = _p_dates(reader.read_state("minute"))
    blocks_before = _p_dates(reader.read_blocks("minute"))
    assert tier_before == blocks_before == {"2024-03-01", "2024-03-02"}

    src.append(_turns(spark, 2, 2))
    ca.refresh()
    want = {"2024-03-01", "2024-03-02", "2024-03-03", "2024-03-04"}
    assert _p_dates(reader.read_state("minute")) == want
    assert _p_dates(reader.read_blocks("minute")) == want
    lo, hi = T0 + dt.timedelta(days=3), T0 + dt.timedelta(days=3, hours=12)
    assert _points(read_blocks_slice(reader.read_blocks("minute"), CODECS, lo, hi))


def test_block_slice_across_utc_midnight_in_any_session_zone(spark, tmp_path):
    """A store written and read under a non-UTC session zone: the
    p_date prune must still keep every block the window needs, on both
    sides of a UTC midnight."""
    lo, hi = T0 + dt.timedelta(days=2, hours=19), T0 + dt.timedelta(days=3, hours=5)
    for zone in ("America/Los_Angeles", "Asia/Kolkata"):
        with session_conf(spark, {"spark.sql.session.timeZone": zone}):
            src, ca = _aggregate(spark, tmp_path / zone.replace("/", "_"))
            src.append(_turns(spark, 0, 5))
            ca.refresh()
            blocks = ca.read_blocks("minute")
            got = _points(read_blocks_slice(blocks, CODECS, lo, hi))
            unpruned = _points(read_blocks_slice(blocks.drop("p_date"), CODECS, lo, hi))
            tier = slice_time(ca.read_tier("minute"), "bucket", lo, hi)
            want = _points(tier.withColumnRenamed("bucket", "ts"))
        assert got == unpruned == want, zone
        # the window holds points on both sides of the UTC midnight
        midnight = T0 + dt.timedelta(days=3)
        assert min(p[1] for p in got) < midnight <= max(p[1] for p in got), zone
