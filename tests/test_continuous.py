"""Continuous aggregates: incremental == full recompute, resume, retention.

SURVEY.md §5.2 items 2 and 5: differential equality against a wholesale
rollup of the same data, and crash/resume idempotence from the checkpoint
manifest.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import new_jobs, session_conf
from tablecloth_time_spark.operators.rollup import rollup
from tablecloth_time_spark.plans.continuous import (
    CompressSpec,
    ContinuousAggregate,
    TierSpec,
)
from tablecloth_time_spark.plans.snapshots import SnapshotTable
from tablecloth_time_spark.plans.tier_store import MemoryTierStore, ParquetTierStore
from tablecloth_time_spark.sources.transcripts import (
    TRANSCRIPTS_SCHEMA,
    generate_transcripts_pandas,
)

AGGS = {
    "n_turns": ("count", "turn_idx"),
    "sum_chars": ("sum", "text_len"),
    "min_turn": ("min", "turn_idx"),
    "max_turn": ("max", "turn_idx"),
    "first_role": ("first", "role"),
    "avg_chars": ("avg", "text_len"),
    # binary HLL sketch partial: distinct counts must survive parquet
    # tier state, increment merges, and crash-resume like any other agg
    "uniq_roles": ("hll", "role"),
}

TIERS = (
    TierSpec("minute", 1, "minute", retention_days=30),
    TierSpec("hour", 1, "hour", retention_days=None),
    TierSpec("day", 1, "day", retention_days=None),
)


def _with_len(df):
    return df.withColumn("text_len", F.length("text").cast("long"))


@pytest.fixture()
def batches(spark):
    """Two disjoint deterministic transcript batches (new convs + new turns)."""
    b1 = generate_transcripts_pandas(n_conv=60, seed=42)
    b2 = generate_transcripts_pandas(n_conv=90, seed=43)
    # make batch 2 extend batch-1 conversations too (late-arriving turns)
    df1 = spark.createDataFrame(b1, schema=TRANSCRIPTS_SCHEMA)
    df2 = spark.createDataFrame(b2, schema=TRANSCRIPTS_SCHEMA)
    return _with_len(df1), _with_len(df2)


def _expected_tier(full_df, interval, unit):
    return rollup(
        full_df, ["conv_id"], "ts", interval, unit, AGGS,
        order_cols=["ts", "turn_idx"],
    )


def _assert_tier_equal(actual_df, expected_df):
    a = (
        actual_df.toPandas()
        .sort_values(["conv_id", "bucket"], kind="stable")
        .reset_index(drop=True)
    )
    e = (
        expected_df.toPandas()
        .sort_values(["conv_id", "bucket"], kind="stable")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        a[sorted(a.columns)], e[sorted(e.columns)], check_dtype=False
    )


def _make_ca(spark, src_root, agg_root, compress=None):
    src = SnapshotTable(spark, src_root)
    ca = ContinuousAggregate(
        spark, src, agg_root,
        keys=["conv_id"], ts_col="ts", aggs=AGGS, tiers=TIERS,
        order_cols=["ts", "turn_idx"], compress=compress,
    )
    return src, ca


def test_incremental_matches_full_recompute(spark, tmp_path, batches):
    df1, df2 = batches
    src, ca = _make_ca(spark, str(tmp_path / "src"), str(tmp_path / "agg"))

    src.append(df1)
    run1 = ca.refresh()
    assert run1["status"] == "completed"
    for t in TIERS:
        _assert_tier_equal(ca.read_tier(t.name), _expected_tier(df1, t.interval, t.unit))

    # second snapshot: new conversations AND new turns in overlapping buckets
    src.append(df2)
    run2 = ca.refresh()
    full = df1.unionByName(df2)
    for t in TIERS:
        _assert_tier_equal(ca.read_tier(t.name), _expected_tier(full, t.interval, t.unit))

    # lineage recorded
    m = ca.manifest()
    assert m["last_snapshot"] == 2
    assert run2["tiers"]["minute"]["rows_out"] > 0
    assert run2["tiers"]["minute"]["partition_rows"]


def test_refresh_noop_without_new_snapshot(spark, tmp_path, batches):
    df1, _ = batches
    src, ca = _make_ca(spark, str(tmp_path / "src"), str(tmp_path / "agg"))
    src.append(df1)
    ca.refresh()
    assert ca.refresh()["status"] == "noop"


def test_crash_resume_is_exact(spark, tmp_path, batches):
    df1, df2 = batches
    src, ca = _make_ca(spark, str(tmp_path / "src"), str(tmp_path / "agg"))
    src.append(df1)
    ca.refresh()

    src.append(df2)
    with pytest.raises(RuntimeError, match="injected failure"):
        ca.refresh(fail_after_tier="hour")  # minute + hour landed, day did not

    m = ca.manifest()
    assert m["last_snapshot"] == 1  # run not committed
    incomplete = [r for r in m["runs"] if r["status"] != "completed"]
    assert incomplete and incomplete[0]["tiers"]["hour"]["status"] == "completed"
    assert "day" not in incomplete[0]["tiers"]

    # resume: completes day tier WITHOUT re-merging minute/hour (no double count)
    run = ca.refresh()
    assert run["status"] == "completed"
    full = df1.unionByName(df2)
    for t in TIERS:
        _assert_tier_equal(ca.read_tier(t.name), _expected_tier(full, t.interval, t.unit))


def test_crash_between_stage_and_swap_is_exact(spark, tmp_path, batches):
    """The worst crash window: a tier's staged output is written but not
    committed. Resume must replay the swap (staged content is absolute,
    not a delta) — never re-merge the increment."""
    df1, df2 = batches
    src, ca = _make_ca(spark, str(tmp_path / "src"), str(tmp_path / "agg"))
    src.append(df1)
    ca.refresh()

    src.append(df2)
    with pytest.raises(RuntimeError, match="staging tier hour"):
        ca.refresh(fail_after_tier="stage:hour")  # minute committed, hour staged

    m = ca.manifest()
    incomplete = [r for r in m["runs"] if r["status"] != "completed"][0]
    assert incomplete["tiers"]["hour"]["status"] == "staged"

    run = ca.refresh()
    assert run["status"] == "completed"
    full = df1.unionByName(df2)
    for t in TIERS:
        _assert_tier_equal(ca.read_tier(t.name), _expected_tier(full, t.interval, t.unit))
    # staging dirs cleaned up
    import os

    assert not [
        p for p in os.listdir(str(tmp_path / "agg" / "tiers"))
        if ".staging-" in p
    ]


def test_crash_then_new_snapshot_no_double_count(spark, tmp_path, batches):
    """A crashed run's range stays pinned: a snapshot appended after the
    crash must NOT widen the resume range (which would re-merge tiers the
    partial run already committed)."""
    df1, df2 = batches
    half = df2.filter("conv_id < 'conv000045'")
    rest = df2.filter("conv_id >= 'conv000045'")

    src, ca = _make_ca(spark, str(tmp_path / "src"), str(tmp_path / "agg"))
    src.append(df1)
    ca.refresh()

    src.append(half)  # snapshot 2
    with pytest.raises(RuntimeError, match="injected failure"):
        ca.refresh(fail_after_tier="minute")
    src.append(rest)  # snapshot 3 arrives while run 1-2 is incomplete

    run = ca.refresh()  # must complete the pinned 1-2 range only
    assert run["run_id"] == "1-2" and run["status"] == "completed"
    run2 = ca.refresh()  # then 2-3
    assert run2["run_id"] == "2-3" and run2["status"] == "completed"

    full = df1.unionByName(half).unionByName(rest)
    for t in TIERS:
        _assert_tier_equal(ca.read_tier(t.name), _expected_tier(full, t.interval, t.unit))


def test_retention_expiry(spark, tmp_path, batches):
    df1, _ = batches
    src, ca = _make_ca(spark, str(tmp_path / "src"), str(tmp_path / "agg"))
    src.append(df1)
    ca.refresh()

    max_date = df1.agg(F.max(F.to_date("ts"))).collect()[0][0]
    as_of = str(max_date)
    expired = ca.expire(as_of)
    # minute tier retains 30 days; generator spans ~30+ days so the earliest
    # partitions can expire; hour/day tiers must be untouched
    assert "hour" not in expired and "day" not in expired
    minute = ca.read_tier("minute")
    import datetime as dt

    horizon = max_date - dt.timedelta(days=30)
    assert minute.filter(F.to_date("bucket") < str(horizon)).count() == 0
    assert minute.count() > 0


def test_retention_horizon_boundary_inclusive(spark, tmp_path):
    """A partition EXACTLY at the horizon survives: retention_days=R as of
    day D keeps p_date >= D - R (the driver's tier_retention oracle writes
    the same >= into SQL, so the two sides must agree on the boundary)."""
    import datetime as dt

    import pandas as pd

    days = [dt.datetime(2024, 3, d, 12, 0, 0) for d in range(1, 11)]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 10,
            "turn_idx": list(range(10)),
            "role": ["user"] * 10,
            "text": ["x"] * 10,
            "tool": [None] * 10,
            "ts": days,
        }
    )
    df = _with_len(spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA))
    src = SnapshotTable(spark, str(tmp_path / "src"))
    ca = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"),
        keys=["conv_id"], ts_col="ts", aggs=AGGS,
        tiers=(TierSpec("day", 1, "day", retention_days=3),),
        order_cols=["ts", "turn_idx"],
    )
    src.append(df)
    ca.refresh()
    expired = ca.expire("2024-03-10")
    # horizon = 2024-03-07: days 1-6 drop, day 7 (exactly at horizon) stays
    assert expired["day"] == [f"2024-03-0{d}" for d in range(1, 7)]
    kept = sorted(
        r[0]
        for r in ca.read_tier("day").select(F.to_date("bucket")).collect()
    )
    assert [str(d) for d in kept] == [
        "2024-03-07", "2024-03-08", "2024-03-09", "2024-03-10",
    ]


def test_compression_stage_in_refresh(spark, tmp_path, batches):
    df1, _ = batches
    src, ca = _make_ca(
        spark, str(tmp_path / "src"), str(tmp_path / "agg"),
        compress=CompressSpec(tier="minute", value_cols={"n_turns": "int", "sum_chars": "int"}),
    )
    src.append(df1)
    run = ca.refresh()
    comp = run["compression"]
    assert comp["n_blocks"] > 0 and comp["compression_ratio"] is not None

    from tablecloth_time_spark.operators.compress import decompress_blocks

    restored = decompress_blocks(
        ca.read_blocks("minute"), {"n_turns": "int", "sum_chars": "int"}
    )
    expected = ca.read_tier("minute").selectExpr(
        "conv_id", "bucket as ts", "n_turns", "sum_chars"
    )
    a = restored.toPandas().sort_values(["conv_id", "ts"]).reset_index(drop=True)
    e = expected.toPandas().sort_values(["conv_id", "ts"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[sorted(a.columns)], e[sorted(e.columns)], check_dtype=False
    )


def test_incremental_refresh_keeps_block_points_in_non_utc_zone(spark, tmp_path):
    """Tier rows and their blocks share one partition-date rule (the UTC
    date): under a non-UTC session zone, a second refresh that dirties a
    few tier days rewrites exactly those days' blocks, so the compressed
    tier still decodes every point the tier holds."""
    from tablecloth_time_spark.operators.compress import decompress_blocks

    pdf = generate_transcripts_pandas(n_conv=40, seed=42)
    pdf = pdf.sort_values("ts", kind="stable").reset_index(drop=True)
    cut = int(len(pdf) * 0.97)
    with session_conf(spark, {"spark.sql.session.timeZone": "America/Los_Angeles"}):
        src, ca = _make_ca(
            spark, str(tmp_path / "src"), str(tmp_path / "agg"),
            compress=CompressSpec(tier="minute", value_cols={"n_turns": "int"}),
        )
        for part in (pdf.iloc[:cut], pdf.iloc[cut:]):
            src.append(_with_len(spark.createDataFrame(part, schema=TRANSCRIPTS_SCHEMA)))
            ca.refresh()
        restored = decompress_blocks(ca.read_blocks("minute"), {"n_turns": "int"})
        tier = ca.read_tier("minute").selectExpr("conv_id", "bucket as ts", "n_turns")
        a = restored.toPandas().sort_values(["conv_id", "ts"]).reset_index(drop=True)
        e = tier.toPandas().sort_values(["conv_id", "ts"]).reset_index(drop=True)
    assert len(a) == len(e) > 0
    pd.testing.assert_frame_equal(
        a[sorted(a.columns)], e[sorted(e.columns)], check_dtype=False
    )


def test_memory_store_full_lifecycle_no_paths(spark, tmp_path, batches):
    """The Iceberg seam: the SAME engine logic runs against a store with no
    filesystem at all (plans/tier_store.MemoryTierStore) — incremental
    refresh, compression, retention. Proves no consumer touches paths, so
    a real Iceberg binding only has to implement the TierStore protocol."""
    from tablecloth_time_spark.plans.tier_store import MemoryTierStore

    df1, df2 = batches
    src = SnapshotTable(spark, str(tmp_path / "src"))
    ca = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"),
        keys=["conv_id"], ts_col="ts", aggs=AGGS, tiers=TIERS,
        order_cols=["ts", "turn_idx"],
        compress=CompressSpec(tier="minute", value_cols={"n_turns": "int"}),
        store=MemoryTierStore(spark),
    )
    src.append(df1)
    run1 = ca.refresh()
    assert run1["status"] == "completed"
    blocks_after_1 = {
        r["p_date"] for r in ca.read_blocks("minute").select("p_date").collect()
    }
    src.append(df2)
    run2 = ca.refresh()
    assert run2["status"] == "completed"
    full = df1.unionByName(df2)
    for t in TIERS:
        _assert_tier_equal(ca.read_tier(t.name), _expected_tier(full, t.interval, t.unit))
    assert run2["compression"]["n_blocks"] > 0
    # dynamic-partition semantics: partitions untouched by run 2 survive
    # (regression: whole-table replace dropped run-1 block partitions)
    blocks_after_2 = {
        r["p_date"] for r in ca.read_blocks("minute").select("p_date").collect()
    }
    assert blocks_after_1 <= blocks_after_2

    # the only thing under agg/ is the checkpoint manifest — no tier data
    import os

    assert sorted(os.listdir(str(tmp_path / "agg"))) == ["manifest.json"]

    # retention drops partitions through the store, blocks included
    _assert_blocks_expire_with_tier(ca, full)


def test_parquet_store_blocks_expire_with_tier(spark, tmp_path, batches):
    """Expiring the compressed tier drops its block partitions too, so a
    block slice never serves points the tier no longer holds."""
    df1, df2 = batches
    src, ca = _make_ca(
        spark, str(tmp_path / "src"), str(tmp_path / "agg"),
        compress=CompressSpec(tier="minute", value_cols={"n_turns": "int"}),
    )
    src.append(df1)
    ca.refresh()
    src.append(df2)
    ca.refresh()
    _assert_blocks_expire_with_tier(ca, df1.unionByName(df2))


def _assert_blocks_expire_with_tier(ca, full):
    """Expire the minute tier (30-day retention) as of 15 days after the
    last turn, so about half its partitions go; no block partition below
    the horizon may survive, and a block slice over all time returns
    exactly the points the minute tier still holds."""
    import datetime as dt

    from tablecloth_time_spark.operators.compress import read_blocks_slice

    max_date = full.agg(F.max(F.to_date("ts"))).collect()[0][0]
    horizon = str(max_date - dt.timedelta(days=15))
    expired = ca.expire(str(max_date + dt.timedelta(days=15)))
    assert expired["minute"] and max(expired["minute"]) < horizon
    tier = ca.read_tier("minute")
    assert tier.filter(F.to_date("bucket") < horizon).count() == 0
    block_days = {
        str(r[0]) for r in ca.read_blocks("minute").select("p_date").distinct().collect()
    }
    assert block_days and min(block_days) >= horizon
    pts = read_blocks_slice(
        ca.read_blocks("minute"), {"n_turns": "int"}, "2000-01-01", "2100-01-01"
    )
    assert pts.count() == tier.count() > 0


def test_memory_store_commit_replay_idempotent(spark):
    """TierStore.commit contract: replaying a commit whose staged token is
    gone but whose partitions are live must be a no-op, not an error."""
    import pandas as pd

    from tablecloth_time_spark.plans.tier_store import MemoryTierStore

    store = MemoryTierStore(spark)
    pdf = pd.DataFrame(
        {"conv_id": ["a", "b"], "v": [1, 2], "p_date": ["2024-01-01", "2024-01-02"]}
    )
    info = store.stage("minute", spark.createDataFrame(pdf), 
                       ["2024-01-01", "2024-01-02"], "run1")
    assert info["rows_out"] == 2
    store.commit("minute", info)
    store.commit("minute", info)  # replay — must not raise or change state
    assert store.list_partitions("minute") == ["2024-01-01", "2024-01-02"]
    with pytest.raises(RuntimeError, match="neither staged nor live"):
        store.commit(
            "minute",
            {"staging_token": "gone", "dirty_partitions": ["2024-03-01"]},
        )


def test_memory_store_blocks_dynamic_overwrite(spark):
    """write_blocks must only replace the partitions present in the new
    frame (regression: whole-table replace dropped earlier partitions)."""
    import pandas as pd

    from tablecloth_time_spark.plans.tier_store import MemoryTierStore

    store = MemoryTierStore(spark)
    b1 = pd.DataFrame({"conv_id": ["a"], "v": [1], "p_date": ["2024-01-01"]})
    b2 = pd.DataFrame({"conv_id": ["b"], "v": [9], "p_date": ["2024-01-02"]})
    store.write_blocks("minute", spark.createDataFrame(b1))
    store.write_blocks("minute", spark.createDataFrame(b2))
    got = {
        (r["p_date"], r["v"])
        for r in store.read_blocks("minute").collect()
    }
    assert got == {("2024-01-01", 1), ("2024-01-02", 9)}
    # rewriting a partition replaces just that partition
    b1b = pd.DataFrame({"conv_id": ["a"], "v": [7], "p_date": ["2024-01-01"]})
    store.write_blocks("minute", spark.createDataFrame(b1b))
    got = {
        (r["p_date"], r["v"])
        for r in store.read_blocks("minute").collect()
    }
    assert got == {("2024-01-01", 7), ("2024-01-02", 9)}


def test_empty_increment_is_noop(spark, tmp_path):
    """An appended snapshot carrying zero rows must complete a refresh
    without touching tier state (empty increments are routine in
    production ingestion; previously the staged empty parquet dir had no
    footers and crashed the read-back)."""
    import datetime as dt

    import pyspark.sql.functions as SF

    from tablecloth_time_spark.plans.continuous import (
        ContinuousAggregate,
        TierSpec,
    )
    from tablecloth_time_spark.plans.snapshots import SnapshotTable

    src = SnapshotTable(spark, str(tmp_path / "src"))
    ca = ContinuousAggregate(
        spark,
        src,
        str(tmp_path / "tiers"),
        keys=["k"],
        ts_col="ts",
        aggs={"n": ("count", "v"), "s": ("sum", "v")},
        tiers=(TierSpec("hour", 1, "hour"),),
        order_cols=["ts"],
    )
    base = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 0, 10), 1.0),
         ("a", dt.datetime(2024, 1, 1, 0, 50), 2.0)],
        ["k", "ts", "v"],
    )
    src.append(base)
    ca.refresh()
    before = {
        (r["k"], r["bucket"]): (r["n"], r["s"])
        for r in ca.read_tier("hour").collect()
    }
    # empty snapshot -> refresh must be a clean no-op that advances the
    # cursor
    src.append(base.filter(SF.lit(False)))
    run = ca.refresh()
    assert run["status"] == "completed"
    assert run["rows_in"] == 0
    after = {
        (r["k"], r["bucket"]): (r["n"], r["s"])
        for r in ca.read_tier("hour").collect()
    }
    assert after == before
    # and a subsequent real increment still lands correctly
    src.append(
        spark.createDataFrame(
            [("a", dt.datetime(2024, 1, 1, 0, 55), 4.0)], ["k", "ts", "v"]
        )
    )
    ca.refresh()
    final = ca.read_tier("hour").collect()
    assert {(r["k"], r["n"], r["s"]) for r in final} == {("a", 3, 7.0)}


def test_continuous_histogram_tier_serves_quantiles(spark, tmp_path, batches):
    """Mergeable histogram counts ride the continuous-aggregate seam like
    any rollup (bin is just another grouping key, derived in prepare),
    and histogram_quantile reads the INCREMENTALLY maintained tier to the
    exact same quantiles as a one-shot histogram over the full data —
    the storable-quantile story end to end."""
    from tablecloth_time_spark.operators.stats import (
        histogram_quantile,
        histogram_rollup,
    )

    b1, b2 = batches
    lo, hi, n_bins = 0.0, 60.0, 12
    width = (hi - lo) / n_bins

    def prepare(df):
        d = _with_len(df)
        v = F.col("text_len").cast("double")
        return d.withColumn(
            "bin",
            F.least(
                F.lit(n_bins - 1),
                F.greatest(F.lit(0), F.floor((v - F.lit(lo)) / F.lit(width))),
            ).cast("int"),
        )

    src = SnapshotTable(spark, str(tmp_path / "src"))
    ca = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"),
        keys=["role", "bin"], ts_col="ts",
        aggs={"n": ("count", "turn_idx")},
        tiers=(TierSpec("hour", 1, "hour", retention_days=None),),
        order_cols=["ts", "turn_idx"], prepare=prepare,
    )
    src.append(b1)
    ca.refresh()
    src.append(b2)
    ca.refresh()

    maintained = ca.read_tier("hour").withColumns(
        {
            "bin_lo": F.lit(lo) + F.col("bin") * F.lit(width),
            "bin_hi": F.lit(lo) + (F.col("bin") + 1) * F.lit(width),
        }
    )
    full = b1.unionByName(b2)
    oneshot = histogram_rollup(
        full, ["role"], "ts", "text_len", 1, "hour",
        lo=lo, hi=hi, n_bins=n_bins,
    )

    got_q = (
        histogram_quantile(maintained, ["role", "bucket"])
        .toPandas()
        .sort_values(["role", "bucket"], kind="stable")
        .reset_index(drop=True)
    )
    exp_q = (
        histogram_quantile(oneshot, ["role", "bucket"])
        .toPandas()
        .sort_values(["role", "bucket"], kind="stable")
        .reset_index(drop=True)
    )
    cols = ["role", "bucket", "total", "p50", "p95", "p99"]
    pd.testing.assert_frame_equal(got_q[cols], exp_q[cols])


# -- each write pass runs once ------------------------------------------------

CODECS = {"n_turns": "int"}


class _FailingStageStore(ParquetTierStore):
    def stage(self, tier, merged, dirty, run_id):
        raise OSError("staging area unavailable")


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_failed_stage_leaves_no_cached_partial(spark, tmp_path, batches):
    """The refresh owns the cascade's cached finest partial: a real error
    from the store still unpersists it."""
    df1, _ = batches
    src = SnapshotTable(spark, str(tmp_path / "src"))
    root = str(tmp_path / "agg")
    ca = ContinuousAggregate(
        spark, src, root, keys=["conv_id"], ts_col="ts", aggs=AGGS, tiers=TIERS,
        order_cols=["ts", "turn_idx"], store=_FailingStageStore(spark, root),
    )
    src.append(df1)
    before = _persistent_rdds(spark)
    with pytest.raises(OSError, match="staging area"):
        ca.refresh()
    assert _persistent_rdds(spark) == before


def _node_rows(spark, fn, match) -> list[int]:
    """Rows out of every plan node ``match(node)`` accepts, in the SQL
    executions ``fn()`` starts, from the SQL status store."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    sql = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()
        runs = sql.executionsList()
        return [runs.apply(i).executionId() for i in range(runs.size())]

    before = set(executions())
    fn()
    rows = []
    for eid in sorted(set(executions()) - before):
        values = sql.executionMetrics(eid)
        nodes = sql.planGraph(eid).allNodes()
        for node in (nodes.apply(i) for i in range(nodes.size())):
            if not match(node):
                continue
            metrics = node.metrics()
            for m in (metrics.apply(i) for i in range(metrics.size())):
                if m.name() == "number of output rows":
                    rows.append(int(values.get(m.accumulatorId()).get().replace(",", "")))
    return rows


def _encoder_rows(spark, fn) -> list[int]:
    """Rows out of each block-encoder run (the ``MapInPandas`` node)."""
    return _node_rows(spark, fn, lambda node: node.name() == "MapInPandas")


def test_refresh_reads_increment_once(spark, tmp_path, batches):
    """A refresh reads its increment's files in one Spark query: ``rows_in``
    is observed on the scan that fills the cascade's cache, not counted by
    a scan of its own. Into an empty store the increment is the only
    Parquet input, and a scan inside a cached plan that a later query only
    reads from reports 0 rows."""
    df1, _ = batches
    src, ca = _make_ca(spark, str(tmp_path / "src"), str(tmp_path / "agg"))
    src.append(df1)
    runs = []
    rows = _node_rows(
        spark, lambda: runs.append(ca.refresh()),
        lambda node: node.name().startswith("Scan parquet"),
    )
    assert [r for r in rows if r] == [runs[0]["rows_in"]] == [df1.count()]


@pytest.fixture(params=["parquet", "memory"])
def make_store(request, spark):
    if request.param == "parquet":
        return lambda root: ParquetTierStore(spark, root)
    return lambda root: MemoryTierStore(spark)


def test_refresh_encodes_blocks_once(spark, tmp_path, make_store):
    """A refresh with a CompressSpec runs the block encoder once, and its
    manifest record sums exactly the blocks stored for the dirty days."""
    pdf = generate_transcripts_pandas(n_conv=40, seed=42)
    pdf = pdf.sort_values("ts", kind="stable").reset_index(drop=True)
    cut = int(len(pdf) * 0.9)
    src = SnapshotTable(spark, str(tmp_path / "src"))
    root = str(tmp_path / "agg")
    ca = ContinuousAggregate(
        spark, src, root, keys=["conv_id"], ts_col="ts",
        aggs={"n_turns": ("count", "turn_idx")},
        tiers=(TierSpec("minute", 1, "minute"), TierSpec("day", 1, "day")),
        order_cols=["ts", "turn_idx"],
        compress=CompressSpec("minute", dict(CODECS)),
        store=make_store(root),
    )
    for part in (pdf.iloc[:cut], pdf.iloc[cut:]):
        src.append(spark.createDataFrame(part, schema=TRANSCRIPTS_SCHEMA))
        runs = []
        rows = _encoder_rows(spark, lambda: runs.append(ca.refresh()))
        comp = runs[0]["compression"]
        assert rows == [comp["n_blocks"]]

        dirty = comp["dirty_partitions"]
        stored = (
            ca.read_blocks("minute")
            .filter(F.col("p_date").cast("string").isin(dirty))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("raw_bytes").alias("raw"),
                F.sum("enc_bytes").alias("enc"),
            )
            .collect()[0]
        )
        assert (comp["n_blocks"], comp["raw_bytes"], comp["enc_bytes"]) == (
            stored["n"], stored["raw"], stored["enc"],
        )
    # the second refresh dirtied some days only: its sums above covered a
    # strict subset of the stored blocks
    assert len(dirty) < len(ca.store.list_partitions("minute"))


def test_stage_starts_no_job_after_its_write(spark, tmp_path, make_store):
    """``stage`` runs the jobs of its write and nothing more: its lineage
    comes from the write (Parquet footers; the pandas frame in memory)."""
    days = ["2024-01-01", "2024-01-02"]
    frame = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["a", "b", "c"], "v": [1, 2, 3], "p_date": days + days[:1]})
    )
    store = make_store(str(tmp_path / "store"))
    if isinstance(store, MemoryTierStore):
        write = frame.toPandas
    else:
        plain = str(tmp_path / "plain")
        write = lambda: frame.write.mode("overwrite").partitionBy("p_date").parquet(plain)  # noqa: E731
    infos = []
    staged = new_jobs(spark, lambda: infos.append(store.stage("minute", frame, days, "r1")))
    assert len(staged) == len(new_jobs(spark, write))
    assert infos[0]["partition_rows"] == {"2024-01-01": 2, "2024-01-02": 1}
    assert infos[0]["rows_out"] == 3
