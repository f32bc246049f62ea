"""run_pipeline.py modes in-process (no spark-submit), through the argparse
entry.

The full-mode spark-submit path is covered end-to-end by tests/test_submit.py;
here full mode is checked as what it is, a clear plus one refresh: its output
is the tier-store layout that expire drops partitions of, it writes a
manifest that status reads, a re-run replaces it, and a re-run after a crash
equals an uninterrupted run.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from scripts.run_pipeline import DEFAULT_AGGS
from scripts.run_pipeline import main as pipeline_main
from tablecloth_time_spark.operators.rollup import finalize_partials
from tablecloth_time_spark.plans.continuous import ContinuousAggregate
from tablecloth_time_spark.plans.snapshots import SnapshotTable
from tablecloth_time_spark.plans.tier_store import ParquetTierStore


@pytest.fixture()
def snap_source(spark, transcripts_df, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "src"))
    # RAW input_hint schema (no text_len): the pipeline's prepare hook must
    # derive it, same as full mode does
    src.append(transcripts_df)
    return src, str(tmp_path)


def test_incremental_mode(spark, snap_source, capsys):
    src, base = snap_source
    pipeline_main(
        [
            "incremental",
            "--source-table", src.root,
            "--output", f"{base}/agg",
            "--tiers", "minute,hour",
        ]
    )
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["run"]["status"] == "completed"
    assert report["run"]["tiers"]["minute"] > report["run"]["tiers"]["hour"] > 0

    # second invocation with no new snapshot is a noop
    pipeline_main(
        [
            "incremental",
            "--source-table", src.root,
            "--output", f"{base}/agg",
            "--tiers", "minute,hour",
        ]
    )
    report2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report2["run"]["status"] == "noop"


def test_expire_mode(spark, snap_source, transcripts_df, capsys):
    src, base = snap_source
    pipeline_main(
        [
            "incremental",
            "--source-table", src.root,
            "--output", f"{base}/agg",
            "--tiers", "minute,hour",
        ]
    )
    capsys.readouterr()
    max_date = transcripts_df.agg(F.max(F.to_date("ts"))).collect()[0][0]
    pipeline_main(
        [
            "expire",
            "--source-table", src.root,
            "--output", f"{base}/agg",
            "--tiers", "minute,hour",
            "--retention", "minute=5",
            "--as-of", str(max_date),
        ]
    )
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # transcripts span ~30+ days; a 5-day minute retention drops partitions
    assert report["expired"]["minute"]
    assert "hour" not in report["expired"]  # no retention -> kept forever
    import datetime as dt

    horizon = max_date - dt.timedelta(days=5)
    remaining = spark.read.parquet(f"{base}/agg/tiers/minute")
    assert remaining.filter(F.to_date("bucket") < str(horizon)).count() == 0
    assert remaining.count() > 0

    # expire without --retention is refused, not a silent noop
    with pytest.raises(SystemExit, match="retention"):
        pipeline_main(
            [
                "expire",
                "--source-table", src.root,
                "--output", f"{base}/agg",
                "--tiers", "minute,hour",
                "--as-of", str(max_date),
            ]
        )


def test_status_mode(spark, snap_source, capsys):
    """status prints the manifest summary without a SparkSession and
    errors clearly when no manifest exists."""
    src, base = snap_source
    pipeline_main(
        [
            "incremental",
            "--source-table", src.root,
            "--output", f"{base}/agg2",
            "--tiers", "minute,hour",
        ]
    )
    capsys.readouterr()
    pipeline_main(["status", "--output", f"{base}/agg2"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["mode"] == "status"
    assert report["n_runs"] == 1
    assert report["incomplete_runs"] == []
    run = report["runs"][0]
    assert run["status"] == "completed"
    assert run["tiers"]["minute"]["rows_out"] > run["tiers"]["hour"]["rows_out"]
    assert run["tiers"]["minute"]["dirty_partitions"] > 0

    with pytest.raises(SystemExit, match="no manifest"):
        pipeline_main(["status", "--output", f"{base}/nowhere"])


def _p_dates(root: str, table: str) -> list[str]:
    path = os.path.join(root, table)
    return sorted(e.split("=", 1)[1] for e in os.listdir(path) if e.startswith("p_date="))


def _run_full(input_dir: str, out: str, capsys) -> dict:
    pipeline_main(
        [
            "full",
            "--input", input_dir,
            "--output", out,
            "--tiers", "minute,hour",
            "--compress-tier", "minute",
        ]
    )
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_expire_drops_full_mode_partitions(spark, transcripts_df, tmp_path, capsys):
    """Full mode writes p_date partitions, so expire drops every minute-tier
    and block day below the horizon and keeps the hour tier whole."""
    transcripts_df.write.parquet(str(tmp_path / "input"))
    out = str(tmp_path / "full")
    report = _run_full(str(tmp_path / "input"), out, capsys)
    assert report["compression"]["n_blocks"] > 0
    hour_days = _p_dates(out, "tiers/hour")

    max_date = transcripts_df.agg(F.max(F.to_date("ts"))).collect()[0][0]
    pipeline_main(
        [
            "expire",
            "--output", out,
            "--tiers", "minute,hour",
            "--retention", "minute=5",
            "--as-of", str(max_date),
        ]
    )
    expired = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["expired"]
    horizon = str(max_date - dt.timedelta(days=5))
    assert expired["minute"] and "hour" not in expired
    for table in ("tiers/minute", "blocks/minute"):
        days = _p_dates(out, table)
        assert days and days[0] >= horizon, table
    assert _p_dates(out, "tiers/hour") == hour_days and hour_days[0] < horizon
    # expire reads no source, so it makes no source directory either
    assert not os.path.exists(os.path.join(out, "data"))


def test_full_mode_rerun_replaces_tiers(spark, transcripts_df, tmp_path, capsys):
    """A second full run over fewer days leaves only its own days, in the
    tiers and in the blocks, with the rows it reports."""
    out = str(tmp_path / "full")
    transcripts_df.write.parquet(str(tmp_path / "all"))
    _run_full(str(tmp_path / "all"), out, capsys)

    days = sorted({str(r[0]) for r in transcripts_df.select(F.to_date("ts")).collect()})
    early = transcripts_df.filter(F.to_date("ts") < days[len(days) // 2])
    early.write.parquet(str(tmp_path / "early"))
    report = _run_full(str(tmp_path / "early"), out, capsys)
    want = days[: len(days) // 2]
    for table in ("tiers/minute", "tiers/hour", "blocks/minute"):
        assert _p_dates(out, table) == want, table
    minute = spark.read.parquet(f"{out}/tiers/minute")
    assert minute.count() == report["tiers"]["minute"] > 0
    assert spark.read.parquet(f"{out}/blocks/minute").count() == report["compression"]["n_blocks"]


def _status(out: str, capsys) -> dict:
    pipeline_main(["status", "--output", out])
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _store_rows(spark, out: str) -> dict:
    """Every tier (finalized) and the minute blocks, as sorted row tuples."""
    store = ParquetTierStore(spark, out)
    got = {
        t: finalize_partials(store.read_state(t), ["conv_id"], DEFAULT_AGGS)
        for t in ("minute", "hour")
    }
    got["blocks"] = store.read_blocks("minute")
    return {k: sorted(map(tuple, df.collect())) for k, df in got.items()}


def test_full_mode_records_a_run_that_status_reads(spark, transcripts_df, tmp_path, capsys):
    """A full run writes a manifest: status shows one completed run that
    folded in every input row."""
    transcripts_df.write.parquet(str(tmp_path / "input"))
    out = str(tmp_path / "full")
    report = _run_full(str(tmp_path / "input"), out, capsys)
    status = _status(out, capsys)
    assert status["n_runs"] == 1 and status["incomplete_runs"] == []
    run = status["runs"][0]
    assert run["status"] == "completed"
    assert run["rows_in"] == transcripts_df.count()
    assert {t: i["rows_out"] for t, i in run["tiers"].items()} == report["tiers"]
    assert run["compression"] == report["compression"]


def test_full_mode_rerun_after_crash_equals_one_run(
    spark, transcripts_df, tmp_path, capsys, monkeypatch
):
    """A full run that dies after staging ``hour`` shows as an incomplete
    run; a re-run then leaves tiers and blocks equal to a run that never
    crashed."""
    transcripts_df.write.parquet(str(tmp_path / "input"))
    once = str(tmp_path / "once")
    _run_full(str(tmp_path / "input"), once, capsys)

    out = str(tmp_path / "crashed")
    refresh = ContinuousAggregate.refresh
    with monkeypatch.context() as mp:
        mp.setattr(
            ContinuousAggregate, "refresh",
            lambda self: refresh(self, fail_after_tier="stage:hour"),
        )
        with pytest.raises(RuntimeError, match="staging tier hour"):
            _run_full(str(tmp_path / "input"), out, capsys)
    assert _status(out, capsys)["incomplete_runs"] == ["None-1"]

    _run_full(str(tmp_path / "input"), out, capsys)
    assert _status(out, capsys)["incomplete_runs"] == []
    assert _store_rows(spark, out) == _store_rows(spark, once)


def test_incremental_mode_compresses(spark, snap_source, capsys):
    """``--compress-tier`` works in incremental mode: blocks are written and
    the report carries their compression record."""
    src, base = snap_source
    out = f"{base}/agg"
    pipeline_main(
        [
            "incremental",
            "--source-table", src.root,
            "--output", out,
            "--tiers", "minute,hour",
            "--compress-tier", "minute",
        ]
    )
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["compression"]["n_blocks"] > 0
    blocks = spark.read.parquet(f"{out}/blocks/minute")
    assert blocks.count() == report["compression"]["n_blocks"]
    assert _p_dates(out, "blocks/minute") == _p_dates(out, "tiers/minute")


@pytest.mark.parametrize(
    "mode, flags, bad",
    [
        ("full", ["--tiers", "minute,hours"], "hours"),
        ("incremental", ["--compress-tier", "second"], "second"),
        ("expire", ["--retention", "minute", "--as-of", "2025-01-31"], "minute"),
        ("expire", ["--retention", "minut=5", "--as-of", "2025-01-31"], "minut=5"),
        ("expire", ["--retention", "hour=5,minute=x", "--as-of", "2025-01-31"], "minute=x"),
    ],
)
def test_bad_tier_spec_exits_naming_it(spark, tmp_path, mode, flags, bad):
    """An unknown tier in --tiers, --retention or --compress-tier, or a
    retention entry without a whole day count, exits naming the entry
    instead of crashing or running as a silent no-op."""
    out = str(tmp_path / "out")
    argv = [mode, "--output", out, "--tiers", "minute,hour", *flags]
    if mode == "full":
        argv += ["--input", str(tmp_path / "none")]
    with pytest.raises(SystemExit, match=bad):
        pipeline_main(argv)
    assert not os.path.exists(out)
