"""End-to-end spark-submit --py-files test (north-star deployment shape).

Runs scripts/run_pipeline.py under a real spark-submit from a NEUTRAL cwd,
with the package supplied ONLY via the dist zip — proving the artifact is
self-contained. Output tiers must equal the in-process rollup exactly.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.path.dirname(sys.modules["pyspark"].__file__)
    if "pyspark" in sys.modules
    else "",
    "bin",
    "spark-submit",
)


@pytest.mark.slow
def test_spark_submit_full_pipeline(spark, transcripts_df, tmp_path):
    from scripts.package import build

    zip_path = build(str(tmp_path / "dist"))
    src_dir = str(tmp_path / "input")
    out_dir = str(tmp_path / "out")
    transcripts_df.write.parquet(src_dir)

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(REPO, "scripts", "run_pipeline.py"),
            "full",
            "--input", src_dir,
            "--output", out_dir,
            "--tiers", "minute,hour,day",
            "--compress-tier", "minute",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # neutral cwd: repo not importable from here
        timeout=480,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    report = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert set(report["tiers"]) == {"minute", "hour", "day"}
    assert report["compression"]["compression_ratio"] is not None

    # written tiers, read as the finalized view of their stored partials,
    # equal the in-process rollup bit-for-bit
    from scripts.run_pipeline import DEFAULT_AGGS
    from tablecloth_time_spark.operators.rollup import finalize_partials, rollup
    from tablecloth_time_spark.plans.tier_store import ParquetTierStore

    store = ParquetTierStore(spark, out_dir)
    batch = transcripts_df.withColumn("text_len", F.length("text").cast("long"))
    for tier, (iv, unit) in {"minute": (1, "minute"), "day": (1, "day")}.items():
        got = (
            finalize_partials(store.read_state(tier), ["conv_id"], DEFAULT_AGGS)
            .toPandas()
            .sort_values(["conv_id", "bucket"], kind="stable")
            .reset_index(drop=True)
        )
        exp = (
            rollup(
                batch, ["conv_id"], "ts", iv, unit, DEFAULT_AGGS,
                order_cols=["ts", "turn_idx"],
            )
            .toPandas()
            .sort_values(["conv_id", "bucket"], kind="stable")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got[sorted(got.columns)], exp[sorted(exp.columns)], check_dtype=False
        )
        assert report["tiers"][tier] == len(exp)

