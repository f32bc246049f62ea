"""hopping_rollup vs a brute-force python oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.rollup import hopping_rollup
from tests.conftest import executed_plan

MIN_MS = 60_000
HOUR_MS = 3_600_000


@pytest.fixture(scope="module")
def points_df(spark):
    rng = np.random.default_rng(31)
    rows = []
    t0 = 1_700_000_000_000
    for key in ["a", "b"]:
        ts = t0 + np.sort(rng.integers(0, 12 * HOUR_MS, size=500))
        for i, t in enumerate(ts):
            rows.append((key, int(t), float(rng.normal(10, 2)), i))
    pdf = pd.DataFrame(rows, columns=["k", "ms", "x", "i"])
    sdf = spark.createDataFrame(pdf).selectExpr(
        "k", "timestamp_millis(ms) AS ts", "x", "i"
    )
    return pdf, sdf


def _oracle(pdf, width_ms, hop_ms):
    out = {}
    for (key,), grp in pdf.groupby(["k"]):
        for t in grp.ms:
            s_max = t - t % hop_ms
            s_min = (t - width_ms) - (t - width_ms) % hop_ms + hop_ms
            for s in range(s_min, s_max + 1, hop_ms):
                g = grp[(grp.ms >= s) & (grp.ms < s + width_ms)]
                out[(key, s)] = (len(g), g.x.sum())
    return out


@pytest.mark.parametrize("width,hop", [(60, 15), (120, 60), (45, 45)])
def test_hopping_matches_bruteforce(points_df, width, hop):
    pdf, sdf = points_df
    got = {
        (r["k"], int(r["window_start"].timestamp() * 1000)): (
            r["n"], r["s"], r["window_end"],
        )
        for r in hopping_rollup(
            sdf, ["k"], "ts", width, hop, "minute",
            {"n": ("count", "x"), "s": ("sum", "x")},
        ).collect()
    }
    exp = _oracle(pdf, width * MIN_MS, hop * MIN_MS)
    assert set(got) == set(exp)
    for kk, (n, s) in exp.items():
        gn, gs, gend = got[kk]
        assert gn == n
        assert gs == pytest.approx(s, rel=1e-12)
        assert int(gend.timestamp() * 1000) == kk[1] + width * MIN_MS


def test_hopping_every_point_in_width_over_hop_windows(points_df):
    """width divisible by hop: every sample appears in exactly width/hop
    windows — total count across windows is 4x the input."""
    pdf, sdf = points_df
    total = (
        hopping_rollup(
            sdf, ["k"], "ts", 60, 15, "minute", {"n": ("count", "x")}
        ).agg(F.sum("n")).collect()[0][0]
    )
    assert total == 4 * len(pdf)


def test_hopping_dead_zone_drops_points(spark):
    """width < hop leaves dead zones: a point between windows lands
    nowhere."""
    rows = [("k", 0, 1.0), ("k", 50 * MIN_MS, 1.0)]  # 2nd in dead zone
    sdf = spark.createDataFrame(
        rows, "k string, ms long, x double"
    ).selectExpr("k", "timestamp_millis(ms) AS ts", "x")
    got = hopping_rollup(
        sdf, ["k"], "ts", 30, 60, "minute", {"n": ("count", "x")}
    ).collect()
    assert len(got) == 1 and got[0]["n"] == 1


def test_hopping_validation(spark):
    sdf = spark.createDataFrame([("k", 0, 1.0)], "k string, ms long, x double")
    with pytest.raises(ValueError, match="> 0"):
        hopping_rollup(sdf, ["k"], "ms", 0, 1, "minute", {"n": ("count", "x")})


def test_hopping_plan_single_agg_pair(points_df):
    """The native-F.window shape: a static Expand (projection
    replication, NOT a Generate/explode with per-row array allocation)
    into ONE partial/final hash aggregate pair; no join, no window
    operator, no Python."""
    pdf, sdf = points_df
    out = hopping_rollup(
        sdf, ["k"], "ts", 60, 15, "minute", {"n": ("count", "x")}
    )
    plan = executed_plan(out)
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2
    assert "Expand" in plan and "Generate" not in plan
    assert "Python" not in plan and "Join" not in plan


def test_hopping_dead_zone_plan_no_replication(spark):
    """width < hop: a pure filter + tumbling aggregate — no Expand, no
    Generate."""
    sdf = spark.createDataFrame(
        [("k", 0, 1.0)], "k string, ms long, x double"
    ).selectExpr("k", "timestamp_millis(ms) AS ts", "x")
    out = hopping_rollup(
        sdf, ["k"], "ts", 30, 60, "minute", {"n": ("count", "x")}
    )
    plan = executed_plan(out)
    assert "Expand" not in plan and "Generate" not in plan
    assert plan.count("HashAggregate") == 2