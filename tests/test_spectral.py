"""Periodogram vs a numpy re-derivation + analytic sinusoid goldens."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from tablecloth_time_spark.operators.spectral import periodogram
from tests.conftest import executed_plan

HOUR_MS = 3_600_000


def _np_periodogram(ts_ms, x, p_hours):
    """Independent numpy re-derivation (same exact-phase-reduction
    contract)."""
    m = ~np.isnan(x)
    x, ts_ms = x[m], ts_ms[m]
    n = len(x)
    p_ms = p_hours * HOUR_MS
    ang = math.tau * ((ts_ms % p_ms).astype(float) / float(p_ms))
    c, s = np.cos(ang), np.sin(ang)
    mean = x.sum() / n
    a = (x * c).sum() - mean * c.sum()
    b = (x * s).sum() - mean * s.sum()
    sst = (x * x).sum() - x.sum() * mean
    pw = a * a + b * b
    amp = 2.0 * math.sqrt(pw) / n
    frac = (2.0 * pw / n / sst) if sst > 0 else None
    return amp, frac


@pytest.fixture(scope="module")
def hourly_df(spark):
    rng = np.random.default_rng(3)
    frames = []
    t0 = 1_700_000_000_000 - (1_700_000_000_000 % HOUR_MS)
    for key, period_h, amp in [("daily", 24, 5.0), ("weekly", 168, 3.0)]:
        n = 24 * 7 * 8  # 8 weeks hourly
        ts = t0 + np.arange(n) * HOUR_MS
        x = (
            50.0
            + amp * np.sin(math.tau * np.arange(n) / period_h)
            + rng.normal(0, 0.5, n)
        )
        x[5] = np.nan  # masked, not poisonous
        frames.append(pd.DataFrame({"k": key, "ts_ms": ts, "x": x}))
    pdf = pd.concat(frames, ignore_index=True)
    sdf = spark.createDataFrame(pdf).selectExpr(
        "k", "timestamp_millis(ts_ms) AS ts", "x"
    )
    return pdf, sdf


def test_periodogram_matches_numpy(hourly_df):
    pdf, sdf = hourly_df
    out = periodogram(sdf, "k", "ts", "x", periods=[24, 37, 168], unit="hour")
    got = {
        (r["k"], r["period"]): (r["n"], r["amp"], r["power_frac"])
        for r in out.collect()
    }
    for key in ["daily", "weekly"]:
        sub = pdf[pdf.k == key]
        for p in [24, 37, 168]:
            amp, frac = _np_periodogram(
                sub.ts_ms.to_numpy(), sub.x.to_numpy(), p
            )
            n, g_amp, g_frac = got[(key, p)]
            assert n == sub.x.notna().sum()
            assert g_amp == pytest.approx(amp, rel=1e-9)
            assert g_frac == pytest.approx(frac, rel=1e-9)


def test_periodogram_finds_the_true_period(hourly_df):
    pdf, sdf = hourly_df
    out = periodogram(sdf, "k", "ts", "x", periods=[24, 37, 168], unit="hour")
    rows = out.collect()
    best = {}
    for r in rows:
        if r["k"] not in best or r["power_frac"] > best[r["k"]][1]:
            best[r["k"]] = (r["period"], r["power_frac"])
    assert best["daily"][0] == 24 and best["daily"][1] > 0.9
    assert best["weekly"][0] == 168 and best["weekly"][1] > 0.9
    # wrong-period power is noise-level
    noise = {r["power_frac"] for r in rows if r["k"] == "daily" and r["period"] == 37}
    assert all(f < 0.05 for f in noise)


def test_periodogram_pure_sinusoid_power_is_one(spark):
    """Analytic golden: a pure sinusoid on a uniform grid spanning whole
    periods carries power_frac == 1 at its period and amp == amplitude."""
    n, p = 240, 24
    ts = np.arange(n) * HOUR_MS
    x = 10.0 + 4.0 * np.sin(math.tau * np.arange(n) / p + 0.7)
    sdf = spark.createDataFrame(
        pd.DataFrame({"k": "s", "ts_ms": ts, "x": x})
    ).selectExpr("k", "timestamp_millis(ts_ms) AS ts", "x")
    r = periodogram(sdf, "k", "ts", "x", periods=[24], unit="hour").collect()[0]
    assert r["amp"] == pytest.approx(4.0, rel=1e-9)
    assert r["power_frac"] == pytest.approx(1.0, rel=1e-9)


def test_periodogram_constant_series_null_power(spark):
    sdf = spark.createDataFrame(
        [("c", i * HOUR_MS, 7.0) for i in range(48)],
        "k string, ts_ms long, x double",
    ).selectExpr("k", "timestamp_millis(ts_ms) AS ts", "x")
    r = periodogram(sdf, "k", "ts", "x", periods=[24], unit="hour").collect()[0]
    assert r["power_frac"] is None


def test_periodogram_validation(spark):
    sdf = spark.createDataFrame([("a", 0, 1.0)], "k string, ts_ms long, x double")
    with pytest.raises(ValueError, match="at least one"):
        periodogram(sdf, "k", "ts_ms", "x", periods=[])
    with pytest.raises(ValueError, match="positive ints"):
        periodogram(sdf, "k", "ts_ms", "x", periods=[0])


def test_periodogram_plan_single_agg_no_python(hourly_df):
    """The 100 TB shape: ONE partial/final HashAggregate pair around ONE
    Exchange — no window, no join, no Python; the explode runs on the
    tiny per-key frame after the final aggregate."""
    pdf, sdf = hourly_df
    out = periodogram(sdf, "k", "ts", "x", periods=[24, 168], unit="hour")
    plan = executed_plan(out)
    assert plan.count("Exchange") == 1
    assert "Python" not in plan and "MapInPandas" not in plan
    assert "Window" not in plan and "Join" not in plan