"""Bollinger bands / Cutler RSI vs a pandas re-derivation.

pandas rolling(mean/std, min_periods=n) implements the exact frame
semantics the operators claim, so the oracle recomputes every column over
a randomized multi-key series and compares with tight tolerance (stddev
summation order differs between engines; values, nulls, and frame
boundaries must agree).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.indicators import (
    bollinger_bands,
    rsi_cutler,
)
from tests.conftest import executed_plan


@pytest.fixture(scope="module")
def series_df(spark):
    rng = np.random.default_rng(11)
    frames = []
    for key, n in [("a", 120), ("b", 40), ("c", 3)]:
        vals = np.round(
            100 + np.cumsum(rng.normal(0, 2, size=n)), 4
        )
        frames.append(
            pd.DataFrame({"k": key, "i": np.arange(n), "x": vals})
        )
    pdf = pd.concat(frames, ignore_index=True)
    return pdf, spark.createDataFrame(pdf)


def _collect(df, cols):
    return (
        df.toPandas()
        .sort_values(["k", "i"], kind="stable")
        .reset_index(drop=True)[cols]
    )


def _assert_close(got: pd.Series, exp: pd.Series, name: str):
    g, e = got.to_numpy(dtype=float), exp.to_numpy(dtype=float)
    both_nan = np.isnan(g) & np.isnan(e)
    ok = both_nan | np.isclose(g, e, rtol=1e-9, atol=1e-12, equal_nan=True)
    assert ok.all(), f"{name}: first mismatch at {int(np.argmax(~ok))}"
    assert (np.isnan(g) == np.isnan(e)).all(), f"{name}: null mask differs"


@pytest.mark.parametrize("n,k", [(20, 2.0), (5, 1.5)])
def test_bollinger_matches_pandas(series_df, n, k):
    pdf, df = series_df
    got = _collect(
        bollinger_bands(df, ["k"], ["i"], "x", n=n, k=k),
        ["k", "i", "mid", "upper", "lower", "pct_b", "bandwidth"],
    )
    g = pdf.sort_values(["k", "i"], kind="stable").reset_index(drop=True)
    roll = g.groupby("k")["x"]
    mid = roll.transform(lambda s: s.rolling(n, min_periods=n).mean())
    sd = roll.transform(lambda s: s.rolling(n, min_periods=n).std(ddof=1))
    upper, lower = mid + k * sd, mid - k * sd
    width = upper - lower
    pct_b = (g["x"] - lower) / width.where(width != 0)
    bandwidth = width / mid.where(mid != 0)
    _assert_close(got["mid"], mid, "mid")
    _assert_close(got["upper"], upper, "upper")
    _assert_close(got["lower"], lower, "lower")
    _assert_close(got["pct_b"], pct_b, "pct_b")
    _assert_close(got["bandwidth"], bandwidth, "bandwidth")


@pytest.mark.parametrize("n", [14, 3])
def test_rsi_matches_pandas(series_df, n):
    pdf, df = series_df
    got = _collect(rsi_cutler(df, ["k"], ["i"], "x", n=n), ["k", "i", "rsi"])
    g = pdf.sort_values(["k", "i"], kind="stable").reset_index(drop=True)
    diff = g.groupby("k")["x"].diff()
    gain = diff.clip(lower=0)
    loss = (-diff).clip(lower=0)
    ag = gain.groupby(g["k"]).transform(
        lambda s: s.rolling(n, min_periods=n).mean()
    )
    al = loss.groupby(g["k"]).transform(
        lambda s: s.rolling(n, min_periods=n).mean()
    )
    tot = ag + al
    exp = 100 * ag / tot.where(tot != 0)
    _assert_close(got["rsi"], exp, "rsi")


def test_rsi_flat_and_monotone_goldens(spark):
    """A strictly rising series pins RSI = 100, a flat one pins null
    (0/0), and a strictly falling one pins 0."""
    rows = []
    for key, step in [("up", 1.0), ("flat", 0.0), ("down", -1.0)]:
        for i in range(6):
            rows.append((key, i, 50.0 + step * i))
    df = spark.createDataFrame(rows, "k string, i long, x double")
    got = {
        (r["k"], r["i"]): r["rsi"]
        for r in rsi_cutler(df, ["k"], ["i"], "x", n=3).collect()
    }
    assert got[("up", 5)] == pytest.approx(100.0)
    assert got[("down", 5)] == pytest.approx(0.0)
    assert got[("flat", 5)] is None
    assert got[("up", 2)] is None  # only 2 diffs in a 3-diff frame


def test_indicators_plan_one_exchange_no_python(series_df):
    pdf, df = series_df
    out = rsi_cutler(
        bollinger_bands(df, ["k"], ["i"], "x", n=20),
        ["k"], ["i"], "x", n=14,
    )
    plan = executed_plan(out)
    assert plan.count("Exchange") == 1
    assert "Python" not in plan and "MapInPandas" not in plan


def test_bollinger_rejects_bad_window(series_df):
    pdf, df = series_df
    with pytest.raises(ValueError, match="n >= 2"):
        bollinger_bands(df, ["k"], ["i"], "x", n=1)
    with pytest.raises(ValueError, match="n >= 1"):
        rsi_cutler(df, ["k"], ["i"], "x", n=0)
