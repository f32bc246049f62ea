"""predict_linear / rolling_corr vs direct numpy re-derivations.

Both are trailing-RANGE-frame members of the rolling plan class; the
oracles here recompute each row's frame by brute force (numpy polyfit /
corrcoef over the explicit [ts - w, ts] slice) — independent of Spark's
regr_*/corr moment algebra.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tablecloth_time_spark.operators.rolling import rolling_corr
from tablecloth_time_spark.operators.stats import predict_linear
from tests.conftest import executed_plan

HOUR_MS = 3_600_000


@pytest.fixture(scope="module")
def series_df(spark):
    """Two keys, irregular timestamps (incl. exact duplicates), two
    correlated-then-decoupled value columns, a few nulls."""
    rng = np.random.default_rng(7)
    frames = []
    for key, n in [("a", 240), ("b", 60)]:
        # irregular gaps 1..40 min, with some duplicate timestamps
        gaps = rng.integers(1, 41, size=n) * 60_000
        gaps[rng.random(n) < 0.05] = 0  # exact ties -> frame peers
        ts = 1_700_000_000_000 + np.cumsum(gaps)
        x = np.cumsum(rng.normal(0.5, 2.0, size=n)) + 100
        y = x * 0.8 + rng.normal(0, 0.5, size=n)
        y[n // 2:] = rng.normal(50, 5, size=n - n // 2)  # decouple late half
        x[rng.random(n) < 0.04] = np.nan
        y[rng.random(n) < 0.04] = np.nan
        frames.append(
            pd.DataFrame({"k": key, "ms": ts, "x": x, "y": y})
        )
    pdf = pd.concat(frames, ignore_index=True)
    pdf["ts"] = pd.to_datetime(pdf["ms"], unit="ms")
    df = spark.createDataFrame(pdf)
    # regr_*/corr skip NULL pairs but PROPAGATE NaN (it's a valid double);
    # the missing-data contract under test is null, so convert explicitly.
    import pyspark.sql.functions as F

    for c in ("x", "y"):
        df = df.withColumn(
            c, F.when(F.isnan(c), F.lit(None)).otherwise(F.col(c))
        )
    return pdf, df


def _frame_rows(g, i, w_ms):
    t = g["ms"].to_numpy()
    return g[(t >= t[i] - w_ms) & (t <= t[i])]


def test_predict_linear_matches_numpy(series_df):
    pdf, df = series_df
    w_ms, h_ms, per_ms = 4 * HOUR_MS, 1 * HOUR_MS, float(HOUR_MS)
    got = (
        predict_linear(df, ["k"], "ts", "x", (4, "hour"), (1, "hour"))
        .toPandas()
        .sort_values(["k", "ms"], kind="stable")
        .reset_index(drop=True)
    )
    exp_slope, exp_pred = [], []
    for _, g in pdf.sort_values(["k", "ms"], kind="stable").groupby(
        "k", sort=True
    ):
        g = g.reset_index(drop=True)
        for i in range(len(g)):
            fr = _frame_rows(g, i, w_ms).dropna(subset=["x"])
            xs = fr["ms"].to_numpy(float) / per_ms
            ys = fr["x"].to_numpy(float)
            if len(fr) < 2 or np.ptp(xs) == 0:
                exp_slope.append(np.nan)
                exp_pred.append(np.nan)
                continue
            # center before fitting — raw epoch magnitudes break polyfit's
            # normal equations long before they break regr_*'s co-moments
            x0 = xs.mean()
            sl, ic0 = np.polyfit(xs - x0, ys, 1)
            exp_slope.append(sl)
            x_now = g["ms"].iloc[i] / per_ms
            exp_pred.append(ic0 + sl * (x_now - x0 + h_ms / per_ms))
    for col, exp in [("slope", exp_slope), ("predicted", exp_pred)]:
        gv = got[col].to_numpy(float)
        ev = np.asarray(exp)
        assert (np.isnan(gv) == np.isnan(ev)).all(), f"{col} null mask"
        m = ~np.isnan(gv)
        assert np.allclose(gv[m], ev[m], rtol=1e-9, atol=1e-9), col


def test_predict_linear_exact_line_golden(spark):
    """On an exact line, every prediction IS the line one horizon ahead."""
    rows = [("k", i * HOUR_MS, 10.0 + 3.0 * i) for i in range(8)]
    df = spark.createDataFrame(rows, "k string, ms long, v double").select(
        "k", "ms", "v"
    )
    import pyspark.sql.functions as F

    df = df.withColumn("ts", F.timestamp_millis(F.col("ms")))
    out = (
        predict_linear(df, ["k"], "ts", "v", (3, "hour"), (2, "hour"))
        .orderBy("ms")
        .collect()
    )
    assert out[0]["slope"] is None and out[0]["predicted"] is None
    for i, r in enumerate(out[1:], start=1):
        assert r["slope"] == pytest.approx(3.0, rel=1e-12)
        assert r["predicted"] == pytest.approx(
            10.0 + 3.0 * (i + 2), rel=1e-12
        )


def test_predict_linear_zero_variance_null(spark):
    """Duplicate-timestamp-only frames (zero time variance) -> NULL."""
    import pyspark.sql.functions as F

    rows = [("k", 1000, 1.0), ("k", 1000, 2.0), ("k", 1000, 3.0)]
    df = spark.createDataFrame(rows, "k string, ms long, v double").withColumn(
        "ts", F.timestamp_millis(F.col("ms"))
    )
    out = predict_linear(df, ["k"], "ts", "v").collect()
    assert all(r["slope"] is None and r["predicted"] is None for r in out)


def test_predict_linear_validation(spark):
    import pyspark.sql.functions as F

    df = spark.createDataFrame([("k", 0, 1.0)], "k string, ms long, v double")
    df = df.withColumn("ts", F.timestamp_millis(F.col("ms")))
    with pytest.raises(ValueError, match="window must be > 0"):
        predict_linear(df, ["k"], "ts", "v", (0, "hour"))


def test_rolling_corr_matches_numpy(series_df):
    pdf, df = series_df
    w_ms = 6 * HOUR_MS
    got = (
        rolling_corr(df, ["k"], "ts", "x", "y", 6, "hour", min_periods=3)
        .toPandas()
        .sort_values(["k", "ms"], kind="stable")
        .reset_index(drop=True)
    )
    exp = []
    for _, g in pdf.sort_values(["k", "ms"], kind="stable").groupby(
        "k", sort=True
    ):
        g = g.reset_index(drop=True)
        for i in range(len(g)):
            fr = _frame_rows(g, i, w_ms).dropna(subset=["x", "y"])
            if len(fr) < 3:
                exp.append(np.nan)
                continue
            xs, ys = fr["x"].to_numpy(float), fr["y"].to_numpy(float)
            if xs.std() == 0 or ys.std() == 0:
                exp.append(np.nan)
                continue
            exp.append(np.corrcoef(xs, ys)[0, 1])
    gv, ev = got["corr"].to_numpy(float), np.asarray(exp)
    assert (np.isnan(gv) == np.isnan(ev)).all(), "null mask"
    m = ~np.isnan(gv)
    assert np.allclose(gv[m], ev[m], rtol=1e-9, atol=1e-12)


def test_rolling_corr_decoupling_golden(spark):
    """Perfectly coupled series read +1; after the relationship flips
    sign, the trailing window reads -1 once the old regime ages out."""
    import pyspark.sql.functions as F

    rows = []
    for i in range(12):
        x = float(i)
        y = 2.0 * x if i < 6 else -2.0 * x + 30.0
        rows.append(("k", i * HOUR_MS, x, y))
    df = spark.createDataFrame(
        rows, "k string, ms long, x double, y double"
    ).withColumn("ts", F.timestamp_millis(F.col("ms")))
    out = {
        r["ms"] // HOUR_MS: r["corr"]
        for r in rolling_corr(df, ["k"], "ts", "x", "y", 2, "hour").collect()
    }
    assert out[0] is None  # single-point frame
    assert out[5] == pytest.approx(1.0)  # last all-coupled frame ends at 5
    assert out[11] == pytest.approx(-1.0)  # fully in the flipped regime


def test_rolling_corr_validation(spark):
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [("k", 0, 1.0, 1.0)], "k string, ms long, x double, y double"
    ).withColumn("ts", F.timestamp_millis(F.col("ms")))
    with pytest.raises(ValueError, match="min_periods"):
        rolling_corr(df, ["k"], "ts", "x", "y", 1, "hour", min_periods=1)
    with pytest.raises(ValueError, match="width"):
        rolling_corr(df, ["k"], "ts", "x", "y", 0, "hour")


def test_regression_windows_plan_one_exchange_no_python(series_df):
    _, df = series_df
    for out in (
        predict_linear(df, ["k"], "ts", "x"),
        rolling_corr(df, ["k"], "ts", "x", "y", 6, "hour"),
    ):
        plan = executed_plan(out)
        assert plan.count("Exchange") == 1
        assert "Python" not in plan and "MapInPandas" not in plan


def test_rolling_corr_zero_variance_survives_ansi(spark):
    """A constant-valued stretch must yield NULL, not a DIVIDE_BY_ZERO
    job failure (Spark 4 ANSI kills the built-in corr aggregate here)."""
    import pyspark.sql.functions as F

    rows = [("k", i * HOUR_MS, 5.0, float(i)) for i in range(4)]
    df = spark.createDataFrame(
        rows, "k string, ms long, x double, y double"
    ).withColumn("ts", F.timestamp_millis(F.col("ms")))
    out = rolling_corr(df, ["k"], "ts", "x", "y", 2, "hour").collect()
    assert all(r["corr"] is None for r in out)
