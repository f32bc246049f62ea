"""Benchmark-forecast tests: fpp3 ch. 5 semantics pinned by hand-computed
goldens and a numpy oracle over random regular series."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.forecast import benchmark_forecast

from tests.conftest import assert_frames_equal, executed_plan

T0 = dt.datetime(2024, 1, 1)
DAY = dt.timedelta(days=1)


def _daily_pdf(seed=3, n=60, nkeys=3):
    rng = np.random.default_rng(seed)
    frames = []
    for k in range(nkeys):
        frames.append(
            pd.DataFrame(
                {
                    "k": np.full(n, k, dtype="int64"),
                    "ts": [T0 + i * DAY for i in range(n)],
                    "v": np.round(rng.normal(50, 10, n), 3),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


@pytest.fixture(scope="module")
def daily(spark):
    pdf = _daily_pdf()
    df = spark.createDataFrame(pdf)
    df.cache().count()
    return df, pdf


def _oracle(pdf: pd.DataFrame, horizon: int, m: int) -> pd.DataFrame:
    rows = []
    for k, g in pdf.groupby("k"):
        g = g.sort_values("ts", kind="stable")
        y = g["v"].to_numpy()
        last_ts = g["ts"].iloc[-1]
        n = len(y)
        for h in range(1, horizon + 1):
            ts = last_ts + h * DAY
            rows.append((k, "mean", h, ts, y.mean()))
            rows.append((k, "naive", h, ts, y[-1]))
            rows.append(
                (k, "drift", h, ts, y[-1] + h * (y[-1] - y[0]) / (n - 1))
            )
            kk = (h - 1) // m
            rows.append((k, "snaive", h, ts, y[n + h - m * (kk + 1) - 1]))
    return pd.DataFrame(
        rows, columns=["k", "method", "h", "ts", "forecast"]
    ).astype({"h": "int32"})


def test_benchmark_forecast_matches_numpy(spark, daily):
    df, pdf = daily
    got = benchmark_forecast(
        df, "k", "ts", "v", horizon=14, interval=1, unit="day",
        methods=("mean", "naive", "drift", "snaive"), season_length=7,
    ).withColumn("forecast", F.round("forecast", 9))
    exp = _oracle(pdf, 14, 7)
    exp["forecast"] = exp["forecast"].round(9)
    assert_frames_equal(got, exp, ["k", "method", "h"])


def test_fpp3_identities(spark):
    """Hand-computed goldens on y = [10, 20, 30, 40] (m=2, horizon 5):
    naive always 40; mean always 25; drift 40+10h; snaive alternates
    30, 40 starting at h=1 -> y_{T+1-2} = 30."""
    rows = [("a", T0 + i * DAY, float(v)) for i, v in enumerate([10, 20, 30, 40])]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = benchmark_forecast(
        df, "k", "ts", "v", horizon=5, interval=1, unit="day",
        methods=("mean", "naive", "drift", "snaive"), season_length=2,
    )
    got = {
        (r["method"], r["h"]): (r["forecast"], r["ts"]) for r in out.collect()
    }
    for h in range(1, 6):
        assert got[("naive", h)][0] == 40.0
        assert got[("mean", h)][0] == 25.0
        assert got[("drift", h)][0] == pytest.approx(40 + 10 * h)
        assert got[("snaive", h)][0] == (30.0 if h % 2 == 1 else 40.0)
        assert got[("naive", h)][1] == T0 + (3 + h) * DAY
    # 4 methods x 5 horizons, one key
    assert out.count() == 20


def test_drift_single_observation_null(spark):
    df = spark.createDataFrame([("a", T0, 5.0)], ["k", "ts", "v"])
    rows = benchmark_forecast(
        df, "k", "ts", "v", horizon=3, interval=1, unit="day",
        methods=("drift", "naive"),
    ).collect()
    drift = [r for r in rows if r["method"] == "drift"]
    naive = [r for r in rows if r["method"] == "naive"]
    assert all(r["forecast"] is None for r in drift)
    assert all(r["forecast"] == 5.0 for r in naive)


def test_nan_samples_ignored_like_nulls(spark):
    """A NaN sample is the same missing-value convention as NULL (the
    ar_forecast/holt_winters/acf family): it must not poison the mean,
    nor win the first/last struct-max tie-breaks (NaN sorts greatest in
    Spark, so an unfiltered NaN would become y_T for naive/drift)."""
    vals = [10.0, 20.0, float("nan"), 30.0, 40.0]
    rows = [("a", T0 + i * DAY, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    clean = spark.createDataFrame(
        [r for r in rows if r[2] == r[2]], ["k", "ts", "v"]
    )
    kwargs = dict(
        horizon=3, interval=1, unit="day", methods=("mean", "naive", "drift")
    )
    got = {
        (r["method"], r["h"]): r["forecast"]
        for r in benchmark_forecast(df, "k", "ts", "v", **kwargs).collect()
    }
    exp = {
        (r["method"], r["h"]): r["forecast"]
        for r in benchmark_forecast(clean, "k", "ts", "v", **kwargs).collect()
    }
    assert got == exp
    assert got[("mean", 1)] == pytest.approx(25.0)
    assert got[("naive", 1)] == 40.0


def test_snaive_requires_season(spark, daily):
    df, _ = daily
    with pytest.raises(ValueError, match="season_length"):
        benchmark_forecast(
            df, "k", "ts", "v", 3, 1, "day", methods=("snaive",)
        )
    with pytest.raises(ValueError, match="unknown method"):
        benchmark_forecast(df, "k", "ts", "v", 3, 1, "day", methods=("arima",))


def test_forecast_plan_no_python(spark, daily):
    df, _ = daily
    plan = executed_plan(benchmark_forecast(
        df, "k", "ts", "v", 7, 1, "day",
        methods=("mean", "naive", "drift", "snaive"), season_length=7,
    ))
    assert "Python" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


# ------------------------------------------------------------ backtest_accuracy


def _accuracy_oracle(pdf, test_steps, m):
    rows = []
    for k, g in pdf.groupby("k"):
        g = g.sort_values("ts", kind="stable")
        y = g["v"].to_numpy()
        train, test = y[:-test_steps], y[-test_steps:]
        n = len(train)
        q = np.abs(train[m:] - train[:-m]).mean()
        fcs = {
            "mean": np.full(test_steps, train.mean()),
            "naive": np.full(test_steps, train[-1]),
            "drift": train[-1]
            + np.arange(1, test_steps + 1) * (train[-1] - train[0]) / (n - 1),
            "snaive": np.array(
                [
                    train[n + h - m * ((h - 1) // m + 1) - 1]
                    for h in range(1, test_steps + 1)
                ]
            ),
        }
        for meth in fcs:
            e = test - fcs[meth]
            rows.append(
                {
                    "k": k,
                    "method": meth,
                    "mae": np.abs(e).mean(),
                    "rmse": np.sqrt((e**2).mean()),
                    "mape": np.abs(100 * e / test).mean(),
                    "mase": np.abs(e).mean() / q,
                }
            )
    return pd.DataFrame(rows)


def test_backtest_accuracy_matches_numpy(spark, daily):
    from tablecloth_time_spark.operators.forecast import backtest_accuracy

    df, pdf = daily
    got = backtest_accuracy(
        df, "k", "ts", "v", test_steps=14, interval=1, unit="day",
        methods=("mean", "naive", "snaive", "drift"), season_length=7,
    )
    got = got.select(
        "k", "method",
        *[F.round(c, 9).alias(c) for c in ("mae", "rmse", "mape", "mase")],
    )
    exp = _accuracy_oracle(pdf, 14, 7)
    for c in ("mae", "rmse", "mape", "mase"):
        exp[c] = exp[c].round(9)
    assert_frames_equal(got, exp, ["k", "method"])


def test_backtest_accuracy_perfect_forecast(spark):
    """A constant series: every method forecasts exactly -> zero error
    (MASE 0/0 -> null because the in-sample naive MAE is zero)."""
    from tablecloth_time_spark.operators.forecast import backtest_accuracy

    rows = [("a", T0 + i * DAY, 5.0) for i in range(20)]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = backtest_accuracy(
        df, "k", "ts", "v", test_steps=5, interval=1, unit="day"
    ).collect()
    assert len(out) == 3
    for r in out:
        assert r["mae"] == 0.0 and r["rmse"] == 0.0 and r["mape"] == 0.0
        assert r["mase"] is None  # 0/0 scale — undefined, surfaced as null


# -------------------------------------------------------------------- trend_fit


def test_trend_fit_exact_line(spark):
    """y = 3x + 7 on a daily axis: slope 3/day, r2 = 1, intercept matches
    the scaled-epoch axis value."""
    from tablecloth_time_spark.operators.stats import trend_fit

    rows = [("a", T0 + i * DAY, 7.0 + 3.0 * i) for i in range(30)]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    r = trend_fit(df, ["k"], "ts", "v", per="day").collect()[0]
    assert r["slope"] == pytest.approx(3.0)
    assert r["r2"] == pytest.approx(1.0)
    assert r["n"] == 30
    # intercept is at scaled-epoch 0: value at T0 minus slope * days(T0)
    days_t0 = (T0 - dt.datetime(1970, 1, 1)).days
    assert r["intercept"] == pytest.approx(7.0 - 3.0 * days_t0)


def test_trend_fit_matches_numpy(spark, daily):
    from tablecloth_time_spark.operators.stats import trend_fit

    df, pdf = daily
    got = {
        r["k"]: r for r in trend_fit(df, ["k"], "ts", "v", per="day").collect()
    }
    ep = dt.datetime(1970, 1, 1)
    for k, g in pdf.groupby("k"):
        x = np.array([(t - ep).total_seconds() / 86400 for t in g["ts"]])
        y = g["v"].to_numpy()
        slope, intercept = np.polyfit(x, y, 1)
        r = np.corrcoef(x, y)[0, 1]
        assert got[k]["slope"] == pytest.approx(slope, rel=1e-9)
        assert got[k]["intercept"] == pytest.approx(intercept, rel=1e-6)
        assert got[k]["r2"] == pytest.approx(r * r, rel=1e-9)


def test_trend_fit_plan_single_aggregate(spark, daily):
    from tablecloth_time_spark.operators.stats import trend_fit

    df, _ = daily
    plan = executed_plan(trend_fit(df, ["k"], "ts", "v"))
    assert plan.count("Exchange") == 1
    assert "Window" not in plan
    assert "Python" not in plan and "InPandas" not in plan


def test_calendar_monthly_forecast(spark):
    """Monthly grid (fpp3's native grain): future timestamps step by
    calendar months (Jan 31 month-ends would clamp — series sit on month
    floors), snaive repeats the final 12-month cycle."""
    vals = [float(10 + m) for m in range(24)]  # 2 years monthly
    rows = [
        ("a", dt.datetime(2022 + i // 12, i % 12 + 1, 1), v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = benchmark_forecast(
        df, "k", "ts", "v", horizon=6, interval=1, unit="month",
        methods=("naive", "snaive"), season_length=12,
    )
    got = {(r["method"], r["h"]): (r["ts"], r["forecast"]) for r in out.collect()}
    for h in range(1, 7):
        exp_ts = dt.datetime(2024, h, 1)
        assert got[("naive", h)] == (exp_ts, 33.0)
        # same month of the last observed year: value 22 + (h-1)
        assert got[("snaive", h)] == (exp_ts, float(22 + h - 1))


def test_calendar_forecast_preserves_time_of_day(spark):
    """Monthly grid at 09:00: forecasts step months but keep the clock
    time, so backtest_accuracy's timestamp join matches (review fix)."""
    from tablecloth_time_spark.operators.forecast import backtest_accuracy

    rows = [
        ("a", dt.datetime(2023, m, 1, 9, 0, 0), float(m)) for m in range(1, 13)
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    fc = benchmark_forecast(
        df, "k", "ts", "v", horizon=3, interval=1, unit="month",
        methods=("naive",),
    ).collect()
    assert {r["ts"] for r in fc} == {
        dt.datetime(2024, 1, 1, 9), dt.datetime(2024, 2, 1, 9),
        dt.datetime(2024, 3, 1, 9),
    }
    acc = backtest_accuracy(
        df, "k", "ts", "v", test_steps=3, interval=1, unit="month",
        methods=("naive",),
    ).collect()
    assert len(acc) == 1  # join matched — not silently empty
    # naive from train (v=9 at Sep): errors |10-9|,|11-9|,|12-9| -> MAE 2
    assert acc[0]["mae"] == pytest.approx(2.0)


def test_forecast_ignores_null_values(spark):
    """Null values (gap-filled grids with method='none') are excluded from
    T, endpoints, mean, and the snaive tail (review fix)."""
    rows = [
        ("a", T0, 10.0),
        ("a", T0 + 1 * DAY, None),
        ("a", T0 + 2 * DAY, 30.0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    got = {
        (r["method"], r["h"]): (r["forecast"], r["ts"])
        for r in benchmark_forecast(
            df, "k", "ts", "v", horizon=2, interval=1, unit="day",
            methods=("mean", "naive", "drift", "snaive"), season_length=2,
        ).collect()
    }
    # T=2 non-null obs: mean 20, naive 30, drift slope (30-10)/(2-1)=20
    assert got[("mean", 1)][0] == 20.0
    assert got[("naive", 1)][0] == 30.0
    assert got[("drift", 1)][0] == pytest.approx(50.0)
    assert got[("drift", 2)][0] == pytest.approx(70.0)
    # snaive tail = last 2 NON-NULL observations [10, 30]
    assert got[("snaive", 1)][0] == 10.0
    assert got[("snaive", 2)][0] == 30.0
    # horizons step from the last non-null observation's timestamp
    assert got[("naive", 1)][1] == T0 + 3 * DAY


def _ses_recurrence(y: np.ndarray, alpha: float) -> float:
    level = y[0]
    for v in y[1:]:
        level = alpha * v + (1 - alpha) * level
    return float(level)


def test_ses_matches_recurrence(spark, daily):
    """The closed-form weighted aggregate == the sequential recurrence
    l_t = a*y_t + (1-a)*l_{t-1}, l_1 = y_1 (independent python loop)."""
    df, pdf = daily
    for alpha in (0.1, 0.3, 0.8):
        got = {
            (r["k"], r["h"]): r["forecast"]
            for r in benchmark_forecast(
                df, "k", "ts", "v", horizon=3, interval=1, unit="day",
                methods=("ses",), alpha=alpha,
            ).collect()
        }
        for k, g in pdf.groupby("k"):
            y = g.sort_values("ts", kind="stable")["v"].to_numpy()
            want = _ses_recurrence(y, alpha)
            for h in (1, 2, 3):
                assert got[(k, h)] == pytest.approx(want, rel=1e-12), (
                    f"k={k} h={h} alpha={alpha}"
                )


def test_ses_identities(spark):
    """alpha=1 -> naive; single observation -> that observation."""
    rows = [("a", T0 + i * DAY, float(v)) for i, v in enumerate([10, 20, 30])]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    got = {
        r["h"]: r["forecast"]
        for r in benchmark_forecast(
            df, "k", "ts", "v", 2, 1, "day", methods=("ses",), alpha=1.0
        ).collect()
    }
    assert got[1] == 30.0 and got[2] == 30.0

    one = spark.createDataFrame([("a", T0, 5.0)], ["k", "ts", "v"])
    got1 = benchmark_forecast(
        one, "k", "ts", "v", 2, 1, "day", methods=("ses",), alpha=0.4
    ).collect()
    assert all(r["forecast"] == 5.0 for r in got1)

    with pytest.raises(ValueError, match="alpha"):
        benchmark_forecast(
            df, "k", "ts", "v", 2, 1, "day", methods=("ses",), alpha=0.0
        )


def test_ses_plan_no_python(spark, daily):
    df, _ = daily
    plan = executed_plan(benchmark_forecast(
        df, "k", "ts", "v", 7, 1, "day", methods=("ses",),
    ))
    assert "Python" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_backtest_accuracy_includes_ses(spark, daily):
    from tablecloth_time_spark.operators.forecast import backtest_accuracy

    df, pdf = daily
    out = backtest_accuracy(
        df, "k", "ts", "v", test_steps=7, interval=1, unit="day",
        methods=("naive", "ses"), alpha=0.3,
    ).collect()
    methods = {r["method"] for r in out}
    assert methods == {"naive", "ses"}
    # independent re-derivation of one key's SES MAE
    g = pdf[pdf["k"] == 0].sort_values("ts", kind="stable")
    y = g["v"].to_numpy()
    level = _ses_recurrence(y[:-7], 0.3)
    mae = float(np.mean(np.abs(y[-7:] - level)))
    got = {r["k"]: r["mae"] for r in out if r["method"] == "ses"}
    assert got[0] == pytest.approx(mae, rel=1e-9)


def _theta_closed_form(y: np.ndarray, alpha: float, h: int) -> float:
    """Independent theta oracle: recurrence SES level + the Hyndman &
    Billah 2003 drift term with the OLS slope of y on t = 1..T."""
    T = len(y)
    level = _ses_recurrence(y, alpha)
    t = np.arange(1, T + 1, dtype="float64")
    b = float(np.polyfit(t, y, 1)[0])
    mult = (h - 1) + 1.0 / alpha - (1.0 - alpha) ** T / alpha
    return level + mult * (b / 2.0)


def test_theta_matches_closed_form(spark, daily):
    """Engine theta == independent recurrence-SES + polyfit-slope oracle
    across alphas and horizons."""
    df, pdf = daily
    for alpha in (0.1, 0.3, 0.8):
        got = {
            (r["k"], r["h"]): r["forecast"]
            for r in benchmark_forecast(
                df, "k", "ts", "v", horizon=3, interval=1, unit="day",
                methods=("theta",), alpha=alpha,
            ).collect()
        }
        for k, g in pdf.groupby("k"):
            y = g.sort_values("ts", kind="stable")["v"].to_numpy()
            for h in (1, 2, 3):
                want = _theta_closed_form(y, alpha, h)
                assert got[(k, h)] == pytest.approx(want, rel=1e-9), (
                    f"k={k} h={h} alpha={alpha}"
                )


def test_theta_identities(spark):
    """Linear series: theta's SES+drift tracks the trend (forecast grows
    with h); constant series: slope 0 -> theta == ses level; T=1 ->
    null forecast (slope undefined)."""
    rows = [("a", T0 + i * DAY, 10.0 + 5.0 * i) for i in range(12)]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    got = {
        r["h"]: r["forecast"]
        for r in benchmark_forecast(
            df, "k", "ts", "v", 3, 1, "day", methods=("theta",), alpha=0.3
        ).collect()
    }
    # exact-trend input: each horizon step adds b/2 = 2.5
    assert got[2] - got[1] == pytest.approx(2.5, abs=1e-9)
    assert got[3] - got[2] == pytest.approx(2.5, abs=1e-9)

    const = spark.createDataFrame(
        [("a", T0 + i * DAY, 7.0) for i in range(5)], ["k", "ts", "v"]
    )
    out = benchmark_forecast(
        const, "k", "ts", "v", 2, 1, "day", methods=("theta", "ses"),
        alpha=0.3,
    ).collect()
    vals = {(r["method"], r["h"]): r["forecast"] for r in out}
    assert vals[("theta", 1)] == pytest.approx(vals[("ses", 1)], abs=1e-12)

    one = spark.createDataFrame([("a", T0, 5.0)], ["k", "ts", "v"])
    got1 = benchmark_forecast(
        one, "k", "ts", "v", 2, 1, "day", methods=("theta",), alpha=0.4
    ).collect()
    assert all(r["forecast"] is None for r in got1)


def test_theta_plan_no_python(spark, daily):
    df, _ = daily
    plan = executed_plan(benchmark_forecast(
        df, "k", "ts", "v", 7, 1, "day", methods=("theta",),
    ))
    assert "Python" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def _brown_recurrence(y: np.ndarray, alpha: float, h: int) -> float:
    """Independent Brown double-smoothing oracle: run BOTH recurrences
    sequentially (s2 smooths the s1 levels), then level/trend/extend."""
    s1 = s2 = float(y[0])
    for x in y[1:]:
        s1 = alpha * float(x) + (1.0 - alpha) * s1
        s2 = alpha * s1 + (1.0 - alpha) * s2
    level = 2.0 * s1 - s2
    trend = alpha / (1.0 - alpha) * (s1 - s2)
    return level + h * trend


def test_brown_matches_recurrence(spark, daily):
    """Engine Brown (one weighted-aggregate pass) == the sequential
    double-recurrence oracle across alphas and horizons."""
    df, pdf = daily
    for alpha in (0.1, 0.3, 0.8):
        got = {
            (r["k"], r["h"]): r["forecast"]
            for r in benchmark_forecast(
                df, "k", "ts", "v", horizon=3, interval=1, unit="day",
                methods=("brown",), alpha=alpha,
            ).collect()
        }
        for k, g in pdf.groupby("k"):
            y = g.sort_values("ts", kind="stable")["v"].to_numpy()
            for h in (1, 2, 3):
                want = _brown_recurrence(y, alpha, h)
                assert got[(k, h)] == pytest.approx(want, rel=1e-9), (
                    f"k={k} h={h} alpha={alpha}"
                )


def test_brown_identities(spark):
    """Constant series: s1 == s2 -> zero trend, forecast == the constant
    at every horizon; single observation: level = y_1, trend 0 -> flat
    y_1 (Brown is defined at T=1, unlike drift/theta); alpha=1 raises."""
    const = spark.createDataFrame(
        [("a", T0 + i * DAY, 7.0) for i in range(6)], ["k", "ts", "v"]
    )
    got = benchmark_forecast(
        const, "k", "ts", "v", 3, 1, "day", methods=("brown",), alpha=0.3
    ).collect()
    assert all(r["forecast"] == pytest.approx(7.0, abs=1e-12) for r in got)

    one = spark.createDataFrame([("a", T0, 5.0)], ["k", "ts", "v"])
    got1 = benchmark_forecast(
        one, "k", "ts", "v", 2, 1, "day", methods=("brown",), alpha=0.4
    ).collect()
    assert [r["forecast"] for r in sorted(got1, key=lambda r: r["h"])] == [
        pytest.approx(5.0, abs=1e-12),
        pytest.approx(5.0, abs=1e-12),
    ]

    with pytest.raises(ValueError, match="brown requires"):
        benchmark_forecast(
            one, "k", "ts", "v", 2, 1, "day", methods=("brown",), alpha=1.0
        )


def test_brown_tracks_exact_trend(spark):
    """On an exactly linear series Brown's trend estimate converges to
    the true slope — with 40 observations at alpha=0.5 the per-step
    forecast increment is the true slope to <1e-6 relative error."""
    rows = [("a", T0 + i * DAY, 10.0 + 5.0 * i) for i in range(40)]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    got = {
        r["h"]: r["forecast"]
        for r in benchmark_forecast(
            df, "k", "ts", "v", 3, 1, "day", methods=("brown",), alpha=0.5
        ).collect()
    }
    assert got[2] - got[1] == pytest.approx(5.0, rel=1e-6)
    assert got[3] - got[2] == pytest.approx(5.0, rel=1e-6)


def test_brown_plan_no_python(spark, daily):
    df, _ = daily
    plan = executed_plan(benchmark_forecast(
        df, "k", "ts", "v", 7, 1, "day", methods=("brown",),
    ))
    assert "Python" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_croston_matches_recurrences(spark):
    """Engine Croston (one window pass + one hash agg) == sequential SES
    recurrences over demand sizes and inter-demand intervals, classic and
    SBA variants; single-demand keys yield null p_hat/forecast."""
    from tablecloth_time_spark.operators.forecast import croston_forecast

    rng = np.random.default_rng(9)
    rows, series = [], {}
    for key, n_days in (("a", 120), ("b", 10), ("c", 60)):
        dense = np.where(
            rng.random(n_days) < 0.15, rng.integers(1, 9, n_days), 0
        ).astype(float)
        if key == "b":
            dense[:] = 0.0
            dense[5] = 4.0  # single demand
        series[key] = dense
        rows += [
            (key, T0 + t * DAY, float(dense[t]))
            for t in range(n_days) if dense[t] != 0
        ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])

    alpha = 0.2
    for variant in ("classic", "sba"):
        got = {
            r["k"]: (r["n_demands"], r["z_hat"], r["p_hat"], r["forecast"])
            for r in croston_forecast(
                df, "k", "ts", "v", 1, "day", alpha=alpha, variant=variant
            ).collect()
        }
        for key, dense in series.items():
            idx = np.flatnonzero(dense)
            z = dense[idx]
            zh = z[0]
            for x in z[1:]:
                zh = alpha * x + (1 - alpha) * zh
            n, gz, gp, gf = got[key]
            assert n == len(idx)
            if len(idx) < 2:
                assert gp is None and gf is None
                continue
            p = np.diff(idx).astype(float)
            ph = p[0]
            for x in p[1:]:
                ph = alpha * x + (1 - alpha) * ph
            fc = zh / ph * ((1 - alpha / 2) if variant == "sba" else 1.0)
            assert gz == pytest.approx(zh, rel=1e-12), (key, variant)
            assert gp == pytest.approx(ph, rel=1e-12), (key, variant)
            assert gf == pytest.approx(fc, rel=1e-12), (key, variant)


def test_croston_validation_and_plan(spark):
    """Calendar units and bad alpha/variant are rejected; the plan is one
    Exchange (the per-key window sort), no Python."""
    from tablecloth_time_spark.operators.forecast import croston_forecast

    df = spark.createDataFrame(
        [("a", T0, 2.0), ("a", T0 + 3 * DAY, 1.0)], ["k", "ts", "v"]
    )
    with pytest.raises(ValueError, match="calendar units"):
        croston_forecast(df, "k", "ts", "v", 1, "month")
    with pytest.raises(ValueError, match="croston requires"):
        croston_forecast(df, "k", "ts", "v", 1, "day", alpha=0.0)
    with pytest.raises(ValueError, match="variant"):
        croston_forecast(df, "k", "ts", "v", 1, "day", variant="tsb")

    out = croston_forecast(df, "k", "ts", "v", 1, "day", alpha=0.5)
    # plan BEFORE execution: post-collect AQE toString appends the
    # initial plan again, double-counting the Exchange
    plan = executed_plan(out)
    assert "Python" not in plan and "InPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 1

    row = out.collect()[0]
    # z SES: 0.5*1 + 0.5*2 = 1.5; single interval 3 days -> p_hat 3
    assert row["z_hat"] == pytest.approx(1.5, abs=1e-12)
    assert row["p_hat"] == pytest.approx(3.0, abs=1e-12)
    assert row["forecast"] == pytest.approx(0.5, abs=1e-12)


# ---------------------------------------------------------------- holt


def _holt_ref(y, alpha, beta, phi):
    """Sequential Holt recurrence — the oracle the closed form must match."""
    l, b = y[1], y[1] - y[0]
    for t in range(2, len(y)):
        l_new = alpha * y[t] + (1 - alpha) * (l + phi * b)
        b = beta * (l_new - l) + (1 - beta) * phi * b
        l = l_new
    return l, b


def _holt_fc(y, alpha, beta, phi, h):
    l, b = _holt_ref(y, alpha, beta, phi)
    mult = h if phi == 1.0 else phi * (1 - phi**h) / (1 - phi)
    return l + mult * b


@pytest.mark.parametrize(
    "alpha,beta,phi",
    [
        (0.3, 0.1, 1.0),   # complex eigenvalues (disc < 0)
        (0.8, 0.2, 1.0),   # real distinct eigenvalues
        (0.5, 0.5, 0.9),   # damped, complex
        (0.9, 0.05, 0.8),  # damped, real distinct
        (1.0, 0.3, 1.0),   # alpha=1: det=0, real distinct with l2=0
    ],
)
def test_holt_matches_recurrence(spark, daily, alpha, beta, phi):
    """The Cayley-Hamilton weighted sum must equal the sequential Holt
    recurrence across all three discriminant branches and damping."""
    from tablecloth_time_spark.operators.forecast import holt_forecast

    df, pdf = daily
    got = (
        holt_forecast(df, "k", "ts", "v", 4, 1, "day",
                      alpha=alpha, beta=beta, phi=phi)
        .toPandas()
        .sort_values(["k", "h"], kind="stable")
        .reset_index(drop=True)
    )
    exp_method = "holt" if phi == 1.0 else "holt_damped"
    assert (got["method"] == exp_method).all()
    for k, g in pdf.groupby("k"):
        y = g.sort_values("ts", kind="stable")["v"].to_numpy()
        last_ts = g["ts"].max()
        sub = got[got["k"] == k]
        assert list(sub["h"]) == [1, 2, 3, 4]
        for _, row in sub.iterrows():
            exp = _holt_fc(y, alpha, beta, phi, int(row["h"]))
            assert row["forecast"] == pytest.approx(exp, rel=1e-9, abs=1e-9)
            assert row["ts"] == last_ts + int(row["h"]) * DAY


def test_holt_repeated_root_branch(spark):
    """Parameters sitting exactly on disc == 0 exercise the repeated-root
    (p_j = j l^(j-1)) branch, including its j=0 guard."""
    from tablecloth_time_spark.operators.forecast import holt_forecast

    # disc = 0  <=>  tr^2 = 4 det; with phi=1: (2 - a - aB)^2 = 4(1-a).
    # Pick a = 0.75 -> tr must be 1 -> B = (2 - a - 1)/a = 1/3.
    alpha, beta, phi = 0.75, (2 - 0.75 - 1.0) / 0.75, 1.0
    tr = (1 - alpha) + phi * (1 - alpha * beta)
    det = phi * (1 - alpha)
    assert abs(tr * tr - 4 * det) < 1e-12
    rng = np.random.default_rng(2)
    y = np.round(rng.normal(100, 5, 40), 3)
    pdf = pd.DataFrame(
        {"k": 1, "ts": [T0 + i * DAY for i in range(40)], "v": y}
    )
    got = (
        holt_forecast(spark.createDataFrame(pdf), "k", "ts", "v", 3, 1,
                      "day", alpha=alpha, beta=beta, phi=phi)
        .toPandas()
        .sort_values("h")
    )
    for _, row in got.iterrows():
        exp = _holt_fc(y, alpha, beta, phi, int(row["h"]))
        assert row["forecast"] == pytest.approx(exp, rel=1e-9)


def test_holt_short_series_and_nulls(spark):
    """T=2 reduces to the exact two-point line; T=1 -> null forecast;
    null values are ignored entirely (they don't break the weighting)."""
    from tablecloth_time_spark.operators.forecast import holt_forecast

    pdf = pd.DataFrame(
        {
            "k": [1, 1, 2, 3, 3, 3],
            "ts": [T0, T0 + DAY, T0, T0, T0 + DAY, T0 + 2 * DAY],
            "v": [10.0, 14.0, 5.0, 1.0, None, 3.0],
        }
    )
    got = (
        holt_forecast(spark.createDataFrame(pdf), "k", "ts", "v", 2, 1,
                      "day", alpha=0.4, beta=0.2)
        .toPandas()
        .sort_values(["k", "h"], kind="stable")
        .set_index(["k", "h"])
    )
    # T=2: l=y2, b=y2-y1 exactly -> yhat = y2 + h*(y2-y1)
    assert got.loc[(1, 1), "forecast"] == pytest.approx(18.0)
    assert got.loc[(1, 2), "forecast"] == pytest.approx(22.0)
    # T=1: no trend to initialize
    assert pd.isna(got.loc[(2, 1), "forecast"])
    # null row dropped -> key 3 is a T=2 series on (1.0, 3.0)
    assert got.loc[(3, 1), "forecast"] == pytest.approx(5.0)
    # future timestamps step from the last NON-NULL observation
    assert got.loc[(3, 1)]["ts"] == T0 + 3 * DAY


def test_holt_brown_equivalence(spark, daily):
    """Brown DES is Holt with l_0/b_0 from Brown's init — not identical
    initialization, so check the ASYMPTOTIC equivalence instead: with
    beta = alpha/(2-alpha) and phi=1 on a LONG series, Holt and Brown
    forecasts converge (both decay their init mass geometrically)."""
    from tablecloth_time_spark.operators.forecast import (
        benchmark_forecast,
        holt_forecast,
    )

    df, _ = daily
    alpha = 0.6  # fast decay so 60 points is "long"
    # Brown(a) == Holt(alpha', beta') with alpha' = a(2-a), beta' = a/(2-a)
    a_h, b_h = alpha * (2 - alpha), alpha / (2 - alpha)
    holt = (
        holt_forecast(df, "k", "ts", "v", 3, 1, "day", alpha=a_h, beta=b_h)
        .toPandas()
        .sort_values(["k", "h"], kind="stable")
        .reset_index(drop=True)
    )
    brown = (
        benchmark_forecast(df, "k", "ts", "v", 3, 1, "day",
                           methods=("brown",), alpha=alpha)
        .toPandas()
        .sort_values(["k", "h"], kind="stable")
        .reset_index(drop=True)
    )
    assert np.allclose(holt["forecast"], brown["forecast"], rtol=1e-6)


def test_holt_plan_no_python(spark, daily):
    """The holt plan is pure window + hash aggregate: no Python, no
    BatchEvalPython / MapInPandas anywhere."""
    from tablecloth_time_spark.operators.forecast import holt_forecast

    df, _ = daily
    plan = executed_plan(holt_forecast(
        df, "k", "ts", "v", 3, 1, "day"
    ))
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "ArrowEvalPython" not in plan


def test_holt_validates_params(spark, daily):
    from tablecloth_time_spark.operators.forecast import holt_forecast

    df, _ = daily
    with pytest.raises(ValueError, match="0 < alpha"):
        holt_forecast(df, "k", "ts", "v", 2, 1, "day", alpha=0.0)
    with pytest.raises(ValueError, match="0 <= beta"):
        holt_forecast(df, "k", "ts", "v", 2, 1, "day", beta=1.5)
    with pytest.raises(ValueError, match="0 < phi"):
        holt_forecast(df, "k", "ts", "v", 2, 1, "day", phi=0.0)


def test_backtest_accuracy_includes_holt(spark, daily):
    """holt_params unions Holt into the backtest frame under identical
    scoring; MAE re-derived independently from the sequential recurrence
    on the training prefix."""
    from tablecloth_time_spark.operators.forecast import backtest_accuracy

    df, pdf = daily
    out = backtest_accuracy(
        df, "k", "ts", "v", test_steps=7, interval=1, unit="day",
        methods=("naive",), holt_params={"alpha": 0.5, "beta": 0.2},
    ).collect()
    assert {r["method"] for r in out} == {"naive", "holt"}
    g = pdf[pdf["k"] == 0].sort_values("ts", kind="stable")
    y = g["v"].to_numpy()
    fcs = np.array(
        [_holt_fc(y[:-7], 0.5, 0.2, 1.0, h) for h in range(1, 8)]
    )
    mae = float(np.mean(np.abs(y[-7:] - fcs)))
    got = {r["k"]: r["mae"] for r in out if r["method"] == "holt"}
    assert got[0] == pytest.approx(mae, rel=1e-9)


# ----------------------------------------------------------------- ar


def _ar_ref(y, p, horizon):
    """Numpy mirror of ar_forecast: biased-ACF Yule-Walker closed form
    (p in {1,2}) + the deviation recursion."""
    y = np.asarray(y, dtype="float64")
    mu = y.mean()
    yc = y - mu
    denom = float(yc @ yc)
    r = [float(yc[k:] @ yc[:-k]) / denom for k in (1, 2)]
    if p == 1:
        f1, f2 = r[0], 0.0
    else:
        one = 1.0 - r[0] * r[0]
        f1 = r[0] * (1.0 - r[1]) / one
        f2 = (r[1] - r[0] * r[0]) / one
    d_prev, d_prev2 = y[-1] - mu, y[-2] - mu
    out = []
    for _ in range(horizon):
        d = f1 * d_prev + f2 * d_prev2
        out.append(mu + d)
        d_prev2, d_prev = d_prev, d
    return out


@pytest.mark.parametrize("p", [1, 2])
def test_ar_forecast_matches_numpy(spark, daily, p):
    from tablecloth_time_spark.operators.forecast import ar_forecast

    df, pdf = daily
    got = (
        ar_forecast(df, "k", "ts", "v", 5, 1, "day", p=p)
        .toPandas()
        .sort_values(["k", "h"], kind="stable")
        .reset_index(drop=True)
    )
    assert (got["method"] == f"ar{p}").all()
    for k, g in pdf.groupby("k"):
        g = g.sort_values("ts", kind="stable")
        exp = _ar_ref(g["v"].to_numpy(), p, 5)
        sub = got[got["k"] == k].reset_index(drop=True)
        assert list(sub["h"]) == [1, 2, 3, 4, 5]
        for i in range(5):
            assert sub.loc[i, "forecast"] == pytest.approx(
                exp[i], rel=1e-9
            ), (k, p, i)
            assert sub.loc[i, "ts"] == g["ts"].max() + (i + 1) * DAY


def test_ar2_recovers_planted_coefficients(spark):
    """On a long simulated AR(2) series the Yule-Walker fit must land
    near the generating coefficients — the statistical sanity check on
    top of the exact-parity oracle."""
    from tablecloth_time_spark.operators.forecast import ar_forecast

    rng = np.random.default_rng(8)
    f1, f2 = 0.6, -0.3
    n = 4000
    y = np.zeros(n)
    for t in range(2, n):
        y[t] = f1 * y[t - 1] + f2 * y[t - 2] + rng.normal(0, 1)
    pdf = pd.DataFrame(
        {"k": 1, "ts": [T0 + i * DAY for i in range(n)], "v": y + 100}
    )
    exp = _ar_ref(pdf["v"].to_numpy(), 2, 3)
    got = (
        ar_forecast(spark.createDataFrame(pdf), "k", "ts", "v", 3, 1,
                    "day", p=2)
        .toPandas().sort_values("h")
    )
    for i, row in enumerate(got.itertuples()):
        assert row.forecast == pytest.approx(exp[i], rel=1e-9)
    # the implied phis steer h=1 close to the true one-step expectation
    mu = pdf["v"].mean()
    true_next = mu + f1 * (pdf["v"].iloc[-1] - mu) + f2 * (
        pdf["v"].iloc[-2] - mu
    )
    assert abs(got["forecast"].iloc[0] - true_next) < 1.0


def test_ar_forecast_degenerate_cases(spark):
    from tablecloth_time_spark.operators.forecast import ar_forecast

    pdf = pd.DataFrame(
        {
            "k": [1, 1, 1, 2, 2, 2, 2],
            "ts": [T0 + i * DAY for i in range(3)]
            + [T0 + i * DAY for i in range(4)],
            "v": [5.0, 6.0, 7.0, 3.0, 3.0, 3.0, 3.0],
        }
    )
    got = (
        ar_forecast(spark.createDataFrame(pdf), "k", "ts", "v", 2, 1,
                    "day", p=2)
        .toPandas().set_index(["k", "h"])
    )
    # k=1: T=3 < p+2 -> null; k=2: constant series, zero variance -> null
    assert got["forecast"].isna().all()
    with pytest.raises(ValueError, match="p in"):
        ar_forecast(spark.createDataFrame(pdf), "k", "ts", "v", 2, 1,
                    "day", p=3)


def test_ar_forecast_plan_no_python(spark, daily):
    from tablecloth_time_spark.operators.forecast import ar_forecast

    df, _ = daily
    plan = executed_plan(ar_forecast(df, "k", "ts", "v", 5, 1, "day"))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_backtest_accuracy_includes_ar(spark, daily):
    from tablecloth_time_spark.operators.forecast import backtest_accuracy

    df, pdf = daily
    out = backtest_accuracy(
        df, "k", "ts", "v", test_steps=7, interval=1, unit="day",
        methods=("naive",), ar_params={"p": 2},
    ).collect()
    assert {r["method"] for r in out} == {"naive", "ar2"}
    g = pdf[pdf["k"] == 0].sort_values("ts", kind="stable")
    y = g["v"].to_numpy()
    fcs = np.array(_ar_ref(y[:-7], 2, 7))
    mae = float(np.mean(np.abs(y[-7:] - fcs)))
    got = {r["k"]: r["mae"] for r in out if r["method"] == "ar2"}
    assert got[0] == pytest.approx(mae, rel=1e-9)


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal (Arrow kernel over the bucketed series)
# ---------------------------------------------------------------------------


def _hw_oracle(y, m, horizon, alpha, beta, gamma):
    """Independent python re-derivation of the documented classical
    convention (scalar loop, no numpy state)."""
    l = sum(y[:m]) / m
    b = (sum(y[m:2 * m]) / m - sum(y[:m]) / m) / m
    s = [float(v) - l for v in y[:m]]
    for t in range(m, len(y)):
        lp, bp = l, b
        l = alpha * (y[t] - s[t - m]) + (1 - alpha) * (lp + bp)
        b = beta * (l - lp) + (1 - beta) * bp
        s.append(gamma * (y[t] - lp - bp) + (1 - gamma) * s[t - m])
    out = []
    n = len(y)
    for h in range(1, horizon + 1):
        k_back = (h - 1) // m + 1
        out.append(l + h * b + s[n - 1 + h - m * k_back])
    return out


def test_holt_winters_matches_scalar_oracle(spark):
    from tablecloth_time_spark.operators.forecast import holt_winters_forecast

    rng = np.random.default_rng(19)
    m, horizon = 7, 10
    frames = []
    expect = {}
    t0 = dt.datetime(2024, 1, 1)
    for key, n in [("a", 60), ("b", 35), ("short", 10)]:
        y = (
            20
            + 0.3 * np.arange(n)
            + 5 * np.sin(2 * np.pi * np.arange(n) / m)
            + rng.normal(0, 0.5, n)
        )
        frames.append(
            pd.DataFrame(
                {
                    "k": key,
                    "ts": [t0 + dt.timedelta(days=i) for i in range(n)],
                    "y": y,
                }
            )
        )
        expect[key] = (
            _hw_oracle(list(y), m, horizon, 0.4, 0.2, 0.3)
            if n >= 2 * m
            else []
        )
    sdf = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    out = holt_winters_forecast(
        sdf, "k", "ts", "y", horizon, 1, "day", m,
        alpha=0.4, beta=0.2, gamma=0.3,
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r["k"], {})[r["h"]] = (r["forecast"], r["ts"])
    assert "short" not in got  # < 2 seasons emits nothing
    for key, exp in expect.items():
        if not exp:
            continue
        for h in range(1, horizon + 1):
            fc, ts = got[key][h]
            assert fc == pytest.approx(exp[h - 1], rel=1e-12), (key, h)
        # future timestamps step the daily grid
        n = 60 if key == "a" else 35
        assert got[key][1][1] == t0 + dt.timedelta(days=n)


def test_holt_winters_exact_on_trendless_seasonal(spark):
    """A purely seasonal, zero-trend series is reproduced EXACTLY: the
    classical init recovers (level, 0, seasonals) and the recurrence is
    a fixed point, so every forecast continues the pattern."""
    from tablecloth_time_spark.operators.forecast import holt_winters_forecast

    m = 4
    pattern = [3.0, -1.0, -2.0, 0.0]  # sums to zero
    level = 10.0
    y = [level + pattern[i % m] for i in range(24)]
    sdf = spark.createDataFrame(
        [("k", dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), v)
         for i, v in enumerate(y)],
        "k string, ts timestamp, y double",
    )
    out = holt_winters_forecast(
        sdf, "k", "ts", "y", 8, 1, "hour", m, alpha=0.5, beta=0.3, gamma=0.2
    ).collect()
    for r in out:
        want = level + pattern[(24 + r["h"] - 1) % m]
        assert r["forecast"] == pytest.approx(want, abs=1e-9), r["h"]


def test_holt_winters_validation(spark):
    from tablecloth_time_spark.operators.forecast import holt_winters_forecast

    sdf = spark.createDataFrame(
        [("k", dt.datetime(2024, 1, 1), 1.0)],
        "k string, ts timestamp, y double",
    )
    with pytest.raises(ValueError, match="season_length"):
        holt_winters_forecast(sdf, "k", "ts", "y", 3, 1, "day", 1)
    with pytest.raises(ValueError, match="alpha"):
        holt_winters_forecast(sdf, "k", "ts", "y", 3, 1, "day", 7, alpha=1.0)
    with pytest.raises(ValueError, match="horizon"):
        holt_winters_forecast(sdf, "k", "ts", "y", 0, 1, "day", 7)
