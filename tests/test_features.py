"""series_features (operators/features.py) vs an independent numpy oracle.

Every feature is re-derived in numpy from its published definition
(tsfresh calculator semantics for abs_energy / absolute_sum_of_changes /
mean_abs_change / number_crossing_m / longest_strike_above_mean; the
classic population-moment and lag-1 sample ACF formulas), on a seeded
multi-key panel plus hand-built degenerate series.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.features import series_features
from tests.conftest import executed_plan


def _oracle(x: np.ndarray) -> dict:
    n = len(x)
    mean = x.sum() / n
    var = (x * x).sum() / n - mean * mean
    std = math.sqrt(var) if var > 0 else 0.0
    d = np.diff(x)
    out = {
        "n": n,
        "mean": mean,
        "std_pop": std,
        "abs_energy": float((x * x).sum()),
        "abs_sum_changes": float(np.abs(d).sum()) if n > 1 else None,
        "mean_abs_change": float(np.abs(d).mean()) if n > 1 else None,
    }
    if std > 0:
        c = x - mean
        out["skewness"] = float((c**3).mean() / std**3)
        out["kurtosis"] = float((c**4).mean() / var**2)
        out["autocorr1"] = (
            float((c[1:] * c[:-1]).sum() / (c * c).sum()) if n > 1 else None
        )
    else:
        out["skewness"] = out["kurtosis"] = out["autocorr1"] = None
    s = x - mean
    out["n_mean_crossings"] = int(((s[1:] * s[:-1]) < 0).sum()) if n > 1 else 0
    above = x > mean
    longest = cur = 0
    for a in above:
        cur = cur + 1 if a else 0
        longest = max(longest, cur)
    out["longest_above"] = longest
    return out


@pytest.fixture(scope="module")
def panel():
    rng = np.random.default_rng(7)
    rows = []
    t0 = dt.datetime(2024, 5, 1)
    series = {
        "sine": 10 + 3 * np.sin(np.arange(96) / 4.0) + rng.normal(0, 0.3, 96),
        "walk": np.cumsum(rng.normal(0, 1, 200)) + 50,
        "spiky": np.where(rng.random(150) < 0.1, 40.0, 1.0),
        "constant": np.full(30, 7.5),
        "single": np.array([3.25]),
        "pair": np.array([1.0, 2.0]),
    }
    for key, vals in series.items():
        for i, val in enumerate(vals):
            rows.append((key, t0 + dt.timedelta(minutes=i), i, float(val)))
    return pd.DataFrame(rows, columns=["k", "ts", "idx", "v"]), {
        k: np.asarray(v, dtype=np.float64) for k, v in series.items()
    }


def test_series_features_matches_numpy(spark, panel):
    pdf, series = panel
    df = spark.createDataFrame(pdf)
    got = (
        series_features(df, ["k"], "ts", "v", order_cols=["idx"])
        .toPandas()
        .set_index("k")
        .sort_index()
    )
    assert sorted(got.index) == sorted(series)
    for key, x in series.items():
        exp = _oracle(x)
        row = got.loc[key]
        for feat, want in exp.items():
            have = row[feat]
            if want is None:
                assert have is None or (
                    isinstance(have, float) and np.isnan(have)
                ), (key, feat, have)
            elif feat in ("n", "n_mean_crossings", "longest_above"):
                assert int(have) == int(want), (key, feat, have, want)
            else:
                assert have == pytest.approx(want, rel=1e-9, abs=1e-9), (
                    key, feat, have, want,
                )


def test_series_features_goldens(spark):
    # hand-built: mean 3.0; above-run of 2 (5,4); crossings at 1->5, 4->1,
    # 1->5 (the 3->? touches: 3 == mean counts as NO crossing)
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 6,
            "ts": pd.date_range("2024-01-01", periods=6, freq="1min"),
            "v": [1.0, 5.0, 4.0, 1.0, 5.0, 2.0],
        }
    )
    row = (
        series_features(spark.createDataFrame(pdf), ["k"], "ts", "v")
        .collect()[0]
        .asDict()
    )
    assert row["n"] == 6 and row["mean"] == pytest.approx(3.0)
    assert row["longest_above"] == 2
    assert row["n_mean_crossings"] == 4
    assert row["abs_sum_changes"] == pytest.approx(4 + 1 + 3 + 4 + 3)


def test_series_features_nan_and_null_dropped(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 5,
            "ts": pd.date_range("2024-01-01", periods=5, freq="1min"),
            "v": [1.0, float("nan"), None, 2.0, 3.0],
        }
    )
    row = (
        series_features(spark.createDataFrame(pdf), ["k"], "ts", "v")
        .collect()[0]
        .asDict()
    )
    assert row["n"] == 3
    assert row["abs_sum_changes"] == pytest.approx(2.0)  # gaps close up


def test_series_features_plan(spark, panel):
    pdf, _ = panel
    df = spark.createDataFrame(pdf)
    plan = executed_plan(series_features(df, ["k"], "ts", "v", order_cols=["idx"]))
    assert "Python" not in plan and "BatchEvalPython" not in plan
    # the raw data crosses the wire once: the per-key window Exchange;
    # everything after shuffles only per-key sums / (key, run) counts
    first = plan.find("Exchange")
    assert first != -1


def test_theil_sen_matches_numpy(spark):
    from tablecloth_time_spark.operators.features import theil_sen_trend

    rng = np.random.default_rng(11)
    rows = []
    t0 = dt.datetime(2024, 2, 1)
    truth = {}
    for key, (slope, noise) in {
        "up": (2.5, 0.2), "down": (-1.2, 0.5), "flat": (0.0, 0.1),
    }.items():
        days = 20
        y = slope * np.arange(days) + 10 + rng.normal(0, noise, days)
        truth[key] = y
        for d in range(days):
            # three raw rows per daily bucket; bucket mean is what matters
            for j, off in enumerate((1, 5, 9)):
                rows.append(
                    (key, t0 + dt.timedelta(days=d, hours=off),
                     float(y[d]) + (j - 1) * 0.3)
                )
    pdf = pd.DataFrame(rows, columns=["k", "ts", "v"])
    got = (
        theil_sen_trend(spark.createDataFrame(pdf), ["k"], "ts", "v")
        .toPandas().set_index("k")
    )
    for key, y in truth.items():
        # bucket means equal y[d] exactly ((-0.3 + 0 + 0.3)/3 == 0)
        x = np.arange(len(y), dtype=float)
        ms = [
            (y[j] - y[i]) / (x[j] - x[i])
            for i in range(len(y)) for j in range(i + 1, len(y))
        ]
        slope = float(np.median(ms))
        intercept = float(np.median(y - slope * x))
        row = got.loc[key]
        assert row["n_buckets"] == len(y)
        assert row["n_pairs"] == len(ms)
        assert row["slope"] == pytest.approx(slope, rel=1e-9, abs=1e-9)
        assert row["intercept"] == pytest.approx(intercept, rel=1e-9, abs=1e-9)


def test_theil_sen_robust_to_outlier(spark):
    from tablecloth_time_spark.operators.features import theil_sen_trend

    t0 = dt.datetime(2024, 2, 1)
    y = [float(3 * d + 5) for d in range(15)]
    y[7] = 1e6  # one corrupted bucket
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 15,
            "ts": [t0 + dt.timedelta(days=d) for d in range(15)],
            "v": y,
        }
    )
    row = (
        theil_sen_trend(spark.createDataFrame(pdf), ["k"], "ts", "v")
        .collect()[0]
    )
    assert row["slope"] == pytest.approx(3.0, abs=1e-9)
    assert row["intercept"] == pytest.approx(5.0, abs=1e-9)


def test_theil_sen_single_bucket_dropped(spark):
    from tablecloth_time_spark.operators.features import theil_sen_trend

    pdf = pd.DataFrame(
        {
            "k": ["solo", "pair", "pair"],
            "ts": [
                dt.datetime(2024, 2, 1),
                dt.datetime(2024, 2, 1),
                dt.datetime(2024, 2, 2),
            ],
            "v": [1.0, 2.0, 4.0],
        }
    )
    got = (
        theil_sen_trend(spark.createDataFrame(pdf), ["k"], "ts", "v")
        .toPandas()
    )
    assert list(got["k"]) == ["pair"]
    assert got["slope"][0] == pytest.approx(2.0)


def _np_acf(x: np.ndarray, k: int) -> float:
    c = x - x.mean()
    return float((c[k:] * c[:-k]).sum() / (c * c).sum())


def test_dominant_period_planted_seasonality(spark):
    from tablecloth_time_spark.operators.acf import dominant_period

    rng = np.random.default_rng(3)
    rows = []
    for key, period in (("p12", 12), ("p6", 6)):
        y = 5 + 2 * np.sin(2 * np.pi * np.arange(120) / period)
        y = y + rng.normal(0, 0.1, 120)
        rows += [(key, i, float(v)) for i, v in enumerate(y)]
    rows += [("short", 0, 1.0), ("short", 1, 2.0)]  # < min_lag+1 points
    pdf = pd.DataFrame(rows, columns=["k", "i", "v"])
    got = (
        dominant_period(spark.createDataFrame(pdf), ["k"], "i", "v",
                        max_lag=24)
        .toPandas().set_index("k")
    )
    assert "short" not in got.index
    for key, period in (("p12", 12), ("p6", 6)):
        y = np.array(
            pdf[pdf["k"] == key].sort_values("i")["v"], dtype=float
        )
        accs = {k: _np_acf(y, k) for k in range(2, 25)}
        want = min(accs, key=lambda k: (-accs[k], k))
        row = got.loc[key]
        assert int(row["period"]) == want == period
        assert row["peak_acf"] == pytest.approx(accs[want], rel=1e-9)
        assert int(row["n"]) == 120
        assert int(row["significant"]) == int(
            accs[want] > 1.96 / math.sqrt(120)
        )


def test_dominant_period_min_lag_excludes_smoothness(spark):
    from tablecloth_time_spark.operators.acf import dominant_period

    # a pure trend maximizes ACF at the smallest admissible lag
    pdf = pd.DataFrame(
        {"k": ["t"] * 50, "i": range(50),
         "v": [float(i) for i in range(50)]}
    )
    df = spark.createDataFrame(pdf)
    row = dominant_period(df, ["k"], "i", "v", max_lag=10).collect()[0]
    assert row["period"] == 2
    with pytest.raises(ValueError):
        dominant_period(df, ["k"], "i", "v", max_lag=5, min_lag=0)


def test_winsorize_matches_numpy(spark):
    from tablecloth_time_spark.operators.features import winsorize

    rng = np.random.default_rng(5)
    rows = []
    for key in ("a", "b"):
        vals = np.concatenate(
            [rng.normal(50, 5, 90), rng.normal(500, 50, 10)]  # fat tail
        )
        rng.shuffle(vals)
        rows += [(key, i, float(v)) for i, v in enumerate(vals)]
    pdf = pd.DataFrame(rows, columns=["k", "i", "v"])
    got = (
        winsorize(spark.createDataFrame(pdf), ["k"], "v")
        .toPandas().sort_values(["k", "i"]).reset_index(drop=True)
    )
    for key in ("a", "b"):
        x = np.array(pdf[pdf["k"] == key].sort_values("i")["v"])
        lo, hi = np.quantile(x, 0.05), np.quantile(x, 0.95)  # type-7
        sub = got[got["k"] == key]
        np.testing.assert_allclose(
            sub["v_w"], np.clip(x, lo, hi), rtol=1e-12
        )
        assert (sub["clipped"] == ((x < lo) | (x > hi)).astype(int)).all()
        # winsorized mean is pulled off the contaminated mean
        assert sub["v_w"].mean() < x.mean()


def test_winsorize_null_nan_passthrough(spark):
    from tablecloth_time_spark.operators.features import winsorize

    pdf = pd.DataFrame(
        {
            "k": ["a"] * 6,
            "v": [1.0, 2.0, 3.0, 100.0, None, float("nan")],
        }
    )
    got = winsorize(
        spark.createDataFrame(pdf), ["k"], "v", p_lo=0.0, p_hi=0.75
    ).toPandas()
    body = got[got["v"].notna()]
    assert body["v_w"].max() <= np.quantile([1.0, 2.0, 3.0, 100.0], 0.75)
    nulls = got[got["v"].isna()]
    assert nulls["v_w"].isna().all() and nulls["clipped"].isna().all()
    with pytest.raises(ValueError):
        winsorize(spark.createDataFrame(pdf), ["k"], "v", p_lo=0.9, p_hi=0.1)


def test_winsorize_approx_close(spark):
    from tablecloth_time_spark.operators.features import winsorize

    rng = np.random.default_rng(9)
    pdf = pd.DataFrame(
        {"k": ["a"] * 2000, "v": rng.normal(0, 1, 2000)}
    )
    df = spark.createDataFrame(pdf)
    ex = winsorize(df, ["k"], "v", exact=True).agg(
        F.avg("v_w"), F.sum("clipped")
    ).collect()[0]
    ap = winsorize(df, ["k"], "v", exact=False).agg(
        F.avg("v_w"), F.sum("clipped")
    ).collect()[0]
    assert ap[0] == pytest.approx(ex[0], abs=0.01)
    assert abs(ap[1] - ex[1]) <= 20  # rank error 1/accuracy on 2000 rows


def _np_hampel(x: np.ndarray, n: int, k: float):
    half = n // 2
    med = np.empty(len(x)); mad = np.empty(len(x))
    for i in range(len(x)):
        wnd = x[max(0, i - half): i + half + 1]
        m = np.quantile(wnd, 0.5)
        med[i] = m
        mad[i] = 1.4826 * np.quantile(np.abs(wnd - m), 0.5)
    spike = np.abs(x - med) > k * mad
    out = np.where(spike, med, x)
    return out, spike


def test_hampel_matches_numpy(spark):
    from tablecloth_time_spark.operators.rolling import hampel_filter

    rng = np.random.default_rng(13)
    x = np.sin(np.arange(80) / 5.0) * 3 + 20 + rng.normal(0, 0.2, 80)
    for i in (10, 41, 42, 77):
        x[i] += 25.0  # planted spikes (incl. adjacent pair)
    pdf = pd.DataFrame({"k": ["a"] * 80, "i": range(80), "v": x})
    got = (
        hampel_filter(spark.createDataFrame(pdf), ["k"], ["i"], "v")
        .toPandas().sort_values("i")
    )
    out, spike = _np_hampel(x, 7, 3.0)
    np.testing.assert_allclose(got["v_f"], out, rtol=1e-12)
    assert (got["is_spike"].to_numpy() == spike.astype(int)).all()
    assert got["is_spike"].sum() >= 3  # planted spikes caught


def test_hampel_null_and_constant(spark):
    from tablecloth_time_spark.operators.rolling import hampel_filter

    pdf = pd.DataFrame(
        {
            "k": ["a"] * 9,
            "i": range(9),
            "v": [5.0, 5.0, 5.0, None, 5.0, 5.0, 9.0, 5.0, 5.0],
        }
    )
    got = (
        hampel_filter(spark.createDataFrame(pdf), ["k"], ["i"], "v")
        .toPandas().sort_values("i")
    )
    # constant window: MAD 0 -> the lone 9.0 deviates -> replaced by 5.0
    assert got.loc[got["i"] == 6, "v_f"].iloc[0] == 5.0
    assert got.loc[got["i"] == 6, "is_spike"].iloc[0] == 1
    # null passes through unflagged; neighbors unaffected
    assert pd.isna(got.loc[got["i"] == 3, "v_f"].iloc[0])
    assert pd.isna(got.loc[got["i"] == 3, "is_spike"].iloc[0])
    assert (got.loc[got["v"] == 5.0, "is_spike"] == 0).all()
    with pytest.raises(ValueError):
        hampel_filter(spark.createDataFrame(pdf), ["k"], ["i"], "v", n=4)


def test_standardize_matches_numpy(spark):
    from tablecloth_time_spark.operators.features import standardize

    rng = np.random.default_rng(21)
    rows = []
    series = {
        "a": rng.normal(50, 7, 120),
        "b": np.concatenate([rng.normal(5, 1, 95), [500.0] * 5]),
        "const": np.full(10, 3.0),
    }
    for key, vals in series.items():
        rows += [(key, i, float(v)) for i, v in enumerate(vals)]
    pdf = pd.DataFrame(rows, columns=["k", "i", "v"])
    got = (
        standardize(spark.createDataFrame(pdf), ["k"], "v")
        .toPandas().sort_values(["k", "i"]).reset_index(drop=True)
    )
    for key, x in series.items():
        x = np.asarray(x, dtype=float)
        sub = got[got["k"] == key]
        mu, sd = x.mean(), x.std()  # population
        lo, hi = x.min(), x.max()
        med = np.quantile(x, 0.5)
        iqr = np.quantile(x, 0.75) - np.quantile(x, 0.25)
        if key == "const":
            assert sub["v_z"].isna().all()
            assert sub["v_mm"].isna().all()
            assert sub["v_rb"].isna().all()
            continue
        np.testing.assert_allclose(sub["v_z"], (x - mu) / sd, rtol=1e-9)
        np.testing.assert_allclose(sub["v_mm"], (x - lo) / (hi - lo), rtol=1e-9)
        np.testing.assert_allclose(sub["v_rb"], (x - med) / iqr, rtol=1e-9)
        # the fat-tail key: robust scale keeps the body tight where
        # minmax crushes it
        if key == "b":
            body = sub["v_mm"][:95]
            assert body.max() < 0.05  # crushed by the 500s
            assert sub["v_rb"][:95].abs().max() > 1.0  # body preserved


def test_standardize_null_and_validation(spark):
    from tablecloth_time_spark.operators.features import standardize

    pdf = pd.DataFrame({"k": ["a"] * 4, "v": [1.0, 2.0, 3.0, None]})
    df = spark.createDataFrame(pdf)
    got = standardize(df, ["k"], "v", methods=("minmax",)).toPandas()
    assert got[got["v"].isna()]["v_mm"].isna().all()
    assert set(got.columns) == {"k", "v", "v_mm"}
    with pytest.raises(ValueError):
        standardize(df, ["k"], "v", methods=("zscore", "nope"))


def test_lexical_diversity(spark):
    from tablecloth_time_spark.functions.text import lexical_diversity

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "the cat sat on the mat",          # the x2 -> 5 types, 4 hapax
                "Spam  spam SPAM spam",            # 1 type, 0 hapax
                "",                                 # empty
                None,                               # null
            ],
        }
    )
    got = (
        lexical_diversity(spark.createDataFrame(pdf), ["doc_id"])
        .toPandas().set_index("doc_id").sort_index()
    )
    r1 = got.loc[1]
    assert r1["n_tokens"] == 6 and r1["n_types"] == 5 and r1["n_hapax"] == 4
    assert r1["ttr"] == pytest.approx(5 / 6)
    assert r1["hapax_ratio"] == pytest.approx(4 / 5)
    assert r1["guiraud"] == pytest.approx(5 / math.sqrt(6))
    r2 = got.loc[2]
    assert r2["n_tokens"] == 4 and r2["n_types"] == 1 and r2["n_hapax"] == 0
    assert r2["ttr"] == pytest.approx(0.25) and r2["hapax_ratio"] == 0.0
    for d in (3, 4):
        r = got.loc[d]
        assert r["n_tokens"] == 0 and r["n_types"] == 0
        assert pd.isna(r["ttr"]) and pd.isna(r["guiraud"])


def test_centroid_outliers(spark):
    from tablecloth_time_spark.operators.similarity import centroid_outliers

    rng = np.random.default_rng(17)
    rows = []
    # two tight clusters + one planted off-cluster vector per label
    base = {0: np.array([1.0, 0.0, 0.0, 0.0]), 1: np.array([0.0, 1.0, 0.0, 0.0])}
    for label, b in base.items():
        for i in range(40):
            v = b + rng.normal(0, 0.02, 4)
            rows.append((label * 100 + i, label, [float(x) for x in v]))
        rows.append((label * 100 + 99, label, [0.0, 0.0, 1.0, 0.0]))  # planted
    pdf = pd.DataFrame(rows, columns=["vec_id", "label", "embedding"])
    got = (
        centroid_outliers(
            spark.createDataFrame(pdf), ["label"], "vec_id", "embedding"
        )
        .toPandas().set_index("vec_id").sort_index()
    )
    # numpy oracle
    for label in (0, 1):
        sub = pdf[pdf["label"] == label]
        V = np.array(sub["embedding"].tolist())
        c = V.mean(axis=0)
        cos = (V @ c) / (np.linalg.norm(V, axis=1) * np.linalg.norm(c))
        m, sd = cos.mean(), cos.std()
        for (vid, _), s in zip(sub[["vec_id", "label"]].values, cos):
            row = got.loc[vid]
            assert row["cos_centroid"] == pytest.approx(s, rel=1e-9)
            assert int(row["is_outlier"]) == int(s < m - 2.0 * sd)
    # exactly the planted vectors flag
    assert set(got[got["is_outlier"] == 1].index) == {99, 199}


def test_tenure_features(spark):
    from tablecloth_time_spark.operators.features import tenure_features

    pdf = pd.DataFrame(
        {
            "k": ["a"] * 5 + ["b"] * 2,
            "ts": [
                dt.datetime(2024, 3, 1, 8), dt.datetime(2024, 3, 1, 22),
                dt.datetime(2024, 3, 3, 5), dt.datetime(2024, 3, 10, 1),
                dt.datetime(2024, 3, 10, 2),
                dt.datetime(2024, 4, 1, 0), dt.datetime(2024, 4, 1, 12),
            ],
        }
    )
    got = (
        tenure_features(spark.createDataFrame(pdf), ["k"], "ts")
        .toPandas().set_index("k")
    )
    a = got.loc["a"]
    assert a["first_ts"] == pd.Timestamp("2024-03-01 08:00")
    assert a["last_ts"] == pd.Timestamp("2024-03-10 02:00")
    assert a["span_days"] == 10 and a["active_days"] == 3
    assert a["n_events"] == 5
    assert a["density"] == pytest.approx(0.3)
    b = got.loc["b"]
    assert b["span_days"] == 1 and b["active_days"] == 1
    assert b["density"] == 1.0
