"""add_time_columns contract + ACF golden/differential tests."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tablecloth_time_spark.operators.acf import acf
from tablecloth_time_spark.operators.time_columns import add_time_columns
from tests.conftest import executed_plan


@pytest.fixture(scope="module")
def ts_df(spark):
    pdf = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-06-15 14:30:45", "1970-01-01 00:00:00"])}
    )
    return spark.createDataFrame(pdf)


def test_vector_fields(ts_df):
    out = add_time_columns(ts_df, "ts", ["year", "month", "day-of-week"])
    rows = out.orderBy("ts").collect()
    assert rows[1]["year"] == 2024 and rows[1]["month"] == 6
    assert rows[0]["day_of_week"] == 4  # 1970-01-01 Thursday
    assert set(out.columns) == {"ts", "year", "month", "day_of_week"}


def test_mapping_fields(ts_df):
    out = add_time_columns(ts_df, "ts", {"date-string": "Day", "hour": "h"})
    row = out.orderBy("ts").collect()[1]
    assert row["Day"] == "2024-06-15" and row["h"] == 14


def test_all_fields(ts_df):
    out = add_time_columns(ts_df, "ts", "all")
    assert len(out.columns) == 1 + 23  # 13 extractors + 10 computed


def test_unknown_field_raises(ts_df):
    with pytest.raises(ValueError, match="unknown time field"):
        add_time_columns(ts_df, "ts", ["bogus"])


def test_missing_time_col_raises(ts_df):
    with pytest.raises(ValueError, match="not found"):
        add_time_columns(ts_df, "nope", ["year"])


def test_acf_matches_numpy(spark):
    rng = np.random.default_rng(7)
    n = 200
    y = np.cumsum(rng.standard_normal(n)) + 10 * np.sin(np.arange(n) / 6)
    pdf = pd.DataFrame(
        {"k": ["s"] * n, "i": np.arange(n, dtype="int64"), "v": y}
    )
    df = spark.createDataFrame(pdf)
    out = acf(df, ["k"], "i", "v", max_lag=5).orderBy("lag").collect()

    yc = y - y.mean()
    denom = float(np.dot(yc, yc))
    for row in out:
        k = row["lag"]
        expect = float(np.dot(yc[k:], yc[:-k]) / denom)
        assert row["acf"] == pytest.approx(expect, rel=1e-12), f"lag {k}"


def test_acf_multi_series(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 10 + ["b"] * 10,
            "i": list(range(10)) * 2,
            "v": [float(i % 2) for i in range(10)] + [float(i) for i in range(10)],
        }
    )
    df = spark.createDataFrame(pdf)
    rows = acf(df, ["k"], "i", "v", max_lag=2).collect()
    got = {(r["k"], r["lag"]): r["acf"] for r in rows}
    # alternating series: strong negative lag-1, positive lag-2
    assert got[("a", 1)] < -0.8 and got[("a", 2)] > 0.6
    # linear ramp: positive lag-1 autocorrelation
    assert got[("b", 1)] > 0.5


def test_acf_beer_r_golden(spark):
    """The reference notebook's R-derived ACF golden (reference
    notebooks/chapter_02_time_series_graphics.clj:507-513): Australian
    quarterly beer production 2000Q1-2010Q2 (fpp3 aus_production, year >=
    2000) must give lag1 -0.053, lag2 -0.758, lag4 0.802, lag8 0.707."""
    import datetime as dt

    from tablecloth_time_spark.operators.acf import acf

    beer = [
        421.0, 402.0, 414.0, 500.0, 451.0, 380.0, 416.0, 492.0, 428.0,
        408.0, 406.0, 506.0, 435.0, 380.0, 421.0, 490.0, 435.0, 390.0,
        412.0, 454.0, 416.0, 403.0, 408.0, 482.0, 438.0, 386.0, 405.0,
        491.0, 427.0, 383.0, 394.0, 473.0, 420.0, 390.0, 410.0, 488.0,
        415.0, 398.0, 419.0, 488.0, 414.0, 374.0,
    ]
    rows = [
        ("beer", dt.datetime(2000 + i // 4, (i % 4) * 3 + 1, 1), v)
        for i, v in enumerate(beer)
    ]
    df = spark.createDataFrame(rows, ["series", "quarter", "y"])
    got = {
        r["lag"]: r["acf"]
        for r in acf(df, ["series"], "quarter", "y", max_lag=9).collect()
    }
    assert round(got[1], 3) == -0.053
    assert round(got[2], 3) == -0.758
    assert round(got[4], 3) == 0.802
    assert round(got[8], 3) == 0.707


def test_pacf_matches_yule_walker(spark):
    """PACF (Durbin-Levinson in the engine) vs an INDEPENDENT oracle:
    solve the Yule-Walker Toeplitz system directly per lag with
    np.linalg.solve — pacf_k is the k-th AR coefficient."""
    import datetime as dt

    import numpy as np

    from tablecloth_time_spark.operators.acf import acf, pacf

    rng = np.random.default_rng(19)
    t0 = dt.datetime(2024, 1, 1)
    # AR(2)-ish series: PACF should cut off after lag 2
    n = 300
    y = np.zeros(n)
    e = rng.normal(0, 1, n)
    for i in range(2, n):
        y[i] = 0.6 * y[i - 1] - 0.3 * y[i - 2] + e[i]
    rows = [("s", t0 + dt.timedelta(hours=i), float(v)) for i, v in enumerate(y)]
    df = spark.createDataFrame(rows, ["k", "ts", "y"])

    max_lag = 8
    got = {
        r["lag"]: r["pacf"]
        for r in pacf(df, ["k"], "ts", "y", max_lag).collect()
    }
    r_vals = {
        r["lag"]: r["acf"] for r in acf(df, ["k"], "ts", "y", max_lag).collect()
    }
    r = np.array([r_vals[k] for k in range(1, max_lag + 1)])
    for k in range(1, max_lag + 1):
        R = np.empty((k, k))
        for i in range(k):
            for j in range(k):
                d = abs(i - j)
                R[i, j] = 1.0 if d == 0 else r[d - 1]
        phi = np.linalg.solve(R, r[:k])
        assert got[k] == pytest.approx(phi[-1], abs=1e-9), f"lag {k}"
    assert got[1] == pytest.approx(r[0])
    # AR(2) cutoff: |pacf| small beyond lag 2
    assert all(abs(got[k]) < 0.15 for k in range(3, max_lag + 1))


def test_pacf_undefined_tail(spark):
    """A 4-point series: acf undefined for k >= n -> pacf null there."""
    import datetime as dt

    from tablecloth_time_spark.operators.acf import pacf

    t0 = dt.datetime(2024, 1, 1)
    rows = [("s", t0 + dt.timedelta(hours=i), float(v)) for i, v in enumerate([1, 3, 2, 5])]
    df = spark.createDataFrame(rows, ["k", "ts", "y"])
    got = {r["lag"]: r["pacf"] for r in pacf(df, ["k"], "ts", "y", 6).collect()}
    assert got[1] is not None
    assert got[5] is None and got[6] is None


def test_ccf_matches_numpy(spark):
    """CCF vs a direct numpy oracle at every lag in -5..5 on a pair with a
    planted lead: y leads x by 3 steps, so the peak sits at k = +3."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    from tablecloth_time_spark.operators.acf import ccf

    rng = np.random.default_rng(23)
    n = 240
    y = np.cumsum(rng.standard_normal(n))
    x = np.roll(y, 3) + 0.2 * rng.standard_normal(n)  # x[t] ~ y[t-3]
    t0 = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {"k": ["s"] * n,
         "ts": [t0 + dt.timedelta(hours=i) for i in range(n)],
         "x": x, "y": y}
    )
    df = spark.createDataFrame(pdf)
    got = {
        r["lag"]: r["ccf"]
        for r in ccf(df, ["k"], "ts", "x", "y", max_lag=5).collect()
    }
    assert sorted(got) == list(range(-5, 6))

    xc, yc = x - x.mean(), y - y.mean()
    denom = float(np.sqrt(np.dot(xc, xc) * np.dot(yc, yc)))
    for k in range(-5, 6):
        # r_xy(k) = sum_t xc[t+k] * yc[t] over valid t
        if k >= 0:
            expect = float(np.dot(xc[k:], yc[: n - k]) / denom)
        else:
            expect = float(np.dot(xc[: n + k], yc[-k:]) / denom)
        assert got[k] == pytest.approx(expect, rel=1e-12), f"lag {k}"
    # planted structure: x lags y by 3 -> peak at k = +3
    assert got[3] == max(got.values())
    assert got[3] > 0.9


def test_ccf_self_is_symmetric_acf(spark):
    """ccf(x, x) equals acf at |k| and is symmetric; ccf(x,x)(0) == 1."""
    import datetime as dt

    import numpy as np

    from tablecloth_time_spark.operators.acf import acf, ccf

    rng = np.random.default_rng(5)
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("s", t0 + dt.timedelta(hours=i), float(v))
        for i, v in enumerate(np.cumsum(rng.standard_normal(80)))
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    got = {
        r["lag"]: r["ccf"]
        for r in ccf(df, ["k"], "ts", "v", "v", max_lag=4).collect()
    }
    ref = {
        r["lag"]: r["acf"] for r in acf(df, ["k"], "ts", "v", 4).collect()
    }
    assert got[0] == pytest.approx(1.0)
    for k in range(1, 5):
        assert got[k] == pytest.approx(ref[k], rel=1e-12)
        assert got[-k] == pytest.approx(ref[k], rel=1e-12)


def test_ccf_undefined_and_nulls(spark):
    """Constant x -> zero variance -> null everywhere; rows where either
    side is null are dropped pairwise (the remaining pair count rules)."""
    import datetime as dt

    from tablecloth_time_spark.operators.acf import ccf

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("c", t0 + dt.timedelta(hours=i), 7.0, float(i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "x", "y"])
    got = ccf(df, ["k"], "ts", "x", "y", max_lag=2).collect()
    assert all(r["ccf"] is None for r in got)

    rows2 = [
        ("s", t0, 1.0, 2.0),
        ("s", t0 + dt.timedelta(hours=1), None, 3.0),  # dropped pairwise
        ("s", t0 + dt.timedelta(hours=2), 3.0, 1.0),
        ("s", t0 + dt.timedelta(hours=3), 2.0, 4.0),
    ]
    df2 = spark.createDataFrame(rows2, ["k", "ts", "x", "y"])
    got2 = {
        r["lag"]: r["ccf"]
        for r in ccf(df2, ["k"], "ts", "x", "y", max_lag=3).collect()
    }
    # 3 surviving pairs: lags beyond +-2 have no aligned product -> null
    assert got2[3] is None and got2[-3] is None
    assert got2[0] is not None


def test_ccf_plan_one_exchange_no_python(spark):
    import datetime as dt

    from tablecloth_time_spark.operators.acf import ccf

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("s", t0 + dt.timedelta(hours=i), float(i % 5), float(i % 3))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "x", "y"])
    plan = executed_plan(ccf(df, ["k"], "ts", "x", "y", 4))
    assert "InPandas" not in plan and "Python" not in plan
    # one shuffle for the window/aggregate + whatever AQE reads add; the
    # window sort and the final agg share the key partitioning
    assert plan.count("Exchange hashpartitioning") <= 2
