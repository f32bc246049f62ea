"""rolling_quantiles vs pandas rolling().quantile(interpolation='linear')."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tablecloth_time_spark.operators.rolling import rolling_quantiles
from tests.conftest import executed_plan


@pytest.fixture(scope="module")
def noisy_df(spark):
    rng = np.random.default_rng(21)
    frames = []
    for key, n in [("a", 300), ("b", 25), ("c", 2)]:
        x = rng.normal(50, 10, size=n)
        x[rng.random(n) < 0.08] = np.nan
        frames.append(pd.DataFrame({"k": key, "i": np.arange(n), "x": x}))
    pdf = pd.concat(frames, ignore_index=True)
    return pdf, spark.createDataFrame(pdf)


@pytest.mark.parametrize("n,mp", [(9, 1), (9, 9), (30, 5)])
def test_rolling_quantiles_matches_pandas(noisy_df, n, mp):
    pdf, df = noisy_df
    got = (
        rolling_quantiles(
            df, ["k"], ["i"], "x", n,
            {"med": 0.5, "p90": 0.9, "p0": 0.0, "p100": 1.0},
            min_periods=mp,
        )
        .toPandas()
        .sort_values(["k", "i"], kind="stable")
        .reset_index(drop=True)
    )
    g = pdf.sort_values(["k", "i"], kind="stable").reset_index(drop=True)
    for name, q in [("med", 0.5), ("p90", 0.9), ("p0", 0.0), ("p100", 1.0)]:
        exp = g.groupby("k")["x"].transform(
            lambda s: s.rolling(n, min_periods=mp).quantile(
                q, interpolation="linear"
            )
        )
        gv, ev = got[name].to_numpy(float), exp.to_numpy(float)
        assert (np.isnan(gv) == np.isnan(ev)).all(), f"{name} null mask"
        m = ~np.isnan(gv)
        assert np.allclose(gv[m], ev[m], rtol=1e-12), name


def test_rolling_quantiles_despike_golden(spark):
    """The despiking read: a single 1000x spike moves the rolling mean
    but not the rolling median."""
    x = [10.0] * 10
    x[5] = 10_000.0
    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(x)], "k string, i long, x double"
    )
    got = {
        r["i"]: r["med"]
        for r in rolling_quantiles(df, ["k"], ["i"], "x", 5, {"med": 0.5}).collect()
    }
    assert all(got[i] == 10.0 for i in range(10))


def test_rolling_quantiles_validation(spark):
    df = spark.createDataFrame([("k", 0, 1.0)], "k string, i long, x double")
    with pytest.raises(ValueError, match=">= 1"):
        rolling_quantiles(df, ["k"], ["i"], "x", 0, {"m": 0.5})
    with pytest.raises(ValueError, match="outside"):
        rolling_quantiles(df, ["k"], ["i"], "x", 5, {"m": 1.5})


def test_rolling_quantiles_plan_one_exchange_no_python(noisy_df):
    pdf, df = noisy_df
    out = rolling_quantiles(df, ["k"], ["i"], "x", 9, {"med": 0.5})
    plan = executed_plan(out)
    assert plan.count("Exchange") == 1
    assert "Python" not in plan and "MapInPandas" not in plan