"""ewma_rows / macd vs pandas ewm(adjust=True) — the row-index EMA.

pandas computes the adjusted EMA exactly (full-history weights), so it
oracles both the prefix-sum algebra and the segment-anchored carry: the
long-series cases push hundreds of segments, where a wrong two-hop carry
or rescale would be O(1) off, while the sub-ULP truncation the operator
documents stays under rtol=1e-10.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tablecloth_time_spark.operators.counters import ewma_rows, macd
from tests.conftest import executed_plan


def _mk(spark, n_per_key, nan_frac=0.1, seed=5):
    rng = np.random.default_rng(seed)
    frames = []
    for key, n in n_per_key.items():
        x = rng.normal(10, 3, size=n)
        if nan_frac:
            x[rng.random(n) < nan_frac] = np.nan
        frames.append(pd.DataFrame({"k": key, "i": np.arange(n), "x": x}))
    pdf = pd.concat(frames, ignore_index=True)
    return pdf, spark.createDataFrame(pdf)


def _cmp(got: pd.Series, exp: pd.Series, rtol=1e-10):
    g, e = got.to_numpy(dtype=float), exp.to_numpy(dtype=float)
    assert (np.isnan(g) == np.isnan(e)).all(), "null masks differ"
    m = ~np.isnan(g)
    assert np.allclose(g[m], e[m], rtol=rtol, atol=1e-12)


@pytest.mark.parametrize(
    "kw",
    [
        {"alpha": 0.5},
        {"alpha": 0.03},
        {"span": 26},
        {"halflife_rows": 10.0},
    ],
)
def test_ewma_rows_matches_pandas(spark, kw):
    pdf, df = _mk(spark, {"a": 900, "b": 37, "c": 1})
    got = (
        ewma_rows(df, "k", ["i"], "x", **kw)
        .toPandas()
        .sort_values(["k", "i"], kind="stable")
        .reset_index(drop=True)
    )
    g = pdf.sort_values(["k", "i"], kind="stable").reset_index(drop=True)
    exp = g.groupby("k")["x"].transform(
        lambda s: s.ewm(**kw_pandas(kw), adjust=True, ignore_na=False).mean()
    )
    _cmp(got["ewma"], exp)


def kw_pandas(kw):
    if "halflife_rows" in kw:
        return {"halflife": kw["halflife_rows"]}
    return kw


def test_ewma_rows_long_series_many_segments(spark):
    """alpha=0.5 -> S=150 rows/segment; 40k rows = ~266 segments. Any
    carry/rescale bug is O(1) wrong; pandas agrees to 1e-10."""
    pdf, df = _mk(spark, {"long": 40_000}, nan_frac=0.05, seed=9)
    got = (
        ewma_rows(df, "k", ["i"], "x", alpha=0.5)
        .toPandas()
        .sort_values("i", kind="stable")
        .reset_index(drop=True)
    )
    exp = pdf.sort_values("i", kind="stable")["x"].ewm(
        alpha=0.5, adjust=True, ignore_na=False
    ).mean().reset_index(drop=True)
    _cmp(got["ewma"], exp)


def test_ewma_rows_null_rows_keep_position(spark):
    """A null keeps its row position (ignore_na=False): the next valid
    sample's previous-value weight steps by TWO powers of b across a
    single null, and the null row itself reports the carried mean."""
    rows = [("k", 0, 4.0), ("k", 1, None), ("k", 2, 10.0)]
    df = spark.createDataFrame(rows, "k string, i long, x double")
    got = {
        r["i"]: r["ewma"]
        for r in ewma_rows(df, "k", ["i"], "x", alpha=0.5).collect()
    }
    assert got[0] == pytest.approx(4.0)
    assert got[1] == pytest.approx(4.0)  # carried
    # weights: x0 -> 0.25, x2 -> 1 (position gap of 2)
    assert got[2] == pytest.approx((0.25 * 4.0 + 10.0) / 1.25)


def test_ewma_rows_leading_nulls_are_null(spark):
    rows = [("k", 0, None), ("k", 1, None), ("k", 2, 3.0)]
    df = spark.createDataFrame(rows, "k string, i long, x double")
    got = {
        r["i"]: r["ewma"]
        for r in ewma_rows(df, "k", ["i"], "x", alpha=0.3).collect()
    }
    assert got[0] is None and got[1] is None
    assert got[2] == pytest.approx(3.0)


def test_ewma_rows_validation(spark):
    df = spark.createDataFrame([("k", 0, 1.0)], "k string, i long, x double")
    with pytest.raises(ValueError, match="exactly one"):
        ewma_rows(df, "k", ["i"], "x")
    with pytest.raises(ValueError, match="exactly one"):
        ewma_rows(df, "k", ["i"], "x", alpha=0.5, span=9)
    with pytest.raises(ValueError, match="0 < alpha < 1"):
        ewma_rows(df, "k", ["i"], "x", alpha=1.0)
    with pytest.raises(ValueError, match="span"):
        ewma_rows(df, "k", ["i"], "x", span=0.5)


def test_macd_matches_pandas(spark):
    pdf, df = _mk(spark, {"a": 500, "b": 60}, nan_frac=0.0, seed=13)
    got = (
        macd(df, "k", ["i"], "x")
        .toPandas()
        .sort_values(["k", "i"], kind="stable")
        .reset_index(drop=True)
    )
    g = pdf.sort_values(["k", "i"], kind="stable").reset_index(drop=True)

    def ema(s, span):
        return s.ewm(span=span, adjust=True, ignore_na=False).mean()

    fast = g.groupby("k")["x"].transform(lambda s: ema(s, 12))
    slow = g.groupby("k")["x"].transform(lambda s: ema(s, 26))
    line = fast - slow
    sig = line.groupby(g["k"]).transform(lambda s: ema(s, 9))
    _cmp(got["macd"], line)
    _cmp(got["macd_signal"], sig)
    _cmp(got["macd_hist"], line - sig)


def test_ewma_rows_plan_one_exchange_no_python(spark):
    pdf, df = _mk(spark, {"a": 300}, seed=1)
    out = macd(df, "k", ["i"], "x")
    plan = executed_plan(out)
    assert plan.count("Exchange") == 1
    assert "Python" not in plan and "MapInPandas" not in plan