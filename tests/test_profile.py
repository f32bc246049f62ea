"""profile_rollup vs a pandas re-derivation + plan shape."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tablecloth_time_spark.operators.profile import profile_rollup
from tests.conftest import executed_plan

HOUR_MS = 3_600_000


@pytest.fixture(scope="module")
def dirty_df(spark):
    rng = np.random.default_rng(41)
    n = 2000
    t0 = 1_700_000_000_000
    ms = t0 + rng.integers(0, 24 * HOUR_MS, size=n)
    a = rng.normal(5, 2, size=n)
    nan_mask = rng.random(n) < 0.1
    b = rng.integers(0, 7, size=n).astype(float)
    pdf = pd.DataFrame({"ms": ms, "a": a, "b": b, "a_nan": nan_mask})
    pdf["b"] = pdf["b"].where(rng.random(n) > 0.05, other=None)
    # pandas->Spark converts NaN to null, so NaNs must be minted
    # Spark-side from the flag column
    sdf = spark.createDataFrame(pdf).selectExpr(
        "timestamp_millis(ms) AS ts",
        "CASE WHEN a_nan THEN CAST('NaN' AS DOUBLE) ELSE a END AS a",
        "b",
    )
    pdf = pdf.copy()
    pdf.loc[nan_mask, "a"] = np.nan
    return pdf, sdf


def test_profile_matches_pandas(dirty_df):
    pdf, sdf = dirty_df
    got = (
        profile_rollup(sdf, "ts", ["a", "b"], 6, "hour", exact=True)
        .toPandas()
        .sort_values(["bucket", "column"], kind="stable")
        .reset_index(drop=True)
    )
    g = pdf.copy()
    g["bucket"] = (g.ms // (6 * HOUR_MS)) * (6 * HOUR_MS)
    for _, row in got.iterrows():
        bucket_ms = int(row["bucket"].timestamp() * 1000)
        grp = g[g.bucket == bucket_ms]
        col = grp[row["column"]]
        assert row["n"] == len(grp)
        if row["column"] == "a":
            # a has NaNs, no nulls (numpy NaN -> Spark NaN for float col)
            assert row["n_nan"] == int(np.isnan(col.to_numpy(float)).sum())
            assert row["n_null"] == 0
        else:
            # b: pandas None -> Spark null
            assert row["n_null"] == int(col.isna().sum())
            assert row["n_nan"] == 0
        finite = col.dropna().to_numpy(float)
        finite = finite[~np.isnan(finite)]
        assert row["min"] == pytest.approx(finite.min())
        assert row["max"] == pytest.approx(finite.max())
        assert row["mean"] == pytest.approx(finite.mean(), rel=1e-12)
        # exact distinct: NaN counts as one value, null excluded
        vals = col[col.notna()]
        n_dist = vals.nunique(dropna=False)
        if row["column"] == "a" and np.isnan(col.to_numpy(float)).any():
            n_dist = len(set(vals.dropna())) + 1
        assert row["n_distinct"] == n_dist


def test_profile_approx_close_and_mergeable_plan(dirty_df):
    pdf, sdf = dirty_df
    out = profile_rollup(sdf, "ts", ["a", "b"], 6, "hour", exact=False)
    # plan BEFORE executing: post-run the adaptive plan's toString repeats
    # the Exchange in its final+initial sections
    plan = executed_plan(out)
    assert plan.count("Exchange") == 1
    assert "Expand" not in plan  # approx distinct keeps the single pass
    assert "Python" not in plan
    got = out.toPandas()
    # HLL error bound is ~2% default; these buckets have <= ~600 distinct
    for _, row in got.iterrows():
        assert row["n_distinct"] > 0


def test_profile_validation(dirty_df):
    pdf, sdf = dirty_df
    with pytest.raises(ValueError, match="at least one"):
        profile_rollup(sdf, "ts", [], 1, "hour")
    with pytest.raises(ValueError, match="not found"):
        profile_rollup(sdf, "ts", ["nope"], 1, "hour")