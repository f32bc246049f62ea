"""PELT vs the exhaustive O(n^2) optimal-partitioning oracle.

PELT's pruning provably never discards the optimum, so its breakpoints
must EQUAL the brute-force DP's — exact list equality, not proximity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tablecloth_time_spark.operators.changepoint import (
    _bic_penalty,
    _pelt_l2,
    pelt_changepoints,
)
from tests.conftest import executed_plan


def brute_force_opt(x: np.ndarray, beta: float, min_size: int) -> list[int]:
    """Exhaustive optimal partitioning (no pruning)."""
    n = len(x)
    cs = np.concatenate(([0.0], np.cumsum(x)))
    cs2 = np.concatenate(([0.0], np.cumsum(x * x)))

    def cost(a, b):
        s = cs[b] - cs[a]
        return (cs2[b] - cs2[a]) - s * s / (b - a)

    F = np.full(n + 1, np.inf)
    F[0] = -beta
    prev = np.zeros(n + 1, dtype=int)
    for t in range(min_size, n + 1):
        best, arg = np.inf, 0
        for tau in range(0, t - min_size + 1):
            if not np.isfinite(F[tau]):
                continue
            v = F[tau] + cost(tau, t)
            if v < best:
                best, arg = v, tau
        F[t] = best + beta
        prev[t] = arg
    cps, t = [], n
    while t > 0:
        tau = int(prev[t])
        if tau > 0:
            cps.append(tau)
        t = tau
    return cps[::-1]


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("min_size", [2, 5])
def test_pelt_equals_bruteforce(seed, min_size):
    rng = np.random.default_rng(seed)
    segs = rng.integers(8, 40, size=rng.integers(2, 7))
    means = rng.uniform(-10, 10, size=len(segs))
    x = np.concatenate(
        [rng.normal(m, 1.0, size=s) for m, s in zip(means, segs)]
    )
    for beta in [2.0, 10.0, 50.0]:
        assert _pelt_l2(x, beta, min_size) == brute_force_opt(
            x, beta, min_size
        ), f"beta={beta}"


def test_pelt_pure_noise_no_changepoints():
    rng = np.random.default_rng(7)
    x = rng.normal(0, 1, 300)
    assert _pelt_l2(x, _bic_penalty(x), 2) == []


def test_pelt_detects_known_shifts():
    rng = np.random.default_rng(11)
    x = np.concatenate(
        [rng.normal(0, 0.5, 100), rng.normal(8, 0.5, 100),
         rng.normal(-3, 0.5, 100)]
    )
    cps = _pelt_l2(x, _bic_penalty(x), 2)
    assert len(cps) == 2
    assert abs(cps[0] - 100) <= 2 and abs(cps[1] - 200) <= 2


def test_pelt_operator_matches_kernel(spark):
    rng = np.random.default_rng(13)
    frames = []
    t0 = 1_700_000_000_000
    expect = {}
    for i, key in enumerate(["a", "b", "flat"]):
        if key == "flat":
            x = np.full(80, 3.0)
        else:
            x = np.concatenate(
                [rng.normal(0, 1, 60), rng.normal(6 + i, 1, 60)]
            )
        # sprinkle NaNs: the series must compact before the DP
        if key == "a":
            x[5] = np.nan
        frames.append(
            pd.DataFrame(
                {
                    "k": key,
                    "ms": t0 + np.arange(len(x)) * 60_000,
                    "x": x,
                }
            )
        )
        xv = x[~np.isnan(x)]
        expect[key] = (
            _pelt_l2(xv, 25.0, 2) if len(xv) >= 4 else []
        )
    pdf = pd.concat(frames, ignore_index=True)
    # NaN -> null through createDataFrame; the operator treats both as missing
    sdf = spark.createDataFrame(pdf).selectExpr(
        "k", "timestamp_millis(ms) AS ts", "x"
    )
    out = pelt_changepoints(sdf, "k", "ts", "x", penalty=25.0).collect()
    got = {}
    for r in out:
        got.setdefault(r["k"], []).append(r["cp_index"])
    for key, cps in expect.items():
        assert sorted(got.get(key, [])) == cps, key
    # segment means bracket the shift for key 'b'
    rows_b = sorted(
        (r for r in out if r["k"] == "b"), key=lambda r: r["cp_index"]
    )
    assert rows_b and rows_b[0]["mean_after"] > rows_b[0]["mean_before"] + 4


def test_pelt_validation(spark):
    sdf = spark.createDataFrame([("k", 0, 1.0)], "k string, ts long, x double")
    with pytest.raises(ValueError, match="float or 'bic'"):
        pelt_changepoints(sdf, "k", "ts", "x", penalty="aic")
    with pytest.raises(ValueError, match="min_size"):
        pelt_changepoints(sdf, "k", "ts", "x", min_size=0)


def test_pelt_plan_one_exchange_arrow_kernel(spark):
    sdf = spark.createDataFrame(
        [("k", i, float(i)) for i in range(10)],
        "k string, ms long, x double",
    ).selectExpr("k", "timestamp_millis(ms) AS ts", "x")
    out = pelt_changepoints(sdf, "k", "ts", "x")
    plan = executed_plan(out)
    assert plan.count("Exchange") == 1
    assert "MapInPandas" in plan  # the sanctioned Arrow kernel path