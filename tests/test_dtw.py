"""DTW distances: anti-diagonal kernel vs a brute-force O(nm) reference,
classic alignment properties, and the distributed operator end-to-end.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tablecloth_time_spark.operators.dtw import dtw_distances, dtw_pairwise
from tests.conftest import executed_plan


def _dtw_ref(a, b, band=None):
    """Textbook O(nm) DP, cell by cell — the independent oracle."""
    n, m = len(a), len(b)
    r = None if band is None else max(band, abs(n - m))
    D = np.full((n, m), np.inf)
    for i in range(n):
        for j in range(m):
            if r is not None and abs(i - j) > r:
                continue
            c = abs(a[i] - b[j])
            if i == 0 and j == 0:
                D[i, j] = c
            else:
                best = min(
                    D[i - 1, j] if i else np.inf,
                    D[i, j - 1] if j else np.inf,
                    D[i - 1, j - 1] if i and j else np.inf,
                )
                D[i, j] = c + best
    return D[n - 1, m - 1]


def test_kernel_matches_bruteforce_randomized():
    rng = np.random.default_rng(0)
    for trial in range(200):
        n, m = rng.integers(1, 25, 2)
        a, b = rng.normal(size=n), rng.normal(size=m)
        band = None if trial % 3 == 0 else int(rng.integers(0, 10))
        assert dtw_pairwise(a, b, band) == pytest.approx(
            _dtw_ref(a, b, band), abs=1e-12
        )


def test_alignment_properties():
    a = np.array([0.0, 1, 2, 3, 2, 1, 0])
    assert dtw_pairwise(a, a) == 0.0  # identity
    # symmetric cost -> symmetric distance
    b = np.array([0.0, 0, 1, 2, 3, 2, 1, 0])
    assert dtw_pairwise(a, b) == dtw_pairwise(b, a)
    # a time-shifted copy warps back to (near) zero where the euclidean
    # lockstep distance cannot
    shifted = np.array([0.0, 0, 1, 2, 3, 2, 1])
    assert dtw_pairwise(a, shifted) < np.abs(a - shifted).sum()
    # band=0 forces the diagonal (lockstep): equals the L1 distance
    assert dtw_pairwise(a, a[::-1], band=0) == np.abs(a - a[::-1]).sum()


def test_dtw_distances_operator(spark):
    rng = np.random.default_rng(5)
    base = np.cumsum(rng.integers(-2, 3, size=48))
    rows = []
    for k, series in (
        ("orig", base),
        ("shift", np.roll(base, 3)),
        ("noise", rng.integers(0, 50, size=48)),
    ):
        for t, v in enumerate(series):
            rows.append({"k": k, "t": pd.Timestamp("2024-01-01")
                         + pd.Timedelta(hours=t), "v": float(v)})
    df = spark.createDataFrame(pd.DataFrame(rows),
                               schema="k string, t timestamp, v double")
    out = dtw_distances(df, "k", "t", "v", 1, "hour").collect()
    got = {(r["key_a"], r["key_b"]): r for r in out}
    assert set(got) == {("noise", "orig"), ("noise", "shift"),
                        ("orig", "shift")}
    # kernel parity through the full distributed path
    arr = {k: np.array([float(v) for v in s], dtype=np.float64)
           for k, s in (("orig", base), ("shift", np.roll(base, 3)),)}
    exp = dtw_pairwise(arr["orig"], arr["shift"])
    r = got[("orig", "shift")]
    assert r["dtw"] == pytest.approx(exp, abs=1e-12)
    assert r["dtw_norm"] == pytest.approx(exp / 96, abs=1e-12)
    assert r["n_a"] == r["n_b"] == 48
    # the warped copy is closer than the unrelated series
    assert got[("orig", "shift")]["dtw"] < got[("noise", "orig")]["dtw"]


def test_dtw_plan_single_arrow_eval(spark):
    pdf = pd.DataFrame(
        {"k": ["a"] * 4 + ["b"] * 4,
         "t": list(pd.date_range("2024-01-01", periods=4, freq="h")) * 2,
         "v": [1.0, 2, 3, 4, 4, 3, 2, 1]}
    )
    df = spark.createDataFrame(pdf, schema="k string, t timestamp, v double")
    p = executed_plan(dtw_distances(df, "k", "t", "v", 1, "hour"))
    # one Arrow-vectorized eval; never a row-at-a-time Python UDF
    assert p.count("ArrowEvalPython") == 1, p
    assert "BatchEvalPython" not in p
