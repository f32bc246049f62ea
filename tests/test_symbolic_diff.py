"""PAA/SAX symbolic representation + tier snapshot diff.

SAX semantics pinned against an independent numpy re-derivation of the
Lin/Keogh definition (z-normalize, segment means, Gaussian-breakpoint
binning); tier_diff against hand-built frames covering every change
class including the NULL-value corners.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.diff import tier_diff
from tablecloth_time_spark.operators.symbolic import (
    paa_sax,
    sax_breakpoints,
    sax_words,
)
from tests.conftest import executed_plan


@pytest.fixture(scope="module")
def series_df(spark):
    rng = np.random.default_rng(3)
    rows = []
    for key, gen in (
        ("rw", np.cumsum(rng.integers(-3, 4, size=200))),
        ("trend", np.arange(200) + rng.integers(0, 5, size=200)),
        ("flat", np.zeros(200, dtype=np.int64) + 7),
        ("short", rng.integers(0, 100, size=5)),
    ):
        for i, v in enumerate(gen):
            rows.append({"k": key, "t": int(i), "v": int(v)})
    pdf = pd.DataFrame(rows)
    df = spark.createDataFrame(pdf, schema="k string, t long, v long")
    df.cache().count()
    return df, pdf


def _np_sax(vals: np.ndarray, w: int, a: int):
    """Independent re-derivation: discrete PAA index map + population
    z-norm + breakpoint binning."""
    n = len(vals)
    seg = (np.arange(n) * w) // n
    mean, std = vals.mean(), vals.std()  # population
    out = {}
    for s in np.unique(seg):
        m = vals[seg == s].mean()
        z = 0.0 if std == 0 else (m - mean) / std
        idx = sum(z > b for b in sax_breakpoints(a))
        out[int(s)] = (m, z, "abcdefghijklmnopqrstuvwxyz"[idx])
    return out


@pytest.mark.parametrize("w,a", [(16, 4), (8, 8), (20, 3)])
def test_paa_sax_matches_numpy(spark, series_df, w, a):
    df, pdf = series_df
    got = paa_sax(df, "k", "t", "v", n_segments=w, alphabet_size=a).collect()
    by_key = {}
    for r in got:
        by_key.setdefault(r["k"], {})[r["segment"]] = r
    for key in ("rw", "trend", "flat", "short"):
        vals = pdf[pdf["k"] == key].sort_values("t")["v"].to_numpy(np.float64)
        exp = _np_sax(vals, w, a)
        assert set(by_key[key]) == set(exp)
        for s, (m, z, sym) in exp.items():
            r = by_key[key][s]
            assert r["paa"] == pytest.approx(m, abs=1e-12)
            assert r["z"] == pytest.approx(z, abs=1e-12)
            assert r["symbol"] == sym


def test_flat_series_is_all_median_letter(spark, series_df):
    df, _ = series_df
    out = paa_sax(
        df.filter("k = 'flat'"), "k", "t", "v", n_segments=8, alphabet_size=4
    ).collect()
    # z = 0 for a constant series; 0 clears only the negative breakpoint
    # of a=4 -> letter 'b' (the SAX flat-series convention)
    assert all(r["z"] == 0.0 and r["symbol"] == "b" for r in out)


def test_short_series_yields_one_segment_per_row(spark, series_df):
    df, pdf = series_df
    out = paa_sax(
        df.filter("k = 'short'"), "k", "t", "v", n_segments=16
    ).collect()
    n = int((pdf["k"] == "short").sum())
    assert len(out) == n
    assert all(r["seg_n"] == 1 for r in out)
    # each segment's paa is the row value itself
    vals = pdf[pdf["k"] == "short"].sort_values("t")["v"].tolist()
    assert [r["paa"] for r in sorted(out, key=lambda r: r["segment"])] == vals


def test_sax_words_and_duplicate_detection(spark):
    # two keys carrying the SAME series must produce identical words
    pdf = pd.DataFrame(
        [
            {"k": k, "t": t, "v": int(np.sin(t / 7) * 100)}
            for k in ("a1", "a2")
            for t in range(128)
        ]
        + [{"k": "other", "t": t, "v": t * t % 251} for t in range(128)]
    )
    df = spark.createDataFrame(pdf, schema="k string, t long, v long")
    words = {r["k"]: r["word"] for r in sax_words(df, "k", "t", "v").collect()}
    assert words["a1"] == words["a2"]
    assert words["a1"] != words["other"]
    assert len(words["a1"]) == 16
    assert set(words["a1"]) <= set("abcd")


def test_paa_sax_plan_one_exchange_no_python(spark, series_df):
    df, _ = series_df
    p = executed_plan(paa_sax(df, "k", "t", "v", n_segments=8))
    # window Exchange only: the (k, segment) aggregate and the series
    # totals reuse the window's hash partitioning
    assert p.count("Exchange") == 1, p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    pw = executed_plan(sax_words(df, "k", "t", "v", n_segments=8))
    assert pw.count("Exchange") == 1, pw
    assert "BatchEvalPython" not in pw and "MapInPandas" not in pw


def _frames(spark):
    old = spark.createDataFrame(
        pd.DataFrame(
            [
                {"k": "a", "b": 1, "n": 10, "s": 1.5},
                {"k": "a", "b": 2, "n": 20, "s": 2.5},
                {"k": "b", "b": 1, "n": 5, "s": None},
                {"k": "gone", "b": 9, "n": 1, "s": 0.0},
            ]
        ),
        schema="k string, b long, n long, s double",
    )
    new = spark.createDataFrame(
        pd.DataFrame(
            [
                {"k": "a", "b": 1, "n": 10, "s": 1.5},   # unchanged
                {"k": "a", "b": 2, "n": 21, "s": 2.5},   # changed (n)
                {"k": "b", "b": 1, "n": 5, "s": 7.0},    # changed (NULL -> 7)
                {"k": "c", "b": 3, "n": 2, "s": 0.5},    # added
            ]
        ),
        schema="k string, b long, n long, s double",
    )
    return old, new


def test_tier_diff_classification(spark):
    old, new = _frames(spark)
    out = tier_diff(old, new, ["k", "b"], ["n", "s"]).collect()
    got = {(r["k"], r["b"]): r for r in out}
    assert set(got) == {("a", 2), ("b", 1), ("c", 3), ("gone", 9)}
    assert got[("a", 2)]["change"] == "changed"
    assert got[("a", 2)]["old_n"] == 20 and got[("a", 2)]["new_n"] == 21
    # NULL -> value is 'changed' (null-safe compare), not 'added'
    assert got[("b", 1)]["change"] == "changed"
    assert got[("b", 1)]["old_s"] is None and got[("b", 1)]["new_s"] == 7.0
    assert got[("c", 3)]["change"] == "added"
    assert got[("c", 3)]["old_n"] is None
    assert got[("gone", 9)]["change"] == "removed"
    assert got[("gone", 9)]["new_n"] is None


def test_tier_diff_include_unchanged_and_identity(spark):
    old, new = _frames(spark)
    full = tier_diff(old, new, ["k", "b"], ["n", "s"], include_unchanged=True)
    assert full.filter(F.col("change") == "unchanged").count() == 1
    # diffing a frame against itself reports nothing (NULLs compare equal)
    assert tier_diff(old, old, ["k", "b"], ["n", "s"]).count() == 0


def test_tier_diff_matches_incremental_refresh_semantics(spark):
    """The audit use: old = rollup of a prefix, new = rollup of the full
    table; every diff row must be explained by the appended suffix."""
    pdf = pd.DataFrame(
        {
            "k": ["x"] * 50 + ["y"] * 50,
            "t": list(range(50)) * 2,
            "v": range(100),
        }
    )
    df = spark.createDataFrame(pdf, schema="k string, t long, v long")
    bucket = (F.col("t") / 10).cast("long").alias("b")

    def roll(src):
        return src.groupBy("k", bucket).agg(
            F.count("*").alias("n"), F.sum("v").alias("s")
        )

    out = tier_diff(
        roll(df.filter("t < 35")), roll(df), ["k", "b"], ["n", "s"]
    ).collect()
    got = {(r["k"], r["b"]): r["change"] for r in out}
    # bucket 3 is partially filled by the prefix (t=30..34): changed;
    # bucket 4 only exists in the full table: added
    assert got == {
        ("x", 3): "changed",
        ("x", 4): "added",
        ("y", 3): "changed",
        ("y", 4): "added",
    }
