"""Tests for counters (rate/TWA/EWMA/gaps), interval join, stats rollups,
and OHLC — each pinned against an independent pandas/numpy oracle."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.counters import (
    counter_rate,
    detect_gaps,
    ewma,
    time_weighted_avg,
)
from tablecloth_time_spark.operators.intervals import interval_join
from tablecloth_time_spark.operators.rollup import ohlc
from tablecloth_time_spark.operators.stats import (
    distinct_rollup,
    percentile_rollup,
    topk_per_bucket,
)

from tests.conftest import assert_frames_equal, executed_plan

T0 = dt.datetime(2024, 3, 1, 0, 0, 0)


def _series_pdf(seed=7, n=400, nkeys=5):
    rng = np.random.default_rng(seed)
    ts = [
        T0 + dt.timedelta(seconds=int(s))
        for s in np.cumsum(rng.integers(1, 7200, n))
    ]
    return pd.DataFrame(
        {
            "k": rng.integers(0, nkeys, n).astype("int64"),
            "ts": ts,
            "v": np.round(rng.uniform(0, 1000, n), 3),
        }
    )


@pytest.fixture(scope="module")
def series(spark):
    pdf = _series_pdf()
    df = spark.createDataFrame(pdf)
    df.cache().count()
    return df, pdf


# ---------------------------------------------------------------- counter_rate


def test_counter_rate_matches_pandas(spark, series):
    df, pdf = series
    got = counter_rate(df, "k", "ts", "v").select("k", "ts", "delta", "rate_per_s")

    def per_key(g):
        g = g.sort_values("ts")
        prev = g["v"].shift(1)
        raw = g["v"] - prev
        delta = raw.where(raw >= 0, g["v"])
        delta[prev.isna()] = np.nan
        dt_s = (g["ts"] - g["ts"].shift(1)).dt.total_seconds()
        rate = delta / dt_s
        return pd.DataFrame(
            {"k": g["k"], "ts": g["ts"], "delta": delta, "rate_per_s": rate}
        )

    exp = (
        pdf.groupby("k", group_keys=False)[["k", "ts", "v"]]
        .apply(per_key)
        .reset_index(drop=True)
    )
    assert_frames_equal(got, exp, ["k", "ts"])


def test_counter_rate_reset(spark):
    rows = [
        (1, T0, 10.0),
        (1, T0 + dt.timedelta(seconds=10), 25.0),
        (1, T0 + dt.timedelta(seconds=20), 5.0),  # reset: counter dropped
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = {
        r["ts"]: (r["delta"], r["rate_per_s"])
        for r in counter_rate(df, "k", "ts", "v").collect()
    }
    assert out[T0] == (None, None)
    assert out[T0 + dt.timedelta(seconds=10)] == (15.0, 1.5)
    # after the reset the increase is the post-reset value itself
    assert out[T0 + dt.timedelta(seconds=20)] == (5.0, 0.5)


def test_counter_rate_not_reset_aware(spark):
    rows = [(1, T0, 10.0), (1, T0 + dt.timedelta(seconds=10), 4.0)]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = counter_rate(df, "k", "ts", "v", reset_aware=False).collect()
    by_ts = {r["ts"]: r["delta"] for r in out}
    assert by_ts[T0 + dt.timedelta(seconds=10)] == -6.0


# ------------------------------------------------------------ counter_increase


def test_counter_increase_matches_pandas(spark, series):
    from tablecloth_time_spark.operators.counters import counter_increase

    df, pdf = series
    got = (
        counter_increase(df, "k", "ts", "v", 1, "hour")
        .toPandas()
        .sort_values(["k", "bucket"], kind="stable")
        .reset_index(drop=True)
    )

    def per_key(g):
        g = g.sort_values("ts")
        prev = g["v"].shift(1)
        raw = g["v"] - prev
        delta = raw.where(raw >= 0, g["v"])
        delta[prev.isna()] = np.nan
        return pd.DataFrame(
            {"k": g["k"], "bucket": g["ts"].dt.floor("h"), "delta": delta}
        )

    deltas = pdf.groupby("k", group_keys=False)[["k", "ts", "v"]].apply(per_key)
    exp = (
        deltas.groupby(["k", "bucket"])
        .agg(increase=("delta", lambda s: s.sum(min_count=1)),
             n_samples=("delta", "size"))
        .reset_index()
        .sort_values(["k", "bucket"], kind="stable")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["k"] == exp["k"]).all()
    assert (got["bucket"] == exp["bucket"]).all()
    assert (got["n_samples"].to_numpy() == exp["n_samples"].to_numpy()).all()
    gi, ei = got["increase"].to_numpy(float), exp["increase"].to_numpy(float)
    assert (np.isnan(gi) == np.isnan(ei)).all()
    m = ~np.isnan(gi)
    assert np.allclose(gi[m], ei[m], rtol=1e-12)


def test_counter_increase_boundary_attribution_and_tiering(spark):
    """Growth observed across a bucket boundary lands in the LATER
    bucket; a first-sample-only bucket reports NULL; and bucket
    increases SUM to the coarser tier's increase (cascade exactness)."""
    from tablecloth_time_spark.operators.counters import counter_increase

    rows = [
        (1, T0 + dt.timedelta(minutes=50), 100.0),
        (1, T0 + dt.timedelta(minutes=70), 160.0),  # +60 -> hour 1
        (1, T0 + dt.timedelta(minutes=80), 40.0),   # reset -> +40, hour 1
        (1, T0 + dt.timedelta(minutes=130), 90.0),  # +50 -> hour 2
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = {
        r["bucket"]: (r["increase"], r["n_samples"])
        for r in counter_increase(df, "k", "ts", "v", 1, "hour").collect()
    }
    assert out[T0] == (None, 1)  # first sample only: unknown, not zero
    assert out[T0 + dt.timedelta(hours=1)] == (100.0, 2)
    assert out[T0 + dt.timedelta(hours=2)] == (50.0, 1)
    day = {
        r["bucket"]: r["increase"]
        for r in counter_increase(df, "k", "ts", "v", 1, "day").collect()
    }
    assert day[T0.replace(hour=0)] == 150.0  # == sum of the hourly tier


def test_counter_increase_plan(spark, series):
    from tablecloth_time_spark.operators.counters import counter_increase

    df, _ = series
    plan = executed_plan(counter_increase(df, "k", "ts", "v", 1, "hour"))
    # ONE shuffle: the (k, bucket) aggregate's clustering requirement is
    # satisfied by the lag window's hash partitioning on k alone
    assert plan.count("Exchange") == 1
    assert "Python" not in plan and "MapInPandas" not in plan


# ------------------------------------------------------------ time_weighted_avg


def test_twa_matches_numpy(spark, series):
    df, pdf = series
    got = time_weighted_avg(df, "k", "ts", "v", 1, "day")

    recs = []
    pdf2 = pdf.copy()
    pdf2["bucket"] = pdf2["ts"].dt.floor("D")
    for (k, b), g in pdf2.groupby(["k", "bucket"]):
        g = g.sort_values("ts")
        t = g["ts"].astype("int64").to_numpy() // 10**6
        v = g["v"].to_numpy()
        if len(g) == 1:
            twa = float(v[0])
        else:
            w = np.diff(t).astype(float)
            twa = float(np.sum(v[:-1] * w) / np.sum(w))
        recs.append({"k": k, "bucket": b, "twa": twa})
    exp = pd.DataFrame(recs)
    assert_frames_equal(got, exp, ["k", "bucket"])


def test_twa_constant_value_is_exact(spark):
    rows = [(1, T0 + dt.timedelta(minutes=m), 42.0) for m in (0, 7, 55)]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    [r] = time_weighted_avg(df, "k", "ts", "v", 1, "hour").collect()
    assert r["twa"] == 42.0


def test_twa_weights_long_hold(spark):
    # 10 held for 59 minutes, then 1000 at the last sample: plain avg says
    # 505, LOCF-TWA must stay 10 (the last sample holds for 0 time)
    rows = [(1, T0, 10.0), (1, T0 + dt.timedelta(minutes=59), 1000.0)]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    [r] = time_weighted_avg(df, "k", "ts", "v", 1, "hour").collect()
    assert r["twa"] == 10.0


# ----------------------------------------------------------------------- ewma


def test_ewma_matches_direct_formula(spark, series):
    df, pdf = series
    got = ewma(df, "k", "ts", "v", halflife=30, unit="minute").toPandas()

    hl_ms = 30 * 60_000.0
    recs = []
    for k, g in pdf.groupby("k"):
        g = g.sort_values("ts")
        t = (g["ts"].astype("int64").to_numpy() // 10**6).astype(np.float64)
        x = g["v"].to_numpy()
        for i in range(len(g)):
            w = 0.5 ** ((t[i] - t[: i + 1]) / hl_ms)
            recs.append(
                {
                    "k": k,
                    "ts_ms": int(t[i]),
                    "value": x[i],
                    "ewma": float(np.sum(w * x[: i + 1]) / np.sum(w)),
                }
            )
    exp = pd.DataFrame(recs)
    got = got.sort_values(["k", "ts_ms"]).reset_index(drop=True)
    exp = exp.sort_values(["k", "ts_ms"]).reset_index(drop=True)
    np.testing.assert_allclose(got["ewma"], exp["ewma"], rtol=1e-9)
    assert got["ts_ms"].tolist() == exp["ts_ms"].tolist()


def test_ewma_first_sample_is_value(spark):
    rows = [(1, T0, 123.0)]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    [r] = ewma(df, "k", "ts", "v", halflife=10).collect()
    assert r["ewma"] == 123.0


def test_ewma_segment_carry_across_long_span(spark):
    """The window plan anchors exponents per 512-halflife segment with a
    one-segment carry (counters.py ewma docstring). A 3-day series at
    1-minute halflife crosses ~8 segment boundaries — every boundary
    crossing must agree with the direct O(n^2) formula, including the
    rows immediately after each boundary (where the carry term dominates)."""
    rng = np.random.default_rng(7)
    n = 4320  # 3 days of minutes; u spans ~8.4 segments of 512 halflives
    ts = [T0 + dt.timedelta(minutes=i) for i in range(n)]
    x = rng.normal(50.0, 10.0, n)
    df = spark.createDataFrame(
        [(1, t, float(v)) for t, v in zip(ts, x)], "k int, ts timestamp, v double"
    )
    got = (
        ewma(df, "k", "ts", "v", halflife=1, unit="minute")
        .toPandas()
        .sort_values("ts_ms")
        .reset_index(drop=True)
    )
    t_ms = np.array([int(t.timestamp() * 1000) for t in ts], dtype=np.float64)
    exp = np.empty(n)
    for i in range(n):
        w = 0.5 ** ((t_ms[i] - t_ms[: i + 1]) / 60_000.0)
        exp[i] = np.sum(w * x[: i + 1]) / np.sum(w)
    np.testing.assert_allclose(got["ewma"].to_numpy(), exp, rtol=1e-9)


def test_ewma_giant_gap_corner(spark):
    """The documented giant-gap corners (ewma docstring).

    600 halflives (adjacent anchor segment): a VALID sample restarts at
    its own value (the carried mass is 2^-600 of the row's own weight —
    sub-ULP, identical to the exact answer at double precision), while a
    NULL sample still reports the previous mean exactly — the carry
    cancels in the ratio, matching pandas.

    4000 halflives (rescale factor 2^(-512*7) underflows float64 to 0):
    a NULL row's entire non-null history has weight exactly 0.0, so the
    row reports null rather than a fabricated stale mean — the one
    documented deviation from pandas' indefinite NaN carry."""
    rows = [
        (1, T0, 100.0),
        (1, T0 + dt.timedelta(minutes=600), 40.0),
        (2, T0, 100.0),
        (2, T0 + dt.timedelta(minutes=600), None),
        (3, T0, 100.0),
        (3, T0 + dt.timedelta(minutes=4000), None),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = {
        (r["k"], r["ts_ms"]): r["ewma"]
        for r in ewma(df, "k", "ts", "v", halflife=1, unit="minute").collect()
    }
    t0_ms, t1_ms = sorted(ms for k, ms in out if k == 1)
    t3_ms = max(ms for k, ms in out if k == 3)
    assert out[(1, t0_ms)] == 100.0
    assert out[(1, t1_ms)] == 40.0  # 2^-600-weighted history is sub-ULP
    assert out[(2, t0_ms)] == 100.0
    assert out[(2, t1_ms)] == 100.0  # carry cancels in the ratio: pandas parity
    assert out[(3, t3_ms)] is None  # underflowed history: the one deviation


def test_ewma_null_values_report_previous_mean(spark):
    """Null samples contribute to neither sum, so the ratio at a null row
    equals the previous sample's mean (weights rescale by a common
    factor); leading nulls stay null."""
    rows = [
        (1, T0, None),
        (1, T0 + dt.timedelta(minutes=1), 10.0),
        (1, T0 + dt.timedelta(minutes=2), 30.0),
        (1, T0 + dt.timedelta(minutes=3), None),
        (1, T0 + dt.timedelta(minutes=9), None),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = {
        r["ts_ms"]: r["ewma"]
        for r in ewma(df, "k", "ts", "v", halflife=1, unit="minute").collect()
    }
    t = sorted(out)
    assert out[t[0]] is None
    assert out[t[1]] == 10.0
    # decayed two-sample mean, then held flat through the null tail
    w = 0.5  # one halflife between the two samples
    expected = (w * 10.0 + 30.0) / (w + 1.0)
    np.testing.assert_allclose([out[t[2]], out[t[3]], out[t[4]]], [expected] * 3)


# ---------------------------------------------------------------- detect_gaps


def test_detect_gaps(spark):
    rows = [
        (1, T0),
        (1, T0 + dt.timedelta(minutes=5)),
        (1, T0 + dt.timedelta(minutes=75)),  # 70-minute gap
        (2, T0),
        (2, T0 + dt.timedelta(hours=3)),  # 3-hour gap
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp")
    out = detect_gaps(df, "k", "ts", threshold=1, unit="hour").collect()
    got = {(r["k"], r["gap_s"]) for r in out}
    assert got == {(1, 4200.0), (2, 10800.0)}
    by_k = {r["k"]: r for r in out}
    assert by_k[1]["gap_start"] == T0 + dt.timedelta(minutes=5)
    assert by_k[1]["gap_end"] == T0 + dt.timedelta(minutes=75)


def test_detect_gaps_none_below_threshold(spark):
    rows = [(1, T0), (1, T0 + dt.timedelta(minutes=59))]
    df = spark.createDataFrame(rows, "k int, ts timestamp")
    assert detect_gaps(df, "k", "ts", 1, "hour").count() == 0


# -------------------------------------------------------------- interval_join


def _interval_frames(spark, seed=11):
    rng = np.random.default_rng(seed)
    pts = pd.DataFrame(
        {
            "pid": np.arange(300, dtype="int64"),
            "k": rng.integers(0, 3, 300).astype("int64"),
            "ts": [
                T0 + dt.timedelta(seconds=int(s))
                for s in rng.integers(0, 86_400 * 3, 300)
            ],
        }
    )
    starts = rng.integers(0, 86_400 * 3, 40)
    lengths = rng.integers(300, 4 * 3600, 40)
    ivs = pd.DataFrame(
        {
            "iv_id": np.arange(40, dtype="int64"),
            "k": rng.integers(0, 3, 40).astype("int64"),
            "start": [T0 + dt.timedelta(seconds=int(s)) for s in starts],
            "end": [
                T0 + dt.timedelta(seconds=int(s + l))
                for s, l in zip(starts, lengths)
            ],
        }
    )
    return spark.createDataFrame(pts), spark.createDataFrame(ivs), pts, ivs


def _expected_pairs(pts, ivs, keyed=True):
    out = set()
    for p in pts.itertuples():
        for i in ivs.itertuples():
            if keyed and p.k != i.k:
                continue
            if i.start <= p.ts < i.end:
                out.add((p.pid, i.iv_id))
    return out


@pytest.mark.parametrize("width,unit", [(1, "hour"), (30, "minute"), (1, "day")])
def test_interval_join_matches_bruteforce(spark, width, unit):
    pdf, idf, pts, ivs = _interval_frames(spark)
    got = interval_join(
        pdf, idf, "ts", "start", "end", on="k", bucket_width=width, unit=unit
    )
    pairs = {(r["pid"], r["iv_id"]) for r in got.select("pid", "iv_id").collect()}
    assert pairs == _expected_pairs(pts, ivs, keyed=True)


def test_interval_join_unkeyed_and_left(spark):
    pdf, idf, pts, ivs = _interval_frames(spark)
    got = interval_join(
        pdf, idf.drop("k"), "ts", "start", "end", bucket_width=2, unit="hour"
    )
    pairs = {(r["pid"], r["iv_id"]) for r in got.select("pid", "iv_id").collect()}
    assert pairs == _expected_pairs(pts, ivs, keyed=False)

    left = interval_join(
        pdf, idf, "ts", "start", "end", on="k", bucket_width=2, unit="hour",
        how="left",
    )
    rows = left.select("pid", "iv_id").collect()
    # every point appears; unmatched ones exactly once with a null interval
    matched = _expected_pairs(pts, ivs, keyed=True)
    matched_pids = {p for p, _ in matched}
    got_pairs = {(r["pid"], r["iv_id"]) for r in rows if r["iv_id"] is not None}
    null_pids = [r["pid"] for r in rows if r["iv_id"] is None]
    assert got_pairs == matched
    assert set(null_pids) == set(pts["pid"]) - matched_pids
    assert len(null_pids) == len(set(null_pids))


def test_interval_join_half_open_boundaries(spark):
    pts = spark.createDataFrame(
        [(1, T0), (2, T0 + dt.timedelta(hours=1))], "pid int, ts timestamp"
    )
    ivs = spark.createDataFrame(
        [(10, T0, T0 + dt.timedelta(hours=1))],
        "iv_id int, start timestamp, end timestamp",
    )
    got = interval_join(pts, ivs, "ts", "start", "end", bucket_width=1, unit="hour")
    assert [r["pid"] for r in got.collect()] == [1]  # start incl, end excl


def test_interval_join_degenerate_and_collision(spark):
    pts = spark.createDataFrame([(1, T0)], "pid int, ts timestamp")
    empty = spark.createDataFrame(
        [(10, T0, T0)], "iv_id int, start timestamp, end timestamp"
    )
    assert interval_join(pts, empty, "ts", "start", "end").count() == 0
    bad = spark.createDataFrame(
        [(1, T0, T0 + dt.timedelta(hours=1))],
        "pid int, start timestamp, end timestamp",
    )
    with pytest.raises(ValueError, match="collide"):
        interval_join(pts, bad, "ts", "start", "end")


# ----------------------------------------------------------- percentiles/topk


def test_percentile_rollup_matches_numpy(spark, series):
    df, pdf = series
    got = percentile_rollup(df, ["k"], "ts", "v", 1, "day")
    pdf2 = pdf.copy()
    pdf2["bucket"] = pdf2["ts"].dt.floor("D")
    exp = (
        pdf2.groupby(["k", "bucket"])["v"]
        .agg(
            p50=lambda s: np.percentile(s, 50),
            p95=lambda s: np.percentile(s, 95),
            p99=lambda s: np.percentile(s, 99),
        )
        .reset_index()
    )
    out = got.toPandas().sort_values(["k", "bucket"]).reset_index(drop=True)
    exp = exp.sort_values(["k", "bucket"]).reset_index(drop=True)
    np.testing.assert_allclose(out["p50"], exp["p50"], rtol=1e-12)
    np.testing.assert_allclose(out["p95"], exp["p95"], rtol=1e-12)
    np.testing.assert_allclose(out["p99"], exp["p99"], rtol=1e-12)


def test_approx_percentile_close_to_exact(spark, series):
    df, _ = series
    # one wide bucket -> ~80 rows per (k, bucket); approx_percentile is
    # nearest-rank (no interpolation), so tiny groups diverge by design
    exact = percentile_rollup(df, ["k"], "ts", "v", 365, "day")
    approx = percentile_rollup(df, ["k"], "ts", "v", 365, "day", exact=False)
    j = exact.alias("e").join(
        approx.alias("a"), ["k", "bucket"]
    ).select(
        (F.abs(F.col("e.p50") - F.col("a.p50"))).alias("d50"),
    )
    assert j.agg(F.max("d50")).first()[0] < 50  # sketch within coarse tolerance


def test_topk_per_bucket(spark):
    rows = []
    for day, spec in [(0, {"a": 5, "b": 3, "c": 1}), (1, {"b": 4, "c": 4, "d": 1})]:
        for name, n in spec.items():
            for i in range(n):
                rows.append((T0 + dt.timedelta(days=day, minutes=i), name))
    df = spark.createDataFrame(rows, "ts timestamp, g string")
    out = topk_per_bucket(df, "g", "ts", 1, "day", k=2).collect()
    by_bucket: dict = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append((r["rnk"], r["g"], r["n"]))
    d0, d1 = sorted(by_bucket)
    assert sorted(by_bucket[d0]) == [(1, "a", 5), (2, "b", 3)]
    # tie at 4: deterministic break on group name ascending
    assert sorted(by_bucket[d1]) == [(1, "b", 4), (2, "c", 4)]


# ----------------------------------------------------------------------- ohlc


def test_ohlc_matches_pandas(spark, series):
    df, pdf = series
    got = ohlc(df, ["k"], "ts", "v", 1, "day")
    pdf2 = pdf.copy()
    pdf2["bucket"] = pdf2["ts"].dt.floor("D")
    exp = (
        pdf2.sort_values("ts", kind="stable")
        .groupby(["k", "bucket"])["v"]
        .agg(open="first", high="max", low="min", close="last")
        .reset_index()
    )
    assert_frames_equal(got, exp, ["k", "bucket"])


# ------------------------------------------------------------ distinct_rollup


def test_distinct_rollup_exact_vs_pandas(spark, series):
    df, pdf = series
    got = distinct_rollup(df, ["k"], "ts", "v", 1, "day")
    pdf2 = pdf.copy()
    pdf2["bucket"] = pdf2["ts"].dt.floor("D")
    exp = (
        pdf2.groupby(["k", "bucket"])["v"].nunique().reset_index(name="n_distinct")
    )
    exp["n_distinct"] = exp["n_distinct"].astype("int64")
    assert_frames_equal(got, exp, ["k", "bucket"])


def test_distinct_rollup_approx_within_rsd(spark, series):
    df, _ = series
    exact = distinct_rollup(df, ["k"], "ts", "v", 365, "day")
    approx = distinct_rollup(df, ["k"], "ts", "v", 365, "day", exact=False)
    j = exact.alias("e").join(approx.alias("a"), ["k", "bucket"]).select(
        F.col("e.n_distinct").alias("ne"), F.col("a.n_distinct").alias("na")
    )
    for r in j.collect():
        assert abs(r["na"] - r["ne"]) <= max(3, 0.15 * r["ne"])


# ------------------------------------------------------------------------ lttb


def _lttb_python(t, v, n_out):
    """Straightforward reference LTTB (per the published algorithm)."""
    import numpy as np

    n = len(t)
    if n_out >= n or n <= 2:
        return list(range(n))
    if n_out < 3:
        return [0, n - 1]
    edges = np.linspace(1, n - 1, n_out - 1).astype(int)
    sel = [0]
    a = 0
    for i in range(n_out - 2):
        lo, hi = edges[i], edges[i + 1]
        nlo = edges[i + 1]
        nhi = n if i == n_out - 3 else edges[i + 2]
        cx = t[nlo:nhi].mean() if nhi > nlo else t[n - 1]
        cy = v[nlo:nhi].mean() if nhi > nlo else v[n - 1]
        best, best_area = lo, -1.0
        for j in range(lo, max(hi, lo + 1)):
            area = abs((t[a] - cx) * (v[j] - v[a]) - (t[a] - t[j]) * (cy - v[a]))
            if area > best_area:
                best, best_area = j, area
        a = best
        sel.append(a)
    sel.append(n - 1)
    return sorted(set(sel))


def test_lttb_kernel_matches_reference_impl():
    import numpy as np

    from tablecloth_time_spark.operators.downsample import lttb_select

    rng = np.random.default_rng(3)
    for n, n_out in [(500, 50), (100, 99), (100, 3), (10, 4), (3, 2), (2, 5)]:
        t = np.sort(rng.uniform(0, 1e6, n))
        v = rng.uniform(-50, 50, n)
        assert lttb_select(t, v, n_out).tolist() == _lttb_python(t, v, n_out)


def test_lttb_downsample_df(spark, series):
    from tablecloth_time_spark.operators.downsample import lttb_downsample

    df, pdf = series
    out = lttb_downsample(df, "k", "ts", "v", n_out=20).toPandas()
    for k, g in pdf.groupby("k"):
        g = g.sort_values("ts")
        t = (g["ts"].astype("int64").to_numpy() // 10**6).astype(float)
        v = g["v"].to_numpy()
        exp_idx = _lttb_python(t, v, 20)
        got = out[out["k"] == k].sort_values("ts_ms")
        assert got["ts_ms"].tolist() == [int(t[i]) for i in exp_idx]
        # endpoints always kept
        assert got["ts_ms"].iloc[0] == int(t[0])
        assert got["ts_ms"].iloc[-1] == int(t[-1])


def test_distinct_rollup_excludes_nulls_like_count_distinct(spark):
    rows = [
        (1, T0, "u1"),
        (1, T0 + dt.timedelta(minutes=1), None),
        (1, T0 + dt.timedelta(minutes=2), "u2"),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, u string")
    [ex] = distinct_rollup(df, ["k"], "ts", "u", 1, "day").collect()
    [ap] = distinct_rollup(df, ["k"], "ts", "u", 1, "day", exact=False).collect()
    assert ex["n_distinct"] == 2  # NULL is not a distinct value
    assert ap["n_distinct"] == 2


def test_ewma_keeps_null_key_group(spark):
    rows = [
        (None, T0, 10.0),
        (None, T0 + dt.timedelta(minutes=1), 10.0),
        (1, T0, 5.0),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = ewma(df, "k", "ts", "v", halflife=10).collect()
    assert len(out) == 3  # the null-key series is a real group, not dropped
    nulls = [r for r in out if r["k"] is None]
    assert len(nulls) == 2 and all(r["ewma"] == 10.0 for r in nulls)


def test_lttb_n_out_budget_respected():
    import numpy as np

    from tablecloth_time_spark.operators.downsample import lttb_select

    t = np.arange(10, dtype=float)
    v = np.arange(10, dtype=float)
    assert len(lttb_select(t, v, 1)) <= 1
    assert len(lttb_select(t, v, 2)) <= 2


@pytest.mark.parametrize("how", ["inner", "left"])
def test_interval_join_salted_identical_results(spark, how):
    """Hot-bucket salting must not change results — same pairs, same
    unmatched-point rows, for both join modes."""
    pdf, idf, pts, ivs = _interval_frames(spark)
    base = interval_join(
        pdf, idf, "ts", "start", "end", on="k",
        bucket_width=2, unit="hour", how=how,
    )
    salted = interval_join(
        pdf, idf, "ts", "start", "end", on="k",
        bucket_width=2, unit="hour", how=how, salt=7,
    )
    key = lambda rows: sorted(
        (r["pid"], r["iv_id"]) for r in rows  # noqa: E731
    )
    assert key(salted.select("pid", "iv_id").collect()) == key(
        base.select("pid", "iv_id").collect()
    )


def test_suppress_duplicate_events_chain(spark):
    """Back-to-back re-deliveries chain: every copy after the first is
    flagged, even when the burst outlasts the window; a later legitimate
    repeat outside the window is NOT flagged."""
    from tablecloth_time_spark.operators.dedup import suppress_duplicate_events

    rows = [
        (1, 1, T0, "click", 5.0),
        (2, 1, T0 + dt.timedelta(minutes=5), "click", 5.0),   # dup
        (3, 1, T0 + dt.timedelta(minutes=12), "click", 5.0),  # dup (chained)
        (4, 1, T0 + dt.timedelta(hours=2), "click", 5.0),     # legit repeat
        (5, 1, T0 + dt.timedelta(minutes=3), "view", 5.0),    # diff fingerprint
        (6, 2, T0 + dt.timedelta(minutes=3), "click", 5.0),   # diff key
    ]
    df = spark.createDataFrame(
        rows, "event_id int, k int, ts timestamp, et string, v double"
    )
    out = {
        r["event_id"]: r["is_duplicate"]
        for r in suppress_duplicate_events(
            df, "k", "ts", ["et", "v"], 10, "minute", order_cols=["event_id"]
        ).collect()
    }
    assert out == {1: False, 2: True, 3: True, 4: False, 5: False, 6: False}


def test_distinct_rollup_all_null_group_survives(spark):
    rows = [(1, T0, None), (1, T0 + dt.timedelta(minutes=1), None)]
    df = spark.createDataFrame(rows, "k int, ts timestamp, u string")
    [ex] = distinct_rollup(df, ["k"], "ts", "u", 1, "day").collect()
    [ap] = distinct_rollup(df, ["k"], "ts", "u", 1, "day", exact=False).collect()
    assert ex["n_distinct"] == 0 and ap["n_distinct"] == 0  # group kept


# ------------------------------------------------------------- state_durations


def test_state_durations_golden(spark):
    """LOCF state segments clipped to hourly buckets: a state spanning a
    bucket boundary splits its duration across both buckets; the last
    sample's open state contributes nothing."""
    from tablecloth_time_spark.operators.counters import state_durations

    rows = [
        ("c1", T0, "user"),                            # holds 40 min
        ("c1", T0 + dt.timedelta(minutes=40), "tool"),  # holds 40 min (20+20)
        ("c1", T0 + dt.timedelta(minutes=80), "user"),  # open -> dropped
    ]
    df = spark.createDataFrame(rows, ["conv", "ts", "role"])
    got = {
        (r["bucket"], r["role"]): r["duration_ms"]
        for r in state_durations(df, "conv", "ts", "role", 1, "hour").collect()
    }
    h0, h1 = T0, T0 + dt.timedelta(hours=1)
    assert got == {
        (h0, "user"): 40 * 60_000,
        (h0, "tool"): 20 * 60_000,
        (h1, "tool"): 20 * 60_000,
    }


def test_state_durations_matches_python(spark):
    from tablecloth_time_spark.operators.counters import state_durations

    rng = np.random.default_rng(31)
    states = ["a", "b", "c"]
    rows = []
    for k in range(4):
        t = T0
        for _ in range(80):
            t = t + dt.timedelta(seconds=int(rng.integers(30, 5400)))
            rows.append((f"k{k}", t, states[int(rng.integers(0, 3))]))
    df = spark.createDataFrame(rows, ["k", "ts", "state"])
    got = {
        (r["k"], r["bucket"], r["state"]): r["duration_ms"]
        for r in state_durations(df, "k", "ts", "state", 1, "hour").collect()
    }
    # python oracle: segment -> bucket clipping
    ep = dt.datetime(1970, 1, 1)
    exp: dict = {}
    by_k: dict = {}
    for k, t, s in rows:
        by_k.setdefault(k, []).append((t, s))
    W = 3_600_000
    for k, seq in by_k.items():
        seq.sort()
        for (t0_, s), (t1_, _) in zip(seq, seq[1:]):
            s_ms = int((t0_ - ep).total_seconds() * 1000)
            e_ms = int((t1_ - ep).total_seconds() * 1000)
            b = (s_ms // W) * W
            while b < e_ms:
                dur = min(e_ms, b + W) - max(s_ms, b)
                key = (k, ep + dt.timedelta(milliseconds=b), s)
                exp[key] = exp.get(key, 0) + dur
                b += W
    assert got == exp
    # conservation: total duration == sum of closed-segment lengths
    assert sum(got.values()) == sum(
        int((b[0] - a[0]).total_seconds() * 1000)
        for seq in by_k.values()
        for a, b in zip(sorted(seq), sorted(seq)[1:])
    )


def test_state_durations_max_hold_and_validation(spark):
    """A key that goes silent tallies at most max_hold of its last state
    (review fix: unbounded LOCF hold exploded one stale sample across the
    whole gap); interval=0 raises instead of returning an empty frame."""
    from tablecloth_time_spark.operators.counters import state_durations

    rows = [
        ("c", T0, "busy"),
        ("c", T0 + dt.timedelta(days=10), "idle"),  # 10-day silence
        ("c", T0 + dt.timedelta(days=10, minutes=30), "busy"),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "state"])
    capped = state_durations(
        df, "k", "ts", "state", 1, "hour", max_hold=2, max_hold_unit="hour"
    )
    got = capped.groupBy("state").sum("duration_ms").collect()
    sums = {r["state"]: r["sum(duration_ms)"] for r in got}
    assert sums["busy"] == 2 * 3_600_000      # capped, not 10 days
    assert sums["idle"] == 30 * 60_000
    assert capped.count() == 3  # 2 busy buckets + 1 idle bucket
    with pytest.raises(ValueError, match="interval must be >= 1"):
        state_durations(df, "k", "ts", "state", 0, "hour")


def test_ewma_two_hop_carry_boundary_straddle(spark):
    """r4 review regression: segment boundaries don't imply 512 halflives
    between the CONTENTS of adjacent segments. With samples at minutes
    511 (v=0, end of segment 0) and 513 (v=100, start of segment 1), a
    null row at minute 1025 (segment 2) must blend BOTH — the one-hop
    carry saw only segment 1 and reported 100.0; the exact weights are
    2^-514 vs 2^-512, i.e. 100/(1+0.25) = 80.0."""
    e0 = dt.datetime(1970, 1, 1)
    rows = [
        (1, e0 + dt.timedelta(minutes=511), 0.0),
        (1, e0 + dt.timedelta(minutes=513), 100.0),
        (1, e0 + dt.timedelta(minutes=1025), None),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = [
        r["ewma"]
        for r in ewma(df, "k", "ts", "v", halflife=1, unit="minute")
        .orderBy("ts_ms").collect()
    ]
    assert out == [0.0, 80.0, 80.0]


def test_ewma_all_null_segment_does_not_poison_carry(spark):
    """r4 review regression: an all-null segment closes with zero mass; it
    must not displace the real history from the carry. Sample at minute 0,
    null rows at minutes 600 (segment 1) and 1025 (segment 2): both nulls
    report the carried 100.0 (the 2^-1024 rescale is subnormal, not 0)."""
    e0 = dt.datetime(1970, 1, 1)
    rows = [
        (1, e0, 100.0),
        (1, e0 + dt.timedelta(minutes=600), None),
        (1, e0 + dt.timedelta(minutes=1025), None),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = [
        r["ewma"]
        for r in ewma(df, "k", "ts", "v", halflife=1, unit="minute")
        .orderBy("ts_ms").collect()
    ]
    assert out == [100.0, 100.0, 100.0]


def test_ewma_nan_value_is_missing(spark):
    """r4 review regression: a NaN sample is missing data (pandas ewm /
    acf / ccf semantics), not a poison pill — it reports the carried mean
    and later rows continue exactly: (1*0.25 + 3*1)/(0.25 + 1) = 2.6."""
    e0 = dt.datetime(1970, 1, 1)
    rows = [
        (1, e0, 1.0),
        (1, e0 + dt.timedelta(minutes=1), float("nan")),
        (1, e0 + dt.timedelta(minutes=2), 3.0),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = [
        r["ewma"]
        for r in ewma(df, "k", "ts", "v", halflife=1, unit="minute")
        .orderBy("ts_ms").collect()
    ]
    assert out[0] == 1.0 and out[1] == 1.0
    assert out[2] == pytest.approx(2.6, rel=1e-12)


def test_ewma_randomized_sparse_gaps_with_nulls(spark):
    """Randomized differential: irregular gaps up to 300 halflives (many
    512-halflife anchor boundaries straddled at random offsets) with ~25%
    null samples (max run 2, so no gap ever reaches the documented
    underflow corner). Oracle: the direct adjusted-EWMA formula computed
    per row with weights re-anchored at the row's last non-null sample —
    exact at any span without underflow. Null rows must report the
    carried mean; valid rows the full blend."""
    rng = np.random.default_rng(113)
    hl_ms = 60_000.0
    rows, expect = [], []
    for k in range(4):
        t = 0.0
        ts_list, vals = [], []
        null_run = 0
        for _ in range(120):
            # whole milliseconds: the engine's time axis is epoch millis,
            # a fractional-ms oracle would disagree at ~1e-5 per weight
            t = float(int(t + rng.uniform(0.1, 300.0) * hl_ms))
            if null_run < 2 and rng.random() < 0.25:
                v = None
                null_run += 1
            else:
                v = float(np.round(rng.normal(100.0, 25.0), 3))
                null_run = 0
            ts_list.append(t)
            vals.append(v)
        tarr = np.array(ts_list)
        for i in range(len(tarr)):
            obs = [
                (tarr[j], vals[j]) for j in range(i + 1) if vals[j] is not None
            ]
            if not obs:
                expect.append((k, int(tarr[i]), None))
                continue
            t_ref = obs[-1][0]
            w = np.array([0.5 ** ((t_ref - tj) / hl_ms) for tj, _ in obs])
            x = np.array([vj for _, vj in obs])
            expect.append((k, int(tarr[i]), float(np.sum(w * x) / np.sum(w))))
        rows += [
            (k, dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=m), v)
            for m, v in zip(ts_list, vals)
        ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    got = {
        (r["k"], r["ts_ms"]): r["ewma"]
        for r in ewma(df, "k", "ts", "v", halflife=1, unit="minute").collect()
    }
    assert len(got) == len(expect)
    for k, ms, want in expect:
        have = got[(k, ms)]
        if want is None:
            assert have is None, (k, ms)
        else:
            assert have == pytest.approx(want, rel=1e-9), (k, ms)


# ---------------------------------------------------------------- mad


def test_mad_anomalies_matches_numpy(spark):
    """Engine modified z-score == independent numpy median/MAD oracle,
    including the planted outlier being the only flagged row."""
    from tablecloth_time_spark.operators.stats import mad_anomalies

    rng = np.random.default_rng(11)
    rows = []
    for k in ("a", "b"):
        vals = np.round(rng.normal(50, 5, 40), 3)
        vals[7] = 500.0  # planted outlier
        rows += [(k, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, i int, v double")
    got = {
        (r["k"], r["i"]): (r["score"], r["is_anomaly"])
        for r in mad_anomalies(df, ["k"], "v").collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "i", "v"])
    for k, g in pdf.groupby("k"):
        x = g["v"].to_numpy()
        med = float(np.median(x))
        mad = float(np.median(np.abs(x - med)))
        for i, v in zip(g["i"], x):
            want = 0.6745 * (v - med) / mad
            s, flag = got[(k, int(i))]
            assert s == pytest.approx(want, rel=1e-12), (k, i)
            assert flag == (abs(want) > 3.5), (k, i)
    flagged = {ki for ki, (_, f) in got.items() if f}
    assert flagged == {("a", 7), ("b", 7)}


def test_mad_anomalies_zero_mad_and_plan(spark):
    """Constant-majority key -> MAD 0 -> null score, false flag; plan
    stays broadcast-join + aggregate with no Python and no sort-merge
    shuffle of the input."""
    from tablecloth_time_spark.operators.stats import mad_anomalies

    rows = [("c", i, 5.0) for i in range(9)] + [("c", 9, 99.0)]
    df = spark.createDataFrame(rows, "k string, i int, v double")
    out = mad_anomalies(df, ["k"], "v")
    got = {r["i"]: (r["score"], r["is_anomaly"]) for r in out.collect()}
    assert all(s is None and f is False for s, f in got.values())

    plan = executed_plan(out)
    assert "Python" not in plan and "InPandas" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------- cusum


def test_cusum_matches_sequential_recurrence(spark):
    """Engine CUSUM (prefix-sum + running-min closed form) == the
    textbook sequential clipped recurrence, both sides, at two k values;
    the planted sustained drift is flagged."""
    from tablecloth_time_spark.operators.stats import cusum_scores

    rng = np.random.default_rng(23)
    rows = []
    for k in ("steady", "drift"):
        y = rng.normal(10, 2, 60)
        if k == "drift":
            y[30:] += 2.5  # sustained shift, small per-point
        rows += [(k, i, float(v)) for i, v in enumerate(y)]
    df = spark.createDataFrame(rows, "k string, i int, v double")
    pdf = pd.DataFrame(rows, columns=["k", "i", "v"])
    for slack in (0.25, 0.5):
        got = {
            (r["k"], r["i"]): (r["cusum_pos"], r["cusum_neg"], r["is_drift"])
            for r in cusum_scores(
                df, ["k"], "i", "v", k=slack, h=5.0
            ).collect()
        }
        for key, g in pdf.groupby("k"):
            y = g.sort_values("i")["v"].to_numpy()
            z = (y - y.mean()) / y.std(ddof=1)
            sp = sn = 0.0
            for i, zi in enumerate(z):
                sp = max(0.0, sp + zi - slack)
                sn = max(0.0, sn - zi - slack)
                gp, gn, flag = got[(key, i)]
                assert gp == pytest.approx(sp, abs=1e-9), (key, i, slack)
                assert gn == pytest.approx(sn, abs=1e-9), (key, i, slack)
                assert flag == (sp > 5.0 or sn > 5.0), (key, i, slack)
    # the sustained small shift accumulates past h on the positive side
    assert any(f for (key, _), (_, _, f) in got.items() if key == "drift")


def test_cusum_degenerate_and_plan(spark):
    """Constant series (stddev 0) and single-row keys yield null scores
    and false flags; the plan is one broadcast stats join + window sort —
    no Python, no sort-merge join of the big side."""
    from tablecloth_time_spark.operators.stats import cusum_scores

    rows = [("const", i, 4.0) for i in range(8)] + [("one", 0, 9.0)]
    df = spark.createDataFrame(rows, "k string, i int, v double")
    out = cusum_scores(df, ["k"], "i", "v")
    for r in out.collect():
        assert r["cusum_pos"] is None and r["cusum_neg"] is None, r
        assert r["is_drift"] is False, r

    plan = executed_plan(out)
    assert "Python" not in plan and "InPandas" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


# ------------------------------------------------------------ slo burn rate


def test_slo_burn_rate_matches_pandas(spark):
    """Both window ratios re-derived in pandas over [ts-w, ts] inclusive
    frames, including duplicate-timestamp peer rows and null errors."""
    import numpy as np

    from tablecloth_time_spark.operators.counters import slo_burn_rate

    rng = np.random.default_rng(13)
    n = 400
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 4, n).astype("int64"),
            "ts": pd.to_datetime("2024-05-01")
            + pd.to_timedelta(np.sort(rng.integers(0, 6 * 3600, n)), unit="s"),
            "err": rng.random(n) < 0.05,
        }
    )
    # duplicate timestamps -> RANGE peers; nulls -> excluded both sides
    pdf.loc[pdf.index[5], "ts"] = pdf.loc[pdf.index[6], "ts"]
    err_obj = pdf["err"].astype("object")
    err_obj.iloc[::41] = None
    pdf["err"] = err_obj

    got = (
        slo_burn_rate(
            spark.createDataFrame(pdf), "k", "ts", "err",
            slo=0.99, short=(5, "minute"), long=(1, "hour"), threshold=3.0,
        )
        .toPandas()
        .sort_values(["k", "ts"], kind="stable")
        .reset_index(drop=True)
    )
    budget = 0.01
    for k, g in pdf.groupby("k"):
        g = g.sort_values("ts", kind="stable")
        ms = g["ts"].astype("int64").to_numpy() // 10**6
        e = g["err"].to_numpy()
        sub = got[got["k"] == k].reset_index(drop=True)
        for i in range(len(g)):
            for col, width in (("err_short", 300_000), ("err_long", 3_600_000)):
                in_frame = (ms >= ms[i] - width) & (ms <= ms[i])
                vals = [x for x in e[in_frame] if x is not None]
                exp = (
                    sum(bool(x) for x in vals) / len(vals)
                    if vals else None
                )
                if exp is None:
                    assert pd.isna(sub.loc[i, col])
                else:
                    assert sub.loc[i, col] == pytest.approx(exp), (k, i, col)
            if not pd.isna(sub.loc[i, "err_short"]):
                assert sub.loc[i, "burn_short"] == pytest.approx(
                    sub.loc[i, "err_short"] / budget
                )
                assert sub.loc[i, "is_breach"] == (
                    sub.loc[i, "burn_short"] > 3.0
                    and sub.loc[i, "burn_long"] > 3.0
                )


def test_slo_burn_rate_breach_golden(spark):
    """A planted error burst breaches only while BOTH windows burn hot:
    the short window recovers quickly after the burst, the long window
    alone must not keep the alert firing (the workbook's two-window
    rationale)."""
    from tablecloth_time_spark.operators.counters import slo_burn_rate

    t0 = pd.Timestamp("2024-05-01")
    rows = []
    # 1 request / 10 s over 40 min; errors only in minutes 10-14
    for i in range(240):
        ts = t0 + pd.Timedelta(seconds=10 * i)
        minute = (10 * i) // 60
        rows.append((1, ts, 10 <= minute < 14))
    pdf = pd.DataFrame(rows, columns=["k", "ts", "err"])
    out = (
        slo_burn_rate(
            spark.createDataFrame(pdf), "k", "ts", "err",
            slo=0.9, short=(2, "minute"), long=(10, "minute"), threshold=3.0,
        )
        .toPandas()
        .sort_values("ts", kind="stable")
    )
    breached = out[out["is_breach"]]
    assert len(breached) > 0
    # the LONG window gates the alert start: errors-in-frame/10min > 0.3
    # first holds 3 minutes into the burst
    assert breached["ts"].min() >= t0 + pd.Timedelta(minutes=13)
    # ...and the SHORT window gates the clear: within one short width of
    # the burst end, even though the long window still carries residue
    assert breached["ts"].max() <= t0 + pd.Timedelta(minutes=16)
    late = out[out["ts"] > t0 + pd.Timedelta(minutes=16)]
    assert not late["is_breach"].any()
    assert (late["burn_long"] > 3.0).any()  # residue visible, not alerted


def test_slo_burn_rate_validates_and_plan(spark):
    from tablecloth_time_spark.operators.counters import slo_burn_rate

    pdf = pd.DataFrame(
        {"k": [1], "ts": [pd.Timestamp("2024-05-01")], "err": [True]}
    )
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="slo must be"):
        slo_burn_rate(df, "k", "ts", "err", slo=1.0)
    with pytest.raises(ValueError, match="narrower than long"):
        slo_burn_rate(
            df, "k", "ts", "err", short=(4, "hour"), long=(30, "minute")
        )
    with pytest.raises(ValueError, match="narrower than long"):
        slo_burn_rate(df, "k", "ts", "err", short=(0, "minute"))
    plan = executed_plan(slo_burn_rate(df, "k", "ts", "err"))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
