"""Tests for M4 downsampling, interval merging, cohort retention and
level-shift scoring — each pinned against an independent pandas/numpy
oracle, plus hand-built edge cases (ties, touching intervals, edges)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.cohorts import cohort_retention
from tablecloth_time_spark.operators.downsample import m4_downsample
from tablecloth_time_spark.operators.intervals import merge_intervals
from tablecloth_time_spark.operators.stats import level_shift_scores

from tests.conftest import assert_frames_equal, executed_plan

T0 = dt.datetime(2024, 3, 1, 0, 0, 0)


def _series_pdf(seed=11, n=500, nkeys=4):
    rng = np.random.default_rng(seed)
    ts = [
        T0 + dt.timedelta(seconds=int(s))
        for s in np.cumsum(rng.integers(1, 3600, n))
    ]
    return pd.DataFrame(
        {
            "k": rng.integers(0, nkeys, n).astype("int64"),
            "ts": ts,
            "v": np.round(rng.uniform(-100, 100, n), 3),
        }
    )


@pytest.fixture(scope="module")
def series(spark):
    pdf = _series_pdf()
    df = spark.createDataFrame(pdf)
    df.cache().count()
    return df, pdf


# ------------------------------------------------------------------------ M4


def _m4_oracle(pdf: pd.DataFrame, bucket_ms: int) -> pd.DataFrame:
    p = pdf.copy()
    p["ms"] = (p["ts"] - dt.datetime(1970, 1, 1)).dt.total_seconds() * 1000
    p["ms"] = p["ms"].astype("int64")
    p["bucket"] = pd.to_datetime((p["ms"] // bucket_ms) * bucket_ms, unit="ms")
    rows = []
    for (k, b), g in p.groupby(["k", "bucket"]):
        by_t = g.sort_values(["ms", "v"], kind="stable")
        by_v = g.sort_values(["v", "ms"], kind="stable")
        rows.append(
            {
                "k": k,
                "bucket": b,
                "t_first": by_t.iloc[0]["ts"],
                "v_first": by_t.iloc[0]["v"],
                "t_last": by_t.iloc[-1]["ts"],
                "v_last": by_t.iloc[-1]["v"],
                "t_min": by_v.iloc[0]["ts"],
                "v_min": by_v.iloc[0]["v"],
                "t_max": by_v.iloc[-1]["ts"],
                "v_max": by_v.iloc[-1]["v"],
            }
        )
    return pd.DataFrame(rows)


def test_m4_matches_pandas(spark, series):
    df, pdf = series
    got = m4_downsample(df, "k", "ts", "v", 6, "hour")
    exp = _m4_oracle(pdf, 6 * 3_600_000)
    assert_frames_equal(got, exp, ["k", "bucket"])


def test_m4_tie_pinning(spark):
    """Equal values in one bucket: min point = earliest ts, max point =
    latest ts (the documented (value, ts) lexicographic pin)."""
    rows = [
        ("a", T0 + dt.timedelta(minutes=1), 5.0),
        ("a", T0 + dt.timedelta(minutes=2), 5.0),
        ("a", T0 + dt.timedelta(minutes=3), 1.0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = m4_downsample(df, "k", "ts", "v", 1, "day").collect()[0]
    assert out["v_min"] == 1.0
    assert out["t_min"] == T0 + dt.timedelta(minutes=3)
    assert out["v_max"] == 5.0
    assert out["t_max"] == T0 + dt.timedelta(minutes=2)  # latest of the ties
    assert out["t_first"] == T0 + dt.timedelta(minutes=1)
    assert out["v_last"] == 1.0


def test_m4_single_point_bucket(spark):
    df = spark.createDataFrame([("a", T0, 7.0)], ["k", "ts", "v"])
    out = m4_downsample(df, "k", "ts", "v", 1, "hour").collect()[0]
    assert (
        out["v_first"] == out["v_last"] == out["v_min"] == out["v_max"] == 7.0
    )
    assert out["t_first"] == out["t_max"] == T0


def test_m4_plan_is_single_aggregate(spark, series):
    """M4 must stay a pure hash-aggregate: no window sort, no Python."""
    df, _ = series
    plan = executed_plan(m4_downsample(df, "k", "ts", "v", 1, "hour"))
    assert "Window" not in plan
    assert "Python" not in plan and "InPandas" not in plan
    assert plan.count("Exchange") == 1


# ------------------------------------------------------------- merge_intervals


def _iv(start_min: int, end_min: int, k="a"):
    return (
        k,
        T0 + dt.timedelta(minutes=start_min),
        T0 + dt.timedelta(minutes=end_min),
    )


def test_merge_intervals_basic(spark):
    rows = [
        _iv(0, 10),    # overlaps next
        _iv(5, 20),    # island 1: [0, 20)
        _iv(20, 30),   # touches (half-open): still island 1 -> [0, 30)
        _iv(31, 40),   # 1-minute gap: island 2
        _iv(35, 36),   # nested: island 2
        _iv(100, 110, "b"),  # other key
    ]
    df = spark.createDataFrame(rows, ["k", "start", "end"])
    got = (
        merge_intervals(df, "k", "start", "end")
        .orderBy("k", "start")
        .collect()
    )
    spans = [(r["k"], r["start"], r["end"], r["n_merged"]) for r in got]
    assert spans == [
        ("a", T0, T0 + dt.timedelta(minutes=30), 3),
        (
            "a",
            T0 + dt.timedelta(minutes=31),
            T0 + dt.timedelta(minutes=40),
            2,
        ),
        (
            "b",
            T0 + dt.timedelta(minutes=100),
            T0 + dt.timedelta(minutes=110),
            1,
        ),
    ]


def test_merge_intervals_min_gap_bridges(spark):
    rows = [_iv(0, 10), _iv(12, 20)]  # 2-minute gap
    df = spark.createDataFrame(rows, ["k", "start", "end"])
    assert merge_intervals(df, "k", "start", "end").count() == 2
    bridged = merge_intervals(
        df, "k", "start", "end", min_gap=2, gap_unit="minute"
    ).collect()
    assert len(bridged) == 1
    assert bridged[0]["end"] == T0 + dt.timedelta(minutes=20)


def _merge_oracle(pdf: pd.DataFrame, gap_ms: int = 0) -> pd.DataFrame:
    rows = []
    for k, g in pdf.groupby("k"):
        g = g.sort_values(["start", "end"], kind="stable")
        cur_s = cur_e = None
        n = 0
        for _, r in g.iterrows():
            if cur_s is None:
                cur_s, cur_e, n = r["start"], r["end"], 1
            elif (r["start"] - cur_e).total_seconds() * 1000 <= gap_ms:
                cur_e = max(cur_e, r["end"])
                n += 1
            else:
                rows.append(
                    {"k": k, "start": cur_s, "end": cur_e, "n_merged": n}
                )
                cur_s, cur_e, n = r["start"], r["end"], 1
        rows.append({"k": k, "start": cur_s, "end": cur_e, "n_merged": n})
    return pd.DataFrame(rows)


def test_merge_intervals_matches_pandas(spark):
    rng = np.random.default_rng(5)
    start = np.cumsum(rng.integers(1, 50, 300))
    length = rng.integers(1, 60, 300)
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 300).astype("int64"),
            "start": [T0 + dt.timedelta(minutes=int(s)) for s in start],
            "end": [
                T0 + dt.timedelta(minutes=int(s + d))
                for s, d in zip(start, length)
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    got = merge_intervals(df, "k", "start", "end")
    exp = _merge_oracle(pdf)
    exp["n_merged"] = exp["n_merged"].astype("int64")
    assert_frames_equal(got, exp, ["k", "start"])


def test_merge_intervals_plan_single_exchange(spark):
    df = spark.createDataFrame([_iv(0, 10), _iv(5, 20)], ["k", "start", "end"])
    plan = executed_plan(merge_intervals(df, "k", "start", "end"))
    assert plan.count("Exchange") == 1
    assert "Python" not in plan and "InPandas" not in plan


# ------------------------------------------------------------ cohort_retention


def _cohort_oracle(pdf: pd.DataFrame, step_ms: int) -> pd.DataFrame:
    p = pdf.copy()
    ms = (p["ts"] - dt.datetime(1970, 1, 1)).dt.total_seconds() * 1000
    p["bucket"] = (ms.astype("int64") // step_ms) * step_ms
    act = p[["k", "bucket"]].drop_duplicates()
    first = act.groupby("k")["bucket"].min().rename("cohort")
    act = act.join(first, on="k")
    act["offset"] = (act["bucket"] - act["cohort"]) // step_ms
    tri = (
        act.groupby(["cohort", "offset"])
        .size()
        .rename("n_users")
        .reset_index()
    )
    size = tri[tri["offset"] == 0].set_index("cohort")["n_users"]
    tri["cohort_size"] = tri["cohort"].map(size)
    tri["retention"] = tri["n_users"] / tri["cohort_size"]
    tri["cohort"] = pd.to_datetime(tri["cohort"], unit="ms")
    for c in ("offset", "n_users", "cohort_size"):
        tri[c] = tri[c].astype("int64")
    return tri


def test_cohort_retention_matches_pandas(spark, series):
    df, pdf = series
    got = cohort_retention(df, "k", "ts", 1, "day")
    exp = _cohort_oracle(pdf, 86_400_000)
    assert_frames_equal(got, exp, ["cohort", "offset"])


def test_cohort_offset_zero_is_full(spark, series):
    df, _ = series
    r0 = (
        cohort_retention(df, "k", "ts", 1, "week")
        .filter(F.col("offset") == 0)
        .collect()
    )
    assert r0 and all(r["retention"] == 1.0 for r in r0)
    assert all(r["n_users"] == r["cohort_size"] for r in r0)


def test_cohort_monthly_calendar_offsets(spark):
    rows = [
        ("u1", dt.datetime(2024, 1, 15)),
        ("u1", dt.datetime(2024, 3, 2)),   # offset 2 months
        ("u2", dt.datetime(2024, 1, 31)),
        ("u2", dt.datetime(2024, 2, 1)),   # offset 1 month
        ("u3", dt.datetime(2024, 2, 10)),  # its own cohort
    ]
    df = spark.createDataFrame(rows, ["k", "ts"])
    got = {
        (r["cohort"], r["offset"]): (r["n_users"], r["retention"])
        for r in cohort_retention(df, "k", "ts", 1, "month").collect()
    }
    jan, feb = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    assert got[(jan, 0)] == (2, 1.0)
    assert got[(jan, 1)] == (1, 0.5)
    assert got[(jan, 2)] == (1, 0.5)
    assert got[(feb, 0)] == (1, 1.0)


# ---------------------------------------------------------- level_shift_scores


def _shift_oracle(pdf: pd.DataFrame, w: int) -> pd.DataFrame:
    out = []
    for k, g in pdf.groupby("k"):
        g = g.sort_values(["ts"], kind="stable").reset_index(drop=True)
        v = g["v"].to_numpy()
        n = len(v)
        shift = np.full(n, np.nan)
        score = np.full(n, np.nan)
        for i in range(n):
            b, a = v[max(0, i - w): i], v[i: i + w]
            if len(b) == w and len(a) == w:
                shift[i] = a.mean() - b.mean()
                pooled = np.sqrt((b.var(ddof=1) + a.var(ddof=1)) / 2)
                if pooled > 0:
                    score[i] = shift[i] / pooled
        g = g.assign(shift=shift, shift_score=score)
        out.append(g)
    return pd.concat(out, ignore_index=True)


def test_level_shift_matches_pandas(spark, series):
    df, pdf = series
    got = level_shift_scores(df, ["k"], "ts", "v", window=8)
    exp = _shift_oracle(pdf, 8)
    assert_frames_equal(got, exp, ["k", "ts"])


def test_level_shift_detects_step(spark):
    """A clean 0 -> 10 step must score its changepoint row far above any
    in-segment row."""
    n = 60
    ts = [T0 + dt.timedelta(minutes=i) for i in range(n)]
    v = [0.0 + 0.01 * (i % 3) for i in range(30)] + [
        10.0 + 0.01 * (i % 3) for i in range(30)
    ]
    df = spark.createDataFrame(
        list(zip(["a"] * n, ts, v)), ["k", "ts", "v"]
    )
    rows = level_shift_scores(df, ["k"], "ts", "v", window=10).collect()
    by_ts = {r["ts"]: r["shift_score"] for r in rows if r["shift_score"]}
    peak = max(by_ts, key=lambda t: abs(by_ts[t]))
    assert peak == T0 + dt.timedelta(minutes=30)  # first row of new level
    assert abs(by_ts[peak]) > 100


def test_cohort_plan_no_python(spark, series):
    df, _ = series
    plan = executed_plan(cohort_retention(df, "k", "ts", 1, "week"))
    assert "Python" not in plan and "InPandas" not in plan


def test_level_shift_plan_single_exchange(spark, series):
    """Both side-frames must share one sort: a single Exchange, no Python."""
    df, _ = series
    plan = executed_plan(level_shift_scores(
        df, ["k"], "ts", "v", window=8
    ))
    assert plan.count("Exchange") == 1
    assert "Python" not in plan and "InPandas" not in plan


# ----------------------------------------------------------- interval_coverage


def test_interval_coverage_goldens(spark):
    """[00:30, 02:15) against 1-hour buckets: 30 min of hour 0, all of
    hour 1, 15 min of hour 2."""
    from tablecloth_time_spark.operators.intervals import interval_coverage

    df = spark.createDataFrame(
        [("a", T0 + dt.timedelta(minutes=30), T0 + dt.timedelta(minutes=135))],
        ["k", "start", "end"],
    )
    got = {
        r["bucket"]: (r["covered_ms"], r["coverage"])
        for r in interval_coverage(df, "k", "start", "end", 1, "hour").collect()
    }
    assert got[T0] == (1_800_000, 0.5)
    assert got[T0 + dt.timedelta(hours=1)] == (3_600_000, 1.0)
    assert got[T0 + dt.timedelta(hours=2)] == (900_000, 0.25)


def test_interval_coverage_overlaps_merge_first(spark):
    """Two overlapping intervals in one bucket must not double-count."""
    from tablecloth_time_spark.operators.intervals import interval_coverage

    df = spark.createDataFrame(
        [_iv(0, 20), _iv(10, 30)], ["k", "start", "end"]
    )
    rows = interval_coverage(df, "k", "start", "end", 1, "hour").collect()
    assert len(rows) == 1
    assert rows[0]["covered_ms"] == 30 * 60_000  # union, not 20+20 minutes
    # and the unmerged path double-counts by design (documented)
    raw = interval_coverage(
        df, "k", "start", "end", 1, "hour", merge_first=False
    ).collect()
    assert raw[0]["covered_ms"] == 40 * 60_000


def _coverage_oracle(pdf, width_ms):
    ep = dt.datetime(1970, 1, 1)
    cover: dict = {}
    for _, r in pdf.iterrows():
        s = int((r["start"] - ep).total_seconds() * 1000)
        e = int((r["end"] - ep).total_seconds() * 1000)
        b = (s // width_ms) * width_ms
        while b < e:
            got = min(e, b + width_ms) - max(s, b)
            cover[(r["k"], b)] = cover.get((r["k"], b), 0) + got
            b += width_ms
    return pd.DataFrame(
        [
            {
                "k": k,
                "bucket": pd.to_datetime(b, unit="ms"),
                "covered_ms": v,
                "coverage": v / width_ms,
            }
            for (k, b), v in cover.items()
        ]
    )


def test_interval_coverage_matches_pandas(spark):
    from tablecloth_time_spark.operators.intervals import (
        interval_coverage,
        merge_intervals,
    )

    rng = np.random.default_rng(23)
    start = np.cumsum(rng.integers(1, 90, 200))
    length = rng.integers(1, 200, 200)
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 200).astype("int64"),
            "start": [T0 + dt.timedelta(minutes=int(s)) for s in start],
            "end": [
                T0 + dt.timedelta(minutes=int(s + d))
                for s, d in zip(start, length)
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    got = interval_coverage(df, "k", "start", "end", 1, "hour")
    # oracle over the MERGED spans (the operator merges first)
    merged = merge_intervals(df, "k", "start", "end").toPandas()
    exp = _coverage_oracle(merged, 3_600_000)
    exp["covered_ms"] = exp["covered_ms"].astype("int64")
    assert_frames_equal(got, exp, ["k", "bucket"])


# ------------------------------------------------------- algebraic invariants


def test_merge_intervals_invariants(spark):
    """Idempotence, disjointness, and count conservation on random data."""
    from pyspark.sql import functions as SF

    rng = np.random.default_rng(41)
    start = np.cumsum(rng.integers(1, 40, 400))
    length = rng.integers(1, 120, 400)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": rng.integers(0, 5, 400).astype("int64"),
                "start": [T0 + dt.timedelta(minutes=int(s)) for s in start],
                "end": [
                    T0 + dt.timedelta(minutes=int(s + d))
                    for s, d in zip(start, length)
                ],
            }
        )
    )
    merged = merge_intervals(df, "k", "start", "end").cache()
    # count conservation: every input interval lands in exactly one span
    assert (
        merged.agg(SF.sum("n_merged")).collect()[0][0] == df.count()
    )
    # disjointness: within a key, next start strictly after previous end
    from pyspark.sql.window import Window

    w = Window.partitionBy("k").orderBy("start")
    overlaps = (
        merged.withColumn("prev_end", SF.lag("end").over(w))
        .filter(SF.col("prev_end").isNotNull() & (SF.col("start") <= SF.col("prev_end")))
        .count()
    )
    assert overlaps == 0
    # idempotence: merging the merged spans changes nothing
    twice = merge_intervals(merged.drop("n_merged"), "k", "start", "end")
    assert twice.count() == merged.count()
    a = merged.select("k", "start", "end").toPandas().sort_values(
        ["k", "start"]).reset_index(drop=True)
    b = twice.select("k", "start", "end").toPandas().sort_values(
        ["k", "start"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_m4_points_are_input_points(spark, series):
    """Every emitted (t, v) pair must be an actual input observation, and
    the value envelope must hold (v_min <= v_first, v_last <= v_max)."""
    df, pdf = series
    out = m4_downsample(df, "k", "ts", "v", 6, "hour").toPandas()
    observed = set(zip(pdf["k"], pdf["ts"], pdf["v"]))
    for _, r in out.iterrows():
        for which in ("first", "last", "min", "max"):
            assert (
                r["k"], r[f"t_{which}"].to_pydatetime(), r[f"v_{which}"]
            ) in observed
        assert r["v_min"] <= min(r["v_first"], r["v_last"])
        assert r["v_max"] >= max(r["v_first"], r["v_last"])


def test_interval_coverage_conserves_span_length(spark):
    """Sum of per-bucket covered ms == total merged span length, and every
    fraction lies in (0, 1]."""
    from pyspark.sql import functions as SF

    from tablecloth_time_spark.operators.intervals import interval_coverage

    rng = np.random.default_rng(43)
    start = np.cumsum(rng.integers(1, 60, 300))
    length = rng.integers(1, 240, 300)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": rng.integers(0, 4, 300).astype("int64"),
                "start": [T0 + dt.timedelta(minutes=int(s)) for s in start],
                "end": [
                    T0 + dt.timedelta(minutes=int(s + d))
                    for s, d in zip(start, length)
                ],
            }
        )
    )
    cov = interval_coverage(df, "k", "start", "end", 1, "hour").cache()
    merged = merge_intervals(df, "k", "start", "end")
    total_ms = merged.select(
        SF.sum(
            SF.unix_millis(SF.col("end")) - SF.unix_millis(SF.col("start"))
        )
    ).collect()[0][0]
    assert cov.agg(SF.sum("covered_ms")).collect()[0][0] == total_ms
    bad = cov.filter(
        (SF.col("coverage") <= 0) | (SF.col("coverage") > 1)
    ).count()
    assert bad == 0


def test_merge_intervals_submillisecond_gap(spark):
    """A 500-microsecond gap must NOT merge (full-precision island logic;
    review fix — a millisecond pivot silently bridged sub-ms gaps)."""
    us = dt.timedelta(microseconds=1)
    rows = [
        ("a", T0 + 100 * us, T0 + 400 * us),
        ("a", T0 + 900 * us, T0 + dt.timedelta(seconds=1)),
        # and a genuinely touching pair still merges at full precision
        ("b", T0, T0 + 250 * us),
        ("b", T0 + 250 * us, T0 + 500 * us),
    ]
    df = spark.createDataFrame(rows, ["k", "start", "end"])
    got = merge_intervals(df, "k", "start", "end").orderBy("k", "start").collect()
    assert [(r["k"], r["n_merged"]) for r in got] == [("a", 1), ("a", 1), ("b", 2)]


# ------------------------------------------------------------ histogram_rollup


def test_histogram_rollup_matches_numpy(spark, series):
    from tablecloth_time_spark.operators.stats import histogram_rollup

    df, pdf = series
    got = histogram_rollup(
        df, ["k"], "ts", "v", 1, "day", lo=-100.0, hi=100.0, n_bins=10,
        cumulative=True,
    ).toPandas()
    p = pdf.copy()
    p["bucket"] = p["ts"].dt.floor("D")
    p["bin"] = np.clip(((p["v"] + 100) / 20).astype(int), 0, 9)
    exp = (
        p.groupby(["k", "bucket", "bin"]).size().rename("n").reset_index()
    )
    merged = got.merge(exp, on=["k", "bucket", "bin"], suffixes=("", "_exp"))
    assert len(merged) == len(got) == len(exp)
    assert (merged["n"] == merged["n_exp"]).all()
    # per-group totals: the last cumulative count equals the group size
    tail = got.sort_values("bin").groupby(["k", "bucket"]).last()
    sizes = p.groupby(["k", "bucket"]).size()
    assert (tail["cum_n"] == sizes.loc[tail.index]).all()
    # bin edges are consistent
    assert ((got["bin_hi"] - got["bin_lo"]) - 20.0).abs().max() < 1e-9


def test_histogram_rollup_clamps_edges(spark):
    from tablecloth_time_spark.operators.stats import histogram_rollup

    df = spark.createDataFrame(
        [("a", T0, -999.0), ("a", T0, 999.0), ("a", T0, None)],
        ["k", "ts", "v"],
    )
    rows = histogram_rollup(
        df, ["k"], "ts", "v", 1, "day", lo=0.0, hi=10.0, n_bins=5
    ).collect()
    got = {r["bin"]: r["n"] for r in rows}
    assert got == {0: 1, 4: 1}  # out-of-range clamps, null dropped


def test_histogram_rollup_drops_nan(spark):
    """NaN values must not land in bin 0 as phantom samples (review fix:
    floor(NaN) evaluates to 0 in Spark)."""
    from tablecloth_time_spark.operators.stats import histogram_rollup

    df = spark.createDataFrame(
        [("a", T0, float("nan")), ("a", T0, 5.0)], ["k", "ts", "v"]
    )
    rows = histogram_rollup(
        df, ["k"], "ts", "v", 1, "day", lo=0.0, hi=10.0, n_bins=5
    ).collect()
    assert {(r["bin"], r["n"]) for r in rows} == {(2, 1)}


# --------------------------------------------------------- series_correlations


def test_series_correlations_matches_numpy(spark):
    from tablecloth_time_spark.operators.stats import series_correlations

    rng = np.random.default_rng(37)
    n = 240
    ts = [T0 + dt.timedelta(minutes=30 * i) for i in range(n)]
    base = rng.normal(0, 1, n)
    frames = {
        "a": base + rng.normal(0, 0.1, n),          # ~= base
        "b": -base + rng.normal(0, 0.1, n),         # anti-correlated
        "c": rng.normal(0, 1, n),                   # independent
    }
    rows = [
        (k, t, float(v)) for k, vs in frames.items() for t, v in zip(ts, vs)
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    got = {
        (r["key_a"], r["key_b"]): (r["corr"], r["n_overlap"])
        for r in series_correlations(df, "k", "ts", "v", 1, "hour").collect()
    }
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    # numpy oracle over the hourly-avg aligned series
    import pandas as pd_

    p = pd_.DataFrame(rows, columns=["k", "ts", "v"])
    p["b"] = p["ts"].dt.floor("h")
    al = p.pivot_table(index="b", columns="k", values="v", aggfunc="mean")
    for (x, y), (c, n_ov) in got.items():
        assert n_ov == len(al)
        assert c == pytest.approx(np.corrcoef(al[x], al[y])[0, 1], rel=1e-9)
    assert got[("a", "b")][0] < -0.95
    assert abs(got[("a", "c")][0]) < 0.3


def test_series_correlations_min_overlap(spark):
    from tablecloth_time_spark.operators.stats import series_correlations

    rows = [
        ("a", T0, 1.0), ("a", T0 + dt.timedelta(hours=1), 2.0),
        ("b", T0, 2.0), ("b", T0 + dt.timedelta(hours=1), 1.0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    # only 2 shared buckets -> below default min_overlap, dropped
    assert series_correlations(df, "k", "ts", "v", 1, "hour").count() == 0
    kept = series_correlations(
        df, "k", "ts", "v", 1, "hour", min_overlap=2
    ).collect()
    assert len(kept) == 1 and kept[0]["corr"] == pytest.approx(-1.0)


def test_series_correlations_nan_and_null_counting(spark):
    """Review fixes: a NaN sample must not poison corr for its series, and
    n_overlap counts buckets corr actually consumed (not joined rows with
    null values)."""
    from tablecloth_time_spark.operators.stats import series_correlations

    rows = []
    for i in range(10):
        t = T0 + dt.timedelta(hours=i)
        rows.append(("a", t, float(i)))
        # b mirrors a but has a NaN at i=3 and nulls at i in (0, 1)
        v = float("nan") if i == 3 else (None if i < 2 else float(i))
        rows.append(("b", t, v))
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    got = series_correlations(df, "k", "ts", "v", 1, "hour").collect()
    assert len(got) == 1
    r = got[0]
    # buckets 0,1 (null) and 3 (NaN) dropped -> 7 consumed buckets
    assert r["n_overlap"] == 7
    assert r["corr"] == pytest.approx(1.0)  # identical on shared buckets
    with pytest.raises(ValueError, match="agg must be one of"):
        series_correlations(df, "k", "ts", "v", 1, "hour", agg="max")


def test_interval_coverage_rejects_zero_interval(spark):
    from tablecloth_time_spark.operators.intervals import interval_coverage

    df = spark.createDataFrame([_iv(0, 10)], ["k", "start", "end"])
    with pytest.raises(ValueError, match="interval must be >= 1"):
        interval_coverage(df, "k", "start", "end", 0, "hour")


# ------------------------------------------------------------------ funnel


def _funnel_ref(g: pd.DataFrame, steps, within_ms=None):
    """Sequential per-key oracle: first completion of each step at/after
    the previous step's time (>=), optionally within the window."""
    g = g.sort_values("ts", kind="stable")
    ms = g["ts"].astype("int64").to_numpy() // 10**6
    st = g["step"].to_numpy()
    out, prev, t1 = [], None, None
    for s in steps:
        hit = None
        for m, x in zip(ms, st):
            if x != s:
                continue
            if prev is not None and m < prev:
                continue
            if within_ms is not None and t1 is not None and m > t1 + within_ms:
                continue
            hit = m
            break
        out.append(hit)
        if hit is None:
            break
        prev = hit
        if t1 is None:
            t1 = hit
    out += [None] * (len(steps) - len(out))
    return out


def test_funnel_matches_sequential_oracle(spark):
    import numpy as np

    from tablecloth_time_spark.operators.cohorts import funnel

    rng = np.random.default_rng(21)
    n = 900
    pdf = pd.DataFrame(
        {
            "u": rng.integers(0, 60, n).astype("int64"),
            "ts": pd.to_datetime("2024-06-01")
            + pd.to_timedelta(rng.integers(0, 30 * 86400, n), unit="s"),
            "step": rng.choice(
                ["view", "click", "purchase", "other"], n,
                p=[0.5, 0.25, 0.1, 0.15],
            ),
        }
    )
    steps = ["view", "click", "purchase"]
    got = (
        funnel(spark.createDataFrame(pdf), "u", "ts", "step", steps)
        .toPandas()
        .sort_values("u", kind="stable")
        .set_index("u")
    )
    seen = pdf[pdf["step"] == "view"]["u"].unique()
    assert set(got.index) == set(seen)
    for u in seen:
        exp = _funnel_ref(pdf[pdf["u"] == u], steps)
        row = got.loc[u]
        for i, e in enumerate(exp, start=1):
            if e is None:
                assert pd.isna(row[f"ts_{i}"]), (u, i)
            else:
                assert row[f"ts_{i}"].value // 10**6 == e, (u, i)
        n_done = sum(e is not None for e in exp)
        assert row["steps_completed"] == n_done
        assert bool(row["converted"]) == (n_done == len(steps))


def test_funnel_order_and_window_goldens(spark):
    from tablecloth_time_spark.operators.cohorts import funnel

    t0 = pd.Timestamp("2024-06-01")
    pdf = pd.DataFrame(
        {
            "u": [1, 1, 1, 2, 2, 2, 3, 3],
            "ts": [
                # u1: click BEFORE view doesn't count; the later one does
                t0, t0 + pd.Timedelta(hours=1), t0 + pd.Timedelta(hours=2),
                # u2: same-ts view+click completes both (>= contract)
                t0, t0, t0 + pd.Timedelta(hours=50),
                # u3: full funnel but purchase outside the 24h window
                t0, t0 + pd.Timedelta(hours=30),
            ],
            "step": ["click", "view", "click",
                     "view", "click", "purchase",
                     "view", "click"],
        }
    )
    steps = ["view", "click", "purchase"]
    got = (
        funnel(spark.createDataFrame(pdf), "u", "ts", "step", steps)
        .toPandas().set_index("u")
    )
    assert got.loc[1, "ts_1"] == t0 + pd.Timedelta(hours=1)
    assert got.loc[1, "ts_2"] == t0 + pd.Timedelta(hours=2)  # not the early click
    assert got.loc[2, "ts_1"] == got.loc[2, "ts_2"] == t0
    assert bool(got.loc[2, "converted"])
    windowed = (
        funnel(
            spark.createDataFrame(pdf), "u", "ts", "step", steps,
            within=24, unit="hour",
        )
        .toPandas().set_index("u")
    )
    # u2's purchase at +50h falls outside the 24h conversion window
    assert pd.isna(windowed.loc[2, "ts_3"])
    assert not bool(windowed.loc[2, "converted"])
    assert windowed.loc[2, "steps_completed"] == 2
    # u3 never purchases at all
    assert pd.isna(got.loc[3, "ts_3"])
    assert got.loc[3, "steps_completed"] == 2


def test_funnel_validates_and_plan(spark):
    from tablecloth_time_spark.operators.cohorts import funnel

    pdf = pd.DataFrame(
        {"u": [1], "ts": [pd.Timestamp("2024-06-01")], "step": ["view"]}
    )
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match=">= 2 steps"):
        funnel(df, "u", "ts", "step", ["view"])
    with pytest.raises(ValueError, match="distinct"):
        funnel(df, "u", "ts", "step", ["view", "view"])
    plan = executed_plan(funnel(df, "u", "ts", "step", ["view", "click"]))
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


# ------------------------------------------------------- histogram_quantile


def _hq_ref(bins, q):
    """bins: sorted [(bin, n, lo, hi)]; Prometheus-style interpolation."""
    total = sum(n for _, n, _, _ in bins)
    rank = q * total
    cum = 0.0
    for _, n, lo, hi in bins:
        prev, cum = cum, cum + n
        if cum >= rank:
            est = lo + (hi - lo) * ((rank - prev) / n)
            return min(hi, max(lo, est))
    return bins[-1][3]


def test_histogram_quantile_matches_python_oracle(spark):
    import numpy as np

    from tablecloth_time_spark.operators.stats import (
        histogram_quantile,
        histogram_rollup,
    )

    rng = np.random.default_rng(17)
    n = 3000
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 3, n).astype("int64"),
            "ts": pd.to_datetime("2024-04-01")
            + pd.to_timedelta(rng.integers(0, 4 * 86400, n), unit="s"),
            "v": np.round(rng.lognormal(3, 1, n), 3),
        }
    )
    hist = histogram_rollup(
        spark.createDataFrame(pdf), ["k"], "ts", "v", 1, "day",
        lo=0.0, hi=100.0, n_bins=25,
    )
    got = (
        histogram_quantile(hist, ["k", "bucket"])
        .toPandas()
        .sort_values(["k", "bucket"], kind="stable")
        .set_index(["k", "bucket"])
    )
    hist_pd = hist.toPandas()
    assert len(got) == hist_pd.groupby(["k", "bucket"]).ngroups
    for (k, b), g in hist_pd.groupby(["k", "bucket"]):
        g = g.sort_values("bin", kind="stable")
        bins = list(zip(g["bin"], g["n"], g["bin_lo"], g["bin_hi"]))
        row = got.loc[(k, b)]
        assert row["total"] == sum(x[1] for x in bins)
        for name, q in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99)):
            assert row[name] == pytest.approx(_hq_ref(bins, q), rel=1e-12), (
                k, b, name,
            )


def test_histogram_quantile_uniform_golden_and_edges(spark):
    """On exactly-uniform bin mass the interpolation is exact: q maps to
    lo + q * range. q=0 -> first bin's lower edge, q=1 -> last bin's
    upper edge."""
    from tablecloth_time_spark.operators.stats import histogram_quantile

    rows = [
        # key, bin, n, lo, hi — 4 bins x 10 each over [0, 40)
        (1, i, 10, float(10 * i), float(10 * (i + 1)))
        for i in range(4)
    ]
    hist = spark.createDataFrame(
        pd.DataFrame(rows, columns=["k", "bin", "n", "bin_lo", "bin_hi"])
    )
    got = histogram_quantile(
        hist, ["k"],
        {"q0": 0.0, "q25": 0.25, "q50": 0.5, "q95": 0.95, "q1": 1.0},
    ).toPandas().iloc[0]
    assert got["q0"] == 0.0
    assert got["q25"] == pytest.approx(10.0)
    assert got["q50"] == pytest.approx(20.0)
    assert got["q95"] == pytest.approx(38.0)
    assert got["q1"] == pytest.approx(40.0)
    with pytest.raises(ValueError, match="outside"):
        histogram_quantile(hist, ["k"], {"bad": 1.5})


def test_histogram_quantile_plan_no_python(spark):
    from tablecloth_time_spark.operators.stats import histogram_quantile

    hist = spark.createDataFrame(
        pd.DataFrame(
            [(1, 0, 5, 0.0, 1.0)],
            columns=["k", "bin", "n", "bin_lo", "bin_hi"],
        )
    )
    plan = executed_plan(histogram_quantile(hist, ["k"]))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange") == 1  # window partitioning reused by agg


# --------------------------------------------------------------- survival


def test_survival_curve_matches_numpy(spark):
    import numpy as np

    from tablecloth_time_spark.operators.cohorts import survival_curve

    rng = np.random.default_rng(23)
    n = 2000
    pdf = pd.DataFrame(
        {
            "g": rng.integers(0, 3, n).astype("int64"),
            "dur": np.round(rng.exponential(600, n), 2),
        }
    )
    got = (
        survival_curve(spark.createDataFrame(pdf), "dur", step=120.0,
                       keys=["g"])
        .toPandas()
        .sort_values(["g", "t"], kind="stable")
        .reset_index(drop=True)
    )
    for g, grp in pdf.groupby("g"):
        durs = grp["dur"].to_numpy()
        sub = got[got["g"] == g]
        # emitted grid points = non-empty buckets
        exp_ts = sorted({np.floor(d / 120.0) * 120.0 for d in durs})
        assert list(sub["t"]) == exp_ts
        for _, row in sub.iterrows():
            exp_n = int((durs >= row["t"]).sum())
            assert row["n_at_least"] == exp_n
            assert row["survival"] == pytest.approx(exp_n / len(durs))
    # monotone non-increasing, starts at 1.0 (bucket 0 exists here)
    for g in got["g"].unique():
        s = got[got["g"] == g]["survival"].to_numpy()
        assert s[0] == pytest.approx(1.0)
        assert (np.diff(s) <= 1e-12).all()


def test_survival_curve_max_steps_and_validation(spark):
    from tablecloth_time_spark.operators.cohorts import survival_curve

    pdf = pd.DataFrame({"dur": [5.0, 15.0, 25.0, 1000.0]})
    df = spark.createDataFrame(pdf)
    got = (
        survival_curve(df, "dur", step=10.0, max_steps=2)
        .toPandas().sort_values("t").reset_index(drop=True)
    )
    # tail clipped into the catch-all at t=20
    assert list(got["t"]) == [0.0, 10.0, 20.0]
    assert list(got["n_at_least"]) == [4, 3, 2]
    with pytest.raises(ValueError, match="positive"):
        survival_curve(df, "dur", step=0.0)


# ------------------------------------------------------ rolling active users


def test_rolling_active_users_matches_bruteforce(spark):
    """The interval-merge formulation must equal the naive per-day
    COUNT(DISTINCT) over the trailing window, on every emitted day."""
    import numpy as np

    from tablecloth_time_spark.operators.cohorts import rolling_active_users

    rng = np.random.default_rng(37)
    n = 800
    pdf = pd.DataFrame(
        {
            "u": rng.integers(0, 50, n).astype("int64"),
            "ts": pd.to_datetime("2024-02-01")
            + pd.to_timedelta(rng.integers(0, 40 * 86400, n), unit="s"),
        }
    )
    for window in (1, 7, 28):
        got = (
            rolling_active_users(
                spark.createDataFrame(pdf), "u", "ts", window=window
            )
            .toPandas()
            .sort_values("day", kind="stable")
            .reset_index(drop=True)
        )
        acts = pdf.assign(d=pdf["ts"].dt.floor("D"))[["u", "d"]].drop_duplicates()
        exp_days = sorted(
            {d + pd.Timedelta(days=j) for d in acts["d"] for j in range(window)}
        )
        assert list(pd.to_datetime(got["day"])) == exp_days
        for _, row in got.iterrows():
            day = row["day"]
            lo = day - pd.Timedelta(days=window - 1)
            exp = acts[(acts["d"] >= lo) & (acts["d"] <= day)]["u"].nunique()
            assert row["active_users"] == exp, (window, day)


def test_rolling_active_users_no_distinct_over_window_plan(spark):
    """The plan must contain NO range join and no distinct aggregation
    after the initial (user, day) dedup — the count is a plain sum of
    disjoint merged spans."""
    from tablecloth_time_spark.operators.cohorts import rolling_active_users

    pdf = pd.DataFrame(
        {"u": [1], "ts": [pd.Timestamp("2024-02-01 10:00:00")]}
    )
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match=">= 1"):
        rolling_active_users(df, "u", "ts", window=0)
    plan = executed_plan(rolling_active_users(df, "u", "ts", window=7))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_survival_curve_drops_nan_durations(spark):
    """NaN >= 0 is TRUE in Spark and floor(NaN) casts into bucket 0 —
    NaN durations must be dropped like nulls, not become phantom
    samples."""
    from tablecloth_time_spark.operators.cohorts import survival_curve

    pdf = pd.DataFrame({"dur": [5.0, 15.0, float("nan"), None]})
    got = (
        survival_curve(spark.createDataFrame(pdf), "dur", step=10.0)
        .toPandas().sort_values("t").reset_index(drop=True)
    )
    assert list(got["t"]) == [0.0, 10.0]
    assert list(got["n_at_least"]) == [2, 1]
    assert got.loc[1, "survival"] == pytest.approx(0.5)


def test_rolling_active_users_ignores_null_users(spark):
    """A NULL user id is unattributed traffic, not a distinct user —
    COUNT(DISTINCT user) semantics, matching the driver oracle."""
    from tablecloth_time_spark.operators.cohorts import rolling_active_users

    pdf = pd.DataFrame(
        {
            "u": pd.array([1, None], dtype="Int64"),
            "ts": pd.to_datetime(["2024-02-01 10:00", "2024-02-01 11:00"]),
        }
    )
    got = rolling_active_users(
        spark.createDataFrame(pdf), "u", "ts", window=1
    ).toPandas()
    assert len(got) == 1
    assert got.loc[0, "active_users"] == 1
