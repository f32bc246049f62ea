"""asof_join vs pandas.merge_asof; sessionize vs a python gap-fold."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.asof import asof_join
from tablecloth_time_spark.operators.sessions import session_stats, sessionize
from tests.conftest import executed_plan


@pytest.fixture(scope="module")
def frames(spark):
    rng = np.random.default_rng(7)
    n_l, n_r = 400, 150
    base = pd.Timestamp("2024-03-01")
    left = pd.DataFrame(
        {
            "key": rng.choice(["a", "b", "c"], n_l),
            "ts": base + pd.to_timedelta(rng.integers(0, 7 * 86400, n_l), unit="s"),
            "lval": rng.normal(size=n_l).round(3),
        }
    ).sort_values(["key", "ts"], kind="stable").reset_index(drop=True)
    right = pd.DataFrame(
        {
            "key": rng.choice(["a", "b", "c", "d"], n_r),
            "ts": base + pd.to_timedelta(rng.integers(0, 7 * 86400, n_r), unit="s"),
            "rate": rng.uniform(1, 2, n_r).round(4),
        }
    )
    # unique (key, ts) on the right — asof semantics with dup right keys
    # are order-dependent in every engine
    right = right.drop_duplicates(["key", "ts"]).reset_index(drop=True)
    return left, right


def _spark_asof(spark, left, right, **kw):
    lf = spark.createDataFrame(left)
    rf = spark.createDataFrame(right)
    out = asof_join(lf, rf, on="key", left_ts="ts", right_ts="ts", **kw)
    return (
        out.toPandas()
        .sort_values(["key", "ts", "lval"], kind="stable")
        .reset_index(drop=True)
    )


def _pandas_asof(left, right, direction="backward", tolerance=None):
    exp = pd.merge_asof(
        left.sort_values("ts", kind="stable"),
        right.sort_values("ts", kind="stable").rename(
            columns={"ts": "matched_ts"}
        ),
        left_on="ts",
        right_on="matched_ts",
        by="key",
        direction=direction,
        tolerance=tolerance,
        allow_exact_matches=True,
    )
    return (
        exp.sort_values(["key", "ts", "lval"], kind="stable").reset_index(drop=True)
    )


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_matches_pandas(spark, frames, direction):
    left, right = frames
    got = _spark_asof(spark, left, right, direction=direction)
    exp = _pandas_asof(left, right, direction=direction)
    assert len(got) == len(left)
    pd.testing.assert_series_equal(
        got["matched_ts"], exp["matched_ts"], check_names=False
    )
    pd.testing.assert_series_equal(
        got["rate"].astype(float), exp["rate"].astype(float), check_names=False
    )


def test_asof_tolerance(spark, frames):
    left, right = frames
    got = _spark_asof(spark, left, right, tolerance=60, unit="minute")
    exp = _pandas_asof(left, right, tolerance=pd.Timedelta("60min"))
    pd.testing.assert_series_equal(
        got["matched_ts"], exp["matched_ts"], check_names=False
    )
    # tolerance nulls payload together with the timestamp
    assert got.loc[got["matched_ts"].isna(), "rate"].isna().all()
    assert got["matched_ts"].notna().sum() < len(left)  # tolerance bites


def test_asof_no_match_key(spark, frames):
    left, right = frames
    only_left = left.assign(key="zzz")
    got = _spark_asof(spark, only_left, right)
    assert got["matched_ts"].isna().all() and got["rate"].isna().all()


def test_asof_collision_guard(spark, frames):
    left, right = frames
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right.rename(columns={"rate": "lval"})),
            on="key",
        )
    # prefix resolves it
    out = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right.rename(columns={"rate": "lval"})),
        on="key",
        right_prefix="r_",
    )
    assert "r_lval" in out.columns and "r_matched_ts" in out.columns


def test_asof_null_right_ts_no_payload_leak(spark):
    """A right row with a null timestamp sorts first (nulls-first) — its
    payload must NOT be carried into left rows that have no real
    predecessor (regression: matched_ts was null but rate leaked)."""
    left = pd.DataFrame(
        {"key": ["a", "a"], "ts": pd.to_datetime(["2024-01-01", "2024-01-03"]),
         "lval": [1.0, 2.0]}
    )
    right = pd.DataFrame(
        {"key": ["a", "a"],
         "ts": pd.to_datetime([pd.NaT, "2024-01-02"]),
         "rate": [99.0, 5.0]}
    )
    got = _spark_asof(spark, left, right)
    first = got[got["ts"] == pd.Timestamp("2024-01-01")].iloc[0]
    assert pd.isna(first["matched_ts"]) and pd.isna(first["rate"])
    second = got[got["ts"] == pd.Timestamp("2024-01-03")].iloc[0]
    assert second["rate"] == 5.0


def test_sessionize_validate_rejects_null_ts(spark):
    pdf = pd.DataFrame(
        {"key": ["a", "a"], "ts": pd.to_datetime(["2024-01-01", pd.NaT])}
    )
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="nulls"):
        sessionize(df, "key", "ts", 30, "minute", validate=True)


def _python_sessions(pdf, gap_ms):
    out = []
    for key, g in pdf.groupby("key"):
        g = g.sort_values(["ts", "v"], kind="stable")
        idx = -1
        prev = None
        for ts in g["ts"]:
            ms = ts.value // 1_000_000
            if prev is None or ms - prev > gap_ms:
                idx += 1
            out.append((key, ts, idx))
            prev = ms
    return pd.DataFrame(out, columns=["key", "ts", "session_idx"])


def test_sessionize_matches_python(spark):
    rng = np.random.default_rng(11)
    base = pd.Timestamp("2024-03-01")
    pdf = pd.DataFrame(
        {
            "key": rng.choice(["u1", "u2"], 300),
            "ts": base + pd.to_timedelta(rng.integers(0, 3 * 86400, 300), unit="s"),
            "v": np.arange(300),
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        sessionize(df, "key", "ts", 30, "minute", order_cols=["v"])
        .select("key", "ts", "session_idx")
        .toPandas()
        .sort_values(["key", "ts"], kind="stable")
        .reset_index(drop=True)
    )
    exp = (
        _python_sessions(pdf, 30 * 60_000)
        .sort_values(["key", "ts"], kind="stable")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_session_boundary_inclusive(spark):
    # gap EXACTLY at the threshold stays in-session (session_window parity)
    pdf = pd.DataFrame(
        {
            "key": ["a"] * 3,
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:30:00", "2024-01-01 01:00:01"]
            ),
        }
    )
    got = (
        sessionize(spark.createDataFrame(pdf), "key", "ts", 30, "minute")
        .orderBy("ts")
        .select("session_idx")
        .toPandas()["session_idx"]
        .tolist()
    )
    assert got == [0, 0, 1]


def test_session_stats(spark):
    pdf = pd.DataFrame(
        {
            "key": ["a"] * 4 + ["b"],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:00",
                    "2024-01-01 00:10:00",
                    "2024-01-01 02:00:00",
                    "2024-01-01 02:05:00",
                    "2024-01-01 00:00:00",
                ]
            ),
            "v": [1.0, 2.0, 3.0, 4.0, 5.0],
        }
    )
    got = (
        session_stats(
            spark.createDataFrame(pdf), "key", "ts", 30, "minute",
            aggs={"sum_v": ("sum", "v")},
        )
        .orderBy("key", "session_idx")
        .collect()
    )
    assert [(r["key"], r["session_idx"], r["n_events"], r["sum_v"]) for r in got] == [
        ("a", 0, 2, 3.0),
        ("a", 1, 2, 7.0),
        ("b", 0, 1, 5.0),
    ]
    assert got[0]["duration_ms"] == 600_000


def test_asof_null_payload_field_not_mixed(spark):
    """A matched right row with a NULL payload field must yield NULL for
    that field — never a stale value from an OLDER right row (atomic
    struct carry, pandas merge_asof semantics)."""
    import datetime as dt

    T0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, T0 + dt.timedelta(minutes=3))], "k int, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (1, T0 + dt.timedelta(minutes=1), 5.0, 7.0),
            (1, T0 + dt.timedelta(minutes=2), None, 9.0),
        ],
        "k int, ts timestamp, a double, b double",
    )
    [r] = asof_join(left, right, on="k").collect()
    assert r["matched_ts"] == T0 + dt.timedelta(minutes=2)
    assert r["a"] is None  # NOT 5.0 leaked from the older row
    assert r["b"] == 9.0


def test_asof_right_tiebreak_deterministic(spark):
    """right_order_cols pins which of several equal-timestamp right rows
    wins (the LAST in that ordering)."""
    import datetime as dt

    T0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, T0 + dt.timedelta(minutes=5))], "k int, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, T0, 1, 10.0), (1, T0, 2, 20.0), (1, T0, 3, 30.0)],
        "k int, ts timestamp, seq int, v double",
    )
    [r] = asof_join(left, right, on="k", right_order_cols=["seq"]).collect()
    assert r["v"] == 30.0 and r["seq"] == 3


def test_asof_nearest_matches_pandas(spark):
    """direction='nearest' against pandas merge_asof (the defining
    implementation), plus the documented equal-distance -> backward tie."""
    rng = np.random.default_rng(12)
    t0 = dt.datetime(2024, 4, 1)
    left_pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 120).astype("int64"),
            "ts": [
                t0 + dt.timedelta(seconds=int(s))
                for s in np.sort(rng.integers(0, 100_000, 120))
            ],
        }
    )
    right_pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 60).astype("int64"),
            "rts": [
                t0 + dt.timedelta(seconds=int(s))
                for s in np.sort(rng.integers(0, 100_000, 60))
            ],
            "price": np.round(rng.uniform(1, 9, 60), 3),
        }
    )
    got = (
        asof_join(
            spark.createDataFrame(left_pdf),
            spark.createDataFrame(right_pdf),
            on="k", left_ts="ts", right_ts="rts", direction="nearest",
        )
        .toPandas()
        .sort_values(["k", "ts"], kind="stable")
        .reset_index(drop=True)
    )
    exp = (
        pd.merge_asof(
            left_pdf.sort_values("ts"),
            right_pdf.sort_values("rts"),
            left_on="ts", right_on="rts", by="k", direction="nearest",
        )
        .sort_values(["k", "ts"], kind="stable")
        .reset_index(drop=True)
    )
    # pandas keeps the matched right ts in 'rts'; engine calls it matched_ts
    assert (
        got["price"].fillna(-1).to_numpy() == exp["price"].fillna(-1).to_numpy()
    ).all()
    sentinel = t0 - dt.timedelta(days=1)  # outside the generated range
    assert (
        got["matched_ts"].fillna(sentinel).to_numpy()
        == exp["rts"].fillna(sentinel).to_numpy()
    ).all()


def test_asof_nearest_tie_and_tolerance(spark):
    t0 = dt.datetime(2024, 4, 1)
    left = spark.createDataFrame([("a", t0 + dt.timedelta(minutes=10))], ["k", "ts"])
    right = spark.createDataFrame(
        [
            ("a", t0 + dt.timedelta(minutes=5), 1.0),   # 5 min before
            ("a", t0 + dt.timedelta(minutes=15), 2.0),  # 5 min after
        ],
        ["k", "rts", "v"],
    )
    r = asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        direction="nearest",
    ).collect()[0]
    assert r["v"] == 1.0  # equal distance -> backward, documented
    # tolerance nulls both-far matches
    far = asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        direction="nearest", tolerance=2, unit="minute",
    ).collect()[0]
    assert far["v"] is None and far["matched_ts"] is None


def test_asof_nearest_single_exchange_and_microseconds(spark):
    """The single-pass nearest plan shuffles once (two in-partition sorts
    of the same partitioning), and distances compare at full microsecond
    precision (review fix: millisecond floors picked the farther match)."""
    t0 = dt.datetime(2024, 4, 1)
    us = dt.timedelta(microseconds=1)
    left = spark.createDataFrame([("a", t0 + 900 * us)], ["k", "ts"])
    right = spark.createDataFrame(
        [("a", t0 + 100 * us, 1.0), ("a", t0 + 1000 * us, 2.0)],
        ["k", "rts", "v"],
    )
    joined = asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        direction="nearest",
    )
    plan = executed_plan(joined)
    assert plan.count("Exchange") == 1
    assert "Join" not in plan  # still join-free
    r = joined.collect()[0]
    assert r["v"] == 2.0  # true dists: 800us back vs 100us forward


def test_asof_nearest_collision_guard(spark):
    """nearest enforces the same right/left name-collision guard as the
    directional kernels (review fix: it used to emit duplicate columns)."""
    t0 = dt.datetime(2024, 4, 1)
    left = spark.createDataFrame([("a", t0, 9.0)], ["k", "ts", "price"])
    right = spark.createDataFrame([("a", t0, 1.0)], ["k", "rts", "price"])
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts",
            direction="nearest",
        )
    # right_prefix resolves it
    r = asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        direction="nearest", right_prefix="r_",
    ).collect()[0]
    assert r["price"] == 9.0 and r["r_price"] == 1.0
