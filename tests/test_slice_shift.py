"""Slice + lag/lead semantics (FIXTURES.md F3/F5) and oracle differentials."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tablecloth_time_spark.operators.slice import slice_time
from tablecloth_time_spark.operators.shift import add_lag, add_lags, add_lead, add_leads
from tablecloth_time_spark.oracle import timeops as O
from tests.conftest import executed_plan

DATES = ["2024-01-01", "2024-01-05", "2024-01-10", "2024-01-15",
         "2024-01-20", "2024-01-25", "2024-01-31"]
VALUES = [10, 20, 30, 40, 50, 60, 70]


@pytest.fixture(scope="module")
def days_df(spark):
    pdf = pd.DataFrame({"timestamp": pd.to_datetime(DATES), "value": VALUES})
    return spark.createDataFrame(pdf)


def _vals(df):
    return sorted(r["value"] for r in df.select("value").collect())


def test_slice_inclusive_interior(days_df):
    assert _vals(slice_time(days_df, "timestamp", "2024-01-07", "2024-01-18")) == [30, 40]


def test_slice_boundary_match(days_df):
    assert _vals(slice_time(days_df, "timestamp", "2024-01-10", "2024-01-20")) == [30, 40, 50]


def test_slice_empty_out_of_range(days_df):
    assert _vals(slice_time(days_df, "timestamp", "2025-01-01", "2025-02-01")) == []


def test_slice_single_row(days_df):
    assert _vals(slice_time(days_df, "timestamp", "2024-01-15", "2024-01-15")) == [40]


def test_slice_duplicates_all_included(spark):
    pdf = pd.DataFrame(
        {
            "timestamp": pd.to_datetime(
                ["2024-01-01", "2024-01-05", "2024-01-05", "2024-01-05", "2024-01-10"]
            ),
            "value": [10, 20, 21, 22, 30],
        }
    )
    df = spark.createDataFrame(pdf)
    assert _vals(slice_time(df, "timestamp", "2024-01-05", "2024-01-05")) == [20, 21, 22]
    # oracle agrees (duplicate-aware binary search)
    got = O.slice_time(pdf, "timestamp", "2024-01-05", "2024-01-05")
    assert sorted(got["value"]) == [20, 21, 22]


def test_slice_from_gt_to_raises(days_df):
    with pytest.raises(ValueError, match="from > to"):
        slice_time(days_df, "timestamp", "2024-02-01", "2024-01-01")


def test_slice_missing_column_raises(days_df):
    with pytest.raises(ValueError, match="not found"):
        slice_time(days_df, "nope", "2024-01-01", "2024-01-02")


def test_slice_epoch_millis_keys(days_df):
    lo = int(pd.Timestamp("2024-01-10").value // 1_000_000)
    hi = int(pd.Timestamp("2024-01-20").value // 1_000_000)
    assert _vals(slice_time(days_df, "timestamp", lo, hi)) == [30, 40, 50]


def test_slice_differential_on_transcripts(spark, transcripts_df, transcripts_pdf):
    lo, hi = "2025-01-10", "2025-01-20 12:00:00"
    eng = slice_time(transcripts_df, "ts", lo, hi).toPandas()
    pdf = transcripts_pdf.sort_values("ts", kind="stable").reset_index(drop=True)
    ora = O.slice_time(pdf, "ts", lo, hi)
    key = ["conv_id", "turn_idx"]
    eng = eng.sort_values(key, kind="stable").reset_index(drop=True)
    ora = ora.sort_values(key, kind="stable").reset_index(drop=True)
    pd.testing.assert_frame_equal(eng[sorted(eng.columns)], ora[sorted(ora.columns)].reset_index(drop=True))


def test_oracle_bounds_semantics():
    arr = np.array([1, 3, 3, 3, 7])
    assert O.find_lower_bound(arr, 3) == 1
    assert O.find_upper_bound(arr, 3) == 4
    assert O.find_lower_bound(arr, 0) == 0
    assert O.find_upper_bound(arr, 9) == 5
    assert O.find_lower_bound(np.array([]), 5) == 0
    assert O.find_lower_bound(np.array([5]), 5) == 0
    assert O.find_upper_bound(np.array([5]), 5) == 1


def test_oracle_slice_descending_and_unsorted():
    pdf = pd.DataFrame(
        {"timestamp": pd.to_datetime(list(reversed(DATES))), "value": list(reversed(VALUES))}
    )
    out = O.slice_time(pdf, "timestamp", "2024-01-07", "2024-01-18")
    assert list(out["value"]) == [40, 30]  # reversed order preserved


# --- lag / lead (F5) --------------------------------------------------------


@pytest.fixture(scope="module")
def series_df(spark):
    pdf = pd.DataFrame({"i": range(1, 7), "a": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]})
    return spark.createDataFrame(pdf)


def _col(df, name, order="i"):
    return [r[name] for r in df.orderBy(order).collect()]


def test_lag2(series_df):
    out = add_lag(series_df, "a", 2, order_by=["i"])
    assert _col(out, "a_lag2") == [None, None, 1.0, 2.0, 3.0, 4.0]


def test_lead2(series_df):
    out = add_lead(series_df, "a", 2, order_by=["i"])
    assert _col(out, "a_lead2") == [3.0, 4.0, 5.0, 6.0, None, None]


def test_lag0_identity(series_df):
    out = add_lag(series_df, "a", 0, order_by=["i"])
    assert _col(out, "a_lag0") == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    # dtype preserved
    assert dict(out.dtypes)["a_lag0"] == "double"


def test_add_lags_drop_missing(series_df):
    out = add_lags(series_df, "a", [2, 4], order_by=["i"])
    rows = out.orderBy("i").collect()
    assert len(rows) == 2  # drop-missing default true: rows 5,6 survive
    assert [r["a_lag2"] for r in rows] == [3.0, 4.0]
    assert [r["a_lag4"] for r in rows] == [1.0, 2.0]


def test_add_lags_keep_missing_named(series_df):
    out = add_lags(series_df, "a", {1: "prev"}, order_by=["i"], drop_missing=False)
    assert _col(out, "prev") == [None, 1.0, 2.0, 3.0, 4.0, 5.0]


def test_add_leads_partitioned(spark):
    pdf = pd.DataFrame(
        {
            "k": ["x", "x", "x", "y", "y"],
            "i": [1, 2, 3, 1, 2],
            "v": [1.0, 2.0, 3.0, 10.0, 20.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = add_leads(df, "v", [1], order_by=["i"], partition_by=["k"], drop_missing=False)
    got = {(r["k"], r["i"]): r["v_lead1"] for r in out.collect()}
    assert got == {
        ("x", 1): 2.0, ("x", 2): 3.0, ("x", 3): None,
        ("y", 1): 20.0, ("y", 2): None,
    }


class TestAddLagTime:
    """Duration-based lag (struct-max over range frame)."""

    def test_matches_python_oracle(self, spark):
        import datetime as dt

        import numpy as np

        rng = np.random.default_rng(9)
        T0 = dt.datetime(2024, 5, 1)
        rows = [
            (int(i), int(k), T0 + dt.timedelta(seconds=int(s)), float(v))
            for i, (k, s, v) in enumerate(
                zip(
                    rng.integers(0, 4, 200),
                    np.sort(rng.integers(0, 86_400, 200)),
                    np.round(rng.uniform(0, 100, 200), 3),
                )
            )
        ]
        df = spark.createDataFrame(
            rows, "event_id long, k long, ts timestamp, v double"
        )
        from tablecloth_time_spark.operators.shift import add_lag_time

        got = {
            r["event_id"]: r["v_old"]
            for r in add_lag_time(
                df, ["k"], "ts", "v", 2, "hour",
                order_cols=["event_id"], target="v_old",
            ).collect()
        }
        for eid, k, ts, _ in rows:
            cand = [
                (r[2], r[0], r[3])
                for r in rows
                if r[1] == k and r[2] <= ts - dt.timedelta(hours=2)
            ]
            exp = max(cand)[2] if cand else None
            assert got[eid] == exp, eid

    def test_deterministic_under_ts_ties(self, spark):
        import datetime as dt

        T0 = dt.datetime(2024, 5, 1)
        rows = [
            (1, 1, T0, 10.0),
            (2, 1, T0, 99.0),  # same timestamp, higher event_id wins
            (3, 1, T0 + dt.timedelta(hours=3), 0.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, k long, ts timestamp, v double"
        )
        from tablecloth_time_spark.operators.shift import add_lag_time

        out = {
            r["event_id"]: r["v_old"]
            for r in add_lag_time(
                df, ["k"], "ts", "v", 1, "hour",
                order_cols=["event_id"], target="v_old",
            ).collect()
        }
        assert out[3] == 99.0
        assert out[1] is None and out[2] is None


# -------------------------------------------------------------- growth_rates


def test_growth_rates_gap_safe_golden(spark):
    """A missing month must yield NULL MoM growth (never a silently
    misaligned row-lag comparison), and YoY compares exactly 12 months
    back across the gap."""
    from tablecloth_time_spark.operators.shift import growth_rates

    months = ["2023-01-01", "2023-02-01", "2023-04-01", "2024-01-01",
              "2024-02-01", "2024-04-01"]
    vals = [100.0, 110.0, 120.0, 150.0, 165.0, 180.0]
    pdf = pd.DataFrame(
        {"k": 1, "bucket": pd.to_datetime(months), "v": vals}
    )
    got = (
        growth_rates(spark.createDataFrame(pdf), "k", "bucket", "v")
        .toPandas()
        .sort_values("bucket", kind="stable")
        .set_index("bucket")
    )
    t = pd.to_datetime
    # Feb 2023: MoM vs Jan
    assert got.loc[t("2023-02-01"), "mom_growth"] == pytest.approx(0.10)
    # Apr 2023: March missing -> NULL MoM (a row-lag would compare Feb!)
    assert pd.isna(got.loc[t("2023-04-01"), "mom_growth"])
    # Jan 2024: YoY vs Jan 2023 across the gap
    assert got.loc[t("2024-01-01"), "yoy_growth"] == pytest.approx(0.50)
    assert got.loc[t("2024-01-01"), "yoy_prev"] == 100.0
    # Apr 2024 YoY vs Apr 2023
    assert got.loc[t("2024-04-01"), "yoy_growth"] == pytest.approx(0.50)
    # series head: no priors
    assert pd.isna(got.loc[t("2023-01-01"), "mom_growth"])
    assert pd.isna(got.loc[t("2023-01-01"), "yoy_growth"])


def test_growth_rates_matches_pandas(spark):
    import numpy as np

    from tablecloth_time_spark.operators.shift import growth_rates

    rng = np.random.default_rng(29)
    rows = []
    for k in range(4):
        # random subset of 30 months -> plenty of gaps
        months = np.sort(rng.choice(30, size=18, replace=False))
        for m in months:
            rows.append(
                (k, pd.Timestamp("2022-01-01") + pd.DateOffset(months=int(m)),
                 round(float(rng.uniform(50, 150)), 3))
            )
    pdf = pd.DataFrame(rows, columns=["k", "bucket", "v"])
    got = (
        growth_rates(spark.createDataFrame(pdf), "k", "bucket", "v",
                     periods={"mom": 1, "qoq": 3, "yoy": 12})
        .toPandas()
        .set_index(["k", "bucket"])
        .sort_index()
    )
    by_key = {
        (k, ts): v for k, ts, v in pdf.itertuples(index=False, name=None)
    }
    for (k, ts), row in got.iterrows():
        for name, off in (("mom", 1), ("qoq", 3), ("yoy", 12)):
            prior = by_key.get((k, ts - pd.DateOffset(months=off)))
            if prior is None:
                assert pd.isna(row[f"{name}_growth"]), (k, ts, name)
            else:
                assert row[f"{name}_prev"] == pytest.approx(prior)
                assert row[f"{name}_growth"] == pytest.approx(
                    (row["v"] - prior) / prior
                )


def test_growth_rates_validation_and_plan(spark):
    from tablecloth_time_spark.operators.shift import growth_rates

    pdf = pd.DataFrame(
        {"k": [1], "bucket": [pd.Timestamp("2024-01-01")], "v": [1.0]}
    )
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="calendar unit"):
        growth_rates(df, "k", "bucket", "v", unit="hour")
    with pytest.raises(ValueError, match=">= 1"):
        growth_rates(df, "k", "bucket", "v", periods={"bad": 0})
    plan = executed_plan(growth_rates(df, "k", "bucket", "v"))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan and "BatchEvalPython" not in plan


def test_growth_rates_unit_aware_defaults(spark):
    """Defaults are denominated in the grid unit: a quarterly grid gets
    QoQ + YoY(4), a yearly grid YoY(1) — 12 on a quarterly grid would
    silently mean 3 years while still labeled yoy."""
    from tablecloth_time_spark.operators.shift import growth_rates

    q = pd.DataFrame(
        {
            "k": 1,
            "bucket": pd.to_datetime(
                ["2023-01-01", "2023-04-01", "2023-07-01", "2023-10-01",
                 "2024-01-01"]
            ),
            "v": [100.0, 110.0, 121.0, 133.1, 150.0],
        }
    )
    got = (
        growth_rates(spark.createDataFrame(q), "k", "bucket", "v",
                     unit="quarter")
        .toPandas().set_index("bucket")
    )
    assert {"qoq_prev", "qoq_growth", "yoy_prev", "yoy_growth"} <= set(
        got.columns
    )
    t = pd.to_datetime
    assert got.loc[t("2023-04-01"), "qoq_growth"] == pytest.approx(0.10)
    assert got.loc[t("2024-01-01"), "yoy_growth"] == pytest.approx(0.50)
    y = pd.DataFrame(
        {
            "k": 1,
            "bucket": pd.to_datetime(["2022-01-01", "2023-01-01"]),
            "v": [100.0, 130.0],
        }
    )
    goty = (
        growth_rates(spark.createDataFrame(y), "k", "bucket", "v",
                     unit="year")
        .toPandas().set_index("bucket")
    )
    assert goty.loc[t("2023-01-01"), "yoy_growth"] == pytest.approx(0.30)


def test_add_row_index_matches_global_sort(spark):
    """Range-repartition + offsets + Arrow running position == the
    single-partition row_number ground truth, at several partitionings."""
    import numpy as np
    import pandas as pd

    from tablecloth_time_spark.operators.slice import add_row_index

    rng = np.random.default_rng(31)
    n = 5000
    pdf = pd.DataFrame(
        {
            "a": rng.permutation(n).astype("int64"),
            "b": rng.integers(0, 100, n).astype("int64"),
        }
    )
    expected = (
        pdf.sort_values("a", kind="stable").reset_index(drop=True)
    )
    for parts in (1, 7):
        df = spark.createDataFrame(pdf).repartition(parts)
        got = (
            add_row_index(df, ["a"])
            .toPandas()
            .sort_values("row_index", kind="stable")
            .reset_index(drop=True)
        )
        assert got["row_index"].tolist() == list(range(n))
        assert got["a"].tolist() == expected["a"].tolist()
        assert got["b"].tolist() == expected["b"].tolist()


def test_add_row_index_exact_under_sampled_range_bounds(spark):
    """Range bounds come from a SAMPLE of the input. With one sample per
    partition, many shuffle partitions and far more rows than samples,
    two range shuffles of the same frame pick different bounds — so the
    partition counts and the positions must come from ONE partitioning.
    The index is exactly 0..n-1 and equals DuckDB's row_number()."""
    import duckdb

    from tablecloth_time_spark.operators.slice import add_row_index

    from tests.conftest import session_conf

    rng = np.random.default_rng(59)
    n = 20_000
    pdf = pd.DataFrame(
        {
            "a": rng.permutation(n).astype("int64"),
            "b": rng.integers(0, 1000, n).astype("int64"),
        }
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        "SELECT a, b, row_number() OVER (ORDER BY a) - 1 AS row_index "
        "FROM t ORDER BY row_index"
    ).df()
    with session_conf(
        spark,
        {
            "spark.sql.execution.rangeExchange.sampleSizePerPartition": "1",
            "spark.sql.shuffle.partitions": "64",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    ):
        got = (
            add_row_index(spark.createDataFrame(pdf).repartition(8), ["a"])
            .toPandas()
            .sort_values("row_index", kind="stable")
            .reset_index(drop=True)
        )
    assert got["row_index"].tolist() == list(range(n))
    pd.testing.assert_frame_equal(
        got[["a", "b", "row_index"]], want, check_dtype=False
    )


def test_add_row_index_validation(spark):
    from tablecloth_time_spark.operators.slice import add_row_index

    from pyspark.sql import functions as SF

    df = spark.range(5).select(SF.col("id").alias("a"))
    with pytest.raises(ValueError, match="non-empty order_by"):
        add_row_index(df, [])
    with pytest.raises(ValueError, match="already exists"):
        add_row_index(df.withColumn("row_index", SF.lit(0)), ["a"])


def test_slice_indices_matches_reference_semantics(spark):
    """Indices are FULL-dataset positions under the time order, filtered
    to the slice — exactly the reference's :as-indices contract on a
    time-sorted frame (slice.clj:114-137)."""
    import pandas as pd

    from tablecloth_time_spark.operators.slice import slice_indices

    t0 = pd.Timestamp("2024-01-01")
    rows = [
        (i, (t0 + pd.Timedelta(hours=3 * i)).to_pydatetime())
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    got = (
        slice_indices(
            df, "ts", "2024-01-02", "2024-01-03", order_by=["ts", "event_id"]
        )
        .select("row_index")
        .toPandas()["row_index"]
        .sort_values()
        .tolist()
    )
    # rows 8..16 fall in [Jan 2 00:00, Jan 3 00:00] at 3h spacing
    assert got == list(range(8, 17))


def test_add_row_index_invariant_to_input_layout(spark):
    """The assigned indices depend ONLY on the total order, not on the
    input's partitioning or physical row order (hypothesis-style sweep
    over shuffled layouts)."""
    import numpy as np
    import pandas as pd

    from tablecloth_time_spark.operators.slice import add_row_index

    rng = np.random.default_rng(47)
    n = 1200
    pdf = pd.DataFrame(
        {
            "a": rng.permutation(n).astype("int64"),
            "v": rng.integers(0, 9, n).astype("int64"),
        }
    )
    baseline = None
    for seed in (1, 2, 3):
        shuffled = pdf.sample(frac=1.0, random_state=seed)
        df = spark.createDataFrame(shuffled).repartition(3 + seed)
        got = (
            add_row_index(df, ["a"])
            .select("a", "row_index")
            .toPandas()
            .sort_values("a", kind="stable")
            .reset_index(drop=True)
        )
        if baseline is None:
            baseline = got
        else:
            pd.testing.assert_frame_equal(got, baseline)
    assert baseline["row_index"].sort_values().tolist() == list(range(n))
