"""Business-day arithmetic vs numpy's busday_* oracle.

numpy implements the exact semantics we claim (Mon-Fri week,
roll='backward'/'forward', half-open busday_count with holidays), so every
test re-derives expected values with np.busday_offset / np.busday_count /
np.is_busday over a randomized multi-year date range and compares exactly.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.functions.busdays import (
    add_business_days,
    business_day_from_index,
    business_day_index,
    business_days_between,
    is_business_day,
    next_business_day,
    prev_business_day,
)
from tests.conftest import executed_plan

HOLIDAYS = ["2021-01-01", "2021-12-24", "2021-07-05", "2022-04-15"]


@pytest.fixture(scope="module")
def dates_df(spark):
    rng = np.random.default_rng(7)
    start = dt.date(2019, 12, 25)
    offs = np.unique(rng.integers(0, 1100, size=400))
    d1 = [start + dt.timedelta(days=int(o)) for o in offs]
    d2 = [
        start + dt.timedelta(days=int(o))
        for o in rng.integers(-30, 1200, size=len(d1))
    ]
    pdf = pd.DataFrame({"d1": d1, "d2": d2})
    return pdf, spark.createDataFrame(pdf).select(
        F.col("d1").cast("date").alias("d1"),
        F.col("d2").cast("date").alias("d2"),
    )


def _np_dates(series):
    return np.array([np.datetime64(d, "D") for d in series])


def test_is_business_day_matches_numpy(dates_df):
    pdf, df = dates_df
    got = (
        df.select("d1", is_business_day("d1").alias("b"),
                  is_business_day("d1", holidays=HOLIDAYS).alias("bh"))
        .toPandas()
        .sort_values("d1")
        .reset_index(drop=True)
    )
    d = _np_dates(got["d1"])
    assert (got["b"].to_numpy() == np.is_busday(d)).all()
    assert (
        got["bh"].to_numpy()
        == np.is_busday(d, holidays=HOLIDAYS)
    ).all()


def test_index_roundtrip_and_monotone(dates_df):
    pdf, df = dates_df
    got = (
        df.select(
            "d1",
            business_day_index("d1").alias("idx"),
            business_day_from_index(business_day_index("d1")).alias("back"),
        )
        .toPandas()
        .sort_values("d1")
        .reset_index(drop=True)
    )
    d = _np_dates(got["d1"])
    # roundtrip lands on the backward-rolled business day
    expect_back = np.busday_offset(d, 0, roll="backward")
    assert (_np_dates(got["back"]) == expect_back).all()
    # index is nondecreasing in date and +1 per business day
    assert (np.diff(got["idx"].to_numpy()) >= 0).all()


@pytest.mark.parametrize("n", [-7, -1, 0, 1, 3, 40])
@pytest.mark.parametrize("roll", ["backward", "forward"])
def test_add_business_days_matches_numpy(dates_df, n, roll):
    pdf, df = dates_df
    got = (
        df.select("d1", add_business_days("d1", n, roll=roll).alias("out"))
        .toPandas()
        .sort_values("d1")
        .reset_index(drop=True)
    )
    expect = np.busday_offset(_np_dates(got["d1"]), n, roll=roll)
    assert (_np_dates(got["out"]) == expect).all()


def test_next_prev_business_day(dates_df):
    pdf, df = dates_df
    got = (
        df.select(
            "d1",
            next_business_day("d1").alias("nx"),
            prev_business_day("d1").alias("pv"),
        )
        .toPandas()
        .sort_values("d1")
        .reset_index(drop=True)
    )
    d = _np_dates(got["d1"])
    assert (_np_dates(got["nx"]) == np.busday_offset(d, 1, roll="backward")).all()
    assert (_np_dates(got["pv"]) == np.busday_offset(d, -1, roll="forward")).all()
    # strictly after / strictly before, always business days
    assert (_np_dates(got["nx"]) > d).all()
    assert (_np_dates(got["pv"]) < d).all()
    assert np.is_busday(_np_dates(got["nx"])).all()
    assert np.is_busday(_np_dates(got["pv"])).all()


def test_business_days_between_matches_numpy(dates_df):
    pdf, df = dates_df
    got = (
        df.select(
            "d1",
            "d2",
            business_days_between("d1", "d2").alias("n"),
            business_days_between("d1", "d2", holidays=HOLIDAYS).alias("nh"),
        )
        .toPandas()
        .sort_values(["d1", "d2"])
        .reset_index(drop=True)
    )
    a, b = _np_dates(got["d1"]), _np_dates(got["d2"])
    assert (got["n"].to_numpy() == np.busday_count(a, b)).all()
    assert (
        got["nh"].to_numpy() == np.busday_count(a, b, holidays=HOLIDAYS)
    ).all()


def test_busdays_plan_no_exchange_no_python(dates_df):
    pdf, df = dates_df
    out = df.select(
        is_business_day("d1", holidays=HOLIDAYS).alias("b"),
        add_business_days("d1", 5).alias("plus5"),
        business_days_between("d1", "d2", holidays=HOLIDAYS).alias("n"),
    )
    plan = executed_plan(out)
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan
