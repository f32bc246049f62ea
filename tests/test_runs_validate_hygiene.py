"""Late-r5 operator wave: dialogue run-length profile, latency heatmap,
per-key sortedness report, PII category subsetting — pandas/golden
re-derivations plus the engine's standard plan pins (the per-key window's
Exchange is the only raw-data shuffle; no Python in any plan)."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.functions.text import pii_counts, redact_pii
from tablecloth_time_spark.operators.transcripts import (
    alternation_runs,
    transition_latency_buckets,
)
from tablecloth_time_spark.operators.validate import (
    is_sorted,
    sortedness_report,
)
from tablecloth_time_spark.sources.transcripts import (
    generate_transcripts_pandas,
)
from tests.conftest import executed_plan


@pytest.fixture(scope="module")
def tdata(spark):
    pdf = generate_transcripts_pandas(n_conv=40, seed=11)
    df = spark.createDataFrame(pdf)
    df.cache().count()
    return df, pdf


def test_alternation_runs_matches_pandas(spark, tdata):
    df, pdf = tdata
    got = (
        alternation_runs(df)
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    assert len(got) == pdf["conv_id"].nunique()
    for conv, g in pdf.groupby("conv_id"):
        roles = g.sort_values("turn_idx", kind="stable")["role"].tolist()
        runs = [(r, len(list(grp))) for r, grp in itertools.groupby(roles)]
        row = got.loc[conv]
        n_turns, n_runs = len(roles), len(runs)
        assert row["n_turns"] == n_turns
        assert row["n_runs"] == n_runs
        assert row["max_run_len"] == max(l for _, l in runs)
        assert row["mean_run_len"] == n_turns / n_runs
        if n_turns > 1:
            assert row["alternation_ratio"] == (n_runs - 1) / (n_turns - 1)
        else:
            assert pd.isna(row["alternation_ratio"])
        # earliest run wins length ties
        best = max(runs, key=lambda t: t[1])
        first_best = next(r for r, l in runs if l == best[1])
        assert row["longest_run_role"] == first_best


def test_alternation_runs_null_role_is_own_run(spark):
    rows = [
        ("c", 0, "user"), ("c", 1, None), ("c", 2, None), ("c", 3, "user"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    got = alternation_runs(df).collect()[0]
    # user | NULL NULL | user -> 3 runs (a NULL role never extends a
    # neighboring run, and consecutive NULLs form ONE run)
    assert got["n_runs"] == 3
    assert got["max_run_len"] == 2
    assert got["longest_run_role"] is None


def test_alternation_runs_single_turn(spark):
    df = spark.createDataFrame(
        [("c", 0, "user")], "conv_id string, turn_idx int, role string"
    )
    got = alternation_runs(df).collect()[0]
    assert got["n_turns"] == 1 and got["n_runs"] == 1
    assert got["alternation_ratio"] is None  # undefined, not zero


def test_alternation_runs_plan_single_exchange(spark, tdata):
    """Run marking, run numbering, run lengths, and the per-key fold all
    share the conv_id partitioning: ONE Exchange, no Python."""
    df, _ = tdata
    plan = executed_plan(alternation_runs(df))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_latency_buckets_matches_pandas(spark, tdata):
    df, pdf = tdata
    got = (
        transition_latency_buckets(df)
        .toPandas()
        .set_index(["iso_dow", "hour_of_day"])
        .sort_index()
    )
    gaps: dict[tuple[int, int], list[float]] = {}
    for _, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx", kind="stable")
        ms = g["ts"].astype("int64").to_numpy() // 10**6
        roles = g["role"].to_numpy()
        ts = g["ts"].to_numpy()
        for i in range(1, len(g)):
            if roles[i] == "assistant" and roles[i - 1] == "user":
                t = pd.Timestamp(ts[i])
                key = (t.isoweekday(), t.hour)
                gaps.setdefault(key, []).append((ms[i] - ms[i - 1]) / 1000.0)
    assert set(got.index) == set(gaps)
    for key, xs in gaps.items():
        row = got.loc[key]
        assert row["n_responses"] == len(xs)
        # exact-ms mean: sum of integer ms, one division
        ms_sum = int(round(sum(x * 1000 for x in xs)))
        assert row["mean_gap_s"] == ms_sum / len(xs) / 1000.0
        assert row["p95_gap_s"] == pytest.approx(
            float(np.percentile(np.array(xs), 95)), abs=0, rel=1e-12
        )


def test_latency_buckets_independent_of_session_timezone(spark, tdata):
    """(iso_dow, hour_of_day) come from UTC epoch millis: the same instants
    give the same rows under a Los Angeles session as under UTC."""
    from tests.conftest import session_conf

    df, _ = tdata

    def rows():
        return sorted(
            tuple(r) for r in transition_latency_buckets(df).collect()
        )

    with session_conf(spark, {"spark.sql.session.timeZone": "UTC"}):
        utc = rows()
    with session_conf(
        spark, {"spark.sql.session.timeZone": "America/Los_Angeles"}
    ):
        la = rows()
    assert la == utc


def test_latency_buckets_plan_two_exchanges(spark, tdata):
    """Window Exchange on conv_id + the constant-bounded (dow, hour)
    aggregate's Exchange — nothing else, no Python."""
    df, _ = tdata
    plan = executed_plan(transition_latency_buckets(df))
    assert plan.count("Exchange") == 2
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def _mk_series(spark, rows):
    return spark.createDataFrame(
        rows, "k string, seq int, t timestamp"
    )


def test_sortedness_report_counts_and_verdict(spark):
    t0 = pd.Timestamp("2024-01-01")

    def ts(m):
        if m is None:
            return None
        return (t0 + pd.Timedelta(minutes=m)).to_pydatetime()

    rows = (
        # key a: sorted (duplicates allowed — non-strict)
        [("a", i, ts(m)) for i, m in enumerate([0, 5, 5, 9])]
        # key b: one inversion
        + [("b", i, ts(m)) for i, m in enumerate([0, 10, 7, 20])]
        # key c: null timestamp (unsorted by definition, no inversion)
        + [("c", i, ts(m)) for i, m in enumerate([0, None, 30])]
    )
    df = _mk_series(spark, rows)
    got = (
        sortedness_report(df, "t", partition_by="k", order_by="seq")
        .toPandas()
        .set_index("k")
    )
    assert got.loc["a", "n_violations"] == 0 and bool(got.loc["a", "is_sorted"])
    assert got.loc["b", "n_violations"] == 1 and not bool(
        got.loc["b", "is_sorted"]
    )
    assert got.loc["c", "n_nulls"] == 1 and not bool(got.loc["c", "is_sorted"])
    assert got.loc["c", "n_violations"] == 0
    # the boolean form agrees with the per-key report
    assert not is_sorted(df, "t", partition_by="k", order_by="seq")
    ok = df.filter(F.col("k") == "a")
    assert is_sorted(ok, "t", partition_by="k", order_by="seq")


def test_sortedness_report_descending(spark):
    t0 = pd.Timestamp("2024-01-01")
    rows = [
        ("a", i, (t0 - pd.Timedelta(minutes=m)).to_pydatetime())
        for i, m in enumerate([0, 1, 2])
    ]
    df = _mk_series(spark, rows)
    got = sortedness_report(
        df, "t", partition_by="k", order_by="seq", direction="descending"
    ).collect()[0]
    assert got["is_sorted"]
    with pytest.raises(ValueError, match="ascending"):
        sortedness_report(df, "t", partition_by="k", order_by="seq", direction="up")


def test_sortedness_report_plan_single_exchange(spark):
    t0 = pd.Timestamp("2024-01-01")
    df = _mk_series(
        spark,
        [
            ("a", i, (t0 + pd.Timedelta(minutes=i)).to_pydatetime())
            for i in range(10)
        ],
    )
    plan = executed_plan(sortedness_report(df, "t", partition_by="k", order_by="seq"))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_pii_categories_subset_and_order(spark):
    s = "mail a@b.io ssn 123-45-6789 card 4111111111111111 ip 1.2.3.4 tel +1 (415) 555-0100"
    df = spark.createDataFrame([(s,)], "t string")
    full = df.select(redact_pii("t").alias("r")).collect()[0]["r"]
    assert "<email>" in full and "<ssn>" in full and "<card>" in full
    assert "<ipv4>" in full and "<phone>" in full
    sub = df.select(
        redact_pii("t", ("email", "ssn", "card", "ipv4")).alias("r")
    ).collect()[0]["r"]
    # phone excluded -> the number survives un-redacted
    assert "<phone>" not in sub and "555-0100" in sub
    assert "<email>" in sub and "<ipv4>" in sub
    # caller order does not change the canonical masking order: ssn wins
    # over... (counts attribute each substring to exactly one category)
    c = df.select(
        pii_counts("t", ("ipv4", "ssn", "email", "card")).alias("c")
    ).collect()[0]["c"].asDict()
    assert c == {"email": 1, "ssn": 1, "card": 1, "ipv4": 1}
    with pytest.raises(ValueError, match="unknown PII categories"):
        redact_pii("t", ("email", "iban"))


def test_hygiene_gate_first_failure_reason(spark):
    from tablecloth_time_spark.functions.text import hygiene_gate

    good = (
        "the quick brown fox jumps over a lazy dog while seven wizards "
        "brew strong coffee and discuss ancient maps near that harbor "
        "during one early autumn morning with calm winds outside"
    )
    rows = [
        (1, good),                       # keep
        (2, "short"),                    # length (first check wins)
        (3, "der und das ist nicht " * 10),   # de -> allowed lang, low quality ok?
        (4, None),                       # NULL text -> fails length, not a skip
        (5, ("the spam and the spam " * 15).strip()),  # en but repetitive
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in hygiene_gate(df, ["doc_id"], min_chars=50).collect()
    }
    assert got[1]["keep"] and got[1]["reason"] is None
    assert not got[2]["keep"] and got[2]["reason"] == "length"
    assert not got[4]["keep"] and got[4]["reason"] == "length"
    # repetitive but English-markered doc: passes length and lang, falls
    # at quality or repetition (the two value checks)
    assert not got[5]["keep"]
    assert got[5]["reason"] in ("quality", "repetition")
    # check order is fixed: a doc failing BOTH lang and quality reports lang
    und = (7, "zzz qqq xxx " * 20)
    df2 = spark.createDataFrame([und], "doc_id long, text string")
    r = hygiene_gate(df2, ["doc_id"], min_chars=50).collect()[0]
    assert r["reason"] == "lang"


def test_hygiene_gate_no_shuffle_no_python(spark):
    from tablecloth_time_spark.functions.text import hygiene_gate

    df = spark.createDataFrame(
        [(1, "some text here")], "doc_id long, text string"
    )
    plan = executed_plan(hygiene_gate(df, ["doc_id"]))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
