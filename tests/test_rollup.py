"""Rollup differential tests: engine (Spark) vs oracle (pandas), exact equality.

The north-star invariant: rolled-up points at every tier match the
single-node reference bit-for-bit, including first/last under stable
(conv_id, turn_idx, ts) ordering — exercised on the seeded transcripts
table with mega-thread skew and duplicate timestamps, with and without
explicit salting.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.rollup import rollup, rollup_cascade
from tablecloth_time_spark.oracle import timeops as O
from tests.conftest import executed_plan

AGGS = {
    "n_turns": ("count", "turn_idx"),
    "sum_chars": ("sum", "n_chars"),
    "min_turn": ("min", "turn_idx"),
    "max_turn": ("max", "turn_idx"),
    "avg_chars": ("avg", "n_chars"),
    "first_text": ("first", "text"),
    "last_text": ("last", "text"),
}
ORDER = ["ts", "turn_idx"]


def _with_chars_spark(df):
    return df.withColumn("n_chars", F.length("text").cast("long"))


def _with_chars_pandas(pdf):
    pdf = pdf.copy()
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    return pdf


def _compare(eng_df, ora_pdf, keys):
    _compare_pandas(eng_df.toPandas(), ora_pdf, keys)


def _compare_pandas(eng, ora_pdf, keys):
    eng = eng.sort_values(keys, kind="stable").reset_index(drop=True)
    ora = ora_pdf.sort_values(keys, kind="stable").reset_index(drop=True)
    eng = eng[sorted(eng.columns)]
    ora = ora[sorted(ora.columns)]
    # integer count columns: pandas groupby yields int64, Spark count int64 — ok
    pd.testing.assert_frame_equal(eng, ora, check_dtype=False)


@pytest.mark.parametrize("salt", [0, 8])
@pytest.mark.parametrize("interval,unit", [(1, "hour"), (15, "minute"), (1, "day")])
def test_rollup_matches_oracle(spark, transcripts_df, transcripts_pdf, salt, interval, unit):
    eng = rollup(
        _with_chars_spark(transcripts_df),
        ["conv_id"], "ts", interval, unit, AGGS, order_cols=ORDER, salt=salt,
    )
    ora = O.rollup(
        _with_chars_pandas(transcripts_pdf),
        ["conv_id"], "ts", interval, unit, AGGS, order_cols=ORDER,
    )
    _compare(eng, ora, ["conv_id", "bucket"])


def test_rollup_cascade_matches_per_tier(spark, transcripts_df, transcripts_pdf):
    tiers = {
        "minute": (1, "minute"),
        "hour": (1, "hour"),
        "day": (1, "day"),
    }
    eng_tiers = rollup_cascade(
        _with_chars_spark(transcripts_df),
        ["conv_id"], "ts", AGGS, tiers=tiers, order_cols=ORDER, salt=4,
    )
    pdf = _with_chars_pandas(transcripts_pdf)
    for tier, (iv, unit) in tiers.items():
        ora = O.rollup(pdf, ["conv_id"], "ts", iv, unit, AGGS, order_cols=ORDER)
        _compare(eng_tiers[tier], ora, ["conv_id", "bucket"])


def test_cascade_equals_direct(spark, transcripts_df):
    """Tier-from-tier merge must equal rolling up raw data directly."""
    eng_tiers = rollup_cascade(
        _with_chars_spark(transcripts_df), ["conv_id"], "ts", AGGS, order_cols=ORDER
    )
    direct = rollup(
        _with_chars_spark(transcripts_df), ["conv_id"], "ts", 1, "day", AGGS,
        order_cols=ORDER,
    )
    a = eng_tiers["day"].toPandas().sort_values(["conv_id", "bucket"]).reset_index(drop=True)
    b = direct.toPandas().sort_values(["conv_id", "bucket"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])


ALL_TIERS = {
    "second": (1, "second"),
    "minute": (1, "minute"),
    "hour": (1, "hour"),
    "day": (1, "day"),
}


def _outer_plan(df) -> str:
    """Executed plan above any cache: an InMemoryTableScan prints the plan
    that filled its cache as an inner child, which is not re-run."""
    return executed_plan(df).split(
        "InMemoryRelation"
    )[0]


@pytest.mark.parametrize("plan", ["cascade", "tiers_long"])
def test_tier_plans_match_oracle(spark, transcripts_df, transcripts_pdf, plan):
    """Both multi-tier plans equal the pandas oracle for every tier and
    every agg kind. The transcripts carry duplicate (conv_id, ts) rows, so
    first/last also pin the turn_idx tie-break through each plan."""
    from tablecloth_time_spark.operators.rollup import rollup_tiers_long

    pdf = _with_chars_pandas(transcripts_pdf)
    assert pdf.duplicated(["conv_id", "ts"]).any()
    df = _with_chars_spark(transcripts_df)
    if plan == "cascade":
        got = {
            tier: tdf.toPandas()
            for tier, tdf in rollup_cascade(
                df, ["conv_id"], "ts", AGGS, tiers=ALL_TIERS, order_cols=ORDER
            ).items()
        }
    else:
        long = rollup_tiers_long(
            df, ["conv_id"], "ts", AGGS, tiers=ALL_TIERS, order_cols=ORDER
        ).toPandas()
        got = {t: g.drop(columns="tier") for t, g in long.groupby("tier")}
    assert sorted(got) == sorted(ALL_TIERS)
    for tier, (iv, unit) in ALL_TIERS.items():
        ora = O.rollup(pdf, ["conv_id"], "ts", iv, unit, AGGS, order_cols=ORDER)
        _compare_pandas(got[tier], ora, ["conv_id", "bucket"])


def test_rollup_tiers_long_is_one_expand_one_exchange(spark, transcripts_df):
    """The one-action plan: every tier from ONE Expand and ONE shuffle."""
    from tablecloth_time_spark.operators.rollup import rollup_tiers_long

    p = _outer_plan(
        rollup_tiers_long(
            _with_chars_spark(transcripts_df), ["conv_id"], "ts", AGGS,
            order_cols=ORDER,
        )
    )
    assert p.count("Expand [") == 1
    assert p.count("Exchange ") == 1


def test_rollup_cascade_scans_raw_once(spark, transcripts_df):
    """The per-tier plan: every coarser tier reads the cached finest
    partial, so materializing the tiers one by one computes the raw input
    once (counted by an accumulator the input bumps per partition)."""
    scans = spark.sparkContext.accumulator(0)

    def tap(batches):
        scans.add(1)
        yield from batches

    raw = _with_chars_spark(transcripts_df)
    raw = raw.mapInPandas(tap, raw.schema)
    tiers = rollup_cascade(raw, ["conv_id"], "ts", AGGS, order_cols=ORDER)
    finest, *coarser = tiers.values()
    for tdf in coarser:
        p = _outer_plan(tdf)
        assert "InMemoryTableScan" in p
        assert "MapInPandas" not in p
    finest.write.format("noop").mode("overwrite").save()
    once = scans.value
    assert once > 0
    for tdf in coarser:
        tdf.write.format("noop").mode("overwrite").save()
    assert scans.value == once


def test_first_last_stable_under_duplicate_ts(spark):
    """Duplicate ts rows: first/last must use turn_idx as tiebreaker."""
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 4,
            "turn_idx": [0, 1, 2, 3],
            "text": ["a", "b", "c", "d"],
            "ts": pd.to_datetime(
                ["2025-01-01 00:00:05", "2025-01-01 00:00:05",
                 "2025-01-01 00:00:05", "2025-01-01 00:00:59"]
            ),
        }
    )
    df = spark.createDataFrame(pdf)
    out = rollup(
        df, ["conv_id"], "ts", 1, "minute",
        {"first_text": ("first", "text"), "last_text": ("last", "text")},
        order_cols=["ts", "turn_idx"],
    ).collect()
    assert len(out) == 1
    assert out[0]["first_text"] == "a"
    assert out[0]["last_text"] == "d"


def test_rollup_tiers_long_zone_dst_golden(spark):
    """Zoned GROUPING-SETS tiers (all tiers, one pass, Europe/Berlin local
    calendar) across the 2024 DST transitions: every tier of the long
    frame must equal the independently-computed per-grain rollup(zone=...)
    — safe because each tier's bucket is floored from raw ts inside the
    Expand, never re-floored from a finer tier (the cascade hazard).
    Extends the single-grain Berlin golden to the multi-tier frame."""
    import datetime as dt

    from tablecloth_time_spark.operators.rollup import rollup_tiers_long

    rows = [
        # around spring-forward (2024-03-31 02:00 local -> 03:00 CEST)
        ("a", dt.datetime(2024, 3, 30, 22, 30), 1.0),  # 23:30 Mar 30 local
        ("a", dt.datetime(2024, 3, 30, 23, 30), 2.0),  # 00:30 Mar 31 local
        ("a", dt.datetime(2024, 3, 31, 12, 0), 3.0),   # 14:00 Mar 31 CEST
        # around fall-back (2024-10-27)
        ("a", dt.datetime(2024, 10, 26, 23, 30), 4.0),  # 01:30 Oct 27 CEST
        ("a", dt.datetime(2024, 10, 27, 12, 0), 5.0),   # 13:00 Oct 27 CET
        # plain summer instant, second key
        ("b", dt.datetime(2024, 6, 14, 23, 30), 6.0),   # 01:30 Jun 15 local
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    tiers = {"hour": (1, "hour"), "day": (1, "day"), "month": (1, "month")}
    aggs = {"n": ("count", "v"), "s": ("sum", "v")}

    long_rows = rollup_tiers_long(
        df, ["k"], "ts", aggs, tiers, zone="Europe/Berlin"
    ).collect()
    got = {
        tier: {(r["k"], r["bucket"]): (r["n"], r["s"]) for r in long_rows
               if r["tier"] == tier}
        for tier in tiers
    }
    for tier, (i, u) in tiers.items():
        want = {
            (r["k"], r["bucket"]): (r["n"], r["s"])
            for r in rollup(df, ["k"], "ts", i, u, aggs,
                            zone="Europe/Berlin").collect()
        }
        assert got[tier] == want, tier

    # spot goldens: Berlin local midnight is 23:00 UTC under CET, 22:00
    # under CEST; both Mar 30 23:30 UTC events are in local day Mar 31
    assert got["day"][("a", dt.datetime(2024, 3, 30, 23, 0))] == (2, 5.0)
    # local month April/March boundary: March bucket = Feb 29 23:00 UTC
    assert got["month"][("a", dt.datetime(2024, 2, 29, 23, 0))] == (3, 6.0)
    # June 15 local day starts 22:00 UTC June 14 (CEST)
    assert got["day"][("b", dt.datetime(2024, 6, 14, 22, 0))] == (1, 6.0)
    # zone-less default differs (UTC days split the Mar 30/31 pair)
    utc_day = {
        (r["k"], r["bucket"])
        for r in rollup(df, ["k"], "ts", 1, "day", aggs).collect()
    }
    assert ("a", dt.datetime(2024, 3, 30)) in utc_day


def test_rollup_zone_local_days(spark):
    """Zoned daily rollup: two events in ONE Berlin local day but two UTC
    days land in one bucket (the local-midnight UTC instant)."""
    import datetime as dt

    rows = [
        # 2024-06-14 23:30 UTC = 01:30 June 15 Berlin (CEST)
        ("a", dt.datetime(2024, 6, 14, 23, 30), 1),
        # 2024-06-15 10:00 UTC = 12:00 June 15 Berlin
        ("a", dt.datetime(2024, 6, 15, 10, 0), 1),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    got = rollup(
        df, ["k"], "ts", 1, "day", {"n": ("count", "v")},
        zone="Europe/Berlin",
    ).collect()
    assert len(got) == 1
    # Berlin June 15 local midnight = June 14 22:00 UTC
    assert got[0]["bucket"] == dt.datetime(2024, 6, 14, 22, 0)
    assert got[0]["n"] == 2
    # the UTC default splits the same pair across two buckets
    assert rollup(df, ["k"], "ts", 1, "day", {"n": ("count", "v")}).count() == 2


# ---------------------------------------------------------------------------
# hll sketch distinct tiers


def test_rollup_hll_exact_at_small_cardinality(spark, transcripts_df, transcripts_pdf):
    """Distinct roles per (conv, day): cardinality <= 4, far inside the
    sketch's exact (coupon-list) regime -> estimates EQUAL exact counts."""
    eng = rollup(
        transcripts_df, ["conv_id"], "ts", 1, "day",
        {"uniq_roles": ("hll", "role"), "n_turns": ("count", "turn_idx")},
        order_cols=ORDER,
    ).toPandas()
    pdf = transcripts_pdf.copy()
    pdf["bucket"] = pdf["ts"].dt.floor("D")
    exp = (
        pdf.groupby(["conv_id", "bucket"])
        .agg(uniq_roles=("role", "nunique"), n_turns=("turn_idx", "size"))
        .reset_index()
    )
    merged = eng.merge(exp, on=["conv_id", "bucket"], suffixes=("", "_e"))
    assert len(merged) == len(eng) == len(exp)
    assert (merged["uniq_roles"] == merged["uniq_roles_e"]).all()
    assert (merged["n_turns"] == merged["n_turns_e"]).all()


def test_rollup_hll_cascade_equals_direct(spark, transcripts_df):
    """Register-max union is associative: day-tier estimates built by
    unioning hour sketches EQUAL sketching the day directly."""
    aggs = {"uniq_roles": ("hll", "role")}
    tiers = {"hour": (1, "hour"), "day": (1, "day")}
    cascade = rollup_cascade(
        transcripts_df, ["conv_id"], "ts", aggs, tiers=tiers, order_cols=ORDER
    )
    direct = rollup(
        transcripts_df, ["conv_id"], "ts", 1, "day", aggs, order_cols=ORDER
    )
    a = cascade["day"].toPandas().sort_values(["conv_id", "bucket"]).reset_index(drop=True)
    b = direct.toPandas().sort_values(["conv_id", "bucket"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])


def test_hll_partials_survive_parquet(spark, tmp_path, transcripts_df):
    """The binary sketch partial is STORABLE: write the hourly partial
    tier to parquet, read it back, re-bucket to days, finalize — equals
    the direct day rollup (the retention-tier storage contract)."""
    from tablecloth_time_spark.operators.rollup import (
        finalize_partials,
        merge_partials,
        partial_rollup,
    )

    aggs = {"uniq_roles": ("hll", "role"), "n_turns": ("count", "turn_idx")}
    partial_rollup(
        transcripts_df, ["conv_id"], "ts", 1, "hour", aggs, order_cols=ORDER
    ).write.mode("overwrite").parquet(str(tmp_path / "tier"))
    stored = spark.read.parquet(str(tmp_path / "tier"))
    day = finalize_partials(
        merge_partials(stored, ["conv_id"], aggs, rebucket=(1, "day")),
        ["conv_id"], aggs,
    )
    direct = rollup(
        transcripts_df, ["conv_id"], "ts", 1, "day", aggs, order_cols=ORDER
    )
    a = day.toPandas().sort_values(["conv_id", "bucket"]).reset_index(drop=True)
    b = direct.toPandas().sort_values(["conv_id", "bucket"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])


def test_rollup_hll_error_bound_at_scale(spark):
    """5000 true distincts in one bucket: lg_k=12 relative standard
    error is ~1.6%, assert a generous 5% envelope."""
    df = spark.range(0, 20_000).select(
        F.lit(1).alias("k"),
        F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("id")).alias("ts"),
        (F.col("id") % 5000).cast("string").alias("u"),
    )
    out = rollup(
        df, ["k"], "ts", 1, "day", {"uniq": ("hll", "u")}, order_cols=["ts"]
    ).collect()
    assert len(out) == 1
    assert abs(out[0]["uniq"] - 5000) / 5000 < 0.05


def test_sketch_overlap_series_exact_small(spark, tmp_path):
    """Returning/new/churned between consecutive days from a STORED
    sketch tier — exact at coupon-list cardinalities, first bucket
    NULL; verified against the true set algebra."""
    from tablecloth_time_spark.operators.stats import sketch_overlap_series
    from tablecloth_time_spark.operators.rollup import partial_rollup

    days = {
        0: {"a", "b", "c", "d"},
        1: {"c", "d", "e"},          # returning 2, new 1, churned 2
        2: {"f"},                    # returning 0, new 1, churned 3
        3: {"f", "a"},               # returning 1, new 1, churned 0
    }
    rows = [
        (1, 1_700_006_400_000 + d * 86_400_000, u)
        for d, us in days.items() for u in sorted(us)
    ]
    df = spark.createDataFrame(rows, "k int, ms long, u string").select(
        "k", F.timestamp_millis(F.col("ms")).alias("ts"), "u"
    )
    partial_rollup(
        df, ["k"], "ts", 1, "day", {"uniq": ("hll", "u")}
    ).write.mode("overwrite").parquet(str(tmp_path / "tier"))
    tier = spark.read.parquet(str(tmp_path / "tier"))
    got = {
        int((r["bucket"].timestamp() * 1000 - 1_700_006_400_000) // 86_400_000):
            (r["n_distinct"], r["returning"], r["new_distinct"], r["churned"])
        for r in sketch_overlap_series(
            tier, ["k"], sketch_col="__p_uniq"
        ).collect()
    }
    assert got[0] == (4, None, None, None)
    for d in range(1, 4):
        cur, pr = days[d], days[d - 1]
        assert got[d] == (
            len(cur), len(cur & pr), len(cur - pr), len(pr - cur)
        ), d


def test_sketch_overlap_series_gap_guard(spark, tmp_path):
    """Sparse tiers: with step=(1,'day'), a missing day between stored
    buckets yields NULL comparisons instead of silently comparing
    two-days-apart sketches; without step, literal prev-row semantics."""
    from tablecloth_time_spark.operators.stats import sketch_overlap_series
    from tablecloth_time_spark.operators.rollup import partial_rollup

    days = {0: {"a", "b"}, 2: {"a", "c"}}  # day 1 empty -> absent row
    rows = [
        (1, 1_700_006_400_000 + d * 86_400_000, u)
        for d, us in days.items() for u in sorted(us)
    ]
    df = spark.createDataFrame(rows, "k int, ms long, u string").select(
        "k", F.timestamp_millis(F.col("ms")).alias("ts"), "u"
    )
    partial_rollup(
        df, ["k"], "ts", 1, "day", {"uniq": ("hll", "u")}
    ).write.mode("overwrite").parquet(str(tmp_path / "tier"))
    tier = spark.read.parquet(str(tmp_path / "tier"))

    def day_of(r):
        return int(
            (r["bucket"].timestamp() * 1000 - 1_700_006_400_000) // 86_400_000
        )

    guarded = {
        day_of(r): (r["returning"], r["new_distinct"], r["churned"])
        for r in sketch_overlap_series(
            tier, ["k"], sketch_col="__p_uniq", step=(1, "day")
        ).collect()
    }
    assert guarded[2] == (None, None, None)  # gap crossed -> unknown
    literal = {
        day_of(r): r["returning"]
        for r in sketch_overlap_series(
            tier, ["k"], sketch_col="__p_uniq"
        ).collect()
    }
    assert literal[2] == 1  # documented prev-stored-row semantics
