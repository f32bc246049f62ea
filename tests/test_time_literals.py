"""Tagged time-literal printing/parsing — java.time toString parity.

Reference anchor: ``src/tablecloth/time/time_literals.clj:1-17`` wires the
public juxt time-literals EDN readers/printers; the engine exposes the
same surface as column functions (functions/literals.py). Every golden
below is the output of a JDK 17 probe run in this sandbox (Instant /
LocalDateTime / LocalTime / Duration / Period / ZonedDateTime toString),
so a literal the engine prints is exactly what the reference's reader
would print for the same value.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.functions.literals import (
    TAGS,
    fmt_duration_iso,
    fmt_period_iso,
    literal_payload,
    literal_tag,
    parse_duration_iso,
    parse_period_iso,
    parse_time_literal,
    to_time_literal,
)
from tests.conftest import executed_plan


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


# ------------------------------------------------------------------ printing


@pytest.mark.parametrize(
    "ts,expected",
    [
        ("2024-05-05 10:15:00", "2024-05-05T10:15:00Z"),
        ("2024-05-05 10:15:30.123", "2024-05-05T10:15:30.123Z"),
        ("2024-05-05 10:15:30.120", "2024-05-05T10:15:30.120Z"),
        ("2024-05-05 00:00:00", "2024-05-05T00:00:00Z"),
        ("2024-05-05 10:15:30.123456", "2024-05-05T10:15:30.123456Z"),
    ],
)
def test_instant_literal_matches_jdk(spark, ts, expected):
    # Instant.toString: seconds always printed, fraction in 3-digit groups
    got = _one(
        spark, to_time_literal(F.lit(ts).cast("timestamp"), "instant")
    )
    assert got == f'#time/instant "{expected}"'


@pytest.mark.parametrize(
    "ts,expected",
    [
        ("2024-05-05 10:15:00", "2024-05-05T10:15"),
        ("2024-05-05 10:15:30", "2024-05-05T10:15:30"),
        ("2024-05-05 10:15:30.123", "2024-05-05T10:15:30.123"),
        ("2024-05-05 00:00:00", "2024-05-05T00:00"),
    ],
)
def test_date_time_literal_matches_jdk(spark, ts, expected):
    # LocalDateTime.toString: ':ss' omitted when zero with no fraction
    got = _one(
        spark, to_time_literal(F.lit(ts).cast("timestamp_ntz"), "date-time")
    )
    assert got == f'#time/date-time "{expected}"'


@pytest.mark.parametrize(
    "ts,expected",
    [("2024-05-05 10:15:00", "10:15"), ("2024-05-05 10:15:30.120", "10:15:30.120")],
)
def test_time_literal_matches_jdk(spark, ts, expected):
    got = _one(spark, to_time_literal(F.lit(ts).cast("timestamp_ntz"), "time"))
    assert got == f'#time/time "{expected}"'


@pytest.mark.parametrize(
    "millis,expected",
    [
        (2 * 3600_000 + 30 * 60_000, "PT2H30M"),
        (90_061_123, "PT25H1M1.123S"),
        (2 * 86_400_000, "PT48H"),
        (0, "PT0S"),
        (-3_661_000, "PT-1H-1M-1S"),
        (120, "PT0.12S"),
        (-120, "PT-0.12S"),
        (100, "PT0.1S"),
        (500, "PT0.5S"),
        (-1_500, "PT-1.5S"),
        (-61 * 60_000, "PT-1H-1M"),
    ],
)
def test_duration_literal_matches_jdk(spark, millis, expected):
    got = _one(spark, fmt_duration_iso(F.lit(millis)))
    assert got == expected
    tagged = _one(spark, to_time_literal(F.lit(millis), "duration"))
    assert tagged == f'#time/duration "{expected}"'


@pytest.mark.parametrize(
    "y,mo,d,expected",
    [(1, 2, 3, "P1Y2M3D"), (0, 0, 0, "P0D"), (0, 0, 14, "P14D"), (0, -2, 3, "P-2M3D")],
)
def test_period_literal_matches_jdk(spark, y, mo, d, expected):
    got = _one(spark, fmt_period_iso(F.lit(y), F.lit(mo), F.lit(d)))
    assert got == expected


@pytest.mark.parametrize(
    "ts,zone,expected",
    [
        ("2024-05-05 08:15:00", "Europe/Berlin", "2024-05-05T10:15+02:00[Europe/Berlin]"),
        ("2024-01-05 09:15:30", "Europe/Berlin", "2024-01-05T10:15:30+01:00[Europe/Berlin]"),
        ("2024-05-05 10:15:00", "UTC", "2024-05-05T10:15Z[UTC]"),
    ],
)
def test_zoned_literal_matches_jdk(spark, ts, zone, expected):
    # input instants are UTC; the JDK probe's ZonedDateTime goldens
    got = _one(
        spark,
        to_time_literal(
            F.lit(ts).cast("timestamp"), "zoned-date-time", zone=F.lit(zone)
        ),
    )
    assert got == f'#time/zoned-date-time "{expected}"'


def test_simple_tags(spark):
    d = F.lit("2024-06-03").cast("date")  # a Monday in June
    assert _one(spark, to_time_literal(d, "date")) == '#time/date "2024-06-03"'
    assert _one(spark, to_time_literal(d, "year")) == '#time/year "2024"'
    assert _one(spark, to_time_literal(d, "year-month")) == '#time/year-month "2024-06"'
    assert _one(spark, to_time_literal(d, "month")) == '#time/month "JUNE"'
    assert (
        _one(spark, to_time_literal(d, "day-of-week"))
        == '#time/day-of-week "MONDAY"'
    )
    assert (
        _one(spark, to_time_literal(F.lit("Europe/Berlin"), "zone"))
        == '#time/zone "Europe/Berlin"'
    )


def test_month_day_and_offset_tags_match_jdk(spark):
    # JDK probe: --12-03, 2024-05-05T10:15+02:00, 10:15:30.120Z
    d = F.lit("2024-12-03").cast("date")
    assert _one(spark, to_time_literal(d, "month-day")) == '#time/month-day "--12-03"'
    odt = to_time_literal(
        F.lit("2024-05-05 08:15:00").cast("timestamp"),
        "offset-date-time",
        offset_min=F.lit(120),
    )
    assert _one(spark, odt) == '#time/offset-date-time "2024-05-05T10:15+02:00"'
    odt2 = to_time_literal(
        F.lit("2024-05-05 10:15:30.123").cast("timestamp"),
        "offset-date-time",
        offset_min=F.lit(0),
    )
    assert (
        _one(spark, odt2) == '#time/offset-date-time "2024-05-05T10:15:30.123Z"'
    )
    odt3 = to_time_literal(
        F.lit("2024-05-05 15:45:30").cast("timestamp"),
        "offset-date-time",
        offset_min=F.lit(-330),
    )
    assert (
        _one(spark, odt3) == '#time/offset-date-time "2024-05-05T10:15:30-05:30"'
    )
    ot = to_time_literal(
        F.lit("2024-01-01 10:15:00").cast("timestamp_ntz"),
        "offset-time",
        offset_min=F.lit(60),
    )
    assert _one(spark, ot) == '#time/offset-time "10:15+01:00"'
    ot2 = to_time_literal(
        F.lit("2024-01-01 10:15:30.120").cast("timestamp_ntz"),
        "offset-time",
        offset_min=F.lit(0),
    )
    assert _one(spark, ot2) == '#time/offset-time "10:15:30.120Z"'


def test_parse_month_day_and_offsets(spark):
    md = _one(
        spark, parse_time_literal(F.lit('#time/month-day "--02-29"'), "month-day")
    )
    assert (md["month"], md["day"]) == (2, 29)
    assert (
        _one(
            spark,
            parse_time_literal(F.lit('#time/month-day "--02-30"'), "month-day"),
        )
        is None
    )
    odt = _one(
        spark,
        parse_time_literal(
            F.lit('#time/offset-date-time "2024-05-05T10:15:30-05:30"'),
            "offset-date-time",
        ),
    )
    assert odt["offset_min"] == -330
    assert odt["instant"] == dt.datetime(2024, 5, 5, 15, 45, 30)
    ot = _one(
        spark,
        parse_time_literal(
            F.lit('#time/offset-time "10:15:30.120+01:00"'), "offset-time"
        ),
    )
    assert ot["time_ms"] == 10 * 3_600_000 + 15 * 60_000 + 30_120
    assert ot["offset_min"] == 60
    # a bracketed zoned form must NOT parse as offset-date-time
    assert (
        _one(
            spark,
            parse_time_literal(
                F.lit(
                    '#time/offset-date-time "2024-05-05T10:15+02:00[Europe/Berlin]"'
                ),
                "offset-date-time",
            ),
        )
        is None
    )


def test_offset_round_trip(spark):
    """offset-date-time: print -> parse recovers the exact instant and
    offset for a grid of offsets including half-hour ones."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [
        (int(us), int(om))
        for us, om in zip(
            rng.integers(0, 2 * 10**15, 300),
            rng.choice([-720, -330, -60, 0, 60, 120, 330, 345, 840], 300),
        )
    ]
    df = spark.createDataFrame(rows, "us long, om int")
    lit = to_time_literal(
        F.timestamp_micros("us"), "offset-date-time", offset_min=F.col("om")
    )
    back = parse_time_literal(lit, "offset-date-time")
    bad = df.select(
        (
            (F.unix_micros(back["instant"]) != F.col("us"))
            | (back["offset_min"] != F.col("om"))
        ).cast("int").alias("x")
    ).agg(F.sum("x")).collect()[0][0]
    assert bad == 0


def test_null_input_yields_null_literal(spark):
    assert _one(spark, to_time_literal(F.lit(None).cast("date"), "date")) is None


# ------------------------------------------------------------------- parsing


def test_tag_and_payload_extraction(spark):
    lit = F.lit('#time/date "2024-05-05"')
    assert _one(spark, literal_tag(lit)) == "date"
    assert _one(spark, literal_payload(lit)) == "2024-05-05"
    assert _one(spark, literal_tag(F.lit("not a literal"))) is None


def test_parse_nano_fraction_truncates_to_micros(spark):
    # a JVM Instant can print 9 fraction digits; parse keeps micros
    got = _one(
        spark,
        parse_time_literal(
            F.lit('#time/instant "2024-05-05T10:15:30.123456789Z"'), "instant"
        ),
    )
    assert got == dt.datetime(2024, 5, 5, 10, 15, 30, 123456)


def test_parse_wrong_tag_is_null(spark):
    lit = F.lit('#time/date "2024-05-05"')
    assert _one(spark, parse_time_literal(lit, "instant")) is None


@pytest.mark.parametrize(
    "s,millis",
    [
        ("PT2H30M", 9_000_000),
        ("PT25H1M1.123S", 90_061_123),
        ("PT-1H-1M-1S", -3_661_000),
        ("PT0.12S", 120),
        ("PT-0.12S", -120),
        ("-PT0.5S", -500),
        ("P2DT3H", 183_600_000),
        ("PT0S", 0),
    ],
)
def test_parse_duration(spark, s, millis):
    assert _one(spark, parse_duration_iso(F.lit(s))) == millis


@pytest.mark.parametrize("bad", ["P", "PT", "-P", "garbage", "PT1X"])
def test_parse_duration_malformed_is_null(spark, bad):
    assert _one(spark, parse_duration_iso(F.lit(bad))) is None


@pytest.mark.parametrize(
    "s,y,mo,d",
    [("P1Y2M3D", 1, 2, 3), ("P0D", 0, 0, 0), ("P2W", 0, 0, 14), ("P-2M3D", 0, -2, 3), ("-P1Y2D", -1, 0, -2)],
)
def test_parse_period(spark, s, y, mo, d):
    got = _one(spark, parse_period_iso(F.lit(s)))
    assert (got["years"], got["months"], got["days"]) == (y, mo, d)


def test_parse_zoned(spark):
    got = _one(
        spark,
        parse_time_literal(
            F.lit('#time/zoned-date-time "2024-05-05T10:15+02:00[Europe/Berlin]"'),
            "zoned-date-time",
        ),
    )
    assert got["zone"] == "Europe/Berlin"
    assert got["instant"] == dt.datetime(2024, 5, 5, 8, 15)
    off_only = _one(
        spark,
        parse_time_literal(
            F.lit('#time/zoned-date-time "2024-05-05T10:15Z"'), "zoned-date-time"
        ),
    )
    assert off_only["zone"] == "Z"
    assert off_only["instant"] == dt.datetime(2024, 5, 5, 10, 15)


def test_parse_time_millis(spark):
    assert _one(
        spark, parse_time_literal(F.lit('#time/time "10:15"'), "time")
    ) == 10 * 3_600_000 + 15 * 60_000
    assert _one(
        spark, parse_time_literal(F.lit('#time/time "10:15:30.120"'), "time")
    ) == 10 * 3_600_000 + 15 * 60_000 + 30_120
    assert _one(spark, parse_time_literal(F.lit('#time/time "25:00"'), "time")) is None


# ---------------------------------------------------------------- round-trip


def test_round_trip_every_tag_on_events(spark):
    """print -> parse -> print is the identity on real event timestamps
    for every point-like tag (the reference's reader/printer contract)."""
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .orderBy("event_id")
        .limit(500)
        .select(F.col("ts").cast("timestamp_ntz").alias("ts"))
    )
    checks = []
    for tag, col in [
        ("date", F.col("ts").cast("date")),
        ("instant", F.col("ts").cast("timestamp")),
        ("date-time", F.col("ts")),
    ]:
        lit = to_time_literal(col, tag)
        back = parse_time_literal(lit, tag)
        relit = to_time_literal(back, tag)
        checks.append(F.sum((lit != relit).cast("int")).alias(tag))
    row = ev.select(*checks).collect()[0]
    assert all(row[t] == 0 for t in ("date", "instant", "date-time")), row


def test_round_trip_duration_and_period(spark):
    df = spark.range(-5000, 5000).select(
        (F.col("id") * 7919 + F.col("id") % 13).alias("ms")
    )
    bad = df.select(
        (
            parse_duration_iso(fmt_duration_iso(F.col("ms"))) != F.col("ms")
        ).cast("int").alias("x")
    ).agg(F.sum("x")).collect()[0][0]
    assert bad == 0


def test_randomized_cross_check_vs_python_isoformat(spark):
    """2000 stratified random timestamps (zero-fraction / millis-only /
    zero-second strata forced) — the Spark literal strings must equal an
    independent Python reference built from datetime.isoformat timespec
    selection, and random large signed durations must round-trip."""
    import numpy as np

    rng = np.random.default_rng(42)
    us = rng.integers(0, 4 * 10**15, 2000)  # ~127 years of post-epoch micros
    us[::4] -= us[::4] % 1_000_000  # whole seconds
    us[1::4] -= us[1::4] % 1000  # exact millis
    us[2::4] -= us[2::4] % 60_000_000  # :00 seconds (omission rule)
    dur = rng.integers(-(10**12), 10**12, 2000)
    rows = [(int(a), int(b)) for a, b in zip(us, dur)]
    df = spark.createDataFrame(rows, "us long, dur long")
    ts = F.timestamp_micros("us")
    got = df.select(
        "us",
        "dur",
        literal_payload(to_time_literal(ts, "instant")).alias("i"),
        literal_payload(
            to_time_literal(ts.cast("timestamp_ntz"), "date-time")
        ).alias("d"),
        literal_payload(to_time_literal(ts.cast("timestamp_ntz"), "time")).alias(
            "t"
        ),
        parse_duration_iso(fmt_duration_iso(F.col("dur"))).alias("rt"),
    ).collect()
    for r in got:
        x = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=r["us"])
        if x.microsecond == 0:
            spec = "seconds"
        elif x.microsecond % 1000 == 0:
            spec = "milliseconds"
        else:
            spec = "microseconds"
        assert r["i"] == x.isoformat(timespec=spec) + "Z", r
        dt_spec = (
            "minutes" if x.second == 0 and x.microsecond == 0 else spec
        )
        assert r["d"] == x.isoformat(timespec=dt_spec), r
        assert r["t"] == x.time().isoformat(timespec=dt_spec), r
        assert r["rt"] == r["dur"], r


def test_zoned_literal_random_instants_vs_zoneinfo(spark):
    """600 random instants — 200 clustered inside +/-3h of each 2024
    Berlin DST transition, 200 spread over the year — must render the
    zoned literal exactly as Python's zoneinfo derives it (offset sign,
    DST fold side, seconds omission)."""
    import numpy as np
    from zoneinfo import ZoneInfo

    rng = np.random.default_rng(7)
    spring = int(dt.datetime(2024, 3, 31, 1, 0).timestamp() * 1000)
    fall = int(dt.datetime(2024, 10, 27, 1, 0).timestamp() * 1000)
    ms = np.concatenate(
        [
            spring + rng.integers(-3 * 3600_000, 3 * 3600_000, 200),
            fall + rng.integers(-3 * 3600_000, 3 * 3600_000, 200),
            rng.integers(
                int(dt.datetime(2024, 1, 1).timestamp() * 1000),
                int(dt.datetime(2025, 1, 1).timestamp() * 1000),
                200,
            ),
        ]
    )
    df = spark.createDataFrame([(int(x),) for x in ms], "ms long")
    got = df.select(
        "ms",
        literal_payload(
            to_time_literal(
                F.timestamp_millis("ms"), "zoned-date-time", zone=F.lit("Europe/Berlin")
            )
        ).alias("z"),
    ).collect()
    tz = ZoneInfo("Europe/Berlin")
    for r in got:
        loc = dt.datetime.fromtimestamp(r["ms"] / 1000, dt.timezone.utc).astimezone(tz)
        spec = "minutes" if loc.second == 0 and loc.microsecond == 0 else (
            "milliseconds" if loc.microsecond else "seconds"
        )
        off = loc.utcoffset()
        total_min = int(off.total_seconds()) // 60
        if total_min == 0:
            off_s = "Z"
        else:
            sign = "-" if total_min < 0 else "+"
            off_s = f"{sign}{abs(total_min) // 60:02d}:{abs(total_min) % 60:02d}"
        exp = loc.replace(tzinfo=None).isoformat(timespec=spec) + off_s + "[Europe/Berlin]"
        assert r["z"] == exp, (r, exp)


def test_all_tags_enumerated():
    # the full juxt time-literals reader surface
    assert len(TAGS) == 15
    for t in TAGS:
        assert isinstance(t, str)


def test_literals_plan_is_pure_codegen(spark):
    """Literal rendering + parsing must stay UDF-free (whole-stage
    codegen at 100 TB): no BatchEvalPython / MapInPandas anywhere."""
    df = spark.range(10).select(
        F.col("id"),
        F.timestamp_millis(F.col("id") * 86_400_000 + 123).alias("ts"),
    )
    out = df.select(
        to_time_literal(F.col("ts"), "instant").alias("a"),
        parse_time_literal(
            to_time_literal(F.col("ts").cast("timestamp_ntz"), "date-time"),
            "date-time",
        ).alias("b"),
        fmt_duration_iso(F.col("id") * 1000).alias("c"),
    )
    plan = executed_plan(out)
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert out.count() == 10
