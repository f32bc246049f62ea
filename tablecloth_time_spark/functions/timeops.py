"""Time-operation column expressions — the engine's "millis pivot" in Catalyst.

Every function here returns a pure ``pyspark.sql.Column`` built from built-in
functions only, so the whole library stays inside whole-stage codegen (no
Python crosses the executor boundary). This is the Spark-native form of the
reference's computational model — normalize to int64 epoch-milliseconds, do
integer arithmetic, convert back (behavior studied at reference
development-plan.md:44-67 and src/tablecloth/time/column/api.clj).

Semantics notes (all verified against the reference's golden test values in
tests/test_timeops_golden.py):

- modulo is truncation-toward-zero (Spark ``%``), matching the reference's
  integer ``rem`` and DuckDB's ``%`` — identical for the post-epoch data this
  engine targets;
- calendar floors (month/quarter/year with interval k) anchor at 1970-01 and
  operate on epoch-month / epoch-quarter / epoch-year integers (reference
  src/tablecloth/time/column/api.clj:86-157 behavior);
- day_of_week is ISO (Monday=1..Sunday=7), NOT Spark's ``dayofweek``
  (Sunday=1): 1970-01-01 was a Thursday -> 4;
- epoch_week uses truncation toward zero (week 0 contains 1970-01-01).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from tablecloth_time_spark.functions.units import (
    is_calendar_unit,
    milliseconds_in,
    normalize_unit,
)

EPOCH_DATE = "1970-01-01"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# representation conversion (the millis pivot) — reference convert-time
# ---------------------------------------------------------------------------


def to_epoch_millis(col: Column | str) -> Column:
    """timestamp -> int64 epoch milliseconds (the engine's computational IR)."""
    return F.unix_millis(_c(col).cast("timestamp"))


def from_epoch_millis(col: Column | str) -> Column:
    """int64 epoch milliseconds -> timestamp."""
    return F.timestamp_millis(_c(col).cast("long"))


def to_epoch_micros(col: Column | str) -> Column:
    return F.unix_micros(_c(col).cast("timestamp"))


def to_epoch_days(col: Column | str) -> Column:
    """days since 1970-01-01 for a date/timestamp column (negative before)."""
    return F.datediff(_c(col).cast("date"), F.lit(EPOCH_DATE).cast("date")).cast("long")


# nanoseconds per epoch unit (nanos base keeps every factor an int64 and
# every realistic date in-range, same ~year-2262 ceiling as pandas)
_EPOCH_NANOS: dict[str, int] = {
    "nanosecond": 1,
    "microsecond": 1_000,
    "millisecond": 1_000_000,
    "second": 10**9,
    "minute": 60 * 10**9,
    "hour": 3_600 * 10**9,
    "day": 86_400 * 10**9,
    "week": 7 * 86_400 * 10**9,
}

_EPOCH_UNIT_ALIASES: dict[str, str] = {}
for _u in _EPOCH_NANOS:
    for _alias in (_u, _u + "s", f"epoch-{_u}", f"epoch-{_u}s"):
        _EPOCH_UNIT_ALIASES[_alias] = _u
_EPOCH_UNIT_ALIASES.update(
    {
        "epoch-ns": "nanosecond",
        "epoch-us": "microsecond",
        "epoch-micros": "microsecond",
        "epoch-ms": "millisecond",
        "epoch-millis": "millisecond",
        "epoch-s": "second",
        "epoch-sec": "second",
        "epoch-min": "minute",
        "epoch-h": "hour",
        "epoch-hr": "hour",
        "epoch-d": "day",
        "epoch-w": "week",
    }
)


def normalize_epoch_unit(unit: str) -> str:
    key = unit.strip().lower().replace("_", "-")
    if key not in _EPOCH_UNIT_ALIASES:
        raise ValueError(f"unsupported epoch unit: {unit!r}")
    return _EPOCH_UNIT_ALIASES[key]


def _trunc_div(c: Column, d: int) -> Column:
    """Exact int64 truncation-toward-zero division.

    ``(c / lit).cast('long')`` routes through float64, whose ulp exceeds 1
    above 2^53 — a nanosecond-epoch value like 1754999999999999999 would
    round UP across the second boundary before truncation. ``c - c % d``
    is exactly divisible by d, and decimal division of an exact multiple
    is exact, so the quotient never touches a double. Spark's ``%`` takes
    the dividend's sign, so the result truncates toward zero.
    """
    r = c % F.lit(d)
    return ((c - r).cast("decimal(38,0)") / F.lit(d)).cast("long")


def epoch_rescale(col: Column | str, from_unit: str, to_unit: str) -> Column:
    """Rescale an integer epoch column between epoch units (pure int math).

    Mirrors the reference's [:epoch :epoch] branch of convert-time
    (src/tablecloth/time/column/api.clj:64-70: multiply by the ratio of the
    units' microsecond factors; golden: epoch-days -> epoch-hours is *24,
    test/tablecloth/time/column/api_test.clj:46-57). Coarsening divisions
    (e.g. hours -> days) truncate toward zero, consistent with the engine's
    other epoch integers (epoch_week). NOTE: temporal->epoch conversion in
    :func:`convert_time` FLOORS (calendar-consistent, matches
    to_epoch_days/unix_seconds); integer rescaling truncates — document
    of record for the pre-1970 divergence.
    """
    f = _EPOCH_NANOS[normalize_epoch_unit(from_unit)]
    t = _EPOCH_NANOS[normalize_epoch_unit(to_unit)]
    c = _c(col).cast("long")
    if f == t:
        return c
    if f % t == 0:  # coarser -> finer: exact multiply
        return c * F.lit(f // t)
    # _EPOCH_NANOS factors form a divisibility chain (1 | 1e3 | 1e6 | 1e9 |
    # 60e9 | 3600e9 | 86400e9 | 604800e9), so the only other case is
    # finer -> coarser
    assert t % f == 0, (from_unit, to_unit)
    return _trunc_div(c, t // f)


_EPOCH_TARGETS = {
    "epoch-nanoseconds": "nanosecond",
    "epoch-nanos": "nanosecond",
    "epoch-ns": "nanosecond",
    "epoch-microseconds": "microsecond",
    "epoch-micros": "microsecond",
    "epoch-us": "microsecond",
    "epoch-milliseconds": "millisecond",
    "epoch-millis": "millisecond",
    "epoch-ms": "millisecond",
    "epoch-seconds": "second",
    "epoch-s": "second",
    "epoch-minutes": "minute",
    "epoch-hours": "hour",
    "epoch-hour": "hour",
    "epoch-days": "day",
    "epoch-day": "day",
    "epoch-weeks": "week",
    "epoch-week": "week",
}

_TEMPORAL_TS_TARGETS = (
    "timestamp",
    "instant",
    "zoned-date-time",
    "local-date-time",
    "zdt",
    "ldt",
)
_TEMPORAL_DATE_TARGETS = ("date", "local-date")


def _epoch_to_timestamp(c: Column, unit: str) -> Column:
    """Integer epoch values in `unit` -> timestamp (sub-micro truncates)."""
    nanos = _EPOCH_NANOS[unit]
    if nanos >= 1_000:
        return F.timestamp_micros((c.cast("long") * F.lit(nanos // 1_000)))
    return F.timestamp_micros(_trunc_div(c.cast("long"), 1_000))


def convert_time(
    col: Column | str,
    target: str,
    source_unit: str | None = None,
    zone: str | None = None,
) -> Column:
    """Convert among temporal and epoch representations.

    Targets: 'timestamp', 'date', 'epoch-{nanoseconds,microseconds,
    milliseconds,seconds,minutes,hours,days,weeks}'. Mirrors the reference's
    4-way category dispatch (src/tablecloth/time/column/api.clj:30-84):

    - temporal -> temporal / temporal -> epoch: pass ``source_unit=None``;
    - epoch -> anything: the source unit is NOT inferable from an integer
      column, so pass ``source_unit=`` ('epoch-days', 'epoch-millis', ...).
      epoch -> epoch is pure integer rescaling (``epoch_rescale``); feeding
      a raw epoch long without ``source_unit`` through the temporal path
      would silently mis-cast (Spark casts long -> timestamp as SECONDS) —
      use :func:`convert_time_column` for the dtype-checked form that raises.
    - ``zone`` applies when a *calendar-local* value meets an instant-like
      one (reference api.clj:49-59): temporal-source + epoch target
      interprets the local wall time in ``zone`` (golden: LocalDate
      1970-01-01 @ Europe/Berlin -> -3,600,000 ms,
      test/tablecloth/time/column/api_test.clj:21-28); epoch-source +
      date target renders the instant's wall date in ``zone``.

    Durations/intervals are intentionally unsupported, as in the reference.
    """
    t = target.strip().lower().replace("_", "-")
    c = _c(col)

    if source_unit is not None:
        src = normalize_epoch_unit(source_unit)
        if t in _EPOCH_TARGETS:
            return epoch_rescale(c, src, _EPOCH_TARGETS[t])
        ts = _epoch_to_timestamp(c, src)
        if zone is not None:
            ts = F.from_utc_timestamp(ts, zone)
        if t in _TEMPORAL_TS_TARGETS:
            return ts
        if t in _TEMPORAL_DATE_TARGETS:
            return ts.cast("date")
        raise ValueError(f"unsupported time conversion target: {target!r}")

    if t in _TEMPORAL_TS_TARGETS:
        ts = c.cast("timestamp")
        return F.to_utc_timestamp(ts, zone) if zone is not None else ts
    if t in _TEMPORAL_DATE_TARGETS:
        return c.cast("date")
    if t in _EPOCH_TARGETS:
        ts = c.cast("timestamp")
        if zone is not None:
            ts = F.to_utc_timestamp(ts, zone)
        unit = _EPOCH_TARGETS[t]
        # temporal -> epoch FLOORS (java.time floorDiv / calendar
        # semantics): 1969-12-31 12:00 -> epoch-day -1, not 0 — matching
        # to_epoch_days/unix_seconds and the pre-round-2 behavior. (Integer
        # epoch_rescale is the one place that truncates toward zero.)
        if unit == "microsecond":
            return F.unix_micros(ts)
        if unit == "nanosecond":
            return F.unix_micros(ts) * F.lit(1_000)
        if unit == "millisecond":
            return F.unix_millis(ts)
        if unit == "second":
            return F.unix_seconds(ts)
        if unit == "day":
            return to_epoch_days(ts)
        # week defers to the epoch_week extractor (reference-pinned
        # truncation: week 0 contains 1970-01-01)
        if unit == "week":
            return epoch_week(ts)
        # minute/hour: floor-divide epoch seconds (|sec| < 2^53 -> the
        # double division is exact)
        secs = _EPOCH_NANOS[unit] // 10**9
        return F.floor(F.unix_seconds(ts) / F.lit(secs)).cast("long")
    raise ValueError(f"unsupported time conversion target: {target!r}")


def convert_time_column(
    df,
    col_name: str,
    target: str,
    source_unit: str | None = None,
    zone: str | None = None,
) -> Column:
    """Dtype-checked ``convert_time`` over a named DataFrame column.

    This is where the reference's source-dtype introspection
    (``classify-datatype``, src/tablecloth/time/column/api.clj:43-46) lands
    in Spark: with the schema in hand, a numeric column WITHOUT a
    ``source_unit`` raises instead of silently mis-casting (long ->
    timestamp would be read as seconds), and a ``source_unit`` on a
    temporal column is rejected as contradictory.
    """
    from pyspark.sql.types import DateType, NumericType, TimestampNTZType, TimestampType

    dtype = df.schema[col_name].dataType
    numeric = isinstance(dtype, NumericType)
    temporal = isinstance(dtype, (DateType, TimestampType, TimestampNTZType))
    if numeric and source_unit is None:
        raise ValueError(
            f"column {col_name!r} is numeric ({dtype.simpleString()}): epoch unit is "
            "ambiguous — pass source_unit= ('epoch-millis', 'epoch-days', ...)"
        )
    if temporal and source_unit is not None:
        raise ValueError(
            f"column {col_name!r} is temporal ({dtype.simpleString()}); "
            "source_unit applies only to integer epoch columns"
        )
    return convert_time(F.col(col_name), target, source_unit=source_unit, zone=zone)


# ---------------------------------------------------------------------------
# epoch-integer helpers for calendar arithmetic
# ---------------------------------------------------------------------------


def epoch_month(col: Column | str) -> Column:
    """Months since 1970-01: (year-1970)*12 + (month-1)."""
    c = _c(col)
    return ((F.year(c) - F.lit(1970)) * F.lit(12) + F.month(c) - F.lit(1)).cast("long")


def epoch_quarter(col: Column | str) -> Column:
    """Quarters since 1970-Q1 = epoch_month div 3 (post-epoch exact)."""
    return (epoch_month(col) / F.lit(3)).cast("long")


def epoch_year(col: Column | str) -> Column:
    return (F.year(_c(col)) - F.lit(1970)).cast("long")


def epoch_day(col: Column | str) -> Column:
    return to_epoch_days(col)


def epoch_week(col: Column | str) -> Column:
    """Weeks since epoch, truncation toward zero: week 0 contains 1970-01-01.

    Cast-of-division reproduces the reference's truncation-toward-zero
    semantics for pre-1970 inputs (F.floor would floor toward -inf).
    """
    return (to_epoch_days(col) / F.lit(7)).cast("long")


# ---------------------------------------------------------------------------
# flooring — down_to_nearest / floor_to_{month,quarter,year}
# ---------------------------------------------------------------------------


def floor_to_month(col: Column | str, k: int = 1) -> Column:
    """Floor a date/timestamp to k-month boundaries anchored at 1970-01.

    m = epoch_month; m' = m - m % k; result = 1970-01-01 + m' months (date).
    k=1 is equivalent to date_trunc('month', ts)::date.
    """
    if k < 1:
        raise ValueError("interval must be >= 1")
    m = epoch_month(col)
    m2 = (m - m % F.lit(k)).cast("int")
    return F.add_months(F.lit(EPOCH_DATE).cast("date"), m2)


def floor_to_quarter(col: Column | str, k: int = 1) -> Column:
    """Floor to k-quarter boundaries: q = epoch_quarter; back via 3*(q - q%k) months."""
    if k < 1:
        raise ValueError("interval must be >= 1")
    q = epoch_quarter(col)
    m2 = (F.lit(3) * (q - q % F.lit(k))).cast("int")
    return F.add_months(F.lit(EPOCH_DATE).cast("date"), m2)


def floor_to_year(col: Column | str, k: int = 1) -> Column:
    """Floor to k-year boundaries anchored at 1970."""
    if k < 1:
        raise ValueError("interval must be >= 1")
    y = epoch_year(col)
    y2 = y - y % F.lit(k)
    return F.make_date((F.lit(1970) + y2).cast("int"), F.lit(1), F.lit(1))


def down_to_nearest(
    col: Column | str,
    interval: int,
    unit: str,
    as_timestamp: bool = True,
    origin: str | None = None,
    zone: str | None = None,
) -> Column:
    """Floor a timestamp to the lower multiple of (interval x unit).

    Metric units (ms/s/min/h/d/w): pure int64 arithmetic in codegen —
    ``timestamp_millis(ms - ms % (interval * unit_ms))``. Week boundaries are
    epoch-anchored (1970-01-01, a Thursday), matching the reference.

    ``origin`` (metric units only) re-anchors the bucket grid to an
    arbitrary timestamp — TimescaleDB ``time_bucket(width, ts, origin)``
    parity. e.g. ``origin='2024-01-01'`` (a Monday) makes weekly buckets
    Monday-aligned. Uses ``pmod`` so values BEFORE the origin still floor
    (toward -inf on the origin grid), unlike the epoch-anchored default's
    documented truncation-toward-zero.

    Calendar units (month/quarter/year): epoch-month/quarter/year integer
    flooring (see floor_to_* above); ``origin`` is not supported there.

    ``zone`` floors in that time zone's LOCAL calendar and returns the UTC
    instant of the local boundary (the reference's ``floor-to-*``
    ``{:zone}`` option, reference column/api.clj:98-157): a Berlin daily
    bucket starts at local midnight — 23:00 UTC in summer, 22:00 the day
    DST ends — via the from/to_utc_timestamp sandwich around the normal
    floor arithmetic. During the repeated DST fall-back hour Spark's
    ``to_utc_timestamp`` resolves an ambiguous local boundary to the
    EARLIER offset (the daylight reading, java.time ``atZone`` semantics
    — empirically pinned in test_timeops_golden). Requires
    ``as_timestamp=True``.

    Returns TimestampType when ``as_timestamp`` (the engine's tier-bucket
    contract), else DateType for calendar floors.
    """
    u = normalize_unit(unit)
    if interval < 1:
        raise ValueError("interval must be >= 1")
    if zone is not None:
        if not as_timestamp:
            raise ValueError(
                "zone= returns the UTC instant of the local boundary; "
                "as_timestamp=False is ambiguous — cast caller-side"
            )
        local = F.from_utc_timestamp(_c(col).cast("timestamp"), zone)
        floored_local = down_to_nearest(
            local, interval, u, as_timestamp=True, origin=origin
        )
        return F.to_utc_timestamp(floored_local, zone)
    if is_calendar_unit(u):
        if origin is not None:
            raise ValueError("origin= is only supported for metric units")
        if u == "month":
            d = floor_to_month(col, interval)
        elif u == "quarter":
            d = floor_to_quarter(col, interval)
        else:
            d = floor_to_year(col, interval)
        return d.cast("timestamp") if as_timestamp else d
    divisor = interval * milliseconds_in(u)
    ms = to_epoch_millis(col)
    if origin is not None:
        o_ms = F.unix_millis(F.lit(origin).cast("timestamp"))
        floored = ms - F.pmod(ms - o_ms, F.lit(divisor))
    else:
        floored = ms - ms % F.lit(divisor)
    return F.timestamp_millis(floored)


def ceil_to_nearest(col: Column | str, interval: int, unit: str) -> Column:
    """Ceil to the upper multiple of (interval x unit); aligned values unchanged.

    floor + (interval if not already aligned), per the reference's planned
    spec (behavior from reference development-plan.md:209-221).
    """
    u = normalize_unit(unit)
    if is_calendar_unit(u):
        months = {"month": interval, "quarter": 3 * interval, "year": 12 * interval}[u]
        fl = down_to_nearest(col, interval, u, as_timestamp=False)
        ts = _c(col).cast("timestamp")
        return F.when(fl.cast("timestamp") == ts, fl).otherwise(
            F.add_months(fl, months)
        ).cast("timestamp")
    divisor = interval * milliseconds_in(u)
    ms = to_epoch_millis(col)
    rem = ms % F.lit(divisor)
    return F.timestamp_millis(F.when(rem == 0, ms).otherwise(ms - rem + F.lit(divisor)))


def round_to_nearest(col: Column | str, interval: int, unit: str) -> Column:
    """Round to the nearest multiple (ties round up): floor(ms + divisor/2)."""
    u = normalize_unit(unit)
    if is_calendar_unit(u):
        raise ValueError("round_to_nearest supports metric units only")
    divisor = interval * milliseconds_in(u)
    ms = to_epoch_millis(col) + F.lit(divisor // 2)
    return F.timestamp_millis(ms - ms % F.lit(divisor))


# ---------------------------------------------------------------------------
# field extractors (13) — reference column-level API
# ---------------------------------------------------------------------------


def day_of_week_iso(col: Column | str) -> Column:
    """ISO day-of-week Monday=1..Sunday=7 (1970-01-01 -> 4, a Thursday)."""
    return (F.weekday(_c(col)) + F.lit(1)).cast("long")


def week_of_year_index(col: Column | str) -> Column:
    """0-based week index within the year: epoch_week(d) - epoch_week(Jan 1).

    Avoids ISO week-52/53 year-boundary wraparound (the reference introduces
    this exact field for stable weekly grouping).
    """
    c = _c(col)
    jan1 = F.make_date(F.year(c), F.lit(1), F.lit(1))
    return epoch_week(c) - epoch_week(jan1)


FIELD_EXTRACTORS = {
    "year": lambda c: F.year(_c(c)).cast("long"),
    "month": lambda c: F.month(_c(c)).cast("long"),
    "day": lambda c: F.dayofmonth(_c(c)).cast("long"),
    "hour": lambda c: F.hour(_c(c)).cast("long"),
    "minute": lambda c: F.minute(_c(c)).cast("long"),
    "second": lambda c: F.second(_c(c)).cast("long"),
    "day-of-week": day_of_week_iso,
    "day-of-year": lambda c: F.dayofyear(_c(c)).cast("long"),
    "week-of-year": lambda c: F.weekofyear(_c(c)).cast("long"),
    "quarter": lambda c: F.quarter(_c(c)).cast("long"),
    "epoch-day": epoch_day,
    "epoch-week": epoch_week,
    "week-of-year-index": week_of_year_index,
}


# ---------------------------------------------------------------------------
# computed fields (10) — reference dataset-level API
# ---------------------------------------------------------------------------


def hour_fractional(col: Column | str) -> Column:
    """hour + minute/60 (13:30 -> 13.5)."""
    c = _c(col)
    return F.hour(c) + F.minute(c) / F.lit(60.0)


def daily_phase(col: Column | str) -> Column:
    """hour_fractional / 24 in [0, 1)."""
    return hour_fractional(col) / F.lit(24.0)


def weekly_phase(col: Column | str) -> Column:
    """((iso_dow - 1) * 24 + hour_fractional) / 168, Monday-anchored, [0, 1)."""
    c = _c(col)
    return (F.weekday(c) * F.lit(24.0) + hour_fractional(c)) / F.lit(168.0)


def yearly_phase(col: Column | str) -> Column:
    """(day_of_year - 1) / 365 in [0, ~1)."""
    return (F.dayofyear(_c(col)) - F.lit(1)) / F.lit(365.0)


def date_string(col: Column | str) -> Column:
    """'YYYY-MM-DD' grouping key (vectorized, unlike the reference's row map)."""
    return F.date_format(_c(col), "yyyy-MM-dd")


def year_week_string(col: Column | str) -> Column:
    """'YYYY-Www' using week_of_year_index (NOT ISO week), zero-padded."""
    return F.format_string("%d-W%02d", F.year(_c(col)), week_of_year_index(col))


COMPUTED_FIELDS = {
    "hour-fractional": hour_fractional,
    "daily-phase": daily_phase,
    "weekly-phase": weekly_phase,
    "yearly-phase": yearly_phase,
    "date-string": date_string,
    "year-string": lambda c: F.year(_c(c)).cast("string"),
    "month-string": lambda c: F.month(_c(c)).cast("string"),
    "week-string": lambda c: F.weekofyear(_c(c)).cast("string"),
    "day-of-week-string": lambda c: day_of_week_iso(c).cast("string"),
    "year-week-string": year_week_string,
}

ALL_FIELDS = {**FIELD_EXTRACTORS, **COMPUTED_FIELDS}


def field_expr(field: str, col: Column | str) -> Column:
    """Look up a field/computed-field extractor by name; raises on unknown."""
    key = field.strip().lower().replace("_", "-")
    if key not in ALL_FIELDS:
        raise ValueError(
            f"unknown time field {field!r}; known: {sorted(ALL_FIELDS)}"
        )
    return ALL_FIELDS[key](col)


# ---------------------------------------------------------------------------
# temporal arithmetic — plus/minus/between (reference planned surface)
# ---------------------------------------------------------------------------


def plus_time(col: Column | str, n: int, unit: str) -> Column:
    """ts + n units; calendar units via add_months, metric via millis."""
    u = normalize_unit(unit)
    c = _c(col).cast("timestamp")
    if u == "month":
        return F.add_months(c, n).cast("timestamp")
    if u == "quarter":
        return F.add_months(c, 3 * n).cast("timestamp")
    if u == "year":
        return F.add_months(c, 12 * n).cast("timestamp")
    return F.timestamp_millis(to_epoch_millis(c) + F.lit(n * milliseconds_in(u)))


def minus_time(col: Column | str, n: int, unit: str) -> Column:
    return plus_time(col, -n, unit)


def between_time(a: Column | str, b: Column | str, unit: str) -> Column:
    """Whole units from a to b (b - a), truncation toward zero.

    Calendar months/quarters/years use month arithmetic; metric units use
    millis division.
    """
    u = normalize_unit(unit)
    ca, cb = _c(a).cast("timestamp"), _c(b).cast("timestamp")
    if u in ("month", "quarter", "year"):
        months = F.months_between(cb, ca, roundOff=False)
        div = {"month": 1, "quarter": 3, "year": 12}[u]
        return (months / F.lit(div)).cast("long")
    delta = to_epoch_millis(cb) - to_epoch_millis(ca)
    return (delta / F.lit(milliseconds_in(u))).cast("long")


# ---------------------------------------------------------------------------
# boolean predicates + normalization + formatting (reference planned surface)
# ---------------------------------------------------------------------------


def is_month_start(col: Column | str) -> Column:
    return F.dayofmonth(_c(col)) == 1


def is_month_end(col: Column | str) -> Column:
    c = _c(col)
    return c.cast("date") == F.last_day(c)


def is_quarter_start(col: Column | str) -> Column:
    c = _c(col)
    return (F.dayofmonth(c) == 1) & (F.month(c) % 3 == 1)


def is_quarter_end(col: Column | str) -> Column:
    c = _c(col)
    return is_month_end(c) & (F.month(c) % 3 == 0)


def is_year_end(col: Column | str) -> Column:
    c = _c(col)
    return (F.dayofmonth(c) == 31) & (F.month(c) == 12)


def normalize_date(col: Column | str) -> Column:
    """Truncate to midnight (timestamp)."""
    return F.date_trunc("day", _c(col))


def strftime(col: Column | str, fmt: str) -> Column:
    """Format with a Java datetime pattern (e.g. 'yyyy-MM-dd HH:mm')."""
    return F.date_format(_c(col), fmt)


def day_name(col: Column | str) -> Column:
    return F.date_format(_c(col), "EEEE")


def month_name(col: Column | str) -> Column:
    return F.date_format(_c(col), "MMMM")


# ---------------------------------------------------------------------------
# time-zone re-interpretation — with-tz / force-tz (reference planned surface,
# behavior from reference development-plan.md:260-272)
# ---------------------------------------------------------------------------


def with_tz(col: Column | str, tz: str) -> Column:
    """Same instant, re-zoned clock: the wall-clock reading of this instant
    in ``tz`` (UTC 12:00 with tz=Europe/Berlin -> 13:00/14:00 wall time)."""
    return F.from_utc_timestamp(_c(col).cast("timestamp"), tz)


def force_tz(col: Column | str, tz: str) -> Column:
    """Same clock, re-interpreted zone: treat the stored wall-clock time as
    being IN ``tz`` and return the corresponding instant (UTC-normalized)."""
    return F.to_utc_timestamp(_c(col).cast("timestamp"), tz)


# ---------------------------------------------------------------------------
# string parsing — reference parse / parse-with-formatter
# ---------------------------------------------------------------------------


def _date_pattern_regex(fmt: str) -> tuple[str, list[str]]:
    """Compile a y/M/d java-time date pattern to an anchored regex.

    Returns (regex, field order). Only year/month/day tokens plus literal
    separators are supported — resolver styles are about DATE-field
    resolution (java.time ResolverStyle), so patterns with time/zone tokens
    keep the strict path.
    """
    import re as _re

    order: list[str] = []
    parts: list[str] = []
    prev_variable_group = False  # variable-width group directly before?
    prev_was_group = False
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch in "yuMd":
            j = i
            while j < len(fmt) and fmt[j] == ch:
                j += 1
            n = j - i
            kind = "y" if ch in "yu" else ("m" if ch == "M" else "d")
            if kind in order:
                raise ValueError(f"repeated {ch!r} field in pattern {fmt!r}")
            order.append(kind)
            if kind == "y":
                if n < 4:
                    # java 'yy' pivots 2-digit years around 2000; the regex
                    # path would read them literally (year 25 != 2025) —
                    # silently diverging from strict. Refuse instead.
                    raise ValueError(
                        f"resolver_style smart/lenient needs a 4-digit year "
                        f"token (yyyy/uuuu); {'y' * n!r} in {fmt!r} would "
                        "read 2-digit years literally"
                    )
                group, variable = r"(\d{4})", False
            elif n == 1:
                group, variable = r"(\d{1,2})", True
            else:
                group, variable = r"(\d{2})", False
            if prev_was_group and prev_variable_group:
                raise ValueError(
                    f"ambiguous pattern {fmt!r}: a variable-width field "
                    "(single-letter M/d) directly followed by another field "
                    "has no unique digit split — use 2-letter tokens or a "
                    "separator"
                )
            parts.append(group)
            prev_was_group, prev_variable_group = True, variable
            i = j
        elif ch.isalpha():
            raise ValueError(
                f"resolver_style smart/lenient supports date-only patterns "
                f"(y/M/d + separators); got token {ch!r} in {fmt!r}"
            )
        else:
            parts.append(_re.escape(ch))
            prev_was_group = False
            i += 1
    if set(order) != {"y", "m", "d"}:
        raise ValueError(f"pattern {fmt!r} must contain year, month and day fields")
    return "^" + "".join(parts) + "$", order


def parse_temporal(
    col: Column | str, fmt: str | None = None, resolver_style: str = "strict"
) -> Column:
    """string -> timestamp, mirroring the reference's parser cascade.

    With ``fmt``: pattern parse (java-time pattern), null on mismatch.
    Without: ISO cascade — full timestamp first, then bare date (midnight),
    the vectorized analogue of the reference's Instant->...->LocalDate
    formatter chain (reference src/tablecloth/time/parse.clj:35-47; ISO
    built-ins are strict, parse.clj:49-57).

    ``resolver_style`` mirrors the reference's ``:resolver-style`` option
    (parse.clj:10-32 -> java.time ResolverStyle), used only with ``fmt``:

    - ``'strict'`` (default): invalid dates -> null (Spark's corrected
      parser already resolves strictly);
    - ``'smart'``: day-of-month clamps to the month's length
      ('2019-02-31' -> 2019-02-28); month must be 1-12, day 1-31;
    - ``'lenient'``: out-of-range fields carry over arithmetically
      ('2019-02-31' -> 2019-03-03, month 13 -> next January).

    smart/lenient are pure expressions (regex field extraction + calendar
    arithmetic) and support date-only patterns (y/M/d + separators) —
    exactly the fields ResolverStyle affects.
    """
    c = _c(col)
    style = resolver_style.strip().lower()
    if style not in ("strict", "smart", "lenient"):
        raise ValueError(f"resolver_style must be strict|smart|lenient, got {resolver_style!r}")
    if fmt is None:
        if style != "strict":
            raise ValueError(
                "resolver_style applies only with an explicit fmt "
                "(the reference's ISO built-ins are strict, parse.clj:49-57)"
            )
        return F.coalesce(
            F.try_to_timestamp(c),
            F.try_to_timestamp(c, F.lit("yyyy-MM-dd")),
        )
    if style == "strict":
        return F.try_to_timestamp(c, F.lit(fmt))

    regex, order = _date_pattern_regex(fmt)
    # digits-only groups; non-matching extract yields '' -> nullif keeps
    # the cast ANSI-safe
    def _field(kind: str) -> Column:
        gi = order.index(kind) + 1
        return F.nullif(F.regexp_extract(c, regex, gi), F.lit("")).cast("int")

    y, m, d = _field("y"), _field("m"), _field("d")
    if style == "smart":
        # month strictly 1-12, day 1-31 then clamped to the month length
        first = F.make_date(y, m, F.lit(1))
        clamped = F.least(d, F.dayofmonth(F.last_day(first)))
        return (
            F.when(
                m.between(1, 12) & d.between(1, 31),
                F.date_add(first, clamped - F.lit(1)),
            )
            .otherwise(F.lit(None).cast("date"))
            .cast("timestamp")
        )
    # lenient: pure carry-over arithmetic — never an invalid intermediate
    jan1 = F.make_date(y, F.lit(1), F.lit(1))
    return F.date_add(F.add_months(jan1, m - F.lit(1)), d - F.lit(1)).cast("timestamp")
