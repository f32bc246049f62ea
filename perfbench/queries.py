"""Dashboard query mix over a tier and block store, and its Spark-free
oracle.

Three query types, each forced by collecting a one-row digest whose
columns depend on every output column, so Catalyst can prune nothing:

- ``tier_slice``: ``slice_time`` over the hour tier, then a small aggregate;
- ``block_slice``: ``read_blocks_slice`` over the minute blocks, which
  decodes in Python;
- ``m4``: ``m4_downsample`` over a minute-tier slice, about 100 pixels wide.

The oracle answers the same digests from the raw turns with pandas, so
every answer is checked without Spark.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.compress import read_blocks_slice
from tablecloth_time_spark.operators.downsample import m4_downsample
from tablecloth_time_spark.operators.slice import slice_time

KINDS = ("tier_slice", "block_slice", "m4")
# the layer each query type exercises, as span names call it
QUERY_LAYER = {"tier_slice": "slice", "block_slice": "decode", "m4": "m4"}
BLOCK_CODECS = {"n_turns": "int", "sum_chars": "int"}
M4_PIXELS = 100
HOUR_MS = 3_600_000
MINUTE_MS = 60_000
DAY_MS = 86_400_000


@dataclass(frozen=True)
class Query:
    kind: str
    lo_ms: int  # inclusive window bounds, epoch milliseconds UTC
    hi_ms: int
    conv: str | None  # None = all conversations

    def m4_width_min(self) -> int:
        return max(1, -(-(self.hi_ms - self.lo_ms) // (MINUTE_MS * M4_PIXELS)))


def make_queries(rng: np.random.Generator, turns: pd.DataFrame, n: int) -> list[Query]:
    """A seeded query mix whose shape repeats every six queries, so that
    every whole round of six asks the same of the store whatever the seed.

    Query ``k`` has type ``KINDS[k % 3]``. Its width, from one hour to a
    week, is log-spaced by ``k % 6`` along a golden-ratio sequence: 13 h,
    1.8 h, 43 h, 6 h, 6.6 days and 21 h. When ``k % 6 < 3`` the query
    covers all conversations over the latest window of its width, as a
    live dashboard does. Else it covers one conversation: the seed draws a
    turn with exponentially decaying weight back from the newest (mean two
    days) and places the window around it, so these windows too fall mostly
    in recent days.
    """
    ts = turns["ts_ms"].to_numpy()
    order = np.argsort(ts, kind="stable")
    ts_sorted = ts[order]
    convs = turns["conv_id"].to_numpy()[order]
    newest = int(ts_sorted[-1])
    lo_w, hi_w = np.log(HOUR_MS), np.log(7 * DAY_MS)
    out = []
    for k in range(n):
        width = int(np.exp(lo_w + (hi_w - lo_w) * ((0.5 + (k % 6) * 0.6180339887) % 1.0)))
        at = newest - int(rng.exponential(2 * DAY_MS))
        i = min(int(np.searchsorted(ts_sorted, at)), len(ts_sorted) - 1)
        if k % 6 < 3:
            hi, conv = newest - newest % 1000, None
        else:
            hi, conv = int(ts_sorted[i]) + int(rng.uniform(0, width)), str(convs[i])
            hi -= hi % 1000
        out.append(Query(KINDS[k % 3], hi - width, hi, conv))
    return out


def _ts(ms: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms)


def _ms(col: str):
    return F.unix_millis(F.col(col).cast("timestamp"))


def run_query(q: Query, tier, blocks) -> tuple[int, ...]:
    """Run one query; ``tier(name)`` gives a finalized tier and
    ``blocks()`` the minute blocks."""
    lo, hi = _ts(q.lo_ms), _ts(q.hi_ms)
    if q.kind == "tier_slice":
        df = slice_time(tier("hour"), "bucket", lo, hi)
        if q.conv is not None:
            df = df.filter(F.col("conv_id") == q.conv)
        digest = df.agg(
            F.count(F.lit(1)), F.sum("n_turns"), F.sum("sum_chars"),
            F.sum(_ms("bucket")),
        )
    elif q.kind == "block_slice":
        b = blocks()
        if q.conv is not None:
            b = b.filter(F.col("conv_id") == q.conv)
        pts = read_blocks_slice(b, BLOCK_CODECS, lo, hi)
        digest = pts.agg(
            F.count(F.lit(1)), F.sum("n_turns"), F.sum("sum_chars"),
            F.sum(_ms("ts")),
        )
    else:
        df = slice_time(tier("minute"), "bucket", lo, hi)
        if q.conv is not None:
            df = df.filter(F.col("conv_id") == q.conv)
        m4 = m4_downsample(df, "conv_id", "bucket", "n_turns", q.m4_width_min(), "minute")
        digest = m4.agg(
            F.count(F.lit(1)),
            F.sum((F.col("v_first") + F.col("v_last") + F.col("v_min") + F.col("v_max")).cast("long")),
            F.sum(_ms("t_first") + _ms("t_last")),
            F.sum(_ms("t_min") + _ms("t_max")),
        )
    return tuple(int(v or 0) for v in digest.collect()[0])


class Oracle:
    """Answers every query from the raw turns, without Spark.

    ``answer`` returns ``(digest, rows_read, turns_covered)``: the digest
    ``run_query`` must return, how many tier points the query's window
    holds, and how many input turns those points summarize.
    """

    def __init__(self, turns: pd.DataFrame):
        t = pd.DataFrame({
            "conv_id": turns["conv_id"].to_numpy(),
            "ts_ms": turns["ts_ms"].to_numpy(),
            "len": turns["text"].str.len().to_numpy(),
        })
        self.minute = self._tier(t, MINUTE_MS)
        self.hour = self._tier(t, HOUR_MS)

    @staticmethod
    def _tier(t: pd.DataFrame, width: int) -> pd.DataFrame:
        g = (
            t.assign(bucket=t["ts_ms"] - t["ts_ms"] % width)
            .groupby(["conv_id", "bucket"], sort=True)
            .agg(n_turns=("len", "size"), sum_chars=("len", "sum"))
            .reset_index()
        )
        return g.sort_values(["bucket", "conv_id"], kind="stable").reset_index(drop=True)

    @staticmethod
    def _window(tier: pd.DataFrame, q: Query) -> pd.DataFrame:
        b = tier["bucket"].to_numpy()
        i, j = np.searchsorted(b, q.lo_ms, "left"), np.searchsorted(b, q.hi_ms, "right")
        w = tier.iloc[i:j]
        return w if q.conv is None else w[w["conv_id"] == q.conv]

    def answer(self, q: Query) -> tuple[tuple[int, ...], int, int]:
        if q.kind == "tier_slice":
            w = self._window(self.hour, q)
            d = (len(w), int(w["n_turns"].sum()), int(w["sum_chars"].sum()), int(w["bucket"].sum()))
            return d, len(w), int(w["n_turns"].sum())
        w = self._window(self.minute, q)
        if q.kind == "block_slice":
            d = (len(w), int(w["n_turns"].sum()), int(w["sum_chars"].sum()), int(w["bucket"].sum()))
            return d, len(w), int(w["n_turns"].sum())
        width = q.m4_width_min() * MINUTE_MS
        p = w.assign(pix=w["bucket"] - w["bucket"] % width)
        by_t = p.sort_values(["conv_id", "pix", "bucket"], kind="stable").groupby(["conv_id", "pix"])
        by_v = p.sort_values(["conv_id", "pix", "n_turns", "bucket"], kind="stable").groupby(["conv_id", "pix"])
        first, last = by_t.head(1), by_t.tail(1)
        vmin, vmax = by_v.head(1), by_v.tail(1)
        d = (
            len(first),
            int(first["n_turns"].sum() + last["n_turns"].sum() + vmin["n_turns"].sum() + vmax["n_turns"].sum()),
            int(first["bucket"].sum() + last["bucket"].sum()),
            int(vmin["bucket"].sum() + vmax["bucket"].sum()),
        )
        return d, len(w), int(w["n_turns"].sum())
