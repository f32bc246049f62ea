"""The three workloads. Each drives the engine's public functions from
outside, one closed-loop client, one op at a time.

- ``Backfill``: one op is the north-rule job of ``scripts/run_pipeline.py
  full``: ``rollup_cascade`` over a fixed transcripts table, every tier
  written in the tier layout, the minute tier compressed and its blocks
  written.
- ``Ingest``: one op appends the next day's snapshot to a
  ``SnapshotTable`` and refreshes a ``ContinuousAggregate`` over it, with
  ``expire()`` on every other snapshot.
- ``Dashboard``: one op is one read-only query from a seeded mix over the
  store that ingest's setup builds.

A workload's ``op`` is the timed region. Untimed, ``after_op`` checks the
op's output and takes exact byte and row counts, and ``cleanup`` undoes
what the op left behind, so the next op starts from the same state.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from scripts.run_pipeline import DEFAULT_AGGS, TIER_UNITS
from tablecloth_time_spark.operators.compress import compress_series, decode_ints_dod
from tablecloth_time_spark.operators.rollup import rollup_cascade
from tablecloth_time_spark.plans.continuous import (
    DEFAULT_TIERS,
    CompressSpec,
    ContinuousAggregate,
)
from tablecloth_time_spark.plans.snapshots import SnapshotTable
from tablecloth_time_spark.plans.tier_store import ParquetTierStore
from tablecloth_time_spark.sources.transcripts import (
    TRANSCRIPTS_SCHEMA,
    generate_transcripts_pandas,
)

from queries import BLOCK_CODECS, DAY_MS, QUERY_LAYER, Oracle, make_queries, run_query
from tracing import TracingTierStore, tree_bytes, tree_files

KEYS = ["conv_id"]
ORDER = ["ts", "turn_idx"]
TIERS = ("second", "minute", "hour", "day")
TIER_LAYOUT_PARTITIONS = 64  # run_pipeline.py full writes every tier this way


def make_turns(n_conv: int, seed: int) -> pd.DataFrame:
    """Seeded transcripts with the generator's default 1% mega-threads and
    2% duplicate timestamps, plus an epoch-millis column for the oracles."""
    pdf = generate_transcripts_pandas(n_conv=n_conv, seed=seed)
    return pdf.assign(ts_ms=epoch_ms(pdf["ts"]))


def to_spark(spark, turns: pd.DataFrame):
    return spark.createDataFrame(
        turns.drop(columns=["ts_ms"]), schema=TRANSCRIPTS_SCHEMA
    )


INPUT_FILES = 4


def write_input(turns: pd.DataFrame, path: str) -> None:
    """The fixed transcripts table backfill reads: Parquet files written
    with pyarrow, with UTC-adjusted timestamps so Spark reads ``ts`` as
    TIMESTAMP, the schema ``to_spark`` gives."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(
        turns.drop(columns=["ts_ms"]),
        schema=pa.schema([
            ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
            ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
        ]),
        preserve_index=False,
    )
    step = -(-len(table) // INPUT_FILES)
    for k in range(INPUT_FILES):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k}.parquet"))


def epoch_ms(ts: pd.Series) -> np.ndarray:
    """Timestamps of any unit, naive UTC or tz-aware, as epoch millis."""
    return ((ts - pd.Timestamp(0, tz=ts.dt.tz)) // pd.Timedelta(milliseconds=1)).to_numpy()


def with_text_len(df):
    return df.withColumn("text_len", F.length("text").cast("long"))


def tier_counts_duckdb(turns: pd.DataFrame) -> dict[str, int]:
    """Distinct (conv_id, bucket) per tier over the raw turns."""
    con = duckdb.connect()
    con.register("turns", turns[["conv_id", "ts_ms"]])
    out = {}
    for tier in TIERS:
        width = {"second": 1000, "minute": 60_000, "hour": 3_600_000, "day": DAY_MS}[tier]
        out[tier] = con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT conv_id, ts_ms - ts_ms % {width} FROM turns)"
        ).fetchone()[0]
    con.close()
    return out


def parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in tree_files(path))


def blocks_decode_to_tier(blocks_dir: str, minute: pd.DataFrame, rng, n: int) -> bool:
    """A seeded sample of blocks decodes to exactly the minute tier's points
    for that (conversation, day)."""
    b = pq.read_table(blocks_dir, columns=[
        "conv_id", "block_start", "ts_block", "n_turns_block", "sum_chars_block",
    ]).to_pandas()
    start_ms = epoch_ms(b["block_start"])
    groups = minute.groupby("conv_id")
    for i in rng.choice(len(b), size=min(n, len(b)), replace=False):
        conv, lo = b["conv_id"].iat[i], int(start_ms[i])
        g = groups.get_group(conv)
        want = g[(g["ts_ms"] >= lo) & (g["ts_ms"] < lo + DAY_MS)].sort_values("ts_ms")
        got_ts = decode_ints_dod(bytes(b["ts_block"].iat[i]))
        if not (
            np.array_equal(got_ts, want["ts_ms"].to_numpy())
            and np.array_equal(decode_ints_dod(bytes(b["n_turns_block"].iat[i])), want["n_turns"].to_numpy())
            and np.array_equal(decode_ints_dod(bytes(b["sum_chars_block"].iat[i])), want["sum_chars"].to_numpy())
        ):
            return False
    return True


class Workload:
    """Shared plumbing. Subclasses define setup, op and after_op."""

    warmup_ops = 1
    round_ops = 1  # the timed loop stops only after a multiple of this

    def __init__(self, spark, work: str, seed: int, tracer, counters, size: dict):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.counters = counters  # SparkCounters when traced, else None
        self.size = size
        self.setup_ok = True
        self.rng = np.random.default_rng(seed)
        # exact byte / row counts, taken once at a fixed op index
        self.tier_points = 0
        self.tier_bytes = 0
        self.block_points = 0
        self.block_bytes = 0
        # per timed op: points written or read, turns folded or covered
        self.points: list[int] = []
        self.turns_done: list[int] = []
        self.kinds: list[str] = []  # query type per timed op (dashboard)
        self.tier_bytes_by_op: list[int] = []  # tier layout bytes (backfill)

    def reset(self) -> None:
        """Untimed, between ops: drop cached data and collect garbage, so no
        op inherits another's cache or heap."""
        self.spark.catalog.clearCache()
        self.spark._jvm.java.lang.System.gc()

    def max_ops(self) -> int:
        """Ops the inputs allow, warm-up included."""
        return 1_000_000

    def finish(self) -> int:
        """Untimed checks after the loop; returns how many ops failed."""
        return 0


class Backfill(Workload):
    name = "backfill"
    # two timed ops a run: with one op whenever an op outlasts the run, the
    # median jumped between a single op and the mean of two
    round_ops = 2

    def setup(self, timer) -> dict:
        self.input = os.path.join(self.work, "input")
        self.out = os.path.join(self.work, "out")
        gen_s = []
        for _ in range(3):
            dt_s, self.turns = timer(lambda: make_turns(self.size["n_conv"], self.seed))
            gen_s.append(dt_s)
        build_s, _ = timer(lambda: write_input(self.turns, self.input))
        self.want_counts = tier_counts_duckdb(self.turns)
        self.n_turns = len(self.turns)
        return {"gen_s": gen_s, "build_s": build_s}

    def op(self, i: int) -> None:
        tr = self.tracer
        df = with_text_len(self.spark.read.parquet(self.input))
        with tr.span("rollup.cascade"):
            tiers = rollup_cascade(
                df, KEYS, "ts", DEFAULT_AGGS,
                tiers={t: TIER_UNITS[t] for t in TIERS}, order_cols=ORDER,
            )
        for name, tdf in tiers.items():
            with tr.span(f"rollup.write_{name}"):
                (
                    tdf.repartitionByRange(TIER_LAYOUT_PARTITIONS, "bucket")
                    .sortWithinPartitions("bucket", *KEYS)
                    .write.mode("overwrite")
                    .parquet(os.path.join(self.out, "tiers", name))
                )
        with tr.span("compress.encode_write"):
            compress_series(
                tiers["minute"], ts_col="bucket", value_cols=BLOCK_CODECS,
                key_col=KEYS[0], block_unit="day",
            ).write.mode("overwrite").parquet(os.path.join(self.out, "blocks", "minute"))

    def _minute_tier(self) -> pd.DataFrame:
        m = pq.read_table(
            os.path.join(self.out, "tiers", "minute"),
            columns=["conv_id", "bucket", "n_turns", "sum_chars"],
        ).to_pandas()
        return m.assign(ts_ms=epoch_ms(m["bucket"]))

    def after_op(self, i: int, timed: bool) -> bool:
        tiers_dir = os.path.join(self.out, "tiers")
        blocks_dir = os.path.join(self.out, "blocks", "minute")
        got = {t: parquet_rows(os.path.join(tiers_dir, t)) for t in TIERS}
        ok = got == self.want_counts and blocks_decode_to_tier(
            blocks_dir, self._minute_tier(), np.random.default_rng(self.seed + i), 16
        )
        self.tier_bytes_by_op.append(tree_bytes(tiers_dir))
        if timed:
            self.points.append(sum(got.values()))
            self.turns_done.append(self.n_turns)
            if not self.tier_points:  # first timed op: the fixed op index
                self.tier_points = sum(got.values())
                self.tier_bytes = self.tier_bytes_by_op[-1]
                self.block_points = got["minute"]
                self.block_bytes = tree_bytes(blocks_dir)
            if self.counters is not None:
                enc = pq.read_table(blocks_dir, columns=["enc_bytes"]).column("enc_bytes")
                self.counters.note(
                    i, tier_points=sum(got.values()), compress_points_in=got["minute"],
                    enc_bytes=int(enc.to_numpy().sum()),
                    cached_bytes=self.counters.cached_bytes(),
                )
        return ok

    def cleanup(self, i: int) -> None:
        self.reset()
        shutil.rmtree(self.out, ignore_errors=True)


class Ingest(Workload):
    name = "ingest"
    EXPIRE_EVERY = 2
    LATE_FRAC = 0.03

    def _prepare(self, timer) -> list[float]:
        """Generate the turns and cut them into a history and the next
        days' snapshots; open the source table and the aggregate. Dashboard
        builds its store with this same code."""
        gen_s = []
        for _ in range(3):
            dt_s, turns = timer(lambda: make_turns(self.size["n_conv"], self.seed))
            gen_s.append(dt_s)
        rng = np.random.default_rng(self.seed + 1)
        day = turns["ts_ms"].to_numpy() // DAY_MS
        late = rng.random(len(turns)) < self.LATE_FRAC
        arrival = day + np.where(late, rng.integers(1, 4, len(turns)), 0)
        d0 = int(day.min()) + self.size["history_days"]
        self.first_day = d0
        self.history = turns[arrival < d0].reset_index(drop=True)
        self.snaps = [
            turns[arrival == d0 + k].reset_index(drop=True)
            for k in range(self.size["snapshots"])
        ]
        if any(len(s) == 0 for s in self.snaps):
            raise ValueError("an ingest snapshot is empty; lower 'snapshots' or 'history_days'")
        self.src = SnapshotTable(self.spark, os.path.join(self.work, "src"))
        self.root = os.path.join(self.work, "cagg")
        store = ParquetTierStore(self.spark, self.root)
        if self.tracer.enabled:
            store = TracingTierStore(store, self.tracer)
        self.store = store
        self.ca = ContinuousAggregate(
            self.spark, self.src, self.root, KEYS, "ts", DEFAULT_AGGS,
            order_cols=ORDER,
            compress=CompressSpec("minute", dict(BLOCK_CODECS)),
            prepare=with_text_len,
            store=store,
        )
        self.appended: list[pd.DataFrame] = []
        self.expired_as_of = None
        return gen_s

    def _ingest(self, rows: pd.DataFrame, expire_day: int | None) -> None:
        """Append one snapshot, refresh, and expire as of ``expire_day``."""
        tr = self.tracer
        with tr.span("snapshots.append", rows=len(rows)):
            self.src.append(to_spark(self.spark, rows))
        with tr.span("continuous.refresh"):
            self.last_run = self.ca.refresh()
        self.last_expired = None
        if expire_day is not None:
            self.expired_as_of = expire_day
            with tr.span("continuous.expire"):
                self.last_expired = self.ca.expire(self._day(expire_day))

    def _check_ingest(self, i: int, rows: pd.DataFrame) -> bool:
        """The refresh folded in exactly the appended rows; when traced,
        note what this op wrote."""
        self.appended.append(rows)
        run = self.last_run
        if self.counters is not None:
            snap_dir = os.path.join(self.src.root, "data", f"snap-{self.src.current_snapshot_id()}")
            self.counters.note(
                i,
                **self.store.take(),
                compress_points_in=run["tiers"]["minute"]["rows_out"],
                enc_bytes=run["compression"]["enc_bytes"],
                snapshot_bytes=tree_bytes(snap_dir),
                snapshot_files=len(tree_files(snap_dir)),
                manifest_bytes=os.path.getsize(os.path.join(self.root, "manifest.json")),
                partitions_dropped=sum(len(v) for v in (self.last_expired or {}).values()),
            )
        return run.get("status") == "completed" and run.get("rows_in") == len(rows)

    def setup(self, timer) -> dict:
        gen_s = self._prepare(timer)
        build_s, _ = timer(lambda: self._ingest(self.history, None))
        self.setup_ok = self._check_ingest(-1, self.history)
        return {"gen_s": gen_s, "build_s": build_s}

    def op(self, i: int) -> None:
        expire = self.first_day + i if i % self.EXPIRE_EVERY == 0 else None
        self._ingest(self.snaps[i], expire)

    def max_ops(self) -> int:
        return len(self.snaps)

    @staticmethod
    def _day(d: int) -> str:
        return (pd.Timestamp(0) + pd.Timedelta(days=d)).date().isoformat()

    def _measure_store(self) -> None:
        """Exact points and Parquet bytes of the whole store."""
        self.tier_points = parquet_rows(os.path.join(self.root, "tiers"))
        self.tier_bytes = tree_bytes(os.path.join(self.root, "tiers"))
        b = pq.read_table(os.path.join(self.root, "blocks", "minute"), columns=["n_points"])
        self.block_points = int(b.column("n_points").to_numpy().sum())
        self.blocks_total = b.num_rows
        self.block_bytes = tree_bytes(os.path.join(self.root, "blocks"))

    def after_op(self, i: int, timed: bool) -> bool:
        ok = self._check_ingest(i, self.snaps[i])
        if timed:
            run = self.last_run
            self.points.append(sum(t["rows_out"] for t in run["tiers"].values()))
            self.turns_done.append(len(self.snaps[i]))
            if not self.tier_points:  # first timed op: the fixed op index
                self._measure_store()
        return ok

    def cleanup(self, i: int) -> None:
        self.reset()

    def finish(self) -> int:
        """Every tier equals a one-shot ``rollup_cascade`` of all appended
        rows, less the partitions retention has expired."""
        all_rows = pd.concat(self.appended, ignore_index=True)
        want = rollup_cascade(
            with_text_len(to_spark(self.spark, all_rows)), KEYS, "ts", DEFAULT_AGGS,
            tiers={t: TIER_UNITS[t] for t in TIERS}, order_cols=ORDER,
        )
        bad = 0
        for spec in DEFAULT_TIERS:
            exp = want[spec.name]
            if self.expired_as_of is not None and spec.retention_days is not None:
                horizon = self._day(self.expired_as_of - spec.retention_days)
                exp = exp.filter(F.date_format("bucket", "yyyy-MM-dd") >= F.lit(horizon))
            bad += _digest(exp) != _digest(self.ca.read_tier(spec.name))
        self.spark.catalog.clearCache()
        return bad


def _digest(df) -> tuple:
    h = F.xxhash64(*df.columns)
    return tuple(df.agg(
        F.count(F.lit(1)), F.bit_xor(h), F.sum(F.pmod(h, F.lit(2_147_483_647)))
    ).collect()[0])


class Dashboard(Ingest):
    name = "dashboard"
    round_ops = 6  # the query mix repeats every six; time whole rounds

    @property
    def warmup_ops(self) -> int:
        # whole rounds, so every query type warms up alike (NOTES.md,
        # Steadiness)
        return self.round_ops * self.size["warmup_rounds"]

    def setup(self, timer) -> dict:
        gen_s = self._prepare(timer)
        # the history build is ingest's setup plus retention as of its last
        # day; traced, it is the op where this workload measures the ingest
        # layers (snapshots, continuous, tier_store writes)
        with self.tracer.span("op", i=0, setup=True):
            build_s, _ = timer(lambda: self._ingest(self.history, self.first_day))
        self.setup_ok = self._check_ingest(0, self.history)
        self.oracle = Oracle(self.history)
        self.queries = make_queries(self.rng, self.history, self.size["queries"] + self.warmup_ops)
        self._measure_store()
        return {"gen_s": gen_s, "build_s": build_s}

    def max_ops(self) -> int:
        return len(self.queries)

    def op(self, i: int) -> None:
        q = self.queries[i]
        with self.tracer.span(f"{QUERY_LAYER[q.kind]}.{q.kind}"):
            self.answer = run_query(q, self.ca.read_tier, lambda: self.ca.read_blocks("minute"))

    def after_op(self, i: int, timed: bool) -> bool:
        q = self.queries[i]
        want, rows, turns = self.oracle.answer(q)
        if timed:
            self.kinds.append(q.kind)
            self.points.append(rows)
            self.turns_done.append(turns)
            if self.counters is not None:
                self.counters.note(
                    i, **self.store.take(), kind=q.kind, rows_returned=rows,
                    result=list(self.answer),
                )
        return self.answer == want

    def cleanup(self, i: int) -> None:
        self.spark.catalog.clearCache()

    def finish(self) -> int:
        return 0  # read-only: after_op checked every answer


WORKLOADS = {w.name: w for w in (Backfill, Ingest, Dashboard)}
