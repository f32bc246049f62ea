"""Incrementally-maintained tiered continuous aggregates with retention.

North-star surface (SURVEY.md §2.4): continuous aggregates per Iceberg
snapshot, tier-based retention expiry, checkpoint manifest with
per-partition lineage / row counts / compression ratios, resumable runs.

Design (scale-first):

- **State is stored in PARTIAL form** (mergeable: count/sum/min/max,
  first/last as order-structs, avg as sum+count — operators/rollup.py), so
  an increment merges exactly without re-reading history. The finalized
  user view is a projection (`read_tier`).
- **Dirty-partition rewrite, never full rewrite.** Tier state is
  partitioned by ``p_date``, the UTC date of ``bucket``. An increment
  touches only the (conv_id, bucket) groups it contains; only the p_date
  partitions holding those buckets are read back, merged, STAGED to a side
  directory, and committed by per-partition renames (stage-and-swap). The
  staged output is the absolute new partition content, so replaying the
  commit after a crash is idempotent — an increment can never merge into
  live state twice. At 10^12 turns with a 30-day hot window, a daily
  increment rewrites ~1/365th of each tier, not the tier. (On real
  Iceberg, stage-and-swap becomes the table format's atomic metadata
  commit.)
- **One scan for all tiers.** The increment is partially aggregated once at
  the finest tier; coarser tiers re-merge those partials (sums of sums) —
  the same operators/rollup.cascade_partials that rollup_cascade
  finalizes. The run's ``rows_in`` is observed (``DataFrame.observe``) on
  that same scan as it fills the cached finest partial, so the increment is
  read once; an increment whose finest partial covers no day completes as
  a zero-row run.
- **A full run is a refresh.** ``scripts/run_pipeline.py full`` clears the
  store's tiers and the manifest, then runs one refresh over a
  one-snapshot :class:`~tablecloth_time_spark.plans.snapshots.FrameSource`:
  the same stage / commit / block encode, the same manifest and resume.
- **Checkpoint manifest + resume.** Every refresh appends a run record
  keyed by its snapshot range; each tier commit is recorded with row counts
  and dirty partitions AFTER its write lands. A crashed run resumes by
  skipping tiers its manifest already marks completed — re-merging a
  completed tier would double-count, so completion tracking is what makes
  refresh idempotent.
- **Retention expiry = partition drop.** Expiring a tier below a horizon
  deletes whole p_date partition directories (the Iceberg analogue is a
  metadata-only partition drop), recorded in the manifest.

The source is anything with ``current_snapshot_id()`` and
``read_incremental(after, until)``: a :class:`~tablecloth_time_spark.plans.
snapshots.SnapshotTable` (the Iceberg stand-in) or a ``FrameSource``; swap
in a real Iceberg table by implementing the same two methods over
``option("start-snapshot-id", ...)`` reads.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.compress import compress_series
from tablecloth_time_spark.operators.rollup import (
    _bucket_width_ms,
    cascade_partials,
    finalize_partials,
    merge_partials,
)
from tablecloth_time_spark.plans.snapshots import FrameSource, SnapshotTable
from tablecloth_time_spark.plans.tier_store import (
    P_DATE,
    ParquetTierStore,
    TierStore,
    partition_date,
)

BUCKET = "bucket"


def _days(partial: DataFrame) -> list[str]:
    """The ``p_date`` days a tier partial covers: its dirty partitions."""
    return [r[0] for r in partial.select(partition_date(BUCKET)).distinct().collect()]


def manifest_path(root: str) -> str:
    """Canonical location of a continuous aggregate's checkpoint manifest
    under its root dir — the single owner of the filename convention
    (run_pipeline.py's SparkSession-free status mode reads it too)."""
    return os.path.join(root, "manifest.json")


@dataclass(frozen=True)
class TierSpec:
    name: str
    interval: int
    unit: str
    retention_days: int | None = None  # None = keep forever


DEFAULT_TIERS = (
    TierSpec("second", 1, "second", retention_days=7),
    TierSpec("minute", 1, "minute", retention_days=90),
    TierSpec("hour", 1, "hour", retention_days=365),
    TierSpec("day", 1, "day", retention_days=None),
)


@dataclass
class CompressSpec:
    """Recompress one tier's dirty partitions into binary blocks."""

    tier: str
    value_cols: dict[str, str] = field(default_factory=dict)  # col -> codec


class ContinuousAggregate:
    def __init__(
        self,
        spark: SparkSession,
        source: SnapshotTable | FrameSource,
        root: str,
        keys: list[str],
        ts_col: str,
        aggs: dict[str, tuple[str, str]],
        tiers: tuple[TierSpec, ...] = DEFAULT_TIERS,
        order_cols: list[str] | None = None,
        compress: CompressSpec | None = None,
        prepare=None,
        store: TierStore | None = None,
    ):
        self.spark = spark
        self.source = source
        self.root = root
        self.keys = keys
        self.ts_col = ts_col
        self.aggs = aggs
        self.tiers = tuple(
            sorted(tiers, key=lambda t: _bucket_width_ms(t.interval, t.unit))
        )
        self.order_cols = order_cols or [ts_col]
        self.compress = compress
        # optional DataFrame -> DataFrame hook applied to every increment
        # before aggregation (derive columns the aggs need, e.g. text_len)
        self.prepare = prepare
        # ALL tier-state storage goes through the store (the Iceberg seam,
        # plans/tier_store.py); the engine itself never touches paths —
        # `root` is only the home of the checkpoint manifest.
        self.store: TierStore = store or ParquetTierStore(spark, root)
        os.makedirs(root, exist_ok=True)

    # -- manifest -----------------------------------------------------------

    def _manifest_path(self) -> str:
        return manifest_path(self.root)

    def manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"last_snapshot": None, "runs": []}
        with open(p) as f:
            return json.load(f)

    def _commit_manifest(self, m: dict) -> None:
        tmp = self._manifest_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path())

    # -- refresh ------------------------------------------------------------

    def refresh(self, fail_after_tier: str | None = None) -> dict:
        """Fold all unprocessed source snapshots into every tier.

        Returns the run record. ``fail_after_tier`` injects a crash after
        that tier's commit (resume tests only).
        """
        m = self.manifest()
        last = m["last_snapshot"]
        current = self.source.current_snapshot_id()

        # resume safety: an incomplete run pins its snapshot range. Some of
        # its tiers may already hold the (last, its_to] increment, so a
        # wider range (new snapshots arrived since the crash) would
        # double-merge them. Finish the pinned range first; the caller's
        # next refresh() picks up from there.
        pinned = next(
            (
                r
                for r in m["runs"]
                if r["status"] not in ("completed",)
                and r.get("from_snapshot") == last
            ),
            None,
        )
        if pinned is not None:
            current = pinned["to_snapshot"]

        if current is None or current == last:
            return {"run_id": None, "status": "noop", "tiers": {}}
        run_id = f"{last}-{current}"

        run = pinned if pinned is not None else next(
            (r for r in m["runs"] if r["run_id"] == run_id and r["status"] != "completed"),
            None,
        )
        if run is None:
            run = {
                "run_id": run_id,
                "from_snapshot": last,
                "to_snapshot": current,
                "status": "running",
                "tiers": {},
                "compression": None,
            }
            m["runs"].append(run)
            self._commit_manifest(m)

        inc = self.source.read_incremental(last, current)
        if inc is None:
            return self._complete(m, run, current, 0)
        if self.prepare is not None:
            inc = self.prepare(inc)
        # the increment's rows are counted as the cascade caches its finest
        # partial, not by a scan of their own
        seen = Observation()
        partials = cascade_partials(
            inc.observe(seen, F.count(F.lit(1)).alias("rows")),
            self.keys, self.ts_col, self.aggs,
            {t.name: (t.interval, t.unit) for t in self.tiers}, self.order_cols,
        )
        finest = self.tiers[0].name
        try:
            # the first action over the cache: it fills the cache and `seen`
            finest_days = _days(partials[finest])
            if not finest_days:
                # a zero-row increment (appended snapshots that carried no
                # rows) is an operational no-op, not an error. `seen` is not
                # read: over an empty input it is never filled.
                return self._complete(m, run, current, 0)
            for tier in self.tiers:
                info = run["tiers"].get(tier.name, {})
                if info.get("status") == "completed":
                    continue  # resume: this tier's merge already landed
                if info.get("status") == "staged":
                    # resume mid-commit: the staged output is the FULL new
                    # content of the dirty partitions (not a delta), so
                    # replaying the swap is idempotent — no double count
                    self.store.commit(tier.name, info)
                    info["status"] = "completed"
                    self._commit_manifest(m)
                    continue
                partial = partials[tier.name]
                dirty = finest_days if tier.name == finest else _days(partial)
                info = self._stage_tier(tier, partial, dirty, run_id)
                info["status"] = "staged"
                run["tiers"][tier.name] = info
                self._commit_manifest(m)
                if fail_after_tier == f"stage:{tier.name}":
                    raise RuntimeError(
                        f"injected failure after staging tier {tier.name}"
                    )
                self.store.commit(tier.name, info)
                info["status"] = "completed"
                self._commit_manifest(m)
                if fail_after_tier == tier.name:
                    raise RuntimeError(f"injected failure after tier {tier.name}")

            if self.compress is not None and run.get("compression") is None:
                run["compression"] = self._refresh_blocks(run)
                self._commit_manifest(m)
        finally:
            # the refresh owns the cascade's cache, whatever ends it
            partials[finest].unpersist()
        return self._complete(m, run, current, int(seen.get["rows"]))

    def _complete(self, m: dict, run: dict, current, rows_in: int) -> dict:
        """Mark ``run`` completed with ``rows_in`` and advance the cursor."""
        run["status"] = "completed"
        run["rows_in"] = rows_in
        m["last_snapshot"] = current
        self._commit_manifest(m)
        return run

    def _stage_tier(
        self, tier: TierSpec, tier_partial: DataFrame, dirty: list[str], run_id: str
    ) -> dict:
        """Compute the FULL new content of every dirty partition and hand
        it to the store's stage. Staging (expensive, recomputable) is
        separated from the commit (store.commit: cheap, idempotent atomic
        swap) so a crash at any point either recomputes the stage or
        replays the swap — the increment can never be merged into live
        state twice."""
        new_partial = tier_partial.withColumn(P_DATE, partition_date(BUCKET))
        if self.store.tier_exists(tier.name):
            old = self.store.read_state(tier.name).filter(
                F.col(P_DATE).isin(dirty)
            )
            merged = merge_partials(
                old.drop(P_DATE).unionByName(new_partial.drop(P_DATE)),
                self.keys,
                self.aggs,
            ).withColumn(P_DATE, partition_date(BUCKET))
        else:
            merged = new_partial
        return self.store.stage(tier.name, merged, dirty, run_id)

    def _refresh_blocks(self, run: dict) -> dict:
        """Encode the compress tier's dirty partitions into day blocks,
        write them through ``store.write_blocks`` and return the manifest's
        compression record.

        The encoder runs once: the record is observed on the frame the store
        writes (``DataFrame.observe``), not computed by a second action."""
        spec = self.compress
        dirty = run["tiers"][spec.tier]["dirty_partitions"]
        state = self.store.read_state(spec.tier).filter(F.col(P_DATE).isin(dirty))
        obs = Observation()
        blocks = (
            compress_series(
                finalize_partials(state, self.keys, self.aggs), ts_col=BUCKET,
                value_cols=spec.value_cols, key_col=self.keys[0], block_unit="day",
            )
            .withColumn(P_DATE, partition_date("block_start"))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n_blocks"),
                F.sum("raw_bytes").alias("raw"),
                F.sum("enc_bytes").alias("enc"),
            )
        )
        self.store.write_blocks(spec.tier, blocks)
        stats = obs.get
        raw, enc = int(stats["raw"] or 0), int(stats["enc"] or 0)
        return {
            "tier": spec.tier,
            "dirty_partitions": dirty,
            "n_blocks": int(stats["n_blocks"]),
            "raw_bytes": raw,
            "enc_bytes": enc,
            "compression_ratio": round(raw / enc, 3) if enc else None,
        }

    # -- reads --------------------------------------------------------------

    def read_tier(self, tier: str) -> DataFrame:
        return finalize_partials(
            self.store.read_state(tier), self.keys, self.aggs
        )

    def read_blocks(self, tier: str) -> DataFrame:
        return self.store.read_blocks(tier)

    # -- retention ----------------------------------------------------------

    def expire(self, as_of: str) -> dict:
        """Drop tier partitions older than each tier's retention horizon.

        ``as_of`` is an ISO date; a tier with retention_days=R keeps
        p_date >= as_of - R days. The store's drop_partitions is
        metadata-only work (Iceberg: ALTER TABLE ... DROP PARTITION) —
        no data rewrite, O(expired partitions) ops.
        """
        import datetime as dt

        as_of_d = dt.date.fromisoformat(as_of)
        expired: dict[str, list[str]] = {}
        for tier in self.tiers:
            if tier.retention_days is None or not self.store.tier_exists(tier.name):
                continue
            horizon = (as_of_d - dt.timedelta(days=tier.retention_days)).isoformat()
            dropped = [
                d for d in self.store.list_partitions(tier.name) if d < horizon
            ]
            if dropped:
                self.store.drop_partitions(tier.name, dropped)
                expired[tier.name] = dropped
        m = self.manifest()
        m["runs"].append(
            {"run_id": f"expire-{as_of}", "status": "completed", "expired": expired}
        )
        self._commit_manifest(m)
        return expired
