"""Tier-state storage protocol — the Iceberg seam, isolated.

``ContinuousAggregate`` (plans/continuous.py) owns WHAT to compute: the
partial-form merge, dirty-partition math, the checkpoint manifest, resume.
A ``TierStore`` owns WHERE state lives and HOW a commit becomes atomic.
Consumers never touch paths — proven by :class:`MemoryTierStore`, which has
no filesystem at all (tests/test_continuous.py runs the full refresh/resume
suite against it).

The ``p_date`` layout here is the only tier-table layout, and a refresh is
the only writer. A full run (``scripts/run_pipeline.py full``) drops every
partition of its tiers through ``list_partitions`` / ``drop_partitions``,
then runs one refresh into the emptied store, so ``expire`` and ``status``
work on either kind of output.

The protocol is deliberately shaped so a real Iceberg binding is *only*
the table format's native operations, no engine changes:

==================  =========================================================
protocol method      Iceberg binding
==================  =========================================================
``stage``            write the merged partition content to a staging branch
                     / temp table (``CREATE TABLE ... AS`` or a WAP branch)
``commit``           the atomic metadata swap: ``REPLACE PARTITIONS`` /
                     branch fast-forward / ``MERGE INTO`` committed as ONE
                     snapshot — must stay idempotent under replay
``read_state``       ``spark.table(tier_table)``
``tier_exists``      catalog ``tableExists`` + non-empty partition list
``list_partitions``  ``SELECT DISTINCT p_date`` / partitions metadata table
``drop_partitions``  metadata-only ``ALTER TABLE ... DROP PARTITION`` on the
                     tier table AND its blocks table
``write_blocks``     dynamic-overwrite insert into the blocks table
``read_blocks``      ``spark.table(blocks_table)``
==================  =========================================================

Contract details the engine relies on:

- ``stage(tier, merged, dirty, run_id)`` receives the ABSOLUTE new content
  of every dirty partition (not a delta) and returns a JSON-serializable
  info dict containing at least ``dirty_partitions``, ``partition_rows``
  (per-partition row counts — the lineage record), and ``rows_out``. Extra
  keys are the store's private commit token; the engine stores the dict in
  the manifest verbatim and passes it back to ``commit``. A store must
  tolerate ``dirty == []`` (empty merged frame) by returning empty lineage
  without writing — the engine's refresh early-exits on empty increments,
  but direct callers may not.
- ``commit(tier, info)`` must be IDEMPOTENT: replaying it after a crash
  (staged data already swapped in, token gone) must succeed as a no-op.
  Because staged content is absolute, a replayed commit can never
  double-merge.
- ``drop_partitions(tier, partitions)`` must be O(partitions) metadata
  work, never a rewrite. It drops the same ``p_date`` partitions of the
  tier's blocks table too (tier rows and blocks both file under the UTC
  date of ``bucket`` / ``block_start``, see :func:`partition_date`), so a
  retention expiry never leaves the compressed tier serving points its
  tier no longer holds.
- ``write_blocks(tier, blocks)`` must run an action on ``blocks`` before
  it returns: the engine takes the manifest's compression record from
  metrics observed on that run (``ContinuousAggregate._refresh_blocks``),
  and waits for them.
- ``read_state`` / ``read_blocks`` return a frame over the store's state
  as of the call: a commit made since the previous read, by this or any
  other process, shows up on the next one.
"""

from __future__ import annotations

import os
import shutil
from typing import Protocol

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tablecloth_time_spark.functions.timeops import to_epoch_millis

P_DATE = "p_date"


def partition_date(ts: Column | str) -> Column:
    """The ``p_date`` partition string ("yyyy-MM-dd") of a timestamp: its
    UTC date, whatever the session time zone. Tier rows (by ``bucket``)
    and blocks (by ``block_start``) share this one rule, so a UTC-day block
    lands in the same partition as the tier rows it encodes, and a refresh
    that rewrites a dirty tier day rewrites exactly that day's blocks."""
    day = F.floor(to_epoch_millis(ts) / 86_400_000).cast("int")
    return F.date_from_unix_date(day).cast("string")


def _footer_rows(path: str) -> dict[str, int]:
    """{p_date: rows} of a ``p_date``-partitioned Parquet directory, summed
    from its files' footers: no Spark job, no data page read."""
    out = {}
    for entry in os.listdir(path):
        if entry.startswith(f"{P_DATE}="):
            part = os.path.join(path, entry)
            out[entry.split("=", 1)[1]] = sum(
                pq.read_metadata(os.path.join(part, f)).num_rows
                for f in os.listdir(part)
                if f.endswith(".parquet")
            )
    return out


class TierStore(Protocol):
    def tier_exists(self, tier: str) -> bool: ...

    def read_state(self, tier: str) -> DataFrame: ...

    def stage(
        self, tier: str, merged: DataFrame, dirty: list[str], run_id: str
    ) -> dict: ...

    def commit(self, tier: str, info: dict) -> None: ...

    def list_partitions(self, tier: str) -> list[str]: ...

    def drop_partitions(self, tier: str, partitions: list[str]) -> None: ...

    def write_blocks(self, tier: str, blocks: DataFrame) -> None: ...

    def read_blocks(self, tier: str) -> DataFrame: ...


class ParquetTierStore:
    """Partitioned-parquet store: stage to a side directory, commit by
    per-partition ``os.replace`` (the filesystem analogue of Iceberg's
    commit-by-metadata-swap).

    ``stage`` takes its lineage (``partition_rows``) from the footers of
    the files it just wrote: no Spark job runs after the write.

    Each table's schema is inferred once, on its first read, and every later
    read supplies it: inferring it again costs a Spark job that reads
    Parquet footers. The file listing is not cached, so every read sees the
    partitions committed up to that moment."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._schemas: dict[str, StructType] = {}  # table path -> schema

    def _read(self, path: str) -> DataFrame:
        """Read the partitioned table at ``path`` with its cached schema;
        the first read infers that schema and caches it."""
        schema = self._schemas.get(path)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(path)
        df = self.spark.read.parquet(path)
        self._schemas[path] = df.schema
        return df

    def _tier_path(self, tier: str) -> str:
        return os.path.join(self.root, "tiers", tier)

    def _blocks_path(self, tier: str) -> str:
        return os.path.join(self.root, "blocks", tier)

    def tier_exists(self, tier: str) -> bool:
        p = self._tier_path(tier)
        return os.path.exists(p) and any(
            e.startswith(f"{P_DATE}=") for e in os.listdir(p)
        )

    def read_state(self, tier: str) -> DataFrame:
        return self._read(self._tier_path(tier))

    def stage(
        self, tier: str, merged: DataFrame, dirty: list[str], run_id: str
    ) -> dict:
        staged_path = self._tier_path(tier) + f".staging-{run_id}"
        if not dirty:
            # nothing to restate (empty increment): an empty staged dir has
            # no parquet footers to read back, and commit over zero dirty
            # partitions is already a no-op
            return {
                "staged_path": staged_path,
                "dirty_partitions": [],
                "partition_rows": {},
                "rows_out": 0,
            }
        merged.write.mode("overwrite").partitionBy(P_DATE).parquet(staged_path)
        part_counts = _footer_rows(staged_path)
        return {
            "staged_path": staged_path,
            "dirty_partitions": sorted(dirty),
            "partition_rows": part_counts,
            "rows_out": int(sum(part_counts.values())),
        }

    def commit(self, tier: str, info: dict) -> None:
        """Remove + rename per dirty partition. Idempotent — a partition
        whose staged dir is gone and whose live dir exists was already
        swapped."""
        staged = info["staged_path"]
        path = self._tier_path(tier)
        os.makedirs(path, exist_ok=True)
        for d in info["dirty_partitions"]:
            src = os.path.join(staged, f"{P_DATE}={d}")
            dst = os.path.join(path, f"{P_DATE}={d}")
            if os.path.exists(src):
                if os.path.exists(dst):
                    shutil.rmtree(dst)
                os.replace(src, dst)
            elif not os.path.exists(dst):
                raise RuntimeError(
                    f"tier {tier} partition {d}: neither staged nor live "
                    f"data present — staging dir was removed externally"
                )
        shutil.rmtree(staged, ignore_errors=True)

    def list_partitions(self, tier: str) -> list[str]:
        path = self._tier_path(tier)
        if not os.path.exists(path):
            return []
        return sorted(
            e.split("=", 1)[1]
            for e in os.listdir(path)
            if e.startswith(f"{P_DATE}=")
        )

    def drop_partitions(self, tier: str, partitions: list[str]) -> None:
        for path in (self._tier_path(tier), self._blocks_path(tier)):
            for d in partitions:
                shutil.rmtree(os.path.join(path, f"{P_DATE}={d}"), ignore_errors=True)

    def write_blocks(self, tier: str, blocks: DataFrame) -> None:
        (
            blocks.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(P_DATE)
            .parquet(self._blocks_path(tier))
        )

    def read_blocks(self, tier: str) -> DataFrame:
        return self._read(self._blocks_path(tier))


class MemoryTierStore:
    """In-memory store (tests): proves no consumer touches paths.

    State lives as pandas frames keyed by (tier, partition); staging is a
    dict keyed by a run-scoped token. Commit is idempotent the same way
    the parquet store is: a missing token with live partitions present is
    a replay, not an error. Not crash-durable by construction — process
    death loses staged data, which the engine's resume logic treats as
    "re-stage" (status never reached 'staged' in a durable manifest, or
    stage is recomputed)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tiers: dict[str, dict[str, pd.DataFrame]] = {}
        self._staged: dict[str, dict[str, pd.DataFrame]] = {}
        self._blocks: dict[str, dict[str, pd.DataFrame]] = {}

    def tier_exists(self, tier: str) -> bool:
        return bool(self._tiers.get(tier))

    def read_state(self, tier: str) -> DataFrame:
        parts = self._tiers[tier]
        pdf = pd.concat(list(parts.values()), ignore_index=True)
        return self.spark.createDataFrame(pdf)

    def stage(
        self, tier: str, merged: DataFrame, dirty: list[str], run_id: str
    ) -> dict:
        pdf = merged.toPandas()
        token = f"{tier}@{run_id}"
        staged = {d: g.reset_index(drop=True) for d, g in pdf.groupby(P_DATE)}
        self._staged[token] = staged
        part_counts = {d: int(len(g)) for d, g in staged.items()}
        return {
            "staging_token": token,
            "dirty_partitions": sorted(dirty),
            "partition_rows": part_counts,
            "rows_out": int(sum(part_counts.values())),
        }

    def commit(self, tier: str, info: dict) -> None:
        token = info["staging_token"]
        staged = self._staged.pop(token, None)
        live = self._tiers.setdefault(tier, {})
        if staged is None:
            missing = [d for d in info["dirty_partitions"] if d not in live]
            if missing:
                raise RuntimeError(
                    f"tier {tier} partitions {missing}: neither staged nor "
                    "live data present"
                )
            return  # replayed commit — already swapped
        for d, g in staged.items():
            live[d] = g

    def list_partitions(self, tier: str) -> list[str]:
        return sorted(self._tiers.get(tier, {}))

    def drop_partitions(self, tier: str, partitions: list[str]) -> None:
        for live in (self._tiers.get(tier, {}), self._blocks.get(tier, {})):
            for d in partitions:
                live.pop(d, None)

    def write_blocks(self, tier: str, blocks: DataFrame) -> None:
        # dynamic-partition semantics like the parquet store: a refresh
        # writes only the DIRTY partitions' blocks, so untouched p_date
        # partitions must survive (a whole-table replace would drop them)
        pdf = blocks.toPandas()
        store = self._blocks.setdefault(tier, {})
        for d, g in pdf.groupby(P_DATE):
            store[d] = g.reset_index(drop=True)

    def read_blocks(self, tier: str) -> DataFrame:
        parts = self._blocks[tier]
        return self.spark.createDataFrame(
            pd.concat(list(parts.values()), ignore_index=True)
        )
