"""Snapshot-versioned parquet table — the offline stand-in for Iceberg.

The north star calls for "continuous aggregates maintained incrementally per
Iceberg snapshot". No Iceberg runtime jar ships in this sandbox (SURVEY.md
§7), so this module provides the SAME interface shape Iceberg gives us —
append-only data files + a snapshot log with ids, and an incremental read
between two snapshot ids — over plain parquet plus a JSON log. Every
consumer (plans/continuous.py) talks only to this interface, so swapping in
real Iceberg is: ``spark.table(...)`` + ``option("start-snapshot-id", ...)``
behind the same three methods.

Layout under ``root``:
    data/snap-<id>/part-*.parquet     files added by snapshot <id>
    snapshots.json                    [{"id": 1, "files": [...]}, ...]

Appends are atomic at the log level: data files are fully written before the
log is rewritten (write-temp + rename), mirroring Iceberg's
commit-by-metadata-swap. Reads list files from the log, never the
filesystem, so a torn write is invisible.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- snapshot log -------------------------------------------------------

    def _log_path(self) -> str:
        return os.path.join(self.root, "snapshots.json")

    def snapshots(self) -> list[dict]:
        p = self._log_path()
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    def current_snapshot_id(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1]["id"] if snaps else None

    def _commit(self, snaps: list[dict]) -> None:
        tmp = self._log_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(snaps, f, indent=1)
        os.replace(tmp, self._log_path())

    # -- write / read -------------------------------------------------------

    def append(self, df: DataFrame) -> int:
        """Append rows as a new snapshot; returns the new snapshot id."""
        snaps = self.snapshots()
        new_id = (snaps[-1]["id"] + 1) if snaps else 1
        out_dir = os.path.join(self.root, "data", f"snap-{new_id}")
        # overwrite, not errorifexists: a crash between a previous write and
        # its log commit leaves an orphan snap-<id> dir the log never
        # references; clobbering it is safe and un-wedges append forever
        df.write.mode("overwrite").parquet(out_dir)
        files = sorted(
            os.path.join(out_dir, f)
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        )
        snaps.append({"id": new_id, "files": files})
        self._commit(snaps)
        return new_id

    def _files_between(
        self, after: int | None, until: int | None
    ) -> list[str]:
        files: list[str] = []
        for s in self.snapshots():
            if after is not None and s["id"] <= after:
                continue
            if until is not None and s["id"] > until:
                continue
            files.extend(s["files"])
        return files

    def read(self, until_snapshot: int | None = None) -> DataFrame:
        """Full table as of a snapshot (time travel); latest by default."""
        files = self._files_between(None, until_snapshot)
        if not files:
            raise ValueError(f"snapshot table at {self.root} is empty")
        return self.spark.read.parquet(*files)

    def read_incremental(
        self, after_snapshot: int | None, until_snapshot: int | None = None
    ) -> DataFrame | None:
        """Rows appended in snapshots (after, until] — the Iceberg
        incremental scan. None if the range is empty."""
        files = self._files_between(after_snapshot, until_snapshot)
        if not files:
            return None
        return self.spark.read.parquet(*files)


class FrameSource:
    """A one-snapshot source with ``SnapshotTable``'s read shape: snapshot
    1 holds ``df``. ``FrameSource(None)`` has no snapshot and touches no
    files, for a run that never reads its source (retention expiry).

    A full run (``scripts/run_pipeline.py full``) is one refresh over this
    source into an empty store."""

    def __init__(self, df: DataFrame | None):
        self.df = df

    def current_snapshot_id(self) -> int | None:
        return None if self.df is None else 1

    def read_incremental(
        self, after_snapshot: int | None, until_snapshot: int | None = None
    ) -> DataFrame | None:
        return self.df if after_snapshot is None else None
