"""spark-submit entry point for the rollup + compression + retention job.

The north-star deployment shape: the engine ships as a zip via
``spark-submit --py-files dist/tablecloth_time_spark.zip`` onto a
multi-executor cluster; this script is the driver program. It never
imports anything outside the stdlib + pyspark + the shipped package.

Modes:
  full         clear the output's tiers and manifest, then fold the whole
               parquet input into them as one refresh (the input is a
               one-snapshot source): the same tier-store layout, manifest
               and resume as incremental, so status and expire work on
               its output
  incremental  fold unprocessed snapshots of a SnapshotTable into
               continuously-maintained tier state (resumable, manifest'd)
  expire       apply tier retention horizons as-of a date
  status       print the checkpoint manifest summary (runs, snapshots,
               per-tier rows, compression ratios) without starting a job

Both refresh modes compress --compress-tier into day blocks; a tier spec
that names a tier outside --tiers exits before any job runs.

Examples:
  spark-submit --py-files dist/tablecloth_time_spark.zip \\
      scripts/run_pipeline.py full \\
      --input /data/transcripts --output /data/tiers \\
      --tiers second,minute,hour,day --compress-tier minute

  spark-submit ... run_pipeline.py incremental \\
      --source-table /data/transcripts_snap --output /data/cagg
"""

from __future__ import annotations

import argparse
import json
import os
import sys


TIER_UNITS = {
    "second": (1, "second"),
    "minute": (1, "minute"),
    "hour": (1, "hour"),
    "day": (1, "day"),
    "week": (1, "week"),
}

DEFAULT_AGGS = {
    "n_turns": ("count", "turn_idx"),
    "sum_chars": ("sum", "text_len"),
    "min_turn": ("min", "turn_idx"),
    "max_turn": ("max", "turn_idx"),
    "first_role": ("first", "role"),
    "last_role": ("last", "role"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description="tablecloth_time_spark pipeline")
    p.add_argument("mode", choices=["full", "incremental", "expire", "status"])
    p.add_argument("--input", help="parquet dir of transcripts (full mode)")
    p.add_argument("--source-table", help="SnapshotTable root (incremental)")
    p.add_argument("--output", required=True, help="tier/aggregate root dir")
    p.add_argument("--tiers", default="second,minute,hour,day")
    p.add_argument("--key", default="conv_id")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--order-cols", default="ts,turn_idx")
    p.add_argument("--compress-tier", default=None)
    p.add_argument(
        "--retention",
        default=None,
        help="per-tier retention days, e.g. 'second=7,minute=90,hour=365' "
        "(tiers not listed are kept forever)",
    )
    p.add_argument("--as-of", default=None, help="expire horizon date")
    p.add_argument("--master", default=None, help="override (tests only)")
    return p.parse_args(argv)


def _parse_retention(spec: str | None, tiers: list[str]) -> dict[str, int]:
    out = {}
    for part in filter(None, (p.strip() for p in (spec or "").split(","))):
        tier, _, days = map(str.strip, part.partition("="))
        if tier not in tiers:
            raise SystemExit(f"--retention {part!r}: {tier!r} is not in --tiers")
        if not days.isdigit():
            raise SystemExit(f"--retention {part!r}: want <tier>=<whole days>")
        out[tier] = int(days)
    return out


def _with_text_len(df):
    """Derive ``text_len`` (an input of ``DEFAULT_AGGS``) from raw ``text``."""
    from pyspark.sql import functions as F

    if "text_len" not in df.columns and "text" in df.columns:
        return df.withColumn("text_len", F.length("text").cast("long"))
    return df


def _aggregate(spark, args):
    """The run's ContinuousAggregate, for every mode that starts Spark.

    ``full`` reads ``--input`` as one snapshot, ``incremental`` the
    snapshots of ``--source-table``; ``expire`` reads no source. A tier
    spec that names a tier outside ``--tiers`` exits naming the entry."""
    from tablecloth_time_spark.plans.continuous import (
        CompressSpec,
        ContinuousAggregate,
        TierSpec,
    )
    from tablecloth_time_spark.plans.snapshots import FrameSource, SnapshotTable

    tiers = [t.strip() for t in args.tiers.split(",") if t.strip()]
    for t in tiers:
        if t not in TIER_UNITS:
            raise SystemExit(f"--tiers: unknown tier {t!r} (known: {','.join(TIER_UNITS)})")
    retention = _parse_retention(args.retention, tiers)
    compress = None
    if args.compress_tier:
        if args.compress_tier not in tiers:
            raise SystemExit(f"--compress-tier {args.compress_tier!r} is not in --tiers")
        compress = CompressSpec(args.compress_tier, {"n_turns": "int", "sum_chars": "int"})
    if args.mode == "full":
        source = FrameSource(spark.read.parquet(args.input))
    elif args.mode == "incremental":
        source = SnapshotTable(spark, args.source_table)
    else:
        source = FrameSource(None)
    return ContinuousAggregate(
        spark, source, args.output, [args.key], args.ts_col, DEFAULT_AGGS,
        tiers=tuple(
            TierSpec(t, *TIER_UNITS[t], retention_days=retention.get(t)) for t in tiers
        ),
        order_cols=[c.strip() for c in args.order_cols.split(",")],
        compress=compress,
        prepare=_with_text_len,
    )


def _clear(ca) -> None:
    """Empty the store's tiers (their blocks go with them) and remove the
    manifest, so the refresh that follows starts from nothing. The manifest
    goes first: a crash part-way leaves no record that claims the tiers."""
    from tablecloth_time_spark.plans.continuous import manifest_path

    if os.path.exists(manifest_path(ca.root)):
        os.remove(manifest_path(ca.root))
    for tier in ca.tiers:
        ca.store.drop_partitions(tier.name, ca.store.list_partitions(tier.name))


def main(argv=None) -> None:
    args = parse_args(argv)

    if args.mode == "status":
        # manifest-only: no SparkSession, safe to run beside a live job
        # (importing the plans module is side-effect-free)
        from tablecloth_time_spark.plans.continuous import manifest_path

        path = manifest_path(args.output)
        if not os.path.exists(path):
            raise SystemExit(f"no manifest at {path}")
        with open(path) as f:
            m = json.load(f)
        runs = m.get("runs", [])
        print(
            json.dumps(
                {
                    "mode": "status",
                    "last_snapshot": m.get("last_snapshot"),
                    "n_runs": len(runs),
                    "incomplete_runs": [
                        r["run_id"] for r in runs
                        if r.get("status") != "completed"
                    ],
                    "runs": [
                        {
                            "run_id": r.get("run_id"),
                            "status": r.get("status"),
                            "snapshots": [
                                r.get("from_snapshot"), r.get("to_snapshot")
                            ],
                            "rows_in": r.get("rows_in"),
                            "tiers": {
                                t: {
                                    "rows_out": i.get("rows_out"),
                                    "dirty_partitions": len(
                                        i.get("dirty_partitions", [])
                                    ),
                                }
                                for t, i in r.get("tiers", {}).items()
                            },
                            "compression": r.get("compression"),
                        }
                        for r in runs
                    ],
                }
            )
        )
        return

    if args.mode == "expire" and not args.as_of:
        raise SystemExit("expire mode requires --as-of YYYY-MM-DD")
    if args.mode == "expire" and not args.retention:
        raise SystemExit(
            "expire mode requires --retention (e.g. 'minute=90,hour=365')"
            " — without it every tier is kept forever and expiry is a noop"
        )

    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    builder = SparkSession.builder.appName("tts-pipeline").config(
        "spark.sql.session.timeZone", "UTC"
    )
    if args.master:
        builder = builder.master(args.master)
    spark = builder.getOrCreate()

    ca = _aggregate(spark, args)
    report: dict = {"mode": args.mode}
    if args.mode == "expire":
        report["expired"] = ca.expire(args.as_of)
    else:
        if args.mode == "full":
            _clear(ca)
        run = ca.refresh()
        rows = {t: info["rows_out"] for t, info in run["tiers"].items()}
        report["run"] = {"run_id": run["run_id"], "status": run["status"], "tiers": rows}
        report["tiers"] = rows
        report["compression"] = run.get("compression")

    print(json.dumps(report))
    if not preexisting:  # don't tear down a host session (in-process tests)
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
