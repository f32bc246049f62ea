"""spark-submit entry point for the rollup + compression + retention job.

The north-star deployment shape: the engine ships as a zip via
``spark-submit --py-files dist/tablecloth_time_spark.zip`` onto a
multi-executor cluster; this script is the driver program. It never
imports anything outside the stdlib + pyspark + the shipped package.

Modes:
  full         one-shot rollup cascade over a parquet/snapshot input;
               every tier replaced wholesale in the p_date-partitioned
               tier-store layout (plans/tier_store.py) that incremental
               and expire use, optional block compression of one tier
  incremental  fold unprocessed snapshots of a SnapshotTable into
               continuously-maintained tier state (resumable, manifest'd)
  expire       apply tier retention horizons as-of a date
  status       print the checkpoint manifest summary (runs, snapshots,
               per-tier rows, compression ratios) without starting a job

Examples:
  spark-submit --py-files dist/tablecloth_time_spark.zip \\
      scripts/run_pipeline.py full \\
      --input /data/transcripts --output /data/tiers \\
      --tiers second,minute,hour,day --compress-tier minute --salt 16

  spark-submit ... run_pipeline.py incremental \\
      --source-table /data/transcripts_snap --output /data/cagg
"""

from __future__ import annotations

import argparse
import json
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
    p.add_argument("--salt", type=int, default=0)
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


def _parse_retention(spec: str | None) -> dict[str, int]:
    if not spec:
        return {}
    out = {}
    for part in spec.split(","):
        tier, _, days = part.strip().partition("=")
        out[tier] = int(days)
    return out


def main(argv=None) -> None:
    args = parse_args(argv)

    if args.mode == "status":
        # manifest-only: no SparkSession, safe to run beside a live job
        # (importing the plans module is side-effect-free)
        import os

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

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    preexisting = SparkSession.getActiveSession() is not None
    builder = SparkSession.builder.appName("tts-pipeline").config(
        "spark.sql.session.timeZone", "UTC"
    )
    if args.master:
        builder = builder.master(args.master)
    spark = builder.getOrCreate()

    tiers = [t.strip() for t in args.tiers.split(",") if t.strip()]
    order_cols = [c.strip() for c in args.order_cols.split(",")]
    report: dict = {"mode": args.mode, "tiers": {}}

    if args.mode == "full":
        from tablecloth_time_spark.operators.rollup import (
            cascade_partials,
            finalize_partials,
        )
        from tablecloth_time_spark.plans.continuous import compress_tier
        from tablecloth_time_spark.plans.tier_store import (
            P_DATE,
            ParquetTierStore,
            partition_date,
        )

        if args.compress_tier and args.compress_tier not in tiers:
            raise SystemExit(f"--compress-tier {args.compress_tier} is not in --tiers")
        df = spark.read.parquet(args.input)
        if "text_len" not in df.columns and "text" in df.columns:
            df = df.withColumn("text_len", F.length("text").cast("long"))
        partials = cascade_partials(
            df,
            [args.key],
            args.ts_col,
            DEFAULT_AGGS,
            tiers={t: TIER_UNITS[t] for t in tiers},
            order_cols=order_cols,
            salt=args.salt,
        )
        store = ParquetTierStore(spark, args.output)
        try:
            for tier, partial in partials.items():
                final = finalize_partials(
                    partial, [args.key], DEFAULT_AGGS
                ).withColumn(P_DATE, partition_date("bucket"))
                days = [r[0] for r in final.select(P_DATE).distinct().collect()]
                info = store.stage(tier, final, days, "full")
                store.commit(tier, info)
                # a re-run replaces the tier wholesale: drop the days this
                # output does not cover (their blocks go with them)
                store.drop_partitions(
                    tier, sorted(set(store.list_partitions(tier)) - set(days))
                )
                report["tiers"][tier] = info["rows_out"]
                if tier == args.compress_tier:
                    report["compression"] = compress_tier(
                        store, tier, final,
                        {"n_turns": "int", "sum_chars": "int"}, args.key, days,
                    )
        finally:
            next(iter(partials.values())).unpersist()  # the cached finest

    elif args.mode == "incremental":
        from tablecloth_time_spark.plans.continuous import (
            ContinuousAggregate,
            TierSpec,
        )
        from tablecloth_time_spark.plans.snapshots import SnapshotTable

        retention = _parse_retention(args.retention)

        def derive_text_len(df):
            if "text_len" not in df.columns and "text" in df.columns:
                return df.withColumn("text_len", F.length("text").cast("long"))
            return df

        src = SnapshotTable(spark, args.source_table)
        ca = ContinuousAggregate(
            spark, src, args.output, [args.key], args.ts_col, DEFAULT_AGGS,
            tiers=tuple(
                TierSpec(t, *TIER_UNITS[t], retention_days=retention.get(t))
                for t in tiers
            ),
            order_cols=order_cols,
            prepare=derive_text_len,
        )
        run = ca.refresh()
        report["run"] = {
            "run_id": run.get("run_id"),
            "status": run.get("status"),
            "tiers": {
                t: info.get("rows_out") for t, info in run.get("tiers", {}).items()
            },
        }

    elif args.mode == "expire":
        from tablecloth_time_spark.plans.continuous import (
            ContinuousAggregate,
            TierSpec,
        )
        from tablecloth_time_spark.plans.snapshots import SnapshotTable

        if not args.as_of:
            raise SystemExit("expire mode requires --as-of YYYY-MM-DD")
        retention = _parse_retention(args.retention)
        if not retention:
            raise SystemExit(
                "expire mode requires --retention (e.g. 'minute=90,hour=365')"
                " — without it every tier is kept forever and expiry is a noop"
            )
        src = SnapshotTable(spark, args.source_table or args.output)
        ca = ContinuousAggregate(
            spark, src, args.output, [args.key], args.ts_col, DEFAULT_AGGS,
            tiers=tuple(
                TierSpec(t, *TIER_UNITS[t], retention_days=retention.get(t))
                for t in tiers
            ),
            order_cols=order_cols,
        )
        report["expired"] = ca.expire(args.as_of)

    print(json.dumps(report))
    if not preexisting:  # don't tear down a host session (in-process tests)
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
