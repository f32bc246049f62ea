"""Benchmark harness — the driver runs this per round at sf0.1.

Prints the full JSON record:
  {"metric": "rollup_points_per_sec", "value": N, "unit": "sec",
   "queries": {name: seconds, ...}, "round_best": {...}, "sf": ...}
followed by a COMPACT one-line headline record (metric, value,
value_round_best, sf, n_queries, top-5 slowest) — the driver keeps only
a bounded tail of stdout and the full record's per-query map can
overflow it (r4: BENCH_r04.json parsed=null), so the short trailing
line guarantees the tail always ends with a parseable record.

"round_best" is the per-query minimum across THIS round's runs
(persisted in BENCH/round_best_sf{sf}_c{cpus}.json, 24h expiry):
same-binary wall clock swings up to ~2x under invisible host
contention, so the round-best is the figure to compare across rounds;
the per-run "queries" map is the raw reading.

The headline metric follows BASELINE.json: rolled-up points/sec across
retention tiers (second/minute/hour/day) on the synthetic transcripts table
(input_hint shape), measured as total tier output rows / wall-clock for the
one-action GROUPING SETS plan, written to a ``noop`` sink (warmup, then
best-of-3). Supporting queries time the engine's other headline operators
on the driver's sf tables. Scaling-efficiency evidence (local[8] vs
local[32]) is produced separately by scripts/bench_scaling.py into
BENCH/BASELINE.md.
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from tablecloth_time_spark.functions import timeops as T  # noqa: E402
from tablecloth_time_spark.operators.gapfill import resample_to_regular_grid  # noqa: E402
from tablecloth_time_spark.operators.rolling import rolling  # noqa: E402
from tablecloth_time_spark.operators.rollup import rollup  # noqa: E402
from tablecloth_time_spark.operators.shift import add_lags  # noqa: E402
from tablecloth_time_spark.operators.slice import slice_time  # noqa: E402
from tablecloth_time_spark.session import get_session  # noqa: E402
from tablecloth_time_spark.sources.transcripts import generate_transcripts  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

TRANSCRIPT_AGGS = {
    "n_turns": ("count", "turn_idx"),
    "n_chars": ("sum", "text_len"),
    "min_turn": ("min", "turn_idx"),
    "max_turn": ("max", "turn_idx"),
    "first_role": ("first", "role"),
    "last_role": ("last", "role"),
}


def main() -> None:
    spark = get_session("bench", cores=CPUS, shuffle_partitions=CPUS)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    events.cache().count()

    # Warm the Python workers once (fork + pyspark/pandas import, ~4-7 s
    # across 32 cores). On a production cluster executors' Python workers
    # are long-lived, so this is a fixed per-executor cost — not part of
    # any Arrow-kernel operator's steady-state rate. (r01 folded it into
    # the first kernel query's time; see BENCH/BASELINE.md r02 notes.)
    events.repartition(CPUS).mapInPandas(lambda it: it, events.schema).count()

    # transcripts scaled with sf: sf0.1 -> ~20k conversations (~700k turns)
    n_conv = max(200, int(20000 * float(sf) / 0.1)) if _isfloat(sf) else 2000
    transcripts = generate_transcripts(spark, n_conv=n_conv, seed=42).withColumn(
        "text_len", F.length("text").cast("long")
    )
    transcripts.cache()
    n_turns = transcripts.count()

    timings: dict[str, float] = {}

    from tablecloth_time_spark.operators.rollup import (
        cascade_partials,
        finalize_partials,
        rollup_tiers_long,
    )

    def timed(name, fn, trials: int = 3):
        # best-of-N: same-binary wall clock on this host swings up to ~2x
        # under externally-invisible contention (see BENCH/BASELINE.md);
        # the minimum is the closest estimate of the uncontended rate
        best = float("inf")
        for _ in range(trials):
            t = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t)
        timings[name] = round(best, 3)

    keys, order = ["conv_id"], ["ts", "turn_idx"]

    def noop(df):
        # a sink that forces every output column; a .count() lets Catalyst
        # prune the aggregate columns and times a cheaper plan
        df.write.format("noop").mode("overwrite").save()

    # Both tier plans get one untimed warmup run, which amortizes
    # whole-stage-codegen/JIT compilation (a fixed cost on a minutes-long
    # production job), then best-of-3 to the noop sink.
    # HEADLINE: every retention tier in ONE grouping-sets pass (Expand +
    # one shuffle — see PLANS.md), the one-action plan; every output row
    # is one tier point.
    long_tiers = rollup_tiers_long(
        transcripts, keys, "ts", TRANSCRIPT_AGGS, order_cols=order
    )
    noop(long_tiers)
    timed("rollup_tiers_grouping_sets", lambda: noop(long_tiers))
    headline_sec = timings["rollup_tiers_grouping_sets"]
    total_points = long_tiers.count()

    # the cached-partial cascade with each tier written by its own action:
    # the per-tier plan (rollup_cascade = finalize_partials over
    # cascade_partials). The finest partial is unpersisted after every run
    # so the next run recomputes it rather than reading a warm cache.
    def cascade_tier_writes():
        partials = cascade_partials(
            transcripts, keys, "ts", TRANSCRIPT_AGGS, order_cols=order
        )
        for p in partials.values():
            noop(finalize_partials(p, keys, TRANSCRIPT_AGGS))
        next(iter(partials.values())).unpersist()

    cascade_tier_writes()
    timed("rollup_tiers_transcripts", cascade_tier_writes)

    timed(
        "rollup_hourly_events",
        lambda: rollup(
            events, ["user_id"], "ts", 1, "hour",
            {"n": ("count", "event_id"), "s": ("sum", "value"),
             "lo": ("min", "value"), "hi": ("max", "value")},
            order_cols=["ts", "event_id"],
        ).count(),
    )
    timed(
        "slice_rollup_daily",
        lambda: rollup(
            slice_time(events, "ts", "2024-01-05", "2024-02-20"),
            ["event_type"], "ts", 1, "day",
            {"n": ("count", "event_id"), "s": ("sum", "value")},
        ).count(),
    )
    timed(
        "gapfill_ffill_hourly",
        lambda: resample_to_regular_grid(
            events, ["user_id"], "ts", "value", 1, "hour", method="ffill"
        ).count(),
    )
    timed(
        "gapfill_linear_hourly",
        lambda: resample_to_regular_grid(
            events, ["user_id"], "ts", "value", 1, "hour", method="linear"
        ).count(),
    )
    timed(
        "rolling_1h_events",
        lambda: rolling(
            events, ["user_id"], "ts", 1, "hour", {"rs": ("sum", "value")}
        ).count(),
    )
    timed(
        "add_lags_events",
        lambda: add_lags(
            events, "value", [1, 2, 3],
            order_by=["ts", "event_id"], partition_by=["user_id"],
        ).count(),
    )
    from tablecloth_time_spark.operators.shift import growth_rates

    monthly_rev = events.groupBy(
        "user_id", F.date_trunc("month", "ts").alias("bucket")
    ).agg(F.sum("value").alias("revenue"))
    timed(
        "growth_rates_monthly",
        lambda: growth_rates(
            monthly_rev, "user_id", "bucket", "revenue"
        ).agg(F.sum("yoy_growth"), F.sum("mom_growth")).collect(),
    )
    from tablecloth_time_spark.operators.asof import asof_join
    from tablecloth_time_spark.operators.sessions import session_stats

    hourly_rates = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("rts")
    ).agg(F.sum("value").alias("hour_sum"))
    timed(
        "asof_join_events",
        lambda: asof_join(
            events.select("event_id", "user_id", "ts"), hourly_rates,
            on="user_id", left_ts="ts", right_ts="rts",
        ).count(),
    )
    timed(
        "sessionize_events",
        lambda: session_stats(
            events, "user_id", "ts", 30, "minute",
            aggs={"sv": ("sum", "value")}, order_cols=["event_id"],
        ).count(),
    )
    from tablecloth_time_spark.operators.counters import (
        counter_rate,
        detect_gaps,
        ewma,
        time_weighted_avg,
    )
    from tablecloth_time_spark.operators.intervals import interval_join
    from tablecloth_time_spark.operators.stats import percentile_rollup

    timed(
        "counter_rate_events",
        lambda: counter_rate(
            events, "user_id", "ts", "value", order_cols=["event_id"]
        ).agg(F.sum("delta")).collect(),
    )
    timed(
        "twa_daily_events",
        lambda: time_weighted_avg(
            events, "user_id", "ts", "value", 1, "day"
        ).count(),
    )
    from tablecloth_time_spark.operators.counters import slo_burn_rate

    slo_marked = events.select(
        "user_id", "ts", (F.col("event_type") == "error").alias("err")
    )
    timed(
        "slo_burn_rate_events",
        lambda: slo_burn_rate(
            slo_marked, "user_id", "ts", "err",
            slo=0.95, short=(30, "minute"), long=(4, "hour"),
        ).agg(F.sum("burn_long")).collect(),
    )
    from tablecloth_time_spark.operators.cohorts import (
        funnel,
        rolling_active_users,
        survival_curve,
    )

    timed(
        "weekly_active_events",
        lambda: rolling_active_users(events, "user_id", "ts", window=7)
        .agg(F.sum("active_users")).collect(),
    )

    timed(
        "session_survival_events",
        lambda: survival_curve(
            session_stats(
                events, "user_id", "ts", 30, "minute",
                order_cols=["event_id"],
            ).select(
                (F.col("duration_ms").cast("double") / 1000.0).alias("dur")
            ),
            "dur", step=600.0,
        ).agg(F.sum("survival")).collect(),
    )
    timed(
        "funnel_events",
        lambda: funnel(
            events, "user_id", "ts", "event_type",
            ["view", "click", "purchase"], within=72, unit="hour",
        ).agg(F.sum("steps_completed")).collect(),
    )
    timed(
        "ewma_events",
        lambda: ewma(
            events, "user_id", "ts", "value", halflife=1, unit="hour"
        ).agg(F.sum("ewma")).collect(),
    )
    gap_ivs = detect_gaps(
        events, "user_id", "ts", 4, "hour", order_cols=["event_id"]
    ).filter(F.col("user_id") < 32).select(
        F.col("user_id").alias("gap_user"), "gap_start", "gap_end"
    )
    timed(
        "interval_join_gaps_events",
        lambda: interval_join(
            events.select("event_id", "ts"), gap_ivs,
            point_ts="ts", start_col="gap_start", end_col="gap_end",
            bucket_width=4, unit="hour",
        ).count(),
    )
    timed(
        "percentile_daily_events",
        lambda: percentile_rollup(
            events, ["event_type"], "ts", "value", 1, "day", exact=False
        ).count(),
    )
    timed(
        "field_extractors_events",
        lambda: events.select(
            *[T.field_expr(f, "ts").alias(f.replace("-", "_"))
              for f in ("year", "month", "day-of-week", "week-of-year-index",
                        "epoch-day", "epoch-week")]
        ).agg(F.sum("epoch_day")).collect(),
    )
    from tablecloth_time_spark.operators.decompose import classical_decomposition
    from tablecloth_time_spark.operators.rolling import rolling_rows

    timed(
        "rolling_rows5_events",
        lambda: rolling_rows(
            events, ["user_id"], ["ts", "event_id"], 5,
            {"r5": ("avg", "value")},
        ).agg(F.sum("r5")).collect(),
    )
    daily_counts = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    timed(
        "seasonal_decompose_daily",
        lambda: classical_decomposition(
            daily_counts, ["event_type"], "day", "y", 7,
            season_col=F.dayofweek("day"),
        ).agg(F.sum("remainder")).collect(),
    )
    from tablecloth_time_spark.operators.decompose import decomposition_strength

    timed(
        "decomposition_strength_daily",
        lambda: decomposition_strength(
            classical_decomposition(
                daily_counts, ["event_type"], "day", "y", 7,
                season_col=F.dayofweek("day"),
            ),
            ["event_type"],
        ).agg(F.sum("trend_strength")).collect(),
    )
    from tablecloth_time_spark.operators.acf import ccf

    hourly_xy = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("b")
    ).agg(
        F.avg("value").alias("x"),
        F.count(F.lit(1)).cast("double").alias("y"),
    )
    timed(
        "ccf_hourly_events",
        lambda: ccf(hourly_xy, ["user_id"], "b", "x", "y", max_lag=6)
        .agg(F.sum("ccf")).collect(),
    )
    from tablecloth_time_spark.operators.cohorts import cohort_retention
    from tablecloth_time_spark.operators.downsample import m4_downsample
    from tablecloth_time_spark.operators.intervals import merge_intervals
    from tablecloth_time_spark.operators.stats import level_shift_scores

    timed(
        "m4_downsample_events",
        lambda: m4_downsample(
            events, "user_id", "ts", "value", 1, "hour",
            order_cols=["event_id"],
        ).count(),
    )
    activity_ivs = events.select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("end"),
    )
    timed(
        "merge_intervals_events",
        lambda: merge_intervals(activity_ivs, "user_id").count(),
    )
    timed(
        "cohort_retention_weekly",
        lambda: cohort_retention(events, "user_id", "ts", 1, "week")
        .agg(F.sum("n_users")).collect(),
    )
    timed(
        "level_shifts_events",
        lambda: level_shift_scores(
            events, ["user_id"], "ts", "value", window=6,
            order_cols=["event_id"],
        ).agg(F.sum("shift_score")).collect(),
    )
    from tablecloth_time_spark.operators.forecast import benchmark_forecast

    daily_by_user = events.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    timed(
        "benchmark_forecast_daily",
        lambda: benchmark_forecast(
            daily_by_user, "user_id", "day", "y", 14, 1, "day",
            methods=("mean", "naive", "snaive", "drift"), season_length=7,
        ).agg(F.sum("forecast")).collect(),
    )
    timed(
        "theta_forecast_daily",
        lambda: benchmark_forecast(
            daily_by_user, "user_id", "day", "y", 14, 1, "day",
            methods=("theta",), alpha=0.3,
        ).agg(F.sum("forecast")).collect(),
    )
    timed(
        "brown_forecast_daily",
        lambda: benchmark_forecast(
            daily_by_user, "user_id", "day", "y", 14, 1, "day",
            methods=("brown",), alpha=0.3,
        ).agg(F.sum("forecast")).collect(),
    )
    from tablecloth_time_spark.operators.forecast import (
        ar_forecast,
        holt_forecast,
    )

    timed(
        "ar2_forecast_daily",
        lambda: ar_forecast(
            daily_by_user, "user_id", "day", "y", 14, 1, "day", p=2,
        ).agg(F.sum("forecast")).collect(),
    )

    timed(
        "holt_forecast_daily",
        lambda: holt_forecast(
            daily_by_user, "user_id", "day", "y", 14, 1, "day",
            alpha=0.8, beta=0.2,
        ).agg(F.sum("forecast")).collect(),
    )
    from tablecloth_time_spark.operators.forecast import (
        croston_forecast,
        holt_winters_forecast,
    )

    timed(
        "holt_winters_daily",
        lambda: holt_winters_forecast(
            daily_by_user, "user_id", "day", "y", 14, 1, "day", 7,
        ).agg(F.sum("forecast")).collect(),
    )

    error_demand = events.filter(F.col("event_type") == "error").groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    timed(
        "croston_intermittent_daily",
        lambda: croston_forecast(
            error_demand, "user_id", "day", "y", 1, "day", alpha=0.1
        ).agg(F.sum("forecast")).collect(),
    )
    from tablecloth_time_spark.operators.stats import cusum_scores, mad_anomalies

    timed(
        "cusum_drift_events",
        lambda: cusum_scores(
            events, ["event_type"], "ts", "value", order_cols=["event_id"]
        ).agg(F.sum("cusum_pos")).collect(),
    )
    timed(
        "mad_anomalies_events",
        lambda: mad_anomalies(events, ["event_type"], "value")
        .agg(F.sum("score")).collect(),
    )
    from tablecloth_time_spark.operators.counters import ewma_rows, macd
    from tablecloth_time_spark.operators.indicators import (
        bollinger_bands,
        rsi_cutler,
    )
    from tablecloth_time_spark.operators.spectral import periodogram

    timed(
        "ewma_rows_events",
        lambda: ewma_rows(
            events, "user_id", ["ts", "event_id"], "value", alpha=0.5
        ).agg(F.sum("ewma")).collect(),
    )
    timed(
        "macd_events",
        lambda: macd(events, "user_id", ["ts", "event_id"], "value")
        .agg(F.sum("macd_hist")).collect(),
    )
    timed(
        "bollinger_rsi_events",
        lambda: rsi_cutler(
            bollinger_bands(
                events, ["user_id"], ["ts", "event_id"], "value", n=20
            ),
            ["user_id"], ["ts", "event_id"], "value", n=14,
        ).agg(F.sum("rsi"), F.sum("pct_b")).collect(),
    )
    hourly_counts = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    timed(
        "periodogram_hourly",
        lambda: periodogram(
            hourly_counts, "event_type", "h", "y", [24, 96, 168], "hour"
        ).agg(F.sum("power_frac")).collect(),
    )
    from tablecloth_time_spark.operators.changepoint import pelt_changepoints

    timed(
        "pelt_changepoints_events",
        lambda: pelt_changepoints(
            events, "user_id", "ts", "value", order_cols=["event_id"]
        ).count(),
    )
    from tablecloth_time_spark.operators.rollup import hopping_rollup

    timed(
        "hopping_rollup_events",
        lambda: hopping_rollup(
            events, ["event_type"], "ts", 60, 15, "minute",
            {"n": ("count", "event_id"), "s": ("sum", "value")},
        ).agg(F.sum("n")).collect(),
    )
    from tablecloth_time_spark.operators.rolling import rolling_quantiles

    timed(
        "rolling_quantiles_events",
        lambda: rolling_quantiles(
            events, ["user_id"], ["ts", "event_id"], "value", 9,
            {"med": 0.5, "p90": 0.9},
        ).agg(F.sum("med")).collect(),
    )
    from tablecloth_time_spark.operators.profile import profile_rollup

    timed(
        "profile_rollup_events",
        lambda: profile_rollup(
            events, "ts", ["value", "user_id"], 1, "day", exact=False
        ).agg(F.sum("n_distinct")).collect(),
    )
    from tablecloth_time_spark.functions.busdays import (
        add_business_days,
        business_days_between,
        is_business_day,
    )

    timed(
        "business_days_events",
        lambda: events.select(
            is_business_day("ts").alias("b"),
            add_business_days("ts", 5).alias("t5"),
            business_days_between(
                "ts", F.date_add(F.col("ts").cast("date"), 30)
            ).alias("n30"),
        ).agg(F.sum("n30")).collect(),
    )
    from tablecloth_time_spark.operators.counters import state_durations
    from tablecloth_time_spark.operators.stats import histogram_rollup

    timed(
        "histogram_hourly_events",
        lambda: histogram_rollup(
            events, ["event_type"], "ts", "value", 1, "hour",
            lo=0.0, hi=1000.0, n_bins=20,
        ).agg(F.sum("n")).collect(),
    )
    from tablecloth_time_spark.operators.stats import histogram_quantile

    timed(
        "histogram_quantile_events",
        lambda: histogram_quantile(
            histogram_rollup(
                events, ["event_type"], "ts", "value", 1, "hour",
                lo=0.0, hi=1000.0, n_bins=20,
            ),
            ["event_type", "bucket"],
        ).agg(F.sum("p95")).collect(),
    )
    timed(
        "state_durations_events",
        lambda: state_durations(
            events, "user_id", "ts", "event_type", 1, "hour",
            order_cols=["event_id"],
        ).agg(F.sum("duration_ms")).collect(),
    )

    from tablecloth_time_spark.functions import literals as LIT

    timed(
        "time_literals_events",
        lambda: events.select(
            LIT.to_time_literal(F.col("ts").cast("timestamp"), "instant").alias("i"),
            LIT.to_time_literal(
                F.col("ts").cast("timestamp_ntz"), "date-time"
            ).alias("d"),
            LIT.to_time_literal(
                F.col("ts").cast("timestamp"),
                "zoned-date-time",
                zone=F.lit("Europe/Berlin"),
            ).alias("z"),
        )
        .agg(F.sum(F.length("i") + F.length("d") + F.length("z")))
        .collect(),
    )

    # conversation turn-taking analytics over the transcripts fixture
    from tablecloth_time_spark.operators.transcripts import (
        conversation_stats,
        role_transitions,
    )

    timed(
        "conversation_stats_transcripts",
        lambda: conversation_stats(transcripts)
        .agg(F.sum("n_responses"), F.sum("tool_calls")).collect(),
    )
    timed(
        "role_transitions_transcripts",
        lambda: role_transitions(transcripts)
        .agg(F.sum("transitions")).collect(),
    )
    from tablecloth_time_spark.operators.transcripts import (
        alternation_runs,
        transition_latency_buckets,
    )

    timed(
        "alternation_runs_transcripts",
        lambda: alternation_runs(transcripts)
        .agg(F.sum("n_runs"), F.avg("alternation_ratio")).collect(),
    )
    timed(
        "latency_buckets_transcripts",
        lambda: transition_latency_buckets(transcripts)
        .agg(F.sum("n_responses"), F.avg("p95_gap_s")).collect(),
    )
    from tablecloth_time_spark.operators.validate import sortedness_report

    timed(
        "sortedness_report_transcripts",
        lambda: sortedness_report(
            transcripts, "ts", partition_by="conv_id", order_by="turn_idx"
        ).agg(F.sum("n_violations"), F.sum("n_rows")).collect(),
    )

    # training-data ops + compression (sf tables: documents / embeddings)
    from tablecloth_time_spark.operators.compress import compress_series
    from tablecloth_time_spark.operators.dedup import minhash_lsh_pairs
    from tablecloth_time_spark.operators.similarity import brute_force_topk
    from tablecloth_time_spark.functions import text as TX

    minute_tier = rollup(
        transcripts, ["conv_id"], "ts", 1, "minute",
        {"n_turns": ("count", "turn_idx"), "sum_chars": ("sum", "text_len")},
        order_cols=["ts", "turn_idx"],
    )
    timed(
        "compress_minute_blocks",
        lambda: compress_series(
            minute_tier, ts_col="bucket",
            value_cols={"n_turns": "int", "sum_chars": "int"},
            key_col="conv_id", block_unit="day",
        ).agg(F.sum("enc_bytes")).collect(),
    )

    # the north-star READ path: serve a narrow slice from the compressed
    # tier laid out as run_pipeline.py writes it (range-partitioned +
    # sorted by block_start, so parquet min-max stats prune whole files
    # before any decode). Block build + write are untimed setup.
    from tablecloth_time_spark.operators.compress import read_blocks_slice

    bdir = os.path.join(tempfile.gettempdir(), "tts_bench_blocks")
    compress_series(
        minute_tier, ts_col="bucket",
        value_cols={"n_turns": "int", "sum_chars": "int"},
        key_col="conv_id", block_unit="day",
    ).repartitionByRange(8, "block_start").sortWithinPartitions(
        "block_start"
    ).write.mode("overwrite").parquet(bdir)
    blocks = spark.read.parquet(bdir)
    b_lo, b_hi = blocks.agg(F.min("block_start"), F.max("block_start")).first()
    s_from = b_lo + (b_hi - b_lo) / 2
    s_to = s_from + datetime.timedelta(days=2)
    timed(
        "compressed_slice_read",
        lambda: read_blocks_slice(
            blocks, {"n_turns": "int", "sum_chars": "int"},
            s_from, s_to, block_unit="day",
        ).agg(F.count(F.lit(1)), F.sum("n_turns")).collect(),
    )

    from tablecloth_time_spark.operators.rolling import rolling_corr
    from tablecloth_time_spark.operators.stats import predict_linear
    from tablecloth_time_spark.operators.transcripts import (
        sequence_fingerprints,
    )

    hourly_tier = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.avg("value").alias("v"))
    timed(
        "predict_linear_hourly",
        lambda: predict_linear(
            hourly_tier, ["user_id"], "bucket", "v", (6, "hour"), (1, "hour")
        ).agg(F.avg("slope"), F.avg("predicted")).collect(),
    )
    timed(
        "rolling_corr_events",
        lambda: rolling_corr(
            events.withColumn("plen", F.length("props").cast("double")),
            ["user_id"], "ts", "value", "plen", 6, "hour",
        ).agg(F.avg("corr")).collect(),
    )
    from tablecloth_time_spark.operators.features import (
        series_features,
        theil_sen_trend,
    )

    timed(
        "series_features_events",
        lambda: series_features(
            events, ["user_id"], "ts", "value", order_cols=["event_id"]
        ).agg(F.avg("autocorr1"), F.sum("n_mean_crossings")).collect(),
    )
    timed(
        "theil_sen_daily_events",
        lambda: theil_sen_trend(
            events, ["user_id"], "ts", "value", 1, "day"
        ).agg(F.avg("slope"), F.avg("intercept")).collect(),
    )

    from tablecloth_time_spark.operators.features import winsorize

    timed(
        "winsorize_events",
        lambda: winsorize(events, ["user_id"], "value").agg(
            F.avg("value_w"), F.sum("clipped")
        ).collect(),
    )

    from tablecloth_time_spark.operators.features import tenure_features

    timed(
        "tenure_features_events",
        lambda: tenure_features(events, ["user_id"], "ts").agg(
            F.avg("density"), F.sum("active_days")
        ).collect(),
    )

    from tablecloth_time_spark.operators.similarity import centroid_outliers

    embeddings_t = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    timed(
        "centroid_outliers_embeddings",
        lambda: centroid_outliers(
            embeddings_t, ["label"], "vec_id", "embedding"
        ).agg(F.sum("is_outlier"), F.avg("cos_centroid")).collect(),
    )

    from tablecloth_time_spark.functions.text import lexical_diversity

    documents = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    timed(
        "lexical_diversity_documents",
        lambda: lexical_diversity(documents, ["doc_id"]).agg(
            F.avg("ttr"), F.sum("n_hapax")
        ).collect(),
    )

    from tablecloth_time_spark.functions.text import (
        add_repetition_metrics,
        pii_counts,
    )

    _RE2_CATS = ("email", "ssn", "card", "ipv4")
    timed(
        "pii_scan_documents",
        lambda: documents.select(
            pii_counts("text", _RE2_CATS).alias("c")
        ).agg(F.sum("c.email"), F.sum("c.ipv4")).collect(),
    )
    timed(
        "repetition_metrics_documents",
        lambda: add_repetition_metrics(documents, "text")
        .agg(F.avg("dup_word_frac"), F.avg("dup_line_frac")).collect(),
    )

    from tablecloth_time_spark.operators.slice import add_row_index

    timed(
        "add_row_index_events",
        lambda: add_row_index(events, ["ts", "event_id"])
        .agg(F.max("row_index")).collect(),
    )

    from tablecloth_time_spark.functions.text import hygiene_gate

    timed(
        "hygiene_gate_documents",
        lambda: hygiene_gate(documents, ["doc_id"])
        .groupBy("reason").count().collect(),
    )

    from tablecloth_time_spark.operators.pack import mixture_sample

    timed(
        "mixture_resample_documents",
        lambda: mixture_sample(
            documents, "lang", {"en": 0.9, "de": 0.5, "fr": 0.25},
            "doc_id", default_rate=0.1, salt="mix",
        ).groupBy("lang").count().collect(),
    )

    from tablecloth_time_spark.operators.features import standardize

    timed(
        "standardize_events",
        lambda: standardize(events, ["user_id"], "value").agg(
            F.avg("value_z"), F.avg("value_mm"), F.avg("value_rb")
        ).collect(),
    )

    from tablecloth_time_spark.operators.rolling import hampel_filter

    timed(
        "hampel_hourly_events",
        lambda: hampel_filter(
            events.groupBy(
                "user_id", F.date_trunc("hour", "ts").alias("b")
            ).agg(F.avg("value").alias("v")),
            ["user_id"], ["b"], "v", n=7, k=3.0,
        ).agg(F.sum("is_spike"), F.avg("v_f")).collect(),
    )

    from tablecloth_time_spark.operators.acf import dominant_period

    timed(
        "dominant_period_events",
        lambda: dominant_period(
            events.groupBy(
                "user_id", F.date_trunc("hour", "ts").alias("b")
            ).agg(F.avg("value").alias("v")),
            ["user_id"], "b", "v", max_lag=30,
        ).agg(F.avg("peak_acf"), F.sum("significant")).collect(),
    )
    timed(
        "sequence_fingerprints_transcripts",
        # positions path: turn_idx tags come from the table, so hashing
        # is map-side and only (conv_id, 8-byte partial) pairs shuffle
        lambda: sequence_fingerprints(
            transcripts, "conv_id", item_col="text", positions="turn_idx"
        ).agg(F.count(F.lit(1)), F.max("fingerprint")).collect(),
    )
    from tablecloth_time_spark.operators.counters import counter_increase
    from tablecloth_time_spark.operators.transcripts import budget_prefix

    timed(
        "counter_increase_hourly",
        lambda: counter_increase(events, "user_id", "ts", "value", 1, "hour")
        .agg(F.sum("increase"), F.count(F.lit(1))).collect(),
    )
    timed(
        "budget_prefix_transcripts",
        lambda: budget_prefix(
            transcripts.withColumn("n_tokens", F.col("text_len")),
            "conv_id", "turn_idx", "n_tokens", budget=2048,
        ).agg(F.count(F.lit(1)), F.max("cum_cost")).collect(),
    )
    timed(
        "hll_distinct_hourly_events",
        lambda: rollup(
            events, [], "ts", 1, "hour", {"uniq_users": ("hll", "user_id")}
        ).agg(F.sum("uniq_users"), F.count(F.lit(1))).collect(),
    )
    from tablecloth_time_spark.operators.downsample import lttb_downsample

    timed(
        "lttb_downsample_events",
        lambda: lttb_downsample(
            events, ["event_type"], "ts", "value", n_out=500
        ).agg(F.count(F.lit(1)), F.sum("value")).collect(),
    )
    timed(
        "rollup_tiers_zoned_events",
        lambda: rollup_tiers_long(
            events, ["user_id"], "ts",
            {"n": ("count", "event_id"), "s": ("sum", "value")},
            tiers={"hour": (1, "hour"), "day": (1, "day")},
            order_cols=["ts", "event_id"],
            zone="Europe/Berlin",
        ).agg(F.count(F.lit(1)), F.sum("n")).collect(),
    )

    from tablecloth_time_spark.operators.diff import tier_diff
    from tablecloth_time_spark.operators.symbolic import sax_words

    timed(
        "sax_words_events",
        # per-USER series (thousands of words, not five): hourly counts
        # -> 16-segment PAA -> 4-letter words, all in ONE Exchange
        lambda: sax_words(
            events.groupBy(
                "user_id", F.date_trunc("hour", "ts").alias("b")
            ).agg(F.count(F.lit(1)).alias("v")),
            "user_id", "b", "v", n_segments=16, alphabet_size=4,
        ).agg(F.count(F.lit(1)), F.min("word")).collect(),
    )
    from tablecloth_time_spark.operators.dtw import dtw_distances

    timed(
        "dtw_daily_cohorts",
        # 50 cohort series x 30 daily points -> 1225 pairs through the
        # anti-diagonal Arrow kernel; raw events reduce to the tiny
        # bucketed frame before any Python
        lambda: dtw_distances(
            events.withColumn("cohort", F.col("user_id") % 50),
            "cohort", "ts", "value", 1, "day", agg="count",
        ).agg(F.count(F.lit(1)), F.sum("dtw")).collect(),
    )
    from tablecloth_time_spark.operators.matrix_profile import matrix_profile

    timed(
        "matrix_profile_cohorts",
        # 50 cohort series x 720 hourly points, m=24 (daily shape),
        # canonical z-normalized profile: ~697 diagonals of O(n) numpy
        # per series inside the streamed Arrow kernel
        lambda: matrix_profile(
            events.withColumn("cohort", F.col("user_id") % 50),
            "cohort", "ts", "value", 1, "hour", m=24, agg="count",
        ).agg(F.count(F.lit(1)), F.max("mp")).collect(),
    )
    timed(
        "tier_diff_hourly_events",
        lambda: tier_diff(
            rollup(
                events.filter("ts < timestamp'2024-01-25'"),
                ["event_type"], "ts", 1, "hour",
                {"n": ("count", "event_id")},
            ),
            rollup(
                events, ["event_type"], "ts", 1, "hour",
                {"n": ("count", "event_id")},
            ),
            ["event_type", "bucket"], ["n"],
        ).groupBy("change").count().collect(),
    )

    from tablecloth_time_spark.operators.stats import (
        arrival_stats,
        categorical_entropy,
    )
    from tablecloth_time_spark.operators.transcripts import role_ngrams

    timed(
        "arrival_stats_events",
        lambda: arrival_stats(events, ["user_id"], "ts", order_cols=["event_id"])
        .agg(F.avg("burstiness"), F.avg("cv")).collect(),
    )
    timed(
        "type_entropy_events",
        lambda: categorical_entropy(events, ["user_id"], "event_type")
        .agg(F.avg("norm_entropy"), F.sum("n_rows")).collect(),
    )
    timed(
        "role_ngrams_events",
        lambda: role_ngrams(
            events, "user_id", ["ts", "event_id"], "event_type", n=3
        ).count(),
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    timed(
        "text_stats_documents",
        lambda: TX.add_text_metrics(docs, "text")
        .withColumn("lang", TX.lang_id("text"))
        .agg(F.sum("bpe_tokens"), F.avg("quality_score"), F.count("lang"))
        .collect(),
    )
    from tablecloth_time_spark.operators.dedup import ngram_overlap_flags

    timed(
        "decontaminate_documents",
        lambda: ngram_overlap_flags(
            docs, docs.filter(F.col("doc_id") % 25 == 0).select("doc_id", "text"),
            n=4, min_hits=1,
        ).agg(F.sum("n_hits"), F.sum(F.col("is_contaminated").cast("int"))).collect(),
    )
    timed(
        "minhash_dedup_documents",
        lambda: minhash_lsh_pairs(
            docs, threshold=0.5, n_hashes=64, bands=8, shingle_words=3
        ).count(),
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probe = emb.filter("vec_id < 16").selectExpr(
        "vec_id as query_id", "embedding as query_vec"
    )
    timed(
        "embedding_topk_bruteforce",
        lambda: brute_force_topk(emb, probe, k=10).count(),
    )
    from tablecloth_time_spark.operators.similarity import cosine_near_dup_pairs

    timed(
        "near_dup_pairs_embeddings",
        lambda: cosine_near_dup_pairs(emb, dim=64, threshold=0.9).count(),
    )

    points_per_sec = total_points / headline_sec if headline_sec > 0 else 0.0

    # Round-best ledger: same-binary wall clock swings up to ~2x under
    # invisible host contention, so cross-round per-query comparisons must
    # be best-of-N ACROSS the round's runs, not single readings (the
    # solo-vs-solo rule from BENCH/BASELINE.md's variance note). Persist
    # the per-query minimum seen this round and report it beside the run.
    round_best = dict(timings)
    best_value = round(points_per_sec, 1)
    ledger = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH",
        f"round_best_sf{sf}_c{CPUS}.json",
    )
    now = time.time()
    started = now
    try:
        with open(ledger) as fh:
            prev = json.load(fh)
        # a round lasts hours; a ledger older than a day is a previous
        # round's and must not leak its minima into this one
        if now - prev.get("started", 0.0) < 86400:
            started = prev.get("started", now)
            for name, sec in prev.get("queries", {}).items():
                if name in round_best:
                    round_best[name] = min(round_best[name], sec)
                else:
                    round_best[name] = sec
            best_value = max(best_value, prev.get("value", 0.0))
    except (OSError, ValueError):
        pass
    try:
        os.makedirs(os.path.dirname(ledger), exist_ok=True)
        with open(ledger, "w") as fh:
            json.dump(
                {"started": started, "value": best_value, "queries": round_best},
                fh,
            )
    except OSError:
        pass  # read-only checkout: report the run reading only

    print(
        json.dumps(
            {
                "metric": "rollup_points_per_sec",
                "value": round(points_per_sec, 1),
                "unit": "sec",
                "queries": timings,
                "round_best": round_best,
                "sf": float(sf) if _isfloat(sf) else sf,
                "detail": {
                    "transcript_turns": n_turns,
                    "tier_points": total_points,
                    "cores": CPUS,
                },
            }
        )
    )
    # Compact headline record LAST: the driver keeps only a bounded tail
    # of stdout, and the full per-query JSON above can overflow it (r4:
    # BENCH_r04.json parsed=null). This line is always short enough to
    # survive the tail, so the driver always has a parseable record.
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])[:5]
    print(
        json.dumps(
            {
                "metric": "rollup_points_per_sec",
                "value": round(points_per_sec, 1),
                "value_round_best": best_value,
                "unit": "sec",
                "sf": float(sf) if _isfloat(sf) else sf,
                "n_queries": len(timings),
                "tier_points": total_points,
                "cores": CPUS,
                "slowest": {k: v for k, v in slowest},
            }
        )
    )


def _isfloat(s: str) -> bool:
    try:
        float(s)
        return True
    except ValueError:
        return False


if __name__ == "__main__":
    main()
