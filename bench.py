"""Benchmark harness: times every oracle-checked driver query at sf0.1.

Every entry runs under one protocol: one untimed warmup run, then
best-of-3, each run written to a ``noop`` sink (``write.format("noop")``)
that forces every output column. A ``.count()`` would let Catalyst prune
the aggregate columns and time a cheaper plan.

Entries, in run order:

- Two bench-only entries over the generated transcripts table, which the
  registry does not have:
  ``rollup_tiers_grouping_sets`` writes every retention tier
  (second/minute/hour/day) in one GROUPING SETS action and gives the
  headline; ``rollup_tiers_transcripts`` writes each tier of the
  cached-partial cascade with its own action.
- Every ``__spark_entry__.queries()`` builder over the sf tables, recorded
  under its registry key. scripts/check_contract.py checks each of them
  byte-exact against DuckDB, so every benched query is also an
  oracle-checked one. The builder call is inside the timed region: some
  builders do eager work (``continuous_hourly`` runs three ``refresh()``
  calls before it returns).

The headline metric follows BASELINE.json: rolled-up points/sec, i.e.
total tier output rows / best wall-clock of ``rollup_tiers_grouping_sets``.
The only inputs are SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS.

Prints the full JSON record:
  {"metric": "rollup_points_per_sec", "value": N, "unit": "sec",
   "queries": {name: seconds, ...}, "round_best": {...}, "sf": ...}
followed by a COMPACT one-line headline record (metric, value,
value_round_best, sf, n_queries, top-5 slowest) — the driver keeps only
a bounded tail of stdout and the full record's per-query map can
overflow it (r4: BENCH_r04.json parsed=null), so the short trailing
line guarantees the tail always ends with a parseable record.

"round_best" is the per-query minimum across THIS round's runs
(persisted in BENCH/round_best_sf{sf}_c{cpus}.json, 24h expiry), over
the names this run timed: same-binary wall clock swings up to ~2x under
invisible host contention, so the round-best is the figure to compare
across rounds; the per-run "queries" map is the raw reading.
Scaling-efficiency evidence (local[8] vs local[32]) is produced
separately by scripts/bench_scaling.py into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from __spark_entry__ import queries  # noqa: E402
from tablecloth_time_spark.session import get_session  # noqa: E402
from tablecloth_time_spark.sources.transcripts import generate_transcripts  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
LEDGER_TTL_S = 86400

TRANSCRIPT_AGGS = {
    "n_turns": ("count", "turn_idx"),
    "n_chars": ("sum", "text_len"),
    "min_turn": ("min", "turn_idx"),
    "max_turn": ("max", "turn_idx"),
    "first_role": ("first", "role"),
    "last_role": ("last", "role"),
}


def merge_round_best(
    timings: dict[str, float], value: float, prev: dict | None, now: float
) -> tuple[float, float, dict[str, float]]:
    """(started, best value, per-query minimum) for the ledger, over the
    names in ``timings`` only. A round lasts hours; a ledger older than a
    day is a previous round's and must not leak its minima into this one."""
    if not prev or now - prev.get("started", 0.0) >= LEDGER_TTL_S:
        return now, value, dict(timings)
    old = prev.get("queries", {})
    best = {name: min(sec, old.get(name, sec)) for name, sec in timings.items()}
    return prev.get("started", now), max(value, prev.get("value", 0.0)), best


def main() -> None:
    spark = get_session("bench", cores=CPUS, shuffle_partitions=CPUS)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

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

    # every registry query under the same protocol, named by its key
    for name, build in queries().items():
        def run():
            noop(build(spark, SF_DIR))

        run()
        timed(name, run)

    points_per_sec = total_points / headline_sec if headline_sec > 0 else 0.0

    # Round-best ledger: same-binary wall clock swings up to ~2x under
    # invisible host contention, so cross-round per-query comparisons must
    # be best-of-N ACROSS the round's runs, not single readings (the
    # solo-vs-solo rule from BENCH/BASELINE.md's variance note). Persist
    # the per-query minimum seen this round and report it beside the run.
    ledger = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH",
        f"round_best_sf{sf}_c{CPUS}.json",
    )
    try:
        with open(ledger) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        prev = None
    started, best_value, round_best = merge_round_best(
        timings, round(points_per_sec, 1), prev, time.time()
    )
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
