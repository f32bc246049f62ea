"""Metric names, units and how each is computed from a run.

End-to-end metrics come from untraced runs; per-layer metrics from the
separate traced run. Both sets are printed in full on every workload; a
per-layer metric whose layer the workload does not touch reads 0.

End-to-end time metrics are medians over the timed ops. Per-layer time
metrics are medians over the traced ops that record them; per-layer count
metrics are totals over the first ``COUNT_OPS`` traced ops, a fixed prefix,
so they repeat exactly between runs of a seed.
"""

from __future__ import annotations

import statistics

E2E = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "ops_per_s": "1/s",
    "block_bytes_per_point": "B",
    "tier_bytes_per_point": "B",
    "success_rate": "ratio",
}

LAYER = {
    "rollup.busy_ms": "ms",
    "rollup.exec_run_ms": "ms",
    "rollup.shuffle_write_bytes": "B",
    "rollup.spill_bytes": "B",
    "rollup.spark_jobs": "count",
    "rollup.points_out": "count",
    "rollup.cached_bytes_after": "B",
    "compress.busy_ms": "ms",
    "compress.py_run_ms": "ms",
    "compress.py_bytes_in": "B",
    "compress.py_bytes_out": "B",
    "compress.points_in": "count",
    "compress.blocks_out": "count",
    "compress.enc_bytes": "B",
    "decode.busy_ms": "ms",
    "decode.py_run_ms": "ms",
    "decode.blocks_read": "count",
    "decode.blocks_total": "count",
    "decode.points_decoded": "count",
    "decode.points_returned": "count",
    "slice.busy_ms": "ms",
    "slice.files_read": "count",
    "slice.files_total": "count",
    "slice.rows_scanned": "count",
    "slice.rows_returned": "count",
    "m4.busy_ms": "ms",
    "m4.rows_in": "count",
    "m4.points_out": "count",
    "snapshots.append_ms": "ms",
    "snapshots.bytes_written": "B",
    "snapshots.files": "count",
    "tier_store.stage_ms": "ms",
    "tier_store.commit_ms": "ms",
    "tier_store.write_blocks_ms": "ms",
    "tier_store.read_state_calls": "count",
    "tier_store.dirty_partitions": "count",
    "tier_store.bytes_rewritten": "B",
    "tier_store.write_amp": "ratio",
    "continuous.refresh_ms": "ms",
    "continuous.self_ms": "ms",
    "continuous.spark_jobs": "count",
    "continuous.manifest_bytes": "B",
    "continuous.expire_ms": "ms",
    "continuous.partitions_dropped": "count",
    "spark.gc_ms": "ms",
    "spark.py_worker_start_ms": "ms",
    "spark.tasks": "count",
    "spark.peak_rss_mb": "MB",
    "op.self_ms": "ms",
    "traced.latency_p50_ms": "ms",
}

# fixed prefix of traced ops that count metrics sum over; dashboard's
# first traced op is the ingest op its setup runs, then 12 queries
COUNT_OPS = {"backfill": 1, "ingest": 1, "dashboard": 13}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    xs = list(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def e2e_metrics(w, lat: list[float], setup_s: float, failed: int, attempted: int) -> dict:
    """The gated metrics, ``E2E``; ``lat`` holds the timed op latencies in
    seconds."""
    return {
        "setup_s": setup_s,
        "latency_p50_ms": median(lat) * 1000,
        "latency_p90_ms": p90(lat) * 1000,
        "ops_per_s": len(lat) / sum(lat),
        "block_bytes_per_point": w.block_bytes / w.block_points,
        "tier_bytes_per_point": w.tier_bytes / w.tier_points,
        "success_rate": (attempted - failed) / attempted,
    }


def ungated_metrics(w, lat: list[float]) -> dict[str, tuple[float, str]]:
    """Printed but not gated, because they were not steady on every
    workload (NOTES.md): throughput in points and turns, and on dashboard
    the median latency of each query type with its sample count."""
    out = {
        "tier_points_per_s": (sum(w.points) / sum(lat), "1/s"),
        "turns_per_s": (sum(w.turns_done) / sum(lat), "1/s"),
    }
    for kind in dict.fromkeys(w.kinds):
        own = [t for t, k in zip(lat, w.kinds) if k == kind]
        out[f"{kind}.latency_p50_ms"] = (median(own) * 1000, f"ms (n={len(own)})")
    return out


def layer_metrics(workload: str, ops: dict[int, dict], notes: dict[int, dict],
                  lat: list[float], peak_rss_mb: float, totals: dict) -> dict:
    """``ops`` is :func:`tracing.op_breakdown` over the traced ops,
    ``notes`` the per-op values the workload recorded, ``totals`` the
    store's hour-tier file and block counts. ``*_total`` metrics are what
    the counted queries would read with no pruning."""
    order = sorted(ops)
    prefix = order[: COUNT_OPS[workload]]

    def get(i, layer, key):
        return ops[i].get(layer, {}).get(key, 0)

    def t_med(layer, key, scale=1000.0):
        # median over the ops where the layer recorded this value
        return median(ops[i][layer][key] * scale for i in order if key in ops[i].get(layer, {}))

    def count(layer, key):
        return sum(get(i, layer, key) for i in prefix)

    def note(key):
        return sum(notes.get(i, {}).get(key, 0) for i in prefix)

    def query_note(kind, key):
        return sum(notes.get(i, {}).get(key, 0) for i in prefix if notes.get(i, {}).get("kind") == kind)

    # Python nodes under a compress span (backfill) or a refresh (ingest,
    # dashboard setup) are compress_series' encoder; under a decode span,
    # read_blocks_slice's decoder
    def enc_med(key):
        vals = [
            get(i, "compress", key) + get(i, "continuous", key) for i in order
            if key in ops[i].get("compress", {}) or key in ops[i].get("continuous", {})
        ]
        return median(vals)

    def enc_count(key):
        return count("compress", key) + count("continuous", key)

    def n_queries(kind):
        return sum(1 for i in prefix if notes.get(i, {}).get("kind") == kind)

    snap_bytes = note("snapshot_bytes")
    return {
        "rollup.busy_ms": t_med("rollup", "busy_s"),
        "rollup.exec_run_ms": t_med("rollup", "run_ms", 1.0),
        "rollup.shuffle_write_bytes": count("rollup", "shuffle_write_bytes"),
        "rollup.spill_bytes": count("rollup", "spill_bytes"),
        "rollup.spark_jobs": count("rollup", "jobs"),
        "rollup.points_out": note("tier_points") if workload == "backfill" else 0,
        "rollup.cached_bytes_after": note("cached_bytes"),
        "compress.busy_ms": t_med("compress", "busy_s"),
        "compress.py_run_ms": enc_med("py_run_ms"),
        "compress.py_bytes_in": enc_count("py_bytes_in"),
        "compress.py_bytes_out": enc_count("py_bytes_out"),
        "compress.points_in": note("compress_points_in"),
        "compress.blocks_out": enc_count("py_rows_out"),
        "compress.enc_bytes": note("enc_bytes"),
        "decode.busy_ms": t_med("decode", "busy_s"),
        "decode.py_run_ms": t_med("decode", "py_run_ms", 1.0),
        "decode.blocks_read": count("decode", "rows_scanned"),
        "decode.blocks_total": totals.get("blocks", 0) * n_queries("block_slice"),
        "decode.points_decoded": count("decode", "py_rows_out"),
        "decode.points_returned": query_note("block_slice", "rows_returned"),
        "slice.busy_ms": t_med("slice", "busy_s"),
        "slice.files_read": count("slice", "files_read"),
        "slice.files_total": totals.get("hour_files", 0) * n_queries("tier_slice"),
        "slice.rows_scanned": count("slice", "rows_scanned"),
        "slice.rows_returned": query_note("tier_slice", "rows_returned"),
        "m4.busy_ms": t_med("m4", "busy_s"),
        "m4.rows_in": query_note("m4", "rows_returned"),
        "m4.points_out": sum(
            notes.get(i, {}).get("result", [0])[0]
            for i in prefix if notes.get(i, {}).get("kind") == "m4"
        ),
        "snapshots.append_ms": t_med("snapshots", "busy_s"),
        "snapshots.bytes_written": snap_bytes,
        "snapshots.files": note("snapshot_files"),
        "tier_store.stage_ms": t_med("tier_store", "tier_store.stage.dur_s"),
        "tier_store.commit_ms": t_med("tier_store", "tier_store.commit.dur_s"),
        "tier_store.write_blocks_ms": t_med("tier_store", "tier_store.write_blocks.dur_s"),
        "tier_store.read_state_calls": note("read_state_calls"),
        "tier_store.dirty_partitions": note("dirty_partitions"),
        "tier_store.bytes_rewritten": note("bytes_rewritten"),
        "tier_store.write_amp": note("bytes_rewritten") / snap_bytes if snap_bytes else 0.0,
        "continuous.refresh_ms": t_med("continuous", "continuous.refresh.dur_s"),
        "continuous.self_ms": t_med("continuous", "self_s"),
        "continuous.spark_jobs": count("continuous", "jobs"),
        "continuous.manifest_bytes": note("manifest_bytes"),
        "continuous.expire_ms": t_med("continuous", "continuous.expire.dur_s"),
        "continuous.partitions_dropped": note("partitions_dropped"),
        "spark.gc_ms": median(notes.get(i, {}).get("gc_ms", 0) for i in order),
        "spark.py_worker_start_ms": t_med("op", "py_start_ms", 1.0),
        "spark.tasks": count("op", "tasks"),
        "spark.peak_rss_mb": peak_rss_mb,
        "op.self_ms": t_med("op", "self_s"),
        "traced.latency_p50_ms": median(lat) * 1000,
    }
