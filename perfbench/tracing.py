"""Outside-in tracing: spans taken around calls into the engine's layers,
plus counters read from Spark's own status stores.

Nothing here reaches inside the engine. A span is opened in the
benchmark's files around one call into a layer; Spark stages, jobs and SQL
executions are attributed afterwards to the innermost span whose
[start, end] interval holds their submission time. Ops run one at a time,
so each stage, job and execution falls in exactly one op.

Span names are ``<layer>.<detail>``; the layer is the part before the
first dot (``op``, ``rollup``, ``compress``, ``decode``, ``slice``, ``m4``,
``snapshots``, ``tier_store``, ``continuous``).
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

from tablecloth_time_spark.plans.tier_store import TierStore


class Tracer:
    """Spans kept in memory and written out once, when the run ends.

    A disabled tracer records nothing, so end-to-end runs pay only the
    cost of entering an empty context manager per layer call.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> seconds of its interval not covered by its children."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# -- Spark status stores ------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}


def parse_metric(text: str) -> float:
    """A SQL metric's display string -> number (bytes, ms or count).

    Spark renders per-task metrics as ``total (min, med, max ...)\\n<total>
    (<min>, ...)``; the total is the first value after the line break.
    """
    line = text.split("\n", 1)[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt_ms(jopt) -> float | None:
    return jopt.get().getTime() / 1000.0 if jopt.isDefined() else None


class SparkCounters:
    """Reads stages, jobs and SQL node metrics that appeared since the last
    call. Call :meth:`poll` after each op, so that the status stores'
    retention limits never drop an op's records."""

    PY_NODE = "MapInPandas"  # the one Python UDF node the workloads run

    def __init__(self, spark):
        self.spark = spark
        self._gw = spark.sparkContext._gateway
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stage_seen = -1
        self._job_seen = -1
        self._exec_seen = -1
        self.stages: list[dict] = []
        self.jobs: list[dict] = []
        self.executions: list[dict] = []
        # per-op values the workload reads from outside Spark (bytes on
        # disk, manifest size, ...), keyed by op index
        self.notes: dict[int, dict] = {}

    def note(self, op: int, **values) -> None:
        self.notes.setdefault(op, {}).update(values)

    def poll(self) -> None:
        empty = self._gw.new_array(self._gw.jvm.double, 0)
        for s in _seq(self._app.stageList(None, False, False, empty, None)):
            sid = s.stageId()
            if sid <= self._stage_seen or s.status().toString() != "COMPLETE":
                continue
            self.stages.append({
                "id": sid,
                "t": _opt_ms(s.submissionTime()),
                "run_ms": s.executorRunTime(),
                "gc_ms": s.jvmGcTime(),
                "tasks": s.numTasks(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        for j in _seq(self._app.jobsList(None)):
            if j.jobId() > self._job_seen:
                self.jobs.append({"id": j.jobId(), "t": _opt_ms(j.submissionTime())})
        for e in _seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= self._exec_seen or not e.completionTime().isDefined():
                continue
            values = self._sql.executionMetrics(eid)
            nodes = []
            for n in _seq(self._sql.planGraph(eid).allNodes()):
                ms = {}
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = parse_metric(v.get())
                nodes.append({"name": n.name(), "metrics": ms})
            self.executions.append(
                {"id": eid, "t": e.submissionTime() / 1000.0, "nodes": nodes}
            )
        self._stage_seen = max([self._stage_seen] + [s["id"] for s in self.stages])
        self._job_seen = max([self._job_seen] + [j["id"] for j in self.jobs])
        self._exec_seen = max([self._exec_seen] + [e["id"] for e in self.executions])

    def cached_bytes(self) -> int:
        return sum(
            i.memSize() + i.diskSize()
            for i in self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        )

    def gc_ms(self) -> int:
        mx = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans())

    def peak_rss_mb(self) -> float:
        """High-water resident set of the driver JVM (local mode: the
        executors too) plus this Python process."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        total = 0.0
        for p in (pid, os.getpid()):
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
        return total


def innermost(spans: list[dict], t: float) -> dict | None:
    """Deepest span whose interval holds instant ``t`` (the latest-started
    one, since spans nest)."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


class TracingTierStore:
    """Delegating :class:`TierStore` that spans every storage call.

    Passed to ``ContinuousAggregate(store=...)``; it forwards every call
    unchanged and records, per call, the time taken and what was written.
    """

    def __init__(self, inner: TierStore, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer
        self.read_state_calls = 0
        self.dirty_partitions = 0
        self.bytes_rewritten = 0

    def take(self) -> dict:
        """This op's storage counters; resets them for the next op."""
        out = {
            "read_state_calls": self.read_state_calls,
            "dirty_partitions": self.dirty_partitions,
            "bytes_rewritten": self.bytes_rewritten,
        }
        self.read_state_calls = self.dirty_partitions = self.bytes_rewritten = 0
        return out

    def tier_exists(self, tier):
        return self.inner.tier_exists(tier)

    def read_state(self, tier):
        self.read_state_calls += 1
        with self.tracer.span("tier_store.read_state", tier=tier):
            return self.inner.read_state(tier)

    def stage(self, tier, merged, dirty, run_id):
        with self.tracer.span("tier_store.stage", tier=tier):
            info = self.inner.stage(tier, merged, dirty, run_id)
        self.dirty_partitions += len(info["dirty_partitions"])
        if "staged_path" in info:
            self.bytes_rewritten += tree_bytes(info["staged_path"])
        return info

    def commit(self, tier, info):
        with self.tracer.span("tier_store.commit", tier=tier):
            self.inner.commit(tier, info)

    def list_partitions(self, tier):
        return self.inner.list_partitions(tier)

    def drop_partitions(self, tier, partitions):
        with self.tracer.span("tier_store.drop_partitions", tier=tier):
            self.inner.drop_partitions(tier, partitions)

    def write_blocks(self, tier, blocks):
        with self.tracer.span("tier_store.write_blocks", tier=tier):
            self.inner.write_blocks(tier, blocks)

    def read_blocks(self, tier):
        with self.tracer.span("tier_store.read_blocks", tier=tier):
            return self.inner.read_blocks(tier)


def tree_files(path: str, suffix: str = ".parquet") -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        out.extend(os.path.join(d, f) for f in files if f.endswith(suffix))
    return sorted(out)


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in tree_files(path))


def op_breakdown(spans: list[dict], counters: SparkCounters) -> dict[int, dict]:
    """Per op index: ``{layer: {metric: value}}``.

    Span time counts once per layer (``busy``: spans with no ancestor of
    the same layer) and as self time. A stage, job or SQL execution counts
    for every layer on the span chain from its innermost span up to the
    op, so a refresh's jobs include those its tier-store calls ran.
    """
    by_id = {s["id"]: s for s in spans}
    selft = self_times(spans)

    def chain(s):
        out = []
        while s is not None:
            out.append(s)
            s = by_id.get(s["parent"]) if s["parent"] is not None else None
        return out

    ops: dict[int, dict] = {}
    for s in spans:
        c = chain(s)
        if c[-1]["name"] != "op":
            continue
        acc = ops.setdefault(c[-1]["attrs"]["i"], {})
        layer = layer_of(s["name"])
        d = acc.setdefault(layer, {})
        if all(layer_of(a["name"]) != layer for a in c[1:]):
            d["busy_s"] = d.get("busy_s", 0.0) + s["end"] - s["start"]
        d["self_s"] = d.get("self_s", 0.0) + selft[s["id"]]
        key = s["name"] + ".dur_s"
        d[key] = d.get(key, 0.0) + s["end"] - s["start"]

    def credit(t, values):
        sp = innermost(spans, t) if t is not None else None
        if sp is None:
            return
        c = chain(sp)
        if c[-1]["name"] != "op":
            return
        acc = ops[c[-1]["attrs"]["i"]]
        for layer in {layer_of(a["name"]) for a in c}:
            d = acc.setdefault(layer, {})
            for k, v in values.items():
                d[k] = d.get(k, 0) + v

    for st in counters.stages:
        credit(st["t"], {
            "run_ms": st["run_ms"], "task_gc_ms": st["gc_ms"], "tasks": st["tasks"],
            "shuffle_write_bytes": st["shuffle_write_bytes"],
            "spill_bytes": st["spill_bytes"],
        })
    for j in counters.jobs:
        credit(j["t"], {"jobs": 1})
    for e in counters.executions:
        v: dict[str, float] = {}
        for n in e["nodes"]:
            m = n["metrics"]
            if n["name"] == SparkCounters.PY_NODE:
                for key, metric in (
                    ("py_run_ms", "time to run Python workers"),
                    ("py_start_ms", "time to start Python workers"),
                    ("py_bytes_in", "data sent to Python workers"),
                    ("py_bytes_out", "data returned from Python workers"),
                    ("py_rows_out", "number of output rows"),
                ):
                    v[key] = v.get(key, 0) + m.get(metric, 0)
            elif n["name"].startswith("Scan"):
                v["files_read"] = v.get("files_read", 0) + m.get("number of files read", 0)
                v["rows_scanned"] = v.get("rows_scanned", 0) + m.get("number of output rows", 0)
        credit(e["t"], v)
    return ops
