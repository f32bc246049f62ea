"""bench.py's query set and timing protocol, checked from its source and
pure helpers; no Spark session starts here."""

from __future__ import annotations

import ast
import inspect

import bench
from __spark_entry__ import queries

BENCH_ONLY = {"rollup_tiers_grouping_sets", "rollup_tiers_transcripts"}

MAIN = ast.parse(inspect.getsource(bench.main)).body[0]
LOCAL_FNS = {
    n.name: n for n in ast.walk(MAIN) if isinstance(n, ast.FunctionDef)
}


def _calls(name: str) -> list[ast.Call]:
    return [
        n for n in ast.walk(MAIN)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
        and n.func.id == name
    ]


def _registry_loops() -> list[ast.For]:
    return [
        n for n in ast.walk(MAIN)
        if isinstance(n, ast.For) and ast.unparse(n.iter) == "queries().items()"
    ]


def _methods_reached(node: ast.AST, seen: set[str]) -> set[str]:
    """Method names called from ``node``, following calls to functions
    defined in ``main``."""
    out = set()
    for sub in ast.walk(node):
        if not isinstance(sub, ast.Call):
            continue
        f = sub.func
        if isinstance(f, ast.Attribute):
            out.add(f.attr)
        elif isinstance(f, ast.Name) and f.id in LOCAL_FNS and f.id not in seen:
            seen.add(f.id)
            out |= _methods_reached(LOCAL_FNS[f.id], seen)
    return out


def test_timed_names_are_registry_keys_plus_two_bench_only():
    timed = _calls("timed")
    literal = [c.args[0].value for c in timed if isinstance(c.args[0], ast.Constant)]
    assert sorted(literal) == sorted(BENCH_ONLY)

    # every other timed call is the registry loop's, named by its key
    (loop,) = _registry_loops()
    key = loop.target.elts[0].id
    in_loop = {id(n) for n in ast.walk(loop)}
    rest = [c for c in timed if not isinstance(c.args[0], ast.Constant)]
    assert len(rest) == 1
    assert id(rest[0]) in in_loop and ast.unparse(rest[0].args[0]) == key
    # the bench-only entries run first
    assert all(c.lineno < loop.lineno for c in timed if c not in rest)

    assert not set(queries()) & BENCH_ONLY


def test_every_timed_run_is_a_warmed_noop_write():
    for call in _calls("timed"):
        fn = call.args[1]
        body = LOCAL_FNS[fn.id] if isinstance(fn, ast.Name) else fn
        reached = _methods_reached(body, set())
        assert not reached & {"count", "collect"}, ast.unparse(call)
        assert "save" in reached, ast.unparse(call)  # the noop sink
    noop = ast.unparse(LOCAL_FNS["noop"]).replace("'", '"')
    assert 'format("noop")' in noop

    # the registry run is warmed once, untimed, before it is timed
    (loop,) = _registry_loops()
    stmts = [ast.unparse(s) for s in loop.body]
    assert stmts.index("run()") < stmts.index("timed(name, run)")


def test_round_best_drops_names_this_run_did_not_time():
    prev = {"started": 1000.0, "value": 5.0, "queries": {"a": 0.5, "gone": 0.1}}
    started, value, best = bench.merge_round_best(
        {"a": 1.0, "b": 2.0}, 4.0, prev, now=2000.0
    )
    assert best == {"a": 0.5, "b": 2.0}
    assert started == 1000.0


def test_round_best_ignores_a_ledger_older_than_a_day():
    prev = {"started": 0.0, "value": 9e9, "queries": {"a": 0.1}}
    now = bench.LEDGER_TTL_S + 1.0
    assert bench.merge_round_best({"a": 1.0}, 4.0, prev, now) == (
        now, 4.0, {"a": 1.0}
    )
    assert bench.merge_round_best({"a": 1.0}, 4.0, None, now) == (
        now, 4.0, {"a": 1.0}
    )


def test_round_best_keeps_per_name_minimum_and_value_maximum():
    prev = {"started": 10.0, "value": 7.0, "queries": {"a": 0.5, "b": 3.0}}
    _, value, best = bench.merge_round_best({"a": 1.0, "b": 2.0}, 4.0, prev, 20.0)
    assert best == {"a": 0.5, "b": 2.0}
    assert value == 7.0
    _, value, _ = bench.merge_round_best({"a": 1.0}, 8.0, prev, 20.0)
    assert value == 8.0
