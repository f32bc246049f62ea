"""Conversation turn-taking analytics: pandas re-derivation over the
deterministic transcript generator + plan pins (the window's Exchange is
the ONLY shuffle on the big table)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.transcripts import (
    conversation_stats,
    role_transitions,
)
from tablecloth_time_spark.sources.transcripts import (
    generate_transcripts_pandas,
)
from tests.conftest import executed_plan


@pytest.fixture(scope="module")
def tdata(spark):
    pdf = generate_transcripts_pandas(n_conv=40, seed=9)
    df = spark.createDataFrame(pdf)
    df.cache().count()
    return df, pdf


def _p95(x: np.ndarray) -> float:
    # linear interpolation — the F.percentile / quantile_cont definition
    return float(np.percentile(x, 95)) if len(x) else np.nan


def test_conversation_stats_matches_pandas(spark, tdata):
    df, pdf = tdata
    got = (
        conversation_stats(df)
        .toPandas()
        .sort_values("conv_id", kind="stable")
        .set_index("conv_id")
    )
    assert len(got) == pdf["conv_id"].nunique()
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx", kind="stable")
        ms = g["ts"].astype("int64").to_numpy() // 10**6
        roles = g["role"].to_numpy()
        row = got.loc[conv]
        assert row["n_turns"] == len(g)
        assert row["duration_s"] == pytest.approx(
            (ms.max() - ms.min()) / 1000.0
        )
        assert row["n_initiator"] == int((roles == "user").sum())
        assert row["n_responder"] == int((roles == "assistant").sum())
        assert row["chars_initiator"] == int(
            g.loc[g["role"] == "user", "text"].str.len().sum()
        )
        assert row["chars_responder"] == int(
            g.loc[g["role"] == "assistant", "text"].str.len().sum()
        )
        n_tool = int(g["tool"].notna().sum())
        assert row["tool_calls"] == n_tool
        assert row["tool_call_rate"] == pytest.approx(n_tool / len(g))
        resp = np.array(
            [
                (ms[i] - ms[i - 1]) / 1000.0
                for i in range(1, len(g))
                if roles[i] == "assistant" and roles[i - 1] == "user"
            ]
        )
        assert row["n_responses"] == len(resp)
        if len(resp):
            assert row["mean_response_s"] == pytest.approx(resp.mean())
            assert row["p95_response_s"] == pytest.approx(_p95(resp))
        else:
            assert pd.isna(row["mean_response_s"])
            assert pd.isna(row["p95_response_s"])
        assert row["first_role"] == roles[0]
        assert row["last_role"] == roles[-1]


def test_conversation_stats_generic_roles_and_optional_cols(spark):
    """Role semantics are parameters (view->click funnel) and the
    char/tool metrics vanish when the table lacks those columns."""
    pdf = pd.DataFrame(
        {
            "k": [1, 1, 1, 1],
            "i": [0, 1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:00:10",
                 "2024-01-01 00:01:00", "2024-01-01 00:01:30"]
            ),
            "typ": ["view", "click", "view", "click"],
        }
    )
    got = conversation_stats(
        spark.createDataFrame(pdf),
        conv_col="k", order_cols="i", ts_col="ts", role_col="typ",
        text_col=None, tool_col=None,
        initiator="view", responder="click",
    ).toPandas()
    assert "chars_initiator" not in got.columns
    assert "tool_calls" not in got.columns
    row = got.iloc[0]
    assert row["n_responses"] == 2
    assert row["mean_response_s"] == pytest.approx((10 + 30) / 2)


def test_role_transitions_matches_pandas(spark, tdata):
    df, pdf = tdata
    got = (
        role_transitions(df)
        .toPandas()
        .sort_values(["from_role", "to_role"], kind="stable")
        .set_index(["from_role", "to_role"])
    )
    rows = {}
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx", kind="stable")
        ms = g["ts"].astype("int64").to_numpy() // 10**6
        roles = g["role"].to_numpy()
        for i in range(1, len(g)):
            rows.setdefault((roles[i - 1], roles[i]), []).append(
                (ms[i] - ms[i - 1]) / 1000.0
            )
    assert set(got.index) == set(rows)
    for pair, gaps in rows.items():
        gaps = np.array(gaps)
        assert got.loc[pair, "transitions"] == len(gaps)
        assert got.loc[pair, "mean_gap_s"] == pytest.approx(gaps.mean())
        assert got.loc[pair, "p95_gap_s"] == pytest.approx(_p95(gaps))


def test_conversation_stats_plan_single_exchange(spark, tdata):
    """The lag window's Exchange on conv_id is REUSED by the groupBy
    (same key): one shuffle total, no Python."""
    df, _ = tdata
    plan = executed_plan(conversation_stats(df))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_role_transitions_plan_two_exchanges(spark, tdata):
    """Window Exchange on conv_id + the tiny role-pair aggregate's
    Exchange — nothing else, no Python."""
    df, _ = tdata
    plan = executed_plan(role_transitions(df))
    assert plan.count("Exchange") == 2
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_conversation_stats_approx_path(spark, tdata):
    """exact=False swaps in the mergeable approx_percentile sketch; at
    per-conversation sizes with full accuracy the sketch returns the
    EXACT ceil-rank order statistic s[ceil(p*n)-1] (probed convention),
    so it is re-derivable in pandas; everything else is identical."""
    import math

    df, pdf = tdata
    exact = (
        conversation_stats(df)
        .toPandas().sort_values("conv_id", kind="stable")
        .reset_index(drop=True)
    )
    approx = (
        conversation_stats(df, exact=False)
        .toPandas().sort_values("conv_id", kind="stable")
        .reset_index(drop=True)
    )
    other = [c for c in exact.columns if c != "p95_response_s"]
    pd.testing.assert_frame_equal(exact[other], approx[other])
    got = approx.set_index("conv_id")["p95_response_s"]
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx", kind="stable")
        ms = g["ts"].astype("int64").to_numpy() // 10**6
        roles = g["role"].to_numpy()
        resp = sorted(
            (ms[i] - ms[i - 1]) / 1000.0
            for i in range(1, len(g))
            if roles[i] == "assistant" and roles[i - 1] == "user"
        )
        if not resp:
            assert pd.isna(got.loc[conv])
            continue
        rank = min(len(resp) - 1, max(0, math.ceil(0.95 * len(resp)) - 1))
        assert got.loc[conv] == pytest.approx(resp[rank], rel=1e-12)


# ---------------------------------------------------------------------------
# sequence_fingerprints — conversation-level exact dedup


def _md5_h60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _fp_md5(items) -> int:
    return sum(_md5_h60(f"{i}:{v}") for i, v in enumerate(items)) % 2**60


def test_sequence_fingerprints_matches_hashlib(spark, tdata):
    from tablecloth_time_spark.operators.transcripts import (
        sequence_fingerprints,
    )

    df, pdf = tdata
    got = {
        r["conv_id"]: (r["n_items"], r["fingerprint"])
        for r in sequence_fingerprints(
            df, "conv_id", "turn_idx", "text", hash_fn="md5"
        ).collect()
    }
    assert len(got) == pdf["conv_id"].nunique()
    for conv, g in pdf.groupby("conv_id"):
        items = g.sort_values("turn_idx", kind="stable")["text"].tolist()
        assert got[conv] == (len(items), _fp_md5(items)), conv


def test_sequence_fingerprints_order_sensitivity(spark):
    """Same multiset of items in a different ORDER must not collide —
    the position tag is the whole point vs a bag-of-items hash."""
    from tablecloth_time_spark.operators.transcripts import (
        sequence_fingerprints,
    )

    rows = [
        ("c1", 0, "alpha"), ("c1", 1, "beta"), ("c1", 2, "gamma"),
        ("c2", 0, "beta"), ("c2", 1, "alpha"), ("c2", 2, "gamma"),
        ("c3", 0, "alpha"), ("c3", 1, "beta"), ("c3", 2, "gamma"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    for hash_fn in ("xxhash64", "md5"):
        got = {
            r["conv_id"]: r["fingerprint"]
            for r in sequence_fingerprints(df, hash_fn=hash_fn).collect()
        }
        assert got["c1"] == got["c3"], hash_fn  # identical sequences match
        assert got["c1"] != got["c2"], hash_fn  # permuted sequence differs


def test_sequence_fingerprints_null_vs_literal(spark):
    """A null item and the string 'null' must fingerprint differently;
    a null item and the U+0000 sentinel collide by documented contract."""
    from tablecloth_time_spark.operators.transcripts import (
        sequence_fingerprints,
    )

    rows = [("a", 0, None), ("b", 0, "null"), ("c", 0, "\x00")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {
        r["conv_id"]: r["fingerprint"]
        for r in sequence_fingerprints(df, hash_fn="md5").collect()
    }
    assert got["a"] != got["b"]
    assert got["a"] == got["c"]  # documented sentinel equivalence


# ---------------------------------------------------------------------------
# budget_prefix — token-budget context trim


def test_budget_prefix_matches_pandas(spark, tdata):
    from tablecloth_time_spark.operators.transcripts import budget_prefix

    df, pdf = tdata
    costed = df.withColumn("n_tokens", F.length("text"))
    got = (
        budget_prefix(costed, "conv_id", "turn_idx", "n_tokens", budget=600)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    keep_rows = []
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx", kind="stable")
        cum = g["text"].str.len().cumsum()
        kept = g[cum <= 600].copy()
        kept["cum_cost"] = cum[cum <= 600]
        keep_rows.append(kept)
    exp = (
        pd.concat(keep_rows)
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["conv_id"] == exp["conv_id"]).all()
    assert (got["turn_idx"].to_numpy() == exp["turn_idx"].to_numpy()).all()
    assert (got["cum_cost"].to_numpy() == exp["cum_cost"].to_numpy()).all()
    # prefix property: kept turn_idx per conv are exactly 0..len-1
    for conv, g in got.groupby("conv_id"):
        assert sorted(g["turn_idx"]) == list(range(len(g)))


def test_budget_prefix_null_cost_and_validation(spark):
    from tablecloth_time_spark.operators.transcripts import budget_prefix

    rows = [
        ("c", 0, 100), ("c", 1, None), ("c", 2, 100), ("c", 3, 50),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, n_tokens int")
    kept = budget_prefix(df, budget=200).collect()
    # null cost counts 0: turns 0,1,2 fit (100 + 0 + 100), turn 3 breaks
    assert sorted(r["turn_idx"] for r in kept) == [0, 1, 2]
    with pytest.raises(ValueError, match="budget"):
        budget_prefix(df, budget=0)


def test_budget_prefix_plan(spark, tdata):
    from tablecloth_time_spark.operators.transcripts import budget_prefix

    df, _ = tdata
    out = budget_prefix(
        df.withColumn("n_tokens", F.length("text")), budget=600
    )
    plan = executed_plan(out)
    assert plan.count("Exchange") == 1
    assert "Python" not in plan and "MapInPandas" not in plan


def test_sequence_fingerprints_validation_and_plan(spark, tdata):
    from tablecloth_time_spark.operators.transcripts import (
        sequence_fingerprints,
    )

    df, _ = tdata
    with pytest.raises(ValueError, match="hash_fn"):
        sequence_fingerprints(df, hash_fn="sha1")
    out = sequence_fingerprints(df)
    plan = executed_plan(out)
    # the aggregate reuses the row_number window's hash partitioning —
    # one Exchange total (the item column DOES cross it on this path;
    # the positions path below is the text-never-moves one)
    assert plan.count("Exchange") == 1
    assert "Python" not in plan and "MapInPandas" not in plan


def test_sequence_fingerprints_positions_path(spark, tdata):
    """positions=<existing per-key 0-based column> must (a) equal the
    row_number derivation exactly and (b) plan WITHOUT a Window — the
    hash + partial SUM run map-side, so only (key, 8-byte partial)
    pairs ride the one Exchange (the text never moves)."""
    from tablecloth_time_spark.operators.transcripts import (
        sequence_fingerprints,
    )

    df, _ = tdata
    derived = {
        r["conv_id"]: (r["n_items"], r["fingerprint"])
        for r in sequence_fingerprints(
            df, "conv_id", "turn_idx", "text", hash_fn="md5"
        ).collect()
    }
    direct = {
        r["conv_id"]: (r["n_items"], r["fingerprint"])
        for r in sequence_fingerprints(
            df, "conv_id", item_col="text", hash_fn="md5",
            positions="turn_idx",
        ).collect()
    }
    assert direct == derived
    # fresh (unexecuted) plan — a collected AQE plan prints Initial +
    # Final sections and double-counts the Exchange
    plan = (
        executed_plan(sequence_fingerprints(
            df, "conv_id", item_col="text", hash_fn="md5",
            positions="turn_idx",
        ))
    )
    assert "Window" not in plan  # no row_number — tags come from the table
    assert plan.count("Exchange") == 1
    # the partial aggregate sits BELOW the Exchange (map-side combine):
    # the shuffle carries partial sums, not text
    assert plan.index("partial_") > plan.index("Exchange")
