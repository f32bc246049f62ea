"""streaming_sortedness == batch sortedness_report when micro-batches
respect arrival order — the engine's standard streamed-equals-batch pin,
including NULL-timestamp handling and cross-batch predecessor carry."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.validate import sortedness_report
from tablecloth_time_spark.streaming.stateful import streaming_sortedness

from tests.conftest import run_microbatches


def _fixture(n: int = 400, seed: int = 13) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    keys = rng.integers(0, 6, n).astype("int64")
    seq = np.zeros(n, dtype="int64")
    for k in np.unique(keys):
        m = keys == k
        seq[m] = np.arange(m.sum())
    base = pd.to_datetime("2024-05-01").value // 10**6
    # mostly-increasing times with jitter -> real inversions
    ms = base + np.cumsum(rng.integers(0, 60_000, n)) + rng.integers(
        -90_000, 90_000, n
    )
    ts = pd.Series(pd.to_datetime(ms, unit="ms"))
    ts[rng.random(n) < 0.05] = pd.NaT  # ~5% null timestamps
    return pd.DataFrame({"k": keys, "seq": seq, "ts": ts})


def test_streaming_sortedness_matches_batch(spark, tmp_path):
    rows = _fixture()
    full = spark.createDataFrame(rows)

    # split by GLOBAL arrival order -> per-key in-seq micro-batches
    order = rows.sort_values(["seq"], kind="stable").index.to_numpy()
    got = (
        run_microbatches(
            spark, tmp_path,
            [rows.loc[part] for part in np.array_split(order, 3)],
            lambda s: streaming_sortedness(s, "k", "seq", "ts"),
            schema=full.schema,
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("is_null").cast("long")).alias("n_nulls"),
            F.sum(F.col("is_violation").cast("long")).alias("n_violations"),
        )
        .toPandas()
        .sort_values("k", kind="stable")
        .reset_index(drop=True)
    )
    exp = (
        sortedness_report(full, "ts", partition_by="k", order_by="seq")
        .select("k", "n_rows", "n_nulls", "n_violations")
        .toPandas()
        .sort_values("k", kind="stable")
        .reset_index(drop=True)
    )
    assert (exp["n_nulls"].sum(), exp["n_violations"].sum()) != (0, 0)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_streaming_sortedness_null_predecessor_carry(spark, tmp_path):
    """A batch ENDING on a NULL timestamp must carry 'previous row was
    null' across the boundary: the next batch's first row can then never
    be a violation (matching the batch lag semantics)."""
    t0 = pd.Timestamp("2024-05-01")
    b1 = pd.DataFrame(
        {"k": ["a", "a"], "seq": [0, 1],
         "ts": [t0 + pd.Timedelta(minutes=9), pd.NaT]}
    )
    b2 = pd.DataFrame(
        {"k": ["a", "a"], "seq": [2, 3],
         "ts": [t0, t0 + pd.Timedelta(minutes=1)]}
    )
    rows = pd.concat([b1, b2], ignore_index=True)
    full = spark.createDataFrame(rows)
    got = (
        run_microbatches(
            spark, tmp_path, [b1, b2],
            lambda s: streaming_sortedness(s, "k", "seq", "ts"),
            schema=full.schema,
        )
        .toPandas()
        .sort_values("seq", kind="stable")
        .reset_index(drop=True)
    )
    # seq2 follows the NULL row -> not a violation despite t0 < t0+9m;
    # seq1 is the null; seq3 is in order
    assert got["is_violation"].tolist() == [False, False, False, False]
    assert got["is_null"].tolist() == [False, True, False, False]
    exp = sortedness_report(
        full, "ts", partition_by="k", order_by="seq"
    ).collect()[0]
    assert exp["n_violations"] == 0 and exp["n_nulls"] == 1


def test_streaming_alternation_runs_matches_batch(spark, tmp_path):
    """Final per-key emission of the streaming run-length profile equals
    the batch alternation_runs on the full input (in-order replay,
    3 micro-batches, state carried across run boundaries)."""
    from tablecloth_time_spark.operators.transcripts import alternation_runs
    from tablecloth_time_spark.streaming.stateful import (
        streaming_alternation_runs,
    )

    rng = np.random.default_rng(23)
    n = 500
    keys = rng.integers(0, 7, n).astype("int64")
    seq = np.zeros(n, dtype="int64")
    for k in np.unique(keys):
        m = keys == k
        seq[m] = np.arange(m.sum())
    roles = pd.Series(
        np.take(np.array(["user", "assistant", "tool"]), rng.integers(0, 3, n))
    )
    roles[rng.random(n) < 0.04] = None  # NULL roles are their own run value
    rows = pd.DataFrame({"k": keys, "seq": seq, "role": roles})
    full = spark.createDataFrame(rows)

    order = rows.sort_values(["seq"], kind="stable").index.to_numpy()
    emitted = run_microbatches(
        spark, tmp_path,
        [rows.loc[part] for part in np.array_split(order, 3)],
        lambda s: streaming_alternation_runs(s, "k", "seq", "role"),
        schema=full.schema,
    ).toPandas()
    # last emission per key = the one with the largest running n_turns
    got = (
        emitted.sort_values(["k", "n_turns"], kind="stable")
        .groupby("k", as_index=False)
        .tail(1)
        .sort_values("k", kind="stable")
        .reset_index(drop=True)
    )
    exp = (
        alternation_runs(full, conv_col="k", order_cols="seq", role_col="role")
        .toPandas()
        .rename(columns={"k": "k"})
        .sort_values("k", kind="stable")
        .reset_index(drop=True)
    )
    cols = [
        "k", "n_turns", "n_runs", "max_run_len", "mean_run_len",
        "alternation_ratio", "longest_run_role",
    ]
    pd.testing.assert_frame_equal(got[cols], exp[cols], check_dtype=False)
