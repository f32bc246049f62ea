"""r5 final wave: inter-arrival burstiness, categorical entropy and role
n-grams — each re-derived independently in numpy/pandas over the
deterministic transcript generator, plus the closed-form edge cases
(regular process B = -1, uniform mix norm-entropy = 1, single category
entropy 0)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.stats import (
    arrival_stats,
    categorical_entropy,
)
from tablecloth_time_spark.operators.transcripts import role_ngrams
from tablecloth_time_spark.sources.transcripts import (
    generate_transcripts_pandas,
)

from tests.conftest import run_microbatches


@pytest.fixture(scope="module")
def tdata(spark):
    pdf = generate_transcripts_pandas(n_conv=30, seed=17)
    df = spark.createDataFrame(pdf)
    df.cache().count()
    return df, pdf


# ---------------------------------------------------------------- arrival


def test_arrival_stats_matches_numpy(spark, tdata):
    df, pdf = tdata
    got = (
        arrival_stats(df, ["conv_id"], "ts", order_cols=["turn_idx"])
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    for conv, g in pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id"):
        ms = g["ts"].astype("int64").to_numpy() // 1_000_000
        gaps = np.diff(ms) / 1000.0
        row = got.loc[conv]
        assert row["n_events"] == len(g)
        assert row["n_gaps"] == len(gaps)
        if len(gaps) == 0:
            assert pd.isna(row["mean_gap_s"])
            continue
        assert row["mean_gap_s"] == pytest.approx(gaps.mean(), rel=1e-12)
        if len(gaps) >= 2:
            sd = gaps.std(ddof=1)
            mu = gaps.mean()
            assert row["std_gap_s"] == pytest.approx(sd, rel=1e-9)
            assert row["cv"] == pytest.approx(sd / mu, rel=1e-9)
            assert row["burstiness"] == pytest.approx(
                (sd - mu) / (sd + mu), rel=1e-9, abs=1e-12
            )


def test_arrival_stats_regular_process_is_minus_one(spark):
    # clock-like arrivals: sd = 0 -> B = (0 - mu)/(0 + mu) = -1, cv = 0
    pdf = pd.DataFrame({
        "k": ["k"] * 10,
        "i": range(10),
        "ts": pd.date_range("2024-01-01", periods=10, freq="5min"),
    })
    df = spark.createDataFrame(pdf)
    out = arrival_stats(df, ["k"], "ts", order_cols=["i"]).collect()[0]
    assert out["std_gap_s"] == 0.0
    assert out["cv"] == 0.0
    assert out["burstiness"] == -1.0


def test_arrival_stats_single_event_undefined(spark):
    df = spark.createDataFrame(
        pd.DataFrame({
            "k": ["k"], "i": [0],
            "ts": [pd.Timestamp("2024-01-01")],
        })
    )
    out = arrival_stats(df, ["k"], "ts", order_cols=["i"]).collect()[0]
    assert out["n_events"] == 1 and out["n_gaps"] == 0
    assert out["mean_gap_s"] is None and out["burstiness"] is None


# ---------------------------------------------------------------- entropy


def test_categorical_entropy_matches_numpy(spark, tdata):
    df, pdf = tdata
    got = (
        categorical_entropy(df, ["conv_id"], "role")
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    for conv, g in pdf.groupby("conv_id"):
        c = g["role"].value_counts(dropna=False).to_numpy(dtype=float)
        p = c / c.sum()
        h = float(-(p * np.log2(p)).sum())
        row = got.loc[conv]
        assert row["n_rows"] == len(g)
        assert row["n_distinct"] == len(c)
        assert row["entropy_bits"] == pytest.approx(h, abs=1e-9)
        if len(c) > 1:
            assert row["norm_entropy"] == pytest.approx(
                h / math.log2(len(c)), abs=1e-9
            )


def test_categorical_entropy_uniform_and_degenerate(spark):
    rows = [("u", t) for t in "abcd" * 8] + [("s", "x")] * 5
    df = spark.createDataFrame(rows, ["k", "t"])
    out = {
        r["k"]: r
        for r in categorical_entropy(df, ["k"], "t").collect()
    }
    # uniform over 4 categories: H = 2 bits, normalized 1
    assert out["u"]["entropy_bits"] == pytest.approx(2.0, abs=1e-12)
    assert out["u"]["norm_entropy"] == pytest.approx(1.0, abs=1e-12)
    # single category: H = 0 by convention, normalized 0 (not null)
    assert out["s"]["entropy_bits"] == pytest.approx(0.0, abs=1e-12)
    assert out["s"]["norm_entropy"] == 0.0


def test_categorical_entropy_counts_null_as_category(spark):
    df = spark.createDataFrame(
        [("k", "a"), ("k", None), ("k", "a"), ("k", None)], ["k", "t"]
    )
    out = categorical_entropy(df, ["k"], "t").collect()[0]
    assert out["n_distinct"] == 2
    assert out["entropy_bits"] == pytest.approx(1.0, abs=1e-12)


# ---------------------------------------------------------------- n-grams


def _pandas_ngrams(pdf: pd.DataFrame, n: int = 3) -> pd.DataFrame:
    recs = []
    for conv, g in pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id"):
        roles = g["role"].tolist()
        for i in range(len(roles) - n + 1):
            win = roles[i : i + n]
            if any(r is None for r in win):
                continue
            recs.append((conv, ">".join(win)))
    f = pd.DataFrame(recs, columns=["conv", "ngram"])
    out = f.groupby("ngram").agg(
        n_occurrences=("conv", "size"), n_conversations=("conv", "nunique")
    )
    out["share"] = out["n_occurrences"] / out["n_occurrences"].sum()
    return out


def test_role_ngrams_matches_pandas(spark, tdata):
    df, pdf = tdata
    got = (
        role_ngrams(df, "conv_id", "turn_idx", "role", n=3)
        .toPandas()
        .set_index("ngram")
        .sort_index()
    )
    want = _pandas_ngrams(pdf, 3).sort_index()
    assert list(got.index) == list(want.index)
    assert (got["n_occurrences"] == want["n_occurrences"]).all()
    assert (got["n_conversations"] == want["n_conversations"]).all()
    np.testing.assert_allclose(got["share"], want["share"], rtol=1e-12)
    assert got["share"].sum() == pytest.approx(1.0, abs=1e-9)


def test_role_ngrams_null_role_never_shortens_a_gram(spark):
    # concat_ws silently skips NULLs — the operator must instead DROP
    # windows containing one, or 'a>b' and 'a>NULL>b' would collide
    rows = [
        ("c", 0, "a"), ("c", 1, None), ("c", 2, "b"),
        ("c", 3, "a"), ("c", 4, "b"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role"])
    got = {
        r["ngram"]: r["n_occurrences"]
        for r in role_ngrams(df, "conv_id", "turn_idx", "role", n=2).collect()
    }
    # windows touching the NULL are dropped entirely; the rest survive
    assert got == {"b>a": 1, "a>b": 1}


def test_role_ngrams_rejects_n_below_two(spark, tdata):
    df, _ = tdata
    with pytest.raises(ValueError):
        role_ngrams(df, "conv_id", "turn_idx", "role", n=1)


# ------------------------------------------------------- streaming twin


def test_streaming_type_entropy_matches_batch(spark, tmp_path):
    """Per-key category-count state carried across micro-batches: the
    LAST emitted row per key must equal the batch categorical_entropy on
    the same closed input (entropy within float summation-order noise,
    counts exact)."""
    from tablecloth_time_spark.streaming.stateful import (
        streaming_type_entropy,
    )

    rng = np.random.default_rng(11)
    n = 600
    rows = pd.DataFrame(
        {
            "k": rng.integers(0, 8, n).astype("int64"),
            "cat": pd.Series(
                rng.choice(["a", "b", "c", "d", None], n, p=[0.4, 0.3, 0.2, 0.05, 0.05])
            ),
            "seq": np.arange(n),
        }
    )
    full = spark.createDataFrame(rows)
    got_all = run_microbatches(
        spark, tmp_path,
        [rows.iloc[part] for part in np.array_split(np.arange(n), 3)],
        lambda s: streaming_type_entropy(s, "k", "cat"),
        schema=full.schema,
    ).toPandas()
    # per key: the row with the largest n_rows is the final state
    got = (
        got_all.sort_values(["k", "n_rows"], kind="stable")
        .groupby("k")
        .tail(1)
        .set_index("k")
        .sort_index()
    )
    exp = (
        categorical_entropy(full, ["k"], "cat")
        .toPandas()
        .set_index("k")
        .sort_index()
    )
    assert (got["n_rows"] == exp["n_rows"]).all()
    assert (got["n_distinct"] == exp["n_distinct"]).all()
    np.testing.assert_allclose(
        got["entropy_bits"], exp["entropy_bits"], atol=1e-9
    )
    np.testing.assert_allclose(
        got["norm_entropy"], exp["norm_entropy"], atol=1e-9
    )
    # monotone state: per-key emitted n_rows strictly increases per batch
    for _, g in got_all.groupby("k"):
        nr = g["n_rows"].sort_values().to_numpy()
        assert (np.diff(nr) > 0).all()
