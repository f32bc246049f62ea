"""Round-trip property tests for the Gorilla XOR / delta-of-delta codecs.

SURVEY.md §5.2 item 4: decompress(compress(series)) == series exactly for
random-walk, constant, and gappy series — plus the Spark-level block
pipeline on the synthetic transcripts table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import session_conf
from tablecloth_time_spark.operators.compress import (
    compress_series,
    decode_floats_xor,
    decode_ints_dod,
    decompress_blocks,
    encode_floats_xor,
    encode_ints_dod,
)

rng = np.random.default_rng(7)


FLOAT_SERIES = {
    "empty": np.array([], dtype=np.float64),
    "single": np.array([3.25], dtype=np.float64),
    "pair": np.array([1.0, 1.0]),
    "constant": np.full(500, 42.125),
    "random_walk": np.cumsum(rng.normal(0, 1, 1000)),
    "gappy": np.where(rng.random(300) < 0.3, 0.0, rng.normal(5, 2, 300)),
    "extremes": np.array(
        [0.0, -0.0, 1e308, -1e308, 5e-324, np.inf, -np.inf, 1.5, -1.5]
    ),
    "nan": np.array([1.0, np.nan, 2.0, np.nan, np.nan]),
}


@pytest.mark.parametrize("name", list(FLOAT_SERIES))
def test_float_xor_roundtrip(name):
    v = FLOAT_SERIES[name]
    out = decode_floats_xor(encode_floats_xor(v))
    # bitwise equality (NaN payloads preserved exactly)
    assert out.view(np.uint64).tolist() == v.view(np.uint64).tolist()


INT_SERIES = {
    "empty": np.array([], dtype=np.int64),
    "single": np.array([1_700_000_000_000]),
    "pair": np.array([10, 17]),
    "regular_1s": 1_700_000_000_000 + 1000 * np.arange(2000),
    "jittered": 1_700_000_000_000
    + np.cumsum(rng.integers(0, 4000, 2000)),
    "dup_ts": np.sort(
        np.concatenate([np.arange(100) * 900_000] * 3) + 1_600_000_000_000
    ),
    "negative": np.cumsum(rng.integers(-(10**9), 10**9, 500)),
    "big_jumps": np.array([0, 2**40, -(2**40), 2**62, -(2**62), 17]),
    "counts": rng.integers(0, 50, 1000),
}


@pytest.mark.parametrize("name", list(INT_SERIES))
def test_int_dod_roundtrip(name):
    v = INT_SERIES[name].astype(np.int64)
    out = decode_ints_dod(encode_ints_dod(v))
    assert out.tolist() == v.tolist()


def test_regular_series_compresses_well():
    """A perfectly regular timestamp grid is the DoD codec's best case."""
    v = 1_700_000_000_000 + 60_000 * np.arange(10_000, dtype=np.int64)
    blk = encode_ints_dod(v)
    # 10k ts at 8 bytes raw = 80 KB; DoD should be ~1 bit/point + header
    assert len(blk) < 2000
    assert decode_ints_dod(blk).tolist() == v.tolist()


def test_constant_floats_compress_well():
    v = np.full(10_000, 3.75)
    blk = encode_floats_xor(v)
    assert len(blk) < 2000


# ---------------------------------------------------------------------------
# Spark block pipeline
# ---------------------------------------------------------------------------


def test_spark_compress_roundtrip(spark, transcripts_df):
    """Rollup minute-tier per conv -> compress to blocks -> decompress ->
    exact match against the uncompressed rollup."""
    from pyspark.sql import functions as F

    from tablecloth_time_spark.operators.rollup import rollup

    src = transcripts_df.withColumn("text_len", F.length("text").cast("long"))
    tier = rollup(
        src,
        ["conv_id"],
        "ts",
        1,
        "minute",
        {"n_turns": ("count", "turn_idx"), "sum_chars": ("sum", "text_len")},
        order_cols=["ts", "turn_idx"],
    ).withColumn("rate", F.col("n_turns").cast("double"))

    blocks = compress_series(
        tier,
        ts_col="bucket",
        value_cols={"n_turns": "int", "sum_chars": "int", "rate": "float"},
        key_col="conv_id",
        block_unit="day",
    )
    blocks.cache()
    stats = blocks.agg(
        {"raw_bytes": "sum", "enc_bytes": "sum", "n_points": "sum"}
    ).collect()[0]
    n_rows = tier.count()
    assert stats["sum(n_points)"] == n_rows
    assert stats["sum(enc_bytes)"] < stats["sum(raw_bytes)"]

    restored = decompress_blocks(
        blocks, {"n_turns": "int", "sum_chars": "int", "rate": "float"}
    )
    left = (
        restored.toPandas()
        .sort_values(["conv_id", "ts"], kind="stable")
        .reset_index(drop=True)
    )
    right = (
        tier.selectExpr(
            "conv_id", "bucket as ts", "n_turns", "sum_chars", "rate"
        )
        .toPandas()
        .sort_values(["conv_id", "ts"], kind="stable")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        left[sorted(left.columns)], right[sorted(right.columns)], check_dtype=False
    )


def test_blocks_identical_across_shuffle_partitions(spark, transcripts_df):
    """The (key, block) encode shuffle only decides which task encodes a
    block, never its bytes: blocks are byte-identical at 1 and 64 shuffle
    partitions."""
    from pyspark.sql import functions as F

    src = transcripts_df.withColumn("text_len", F.length("text").cast("long"))
    got = []
    for n in ("1", "64"):
        with session_conf(spark, {"spark.sql.shuffle.partitions": n}):
            pdf = compress_series(
                src,
                ts_col="ts",
                value_cols={"text_len": "int"},
                key_col="conv_id",
                block_unit="day",
                order_cols=["ts", "turn_idx"],
            ).toPandas()
        got.append(
            pdf.sort_values(["conv_id", "block_start"], kind="stable")
            .reset_index(drop=True)
        )
    assert len(got[0]) > 0
    pd.testing.assert_frame_equal(got[0], got[1])


def test_batched_encoders_byte_identical():
    """*_many must produce output byte-identical to the per-block encoders
    for every block size including the 0/1/2-point header-only forms."""
    import numpy as np

    from tablecloth_time_spark.operators.compress import (
        encode_floats_xor,
        encode_floats_xor_many,
        encode_ints_dod,
        encode_ints_dod_many,
    )

    rng = np.random.default_rng(5)
    sizes = [0, 1, 2, 3, 4, 7, 17, 100, 1000]
    iv = np.concatenate(
        [rng.integers(-(10**12), 10**12, s) for s in sizes]
    ).astype(np.int64)
    # add a near-regular series (the DoD sweet spot) and extreme values
    iv2 = np.concatenate(
        [iv, np.arange(500) * 60_000 + 17, np.array([2**62, -(2**62), 0, 1])]
    )
    sizes2 = sizes + [500, 4]
    ends = np.cumsum(sizes2)
    starts = ends - np.array(sizes2)
    got = encode_ints_dod_many(iv2, starts, ends)
    for b, (s, e) in enumerate(zip(starts, ends)):
        assert got[b] == encode_ints_dod(iv2[s:e]), f"int block {b} (n={e-s})"

    fv = np.concatenate(
        [
            rng.normal(size=sum(sizes)),
            np.repeat(3.14159, 500),
            np.array([0.0, -0.0, np.inf, 1e-300]),
        ]
    )
    got_f = encode_floats_xor_many(fv, starts, ends)
    for b, (s, e) in enumerate(zip(starts, ends)):
        assert got_f[b] == encode_floats_xor(fv[s:e]), f"float block {b} (n={e-s})"


def test_read_blocks_slice_matches_raw_slice(spark):
    """Serving a slice from the compressed tier: prune blocks by extent,
    decode survivors, exact per-point predicate == slice_time on the raw
    series; a narrow range decodes only the touched conversation-days."""
    import datetime as dt

    import numpy as np

    from tablecloth_time_spark.operators.compress import (
        compress_series,
        read_blocks_slice,
    )
    from tablecloth_time_spark.operators.slice import slice_time

    rng = np.random.default_rng(7)
    t0 = dt.datetime(2024, 2, 1)
    rows = []
    for k in ("c1", "c2"):
        offs = np.cumsum(rng.integers(600, 7200, 200))
        for o in offs:
            rows.append(
                (k, t0 + dt.timedelta(seconds=int(o)),
                 int(rng.integers(0, 50)), round(float(rng.normal()), 4))
            )
    raw = spark.createDataFrame(rows, ["conv_id", "ts", "n", "x"])
    blocks = compress_series(
        raw, ts_col="ts", value_cols={"n": "int", "x": "float"},
        key_col="conv_id", block_unit="day",
    ).cache()
    total_blocks = blocks.count()

    lo, hi = "2024-02-03", "2024-02-04 12:00:00"
    got = (
        read_blocks_slice(blocks, {"n": "int", "x": "float"}, lo, hi)
        .toPandas()
        .sort_values(["conv_id", "ts"], kind="stable")
        .reset_index(drop=True)
    )
    exp = (
        slice_time(raw, "ts", lo, hi)
        .toPandas()
        .sort_values(["conv_id", "ts"], kind="stable")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) > 0
    assert (got["ts"].to_numpy() == exp["ts"].to_numpy()).all()
    assert (got["n"].to_numpy() == exp["n"].to_numpy()).all()
    # floats decode bit-exact (Gorilla XOR is lossless)
    assert (got["x"].to_numpy() == exp["x"].to_numpy()).all()

    # pruning really prunes: the 1.5-day window touches <= 2 days x 2
    # convs — wall-clock comparisons, TZ-free (mirrors the operator)
    from pyspark.sql import functions as SF

    surviving = blocks.filter(
        (SF.col("block_start") <= SF.lit(dt.datetime(2024, 2, 4, 12)))
        & (SF.col("block_start")
           > SF.lit(dt.datetime(2024, 2, 3) - dt.timedelta(days=1)))
    ).count()
    assert surviving < total_blocks
    assert surviving <= 4

    with pytest.raises(ValueError, match="reversed"):
        read_blocks_slice(blocks, {"n": "int", "x": "float"}, hi, lo)
