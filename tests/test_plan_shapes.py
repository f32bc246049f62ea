"""Physical-plan regression guards (PLANS.md claims, kept true by CI).

A plan that silently loses predicate pushdown, map-side combine, or the
broadcast strategy still returns correct rows at sf0.01 — and falls over at
100 TB. These tests pin the plan SHAPE, not the output.
"""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.operators.rollup import rollup
from tablecloth_time_spark.operators.similarity import brute_force_topk
from tablecloth_time_spark.operators.slice import slice_time
from tablecloth_time_spark.plans.continuous import ContinuousAggregate, TierSpec
from tablecloth_time_spark.plans.snapshots import FrameSource
from tests.conftest import executed_plan

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_slice_pushes_predicates_and_prunes_columns(events):
    p = executed_plan(
        slice_time(events, "ts", "2024-01-03", "2024-01-05").select("event_id", "ts")
    )
    assert "GreaterThanOrEqual(ts" in p and "LessThanOrEqual(ts" in p
    assert "PushedFilters: [" in p
    # projection pruned to the two selected columns at the scan
    assert "ReadSchema: struct<event_id:bigint,ts" in p


def test_rollup_is_partial_final_with_one_exchange(events):
    p = executed_plan(
        rollup(events, ["user_id"], "ts", 1, "hour", {"n": ("count", "event_id")})
    )
    assert p.count("HashAggregate") == 2  # map-side partial + final
    assert p.count("Exchange") == 1


def test_salted_rollup_is_two_phase(events):
    p = executed_plan(
        rollup(
            events, ["user_id"], "ts", 1, "hour",
            {"n": ("count", "event_id")},
            order_cols=["ts", "event_id"], salt=8,
        )
    )
    assert p.count("HashAggregate") == 4
    assert p.count("Exchange") == 2


def test_topk_broadcasts_queries_and_never_shuffles_corpus(spark, events):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter("vec_id < 3").selectExpr(
        "vec_id as query_id", "embedding as query_vec"
    )
    p = executed_plan(brute_force_topk(emb, q, k=5))
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_tier_table_bucket_predicate_pushdown(spark, events, tmp_path):
    """A slice of a tier a refresh wrote prunes ``p_date`` partitions, and
    its ``bucket`` predicate is pushed to the Parquet reader. The pushed
    ``bucket`` filter skips no file or row group: the engine writes
    ``bucket`` as INT96, into which Spark pushes no filter, so only the
    ``p_date`` prune cuts the read (PLANS.md, tier tables row)."""
    ca = ContinuousAggregate(
        spark, FrameSource(events), str(tmp_path / "agg"), ["user_id"], "ts",
        {"n": ("count", "event_id")}, tiers=(TierSpec("hour", 1, "hour"),),
        order_cols=["ts", "event_id"],
    )
    ca.refresh()
    p = executed_plan(
        ca.store.read_state("hour").filter(
            "p_date >= '2024-01-20' AND bucket >= timestamp'2024-01-20 00:00:00'"
        )
    )
    assert re.search(
        r"PartitionFilters: \[isnotnull\(p_date#\d+\), \(p_date#\d+ >= 2024-01-20\)\]", p
    ), p
    assert "PushedFilters: [IsNotNull(bucket), GreaterThanOrEqual(bucket" in p


def test_asof_join_is_union_window_not_range_join(spark, events):
    """asof_join must compile to union + ONE window exchange — never a
    join operator (a range join explodes to O(|l| x matching |r|) before
    the per-row argmax)."""
    from tablecloth_time_spark.operators.asof import asof_join

    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("rts")
    ).agg(F.sum("value").alias("hour_sum"))
    out = asof_join(
        events.select("event_id", "user_id", "ts"), hourly,
        on="user_id", left_ts="ts", right_ts="rts",
    )
    p = executed_plan(out)
    assert "Join" not in p, p
    assert "Window" in p
    # one exchange for the rollup, one hashpartitioning for the window key
    assert p.count("Exchange") <= 2


def test_sessionize_single_shuffle(spark, events):
    from tablecloth_time_spark.operators.sessions import sessionize

    p = executed_plan(sessionize(events, "user_id", "ts", 30, "minute"))
    assert p.count("Exchange") == 1
    assert "Join" not in p


def test_text_metrics_single_tokenize_pass(spark):
    """add_text_metrics must keep ONE normalize regex + ONE split in the
    optimized plan (the expression-helper form re-inlines them per metric:
    20 regexp_replace / 11 split measured before the restructure)."""
    from tablecloth_time_spark.functions.text import add_text_metrics

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = add_text_metrics(docs, "text").select(
        "doc_id", "ws_tokens", "stopword_ratio", "mean_word_len", "quality_score"
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace") == 1, plan
    assert plan.count("split(") == 1, plan


def test_text_metrics_match_expression_helpers(spark):
    """Restructured metrics must be value-identical to the pure-expression
    helpers (which the DuckDB oracle pins)."""
    from tablecloth_time_spark.functions import text as TX

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    new = {
        r["doc_id"]: r
        for r in TX.add_text_metrics(docs, "text").collect()
    }
    old = docs.select(
        "doc_id",
        TX.token_count_ws("text").alias("ws_tokens"),
        TX.token_count_bpe("text").alias("bpe_tokens"),
        TX.punct_ratio("text").alias("punct_ratio"),
        TX.stopword_ratio("text").alias("stopword_ratio"),
        TX.mean_word_len("text").alias("mean_word_len"),
        TX.quality_score("text").alias("quality_score"),
    ).collect()
    assert len(old) == len(new) > 0
    for r in old:
        n = new[r["doc_id"]]
        for c in (
            "ws_tokens",
            "bpe_tokens",
            "punct_ratio",
            "stopword_ratio",
            "mean_word_len",
            "quality_score",
        ):
            assert n[c] == pytest.approx(r[c], abs=1e-12), (r["doc_id"], c)


def test_no_per_row_python_in_package():
    """Input-hint mandate: only vectorized pandas/Arrow UDFs — no per-row
    Python UDFs, no RDD lambdas — anywhere in the package (SURVEY §7.2)."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "tablecloth_time_spark"
    offenders = []
    for f in pkg.rglob("*.py"):
        src = f.read_text()
        for pat in (r"\bF\.udf\(", r"@udf\b", r"\.rdd\.map", r"\.rdd\.flatMap",
                    r"\.foreach\(", r"\.rdd\.mapPartitions"):
            if re.search(pat, src):
                offenders.append((str(f), pat))
    assert not offenders, offenders


def test_counter_ops_single_shuffle(spark, events):
    """counter_rate / detect_gaps / twa are one-Exchange window plans —
    the same class as sessionize; no joins, no extra shuffles."""
    from tablecloth_time_spark.operators.counters import (
        counter_rate,
        detect_gaps,
        time_weighted_avg,
    )

    p = executed_plan(counter_rate(events, "user_id", "ts", "value"))
    assert p.count("Exchange") == 1 and "Join" not in p

    p = executed_plan(detect_gaps(events, "user_id", "ts", 2, "hour"))
    assert p.count("Exchange") == 1 and "Join" not in p

    # twa: one Exchange feeds BOTH the lead window and the bucket-grouped
    # aggregate; the struct-min agg plans as partial/final SortAggregate,
    # which reuses the window's sort — no extra Exchange, no extra Sort
    p = executed_plan(time_weighted_avg(events, "user_id", "ts", "value", 1, "day"))
    assert p.count("Exchange") == 1, p
    assert p.count("SortAggregate") == 2 and "Join" not in p
    assert p.count("Sort [") == 1, p  # the window's sort, reused by the agg


def test_interval_join_is_equi_join_not_nested_loop(spark, events):
    """interval_join must plan as a bucket EQUI-join (shuffled hash /
    sort-merge) — never BroadcastNestedLoopJoin or Cartesian, which is
    what the raw range predicate degenerates to."""
    from tablecloth_time_spark.operators.intervals import interval_join

    ivs = events.filter("event_type = 'error'").select(
        F.col("event_id").alias("iv_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
    )
    p = executed_plan(
        interval_join(
            events.select("event_id", "ts"), ivs, "ts", "start", "end",
            bucket_width=2, unit="hour",
        )
    )
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), p


def test_topk_per_bucket_map_side_combine(spark, events):
    """The count aggregate must partial/final combine (shuffle carries one
    row per distinct pair), then one window over the distinct frame."""
    from tablecloth_time_spark.operators.stats import topk_per_bucket

    p = executed_plan(topk_per_bucket(events, "event_type", "ts", 1, "day", k=3))
    assert p.count("HashAggregate") == 2, p
    assert "Window" in p and "Join" not in p


def test_distinct_rollup_shapes(spark, events):
    """Exact path: two-level dedup+count (2 Exchanges, both map-side
    combined). Approx path: one partial/final HLL aggregate, one Exchange
    — constant-size sketches, the 100 TB shape."""
    from tablecloth_time_spark.operators.stats import distinct_rollup

    p = executed_plan(distinct_rollup(events, ["event_type"], "ts", "user_id", 1, "day"))
    assert p.count("Exchange") == 2 and p.count("HashAggregate") == 4, p

    p = executed_plan(
        distinct_rollup(
            events, ["event_type"], "ts", "user_id", 1, "day", exact=False
        )
    )
    assert p.count("Exchange") == 1, p
    assert p.count("HashAggregate") + p.count("ObjectHashAggregate") == 2, p


def test_near_dup_pair_dedup_exchange_carries_no_vectors(spark):
    """cosine_near_dup_pairs: vectors ride ONLY the bucket equi-join
    shuffle; the quadratic candidate stream is scored + thresholded in the
    join's output projection, so the pair-dedup Exchange that follows
    carries (id_a, id_b, cosine_sim) and NO array column. Regression guard
    for the r3 restructure (similarity.py:cosine_near_dup_pairs)."""
    from tablecloth_time_spark.operators.similarity import cosine_near_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = executed_plan(cosine_near_dup_pairs(emb, dim=64, threshold=0.9))
    # the dedup is a partial/final aggregate pair over the pair keys
    assert "Join" in p
    # every hashpartitioning Exchange above the join keys on pair ids /
    # their agg, never on a bucket tuple carrying __vec
    lines = p.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange hashpartitioning" in ln and "id_a" in ln:
            assert "__vec" not in ln and "embedding" not in ln
    # the only Exchanges that mention the vector column are the two
    # bucket-join sides (one per join input)
    vec_exchanges = [
        ln for ln in lines
        if "Exchange hashpartitioning" in ln
        and ("__vec" in ln or "embedding" in ln)
    ]
    assert len(vec_exchanges) <= 2
    # and a pair-id Exchange exists that does NOT carry vectors
    pair_exchanges = [
        ln for ln in lines
        if "Exchange hashpartitioning(id_a" in ln
    ]
    assert pair_exchanges and all(
        "__vec" not in ln and "embedding" not in ln for ln in pair_exchanges
    )


def test_deterministic_sample_is_shuffle_free(events):
    """hash sampling / split assignment are pure row-local expressions:
    no Exchange anywhere — they ride the scan inside codegen."""
    from tablecloth_time_spark.operators.sample import (
        assign_splits,
        deterministic_sample,
    )

    p = executed_plan(deterministic_sample(events, "event_id", 0.25))
    assert "Exchange" not in p, p
    p = executed_plan(
        assign_splits(events, "event_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    )
    assert "Exchange" not in p, p


def test_stratified_sample_single_shuffle(events):
    from tablecloth_time_spark.operators.sample import stratified_sample_exact

    p = executed_plan(stratified_sample_exact(events, ["event_type"], "event_id", 10))
    assert p.count("Exchange") == 1, p


def test_decomposition_seasonal_join_broadcasts(events):
    """classical_decomposition: the big table shuffles once (series-key
    window); the (keys x m) seasonal-index join must be a broadcast hash
    join, never a sort-merge over the fact table."""
    from tablecloth_time_spark.operators.decompose import classical_decomposition

    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    p = executed_plan(
        classical_decomposition(
            daily, ["event_type"], "day", "y", 7, season_col=F.dayofweek("day")
        )
    )
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_minhash_md5_variant_same_plan_shape(spark):
    """The hash_fn='md5' verifiability variant must keep the xxhash64
    path's plan shape: ONE hash-aggregate signature pass (partial+final
    over the exploded shingles) and no Python anywhere — md5/conv are
    codegen expressions, so switching the hash must not add stages."""
    from tablecloth_time_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plans = {
        fn: executed_plan(minhash_signatures(docs, shingle_words=2, hash_fn=fn))
        for fn in ("xxhash64", "md5")
    }
    for fn, p in plans.items():
        assert p.count("Exchange") == 1, (fn, p)
        assert "MapInPandas" not in p and "BatchEvalPython" not in p, fn
        # partial + final over the exploded shingle scan
        assert p.count("HashAggregate") == 2, (fn, p)


def test_ewma_is_pure_window_plan(events):
    """ewma compiles to window prefix sums over ONE Exchange — NO Arrow
    kernel (r4: the cancellation + segment-anchored-exponent rewrite
    replaced the pandas ewm kernel; this pins the regression)."""
    from tablecloth_time_spark.operators.counters import ewma

    p = executed_plan(ewma(events, "user_id", "ts", "value", halflife=1, unit="hour"))
    assert "MapInPandas" not in p and "FlatMapGroupsInPandas" not in p, p
    assert p.count("Exchange") == 1 and "Join" not in p, p
    assert "Window" in p, p
    # absolute-epoch segment anchoring makes seg monotone in ts, so all
    # four window specs share the single (key, seg, ts) in-partition sort
    assert p.count("Sort [") == 1, p


def test_gapfill_linear_has_no_python(events):
    """linear/nearest gap-fill compile to window exprs over one sort —
    NO Arrow kernel (r3: the Arrow interp kernel was replaced by
    opposite-direction window frames; this pins the regression)."""
    from tablecloth_time_spark.operators.gapfill import resample_to_regular_grid

    for method in ("linear", "nearest"):
        p = executed_plan(
            resample_to_regular_grid(
                events, ["user_id"], "ts", "value", 1, "hour", method=method
            )
        )
        assert "MapInPandas" not in p and "FlatMapGroupsInPandas" not in p, p
        assert "Window" in p, p


def test_star_rollup_broadcasts_all_dims(spark):
    """The star-schema quarterly rollup broadcasts every dimension —
    three BroadcastHashJoins, no SortMergeJoin/ShuffledHashJoin: the
    fact table shuffles exactly once, for the final aggregate."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    df = E.q_star_rollup(spark, "/root/testdata/sf0.001")
    plan = executed_plan(df)
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # AQE may plan the small-SF agg without a shuffle stage boundary
    # visible pre-execution; the invariant is the JOIN side
    assert "BatchEvalPython" not in plan


def test_arrival_stats_single_exchange_window_agg_fusion(events):
    from tablecloth_time_spark.operators.stats import arrival_stats

    p = executed_plan(arrival_stats(events, ["user_id"], "ts", order_cols=["event_id"]))
    # the lag window's Exchange is the ONLY shuffle: the per-key
    # aggregate's partial AND final both run on the window's clustering
    assert p.count("Exchange") == 1
    assert "Window" in p and "partial_stddev_samp" in p


def test_categorical_entropy_two_mergeable_aggregates(events):
    from tablecloth_time_spark.operators.stats import categorical_entropy

    p = executed_plan(categorical_entropy(events, ["user_id"], "event_type"))
    # count-per-(key,cat) + per-key fold, both with map-side partials;
    # no window, no Python anywhere in the plan
    assert p.count("Exchange") == 2
    assert "partial_count" in p and "partial_sum" in p
    assert "Window" not in p and "Python" not in p


def test_role_ngrams_share_window_is_post_aggregate_only(events):
    from tablecloth_time_spark.operators.transcripts import role_ngrams

    p = executed_plan(role_ngrams(events, "user_id", ["ts", "event_id"], "event_type"))
    # the SinglePartition exchange must sit ABOVE the per-gram aggregate
    # (it runs over the |vocab|^n frame, never over the raw table)
    single = p.index("Exchange SinglePartition")
    gram_agg = p.index("count(distinct")
    assert single < gram_agg  # physical plans print top-down
    # exactly one shuffle touches raw-table-sized data: the lag window's.
    # The exact distinct is two-phase ((gram, conv) then gram — both
    # id-only), plus the tiny single-partition share window: 4 total
    assert p.count("Exchange") == 4
