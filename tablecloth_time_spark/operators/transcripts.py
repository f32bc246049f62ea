"""Conversation-level turn-taking analytics over transcript tables.

The engine's payload is multi-turn conversation / agent transcripts
(conv_id, turn_idx, role, text, tool, ts) — the north-star input shape.
Beyond the time-series tiers (rollup/sessionize/compress), a transcript
pipeline needs CONVERSATION-shaped aggregates: how long did the
assistant take to answer, how is the dialogue structured (role
transitions), how tool-heavy is the agent. Both operators here are pure
window + aggregate algebra over the same per-conversation sort:

- one ``lag`` window partitioned by the conversation key (the engine's
  canonical per-series Exchange — same shape and same mega-thread skew
  posture as ``sessionize``: windows stream within a partition, AQE +
  the documented salt strategy apply when one conversation dominates);
- one hash aggregate that REUSES the window's hash partitioning (the
  keys match, so Catalyst plans no second Exchange — pinned in tests).

Role semantics are parameters, not assumptions: ``initiator`` /
``responder`` default to the transcript contract (user -> assistant)
but any ordered event stream with a type column fits (e.g. view ->
click funnels), which is also what the driver oracle exercises.

Reference anchor: the recipe track's group-by + aggregate composition
(SURVEY.md §2.2, notebooks' tc/group-by -> tc/aggregate) applied to the
north-star transcript table rather than a metric series.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tablecloth_time_spark.functions.timeops import to_epoch_millis


def _order(order_cols: str | list[str]) -> list[Column]:
    cols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    return [F.col(c).asc() for c in cols]


def conversation_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: str | list[str] = "turn_idx",
    ts_col: str = "ts",
    role_col: str = "role",
    text_col: str | None = "text",
    tool_col: str | None = "tool",
    initiator: str = "user",
    responder: str = "assistant",
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """One row per conversation: turn counts and text mass by role,
    tool-call rate, wall-clock duration, and the response-latency
    distribution (mean + p95 of the gap on initiator->responder
    transitions).

    ``exact=True`` uses ``F.percentile`` (sort-based, linear
    interpolation — the definition DuckDB's ``quantile_cont`` shares, so
    the driver oracle pins it); exact percentiles buffer each group's
    latencies, which per-CONVERSATION groups comfortably afford. For
    downstream re-aggregation at 100 TB (e.g. maintaining these rows
    incrementally through the continuous-aggregate seam, where partial
    states must MERGE) use ``exact=False`` -> ``approx_percentile``
    (KLL-sketch-style, mergeable, map-side-combinable) — the same
    exact/approx convention as ``percentile_rollup``.

    Latency is measured ONLY on adjacent initiator->responder turn
    pairs (the "user asked, assistant answered" gap); conversations
    without such a transition get null mean/p95 (undefined, not zero).
    ``text_col``/``tool_col`` may be None when the table lacks them —
    the char and tool metrics are then omitted.

    Output: conv, n_turns, duration_s, n_initiator, n_responder,
    [chars_initiator, chars_responder,] [tool_calls, tool_call_rate,]
    n_responses, mean_response_s, p95_response_s, first_role, last_role
    (``last_role == initiator`` marks an UNANSWERED conversation —
    the abandonment signal; both come from the lexicographic
    struct-min/max trick the rollup tiers use, so they stay mergeable).
    """
    ms = to_epoch_millis(ts_col)
    w = Window.partitionBy(conv_col).orderBy(*_order(order_cols))
    role = F.col(role_col)
    is_resp = (role == responder) & (F.lag(role).over(w) == initiator)
    response_s = F.when(
        is_resp, (ms - F.lag(ms).over(w)).cast("double") / 1000.0
    )

    order_struct = F.struct(
        *[F.col(c) for c in (
            [order_cols] if isinstance(order_cols, str) else order_cols
        )],
        role.alias("r"),
    )
    base = df.select(
        conv_col,
        ms.alias("__ms"),
        role.alias("__role"),
        *( [F.length(F.col(text_col)).alias("__chars")] if text_col else [] ),
        *( [F.col(tool_col).alias("__tool")] if tool_col else [] ),
        response_s.alias("__resp_s"),
        order_struct.alias("__ord"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_turns"),
        ((F.max("__ms") - F.min("__ms")).cast("double") / 1000.0).alias(
            "duration_s"
        ),
        F.count(F.when(F.col("__role") == initiator, 1)).alias(
            "n_initiator"
        ),
        F.count(F.when(F.col("__role") == responder, 1)).alias(
            "n_responder"
        ),
    ]
    if text_col:
        aggs += [
            F.coalesce(
                F.sum(
                    F.when(F.col("__role") == initiator, F.col("__chars"))
                ),
                F.lit(0),
            ).alias("chars_initiator"),
            F.coalesce(
                F.sum(
                    F.when(F.col("__role") == responder, F.col("__chars"))
                ),
                F.lit(0),
            ).alias("chars_responder"),
        ]
    if tool_col:
        aggs.append(F.count("__tool").alias("tool_calls"))
    p95 = (
        F.percentile(F.col("__resp_s"), F.lit(0.95))
        if exact
        else F.approx_percentile(
            F.col("__resp_s"), F.lit(0.95), F.lit(accuracy)
        )
    )
    aggs += [
        F.count("__resp_s").alias("n_responses"),
        F.avg("__resp_s").alias("mean_response_s"),
        p95.alias("p95_response_s"),
        # lexicographic struct min/max over the turn order — the same
        # mergeable first/last trick the rollup tiers use; a conversation
        # whose last_role == initiator ended UNANSWERED (abandonment)
        F.min("__ord").getField("r").alias("first_role"),
        F.max("__ord").getField("r").alias("last_role"),
    ]
    out = base.groupBy(conv_col).agg(*aggs)
    if tool_col:
        out = out.withColumn(
            "tool_call_rate",
            F.col("tool_calls").cast("double") / F.col("n_turns"),
        )
    return out


def sequence_fingerprints(
    df: DataFrame,
    key_cols: str | list[str] = "conv_id",
    order_cols: str | list[str] = "turn_idx",
    item_col: str = "text",
    hash_fn: str = "xxhash64",
    fingerprint_col: str = "fingerprint",
    n_col: str = "n_items",
    positions: str | None = None,
) -> DataFrame:
    """Order-sensitive fingerprint of each key's item SEQUENCE — the
    conversation-level exact-dedup primitive ("these two conversations
    are the same dialogue, turn for turn"), where row-level
    ``exact_dedup`` sees only single turns.

    Each item is hashed WITH ITS POSITION (``hash(pos || ':' ||
    item)``), and the per-key combine is a plain SUM of those tagged
    hashes (mod 2^60) — order sensitivity lives in the tags, so the
    combine itself is commutative/associative. How cheap the plan gets
    depends on where the position comes from:

    - ``positions=<col>``: the table already CARRIES a per-key position
      column (the transcripts shape's ``turn_idx``). Hashing happens
      before any shuffle and the SUM is genuinely MAP-SIDE COMBINABLE —
      only (key, 8-byte partial) pairs ride the one Exchange, the text
      never moves (the rollup-tier posture; no Window in the plan,
      pinned). At 10^12 turns this is the path to use. The column's
      values are the tags verbatim, so they must be a deterministic
      per-key position (dense 0-based recommended — two equal dialogues
      with differently-offset numbering fingerprint differently).
    - ``positions=None``: positions are derived as a row_number window
      over (key, order_cols). Honest cost: the window's Exchange runs
      BEFORE hashing, so keys + order columns + the item column all
      cross that one shuffle (still no whole-conversation buffering —
      unlike a collect+concat+hash — and the aggregate reuses the
      window's partitioning, one Exchange total). Use when no
      trustworthy position column exists.

    Two keys match iff (n_items, fingerprint) match (collision odds
    ~ n_keys² / 2^60 — a candidate filter; pair the survivors through
    ``operators.dedup.exact_dedup`` semantics on the full text if a
    guarantee is needed). Null items hash as a reserved sentinel
    (U+0000) distinct from the string 'null'.

    ``hash_fn``: 'xxhash64' (one JVM hash — the scale default) or 'md5'
    (``text.hash64_md5`` — bit-for-bit recomputable in any md5-capable
    engine, which is what gives the driver query a FULL independent SQL
    oracle; same convention as minhash/simhash/winnowing).

    Output: key_cols, n_items, fingerprint (non-negative int64).
    """
    from tablecloth_time_spark.functions.text import hash64_md5

    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(
            f"sequence_fingerprints: hash_fn must be 'xxhash64' or 'md5', "
            f"got {hash_fn!r}"
        )
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if positions is not None:
        idx = F.col(positions)
    else:
        w = Window.partitionBy(*keys).orderBy(*_order(order_cols))
        idx = F.row_number().over(w) - F.lit(1)
    elem = F.concat(
        idx.cast("string"),
        F.lit(":"),
        F.coalesce(F.col(item_col).cast("string"), F.lit("\u0000")),
    )
    h = F.xxhash64(elem) if hash_fn == "xxhash64" else hash64_md5(elem)
    tagged = df.select(*keys, h.cast("decimal(38,0)").alias("__h"))
    return tagged.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(n_col),
        F.pmod(F.sum("__h"), F.lit(2**60).cast("decimal(38,0)"))
        .cast("long")
        .alias(fingerprint_col),
    )


def budget_prefix(
    df: DataFrame,
    key_cols: str | list[str] = "conv_id",
    order_cols: str | list[str] = "turn_idx",
    cost_col: str = "n_tokens",
    budget: int = 2048,
    cum_col: str = "cum_cost",
) -> DataFrame:
    """Keep each key's longest PREFIX of rows (in ``order_cols`` order)
    whose cumulative ``cost_col`` stays within ``budget`` — the
    context-window trim for training-data prep ("the first N turns that
    fit 2048 tokens"), where :func:`~tablecloth_time_spark.operators.
    pack.pack_documents` bins whole documents, this trims WITHIN one.

    One running-sum ROWS frame over the per-key sort, then a filter —
    1 Exchange, no Python; the cumulative cost rides along as
    ``cum_col`` so downstream packing can budget the remainder. Null
    costs count as 0 (a missing token count never truncates the
    conversation). Costs are assumed non-negative — that is what makes
    ``cum <= budget`` a PREFIX (monotone cumsum): a negative cost could
    re-admit later rows after an overflow, and this operator will
    happily emit that non-contiguous set rather than scan twice to
    detect it (documented contract, enforced upstream where costs are
    token/char counts).
    """
    if budget <= 0:
        raise ValueError(f"budget_prefix: budget must be > 0, got {budget}")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w = (
        Window.partitionBy(*keys)
        .orderBy(*_order(order_cols))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.coalesce(F.col(cost_col), F.lit(0))).over(w)
    return df.withColumn(cum_col, cum).filter(F.col(cum_col) <= budget)


def role_transitions(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: str | list[str] = "turn_idx",
    ts_col: str = "ts",
    role_col: str = "role",
) -> DataFrame:
    """Dialogue-structure summary: one row per (from_role, to_role)
    adjacent-turn transition across all conversations, with the count
    and the gap distribution (mean + exact p95 seconds). The first turn
    of each conversation has no predecessor and is excluded.

    This is the behavioral-drift monitor for agent pipelines — a shift
    in the transition matrix (e.g. assistant->tool rate climbing) or in
    its latency profile shows up here long before per-turn metrics
    move. Same two-step plan as ``conversation_stats``: the lag window's
    Exchange on the conversation key, then ONE aggregate on
    (from_role, to_role) — the only shuffle of the tiny transition
    frame is on a handful of role-pair keys.
    """
    ms = to_epoch_millis(ts_col)
    w = Window.partitionBy(conv_col).orderBy(*_order(order_cols))
    prev_role = F.lag(F.col(role_col)).over(w)
    gap_ms = (ms - F.lag(ms).over(w)).cast("double")
    pairs = df.select(
        prev_role.alias("from_role"),
        F.col(role_col).alias("to_role"),
        gap_ms.alias("__gap_ms"),
        (gap_ms / 1000.0).alias("__gap_s"),
    ).filter(F.col("from_role").isNotNull())
    # mean accumulates EXACT integer milliseconds (sums below 2^53) and
    # divides once at the end, so the result is summation-order-free and
    # bit-reproducible across engines; the quantile interpolates over
    # per-row k/1000 doubles, which are already deterministic
    return pairs.groupBy("from_role", "to_role").agg(
        F.count(F.lit(1)).alias("transitions"),
        (F.avg("__gap_ms") / F.lit(1000.0)).alias("mean_gap_s"),
        F.percentile(F.col("__gap_s"), F.lit(0.95)).alias("p95_gap_s"),
    )


def alternation_runs(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: str | list[str] = "turn_idx",
    role_col: str = "role",
) -> DataFrame:
    """Per-conversation dialogue run-length profile: collapse each key's
    ordered ``role_col`` sequence into maximal runs of consecutive equal
    roles and summarize them — ``n_turns``, ``n_runs``, ``max_run_len``,
    ``mean_run_len`` (= n_turns / n_runs), ``alternation_ratio``
    (= (n_runs - 1) / (n_turns - 1): 1.0 for strict turn-taking, 0.0 for
    a single monologue, NULL for one-turn conversations — undefined, not
    zero), and ``longest_run_role`` (earliest run wins ties).

    Monologue runs are the turn-taking-health signal conversation_stats
    can't see: an agent that answers in six consecutive assistant turns
    and one that alternates cleanly have identical role counts but very
    different run profiles. Same skew posture as ``sessionize``.

    Plan: ONE raw-data Exchange. The lag window marks run starts, a
    running-sum window over the same sort numbers the runs (two Window
    nodes sharing one sort), and BOTH downstream aggregates —
    (key, run_id) run lengths, then the per-key fold — reuse the
    window's hash partitioning (grouping keys are supersets/equal of the
    partition key, so Catalyst plans no further Exchange; pinned in
    tests). Run identity uses null-SAFE role comparison: a NULL role is
    its own run value, never a silent run extension.
    """
    keys_order = _order(order_cols)
    w = Window.partitionBy(conv_col).orderBy(*keys_order)
    role = F.col(role_col)
    is_start = F.when(
        (F.row_number().over(w) == 1) | ~F.lag(role).over(w).eqNullSafe(role),
        F.lit(1),
    ).otherwise(F.lit(0))
    # keep conv_col UN-aliased through both windows so Catalyst sees one
    # partitioning attribute end to end (aliasing between the two Window
    # nodes forces a second Exchange; renamed only at the final groupBy)
    marked = df.select(
        conv_col,
        role.alias("__role"),
        *[F.col(c) for c in (
            [order_cols] if isinstance(order_cols, str) else order_cols
        )],
        is_start.alias("__start"),
    )
    wrun = (
        Window.partitionBy(conv_col)
        .orderBy(*keys_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs_rows = marked.select(
        F.col(conv_col).alias("__conv"),
        "__role",
        F.sum("__start").over(wrun).alias("__run"),
    )
    runs = runs_rows.groupBy("__conv", "__run").agg(
        F.count(F.lit(1)).alias("__len"),
        # role is constant within a run by construction (null-safe change
        # detection); min() keeps the aggregate mergeable and handles the
        # all-NULL run honestly
        F.min("__role").alias("__r"),
    )
    n_turns = F.sum("__len").cast("long")
    n_runs = F.count(F.lit(1)).cast("long")
    return runs.groupBy(F.col("__conv").alias(conv_col)).agg(
        n_turns.alias("n_turns"),
        n_runs.alias("n_runs"),
        F.max("__len").cast("long").alias("max_run_len"),
        (n_turns.cast("double") / n_runs.cast("double")).alias(
            "mean_run_len"
        ),
        F.try_divide(
            (n_runs - F.lit(1)).cast("double"),
            (n_turns - F.lit(1)).cast("double"),
        ).alias("alternation_ratio"),
        # (len, -run_id) is unique per key, so the struct-max picks the
        # longest run with the EARLIEST run breaking ties — the role
        # field never decides the comparison
        F.max(
            F.struct(
                F.col("__len").alias("l"),
                (-F.col("__run")).alias("nr"),
                F.col("__r").alias("r"),
            )
        ).getField("r").alias("longest_run_role"),
    )


def transition_latency_buckets(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: str | list[str] = "turn_idx",
    ts_col: str = "ts",
    role_col: str = "role",
    initiator: str = "user",
    responder: str = "assistant",
) -> DataFrame:
    """Response-latency calendar heatmap: for every adjacent
    initiator->responder turn pair, bucket by the RESPONDER turn's
    (ISO day-of-week, hour-of-day) and emit the per-bucket count plus
    the gap distribution (exact-ms mean + exact-interpolated p95
    seconds) — "how slow are answers on Monday mornings", the capacity/
    staffing view of the same signal ``role_transitions`` profiles by
    role pair.

    Plan: the one lag-window Exchange on the conversation key, then ONE
    aggregate on the (dow, hour) frame — at most 168 output rows, so the
    aggregate's shuffle carries a constant-bounded frame. Exactness
    discipline matches ``role_transitions``: the mean accumulates exact
    integer milliseconds and divides once (summation-order-free); each
    p95 input is one k/1000 division.
    """
    ms = to_epoch_millis(ts_col)
    w = Window.partitionBy(conv_col).orderBy(*_order(order_cols))
    role = F.col(role_col)
    is_resp = (role == responder) & (F.lag(role).over(w) == initiator)
    gap_ms = (ms - F.lag(ms).over(w)).cast("double")
    # calendar fields from UTC epoch millis, not the session time zone
    day_ms = F.pmod(ms, F.lit(86_400_000))
    epoch_day = ((ms - day_ms) / F.lit(86_400_000)).cast("long")
    pairs = df.select(
        F.when(is_resp, gap_ms).alias("__gap_ms"),
        # ISO day-of-week (Mon=1..Sun=7) — the engine's documented dow
        # convention (functions/timeops.py field extractors); epoch day 0,
        # 1970-01-01, was a Thursday
        (F.pmod(epoch_day + F.lit(3), F.lit(7)) + F.lit(1)).alias("iso_dow"),
        (day_ms / F.lit(3_600_000)).cast("long").alias("hour_of_day"),
    ).filter(F.col("__gap_ms").isNotNull())
    return pairs.groupBy("iso_dow", "hour_of_day").agg(
        F.count(F.lit(1)).alias("n_responses"),
        (F.avg("__gap_ms") / F.lit(1000.0)).alias("mean_gap_s"),
        F.percentile(F.col("__gap_ms") / F.lit(1000.0), F.lit(0.95)).alias(
            "p95_gap_s"
        ),
    )


def role_ngrams(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: str | list[str] = "turn_idx",
    role_col: str = "role",
    n: int = 3,
    sep: str = ">",
) -> DataFrame:
    """Corpus-wide dialogue-pattern mining: count every length-``n``
    window of the per-conversation ordered ``role_col`` sequence (role
    n-grams, e.g. ``user>assistant>tool``), with how many distinct
    conversations exhibit each pattern and its share of all n-gram
    occurrences. The standard dialogue-act sequence profile for
    transcript corpora (which interaction shapes dominate, which are
    rare enough to audit).

    Plan: ONE window Exchange on the conversation key materializes the
    n-1 lagged roles; rows whose window is incomplete (the first n-1
    turns of each conversation) or contains a NULL role are dropped
    BEFORE the aggregate so a NULL can never silently shorten a gram
    (concat_ws skips NULLs). The per-gram aggregate then shuffles only
    (gram, conv_id) pairs — the distinct-conversation count is exact and
    two-phase (partial distinct map-side). The trailing share is a
    window over the AGGREGATED frame, which holds at most
    |role vocabulary|^n rows — a constant, not a data-scale, so the
    single-partition window is safe at any corpus size.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    w = Window.partitionBy(conv_col).orderBy(*_order(order_cols))
    role = F.col(role_col)
    parts = [F.lag(role, n - 1 - i).over(w) for i in range(n - 1)] + [role]
    base = df.select(
        F.col(conv_col).alias("__conv"),
        *[p.alias(f"__p{i}") for i, p in enumerate(parts)],
    )
    complete = base.filter(
        reduce(and_, [F.col(f"__p{i}").isNotNull() for i in range(n)])
    )
    gram = F.concat_ws(sep, *[F.col(f"__p{i}") for i in range(n)])
    agg = complete.groupBy(gram.alias("ngram")).agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("__conv").alias("n_conversations"),
    )
    total = Window.partitionBy()  # over the tiny |vocab|^n aggregate
    return agg.withColumn(
        "share",
        F.col("n_occurrences") / F.sum("n_occurrences").over(total),
    )
