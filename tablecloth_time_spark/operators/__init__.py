"""Dataset-level operators composed from the functions/ expression library."""

from tablecloth_time_spark.operators.slice import slice_time, parse_key  # noqa: F401
from tablecloth_time_spark.operators.shift import (  # noqa: F401
    add_lag,
    add_lag_time,
    add_lags,
    add_lead,
    add_leads,
)
from tablecloth_time_spark.operators.time_columns import add_time_columns  # noqa: F401
from tablecloth_time_spark.operators.rollup import (  # noqa: F401
    AGG_BUILDERS,
    ohlc,
    rollup,
    rollup_cascade,
    rollup_tiers_long,
)
from tablecloth_time_spark.operators.counters import (  # noqa: F401
    counter_rate,
    detect_gaps,
    ewma,
    state_durations,
    time_weighted_avg,
)
from tablecloth_time_spark.operators.intervals import (  # noqa: F401
    interval_coverage,
    interval_join,
    merge_intervals,
)
from tablecloth_time_spark.operators.stats import (  # noqa: F401
    distinct_rollup,
    histogram_rollup,
    level_shift_scores,
    percentile_rollup,
    series_correlations,
    topk_per_bucket,
    trend_fit,
)
from tablecloth_time_spark.operators.downsample import (  # noqa: F401
    lttb_downsample,
    m4_downsample,
)
from tablecloth_time_spark.operators.cohorts import cohort_retention  # noqa: F401
from tablecloth_time_spark.operators.forecast import (  # noqa: F401
    backtest_accuracy,
    benchmark_forecast,
)
from tablecloth_time_spark.operators.dedup import (  # noqa: F401
    exact_dedup,
    ngram_overlap_flags,
    suppress_duplicate_events,
)
from tablecloth_time_spark.operators.asof import asof_join  # noqa: F401
from tablecloth_time_spark.operators.sessions import (  # noqa: F401
    session_stats,
    sessionize,
)
from tablecloth_time_spark.operators.validate import (  # noqa: F401
    ensure_time_column,
    is_sorted,
    sortedness_report,
)
from tablecloth_time_spark.operators.transcripts import (  # noqa: F401
    alternation_runs,
    budget_prefix,
    conversation_stats,
    role_ngrams,
    role_transitions,
    sequence_fingerprints,
    transition_latency_buckets,
)
from tablecloth_time_spark.operators.rolling import rolling, rolling_rows  # noqa: F401
from tablecloth_time_spark.operators.decompose import (  # noqa: F401
    classical_decomposition,
    decomposition_strength,
)
from tablecloth_time_spark.operators.sample import (  # noqa: F401
    assign_splits,
    deterministic_sample,
    hash_fraction,
    stratified_sample_exact,
)
from tablecloth_time_spark.operators.pack import (  # noqa: F401
    mixture_sample,
    pack_documents,
    packing_stats,
)
from tablecloth_time_spark.operators.acf import acf, pacf  # noqa: F401
from tablecloth_time_spark.operators.compress import (  # noqa: F401
    compress_series,
    decompress_blocks,
    read_blocks_slice,
)
