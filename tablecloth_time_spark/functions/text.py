"""Text-analysis expression library for training-data pipelines.

Everything here is a pure Catalyst column expression (whole-stage codegen,
no Python in the hot path): normalization, tokenization/counting, shingling,
quality scoring, language ID, fingerprints, and a SimHash built entirely
from higher-order array functions.

These are the text primitives under operators/dedup.py and the
documents-table queries in __spark_entry__.py. The reference has no text
surface (it is a time kernel); this module is part of the engine's
training-data extension mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish token pattern: letter runs, single digits, single punctuation —
# the shape GPT-2-style pre-tokenizers produce, minus byte-level merges
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

STOPWORDS = (
    "the a an of to and in is are for on with as at by it this that from "
    "be or was were"
).split()

# tiny per-language marker lexicons for the n-gram/marker language heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in"],
    "de": ["der", "und", "die", "das", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "de", "la", "los", "es", "una"],
}


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_text(c: str | Column) -> Column:
    """Lowercase, trim, collapse whitespace — the canonical dedup key."""
    return F.regexp_replace(F.lower(F.trim(_col(c))), r"\s+", " ")


def tokens_ws(c: str | Column) -> Column:
    """Whitespace tokens (empty input -> empty array, not [''])."""
    t = F.trim(_col(c))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count_ws(c: str | Column) -> Column:
    return F.size(tokens_ws(c)).cast("long")


def token_count_bpe(c: str | Column) -> Column:
    """Count of BPE-ish pre-tokens via a single vectorized regexp scan."""
    return F.regexp_count(_col(c), F.lit(BPE_TOKEN_PATTERN)).cast("long")


def char_ngrams(c: str | Column, n: int = 3, distinct: bool = True) -> Column:
    """Character n-gram array via sequence+transform (no UDF)."""
    s = _col(c)
    # sequence(1, x) DESCENDS when x < 1, so short inputs need an explicit
    # empty-array branch
    grams = F.when(
        F.length(s) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(s) - (n - 1)),
            lambda i: F.substring(s, i, n),
        )
    )
    return F.array_distinct(grams) if distinct else grams


def word_shingles(c: str | Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles of the normalized text."""
    toks = tokens_ws(normalize_text(c))
    sh = F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )
    return F.array_distinct(sh) if distinct else sh


def with_word_shingles(
    df,
    text_col: str | Column,
    out_col: str = "__shingles",
    n: int = 3,
    distinct: bool = True,
):
    """Append a word-shingle array with the tokenize pipeline run ONCE.

    The expression form (``word_shingles``) leaves ``toks`` as a free
    subexpression inside the ``transform`` lambda, and Catalyst re-evaluates
    a lambda's free subexpressions PER ELEMENT — the whole
    normalize+split pipeline ran once per shingle (measured 11x slower on
    the sf0.1 documents table: 8.9s -> 0.8s for the exploded scan). Here
    tokens are materialized as an attribute in their own projection, so
    the lambda's free variable is a cheap attribute reference.
    """
    step = df.withColumn("__wst", tokens_ws(normalize_text(text_col)))
    toks = F.col("__wst")
    sh = F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )
    if distinct:
        sh = F.array_distinct(sh)
    return step.withColumn(out_col, sh).drop("__wst")


def with_char_ngrams(
    df,
    text_col: str | Column,
    out_col: str = "__grams",
    n: int = 3,
    distinct: bool = True,
):
    """Append a char-n-gram array of the NORMALIZED text, normalize run once.

    Same per-element free-subexpression hazard as ``with_word_shingles``:
    ``char_ngrams(normalize_text(c))`` re-runs the normalize regex once per
    gram. The normalized string is materialized as an attribute first;
    ``substring`` over an attribute is O(n) per element.
    """
    step = df.withColumn("__cgn", normalize_text(text_col))
    out = step.withColumn(out_col, char_ngrams(F.col("__cgn"), n=n, distinct=distinct))
    return out.drop("__cgn")


def punct_ratio(c: str | Column) -> Column:
    s = _col(c)
    return F.regexp_count(s, F.lit(r"[^\w\s]")) / F.greatest(
        F.length(s), F.lit(1)
    )


def digit_ratio(c: str | Column) -> Column:
    s = _col(c)
    return F.regexp_count(s, F.lit(r"[0-9]")) / F.greatest(F.length(s), F.lit(1))


def stopword_ratio(c: str | Column) -> Column:
    toks = tokens_ws(normalize_text(c))
    hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def mean_word_len(c: str | Column) -> Column:
    toks = tokens_ws(normalize_text(c))
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(c: str | Column) -> Column:
    """Composite document-quality heuristic in [0, 1].

    Rewards natural-language shape: some stopwords, moderate word length,
    low punctuation/digit noise, non-trivial length. Weights are fixed and
    documented so the DuckDB oracle reproduces them exactly.
    """
    s = _col(c)
    length_ok = F.least(F.length(s) / F.lit(200.0), F.lit(1.0))
    sw = stopword_ratio(s)
    sw_ok = F.least(sw / F.lit(0.3), F.lit(1.0))
    mwl = mean_word_len(s)
    mwl_ok = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(F.lit(0.3))
    noise = punct_ratio(s) + digit_ratio(s)
    noise_ok = F.greatest(F.lit(1.0) - noise * 2, F.lit(0.0))
    return (
        0.25 * length_ok + 0.25 * sw_ok + 0.2 * mwl_ok + 0.3 * noise_ok
    ).alias("quality_score")


def add_text_metrics(df, text_col: str = "text", drop_intermediate: bool = True):
    """Append the text-quality metric columns with ONE tokenize pass.

    The pure-expression helpers above (stopword_ratio, mean_word_len,
    quality_score) each rebuild normalize+tokenize when composed in a
    single projection — Catalyst sees distinct expression trees, so the
    regex pipeline runs once PER METRIC (~5-11x measured in the optimized
    plan). This df-level form layers explicit ``__norm`` / ``__toks``
    projections; CollapseProject refuses to merge a non-cheap alias that
    the consumer references more than once, so the normalize regex and the
    split each appear exactly once in the optimized plan (verified by
    tests/test_plan_shapes.py). At full-corpus scale that 5x on every
    document scan is the difference between one regex pass and five.

    Appends: ws_tokens, bpe_tokens, punct_ratio, digit_ratio,
    stopword_ratio, mean_word_len, quality_score — values bit-identical to
    the expression helpers (the DuckDB oracle for text_stats pins this).
    """
    s = _col(text_col)
    step = df.withColumn("__norm", normalize_text(s))
    # __norm is trimmed with runs collapsed to single spaces, so a literal
    # single-space split reproduces tokens_ws(normalize_text(s))
    step = step.withColumn(
        "__toks",
        F.when(F.col("__norm") == "", F.array().cast("array<string>")).otherwise(
            F.split(F.col("__norm"), " ")
        ),
    )
    toks = F.col("__toks")
    ntoks = F.greatest(F.size(toks), F.lit(1))
    step = step.withColumns(
        {
            "ws_tokens": F.size(toks).cast("long"),
            "bpe_tokens": token_count_bpe(s),
            "punct_ratio": punct_ratio(s),
            "digit_ratio": digit_ratio(s),
            "stopword_ratio": F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
            / ntoks,
            "mean_word_len": F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            )
            / ntoks,
        }
    )
    length_ok = F.least(F.length(s) / F.lit(200.0), F.lit(1.0))
    sw_ok = F.least(F.col("stopword_ratio") / F.lit(0.3), F.lit(1.0))
    mwl = F.col("mean_word_len")
    mwl_ok = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(F.lit(0.3))
    noise = F.col("punct_ratio") + F.col("digit_ratio")
    noise_ok = F.greatest(F.lit(1.0) - noise * 2, F.lit(0.0))
    step = step.withColumn(
        "quality_score", 0.25 * length_ok + 0.25 * sw_ok + 0.2 * mwl_ok + 0.3 * noise_ok
    )
    return step.drop("__norm", "__toks") if drop_intermediate else step


def lang_marker_hits(c: str | Column, lang: str) -> Column:
    """Count of language marker-word occurrences (word-boundary regex)."""
    pat = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
    return F.regexp_count(F.lower(_col(c)), F.lit(pat))


def lang_id(c: str | Column) -> Column:
    """Argmax of marker-hit counts; 'und' (undetermined) when all zero.

    Ties break by the fixed language order en > de > fr > es so the result
    is deterministic and reproducible in the SQL oracle.
    """
    s = _col(c)
    hits = {lang: lang_marker_hits(s, lang) for lang in LANG_MARKERS}
    best = F.greatest(*hits.values())
    out = F.when(best == 0, F.lit("und"))
    for lang in LANG_MARKERS:  # insertion order = tie-break order
        out = out.when(hits[lang] == best, F.lit(lang))
    return out


def fingerprint_md5(c: str | Column) -> Column:
    """Portable content fingerprint: md5 of normalized text (matches the
    SQL oracle bit-for-bit)."""
    return F.md5(normalize_text(c))


def hash64_md5(c: str | Column) -> Column:
    """Cross-engine 60-bit hash: integer of the first 15 hex chars of md5.

    The verifiability twin of ``xxhash64`` for hash-seeded sketches
    (minhash / simhash / winnowing): any engine with md5 recomputes it
    bit-for-bit (DuckDB: ``CAST('0x' || substring(md5(x), 1, 15) AS
    BIGINT)``), so a sketch built on it admits a FULL independent SQL
    oracle instead of a rows-only check. 15 hex chars = 60 bits keeps the
    value positive in a signed int64 on both engines. xxhash64 stays the
    throughput default at scale — one JVM hash vs a full md5 digest."""
    return F.conv(F.substring(F.md5(_col(c)), 1, 15), 16, 10).cast("long")


def simhash64(c: str | Column, shingle_words: int = 2) -> Column:
    """64-bit SimHash of word shingles — pure higher-order array exprs.

    Per shingle: xxhash64 -> 64 sign contributions (+1 if bit set else -1);
    sum per bit position across shingles; final bit i = (sum_i >= 0).
    Near-duplicate docs differ in few bit positions (small hamming
    distance), which operators/dedup.simhash_dedup exploits with banded
    blocking.
    """
    sh = word_shingles(c, n=shingle_words)
    hashes = F.transform(sh, lambda s: F.xxhash64(s))
    zeros = F.array_repeat(F.lit(0).cast("long"), 64)

    def bit_signs(h: Column) -> Column:
        # +1/-1 per bit position, unrolled in Python (shift amounts must be
        # plan-time ints for shiftright)
        return F.array(
            *[
                F.when(
                    F.shiftright(h, i).bitwiseAND(F.lit(1).cast("long")) == 1, 1
                ).otherwise(-1)
                for i in range(64)
            ]
        )

    sums = F.aggregate(
        hashes, zeros, lambda acc, h: F.zip_with(acc, bit_signs(h), lambda a, b: a + b)
    )
    # bit weights as int64 two's complement (bit 63 is the sign bit)
    weights = F.array(
        *[
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
            for i in range(64)
        ]
    )
    return F.aggregate(
        F.zip_with(
            sums,
            weights,
            lambda s, w: F.when(s >= 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc.bitwiseOR(v),
    )


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two DISTINCT-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def winnow_fingerprint_sets(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    hash_fn: str = "xxhash64",
):
    """Winnowing document fingerprints (rolling-hash selection), df-level.

    Schleimer/Wilkerson/Aiken winnowing: hash every character k-gram of the
    normalized text, slide a window of ``w`` consecutive k-gram hashes, keep
    the MINIMUM hash of each window, distinct the kept set. Guarantees any
    shared substring of length >= k+w-1 contributes a shared fingerprint —
    the standard near-copy detection sketch (MOSS). Selectivity ~2/(w+1).

    Returns ``(__id, fp: sorted array<bigint>)``; empty docs get ``fp=[]``.
    ``hash_fn`` selects the k-gram hash: ``'xxhash64'`` (default, fastest)
    or ``'md5'`` (``hash64_md5`` — cross-engine reproducible, the variant
    the driver contract's full DuckDB oracle runs).

    Shape note: the sliding minima are a SQL window function over
    posexploded k-gram hashes (one shuffle + in-partition sort), NOT a
    ``transform(sequence, i -> array_min(slice(hashes, i, w)))`` expression
    — a free subexpression inside a higher-order-function lambda is
    re-evaluated per element, which made the expression form O(len^2)
    per document (same Catalyst hazard as minhash_signatures).
    """
    from pyspark.sql.window import Window

    exploded = with_char_ngrams(
        df.select(F.col(id_col).alias("__id"), text_col),
        text_col, "__cg", n=k, distinct=False,
    ).select("__id", F.posexplode_outer("__cg").alias("__pos", "__g"))
    win = (
        Window.partitionBy("__id")
        .orderBy("__pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    total = Window.partitionBy("__id")
    gram_hash = (
        F.xxhash64("__g") if hash_fn == "xxhash64" else hash64_md5(F.col("__g"))
    )
    h = exploded.select(
        "__id",
        "__pos",
        F.when(F.col("__g").isNull(), F.lit(None).cast("long"))
        .otherwise(gram_hash)
        .alias("__h"),
    ).select(
        "__id",
        "__pos",
        F.min("__h").over(win).alias("__wmin"),
        F.count("__h").over(total).alias("__n"),
    )
    kept = h.filter(
        (F.col("__pos") <= F.greatest(F.col("__n") - (w - 1), F.lit(1)) - 1)
        & F.col("__wmin").isNotNull()
    )
    fps = kept.groupBy("__id").agg(
        F.array_sort(F.collect_set("__wmin")).alias("fp")
    )
    ids = df.select(F.col(id_col).alias("__id"))
    return ids.join(fps, "__id", "left").select(
        "__id",
        F.coalesce("fp", F.array().cast("array<bigint>")).alias("fp"),
    )


# ---------------------------------------------------------------------------
# PII redaction + repetition metrics (training-data hygiene filters)
# ---------------------------------------------------------------------------

# deliberately conservative, documented patterns (data-hygiene defaults, not
# a compliance product): emails, international-ish phone numbers, IPv4,
# SSN-shaped and 13-19 digit card-shaped runs
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "card": r"\b\d{13,19}\b",
    # date-shaped starts (2024-01-15 / 01-15) are excluded, the separator
    # class has no newline, and a match cannot begin/end beside a '-' —
    # ISO dates and datetimes in logs must survive redaction untouched
    "phone": (
        r"(?<![\d.\-])(?!\d{4}-\d{2}-\d{2})(?!\d{2}-\d{2})"
        r"\+?\d[\d \t().\-]{7,14}\d(?![\d.\-])"
    ),
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}

# longest/most-specific first so e.g. an SSN is tagged <ssn>, not <phone>
_PII_ORDER = ("email", "ssn", "card", "ipv4", "phone")


def _pii_order(categories: tuple[str, ...] | None) -> tuple[str, ...]:
    if categories is None:
        return _PII_ORDER
    unknown = [c for c in categories if c not in PII_PATTERNS]
    if unknown:
        raise ValueError(
            f"unknown PII categories {unknown}; known: {sorted(PII_PATTERNS)}"
        )
    # keep the canonical most-specific-first masking order regardless of
    # the order the caller listed them in
    return tuple(n for n in _PII_ORDER if n in categories)


def redact_pii(
    c: str | Column, categories: tuple[str, ...] | None = None
) -> Column:
    """Replace PII-shaped substrings with ``<category>`` tags — chained
    regexp_replace, pure codegen, one pass per category. Order is
    most-specific-first so overlapping shapes (SSN vs phone) tag
    deterministically. ``categories`` restricts to a subset (canonical
    order preserved); the default runs all patterns. The 'phone' pattern
    uses lookaround (Java-regex only) — the other four are plain RE2, so
    a cross-engine pipeline (the driver oracle) runs
    ``categories=('email','ssn','card','ipv4')``."""
    out = _col(c)
    for name in _pii_order(categories):
        out = F.regexp_replace(out, PII_PATTERNS[name], f"<{name}>")
    return out


def pii_counts(
    c: str | Column, categories: tuple[str, ...] | None = None
) -> Column:
    """Struct of per-category PII match counts (regexp_count, JVM-side) —
    the filter signal ('drop docs with > k emails') without redacting.
    Counts follow the same most-specific-first masking as redact_pii so a
    substring is attributed to exactly one category. ``categories`` as in
    :func:`redact_pii`."""
    masked = _col(c)
    fields = []
    for name in _pii_order(categories):
        fields.append(
            F.regexp_count(masked, F.lit(PII_PATTERNS[name])).alias(name)
        )
        masked = F.regexp_replace(masked, PII_PATTERNS[name], f"<{name}>")
    return F.struct(*fields)


def add_repetition_metrics(df, text_col: str = "text"):
    """Append Gopher-style repetition quality signals (Rae et al. 2021,
    'Scaling Language Models' §A1.1 quality heuristics), all as array
    expressions over ONE split per axis — no explode, no shuffle:

    - ``dup_line_frac``: 1 - distinct non-empty lines / non-empty lines
    - ``dup_para_frac``: same over blank-line-separated paragraphs
    - ``dup_word_frac``: 1 - distinct tokens / tokens (normalized)

    Degenerate docs (no lines / no tokens) yield null fractions.
    """
    # normalize CRLF / bare-CR line endings once so the line/paragraph
    # splits (and blank-line detection) behave identically on Windows-
    # style web text; trim is whitespace-aware (tabs, stray \r)
    t = F.regexp_replace(F.col(text_col), r"\r\n?", "\n")

    def _ws_trim(s: Column) -> Column:
        return F.regexp_replace(s, r"^\s+|\s+$", "")

    def _dup_frac(arr: Column) -> Column:
        n = F.size(arr)
        return F.when(
            n > 0,
            1.0 - F.size(F.array_distinct(arr)) / n.cast("double"),
        )

    lines = F.filter(
        F.transform(F.split(t, r"\n"), _ws_trim),
        lambda s: s != "",
    )
    paras = F.filter(
        F.transform(F.split(t, r"\n{2,}"), _ws_trim),
        lambda s: s != "",
    )
    return (
        df.withColumn("__words", tokens_ws(normalize_text(t)))
        .withColumn("dup_line_frac", _dup_frac(lines))
        .withColumn("dup_para_frac", _dup_frac(paras))
        .withColumn("dup_word_frac", _dup_frac(F.col("__words")))
        .drop("__words")
    )


def hygiene_gate(
    df,
    id_cols: list[str],
    text_col: str = "text",
    min_chars: int = 100,
    max_chars: int = 20_000,
    allowed_langs: tuple[str, ...] = ("en", "de", "fr", "es"),
    min_quality: float = 0.75,
    max_dup_word_frac: float = 0.6,
):
    """The composed keep/drop quality gate every training-data pipeline
    ends its per-document hygiene pass with: fixed-order checks —
    ``length`` (char bounds) → ``lang`` (allow-list on :func:`lang_id`)
    → ``quality`` (:func:`quality_score` floor, compared on the rounded-6
    value so the decision is cross-engine-reproducible) → ``repetition``
    (Gopher ``dup_word_frac`` ceiling) — emitting per document the
    gating metrics, ``keep``, and ``reason`` (the FIRST failing check;
    NULL when kept). Deterministic drop accounting ("42% of the crawl
    fell to repetition") is the point: the reason column is exact, not
    sampled.

    Composition, not new math: one :func:`add_text_metrics` tokenize
    pass + the ``dup_word_frac`` array expression + the :func:`lang_id`
    marker scan — all chained regexp/array codegen in the document's own
    scan task. Zero shuffles at any corpus size.
    """
    m = add_text_metrics(df, text_col)
    m = add_repetition_metrics(m, text_col)
    q6 = F.round("quality_score", 6)
    n_chars = F.length(F.col(text_col))
    lang = lang_id(text_col)
    # every check coalesces NULL -> fail, so a NULL/empty document falls
    # at the FIRST check (length), not wherever a NULL happens to skip to
    checks = [
        ("length", (n_chars >= min_chars) & (n_chars <= max_chars)),
        ("lang", lang.isin(*allowed_langs)),
        ("quality", q6 >= min_quality),
        ("repetition", F.col("dup_word_frac") <= max_dup_word_frac),
    ]
    expr = None
    for name, ok in checks:
        fail = ~F.coalesce(ok, F.lit(False))
        expr = (
            F.when(fail, F.lit(name))
            if expr is None
            else expr.when(fail, F.lit(name))
        )
    reason = expr.otherwise(F.lit(None).cast("string"))
    return m.select(
        *id_cols,
        n_chars.cast("long").alias("n_chars"),
        lang.alias("lang_pred"),
        q6.alias("quality"),
        F.col("dup_word_frac"),
        reason.isNull().alias("keep"),
        reason.alias("reason"),
    )


def lexical_diversity(df, id_cols: list[str], text_col: str = "text"):
    """Per-document lexical-diversity profile — the vocabulary-richness
    training-data quality signal that complements the surface-shape
    metrics in :func:`add_text_metrics`: template/boilerplate expansions
    and keyword-stuffed spam read as LOW type-token ratios long before a
    perplexity filter sees them.

    Tokens are the whitespace tokens of the normalized text (lowercase,
    collapsed whitespace — the same canonicalization the dedup keys
    use). Emits per ``id_cols``: ``n_tokens``, ``n_types`` (distinct
    tokens), ``n_hapax`` (tokens occurring exactly once), ``ttr``
    (type-token ratio), ``hapax_ratio`` (hapax / types), and
    ``guiraud`` (types / sqrt(tokens) — Guiraud 1954's R, the classic
    length-corrected TTR). Empty/NULL documents keep their row with
    zero counts and NULL ratios.

    Plan: explode -> count per (id, token) -> fold per id: two
    mergeable hash aggregates; the only shuffled payload is (id, token,
    count) — the same explode-then-aggregate class as the MinHash
    signature pass, bounded by corpus tokens, with the text column
    itself never shuffling.
    """
    words = df.select(
        *id_cols,
        F.explode_outer(tokens_ws(normalize_text(text_col))).alias("__w"),
    )
    wc = words.groupBy(*id_cols, "__w").agg(F.count("__w").alias("__c"))
    types = F.sum(F.when(F.col("__c") > 0, 1).otherwise(0)).cast("long")
    hapax = F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).cast("long")
    tokens = F.sum("__c").cast("long")
    return wc.groupBy(*id_cols).agg(
        tokens.alias("n_tokens"),
        types.alias("n_types"),
        hapax.alias("n_hapax"),
        F.try_divide(types.cast("double"), tokens.cast("double")).alias("ttr"),
        F.try_divide(hapax.cast("double"), types.cast("double")).alias(
            "hapax_ratio"
        ),
        F.try_divide(
            types.cast("double"), F.sqrt(tokens.cast("double"))
        ).alias("guiraud"),
    )
