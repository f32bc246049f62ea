"""Training-data hygiene filters: PII redaction/counts, repetition
metrics, and benchmark decontamination — python-oracle and golden tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tablecloth_time_spark.functions.text import (
    add_repetition_metrics,
    pii_counts,
    redact_pii,
)
from tablecloth_time_spark.operators.dedup import ngram_overlap_flags
from tests.conftest import executed_plan


def _one(spark, text):
    return spark.createDataFrame([(text,)], ["text"])


def test_redact_pii_goldens(spark):
    cases = {
        "mail me at jo.doe+x@example.co.uk now": "mail me at <email> now",
        "ssn 123-45-6789 end": "ssn <ssn> end",
        "card 4111111111111111 ok": "card <card> ok",
        "call +1 (415) 555-0123 today": "call <phone> today",
        "host 192.168.001.1 up": "host <ipv4> up",
        "no pii here": "no pii here",
    }
    df = spark.createDataFrame([(t,) for t in cases], ["text"])
    got = {
        r["text"]: r["red"]
        for r in df.withColumn("red", redact_pii("text")).collect()
    }
    for src, exp in cases.items():
        assert got[src] == exp, src


def test_pii_counts_attribution(spark):
    """Each substring counts toward exactly one category (SSN is not also
    a phone; the email's host is not an extra match)."""
    text = "a@b.com and 123-45-6789 and 10.0.0.1 and +44 20 7946 0958"
    row = _one(spark, text).select(pii_counts("text").alias("c")).collect()[0]["c"]
    assert row["email"] == 1
    assert row["ssn"] == 1
    assert row["ipv4"] == 1
    assert row["phone"] == 1
    assert row["card"] == 0


def test_repetition_metrics(spark):
    text = "dog cat\ndog cat\nbird\n\ndog cat\ndog cat\nbird"
    r = add_repetition_metrics(_one(spark, text)).collect()[0]
    # 6 non-empty lines, 2 distinct -> 4/6
    assert r["dup_line_frac"] == pytest.approx(4 / 6)
    # 2 paragraphs, identical -> 1/2
    assert r["dup_para_frac"] == pytest.approx(0.5)
    # 10 words (4x "dog cat" + 2x "bird"), 3 distinct -> 7/10
    assert r["dup_word_frac"] == pytest.approx(0.7)


def test_repetition_metrics_degenerate(spark):
    r = add_repetition_metrics(_one(spark, "   ")).collect()[0]
    assert r["dup_line_frac"] is None
    assert r["dup_word_frac"] is None
    unique = add_repetition_metrics(
        _one(spark, "all words differ here")
    ).collect()[0]
    assert unique["dup_word_frac"] == 0.0


def test_ngram_overlap_flags(spark):
    bench = spark.createDataFrame(
        [("q1", "the quick brown fox jumps over the lazy dog tonight")],
        ["qid", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # contains the benchmark 8-gram verbatim -> contaminated
            ("d1", "prefix words the quick brown fox jumps over the lazy dog and more"),
            # paraphrase, no shared 8-gram -> clean
            ("d2", "a fast brown fox leaps over a sleepy dog tonight again"),
            # short doc, no shingles -> clean with 0 hits
            ("d3", "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_hits"], r["is_contaminated"])
        for r in ngram_overlap_flags(
            corpus, bench, "doc_id", "text", n=8
        ).collect()
    }
    assert got["d1"][1] is True and got["d1"][0] >= 1
    assert got["d2"] == (0, False)
    assert got["d3"] == (0, False)
    # python oracle for the exact hit count of d1
    def shingles(t, n=8):
        w = t.lower().split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    expected = len(
        shingles("prefix words the quick brown fox jumps over the lazy dog and more")
        & shingles("the quick brown fox jumps over the lazy dog tonight")
    )
    assert got["d1"][0] == expected


def test_ngram_overlap_plan_broadcasts(spark):
    bench = spark.createDataFrame([("q", "one two three four")], ["qid", "text"])
    corpus = spark.createDataFrame([("d", "one two three four five")], ["doc_id", "text"])
    out = ngram_overlap_flags(corpus, bench, n=3)
    plan = executed_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan and "InPandas" not in plan
    # the tokenize pipeline must run ONCE per side per row: plain explode
    # lets InferFiltersFromGenerate push a size(shingles)>0 filter below
    # the token projection, inlining normalize/tokenize per row (measured
    # 16 s vs <1 s on the sf0.1 corpus gram scan) — 2 regexp_replace per
    # side (normalize in the token projection + one in the small-doc CASE)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("regexp_replace") <= 4, opt.count("regexp_replace")


def test_redact_pii_preserves_dates(spark):
    """ISO dates and datetimes must survive redaction (review fix — the
    phone pattern used to swallow them), while real phones still mask."""
    cases = {
        "on 2024-01-15 it rained": "on 2024-01-15 it rained",
        "meeting on 2024-01-15 12:30 in room 4":
            "meeting on 2024-01-15 12:30 in room 4",
        "due 01-15 next": "due 01-15 next",
        "call 415-555-0123 now": "call <phone> now",
        "call +1 (415) 555-0123 today": "call <phone> today",
    }
    df = spark.createDataFrame([(t,) for t in cases], ["text"])
    got = {
        r["text"]: r["red"]
        for r in df.withColumn("red", redact_pii("text")).collect()
    }
    for src, exp in cases.items():
        assert got[src] == exp, src
    counts = (
        spark.createDataFrame([("on 2024-01-15 12:30 call 415-555-0123",)], ["text"])
        .select(pii_counts("text").alias("c"))
        .collect()[0]["c"]
    )
    assert counts["phone"] == 1  # the date contributes nothing


def test_repetition_metrics_crlf(spark):
    """CRLF documents behave exactly like LF documents (review fix): the
    \\r blank lines are not phantom duplicate lines, and \\r\\n\\r\\n
    splits paragraphs."""
    crlf = "alpha beta\r\n\r\ngamma delta\r\n\r\nalpha beta"
    lf = crlf.replace("\r\n", "\n")
    rows = (
        add_repetition_metrics(
            spark.createDataFrame([(crlf,), (lf,)], ["text"])
        )
        .collect()
    )
    a, b = rows
    assert a["dup_line_frac"] == b["dup_line_frac"] == pytest.approx(1 / 3)
    assert a["dup_para_frac"] == b["dup_para_frac"] == pytest.approx(1 / 3)
