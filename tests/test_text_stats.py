"""Per-document word statistics (``word_histogram_stats``) against a
pure-Python ``collections.Counter`` reference, and the null-text rule of
the operators built on it."""

from __future__ import annotations

import collections
import math
import random
import re

import pyspark.sql.functions as F
import pytest

from etl_airflow_spotify_spark.operators.text import (repetition_metrics,
                                                      word_histogram_stats)


def _reference(text: str) -> tuple[int, int, int, float]:
    toks = re.split(r"\s+", text.strip(" ").lower())
    counts = collections.Counter(toks)
    n = len(toks)
    entropy = -sum((c / n) * math.log2(c / n) for c in counts.values())
    return n, len(counts), max(counts.values()), entropy


def _long_doc() -> str:
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    return " ".join(rng.choice(vocab) for _ in range(5000))


CASES = {
    "empty": "",                           # one empty token
    "single": "solo",
    "all_equal": "a a a a a a a",          # entropy 0
    "ties": "b a c a b d",                 # a and b both twice
    "long": _long_doc(),                   # 5k tokens
    "zh": "数据 引擎 数据 工程 训练 数据 工程",
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_word_histogram_stats_matches_counter(spark, case):
    text = CASES[case]
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    toks = df.select(F.split(F.trim(F.lower("text")), r"\s+").alias("toks"))
    (got,) = toks.select(word_histogram_stats("toks").alias("h")).collect()
    n, n_distinct, max_count, entropy = _reference(text)
    assert (got.h.n_words, got.h.n_distinct, got.h.max_count) == \
           (n, n_distinct, max_count)
    assert abs(got.h.entropy - entropy) <= 1e-12
    if case in ("empty", "single", "all_equal"):
        assert got.h.entropy == 0.0


def test_null_text_is_dropped(spark):
    """A null text has no tokens: the old explode path dropped such a
    document, and so does the row-local path."""
    docs = spark.createDataFrame([(1, "a b a"), (2, None)],
                                 "doc_id long, text string")
    assert [r.doc_id for r in
            repetition_metrics(docs, "doc_id", "text").collect()] == [1]
    (h,) = (docs.filter("doc_id = 2")
            .select(F.split("text", " ").alias("toks"))
            .select(word_histogram_stats("toks").alias("h")).collect())
    assert h.h is None
