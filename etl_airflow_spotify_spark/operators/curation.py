"""Corpus-curation operators for large-scale training-data pipelines:
test-set decontamination, PII redaction, sequence packing, stratified
sampling, and a count-min frequency sketch maintained as a table.

Everything here is JVM-side DataFrame expressions — no Python UDFs —
and every operator is deterministic, so each has an exact DuckDB oracle
twin in queries/curation.py. Cross-engine hashing uses the md5-hex ->
BIGINT trick shared with sampling.assign_split (md5 is the only hash
both engines implement identically; see ROUND_NOTES.md).

Reference parity: the reference repo (Playmaker3334/ETL-Airflow-Spotify)
has no curation surface — these extend SURVEY.md §2.B's
training-data-pipeline operators (X15/X16/X18 neighborhood).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..catalog import spread

# --------------------------------------------------------------------------
# shared md5-based integer hash (identical in DuckDB:
#   ('0x' || substr(md5(x), 1, 15))::BIGINT )
# 15 hex digits = 60 bits, always positive, so % is engine-agnostic.


def md5_bucket(col: Column, mod: int) -> Column:
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10) \
        .cast("long") % mod


# --------------------------------------------------------------------------
# Test-set decontamination (n-gram overlap)


def word_ngrams(toks: str, n: int) -> Column:
    """Distinct word-level n-grams of the token-array column named
    ``toks`` (the lowercased, whitespace-tokenized text) — the standard
    unit for benchmark-contamination checks (e.g. GPT-3 appendix C uses
    13-gram overlap; n is a knob here). ``toks`` names a projected
    column, never an expression: the lambda reads it once per n-gram, so
    an inlined ``split`` would re-tokenize the whole text for every
    n-gram. One SQL expression, so building it is one call into the
    JVM."""
    t = f"`{toks}`"
    return F.expr(f"array_distinct(transform("
                  f"sequence(1, greatest(size({t}) - {n - 1}, 1)), "
                  f"i -> array_join(slice({t}, i, {n}), ' ')))")


def ngram_contamination(train: DataFrame, eval_df: DataFrame,
                        id_col: str, text_col: str, n: int = 3,
                        broadcast_eval: bool = True) -> DataFrame:
    """Flag training docs sharing at least one word n-gram with any
    eval/benchmark doc. Returns one row per contaminated training doc:
    (id_col, n_shared_ngrams, n_eval_docs).

    Scale shape: explode both sides to (ngram, doc) and hash-join on the
    n-gram — shuffle keyed by n-gram, never an all-pairs doc join. The
    eval side of a real deployment (benchmark suites, a few MB) is
    broadcast-sized and is broadcast-HINTED by default: AQE picks the
    broadcast automatically in batch plans, but foreachBatch/streaming
    micro-batch plans run WITHOUT AQE, where the planner falls back to
    shuffling the huge exploded train side into a sort-merge join (6x
    slower measured at sf0.1). Pass ``broadcast_eval=False`` only for
    an eval side too big to broadcast. At 100 TB of training docs the
    explode keeps per-task memory flat (one n-gram per row, not one
    doc's whole set).
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_toks")
    ngram = F.explode(word_ngrams("_toks", n)).alias("ngram")
    t = (spread(train.select(F.col(id_col), F.col(text_col)), id_col)
         .select(id_col, toks).select(id_col, ngram))
    e = (eval_df.select(F.col(id_col).alias("eval_id"), toks)
         .select("eval_id", ngram))
    if broadcast_eval:
        e = F.broadcast(e)
    return (
        t.join(e, "ngram")
        .groupBy(id_col)
        .agg(F.count_distinct("ngram").cast("long").alias("n_shared_ngrams"),
             F.count_distinct("eval_id").cast("long").alias("n_eval_docs"))
    )


# --------------------------------------------------------------------------
# PII detection / redaction

# RE2-and-Java-compatible patterns (DuckDB uses RE2, Spark uses
# java.util.regex; everything below parses identically in both).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
SSN_RE = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

# Redaction order matters and is part of the contract: emails first
# (their local part may contain digits-and-dashes), then phones, then
# SSNs (a phone 555-123-4567 must not half-match the SSN pattern).
_PII_PATTERNS = (("email", EMAIL_RE, "[EMAIL]"),
                 ("phone", PHONE_RE, "[PHONE]"),
                 ("ssn", SSN_RE, "[SSN]"))


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts (regexp_count is codegen'd JVM regex —
    one pass per pattern over the document bytes)."""
    return {kind: F.regexp_count(text, F.lit(pat)).cast("long")
            for kind, pat, _ in _PII_PATTERNS}


def redact_pii(text: Column) -> Column:
    """Replace every PII span with a typed placeholder, applying the
    patterns in contract order."""
    out = text
    for _, pat, repl in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


# --------------------------------------------------------------------------
# Sequence packing (concat-and-chunk)


def pack_sequences(docs: DataFrame, id_col: str, text_col: str,
                   budget: int = 256, n_shards: int = 32) -> DataFrame:
    """Assign each document its position in the LLM-training
    concat-and-chunk stream: documents are concatenated in deterministic
    order and the stream is cut into fixed ``budget``-token sequences
    (documents may span a cut). Returns per-doc
    (id, shard, n_tok, start_tok, first_seq, last_seq).

    Scale shape: a single global concatenation order would serialize the
    window; instead docs are hashed into ``n_shards`` independent
    streams (shard = md5(id) % n_shards) and the running-total window
    partitions by shard — each shard's cumsum is one partition-local
    pass, so parallelism is n_shards regardless of corpus size, and
    shard count is the knob (executors * a few, at 100 TB thousands).
    Within a shard docs are ordered by id: deterministic, so re-runs
    and both engines produce byte-identical packing.
    """
    from pyspark.sql import Window

    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    d = docs.select(F.col(id_col),
                    md5_bucket(F.col(id_col), n_shards).alias("shard"),
                    n_tok.alias("n_tok"))
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    return (
        d.withColumn("start_tok",
                     F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
        .withColumn("first_seq", (F.col("start_tok") / budget)
                    .cast("long"))
        .withColumn(
            "last_seq",
            (F.greatest(F.col("start_tok") + F.col("n_tok") - 1,
                        F.col("start_tok")) / budget).cast("long"))
    )


# --------------------------------------------------------------------------
# Deterministic stratified sampling


def stratified_sample(df: DataFrame, id_col: str, stratum_col: str,
                      rates: dict[str, int], default_rate: int = 100
                      ) -> DataFrame:
    """Keep ``rates[stratum]`` percent of each stratum, selected by
    md5(id) bucket — the quality-aware downsampling step of a corpus mix
    (e.g. downsample crawl data, keep all curated data). Unlike
    ``df.sampleBy``, membership is a pure function of the row id:
    reproducible across engines, re-runs, repartitioning, and
    incremental appends (a doc's fate never changes when the corpus
    grows). Filter is a codegen'd scan predicate — no shuffle, no RNG
    state, prunes before any downstream shuffle."""
    rate = F.lit(default_rate)
    for k, v in rates.items():
        rate = F.when(F.col(stratum_col) == k, v).otherwise(rate)
    return df.filter(md5_bucket(F.col(id_col), 100) < rate)


# --------------------------------------------------------------------------
# Count-min sketch, maintained relationally


def count_min_table(items: DataFrame, item_col: str,
                    depth: int = 4, width: int = 256) -> DataFrame:
    """Build a count-min sketch AS A TABLE of (d, w, cnt): row d hashes
    the item with seed d into ``width`` columns and counts collisions.
    depth*width rows total — tiny, mergeable (union + re-sum), and
    queryable with a relational join, which is exactly how a 100 TB
    rollup keeps approximate per-key frequencies without a
    count-distinct shuffle of the raw keys. One wide groupBy with
    map-side partial aggregation; the sketch table itself broadcasts
    everywhere it is probed."""
    rows = items.select(F.col(item_col).cast("string").alias("item"))
    per_d = [
        rows.select(F.lit(d).alias("d"),
                    md5_bucket(F.concat(F.col("item"), F.lit(f":{d}")),
                               width).alias("w"))
        for d in range(depth)
    ]
    allrows = per_d[0]
    for p in per_d[1:]:
        allrows = allrows.unionByName(p)
    return allrows.groupBy("d", "w").agg(F.count("*").alias("cnt"))


def count_min_estimate(sketch: DataFrame, probes: DataFrame,
                       item_col: str, depth: int = 4,
                       width: int = 256) -> DataFrame:
    """Point-estimate probe items against a count-min table: min over
    the depth cells each item hashes to. Estimates are upper bounds
    (one-sided error, law pinned in tests). The probe side re-derives
    its cells with the same md5 seeding and hash-joins the sketch —
    sketch is depth*width rows, always broadcast."""
    p = probes.select(F.col(item_col).cast("string").alias("item"))
    cells = p.select(
        "item",
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("d"),
                     md5_bucket(F.concat(F.col("item"), F.lit(f":{d}")),
                                width).alias("w"))
            for d in range(depth)])).alias("c"),
    ).select("item", F.col("c.d").alias("d"), F.col("c.w").alias("w"))
    return (cells.join(F.broadcast(sketch), ["d", "w"])
            .groupBy("item")
            .agg(F.min("cnt").cast("long").alias("est")))
