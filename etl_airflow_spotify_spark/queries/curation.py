"""Corpus-curation queries (SURVEY.md §2.B training-data-pipeline
extensions): benchmark decontamination, PII redaction, sequence
packing, stratified corpus mixing, and count-min frequency estimates.

Every query is deterministic end to end, so each has an exact DuckDB
oracle that replays the full algorithm (including the md5 bucketing —
see ROUND_NOTES.md's cross-engine hash note).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import (load_table, local_frame, parquet_footer,
                       read_columns)
from ..operators import curation as C
from ..operators.text import exact_fingerprint, word_histogram_stats
from ..registry import register

# Deterministic "benchmark" subset for the contamination check: every
# 37th document plays the role of an eval-suite doc.
EVAL_MOD = 37
NGRAM_N = 3

# DuckDB n-gram twin of operators.curation.word_ngrams (list slicing is
# 1-based end-inclusive and clamps, matching Spark's F.slice).
_NGRAMS_SQL = f"""
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, GREATEST(len(ts) - {NGRAM_N - 1}, 1)),
               i -> array_to_string(
                   ts[CAST(i AS INTEGER):CAST(i AS INTEGER) + {NGRAM_N - 1}],
                   ' '))) AS ngrams
    FROM (SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS ts
          FROM documents)
"""


# Shared by the batch query below and the streaming variant in
# queries/streaming.py (same semantics, same oracle).
DECON_ORACLE = f"""
    WITH ng AS ({_NGRAMS_SQL}),
    t AS (SELECT doc_id, unnest(ngrams) AS ngram FROM ng
          WHERE doc_id % {EVAL_MOD} <> 0),
    e AS (SELECT doc_id AS eval_id, unnest(ngrams) AS ngram FROM ng
          WHERE doc_id % {EVAL_MOD} = 0)
    SELECT t.doc_id,
           CAST(COUNT(DISTINCT t.ngram) AS BIGINT) AS n_shared_ngrams,
           CAST(COUNT(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
    FROM t JOIN e ON t.ngram = e.ngram
    GROUP BY t.doc_id
    """


@register(
    "decontaminate_ngram",
    DECON_ORACLE,
    doc="Benchmark decontamination: training docs sharing any word "
        f"{NGRAM_N}-gram with an eval doc (doc_id % {EVAL_MOD} = 0 plays "
        "the benchmark role). Explode-to-ngram + hash join — never an "
        "all-pairs doc comparison; the eval side broadcasts at real "
        "scale (benchmark suites are MBs vs TBs of training data).",
    tags=("X25", "X18", "X16"),
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % EVAL_MOD != 0)
    ev = d.filter(F.col("doc_id") % EVAL_MOD == 0)
    return C.ngram_contamination(train, ev, "doc_id", "text", n=NGRAM_N)


# PII is planted deterministically (the synthetic corpus contains none):
# every 3rd doc gets an email + phone + SSN appended, every 7th doc a
# second email. Both engines build the same augmented text, so detection
# AND redaction are exact-checked.
_PLANT_SQL = """
    SELECT doc_id,
           text || CASE WHEN doc_id % 3 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail.example.com or 555-123-4567 ssn 123-45-6789'
                   ELSE '' END
                || CASE WHEN doc_id % 7 = 0
                   THEN ' cc admin@example.org' ELSE '' END AS text
    FROM documents
"""


def _plant_pii(d: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 3 == 0,
                   F.concat(F.lit(" contact user"), did.cast("string"),
                            F.lit("@mail.example.com or 555-123-4567 "
                                  "ssn 123-45-6789"))).otherwise(""),
            F.when(did % 7 == 0, " cc admin@example.org").otherwise(""),
        ).alias("text"))


@register(
    "pii_redaction",
    f"""
    WITH planted AS ({_PLANT_SQL}),
    red AS (
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '{C.EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(text, '{C.PHONE_RE}')) AS n_phones,
               len(regexp_extract_all(text, '{C.SSN_RE}')) AS n_ssns,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{C.EMAIL_RE}', '[EMAIL]', 'g'),
                   '{C.PHONE_RE}', '[PHONE]', 'g'),
                   '{C.SSN_RE}', '[SSN]', 'g') AS redacted
        FROM planted
    )
    SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_phones AS BIGINT) AS n_phones,
           CAST(n_ssns AS BIGINT) AS n_ssns,
           CAST(len(redacted) AS BIGINT) AS red_len,
           md5(redacted) AS red_md5
    FROM red WHERE n_emails + n_phones + n_ssns > 0
    """,
    doc="PII detection + redaction over planted emails/phones/SSNs: "
        "per-doc match counts and the md5 of the redacted text (pins "
        "the exact redaction output, not just the counts). One "
        "codegen'd regex pass per pattern — no shuffle at all; at "
        "100 TB this is a pure map stage.",
    tags=("X26", "X18", "X14", "X2"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _plant_pii(load_table(spark, sf_dir, "documents"))
    counts = C.pii_counts(F.col("text"))
    red = C.redact_pii(F.col("text"))
    return (
        d.select("doc_id",
                 counts["email"].alias("n_emails"),
                 counts["phone"].alias("n_phones"),
                 counts["ssn"].alias("n_ssns"),
                 F.length(red).cast("long").alias("red_len"),
                 F.md5(red.cast("binary")).alias("red_md5"))
        .filter(F.col("n_emails") + F.col("n_phones") + F.col("n_ssns") > 0)
    )


PACK_BUDGET = 256
PACK_SHARDS = 32


@register(
    "sequence_packing",
    f"""
    WITH d AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % {PACK_SHARDS} AS shard,
               len(string_split_regex(trim(text), '\\s+')) AS n_tok
        FROM documents
    ),
    pos AS (
        SELECT doc_id, shard, n_tok,
               COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS start_tok
        FROM d
    ),
    seqs AS (
        SELECT doc_id, shard, n_tok, start_tok,
               start_tok // {PACK_BUDGET} AS first_seq,
               GREATEST(start_tok + n_tok - 1, start_tok)
                   // {PACK_BUDGET} AS last_seq
        FROM pos
    )
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tok,
           CAST((SUM(n_tok) + {PACK_BUDGET - 1}) // {PACK_BUDGET} AS BIGINT)
               AS n_seqs,
           CAST(SUM(CASE WHEN first_seq <> last_seq THEN 1 ELSE 0 END)
                AS BIGINT) AS n_straddlers,
           CAST(SUM(doc_id * first_seq) AS BIGINT) AS assign_checksum
    FROM seqs GROUP BY shard
    """,
    doc="LLM concat-and-chunk sequence packing: docs are concatenated "
        f"in deterministic order within {PACK_SHARDS} md5-hashed shards "
        f"and cut into {PACK_BUDGET}-token sequences (docs may straddle "
        "a cut). Per-shard stats + a checksum pinning every doc's exact "
        "sequence assignment. The shard hash bounds the window "
        "partition: parallelism = shard count at any corpus size, vs "
        "the serialized single global cumsum.",
    tags=("X27", "X11", "X18", "X7"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    packed = C.pack_sequences(d, "doc_id", "text",
                              budget=PACK_BUDGET, n_shards=PACK_SHARDS)
    return (
        packed.groupBy("shard")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tok").cast("long").alias("total_tok"),
             F.floor((F.sum("n_tok") + PACK_BUDGET - 1) / PACK_BUDGET)
             .cast("long").alias("n_seqs"),
             F.sum((F.col("first_seq") != F.col("last_seq")).cast("int"))
             .cast("long").alias("n_straddlers"),
             F.sum(F.col("doc_id") * F.col("first_seq")).cast("long")
             .alias("assign_checksum"))
    )


MIX_RATES = {"en": 25, "es": 50}  # keep-% per lang; others 100


@register(
    "stratified_corpus_mix",
    f"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM (SELECT lang, doc_id,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                     % 100 AS b
          FROM documents)
    WHERE b < CASE lang WHEN 'en' THEN {MIX_RATES['en']}
                        WHEN 'es' THEN {MIX_RATES['es']} ELSE 100 END
    GROUP BY lang
    """,
    doc="Deterministic stratified corpus mixing: downsample dominant "
        "strata (en->25%, es->50%, rest kept) by md5(doc_id) bucket. "
        "Pure scan predicate — reproducible under re-runs/appends "
        "unlike sampleBy, zero shuffle before the stats agg; id_sum "
        "pins exact per-doc membership.",
    tags=("X28", "X2", "X14"),
)
def stratified_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    kept = C.stratified_sample(d, "doc_id", "lang", MIX_RATES)
    return (kept.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("doc_id").cast("long").alias("id_sum")))


CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOPK = 10


@register(
    "countmin_heavy_hitters",
    f"""
    WITH toks AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS item
        FROM documents
    ),
    exact AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM toks
        GROUP BY item
        ORDER BY exact_cnt DESC, item LIMIT {CMS_TOPK}
    ),
    cells AS (
        SELECT d, ('0x' || substr(md5(item || ':' || CAST(d AS VARCHAR)),
                                  1, 15))::BIGINT % {CMS_WIDTH} AS w
        FROM toks CROSS JOIN (SELECT unnest(generate_series(0,
            {CMS_DEPTH - 1})) AS d)
    ),
    sketch AS (SELECT d, w, COUNT(*) AS cnt FROM cells GROUP BY d, w),
    probe AS (
        SELECT e.item, e.exact_cnt, s.cnt
        FROM exact e
        CROSS JOIN (SELECT unnest(generate_series(0, {CMS_DEPTH - 1}))
                    AS d) ds
        JOIN sketch s ON s.d = ds.d
            AND s.w = ('0x' || substr(md5(e.item || ':'
                || CAST(ds.d AS VARCHAR)), 1, 15))::BIGINT % {CMS_WIDTH}
    )
    SELECT item AS word, MIN(exact_cnt) AS exact_cnt,
           CAST(MIN(cnt) AS BIGINT) AS est_cnt
    FROM probe GROUP BY item
    """,
    doc=f"Count-min sketch as a {CMS_DEPTH}x{CMS_WIDTH} TABLE (md5-"
        "seeded rows, mergeable by union+re-sum) probed for the exact "
        "top-10 words: est >= exact always (one-sided error; law also "
        "pinned in tests). The relational-sketch pattern keeps 100 TB "
        "frequency rollups at depth*width rows instead of a raw-key "
        "count-distinct shuffle, and the whole construction is "
        "deterministic — the oracle replays hashing, sketch and probe.",
    tags=("X29", "X8", "X18"),
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .alias("item"))
    sketch = C.count_min_table(words, "item",
                               depth=CMS_DEPTH, width=CMS_WIDTH)
    exact = (words.groupBy("item")
             .agg(F.count("*").alias("exact_cnt"))
             .orderBy(F.desc("exact_cnt"), F.asc("item")).limit(CMS_TOPK))
    est = C.count_min_estimate(sketch, exact, "item",
                               depth=CMS_DEPTH, width=CMS_WIDTH)
    return (exact.join(est, "item")
            .select(F.col("item").alias("word"),
                    F.col("exact_cnt").cast("long").alias("exact_cnt"),
                    F.col("est").alias("est_cnt")))


@register(
    "heavy_hitters_twopass",
    f"""
    WITH toks AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS item
        FROM documents
    ),
    thr AS (SELECT GREATEST(COUNT(*) // 1000, 2) AS t FROM toks)
    SELECT item AS word, CAST(COUNT(*) AS BIGINT) AS exact_cnt
    FROM toks CROSS JOIN thr
    GROUP BY item, thr.t
    HAVING COUNT(*) >= thr.t
    """,
    doc="Two-pass heavy hitters: pass 1 builds the count-min table and "
        "keeps words whose ESTIMATE reaches the (relative) threshold — "
        "CMS estimates are upper bounds, so no true heavy hitter can be "
        "dropped; pass 2 exact-counts only the surviving tokens "
        "(semi-join BEFORE the shuffle, so shuffle volume is candidate "
        "tokens, not the corpus). The oracle is the plain HAVING query: "
        "a hash match proves the no-false-negative law end to end. At "
        "100 TB this is how you find frequent items without shuffling "
        "every token: the sketch is depth*width rows, the exact pass "
        "moves only the (rare) heavy candidates.",
    tags=("X29", "X8", "X18", "X7"),
)
def heavy_hitters_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .alias("item"))
    thr = words.agg(F.greatest(F.expr("COUNT(*) DIV 1000"), F.lit(2))
                    .alias("t"))
    sketch = C.count_min_table(words, "item",
                               depth=CMS_DEPTH, width=CMS_WIDTH)
    est = C.count_min_estimate(sketch, words.distinct(), "item",
                               depth=CMS_DEPTH, width=CMS_WIDTH)
    cand = (est.crossJoin(F.broadcast(thr))
            .filter(F.col("est") >= F.col("t"))
            .select("item"))
    return (words.join(F.broadcast(cand), "item", "left_semi")
            .groupBy("item")
            .agg(F.count("*").alias("exact_cnt"))
            .crossJoin(F.broadcast(thr))
            .filter(F.col("exact_cnt") >= F.col("t"))
            .select(F.col("item").alias("word"),
                    F.col("exact_cnt").cast("long").alias("exact_cnt")))


# Thresholds for the v2 curation pipeline (matching queries/text.py's
# repetition filter plus an entropy floor).
V2_TOP_WORD_MAX = 0.12
V2_DUP_BIGRAM_MAX = 0.05
V2_ENTROPY_MIN = 4.0
# The driver finish runs while the documents' text holds at most this
# many bytes, decoded (the footer screens first, with no read). The
# fetched n-grams come to ~4-5x the text, so the Arrow columns stay near
# the ~64 MB driver budget of graph.KCORE_LOCAL_FINISH_EDGE_MAX (sf0.1
# holds 1.5 MB).
V2_LOCAL_TEXT_BYTES_MAX = 12 * 2 ** 20

# The row-local part of training_data_prep_v2, shared by both branches
# as SQL text: each expression is one call into the JVM to build, where
# the Column API takes one per node. A null text has null signals, so
# the gate drops it.
_V2_IS_EVAL = f"doc_id % {EVAL_MOD} = 0"
# Nested left to right like a Column `&` chain (the SQL parser would
# balance a flat AND list into a different, equivalent filter).
_V2_GATE = (f"((top_word_frac <= {V2_TOP_WORD_MAX}D"
            f" AND dup_bigram_frac <= {V2_DUP_BIGRAM_MAX}D)"
            f" AND entropy >= {V2_ENTROPY_MIN}D)"
            f" AND NOT ({_V2_IS_EVAL})")


@register(
    "training_data_prep_v2",
    f"""
    WITH d AS (
        SELECT doc_id, lang, source, text,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    wc AS (SELECT doc_id, w, COUNT(*) AS c
           FROM (SELECT doc_id, unnest(toks) AS w FROM d)
           GROUP BY doc_id, w),
    tot AS (SELECT doc_id, SUM(c) AS n FROM wc GROUP BY doc_id),
    ws AS (SELECT wc.doc_id,
                  CAST(t.n AS BIGINT) AS n_words,
                  ROUND(MAX(c)::DOUBLE / t.n, 4) AS top_frac,
                  ROUND(-SUM((c::DOUBLE / t.n) * log2(c::DOUBLE / t.n)),
                        4) AS entropy
           FROM wc JOIN tot t ON wc.doc_id = t.doc_id
           GROUP BY wc.doc_id, t.n),
    bg AS (SELECT doc_id,
                  CASE WHEN len(bgs) > 0
                       THEN ROUND(1.0 - len(list_distinct(bgs))::DOUBLE
                                  / len(bgs), 4)
                       ELSE 0.0 END AS dupf
           FROM (SELECT doc_id,
                        list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])
                            AS bgs
                 FROM d)),
    gated AS (
        SELECT d.doc_id, d.lang, d.source, d.text, ws.n_words
        FROM d JOIN ws ON d.doc_id = ws.doc_id
               JOIN bg ON d.doc_id = bg.doc_id
        WHERE ws.top_frac <= {V2_TOP_WORD_MAX}
          AND bg.dupf <= {V2_DUP_BIGRAM_MAX}
          AND ws.entropy >= {V2_ENTROPY_MIN}
          AND d.doc_id % {EVAL_MOD} <> 0
    ),
    deduped AS (
        SELECT * FROM (
            SELECT g.*,
                   MIN(doc_id) OVER (
                       PARTITION BY md5(regexp_replace(
                           trim(lower(text)), '\\s+', ' ', 'g'))) AS keep_id
            FROM gated g)
        WHERE doc_id = keep_id
    ),
    contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, greatest(len(toks) - 1, 2)),
                  i -> array_to_string(toks[i:i + 2], ' ')))) AS ng
              FROM d WHERE doc_id % {EVAL_MOD} <> 0) t
        JOIN (SELECT unnest(list_distinct(list_transform(
                  range(1, greatest(len(toks) - 1, 2)),
                  i -> array_to_string(toks[i:i + 2], ' ')))) AS ng
              FROM d WHERE doc_id % {EVAL_MOD} = 0) e
          ON t.ng = e.ng
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(n_words) AS BIGINT) AS total_words
    FROM deduped LEFT JOIN contaminated USING (doc_id)
    WHERE contaminated.doc_id IS NULL
    GROUP BY lang
    """,
    doc="End-to-end curation pipeline v2, composing this round's "
        "quality signals as ONE hash-checked query: Gopher repetition "
        "gates (top-word, dup-bigram) + word-entropy floor -> exact "
        "dedup (min id per normalized fingerprint) -> benchmark "
        "decontamination (3-gram overlap vs the eval slice) -> per-"
        "lang corpus stats with exact membership (id_sum). The gate "
        "signals, fingerprint and n-grams are row-local columns over "
        "each doc's tokens. While the documents hold at most "
        f"{V2_LOCAL_TEXT_BYTES_MAX // 2 ** 20} MiB of text, the corpus "
        "is read on the driver (no Spark scan) and one Arrow fetch of "
        "those columns is finished there (dedup, "
        "decontamination and per-lang sums in Arrow) and returns as a "
        "LocalRelation: at that size per-job overhead outweighs the "
        "data. Above it the corpus is cached and every later stage is "
        "shuffle-on-key (fingerprint, n-gram); no all-pairs anywhere, "
        "so the plan shape survives 100 TB.",
    tags=("X34", "X15", "X25", "X18", "X2"),
)
def training_data_prep_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..caching import persist_tracked
    from ..queries.text import _docs as _text_docs

    # A corpus that fits: the three columns are read on the driver and
    # handed to the JVM as a LocalRelation, whose scan splits over every
    # core with no shuffle; one Arrow fetch of the row-local columns,
    # finished on the driver. No cache, no fingerprint/doc_id/lang
    # shuffles, no broadcast. The coalesce keeps the scan's own splits;
    # it is there because the optimizer would otherwise fold the
    # projection into the LocalRelation (ConvertToLocalRelation) and
    # evaluate it at plan time on one driver thread: 1.5 s instead of
    # 0.6 s at sf0.1 on 4 cores.
    docs = _v2_local_docs(sf_dir)
    if docs is not None:
        source = spark.createDataFrame(docs).coalesce(
            spark.sparkContext.defaultParallelism)
        fetched = _v2_signals(source).select(
            "doc_id", "lang", "n_words",
            F.expr(f"coalesce({_V2_GATE}, false) AS ok"),
            F.expr(f"{_V2_IS_EVAL} AS is_eval"),
            exact_fingerprint("text").alias("fp"),
            C.word_ngrams("_toks", NGRAM_N).alias("ngrams"),
        ).toArrow()
        return local_frame(spark, _v2_local_finish(fetched),
                           "lang STRING, n_docs BIGINT NOT NULL, "
                           "id_sum BIGINT, total_words BIGINT")

    # The gate and both contamination sides read one cached frame
    # instead of rescanning the corpus — measured 17s -> ~6s at sf0.1
    # from the persist alone.
    d = persist_tracked(_v2_signals(_text_docs(spark, sf_dir)).drop("_toks"))
    gated = d.filter(_V2_GATE)

    deduped = (gated.withColumn("fp", exact_fingerprint("text"))
               .withColumn("keep_id",
                           F.min("doc_id").over(Window.partitionBy("fp")))
               .filter(F.col("doc_id") == F.col("keep_id")))

    train = d.filter(f"NOT ({_V2_IS_EVAL})")
    evals = d.filter(_V2_IS_EVAL)
    contaminated = C.ngram_contamination(
        train, evals, "doc_id", "text", n=NGRAM_N).select("doc_id")

    return (deduped.join(contaminated, "doc_id", "left_anti")
            .groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("doc_id").cast("long").alias("id_sum"),
                 F.sum("n_words").cast("long").alias("total_words")))


def _v2_signals(docs: DataFrame) -> DataFrame:
    """doc_id, lang, text, the projected tokens ``_toks`` and the gate's
    four signals over a (doc_id, lang, text) frame. The signals are
    row-local: the word fold and the bigrams run once per document and
    the gate is a plain filter (no (doc, word) shuffle, no join back).
    The fold and the bigrams read the projected ``_toks``, never the
    split expression itself."""
    toks = docs.selectExpr("doc_id", "lang", "text",
                           r"split(trim(lower(text)), '\\s+') AS _toks")
    h = toks.select(
        "doc_id", "lang", "text", "_toks",
        word_histogram_stats("_toks").alias("_h"),
        F.expr("CASE WHEN size(_toks) < 2 THEN array() "
               "ELSE transform(sequence(1, size(_toks) - 1), "
               "i -> concat(_toks[i-1], ' ', _toks[i])) END AS _bgs"))
    return h.selectExpr(
        "doc_id", "lang", "text", "_toks",
        "_h.n_words AS n_words",
        "round(CAST(_h.max_count AS DOUBLE) / _h.n_words, 4)"
        " AS top_word_frac",
        "round(_h.entropy, 4) AS entropy",
        "CASE WHEN size(_bgs) > 0 THEN round(1.0D -"
        " CAST(size(array_distinct(_bgs)) AS DOUBLE) / size(_bgs), 4)"
        " ELSE 0.0D END AS dup_bigram_frac")


def _v2_local_docs(sf_dir: str) -> pa.Table | None:
    """The corpus's (doc_id, lang, text) read on the driver when its text
    fits ``V2_LOCAL_TEXT_BYTES_MAX``, else None. The footer is the first
    screen (no read); it counts a dictionary-encoded repeated text once,
    so the text is then read dictionary-encoded and gated on its decoded
    bytes (each row's dictionary entry, no duplicate materialized)
    before it is decoded."""
    if (parquet_footer(sf_dir, "documents")[1]["text"]
            > V2_LOCAL_TEXT_BYTES_MAX):
        return None
    t = read_columns(sf_dir, "documents", ["doc_id", "lang", "text"],
                     dictionary=("text",))
    text = t["text"]
    decoded_bytes = sum(
        pc.sum(pc.take(pc.binary_length(c.dictionary), c.indices)).as_py()
        or 0 for c in text.chunks)
    if decoded_bytes > V2_LOCAL_TEXT_BYTES_MAX:
        return None
    return t.set_column(t.schema.get_field_index("text"), "text",
                        text.cast(pa.string()))


def _v2_local_finish(t: pa.Table) -> list[tuple]:
    """The tail of ``training_data_prep_v2`` on the driver, over one
    fetched row per document: doc_id, lang, n_words, ok (the gate, null
    as false), is_eval, fp and ngrams. Returns the (lang, n_docs,
    id_sum, total_words) rows of the distributed plan."""
    # Decontamination: a train row (is_eval false; a null doc_id is on
    # neither side) is contaminated when one of its n-grams is an eval
    # n-gram; gated or not, its doc_id then drops, as in the anti-join.
    # Null n-grams (from a null text) meet nothing.
    parent = pc.list_parent_indices(t["ngrams"])
    flat = pc.list_flatten(t["ngrams"])
    row_eval = pc.take(t["is_eval"], parent)
    eval_ngrams = pc.filter(flat, pc.fill_null(row_eval, False))
    hit = pc.and_(pc.fill_null(pc.invert(row_eval), False),
                  pc.is_in(flat, value_set=eval_ngrams, skip_nulls=True))
    contaminated = pc.take(t["doc_id"], pc.filter(parent, hit))
    # Dedup: keep the ok rows whose doc_id is the minimum of their
    # fingerprint group (ties all stay; a null fp is a group of its own,
    # as in the window), then drop the contaminated ids.
    ok = t.filter(t["ok"])
    first = ok.group_by("fp", use_threads=False).aggregate(
        [("doc_id", "min")])
    group = pc.index_in(ok["fp"], value_set=first["fp"], skip_nulls=False)
    keep = pc.and_(
        pc.equal(ok["doc_id"], pc.take(first["doc_id_min"], group)),
        pc.invert(pc.is_in(ok["doc_id"], value_set=contaminated)))
    out = ok.filter(keep).group_by("lang", use_threads=False).aggregate(
        [("doc_id", "count", pc.CountOptions("all")), ("doc_id", "sum"),
         ("n_words", "sum")])
    return list(zip(*(out[c].to_pylist() for c in (
        "lang", "doc_id_count", "doc_id_sum", "n_words_sum"))))


PACK_MAX_LEN = 128


@register(
    "seqlen_packing_profile",
    f"""
    WITH lens AS (
        SELECT lang,
               len(string_split_regex(trim(lower(text)), '\\s+')) AS n
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           ROUND(quantile_cont(n, 0.5), 4) AS p50,
           ROUND(quantile_cont(n, 0.9), 4) AS p90,
           ROUND(quantile_cont(n, 0.99), 4) AS p99,
           ROUND(SUM({PACK_MAX_LEN} - LEAST(n, {PACK_MAX_LEN}))::DOUBLE
                 / (COUNT(*) * {PACK_MAX_LEN}), 4) AS pad_waste_frac,
           ROUND(SUM(GREATEST(n - {PACK_MAX_LEN}, 0))::DOUBLE / SUM(n), 4)
               AS truncation_frac
    FROM lens GROUP BY lang
    """,
    doc="Sequence-length profile for training-batch planning: per-lang "
        "token-count percentiles plus the two numbers that size a "
        f"packing config at max_len={PACK_MAX_LEN} — pad_waste_frac "
        "(fraction of batch slots burned on padding if each doc is "
        "padded alone, the number sequence_packing exists to reclaim) "
        "and truncation_frac (fraction of tokens lost to clipping). "
        "One map-side-combinable aggregate per lang; the exact "
        "percentile buffers one group per lang (bounded group count), "
        "the same exact/approx trade documented on "
        "equidepth_price_histogram applies if the group count grows.",
    tags=("X27", "X7", "X18"),
)
def seqlen_packing_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    lens = d.select("lang", n.alias("n"))
    pad = F.lit(PACK_MAX_LEN) - F.least(F.col("n"), F.lit(PACK_MAX_LEN))
    trunc = F.greatest(F.col("n") - PACK_MAX_LEN, F.lit(0))
    return (lens.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n").cast("long").alias("total_tokens"),
                 F.round(F.expr("percentile(n, 0.5)"), 4).alias("p50"),
                 F.round(F.expr("percentile(n, 0.9)"), 4).alias("p90"),
                 F.round(F.expr("percentile(n, 0.99)"), 4).alias("p99"),
                 F.round(F.sum(pad).cast("double")
                         / (F.count("*") * PACK_MAX_LEN), 4)
                 .alias("pad_waste_frac"),
                 F.round(F.sum(trunc).cast("double") / F.sum("n"), 4)
                 .alias("truncation_frac")))


BOILER_CHUNK = 3
BOILER_MIN_DOCS = 5


@register(
    "boilerplate_removal",
    f"""
    WITH d AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
        FROM documents
    ),
    ch AS (
        SELECT doc_id, cid,
               array_to_string(
                   ts[CAST(cid * {BOILER_CHUNK} + 1 AS INTEGER)
                      :CAST(cid * {BOILER_CHUNK} + {BOILER_CHUNK} AS INTEGER)],
                   ' ') AS ct
        FROM (SELECT doc_id, ts,
                     unnest(generate_series(
                         0, CAST((len(ts) + {BOILER_CHUNK} - 1)
                                 // {BOILER_CHUNK} - 1 AS INTEGER))) AS cid
              FROM d)
    ),
    boiler AS (
        SELECT ct FROM ch GROUP BY ct
        HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
    ),
    kept AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               md5(string_agg(ct, ' ' ORDER BY cid)) AS cleaned_md5
        FROM ch ANTI JOIN boiler USING (ct)
        GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
            FROM ch GROUP BY doc_id)
    SELECT t.doc_id, t.n_chunks,
           COALESCE(k.n_kept, 0) AS n_kept,
           ROUND(COALESCE(k.n_kept, 0)::DOUBLE / t.n_chunks, 4) AS kept_frac,
           COALESCE(k.cleaned_md5, md5('')) AS cleaned_md5
    FROM tot t LEFT JOIN kept k ON t.doc_id = k.doc_id
    """,
    doc="X43 CCNet-style boilerplate removal at chunk granularity: "
        f"every doc splits into fixed {BOILER_CHUNK}-token chunks; a "
        f"chunk text appearing in >= {BOILER_MIN_DOCS} distinct docs is "
        "corpus boilerplate and is dropped from every doc; docs are "
        "reassembled in chunk order. The frequency pass is one "
        "chunk-keyed map-side-combinable aggregate; the removal is a "
        "chunk-keyed LEFT ANTI join (no broadcast assumption — the "
        "boilerplate set is frequency-thresholded but unbounded at "
        "corpus scale); reassembly state is bounded by one document. "
        "cleaned_md5 pins the exact reassembled text in the hash check.",
    tags=("X43", "X18", "X16", "X7"),
)
def boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    ts = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = d.select("doc_id", ts.alias("ts"))
    n_chunks = (F.size("ts") + BOILER_CHUNK - 1).cast("int")
    ch = (base
          .select("doc_id", "ts",
                  F.explode(F.sequence(
                      F.lit(0),
                      ((F.size("ts") + BOILER_CHUNK - 1) / BOILER_CHUNK)
                      .cast("int") - 1)).alias("cid"))
          .select("doc_id", "cid",
                  F.array_join(
                      F.slice(F.col("ts"),
                              F.col("cid") * BOILER_CHUNK + 1,
                              F.lit(BOILER_CHUNK)),
                      " ").alias("ct")))
    boiler = (ch.groupBy("ct")
              .agg(F.countDistinct("doc_id").alias("df"))
              .filter(F.col("df") >= BOILER_MIN_DOCS)
              .select("ct"))
    kept = (ch.join(boiler, "ct", "left_anti")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_kept"),
                 F.md5(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("cid", "ct"))),
                         lambda x: x["ct"]),
                     " ").cast("binary")).alias("cleaned_md5")))
    tot = ch.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_chunks"))
    return (tot.join(kept, "doc_id", "left")
            .select("doc_id", "n_chunks",
                    F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
                    F.round(F.coalesce("n_kept", F.lit(0)).cast("double")
                            / F.col("n_chunks"), 4).alias("kept_frac"),
                    F.coalesce("cleaned_md5",
                               F.md5(F.lit("").cast("binary")))
                    .alias("cleaned_md5")))


SFT_PROMPT_TOKS = 32
SFT_COMPL_TOKS = 16
SFT_TRAIN_PCT = 90
SFT_VAL_PCT = 5


@register(
    "sft_example_assembly",
    f"""
    WITH d AS (
        SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\\s+') AS ts
        FROM documents
    ),
    eligible AS (
        SELECT doc_id, lang, ts FROM d
        WHERE len(ts) >= {SFT_PROMPT_TOKS + SFT_COMPL_TOKS}
    ),
    ex AS (
        SELECT doc_id, lang,
               'summarize (' || lang || '): ' ||
               array_to_string(ts[1:{SFT_PROMPT_TOKS}], ' ') AS prompt,
               array_to_string(
                   ts[{SFT_PROMPT_TOKS + 1}
                      :{SFT_PROMPT_TOKS + SFT_COMPL_TOKS}], ' ') AS completion,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 100 AS b
        FROM eligible
    )
    SELECT doc_id, lang,
           CASE WHEN b < {SFT_TRAIN_PCT} THEN 'train'
                WHEN b < {SFT_TRAIN_PCT + SFT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           CAST({SFT_PROMPT_TOKS} + 3 AS BIGINT) AS n_prompt_tokens,
           CAST({SFT_COMPL_TOKS} AS BIGINT) AS n_completion_tokens,
           md5(prompt) AS prompt_md5,
           md5(completion) AS completion_md5
    FROM ex
    """,
    doc="X50 SFT training-example assembly: eligible docs (enough "
        "tokens) become (prompt, completion) records — a templated "
        "instruction plus the leading token window, completion the "
        "following window — with the reproducible md5 90/5/5 split. "
        "Pure per-row projection after one scan (map-only plan, no "
        "shuffle at any scale); prompt/completion md5s pin the exact "
        "assembled strings in the hash check.",
    tags=("X50", "X18", "X14", "X27"),
)
def sft_example_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ts = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    eligible = (d.select("doc_id", "lang", ts.alias("ts"))
                .filter(F.size("ts") >= SFT_PROMPT_TOKS + SFT_COMPL_TOKS))
    prompt = F.concat(F.lit("summarize ("), F.col("lang"), F.lit("): "),
                      F.array_join(F.slice("ts", 1, SFT_PROMPT_TOKS), " "))
    completion = F.array_join(
        F.slice("ts", SFT_PROMPT_TOKS + 1, SFT_COMPL_TOKS), " ")
    b = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16, 10).cast("long") % 100)
    return eligible.select(
        "doc_id", "lang",
        F.when(b < SFT_TRAIN_PCT, "train")
        .when(b < SFT_TRAIN_PCT + SFT_VAL_PCT, "val")
        .otherwise("test").alias("split"),
        F.lit(SFT_PROMPT_TOKS + 3).cast("long").alias("n_prompt_tokens"),
        F.lit(SFT_COMPL_TOKS).cast("long").alias("n_completion_tokens"),
        F.md5(prompt.cast("binary")).alias("prompt_md5"),
        F.md5(completion.cast("binary")).alias("completion_md5"))


# --------------------------------------------------------------------------
# X126: greedy set-cover corpus selection — the submodular
# coverage-maximization primitive behind "pick the K sources that
# together cover the most distinct content" (facility-location /
# coreset selection for training mixes). Greedy is the canonical
# (1 - 1/e)-approximation and its distributed form is exactly this
# loop: each round one anti-join (drop already-covered shingles) +
# one per-source count + a 1-ROW argmax collect (bounded by the
# source count, never corpus-sized), then fold the winner's shingles
# into the covered set (localCheckpoint keeps plan depth constant).
# Round count is fixed (COVER_ROUNDS) and every quantity is a BIGINT
# count, so the DuckDB oracle replays the identical greedy trace.
# --------------------------------------------------------------------------
COVER_ROUNDS = 6
COVER_K = 3  # shingle width


def _setcover_oracle_sql() -> str:
    k = COVER_K
    parts = [f"""WITH d AS (
        SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS ts
        FROM documents
    ),
    sh AS MATERIALIZED (
        SELECT DISTINCT source,
               ('0x' || substr(md5(sg), 1, 15))::BIGINT AS h
        FROM (SELECT source,
                     unnest(list_distinct(list_transform(
                         generate_series(1, GREATEST(len(ts) - {k - 1}, 1)),
                         i -> array_to_string(
                             ts[CAST(i AS INTEGER):CAST(i AS INTEGER) + {k - 1}],
                             ' ')))) AS sg
              FROM d)
    ),
    uni AS (SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS u FROM sh),
    c0 AS MATERIALIZED (SELECT h FROM sh WHERE 1 = 0),
    p0 AS (SELECT source FROM sh WHERE 1 = 0)"""]
    for r in range(1, COVER_ROUNDS + 1):
        parts.append(f"""b{r} AS MATERIALIZED (
        SELECT sh.source, CAST(COUNT(*) AS BIGINT) AS gain
        FROM sh
        WHERE NOT EXISTS (SELECT 1 FROM c{r-1} c WHERE c.h = sh.h)
          AND NOT EXISTS (SELECT 1 FROM p{r-1} p WHERE p.source = sh.source)
        GROUP BY sh.source
        ORDER BY gain DESC, source LIMIT 1)""")
        parts.append(f"""c{r} AS MATERIALIZED (
        SELECT h FROM c{r-1}
        UNION
        SELECT sh.h FROM sh JOIN b{r} ON sh.source = b{r}.source)""")
        parts.append(f"""p{r} AS (
        SELECT source FROM p{r-1} UNION ALL SELECT source FROM b{r})""")
    rows = [f"SELECT {r} AS round, b{r}.source, b{r}.gain,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM c{r}) AS covered,"
            f" (SELECT u FROM uni) AS universe FROM b{r}"
            for r in range(1, COVER_ROUNDS + 1)]
    return (",\n".join(parts) + "\n"
            + "\nUNION ALL\n".join(rows) + "\nORDER BY round")


@register(
    "greedy_source_cover",
    _setcover_oracle_sql(),
    doc=f"X126 greedy set-cover corpus selection: {COVER_ROUNDS} rounds "
        f"choosing the source whose distinct {COVER_K}-gram shingles "
        "add the most uncovered content (gain DESC, source ASC "
        "tie-break). Emits the greedy trace — source, marginal gain, "
        "cumulative coverage, universe size. Distinct (source, "
        "shingle-hash) collapses before any join, each round is one "
        "anti-join + count, and the only collect is the 1-row argmax; "
        "the covered set localCheckpoints so plan depth stays "
        "constant.",
    tags=("X126", "X28", "X16", "X7"),
)
def greedy_source_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked
    from ..operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    # r9: tokens below the spread exchange, shingles above; spread on
    # doc_id (source is low-cardinality). See exploded_token_shingles.
    sh = persist_tracked(
        D.exploded_token_shingles(d, "source", "text", COVER_K,
                                  spread_col="doc_id")
        .select("source",
                F.conv(F.substring(F.md5("sg"), 1, 15), 16, 10)
                .cast("long").alias("h"))
        .distinct())
    universe = sh.select("h").distinct().count()
    covered = sh.select("h").filter(F.lit(False)).localCheckpoint()
    chosen: list[str] = []
    out: list[tuple[int, str, int, int]] = []
    for r in range(1, COVER_ROUNDS + 1):
        gain = (sh.filter(~F.col("source").isin(chosen))
                .join(covered, "h", "left_anti")
                .groupBy("source")
                .agg(F.count("*").cast("long").alias("gain"))
                .orderBy(F.desc("gain"), F.asc("source"))
                .limit(1).collect())
        if not gain:
            break
        best = gain[0]
        chosen.append(best["source"])
        covered = (covered.unionByName(
            sh.filter(F.col("source") == best["source"]).select("h"))
            .distinct().localCheckpoint())
        out.append((r, best["source"], best["gain"], covered.count()))
    return spark.createDataFrame(
        out, "round INT, source STRING, gain BIGINT, covered BIGINT") \
        .withColumn("universe", F.lit(universe).cast("long"))


# --------------------------------------------------------------------------
# X138: inter-annotator agreement (Cohen's kappa) between two
# independent document-quality raters — the metric that tells a
# curation team whether its heuristic gates actually measure the same
# thing before they're ensembled. Rater A keeps docs with n_chars >=
# KAPPA_LEN_MIN; rater B keeps docs whose stopword ratio clears a
# threshold compared by integer cross-multiplication (n_stop * 100 <=
# n_tokens * KAPPA_STOP_PCT — no float ratio ever forms). Kappa
# reduces to a ratio of BIGINTs:
#   kappa = (n*agree - sum_k nA_k*nB_k) / (n^2 - sum_k nA_k*nB_k)
# so the 2x2 contingency fold is the whole computation — one corpus
# pass, a 4-cell aggregate, exact at any scale.
# --------------------------------------------------------------------------
KAPPA_LEN_MIN = 300
KAPPA_STOP_PCT = 6  # percent


@register(
    "rater_agreement_kappa",
    f"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN n_chars >= {KAPPA_LEN_MIN} THEN 1 ELSE 0 END AS a,
               CASE WHEN CAST(len(list_filter(
                        string_split_regex(trim(lower(text)), '\\s+'),
                        w -> w IN ('the', 'a'))) AS BIGINT) * 100
                        <= CAST(len(string_split_regex(
                               trim(lower(text)), '\\s+')) AS BIGINT)
                           * {KAPPA_STOP_PCT}
                    THEN 1 ELSE 0 END AS b
        FROM documents
    ),
    cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_agree,
               CAST(SUM(a) AS BIGINT) AS a_keep,
               CAST(SUM(b) AS BIGINT) AS b_keep
        FROM toks
    )
    SELECT n, n_agree, a_keep, b_keep,
           CAST(n * n_agree - (a_keep * b_keep
                               + (n - a_keep) * (n - b_keep))
                AS BIGINT) AS kappa_num,
           CAST(n * n - (a_keep * b_keep + (n - a_keep) * (n - b_keep))
                AS BIGINT) AS kappa_den,
           ROUND(CAST(n * n_agree - (a_keep * b_keep
                                     + (n - a_keep) * (n - b_keep))
                      AS DOUBLE)
                 / (n * n - (a_keep * b_keep
                             + (n - a_keep) * (n - b_keep))), 6)
               AS kappa
    FROM cells
    """,
    doc=f"X138 Cohen's kappa between a length rater (n_chars >= "
        f"{KAPPA_LEN_MIN}) and a stopword-density rater (stop ratio "
        f"<= {KAPPA_STOP_PCT}% via integer cross-multiplication): "
        "chance-corrected agreement as an exact BIGINT ratio from the "
        "2x2 contingency counts — one corpus pass, one 4-cell "
        "aggregate, one division.",
    tags=("X138", "X18", "X2", "X7"),
)
def rater_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ts = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    n_stop = F.size(F.filter(ts, lambda w: w.isin("the", "a")))
    rated = d.select(
        F.when(F.col("n_chars") >= KAPPA_LEN_MIN, 1).otherwise(0)
        .alias("a"),
        F.when(n_stop.cast("long") * 100
               <= F.size(ts).cast("long") * KAPPA_STOP_PCT, 1)
        .otherwise(0).alias("b"))
    cells = rated.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0))
        .cast("long").alias("n_agree"),
        F.sum("a").cast("long").alias("a_keep"),
        F.sum("b").cast("long").alias("b_keep"))
    chance = (F.col("a_keep") * F.col("b_keep")
              + (F.col("n") - F.col("a_keep"))
              * (F.col("n") - F.col("b_keep")))
    num = F.col("n") * F.col("n_agree") - chance
    den = F.col("n") * F.col("n") - chance
    return cells.select(
        "n", "n_agree", "a_keep", "b_keep",
        num.cast("long").alias("kappa_num"),
        den.cast("long").alias("kappa_den"),
        F.round(num.cast("double") / den, 6).alias("kappa"))


# --------------------------------------------------------------------------
# X140: token-budget corpus selection — "fill a training-token budget
# with the best documents": the global take-in-quality-order prefix,
# computed WITHOUT a global sort. Two-pass histogram-cutoff shape
# (the same discipline as the equidepth/heavy-hitter ops): pass 1
# folds per-quality-level token totals (quality on a 1e-6 integer
# grid), a level-cardinality window finds the cutoff level; only the
# single boundary level needs per-doc ordering (doc_id-ranked prefix
# inside one level — a partitioned-by-nothing-but-level window over a
# level-sized slice), and the two bounded scalars (cutoff, residual
# budget) ride a 1-row collect. Budget is a FRACTION of corpus
# tokens, so selectivity is scale-invariant. Exact integers
# everywhere; the greedy-prefix optimality law is pytest-pinned.
# --------------------------------------------------------------------------
BUDGET_FRAC_PCT = 40  # percent of total whitespace tokens


def _budget_oracle_sql() -> str:
    from .text import sql_quality_expr

    q = sql_quality_expr()
    return f"""
    WITH base AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS ntok,
               CAST(ROUND(1000000.0 * {q}, 0) AS BIGINT) AS qm
        FROM documents
    ),
    b AS (SELECT CAST(SUM(ntok) * {BUDGET_FRAC_PCT} // 100 AS BIGINT)
                     AS budget
          FROM base),
    hist AS (
        SELECT qm, CAST(SUM(ntok) AS BIGINT) AS tok
        FROM base GROUP BY qm
    ),
    cum AS (
        SELECT qm, tok,
               SUM(tok) OVER (ORDER BY qm DESC) - tok AS cum_before
        FROM hist
    ),
    boundary AS (
        SELECT qm, (SELECT budget FROM b) - cum_before AS residual
        FROM cum
        WHERE cum_before <= (SELECT budget FROM b)
          AND cum_before + tok > (SELECT budget FROM b)
    ),
    full_sel AS (
        SELECT base.* FROM base
        WHERE qm > COALESCE((SELECT qm FROM boundary), -1)
          AND (SELECT COUNT(*) FROM boundary) = 1
    ),
    bdocs AS (
        SELECT base.*,
               SUM(ntok) OVER (ORDER BY doc_id) AS run
        FROM base JOIN boundary ON base.qm = boundary.qm
    ),
    part_sel AS (
        SELECT doc_id, source, ntok, qm FROM bdocs
        WHERE run <= (SELECT residual FROM boundary)
    ),
    sel AS (SELECT * FROM full_sel UNION ALL SELECT * FROM part_sel)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(ntok) AS BIGINT) AS tokens_selected,
           CAST(MIN(qm) AS BIGINT) AS min_quality_micro,
           (SELECT budget FROM b) AS budget_tokens
    FROM sel GROUP BY source
    """


@register(
    "token_budget_selection",
    _budget_oracle_sql(),
    doc=f"X140 token-budget corpus selection ({BUDGET_FRAC_PCT}% of "
        "corpus tokens): per-quality-level token histogram -> "
        "descending cumulative window -> cutoff level; only the "
        "boundary level is doc-ranked (doc_id prefix against the "
        "residual budget). Per-source composition of the selected "
        "set. The global best-first prefix without a global sort — "
        "the selection shape every token-budgeted pretraining mix "
        "needs.",
    tags=("X140", "X28", "X18", "X11", "X12"),
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import text as T

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long")
        .alias("ntok"),
        F.round(1000000.0 * T.quality_score(F.col("text")), 0)
        .cast("long").alias("qm"))
    base = base.persist()
    budget = base.agg(
        F.expr(f"sum(ntok) * {BUDGET_FRAC_PCT} div 100").cast("long")
        .alias("b")).collect()[0]["b"]
    hist = base.groupBy("qm").agg(F.sum("ntok").cast("long").alias("tok"))
    w = Window.orderBy(F.desc("qm")) \
        .rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("qm", "tok",
                      (F.sum("tok").over(w) - F.col("tok"))
                      .alias("cum_before"))
    brow = (cum.filter((F.col("cum_before") <= budget)
                       & (F.col("cum_before") + F.col("tok") > budget))
            .select("qm", (F.lit(budget) - F.col("cum_before"))
                    .alias("residual")).collect())
    if brow:
        q_b, residual = brow[0]["qm"], brow[0]["residual"]
        full_sel = base.filter(F.col("qm") > q_b)
        wrun = Window.orderBy("doc_id") \
            .rowsBetween(Window.unboundedPreceding, 0)
        part_sel = (base.filter(F.col("qm") == q_b)
                    .withColumn("run", F.sum("ntok").over(wrun))
                    .filter(F.col("run") <= residual)
                    .drop("run"))
        sel = full_sel.unionByName(part_sel)
    else:  # budget >= corpus: everything selected
        sel = base
    return (sel.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_selected"),
                 F.sum("ntok").cast("long").alias("tokens_selected"),
                 F.min("qm").cast("long").alias("min_quality_micro"))
            .withColumn("budget_tokens", F.lit(budget).cast("long")))


# --------------------------------------------------------------------------
# X191: temperature-scaled corpus mixing — the multilingual sampling
# law every LLM data recipe quotes (sample language l with
# probability ~ share_l^alpha, upsampling the tail): here at
# alpha = 1/2, deliberately, because sqrt is IEEE-754
# correctly-rounded (pow(x, 0.7) is libm-dependent and would need a
# micro-snap; sqrt of identical doubles is bit-identical for free).
# One documents pass counts per-lang docs/tokens; weights
# sqrt(tokens) snap to the micro grid; sampling probabilities are
# single divisions of those BIGINTs; and the concrete BATCH-example
# plan is Hamilton largest-remainder apportionment in pure integer
# arithmetic (the X148/X182 machinery). The boost column
# (sample_prob / raw_share) is the up/down-sampling factor training
# actually applies.
# --------------------------------------------------------------------------
MIX_BATCH = 1000


@register(
    "temperature_mix_plan",
    f"""
    WITH lt AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split_regex(trim(lower(text)),
                                               '\\s+'))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM lt
    ),
    wgt AS (
        SELECT lang, n_docs, n_tokens,
               CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000, 0)
                    AS BIGINT) AS wm
        FROM lt
    ),
    wtot AS (SELECT CAST(SUM(wm) AS BIGINT) AS w FROM wgt),
    quota AS (
        SELECT lang, n_docs, n_tokens, wm,
               ({MIX_BATCH} * wm) // wtot.w AS base_n,
               {MIX_BATCH} * wm
                 - (({MIX_BATCH} * wm) // wtot.w) * wtot.w AS rem
        FROM wgt CROSS JOIN wtot
    ),
    left_ AS (
        SELECT {MIX_BATCH} - CAST(SUM(base_n) AS BIGINT) AS k
        FROM quota
    ),
    alloc AS (
        SELECT lang, n_docs, n_tokens, wm,
               CAST(base_n + CASE WHEN rnk <= left_.k THEN 1 ELSE 0 END
                    AS BIGINT) AS batch_n
        FROM (SELECT q.*, ROW_NUMBER() OVER (ORDER BY rem DESC, lang)
                     AS rnk FROM quota q)
        CROSS JOIN left_
    )
    SELECT a.lang, a.n_docs, a.n_tokens,
           ROUND(CAST(a.n_tokens AS DOUBLE) / tot.t, 6) AS raw_share,
           a.wm AS weight_micro,
           ROUND(CAST(a.wm AS DOUBLE) / wtot.w, 6) AS sample_prob,
           a.batch_n,
           ROUND((CAST(a.wm AS DOUBLE) / wtot.w)
                 / (CAST(a.n_tokens AS DOUBLE) / tot.t), 4) AS boost
    FROM alloc a CROSS JOIN tot CROSS JOIN wtot
    ORDER BY a.lang
    """,
    doc=f"X191 temperature mixing (alpha=1/2): per-lang token counts "
        "from one pass, sqrt-of-tokens weights micro-snapped (sqrt "
        "is correctly rounded — no libm pow), sampling probs single "
        f"divisions, {MIX_BATCH}-example batch plan via Hamilton "
        "integer apportionment, boost = up/down-sampling factor.",
    tags=("X191", "X28", "X148", "X182", "X18"),
)
def temperature_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from ..catalog import load_table as _lt

    d = _lt(spark, sf_dir, "documents")
    lt = (d.groupBy("lang")
          .agg(F.count("*").cast("long").alias("n_docs"),
               F.sum(F.size(F.split(F.trim(F.lower(F.col("text"))),
                                    r"\s+"))).cast("long")
               .alias("n_tokens")))
    tot = lt.agg(F.sum("n_tokens").cast("long").alias("t"))
    wgt = lt.select("lang", "n_docs", "n_tokens",
                    F.round(F.sqrt(F.col("n_tokens").cast("double"))
                            * 1e6, 0).cast("long").alias("wm"))
    wtot = wgt.agg(F.sum("wm").cast("long").alias("w"))
    quota = (wgt.crossJoin(F.broadcast(wtot))
             .select("*",
                     F.expr(f"({MIX_BATCH} * wm) DIV w").alias("base_n"),
                     F.expr(f"{MIX_BATCH} * wm"
                            f" - (({MIX_BATCH} * wm) DIV w) * w")
                     .alias("rem")))
    leftk = quota.agg((F.lit(MIX_BATCH) - F.sum("base_n"))
                      .cast("long").alias("k"))
    alloc = (quota.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("rem"),
                                                  F.asc("lang"))))
        .crossJoin(F.broadcast(leftk))
        .select("lang", "n_docs", "n_tokens", "wm", "w",
                (F.col("base_n")
                 + F.when(F.col("rnk") <= F.col("k"), 1).otherwise(0))
                .cast("long").alias("batch_n")))
    return (alloc.crossJoin(F.broadcast(tot)).select(
        "lang", "n_docs", "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("t"), 6)
        .alias("raw_share"),
        F.col("wm").alias("weight_micro"),
        F.round(F.col("wm").cast("double") / F.col("w"), 6)
        .alias("sample_prob"),
        "batch_n",
        F.round((F.col("wm").cast("double") / F.col("w"))
                / (F.col("n_tokens").cast("double") / F.col("t")), 4)
        .alias("boost"))
        .orderBy("lang"))
