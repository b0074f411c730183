"""Text-analysis operators for large-scale training-data pipelines.

All hot paths are JVM-side expressions (split / regexp / higher-order
array functions) — no Python UDFs — so they stay inside whole-stage
codegen and scale linearly with input splits. Each builder returns a
Column so callers compose them into a single projection (one scan).

Design parity note: every formula here is also expressible in ANSI/DuckDB
SQL, which is how the driver's oracle checks them (queries/text.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Fixed stopword profiles for the heuristic language classifier. The
# lists are part of the operator contract (oracle SQL embeds the same
# ones) — do not reorder/extend without updating queries/text.py.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"),
    "es": ("el", "la", "de", "y", "que", "en", "es", "un", "una", "los"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "im"),
}

# "BPE-ish" token pattern: runs of letters, runs of digits, or a single
# non-space symbol — a deterministic stand-in for a real subword vocab.
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

PUNCT_RE = "[,.!?;:]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization (empty input -> single empty token)."""
    return F.split(F.trim(text), r"\s+")


def n_tokens(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def n_bpe_tokens(text: Column) -> Column:
    """Token count under the BPE-ish regex vocabulary."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0)).cast("long")


def stopword_hits(text: Column, lang: str) -> Column:
    """How many tokens are stopwords of ``lang`` (case-insensitive)."""
    words = STOPWORDS[lang]
    return F.size(
        F.filter(tokens(F.lower(text)), lambda t: t.isin(*words))
    ).cast("long")


def detect_language(text: Column) -> Column:
    """Argmax over stopword-profile scores; 'und' (undetermined) when no
    profile matches. Ties resolve in fixed order en > es > de."""
    en, es, de = (stopword_hits(text, lang) for lang in ("en", "es", "de"))
    return (
        F.when((en >= es) & (en >= de) & (en > 0), "en")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("und")
    )


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, f"[^{PUNCT_RE[1:-1]}]", ""))
    return n_punct / F.greatest(F.length(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length saturation (40%),
    English-stopword density (30%), low punctuation noise (30%)."""
    nt = F.greatest(n_tokens(text), F.lit(1))
    length_part = F.least(nt / F.lit(100.0), F.lit(1.0)) * 0.4
    stop_part = F.least(stopword_hits(text, "en") / nt * F.lit(5.0), F.lit(1.0)) * 0.3
    punct_part = (F.lit(1.0) - F.least(punct_ratio(text) * F.lit(10.0), F.lit(1.0))) * 0.3
    return F.round(length_part + stop_part + punct_part, 6)


def exact_fingerprint(text: str) -> Column:
    """Exact-duplicate fingerprint of the string column named ``text``:
    md5 of the case/space-normalized text, as one SQL expression."""
    return F.expr(
        f"md5(regexp_replace(lower(trim(`{text}`)), '\\\\s+', ' '))")


def rolling_fingerprint(text: Column, width: int = 16) -> Column:
    """Winnowing-style document fingerprint: the minimum md5 over all
    ``width``-char windows of the text. One expression, no shuffle."""
    positions = F.sequence(
        F.lit(1), F.greatest(F.length(text) - (width - 1), F.lit(1)))
    hashes = F.transform(
        positions, lambda i: F.md5(text.substr(i, F.lit(width)))
    )
    return F.array_min(hashes)


def word_histogram_stats(toks: str) -> Column:
    """Per-document word histogram statistics of the token-array column
    named ``toks``: ``struct(n_words, n_distinct, max_count, entropy)``,
    entropy being the Shannon entropy in bits, ``-sum(p * log2(p))`` over
    p = c/n.

    One ``array_sort`` makes equal words adjacent; one ``aggregate``
    fold over the sorted array measures each run of equal words and
    closes it into the counts when the next word differs. The fold
    starts with ``prev = NULL, run = 0``, so the first token (also a
    lone ``""``) opens a run. A document is one row, so this is a map:
    no (doc, word) shuffle, no fold on doc, no join back.

    ``toks`` names a projected column, never an expression: the fold
    reads ``size(toks)`` for every run it closes, and an inlined
    ``split`` would re-tokenize the text each time. The fold is one SQL
    expression, so building it is one call into the JVM rather than one
    per node. A null ``toks`` gives a null struct."""
    t = f"`{toks}`"

    def term(run: str) -> str:
        p = f"(CAST({run} AS DOUBLE) / size({t}))"
        return f"CASE WHEN {run} > 0 THEN -({p} * log2({p})) ELSE 0D END"

    same = "(acc.run > 0 AND w = acc.prev)"
    return F.expr(f"""aggregate(
        array_sort({t}),
        named_struct('prev', CAST(NULL AS STRING), 'run', 0L,
                     'n_distinct', 0L, 'max_count', 0L, 'entropy', 0D),
        (acc, w) -> named_struct(
            'prev', w,
            'run', IF({same}, acc.run + 1, 1L),
            'n_distinct', acc.n_distinct + IF({same}, 0L, 1L),
            'max_count', greatest(acc.max_count, IF({same}, acc.run + 1, 1L)),
            'entropy', IF({same}, acc.entropy,
                          acc.entropy + {term("acc.run")})),
        acc -> named_struct(
            'n_words', CAST(size({t}) AS BIGINT),
            'n_distinct', acc.n_distinct,
            'max_count', acc.max_count,
            'entropy', acc.entropy + {term("acc.run")}))""")


def tfidf_cosine_pairs(docs, id_col: str = "doc_id", text_col: str = "text",
                       max_df: int = 100, threshold: float = 0.3):
    """Document-similarity join on L2-normalized TF-IDF vectors via an
    inverted-index term join — never an all-pairs product. Terms with
    document frequency > ``max_df`` are pruned first: they carry ~zero
    idf weight AND they are exactly the terms that make the term join
    quadratic, so the cap is both the quality and the scale lever (at
    100 TB this is the difference between a bounded join and a cross
    product on the word 'the'). Deterministic and SQL-replicable.
    Returns (id_a, id_b, cos) for pairs with cosine >= threshold."""
    import pyspark.sql.functions as F

    from ..catalog import spread

    d = spread(docs.select(F.col(id_col).alias("_id"), text_col), "_id")
    toks = d.select("_id", F.explode(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("term"))
    tf = toks.groupBy("_id", "term").agg(F.count("*").alias("tf"))
    dft = toks.groupBy("term").agg(
        F.countDistinct("_id").cast("long").alias("df"))
    n_docs = float(d.count())  # at scale: 1-row broadcast join instead
    w = (tf.join(F.broadcast(dft.filter(F.col("df") <= max_df)), "term")
         .select("_id", "term",
                 (F.col("tf") * F.log(F.lit(n_docs) / F.col("df"))).alias("w")))
    nrm = w.groupBy("_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    wn = (w.join(nrm, "_id")
          .select("_id", "term", (F.col("w") / F.col("nrm")).alias("wn"))
          .persist())
    a = wn.select(F.col("_id").alias("id_a"), "term", F.col("wn").alias("wa"))
    b = wn.select(F.col("_id").alias("id_b"), "term", F.col("wn").alias("wb"))
    return (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def chunk_documents(docs, id_col: str, text_col: str,
                    chunk_tokens: int = 64, overlap: int = 16):
    """Split documents into overlapping fixed-token chunks — the
    RAG-ingestion / context-window prep step. Chunk i of a doc covers
    tokens [1 + i*stride, 1 + i*stride + chunk_tokens) with stride =
    chunk_tokens - overlap; every doc yields >= 1 chunk; the final
    chunk may be short. All JVM HOFs: tokenize once, explode a
    ``sequence`` of chunk indices, slice per chunk — no UDF, and the
    explode keeps per-row memory at one chunk, not one document, so a
    100 TB corpus chunks as a pure map stage (zero shuffle).

    Chunk count uses the integer identity ceil((n-o)/s) ==
    (n - o + s - 1) DIV s (operands always positive here), which both
    Spark and an exact SQL oracle compute identically — no float ceil.

    Returns (id, chunk_id, start_tok, chunk_tok, chunk_text).
    """
    import pyspark.sql.functions as F

    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_chunks = F.greatest(
        F.lit(1),
        F.expr(f"(size(split(trim({text_col}), '\\\\s+')) - {overlap} "
               f"+ {stride - 1}) DIV {stride}"))
    d = docs.select(F.col(id_col), toks.alias("_toks"),
                    n_chunks.alias("_k"))
    return (d.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.col("_k") - 1)).alias("chunk_id"),
        F.col("_toks"))
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            (F.col("chunk_id") * stride + 1).cast("long").alias("start_tok"),
            F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1,
                    chunk_tokens).alias("_chunk"))
        .select(
            id_col, "chunk_id", "start_tok",
            F.size("_chunk").cast("long").alias("chunk_tok"),
            F.array_join(F.col("_chunk"), " ").alias("chunk_text")))


def repetition_metrics(docs, id_col: str, text_col: str):
    """Gopher-style intra-document repetition statistics (Rae et al.
    2021 §A1.1: documents dominated by a few repeated words/phrases are
    low-quality training data and get filtered).

    Per document:
      * ``n_words`` / ``n_distinct`` — token counts;
      * ``top_word_frac`` — share of the single most frequent token
        (Gopher's "fraction of the most common word");
      * ``dup_bigram_frac`` — 1 - distinct_bigrams/total_bigrams
        (Gopher's duplicate n-gram fraction, n=2).

    Row-local: one tokenize, the word counts come from
    ``word_histogram_stats`` over the projected tokens, and bigrams are
    built by array indexing (``transform(sequence(...))``) —
    deterministic positions, no window-over-unordered-rows. A document
    is one row in one task, so nothing shuffles. A null text has no
    tokens and yields no row.

    Ratios are exact single divisions of exact BIGINT counts — no
    summation-order dust, so they hash cross-engine after rounding.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    d = (docs.filter(F.col(text_col).isNotNull())
         .select(F.col(id_col), toks.alias("_toks")))

    # CASE guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) rather than
    # returning empty, so a 1-token doc must short-circuit to array().
    bigrams = F.expr(
        "CASE WHEN size(_toks) < 2 THEN array() "
        "ELSE transform(sequence(1, size(_toks) - 1), "
        "i -> concat(_toks[i-1], ' ', _toks[i])) END")
    return (d.select(id_col, word_histogram_stats("_toks").alias("_h"),
                     bigrams.alias("_bgs"))
            .select(id_col,
                    F.col("_h.n_words").alias("n_words"),
                    F.col("_h.n_distinct").alias("n_distinct"),
                    (F.col("_h.max_count").cast("double")
                     / F.col("_h.n_words")).alias("top_word_frac"),
                    F.size("_bgs").cast("long").alias("n_bigrams"),
                    F.size(F.array_distinct("_bgs")).cast("long")
                    .alias("n_distinct_bigrams"))
            .withColumn(
                "dup_bigram_frac",
                F.when(F.col("n_bigrams") > 0,
                       1.0 - F.col("n_distinct_bigrams").cast("double")
                       / F.col("n_bigrams")).otherwise(F.lit(0.0))))
