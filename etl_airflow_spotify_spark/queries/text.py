"""Text-analysis queries over ``documents`` (SURVEY.md §2.B X18 +
north-star text ops: language-ID, quality scoring, token counting,
fingerprinting). Oracle SQL embeds the exact same formulas so the driver
hash-checks real values, not just row counts."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table, spread
from ..operators import graph as G_GRAPH
from ..operators import text as T
from ..registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the per-document expression batteries are CPU-bound, so
    # run them at full parallelism even off a single-split test file.
    return spread(load_table(spark, sf_dir, "documents"), "doc_id")


def _sql_stop_filter(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
    return (f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
            f"t -> t IN ({words})))")


def sql_quality_expr() -> str:
    """DuckDB expression for T.quality_score(text) — shared by every
    oracle that scores documents (doc_stats, dedup keep-best)."""
    return f"""ROUND(LEAST(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                       / 100.0, 1.0) * 0.4
                 + LEAST({_sql_stop_filter('en')}
                         / CAST(GREATEST(len(string_split_regex(trim(text), '\\s+')), 1) AS DOUBLE)
                         * 5.0, 1.0) * 0.3
                 + (1.0 - LEAST(CAST(len(regexp_replace(text, '[^,.!?;:]', '', 'g')) AS DOUBLE)
                                / GREATEST(len(text), 1) * 10.0, 1.0)) * 0.3,
                 6)"""


# --------------------------------------------------------------------------
# Per-document stats battery: token counts (whitespace + BPE-ish regex),
# punctuation ratio, quality score. One projection, one scan.
# --------------------------------------------------------------------------
@register(
    "doc_stats",
    f"""
    SELECT doc_id, lang, source, n_chars,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{T.BPE_TOKEN_RE}')) AS BIGINT) AS n_bpe_tokens,
           CAST({_sql_stop_filter('en')} AS BIGINT) AS en_stopwords,
           ROUND(CAST(len(regexp_replace(text, '[^,.!?;:]', '', 'g')) AS DOUBLE)
                 / GREATEST(len(text), 1), 6) AS punct_ratio,
           {sql_quality_expr()} AS quality
    FROM documents
    """,
    doc="Per-doc token counts, punctuation ratio, quality score (X18).",
    tags=("X18",),
)
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id", "lang", "source", "n_chars",
        T.n_tokens(t).alias("n_tokens"),
        T.n_bpe_tokens(t).alias("n_bpe_tokens"),
        T.stopword_hits(t, "en").alias("en_stopwords"),
        F.round(T.punct_ratio(t), 6).alias("punct_ratio"),
        T.quality_score(t).alias("quality"),
    )


# --------------------------------------------------------------------------
# Corpus word frequencies: explode -> count -> deterministic top-k.
# At 100 TB the explode fans out per token but partial aggregation
# (map-side combine) collapses it before the shuffle.
# --------------------------------------------------------------------------
@register(
    "word_frequencies",
    """
    SELECT tok AS word, COUNT(*) AS freq,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
          FROM documents)
    GROUP BY tok
    ORDER BY freq DESC, word
    LIMIT 25
    """,
    doc="Corpus top-25 word frequencies with document frequency.",
    tags=("X18",),
)
def word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"),
             F.countDistinct("doc_id").cast("long").alias("n_docs"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(25)
    )


# --------------------------------------------------------------------------
# TF-IDF: top term per document by tf * ln(N/df). Pure joins + windows —
# the classic two-aggregation formulation that scales (no collect).
# --------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf,
           ROUND(tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tf * LN(CAST(n.n_docs AS DOUBLE) / df.df) DESC,
                                        term) = 1
    """,
    doc="TF-IDF via two aggregations + broadcast df join; top term per doc.",
    tags=("X18",),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id",
                    F.explode(T.tokens(F.lower(F.col("text")))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df"))
    n_docs = d.count()  # scalar; at scale: a 1-row broadcast join instead
    tfidf = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc(tfidf), F.asc("term"))
    return (
        tf.join(F.broadcast(df), "term")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "term", "tf", F.round(tfidf, 6).alias("tfidf"))
    )


# --------------------------------------------------------------------------
# Heuristic language-ID vs the labeled lang column (confusion profile).
# --------------------------------------------------------------------------
@register(
    "language_id",
    f"""
    WITH scored AS (
        SELECT lang AS labeled,
               {_sql_stop_filter('en')} AS en_s,
               {_sql_stop_filter('es')} AS es_s,
               {_sql_stop_filter('de')} AS de_s
        FROM documents
    )
    SELECT labeled,
           CASE WHEN en_s >= es_s AND en_s >= de_s AND en_s > 0 THEN 'en'
                WHEN es_s >= de_s AND es_s > 0 THEN 'es'
                WHEN de_s > 0 THEN 'de'
                ELSE 'und' END AS predicted,
           COUNT(*) AS n
    FROM scored
    GROUP BY 1, 2
    """,
    doc="Stopword-profile language classifier, confusion counts vs labels.",
    tags=("X18",),
)
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (
        d.select(F.col("lang").alias("labeled"),
                 T.detect_language(F.col("text")).alias("predicted"))
        .groupBy("labeled", "predicted")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# Document fingerprints: exact md5 + winnowing-style rolling-min hash.
# --------------------------------------------------------------------------
@register(
    "doc_fingerprints",
    """
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS exact_fp,
           list_min(list_transform(
               generate_series(1, GREATEST(len(text) - 15, 1)),
               i -> md5(substr(text, CAST(i AS INTEGER), 16)))) AS rolling_fp
    FROM documents
    """,
    doc="Exact + rolling (winnowing-min) document fingerprints.",
    tags=("X18", "X16"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        T.exact_fingerprint("text").alias("exact_fp"),
        T.rolling_fingerprint(t, 16).alias("rolling_fp"),
    )


@register(
    "tfidf_cosine_pairs",
    r"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    w AS (SELECT doc_id, term, tf * LN(n_docs / df) AS w
          FROM tf JOIN dft USING (term) CROSS JOIN n
          WHERE df <= 100),
    nrm AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY 1),
    wn AS (SELECT w.doc_id, term, w / nrm AS wn
           FROM w JOIN nrm ON w.doc_id = nrm.doc_id),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 SUM(a.wn * b.wn) AS cos
          FROM wn a JOIN wn b ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT id_a, id_b, ROUND(cos, 6) AS cos FROM p WHERE cos >= 0.3
    """,
    doc="TF-IDF cosine document-similarity join via inverted-index term "
        "join with df-capped term pruning (the quality AND scale lever: "
        "high-df terms carry no idf weight and are what makes term joins "
        "quadratic). Exact-formula DuckDB oracle.",
    tags=("X18", "X16"),
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.tfidf_cosine_pairs(_docs(spark, sf_dir))


CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


@register(
    "document_chunking",
    rf"""
    WITH d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
        FROM documents
    ),
    k AS (
        SELECT doc_id, ts,
               GREATEST(1, (len(ts) - {CHUNK_OVERLAP} + {_STRIDE - 1})
                           // {_STRIDE}) AS n_chunks
        FROM d
    ),
    c AS (
        SELECT doc_id, ts,
               unnest(generate_series(0, CAST(n_chunks - 1 AS INTEGER)))
                   AS chunk_id
        FROM k
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * {_STRIDE} + 1 AS BIGINT) AS start_tok,
           CAST(len(ts[CAST(chunk_id * {_STRIDE} + 1 AS INTEGER)
                       :CAST(chunk_id * {_STRIDE} + {CHUNK_TOKENS} AS INTEGER)])
                AS BIGINT) AS chunk_tok,
           md5(array_to_string(
               ts[CAST(chunk_id * {_STRIDE} + 1 AS INTEGER)
                  :CAST(chunk_id * {_STRIDE} + {CHUNK_TOKENS} AS INTEGER)], ' '))
               AS chunk_md5
    FROM c
    """,
    doc=f"RAG-ingestion chunking: every document split into overlapping "
        f"{CHUNK_TOKENS}-token windows (stride {_STRIDE}, overlap "
        f"{CHUNK_OVERLAP}; short docs yield one short chunk). Tokenize "
        "once -> explode a sequence of chunk indices -> slice: all JVM "
        "HOFs, zero shuffle — a pure map stage at 100 TB whose explode "
        "keeps task memory at one chunk, not one document. chunk_md5 "
        "pins the EXACT chunk text in the hash check; chunk counts use "
        "an integer ceil identity both engines compute identically.",
    tags=("X18", "X14", "X27"),
)
def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import chunk_documents

    d = _docs(spark, sf_dir)
    ch = chunk_documents(d, "doc_id", "text",
                         chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP)
    return ch.select(
        "doc_id", "chunk_id", "start_tok", "chunk_tok",
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5"))


TOP_WORD_MAX = 0.12
DUP_BIGRAM_MAX = 0.05


@register(
    "repetition_filter",
    f"""
    WITH d AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), '\\s+') AS toks
               FROM documents),
    b AS (SELECT doc_id,
                 list_transform(range(1, len(toks)),
                                i -> toks[i] || ' ' || toks[i+1]) AS bgs
          FROM d),
    toks AS (SELECT doc_id, unnest(toks) AS w FROM d),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w),
    ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
                  CAST(COUNT(*) AS BIGINT) AS n_distinct,
                  MAX(c)::DOUBLE / SUM(c) AS top_frac
           FROM wc GROUP BY doc_id),
    bgs AS (SELECT doc_id, CAST(len(bgs) AS BIGINT) AS n_bigrams,
                   CASE WHEN len(bgs) > 0
                        THEN 1.0 - len(list_distinct(bgs))::DOUBLE / len(bgs)
                        ELSE 0.0 END AS dupf
            FROM b)
    SELECT doc_id, n_words, n_distinct,
           ROUND(top_frac, 4) AS top_word_frac,
           n_bigrams,
           ROUND(dupf, 4) AS dup_bigram_frac,
           CASE WHEN top_frac <= {TOP_WORD_MAX} AND dupf <= {DUP_BIGRAM_MAX}
                THEN 1 ELSE 0 END AS keep
    FROM ws JOIN bgs USING (doc_id)
    """,
    doc="X34 Gopher-style repetition filter (Rae et al. 2021 A1.1): "
        "per-doc top-word fraction and duplicate-bigram fraction; keep "
        "flag under fixed thresholds. Row-local: a sorted fold over "
        "each doc's tokens + per-row array expressions, no shuffle; "
        "flags are exact single divisions so they hash cross-engine.",
    tags=("X34", "X18", "X14"),
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    m = T.repetition_metrics(d, "doc_id", "text")
    return m.select(
        "doc_id", "n_words", "n_distinct",
        F.round("top_word_frac", 4).alias("top_word_frac"),
        "n_bigrams",
        F.round("dup_bigram_frac", 4).alias("dup_bigram_frac"),
        F.when((F.col("top_word_frac") <= TOP_WORD_MAX)
               & (F.col("dup_bigram_frac") <= DUP_BIGRAM_MAX), 1)
        .otherwise(0).alias("keep"))


@register(
    "word_entropy",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents
    ),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w),
    tot AS (SELECT doc_id, SUM(c) AS n FROM wc GROUP BY doc_id)
    SELECT w.doc_id,
           CAST(t.n AS BIGINT) AS n_words,
           ROUND(-SUM((c::DOUBLE / t.n) * log2(c::DOUBLE / t.n)), 4)
               AS word_entropy,
           ROUND(-SUM((c::DOUBLE / t.n) * log2(c::DOUBLE / t.n))
                 / log2(GREATEST(t.n, 2)), 4) AS normalized_entropy
    FROM wc w JOIN tot t ON w.doc_id = t.doc_id
    GROUP BY w.doc_id, t.n
    """,
    doc="Per-doc Shannon entropy of the word distribution plus the "
        "0-1 normalized form — the information-density quality signal "
        "(low entropy == repetitive/templated text, a standard corpus "
        "filter alongside the Gopher ratios). Row-local: one sorted "
        "fold over each doc's tokens (word_histogram_stats), no "
        "shuffle; entropy terms are rounded post-sum (dust ~1e-14 on "
        "<=4k-term docs vs 1e-4 grid).",
    tags=("X18", "X7", "X34"),
)
def word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    h = (d.filter(F.col("text").isNotNull())
         .select("doc_id", toks.alias("_toks"))
         .select("doc_id", T.word_histogram_stats("_toks").alias("_h")))
    n, ent = F.col("_h.n_words"), F.col("_h.entropy")
    return h.select(
        "doc_id", n.alias("n_words"),
        F.round(ent, 4).alias("word_entropy"),
        F.round(ent / F.log2(F.greatest(n, F.lit(2))), 4)
        .alias("normalized_entropy"))


POSTINGS_CAP = 5
POSTINGS_MIN_DF = 2


@register(
    "inverted_index_postings",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents
    )
    SELECT w AS token,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
           CAST(COUNT(*) AS BIGINT) AS total_occurrences,
           array_to_string(list_sort(list(DISTINCT doc_id))
                           [1:{POSTINGS_CAP}], ',') AS postings_head
    FROM toks
    GROUP BY w
    HAVING COUNT(DISTINCT doc_id) >= {POSTINGS_MIN_DF}
    """,
    doc="Inverted-index build: token -> (document frequency, total "
        "occurrences, head of the sorted posting list). The retrieval-"
        "side primitive for corpus search/dedup tooling. One (token) "
        "aggregate over the exploded tokens — map-side combinable, "
        "keyed by token so hot documents can't skew a reducer; the "
        "posting head is capped at a constant so output rows stay "
        "bounded however large the corpus (full posting lists would "
        "be a sink-side artifact, not a query result). Postings "
        "serialize as a joined string: flat columns, engine-exact.",
    tags=("X40", "X18", "X7"),
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    return (d.select("doc_id", F.explode(toks).alias("token"))
            .groupBy("token")
            .agg(F.countDistinct("doc_id").cast("long").alias("doc_freq"),
                 F.count("*").cast("long").alias("total_occurrences"),
                 F.array_join(
                     F.slice(F.sort_array(F.collect_set("doc_id")),
                             1, POSTINGS_CAP), ",").alias("postings_head"))
            .filter(F.col("doc_freq") >= POSTINGS_MIN_DF))


PMI_MIN_PAIR = 5


@register(
    "cooccurrence_pmi",
    f"""
    WITH d AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    uni AS (
        SELECT w, COUNT(*) AS nw
        FROM (SELECT unnest(toks) AS w FROM d) GROUP BY w
    ),
    n_tok AS (SELECT CAST(SUM(nw) AS BIGINT) AS n FROM uni),
    bg AS (
        SELECT bg[1] AS w1, bg[2] AS w2, COUNT(*) AS nab
        FROM (SELECT unnest(list_transform(
                  range(1, len(toks)),
                  i -> [toks[i], toks[i + 1]])) AS bg
              FROM d)
        GROUP BY bg[1], bg[2]
    ),
    n_bg AS (SELECT CAST(SUM(nab) AS BIGINT) AS b FROM bg)
    SELECT w1, w2, CAST(nab AS BIGINT) AS n_pair,
           (CAST(ROUND(log2(nab) * 1000000) AS BIGINT)
            + 2 * CAST(ROUND(log2(n) * 1000000) AS BIGINT)
            - CAST(ROUND(log2(b) * 1000000) AS BIGINT)
            - CAST(ROUND(log2(u1.nw) * 1000000) AS BIGINT)
            - CAST(ROUND(log2(u2.nw) * 1000000) AS BIGINT)) / 1000000.0
           AS pmi
    FROM bg, n_bg, n_tok
    JOIN uni u1 ON bg.w1 = u1.w
    JOIN uni u2 ON bg.w2 = u2.w
    WHERE nab >= {PMI_MIN_PAIR}
    """,
    doc="Adjacent-word collocation mining via pointwise mutual "
        "information: PMI(a,b) = log2(P(ab) / (P(a)P(b))) over "
        "corpus-wide unigram and bigram counts — the classic "
        "collocation/phrase-detection signal (Church & Hanks 1990) "
        "used to pick merge candidates for tokenizer vocabularies. "
        "PMI decomposes into log2 terms of the five integer counts; "
        "each term snaps to an integer micro-bit grid before the "
        "exact-BIGINT combine (the fixed-point discipline of "
        "bigram_lm_perplexity), so the result double is bit-identical "
        "across engines — the r3 4-dp ROUND boundary flip cannot recur. "
        "Two map-side-combinable aggregates (unigrams keyed by word, "
        "bigrams by pair); the unigram table joins back to the bigram "
        "table on each side — word-cardinality frames, broadcast-"
        "eligible under AQE; the two scalar totals broadcast. No "
        "full-corpus shuffle other than the two count aggregates.",
    tags=("X41", "X18", "X7", "X3"),
)
def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"))
    uni = (d.select(F.explode("toks").alias("w"))
           .groupBy("w").agg(F.count("*").alias("nw")))
    n_tok = uni.agg(F.sum("nw").cast("long").alias("n"))
    pairs = F.expr(
        "CASE WHEN size(toks) < 2 THEN array() "
        "ELSE transform(sequence(1, size(toks) - 1), "
        "i -> struct(toks[i-1] AS w1, toks[i] AS w2)) END")
    bg = (d.select(F.explode(pairs).alias("p"))
          .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
          .agg(F.count("*").alias("nab")))
    # the bigram total is over ALL pairs (the probability denominator),
    # computed before the reporting filter
    n_bg = bg.agg(F.sum("nab").cast("long").alias("b"))
    bg = bg.filter(F.col("nab") >= PMI_MIN_PAIR)
    u1 = uni.select(F.col("w").alias("w1"), F.col("nw").alias("nw1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("nw").alias("nw2"))

    # log2 of an integer count, snapped to the 1e-6-bit grid: both
    # engines see the same integer argument, so the snapped BIGINT is
    # engine-exact; the final division by 1e6 is a single IEEE op on
    # identical operands — bit-identical doubles, no ROUND boundary.
    def micro(c):
        return F.round(F.log2(c) * 1e6, 0).cast("long")

    pmi_micro = (micro(F.col("nab")) + 2 * micro(F.col("n"))
                 - micro(F.col("b")) - micro(F.col("nw1"))
                 - micro(F.col("nw2")))
    return (bg.crossJoin(F.broadcast(n_bg)).crossJoin(F.broadcast(n_tok))
            .join(u1, "w1").join(u2, "w2")
            .select("w1", "w2",
                    F.col("nab").cast("long").alias("n_pair"),
                    (pmi_micro / F.lit(1000000.0)).alias("pmi")))


BM25_TERMS = ("spark", "join", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPN = 20


@register(
    "bm25_relevance",
    f"""
    WITH d AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM d),
    stats AS (SELECT AVG(dl)::DOUBLE AS avgdl,
                     COUNT(*)::DOUBLE AS n FROM dl),
    tf AS (
        SELECT doc_id, w, COUNT(*)::DOUBLE AS tf
        FROM (SELECT doc_id, unnest(toks) AS w FROM d)
        WHERE w IN {BM25_TERMS!r}
        GROUP BY doc_id, w
    ),
    idf AS (
        SELECT w, ln((n - df + 0.5) / (df + 0.5) + 1) AS idf
        FROM (SELECT w, COUNT(DISTINCT doc_id)::DOUBLE AS df
              FROM tf GROUP BY w), stats
    )
    SELECT doc_id,
           ROUND(SUM(idf * tf * ({BM25_K1} + 1)
                     / (tf + {BM25_K1} * (1 - {BM25_B}
                                          + {BM25_B} * dl / avgdl))),
                 4) AS bm25
    FROM tf
    JOIN idf USING (w) JOIN dl USING (doc_id), stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOPN}
    """,
    doc="BM25 relevance ranking for a fixed term set (Robertson/Lucene "
        "idf variant, k1=1.2 b=0.75) — the lexical-retrieval scorer "
        "used for relevance-filtering web corpora against a topic "
        "seed list. Plan shape: tf is one (doc, term) aggregate over "
        "tokens PRE-FILTERED to the query terms (the IN predicate "
        "prunes the explode before any shuffle); idf and the corpus "
        "stats are term-/scalar-sized broadcasts; the final top-N is "
        "orderBy+limit, which Spark executes as TakeOrderedAndProject "
        "— per-partition heaps + driver merge of N rows, never a "
        "global sort (plan-asserted).",
    tags=("X40", "X18", "X7", "X12"),
)
def bm25_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"))
    dl = d.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(F.avg("dl").alias("avgdl"),
                   F.count("*").cast("double").alias("n"))
    tf = (d.select("doc_id", F.explode("toks").alias("w"))
          .filter(F.col("w").isin(*BM25_TERMS))
          .groupBy("doc_id", "w")
          .agg(F.count("*").cast("double").alias("tf")))
    df_t = tf.groupBy("w").agg(
        F.countDistinct("doc_id").cast("double").alias("df"))
    idf = (df_t.crossJoin(F.broadcast(stats.select("n")))
           .select("w", F.log((F.col("n") - F.col("df") + 0.5)
                              / (F.col("df") + 0.5) + 1).alias("idf")))
    term_score = (F.col("idf") * F.col("tf") * (BM25_K1 + 1)
                  / (F.col("tf") + BM25_K1 * (1 - BM25_B
                                              + BM25_B * F.col("dl")
                                              / F.col("avgdl"))))
    return (tf.join(F.broadcast(idf), "w").join(dl, "doc_id")
            .crossJoin(F.broadcast(stats.select("avgdl")))
            .groupBy("doc_id")
            .agg(F.round(F.sum(term_score), 4).alias("bm25"))
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .limit(BM25_TOPN))


LM_HEAD_MAX = 3.40
LM_TAIL_MIN = 3.41


@register(
    "unigram_lm_quality",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents
    ),
    cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS v FROM cnt),
    doc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(-AVG(ln((c + 0.5) / (t + 0.5 * v))), 4) AS nll_nats
        FROM toks JOIN cnt USING (w) CROSS JOIN tot
        GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, nll_nats,
           CASE WHEN nll_nats < {LM_HEAD_MAX} THEN 'head'
                WHEN nll_nats > {LM_TAIL_MIN} THEN 'tail'
                ELSE 'middle' END AS bucket
    FROM doc
    """,
    doc="X44 CCNet-style unigram-LM quality scoring: train add-half-"
        "smoothed unigram probabilities on the corpus itself, score "
        "each doc by mean negative log-likelihood, bucket into head/"
        "middle/tail on FIXED nll cutoffs (the CCNet deployment shape — "
        "cutoffs come from a reference corpus, so scoring stays a "
        "token-keyed join + doc-keyed fold with no global sort/ntile, "
        "which would serialize the corpus through one task). Totals "
        "broadcast as a one-row cross join; nll rounded post-fold "
        "(dust ~1e-14 vs the 1e-4 grid).",
    tags=("X44", "X18", "X7"),
)
def unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = (d.select("doc_id",
                     F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                       r"\s+")).alias("w")))
    cnt = toks.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    tot = cnt.agg(F.sum("c").cast("long").alias("t"),
                  F.count("*").cast("long").alias("v"))
    logp = F.log((F.col("c") + 0.5) / (F.col("t") + 0.5 * F.col("v")))
    doc = (toks.join(cnt, "w")
           .crossJoin(F.broadcast(tot))
           .groupBy("doc_id")
           .agg(F.count("*").cast("long").alias("n_tokens"),
                F.round(-F.avg(logp), 4).alias("nll_nats")))
    return doc.select(
        "doc_id", "n_tokens", "nll_nats",
        F.when(F.col("nll_nats") < LM_HEAD_MAX, "head")
        .when(F.col("nll_nats") > LM_TAIL_MIN, "tail")
        .otherwise("middle").alias("bucket"))


BPE_MERGES = 10


@register(
    "bpe_merge_table",
    None,  # data-dependent iterative argmax: no SQL replay possible;
           # tests/test_bpe.py pins the table exactly vs pure-Python BPE
    doc=f"X45 BPE tokenizer training: learn the first {BPE_MERGES} "
        "byte-pair merges from the corpus (Sennrich et al. 2016). The "
        "corpus collapses once into a (word, freq) vocabulary; each "
        "round is a pair-keyed weighted aggregate, a one-row argmax "
        "collect (ties lexicographic -> deterministic), and a JVM fold "
        "applying the merge left-to-right non-overlapping. Rows-only by "
        "necessity — the merge loop's argmax is data-dependent — with "
        "the exact merge table golden-pinned against a reference "
        "Python implementation in pytest.",
    tags=("X45", "X18", "X7"),
)
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import train_bpe

    d = _docs(spark, sf_dir)
    merges = train_bpe(d, BPE_MERGES, with_stats=True)
    return spark.createDataFrame(
        [(r, a, b, a + b, int(c), int(s)) for r, a, b, c, s in merges],
        "rank int, left string, right string, merged string, "
        "weighted_count long, total_symbols_after long")


FH_BUCKETS = 64


@register(
    "feature_hash_scores",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents
    ),
    feats AS (
        SELECT doc_id,
               ('0x' || substr(md5(w), 1, 15))::BIGINT % {FH_BUCKETS} AS b,
               CAST(COUNT(*) AS BIGINT) AS f
        FROM toks GROUP BY doc_id, b
    ),
    scored AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS nnz,
               CAST(SUM(f) AS BIGINT) AS total_f,
               CAST(SUM(f * (('0x' || substr(md5('w_' || b), 1, 15))::BIGINT
                             % 1000 - 500)) AS BIGINT) AS score_scaled
        FROM feats GROUP BY doc_id
    )
    SELECT doc_id, nnz, total_f,
           score_scaled / 1000.0 AS score,
           CASE WHEN score_scaled > 0 THEN 1 ELSE 0 END AS predicted
    FROM scored
    """,
    doc=f"X59 feature hashing (Weinberger et al. 2009): tokens hash "
        f"into {FH_BUCKETS} buckets (md5 — engine/run reproducible, no "
        "vocabulary build pass), bucket counts form the feature vector, "
        "and a fixed md5-derived weight vector scores each doc — the "
        "vocabulary-free featurizer for streaming/low-memory training. "
        "One (doc, bucket) aggregate then a doc fold; weights are "
        "exact integer rationals so the score is BIGINT math divided "
        "once — zero float dust, full hash pinning.",
    tags=("X59", "X18", "X14", "X7"),
)
def feature_hash_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    h60 = lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
    toks = d.select("doc_id",
                    F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                      r"\s+")).alias("w"))
    feats = (toks.groupBy("doc_id", (h60(F.col("w")) % FH_BUCKETS).alias("b"))
             .agg(F.count("*").cast("long").alias("f")))
    weight = h60(F.concat(F.lit("w_"), F.col("b").cast("string"))) % 1000 - 500
    scored = (feats.groupBy("doc_id")
              .agg(F.count("*").cast("long").alias("nnz"),
                   F.sum("f").cast("long").alias("total_f"),
                   F.sum(F.col("f") * weight).cast("long")
                   .alias("score_scaled")))
    return scored.select(
        "doc_id", "nnz", "total_f",
        (F.col("score_scaled") / 1000.0).alias("score"),
        F.when(F.col("score_scaled") > 0, 1).otherwise(0).alias("predicted"))


# --------------------------------------------------------------------------
# X67: bigram language-model scoring. The whole model is ONE pass: the
# corpus collapses into (prev, cur) bigram counts (map-side combinable),
# context counts derive FROM the bigram table (not a second corpus scan),
# and docs re-join the model on narrow string keys. Per-bigram surprisal
# is snapped to an integer micro-bit grid before the per-doc SUM, so the
# aggregate is exact BIGINT math — order-independent and hash-identical
# across engines (the ROUND_NOTES fixed-point discipline).
# --------------------------------------------------------------------------
LM_ADD_K = 0.5  # add-k smoothing


@register(
    "bigram_lm_perplexity",
    f"""
    WITH d AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(ts[1:len(ts) - 1]) AS a,
               unnest(ts[2:len(ts)]) AS b
        FROM d WHERE len(ts) >= 2
    ),
    docbg AS (
        SELECT doc_id, a, b, CAST(COUNT(*) AS BIGINT) AS n
        FROM bg GROUP BY doc_id, a, b
    ),
    cnt AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY a, b),
    ctx AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM cnt GROUP BY a),
    vocab AS (
        SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
        FROM (SELECT unnest(ts) AS tok FROM d)
    ),
    scored AS (
        SELECT doc_id,
               CAST(SUM(n) AS BIGINT) AS n_bigrams,
               CAST(SUM(n * CAST(ROUND(log2(
                        (ca + {LM_ADD_K} * v) / (c + {LM_ADD_K})
                    ) * 1000000) AS BIGINT)) AS BIGINT) AS nll_micro
        FROM docbg
        JOIN cnt USING (a, b) JOIN ctx USING (a) CROSS JOIN vocab
        GROUP BY doc_id
    )
    SELECT d0.doc_id,
           COALESCE(n_bigrams, 0) AS n_bigrams,
           CASE WHEN COALESCE(n_bigrams, 0) > 0
                THEN ROUND(nll_micro / (n_bigrams * 1000000.0), 6)
                ELSE 0.0 END AS avg_nll_bits,
           CASE WHEN COALESCE(n_bigrams, 0) > 0
                THEN ROUND(POWER(2.0, nll_micro / (n_bigrams * 1000000.0)), 3)
                ELSE 1.0 END AS ppl
    FROM documents d0 LEFT JOIN scored ON d0.doc_id = scored.doc_id
    """,
    doc=f"X67 bigram LM perplexity per document (add-{LM_ADD_K} "
        "smoothing, model trained on the corpus itself): tokens -> "
        "positional bigram instances -> (prev,cur) counts; context "
        "counts fold FROM the bigram table, so the corpus is scanned "
        "once for the model and once for scoring. Per-bigram surprisal "
        "-log2 p snaps to an integer micro-bit grid before the per-doc "
        "sum: the aggregate is exact BIGINT math, immune to float "
        "summation order on either engine. The standard fluency / "
        "quality signal for pre-training corpus filtering (cf. CCNet's "
        "LM filtering).",
    tags=("X67", "X18", "X44", "X7"),
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    ts = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    toks = d.select("doc_id", ts.alias("ts"))
    bigrams = F.expr(
        "transform(slice(ts, 1, size(ts) - 1), "
        "(t, i) -> struct(t AS a, element_at(ts, i + 2) AS b))")
    bg = (toks.filter(F.size("ts") >= 2)
          .select("doc_id", F.explode(bigrams).alias("p"))
          .select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b")))
    docbg = bg.groupBy("doc_id", "a", "b").agg(F.count("*").alias("n"))
    cnt = bg.groupBy("a", "b").agg(F.count("*").alias("c"))
    ctx = cnt.groupBy("a").agg(F.sum("c").alias("ca"))
    vocab = (toks.select(F.explode("ts").alias("tok"))
             .agg(F.countDistinct("tok").alias("v")))
    surprisal_micro = (
        F.round(F.log2((F.col("ca") + LM_ADD_K * F.col("v"))
                       / (F.col("c") + F.lit(LM_ADD_K))) * 1e6, 0)
        .cast("long"))
    scored = (docbg.join(cnt, ["a", "b"]).join(ctx, "a")
              .crossJoin(F.broadcast(vocab))
              .groupBy("doc_id")
              .agg(F.sum("n").cast("long").alias("n_bigrams"),
                   F.sum(F.col("n") * surprisal_micro).cast("long")
                   .alias("nll_micro")))
    avg = F.col("nll_micro") / (F.col("n_bigrams") * 1e6)
    return (d.select("doc_id").join(scored, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
                F.when(F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
                       F.round(avg, 6)).otherwise(F.lit(0.0))
                .alias("avg_nll_bits"),
                F.when(F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
                       F.round(F.pow(F.lit(2.0), avg), 3)).otherwise(F.lit(1.0))
                .alias("ppl")))


# --------------------------------------------------------------------------
# X68: cross-source n-gram overlap matrix — "how much does source A's
# content appear in source B?" (corpus provenance / contamination audit;
# the source-level twin of doc-level decontamination). Distinct-first is
# the scale move: (source, shingle-hash) collapses before the self-join,
# so a shingle repeated a billion times inside one source is ONE row,
# and per-hash join fan-out is bounded by the number of sources.
# --------------------------------------------------------------------------
OVERLAP_SHINGLE_K = 5


def _overlap_shingle_sql() -> str:
    k = OVERLAP_SHINGLE_K
    return f"""
    WITH d AS (
        SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS ts
        FROM documents
    ),
    sh AS (
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
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6)
               AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """


@register(
    "source_overlap_matrix",
    _overlap_shingle_sql(),
    doc=f"X68 cross-source {OVERLAP_SHINGLE_K}-gram overlap matrix: "
        "distinct (source, shingle-md5) rows -> hash-keyed self-join -> "
        "per-source-pair intersection counts and Jaccard via "
        "inclusion-exclusion. Distinct-first bounds per-hash fan-out at "
        "the source count, so the join never goes quadratic in rows; "
        "shuffle keys are 60-bit BIGINTs. The corpus-provenance audit "
        "that tells you two 'independent' crawls are the same data "
        "before you over-sample them.",
    tags=("X68", "X16", "X25", "X18"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked
    from ..operators import dedup as D

    d = _docs(spark, sf_dir)
    # r9: tokens below the spread exchange, shingles above; spread on
    # doc_id (source is low-cardinality). See exploded_token_shingles.
    sh = persist_tracked(
        D.exploded_token_shingles(d, "source", "text",
                                  OVERLAP_SHINGLE_K,
                                  spread_col="doc_id")
        .select("source",
                F.conv(F.substring(F.md5("sg"), 1, 15), 16, 10)
                .cast("long").alias("h"))
        .distinct())
    sizes = sh.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    a = sh.select(F.col("source").alias("src_a"), "h")
    b = sh.select(F.col("source").alias("src_b"), "h")
    inter = (a.join(b, "h").filter(F.col("src_a") < F.col("src_b"))
             .groupBy("src_a", "src_b")
             .agg(F.count("*").cast("long").alias("n_common")))
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (inter.join(F.broadcast(sa), "src_a").join(F.broadcast(sb), "src_b")
            .select("src_a", "src_b", "n_a", "n_b", "n_common",
                    F.round(F.col("n_common")
                            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                            6).alias("jaccard")))


@register(
    "bpe_encode_stats",
    None,  # merges are a data-dependent training artifact: no SQL
           # replay; tests/test_bpe.py pins per-doc encodings EXACTLY
           # against the pure-Python reference tokenizer
    doc=f"X69 BPE tokenizer APPLICATION: train {BPE_MERGES} merges "
        "(X45), then encode the corpus with them. The scale shape: "
        "training already left every distinct word fully merged, so "
        "encoding is ONE join of (doc, word, count) pairs against the "
        "(word, n_symbols) vocabulary — per-word work happens once per "
        "DISTINCT word, never per occurrence, and no per-document merge "
        "loop exists anywhere. Returns per-doc token counts and "
        "chars-per-token compression, the numbers a token-budgeted "
        "training pipeline actually consumes.",
    tags=("X69", "X45", "X18", "X7"),
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import train_bpe

    d = _docs(spark, sf_dir)
    _, vocab = train_bpe(d, BPE_MERGES, return_vocab=True)
    words = (d.select("doc_id", "n_chars",
                      F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                        r"\s+")).alias("word"))
             .groupBy("doc_id", "n_chars", "word")
             .agg(F.count("*").alias("cnt")))
    enc = words.join(vocab.select("word", F.size("syms").alias("n_syms")),
                     "word")
    return (enc.groupBy("doc_id", "n_chars")
            .agg(F.sum("cnt").cast("long").alias("n_words"),
                 F.sum(F.col("cnt") * F.col("n_syms")).cast("long")
                 .alias("n_bpe_tokens"))
            .select("doc_id", "n_words", "n_bpe_tokens",
                    F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 4)
                    .alias("chars_per_token")))


# --------------------------------------------------------------------------
# X87: positional phrase search — conjunctive posting-list intersection
# with position adjacency, the IR primitive behind exact-phrase and
# proximity queries. The postings frame is term-filtered BEFORE any
# join (two narrow posting lists, not the corpus), and the adjacency
# check is an equi-join on (doc, position+1) — index semantics, not a
# rescan; a LIKE/regex scan of every document is the anti-pattern this
# operator exists to replace.
# --------------------------------------------------------------------------
PHRASE = ("table", "scan")


@register(
    "phrase_search",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(range(1, len(ts) + 1)) AS pos, unnest(ts) AS w
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS ts
              FROM documents)
    ),
    a AS (SELECT doc_id, pos FROM toks WHERE w = '{PHRASE[0]}'),
    b AS (SELECT doc_id, pos FROM toks WHERE w = '{PHRASE[1]}')
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(a.pos) AS BIGINT) AS first_pos
    FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    GROUP BY a.doc_id
    """,
    doc=f"X87 positional phrase search for '{PHRASE[0]} {PHRASE[1]}': "
        "term-filtered posting lists (doc, position) intersected on "
        "(doc, pos+1) — the conjunctive positional-index primitive "
        "behind exact-phrase and proximity retrieval. The join inputs "
        "are term-selective posting lists, never the corpus; extending "
        "to n terms chains the same adjacency join. Reports per-doc "
        "match counts and first occurrence.",
    tags=("X87", "X18", "X3", "X12"),
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .alias("pos0", "w")).select(
            "doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    a = toks.filter(F.col("w") == PHRASE[0]).select("doc_id", "pos")
    b = toks.filter(F.col("w") == PHRASE[1]) \
            .select(F.col("doc_id").alias("doc_b"),
                    F.col("pos").alias("pos_b"))
    return (a.join(b, (F.col("doc_b") == F.col("doc_id"))
                   & (F.col("pos_b") == F.col("pos") + 1))
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_matches"),
                 F.min("pos").cast("long").alias("first_pos")))


# --------------------------------------------------------------------------
# X100: distinctive-keyword extraction via weighted log-odds with an
# add-one Dirichlet prior (Monroe, Colaresi & Quinn 2008) — "which
# words characterize THIS source vs the rest of the corpus", the
# principled alternative to raw tf-idf for corpus-vs-corpus contrast.
# Every log term takes an INTEGER argument (counts + integer prior)
# and snaps to the 1e-6-bit grid (the PMI pattern), so the z-scores
# are bit-identical across engines; the variance is two exact IEEE
# divisions of integers.
# --------------------------------------------------------------------------
LOGODDS_MIN_COUNT = 5
LOGODDS_TOPK = 15


@register(
    "logodds_keywords",
    f"""
    WITH tok AS (
        SELECT source, unnest(string_split_regex(trim(lower(text)),
                                                 '\\s+')) AS w
        FROM documents
    ),
    sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS y
           FROM tok GROUP BY source, w),
    st AS (SELECT source, CAST(SUM(y) AS BIGINT) AS ns FROM sw
           GROUP BY source),
    wt AS (SELECT w, CAST(SUM(y) AS BIGINT) AS yw FROM sw GROUP BY w),
    tot AS (SELECT CAST(SUM(ns) AS BIGINT) AS n,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM wt) AS v
            FROM st),
    scored AS (
        SELECT sw.source, sw.w, sw.y,
               -- micro-grid log2 terms of pure integer arguments
               (ROUND(log2(sw.y + 1) * 1e6, 0)::BIGINT
                - ROUND(log2(st.ns + tot.v - sw.y - 1) * 1e6, 0)::BIGINT
                - ROUND(log2(wt.yw - sw.y + 1) * 1e6, 0)::BIGINT
                + ROUND(log2(tot.n - st.ns + tot.v - (wt.yw - sw.y) - 1)
                        * 1e6, 0)::BIGINT) AS delta_micro,
               (1.0 / (sw.y + 1) + 1.0 / (wt.yw - sw.y + 1)) AS var
        FROM sw JOIN st ON st.source = sw.source
                JOIN wt ON wt.w = sw.w
                CROSS JOIN tot
        WHERE sw.y >= {LOGODDS_MIN_COUNT}
    ),
    z AS (
        SELECT source, w, y,
               ROUND((delta_micro / 1000000.0) / sqrt(var), 6) AS z_logodds
        FROM scored
    )
    SELECT source, w AS word, y AS n_occurrences, z_logodds,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY source ORDER BY z_logodds DESC, w) AS rn
          FROM z)
    WHERE rn <= {LOGODDS_TOPK}
    """,
    doc=f"X100 per-source distinctive keywords: weighted log-odds "
        "ratio with an add-one Dirichlet prior (Monroe et al. 2008) "
        "of each word in a source vs the rest of the corpus, z-scored "
        f"by the delta's variance; top {LOGODDS_TOPK} per source with "
        f"count >= {LOGODDS_MIN_COUNT}. All four log terms take "
        "integer arguments and snap to the 1e-6-bit grid, the "
        "variance is two exact integer divisions — cross-engine "
        "bit-identical. Word/source tables are the only shuffles; "
        "scalars broadcast; the rank window partitions per source.",
    tags=("X100", "X18", "X7", "X10"),
)
def logodds_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    tok = _docs(spark, sf_dir).select(
        "source", F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                    r"\s+")).alias("w"))
    sw = tok.groupBy("source", "w").agg(F.count("*").cast("long").alias("y"))
    st = sw.groupBy("source").agg(F.sum("y").cast("long").alias("ns"))
    wt = sw.groupBy("w").agg(F.sum("y").cast("long").alias("yw"))
    tot = (st.agg(F.sum("ns").cast("long").alias("n"))
           .crossJoin(wt.agg(F.count("*").cast("long").alias("v"))))

    def micro(c):
        return F.round(F.log2(c) * 1e6, 0).cast("long")

    scored = (sw.filter(F.col("y") >= LOGODDS_MIN_COUNT)
              .join(st, "source").join(wt, "w")
              .crossJoin(F.broadcast(tot))
              .select(
                  "source", "w", "y",
                  (micro(F.col("y") + 1)
                   - micro(F.col("ns") + F.col("v") - F.col("y") - 1)
                   - micro(F.col("yw") - F.col("y") + 1)
                   + micro(F.col("n") - F.col("ns") + F.col("v")
                           - (F.col("yw") - F.col("y")) - 1))
                  .alias("delta_micro"),
                  (F.lit(1.0) / (F.col("y") + 1)
                   + F.lit(1.0) / (F.col("yw") - F.col("y") + 1))
                  .alias("var")))
    z = scored.select(
        "source", "w", "y",
        F.round((F.col("delta_micro") / F.lit(1000000.0))
                / F.sqrt(F.col("var")), 6).alias("z_logodds"))
    w_rank = Window.partitionBy("source").orderBy(F.desc("z_logodds"),
                                                  F.asc("w"))
    return (z.withColumn("rn", F.row_number().over(w_rank))
            .filter(F.col("rn") <= LOGODDS_TOPK)
            .select("source", F.col("w").alias("word"),
                    F.col("y").alias("n_occurrences"), "z_logodds",
                    F.col("rn").cast("long").alias("rank")))


# --------------------------------------------------------------------------
# X112: compression-ratio quality signal — the cheap, model-free
# repetition/entropy proxy production pretraining filters use (highly
# compressible text = boilerplate/template/spam; incompressible =
# natural prose or noise). zlib runs in an Arrow-batched mapInPandas
# (stdlib, deterministic bytes-in -> length-out; never row-at-a-time
# Python), so the per-doc cost is one C-speed deflate call; the gate
# itself is a map-only predicate. No SQL engine can replay deflate, so
# the driver check is rows-only; an exact pytest golden replays every
# document through the same zlib.
# --------------------------------------------------------------------------
COMPRESS_LEVEL = 6
REPETITIVE_RATIO = 0.30


def compression_signal(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(id, n_bytes, n_compressed) via Arrow-batched zlib deflate."""
    import pandas as pd

    from ..catalog import spread

    def run(batches):
        import zlib
        for pdf in batches:
            texts = pdf[text_col].astype(str)
            raw = [t.encode("utf-8") for t in texts]
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "n_bytes": [len(b) for b in raw],
                "n_compressed": [len(zlib.compress(b, COMPRESS_LEVEL))
                                 for b in raw],
            })

    d = spread(docs.select(id_col, text_col), id_col)
    return d.mapInPandas(run, f"{id_col} long, n_bytes long, "
                              "n_compressed long")


@register(
    "compression_quality",
    None,  # deflate is not SQL-replayable; exact pytest golden instead
    doc=f"X112 compression-ratio quality signal: per-document zlib "
        f"(level {COMPRESS_LEVEL}) deflate ratio via Arrow-batched "
        "mapInPandas — the model-free repetition proxy (ratio < "
        f"{REPETITIVE_RATIO} flags template/boilerplate text). "
        "Map-only at any corpus scale; rows-only driver check (no SQL "
        "deflate) with an exact per-document pytest golden replaying "
        "the same zlib.",
    tags=("X112", "X18", "X24", "X2"),
)
def compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = compression_signal(_docs(spark, sf_dir))
    return sig.select(
        "doc_id", "n_bytes", "n_compressed",
        F.round(F.col("n_compressed") / F.greatest(F.col("n_bytes"),
                                                   F.lit(1)), 6)
        .alias("ratio"),
        (F.col("n_compressed")
         < F.col("n_bytes") * REPETITIVE_RATIO).alias("is_repetitive"))


# --------------------------------------------------------------------------
# X114: corpus datasheet — the "datasheets for datasets" composition
# report every training corpus ships with: per (lang, source) document
# and token counts, mean quality, short-doc and exact-duplicate and
# PII-bearing fractions. ONE corpus projection feeds everything; the
# duplicate flag joins a fingerprint-count table hash-keyed on md5;
# per-doc quality (already 6-dp-rounded, hash-attested by doc_stats)
# snaps to integer micro units so the group mean folds as exact BIGINT.
# --------------------------------------------------------------------------
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
SHORT_DOC_TOKENS = 5


@register(
    "corpus_datasheet",
    f"""
    WITH base AS (
        SELECT lang, source,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens,
               CAST(ROUND({sql_quality_expr()} * 1e6, 0) AS BIGINT)
                   AS q_micro,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fp,
               CASE WHEN regexp_matches(text, '{_EMAIL_RE}')
                    THEN 1 ELSE 0 END AS has_email
        FROM documents
    ),
    fpc AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS c FROM base
            GROUP BY fp)
    SELECT base.lang, base.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(base.n_tokens) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(base.q_micro) AS BIGINT)::DOUBLE
                 / (COUNT(*) * 1000000.0), 6) AS mean_quality,
           CAST(SUM(CASE WHEN base.n_tokens < {SHORT_DOC_TOKENS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           CAST(SUM(CASE WHEN fpc.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_dup,
           CAST(SUM(base.has_email) AS BIGINT) AS n_with_email
    FROM base JOIN fpc ON fpc.fp = base.fp
    GROUP BY base.lang, base.source
    """,
    doc="X114 corpus datasheet: per (lang, source) doc/token counts, "
        "mean quality (per-doc 6-dp scores snapped to integer micro "
        "units -> exact BIGINT group folds), short-doc, exact-"
        "duplicate (md5 fingerprint multiplicity) and email-bearing "
        "PII fractions — the dataset documentation report. One corpus "
        "projection + one fingerprint-keyed count join; output is "
        "(lang x source)-cardinality.",
    tags=("X114", "X18", "X7", "X15", "X26"),
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    base = d.select(
        "lang", "source",
        T.n_tokens(F.col("text")).cast("long").alias("n_tokens"),
        F.round(T.quality_score(F.col("text")) * 1e6, 0).cast("long")
        .alias("q_micro"),
        T.exact_fingerprint("text").alias("fp"),
        F.when(F.col("text").rlike(_EMAIL_RE), 1).otherwise(0)
        .alias("has_email"))
    fpc = base.groupBy("fp").agg(F.count("*").cast("long").alias("c"))
    return (base.join(fpc, "fp")
            .groupBy("lang", "source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"),
                 F.round(F.sum("q_micro").cast("double")
                         / (F.count("*") * F.lit(1000000.0)), 6)
                 .alias("mean_quality"),
                 F.sum(F.when(F.col("n_tokens") < SHORT_DOC_TOKENS, 1)
                       .otherwise(0)).cast("long").alias("n_short"),
                 F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
                 .cast("long").alias("n_exact_dup"),
                 F.sum("has_email").cast("long").alias("n_with_email")))


# --------------------------------------------------------------------------
# X122: corpus drift matrix — pairwise 1-D Wasserstein (earth-mover)
# distance between per-source document-length distributions, the
# principled "how different are these two sources" number behind mix
# rebalancing and drift alarms (PSI's X79 cousin, but a true metric).
# On a fixed 64-bin grid, EMD = sum_bins |CumA/nA - CumB/nB|; the
# numerator folds as |cumA*nB - cumB*nA| — exact BIGINT — and the one
# division happens per PAIR, not per bin. Dense (source x bin) grids
# are source-cardinality; the pair join is on the bin key.
# --------------------------------------------------------------------------
EMD_BIN_W = 16
EMD_BINS = 64


@register(
    "source_length_emd",
    f"""
    WITH d AS (
        SELECT source,
               LEAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                     // {EMD_BIN_W}, {EMD_BINS - 1}) AS bin
        FROM documents
    ),
    cnt AS (SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS c
            FROM d GROUP BY source, bin),
    srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt
             GROUP BY source),
    grid AS (
        SELECT s.source, s.n, g.b AS bin, COALESCE(cnt.c, 0) AS c
        FROM srcs s
        CROSS JOIN (SELECT unnest(range(0, {EMD_BINS})) AS b) g
        LEFT JOIN cnt ON cnt.source = s.source AND cnt.bin = g.b
    ),
    cum AS (
        SELECT source, n, bin,
               CAST(SUM(c) OVER (PARTITION BY source ORDER BY bin
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cc
        FROM grid
    )
    SELECT a.source AS source_a, b.source AS source_b,
           a.n AS n_a, b.n AS n_b,
           ROUND(CAST(SUM(ABS(a.cc * b.n - b.cc * a.n)) AS BIGINT)::DOUBLE
                 / (a.n::DOUBLE * b.n), 6) AS emd_bins
    FROM cum a JOIN cum b ON a.bin = b.bin AND a.source < b.source
    GROUP BY a.source, b.source, a.n, b.n
    """,
    doc=f"X122 drift matrix: pairwise earth-mover distance (in bin "
        f"units, {EMD_BINS} x {EMD_BIN_W}-token bins) between every "
        "two sources' document-length distributions. Cumulative "
        "histograms live on dense source x bin grids (source-"
        "cardinality); the |cumA*nB - cumB*nA| numerator folds as "
        "exact BIGINT so partial-sum order cannot move the metric; "
        "one division per pair. A true metric (unlike PSI), so "
        "downstream clustering of sources is well-defined.",
    tags=("X122", "X79", "X18", "X7"),
)
def source_length_emd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(
        "source",
        F.least(F.expr(f"size(split(trim(lower(text)), '\\\\s+')) "
                       f"DIV {EMD_BIN_W}"),
                F.lit(EMD_BINS - 1)).alias("bin"))
    cnt = d.groupBy("source", "bin").agg(F.count("*").cast("long")
                                         .alias("c"))
    srcs = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    bins = spark.range(0, EMD_BINS).select(F.col("id").alias("bin"))
    grid = (srcs.crossJoin(F.broadcast(bins))
            .join(cnt, ["source", "bin"], "left")
            .select("source", "n", "bin",
                    F.coalesce(F.col("c"), F.lit(0)).alias("c")))
    w = (Window.partitionBy("source").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = grid.select("source", "n", "bin",
                      F.sum("c").over(w).cast("long").alias("cc"))
    a = cum.select(F.col("source").alias("source_a"),
                   F.col("n").alias("n_a"), "bin",
                   F.col("cc").alias("cc_a"))
    b = cum.select(F.col("source").alias("source_b"),
                   F.col("n").alias("n_b"), "bin",
                   F.col("cc").alias("cc_b"))
    return (a.join(b, "bin")
            .filter(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b", "n_a", "n_b")
            .agg(F.round(
                F.sum(F.abs(F.col("cc_a") * F.col("n_b")
                            - F.col("cc_b") * F.col("n_a")))
                .cast("long").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b")), 6)
                .alias("emd_bins")))


# --------------------------------------------------------------------------
# X135: RAKE keyphrase extraction (Rose et al.) — the classic
# unsupervised keyword miner: candidate phrases are maximal stopword-
# free token runs, each scored by the sum of its words' degree/
# frequency ratios (degree = total length of phrases the word appears
# in). Distributed shape: one posexplode pass; phrase segmentation is
# a running stopword-count window (per-document partitions, O(1)
# state); word stats are one keyed aggregate; phrase re-scoring joins
# the DISTINCT phrase vocabulary (not occurrences) against the word
# table. Word scores snap to a 1e-6 integer grid BEFORE the phrase
# sum, so the fold is BIGINT-exact and order-independent; phrase
# ranking is top-k with deterministic tie-breaks.
# --------------------------------------------------------------------------
RAKE_STOPWORDS = ("the", "a")
RAKE_MAX_LEN = 4
RAKE_TOPK = 20


def _rake_oracle_sql() -> str:
    stops = ", ".join(f"'{s}'" for s in RAKE_STOPWORDS)
    return f"""
    WITH toks AS (
        SELECT doc_id, u.w, u.pos
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS ts
              FROM documents) d,
             LATERAL (SELECT UNNEST(d.ts) AS w,
                             generate_subscripts(d.ts, 1) AS pos) u
    ),
    seg AS (
        SELECT doc_id, w, pos,
               CASE WHEN w IN ({stops}) THEN 1 ELSE 0 END AS is_stop,
               SUM(CASE WHEN w IN ({stops}) THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
        FROM toks
    ),
    pw AS (
        SELECT doc_id, phrase_id, w, pos,
               COUNT(*) OVER (PARTITION BY doc_id, phrase_id)
                   AS phrase_len
        FROM seg WHERE is_stop = 0
    ),
    bounded AS (SELECT * FROM pw WHERE phrase_len <= {RAKE_MAX_LEN}),
    wstat AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(phrase_len) AS BIGINT) AS degree
        FROM bounded GROUP BY w
    ),
    wscore AS (
        SELECT w, CAST(ROUND(1000000.0 * degree / freq, 0) AS BIGINT)
                   AS s_micro
        FROM wstat
    ),
    phrases AS (
        SELECT doc_id, phrase_id,
               string_agg(w, ' ' ORDER BY pos) AS phrase
        FROM bounded GROUP BY doc_id, phrase_id
    ),
    pvocab AS (
        SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM phrases GROUP BY phrase
    ),
    scored AS (
        SELECT p.phrase, p.n_occurrences,
               CAST(len(string_split(p.phrase, ' ')) AS BIGINT) AS n_words,
               CAST(SUM(ws.s_micro) AS BIGINT) AS score_micro
        FROM (SELECT phrase, n_occurrences, UNNEST(string_split(phrase, ' '))
                     AS w
              FROM pvocab) p
        JOIN wscore ws ON ws.w = p.w
        GROUP BY p.phrase, p.n_occurrences
    )
    SELECT phrase, n_words, n_occurrences, score_micro
    FROM scored
    ORDER BY score_micro DESC, phrase LIMIT {RAKE_TOPK}
    """


@register(
    "rake_keyphrases",
    _rake_oracle_sql(),
    doc=f"X135 RAKE keyphrase extraction: stopword-delimited phrase "
        f"runs (stopwords: {', '.join(RAKE_STOPWORDS)}; max length "
        f"{RAKE_MAX_LEN}), word score = degree/frequency snapped to a "
        "1e-6 integer grid, phrase score = exact BIGINT sum of its "
        f"words' grid scores; top-{RAKE_TOPK}. One posexplode pass + "
        "per-doc running-count windows; phrase scoring joins the "
        "distinct phrase vocabulary only.",
    tags=("X135", "X18", "X40", "X11", "X12"),
)
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    toks = (d.select("doc_id",
                     F.posexplode(F.split(F.trim(F.lower("text")), r"\s+"))
                     .alias("pos0", "w"))
            .select("doc_id", (F.col("pos0") + 1).alias("pos"), "w"))
    is_stop = F.col("w").isin(*RAKE_STOPWORDS).cast("int")
    wseg = (Window.partitionBy("doc_id").orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0))
    seg = toks.select("doc_id", "w", "pos", is_stop.alias("is_stop"),
                      F.sum(is_stop).over(wseg).alias("phrase_id"))
    wlen = Window.partitionBy("doc_id", "phrase_id")
    pw = (seg.filter(F.col("is_stop") == 0)
          .select("doc_id", "phrase_id", "w", "pos",
                  F.count("*").over(wlen).alias("phrase_len"))
          .filter(F.col("phrase_len") <= RAKE_MAX_LEN))
    wstat = (pw.groupBy("w")
             .agg(F.count("*").cast("long").alias("freq"),
                  F.sum("phrase_len").cast("long").alias("degree")))
    wscore = wstat.select(
        "w", F.round(1000000.0 * F.col("degree") / F.col("freq"), 0)
        .cast("long").alias("s_micro"))
    phrases = (pw.groupBy("doc_id", "phrase_id")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("pos", "w"))),
                       lambda s: s["w"]), " ").alias("phrase")))
    pvocab = (phrases.groupBy("phrase")
              .agg(F.count("*").cast("long").alias("n_occurrences")))
    exploded = pvocab.select(
        "phrase", "n_occurrences",
        F.explode(F.split("phrase", " ")).alias("w"))
    scored = (exploded.join(wscore, "w")
              .groupBy("phrase", "n_occurrences")
              .agg(F.sum("s_micro").cast("long").alias("score_micro"))
              .withColumn("n_words",
                          F.size(F.split("phrase", " ")).cast("long")))
    return (scored.select("phrase", "n_words", "n_occurrences",
                          "score_micro")
            .orderBy(F.desc("score_micro"), F.asc("phrase"))
            .limit(RAKE_TOPK))


# --------------------------------------------------------------------------
# X141: multi-set Venn decomposition — the 7-region breakdown of
# shingle content across three named sources, the provenance picture
# X68's pairwise matrix can't show (pairwise Jaccard cannot
# distinguish "A∩B∩C mass" from three disjoint pairwise overlaps).
# One distinct (source, hash) pass -> per-hash membership BITMASK
# (bit_or of per-source bits, one keyed aggregate) -> 7-region count
# table. Inclusion-exclusion identities against the pairwise view are
# law-tested. Mask aggregation is associative/commutative, so the op
# is a plain map-side-combinable aggregate at any corpus size.
# --------------------------------------------------------------------------
VENN_SOURCES = ("src0", "src1", "src2")


def _venn_oracle_sql() -> str:
    k = OVERLAP_SHINGLE_K
    bits = " ".join(f"WHEN '{s}' THEN {1 << i}"
                    for i, s in enumerate(VENN_SOURCES))
    srcs = ", ".join(f"'{s}'" for s in VENN_SOURCES)
    return f"""
    WITH d AS (
        SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS ts
        FROM documents WHERE source IN ({srcs})
    ),
    sh AS (
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
    masked AS (
        SELECT h, CAST(bit_or(CASE source {bits} ELSE 0 END) AS BIGINT)
                   AS mask
        FROM sh GROUP BY h
    )
    SELECT mask AS region,
           CAST(COUNT(*) AS BIGINT) AS n_shingles
    FROM masked GROUP BY mask
    """


@register(
    "source_venn_regions",
    _venn_oracle_sql(),
    doc=f"X141 Venn decomposition of distinct {OVERLAP_SHINGLE_K}-gram "
        f"shingles across sources {', '.join(VENN_SOURCES)}: per-hash "
        "membership bitmask (bit_or aggregate) -> exact counts for "
        "all 7 regions. Distinct-first, one mask aggregate, one "
        "7-row rollup; inclusion-exclusion against the X68 pairwise "
        "matrix is law-tested.",
    tags=("X141", "X68", "X16", "X7"),
)
def source_venn_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    d = _docs(spark, sf_dir).filter(F.col("source").isin(*VENN_SOURCES))
    # r9: same helper — see exploded_token_shingles.
    sh = (D.exploded_token_shingles(d, "source", "text",
                                    OVERLAP_SHINGLE_K,
                                    spread_col="doc_id")
          .select("source",
                  F.conv(F.substring(F.md5("sg"), 1, 15), 16, 10)
                  .cast("long").alias("h"))
          .distinct())
    bits = " ".join(f"WHEN '{s}' THEN {1 << i}"
                    for i, s in enumerate(VENN_SOURCES))
    masked = (sh.groupBy("h")
              .agg(F.expr(f"cast(bit_or(CASE source {bits} ELSE 0 END) "
                          "as bigint)").alias("mask")))
    return (masked.groupBy(F.col("mask").alias("region"))
            .agg(F.count("*").cast("long").alias("n_shingles")))


# --------------------------------------------------------------------------
# X151: weighted-set similarity — the multiset generalization the X68
# overlap matrix can't see: weighted Jaccard J_W(A,B) =
# sum_t min(wA_t, wB_t) / sum_t max(wA_t, wB_t) over token FREQUENCY
# vectors, so a token repeated a million times in one crawl and once
# in another no longer counts as full overlap. Per-(source, token)
# counts first (one corpus pass; token cardinality after), then the
# per-pair full-outer merge folds min/max sums as BIGINTs — the same
# pair-merge shape as the KS matrix, never an all-rows join. The
# ratio is the lone division; J_W <= plain Jaccard is law-tested.
# --------------------------------------------------------------------------
@register(
    "source_weighted_jaccard",
    """
    WITH tok AS (
        SELECT source AS s, u.w AS t, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT source,
                     string_split_regex(trim(lower(text)), '\\s+') AS ts
              FROM documents) d,
             LATERAL (SELECT UNNEST(d.ts) AS w) u
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.s AS src_a, b.s AS src_b
        FROM (SELECT DISTINCT s FROM tok) a
        JOIN (SELECT DISTINCT s FROM tok) b ON a.s < b.s
    ),
    merged AS (
        SELECT p.src_a, p.src_b, tok.t,
               SUM(CASE WHEN tok.s = p.src_a THEN tok.c ELSE 0 END)
                   AS ca,
               SUM(CASE WHEN tok.s = p.src_b THEN tok.c ELSE 0 END)
                   AS cb
        FROM pairs p JOIN tok ON tok.s IN (p.src_a, p.src_b)
        GROUP BY 1, 2, 3
    )
    SELECT src_a, src_b,
           CAST(SUM(LEAST(ca, cb)) AS BIGINT) AS w_inter,
           CAST(SUM(GREATEST(ca, cb)) AS BIGINT) AS w_union,
           ROUND(CAST(SUM(LEAST(ca, cb)) AS DOUBLE)
                 / SUM(GREATEST(ca, cb)), 6) AS weighted_jaccard
    FROM merged GROUP BY src_a, src_b
    """,
    doc="X151 weighted Jaccard between source token-frequency "
        "multisets: per-(source, token) histogram -> per-pair merge "
        "-> BIGINT min/max sums, one division. Multiplicity-aware "
        "corpus-provenance similarity (J_W <= set Jaccard, "
        "law-tested); work scales with distinct (source, token), "
        "never raw tokens.",
    tags=("X151", "X68", "X18", "X7"),
)
def source_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    tok = (d.select("source",
                    F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                    .alias("t"))
           .groupBy(F.col("source").alias("s"), "t")
           .agg(F.count("*").cast("long").alias("c")))
    srcs = tok.select("s").distinct()
    pairs = (srcs.select(F.col("s").alias("src_a"))
             .join(srcs.select(F.col("s").alias("src_b")),
                   F.col("src_a") < F.col("src_b")))
    merged = (pairs.join(tok, F.col("s").isin(F.col("src_a"),
                                              F.col("src_b")))
              .groupBy("src_a", "src_b", "t")
              .agg(F.sum(F.when(F.col("s") == F.col("src_a"),
                                F.col("c")).otherwise(0)).alias("ca"),
                   F.sum(F.when(F.col("s") == F.col("src_b"),
                                F.col("c")).otherwise(0)).alias("cb")))
    return (merged.groupBy("src_a", "src_b")
            .agg(F.sum(F.least("ca", "cb")).cast("long")
                 .alias("w_inter"),
                 F.sum(F.greatest("ca", "cb")).cast("long")
                 .alias("w_union"))
            .withColumn("weighted_jaccard",
                        F.round(F.col("w_inter").cast("double")
                                / F.col("w_union"), 6)))


# --------------------------------------------------------------------------
# X166: Zipf rank-frequency power-law fit — the corpus-health
# diagnostic (natural text follows count ~ C * rank^-s with s ~ 1;
# machine-generated or template-heavy corpora bend the curve) and
# the vocabulary-size forecaster behind tokenizer budgeting.
# log2(count) is regressed on log2(rank) for the top-ZIPF_R words by
# closed-form OLS: both logs take INTEGER arguments (global counts,
# ranks), snap to the 1e-6-bit grid (the X41 micro discipline), and
# every OLS moment (Sxx, Sxy, ...) is then an exact BIGINT fold —
# slope, intercept and R^2 are single divisions of identical
# integers. Two fits ship: ranks 1..100 and the head-corrected
# 10..100 (Zipf's law famously bends at the head). One corpus pass
# for the word histogram; the fit frame is 100 rows.
# --------------------------------------------------------------------------
ZIPF_R = 100
ZIPF_TAIL_FROM = 10


@register(
    "zipf_rank_frequency",
    f"""
    WITH wc AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split_regex(trim(lower(text)),
                                               '\\s+')) AS w
              FROM documents)
        GROUP BY w
    ),
    top AS (
        SELECT w, n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS r
        FROM wc ORDER BY n DESC, w LIMIT {ZIPF_R}
    ),
    pts AS (
        SELECT r, n,
               CAST(ROUND(log2(r) * 1000000) AS BIGINT) AS x,
               CAST(ROUND(log2(n) * 1000000) AS BIGINT) AS y
        FROM top
    ),
    fits AS (
        SELECT 'all' AS fit, CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pts
        UNION ALL
        SELECT 'tail', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(x) AS BIGINT), CAST(SUM(y) AS BIGINT),
               CAST(SUM(x * x) AS BIGINT), CAST(SUM(x * y) AS BIGINT),
               CAST(SUM(y * y) AS BIGINT)
        FROM pts WHERE r >= {ZIPF_TAIL_FROM}
    )
    SELECT fit, k AS n_points,
           ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
                 / (k * sxx - sx * sx), 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(k * sxy - sx * sy AS DOUBLE)
                     / (k * sxx - sx * sx)) * sx)
                 / k / 1000000.0, 6) AS intercept_log2,
           ROUND((CAST(k * sxy - sx * sy AS DOUBLE)
                  * (k * sxy - sx * sy))
                 / (CAST(k * sxx - sx * sx AS DOUBLE)
                    * (k * syy - sy * sy)), 6) AS r2
    FROM fits ORDER BY fit
    """,
    doc=f"X166 Zipf rank-frequency fit: top-{ZIPF_R} word counts, "
        "log2(count) ~ log2(rank) by closed-form OLS on micro-grid "
        "BIGINT moments (logs of integer args snapped to 1e-6 bits, "
        "every moment an exact integer fold, slope/intercept/R^2 "
        f"single divisions); 'all' (1..{ZIPF_R}) and head-corrected "
        f"'tail' ({ZIPF_TAIL_FROM}..{ZIPF_R}) fits.",
    tags=("X166", "X44", "X60", "X18", "X7", "X12"),
)
def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    wc = (d.select(F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                     r"\s+")).alias("w"))
          .groupBy("w").agg(F.count("*").cast("long").alias("n")))
    top = (wc.orderBy(F.desc("n"), "w").limit(ZIPF_R)
           .withColumn("r", F.row_number().over(
               Window.orderBy(F.desc("n"), "w"))))
    pts = top.select(
        "r", "n",
        F.round(F.log2("r") * 1e6, 0).cast("long").alias("x"),
        F.round(F.log2("n") * 1e6, 0).cast("long").alias("y"))

    def moments(df, label):
        return df.agg(
            F.lit(label).alias("fit"),
            F.count("*").cast("long").alias("k"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"))

    fits = moments(pts, "all").unionByName(
        moments(pts.filter(F.col("r") >= ZIPF_TAIL_FROM), "tail"))
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num.cast("double") / den
    return (fits.select(
        "fit", F.col("k").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy").cast("double") - slope * F.col("sx"))
                / F.col("k") / 1e6, 6).alias("intercept_log2"),
        F.round(num.cast("double") * num
                / (den.cast("double") * deny), 6).alias("r2"))
        .orderBy("fit"))


# --------------------------------------------------------------------------
# X174: greedy LM decoding — deterministic text generation from the
# corpus bigram model (the X67 LM turned around: not "how surprising
# is this text" but "what does the model SAY"), the smoke test every
# LM-data pipeline wants after building n-gram stats: follow
# next(w) = argmax_b count(w, b) (ties -> lexicographically smallest
# b) for DECODE_STEPS steps from the top-DECODE_SEEDS most frequent
# seed words. The next-word function is ONE aggregate + window argmax
# (count DESC, word ASC — integer counts, deterministic on both
# engines); generation is then DECODE_STEPS tiny hash joins of the
# seed frame against the persisted next table — corpus is touched
# once, the chain never re-scans. Dead ends stop the walk (inner
# join); cycles are allowed and deterministic.
# --------------------------------------------------------------------------
DECODE_STEPS = 12
DECODE_SEEDS = 5


@register(
    "bigram_greedy_decode",
    f"""
    WITH RECURSIVE d AS (
        SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    bg AS (
        SELECT bg[1] AS a, bg[2] AS b, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(list_transform(
                  range(1, len(toks)),
                  i -> [toks[i], toks[i + 1]])) AS bg
              FROM d)
        GROUP BY bg[1], bg[2]
    ),
    nxt AS (
        SELECT a, b FROM (
            SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a
                                            ORDER BY c DESC, b) AS rn
            FROM bg) WHERE rn = 1
    ),
    uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(toks) AS w FROM d) GROUP BY w
    ),
    seeds AS (
        SELECT w AS seed FROM uni
        ORDER BY n DESC, w LIMIT {DECODE_SEEDS}
    ),
    walk(seed, step, word) AS (
        SELECT seed, 0, seed FROM seeds
        UNION ALL
        SELECT walk.seed, walk.step + 1, nxt.b
        FROM walk JOIN nxt ON nxt.a = walk.word
        WHERE walk.step < {DECODE_STEPS}
    )
    SELECT seed, CAST(step AS BIGINT) AS step, word
    FROM walk ORDER BY seed, step
    """,
    doc=f"X174 greedy bigram decoding: next(w) = argmax count (ties "
        f"min word) as one aggregate + window; {DECODE_SEEDS} most "
        f"frequent seeds walk {DECODE_STEPS} steps through "
        "DECODE_STEPS tiny hash joins against the persisted next "
        "table — one corpus pass total. Dead ends stop; cycles are "
        "deterministic. The generation smoke test of the corpus LM.",
    tags=("X174", "X67", "X57", "X7", "X10"),
)
def bigram_greedy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..caching import persist_tracked

    d = _docs(spark, sf_dir).select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"))
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1), "
        "i -> struct(toks[i - 1] AS a, toks[i] AS b))")
    bg = (d.filter(F.size("toks") > 1)
          .select(F.explode(bigrams).alias("p"))
          .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
          .agg(F.count("*").cast("long").alias("c")))
    nxt = persist_tracked(
        bg.withColumn("rn", F.row_number().over(
            Window.partitionBy("a").orderBy(F.desc("c"), "b")))
        .filter(F.col("rn") == 1).select("a", "b"))
    uni = (d.select(F.explode("toks").alias("w"))
           .groupBy("w").agg(F.count("*").cast("long").alias("n")))
    seeds = (uni.orderBy(F.desc("n"), "w").limit(DECODE_SEEDS)
             .select(F.col("w").alias("seed")))
    out = seeds.select("seed", F.lit(0).alias("step"),
                       F.col("seed").alias("word")).localCheckpoint()
    frontier = out
    for step in range(1, DECODE_STEPS + 1):
        frontier = (frontier.join(nxt, frontier.word == nxt.a)
                    .select("seed", F.lit(step).alias("step"),
                            F.col("b").alias("word"))
                    .localCheckpoint())
        if frontier.isEmpty():
            break
        out = out.unionByName(frontier)
    return out.select("seed", F.col("step").cast("long"), "word") \
        .orderBy("seed", "step")


# --------------------------------------------------------------------------
# X178: Heaps'-law vocabulary growth — the companion diagnostic to the
# X166 Zipf fit (Zipf reads the frequency head; Heaps forecasts how
# vocabulary grows with corpus size, V(n) ~ K * n^beta, the number
# tokenizer-budget and OOV-rate planning needs). The cumulative-
# distinct curve is computed the scale-safe way: each word contributes
# ONE row at its first-occurrence document (min doc_id), documents
# bucket into HEAPS_BUCKETS ordered prefix buckets by pure integer
# arithmetic on doc_id (never a global per-doc window), per-bucket
# new-word and token counts fold cumulatively over the 64-row bucket
# frame, and log2 of the integer (cum_tokens, cum_vocab) pairs snaps
# to the 1e-6 micro grid so the closed-form OLS moments are exact
# BIGINT folds — beta, intercept and R^2 are single divisions.
# 'all' fits every bucket; 'tail' skips the first 8 (Heaps bends at
# tiny n exactly like Zipf bends at the head).
# --------------------------------------------------------------------------
HEAPS_BUCKETS = 64
HEAPS_TAIL_FROM = 9


@register(
    "heaps_vocab_growth",
    f"""
    WITH mx AS (
        SELECT MAX(doc_id) + 1 AS m FROM documents
    ),
    tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents
    ),
    tokb AS (
        SELECT (doc_id * {HEAPS_BUCKETS}) // mx.m AS b,
               CAST(COUNT(*) AS BIGINT) AS ntok
        FROM tok CROSS JOIN mx GROUP BY 1
    ),
    fw AS (SELECT w, MIN(doc_id) AS fd FROM tok GROUP BY w),
    newb AS (
        SELECT (fd * {HEAPS_BUCKETS}) // mx.m AS b,
               CAST(COUNT(*) AS BIGINT) AS nnew
        FROM fw CROSS JOIN mx GROUP BY 1
    ),
    cum AS (
        SELECT tokb.b,
               CAST(SUM(tokb.ntok) OVER (ORDER BY tokb.b) AS BIGINT)
                   AS cum_n,
               CAST(SUM(COALESCE(newb.nnew, 0)) OVER (ORDER BY tokb.b)
                    AS BIGINT) AS cum_v,
               ROW_NUMBER() OVER (ORDER BY tokb.b) AS r
        FROM tokb LEFT JOIN newb ON newb.b = tokb.b
    ),
    pts AS (
        SELECT r,
               CAST(ROUND(log2(cum_n) * 1000000) AS BIGINT) AS x,
               CAST(ROUND(log2(cum_v) * 1000000) AS BIGINT) AS y
        FROM cum
    ),
    fits AS (
        SELECT 'all' AS fit, CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pts
        UNION ALL
        SELECT 'tail', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(x) AS BIGINT), CAST(SUM(y) AS BIGINT),
               CAST(SUM(x * x) AS BIGINT), CAST(SUM(x * y) AS BIGINT),
               CAST(SUM(y * y) AS BIGINT)
        FROM pts WHERE r >= {HEAPS_TAIL_FROM}
    ),
    tot AS (
        SELECT MAX(cum_n) AS total_tokens, MAX(cum_v) AS total_vocab
        FROM cum
    )
    SELECT fit, k AS n_points,
           ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
                 / (k * sxx - sx * sx), 6) AS beta,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(k * sxy - sx * sy AS DOUBLE)
                     / (k * sxx - sx * sx)) * sx)
                 / k / 1000000.0, 6) AS intercept_log2,
           ROUND((CAST(k * sxy - sx * sy AS DOUBLE)
                  * (k * sxy - sx * sy))
                 / NULLIF(CAST(k * sxx - sx * sx AS DOUBLE)
                          * (k * syy - sy * sy), 0.0), 6) AS r2,
           tot.total_tokens, tot.total_vocab
    FROM fits CROSS JOIN tot ORDER BY fit
    """,
    doc=f"X178 Heaps'-law vocabulary growth: {HEAPS_BUCKETS} ordered "
        "prefix buckets by integer doc_id arithmetic, per-bucket token "
        "+ first-occurrence-word counts, cumulative fold over the "
        "bucket frame only, log2 of integer (cum_tokens, cum_vocab) "
        "on the 1e-6 micro grid, closed-form OLS from exact BIGINT "
        "moments; 'all' and head-corrected 'tail' fits.",
    tags=("X178", "X166", "X18", "X44", "X7", "X10"),
)
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    d = _docs(spark, sf_dir)
    mx = d.agg((F.max("doc_id") + 1).alias("m"))
    tok = persist_tracked(
        d.crossJoin(F.broadcast(mx)).select(
            "doc_id", "m",
            F.explode(F.split(F.trim(F.lower(F.col("text"))),
                              r"\s+")).alias("w")))
    tokb = (tok.groupBy(F.expr(f"(doc_id * {HEAPS_BUCKETS}) DIV m")
                        .alias("b"))
            .agg(F.count("*").cast("long").alias("ntok")))
    fw = tok.groupBy("w").agg(F.min("doc_id").alias("fd"),
                              F.min("m").alias("m2"))
    newb = (fw.groupBy(F.expr(f"(fd * {HEAPS_BUCKETS}) DIV m2")
                       .alias("b"))
            .agg(F.count("*").cast("long").alias("nnew")))
    wc = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = (tokb.join(newb, "b", "left")
           .select("b", "ntok",
                   F.coalesce("nnew", F.lit(0)).alias("nnew"))
           .select("b",
                   F.sum("ntok").over(wc).cast("long").alias("cum_n"),
                   F.sum("nnew").over(wc).cast("long").alias("cum_v"),
                   F.row_number().over(Window.orderBy("b")).alias("r")))
    cum = persist_tracked(cum)

    def l2m(c):
        return F.round(F.log2(c) * 1e6, 0).cast("long")

    pts = cum.select("r", l2m(F.col("cum_n")).alias("x"),
                     l2m(F.col("cum_v")).alias("y"))

    def moments(df, label):
        return df.agg(
            F.lit(label).alias("fit"),
            F.count("*").cast("long").alias("k"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"))

    fits = moments(pts, "all").unionByName(
        moments(pts.filter(F.col("r") >= HEAPS_TAIL_FROM), "tail"))
    tot = cum.agg(F.max("cum_n").alias("total_tokens"),
                  F.max("cum_v").alias("total_vocab"))
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num.cast("double") / den
    return (fits.crossJoin(F.broadcast(tot)).select(
        "fit", F.col("k").alias("n_points"),
        F.round(slope, 6).alias("beta"),
        F.round((F.col("sy").cast("double") - slope * F.col("sx"))
                / F.col("k") / 1e6, 6).alias("intercept_log2"),
        F.round(num.cast("double") * num
                / F.nullif(den.cast("double") * deny, F.lit(0.0)),
                6).alias("r2"),
        "total_tokens", "total_vocab")
        .orderBy("fit"))


# --------------------------------------------------------------------------
# X190: distributional word similarity — count-based word embeddings
# (PPMI-weighted context vectors + sparse cosine), the pre-neural
# embedding baseline (Levy & Goldberg showed skip-gram factorizes
# exactly this matrix) and the cheapest "what behaves like X" tool a
# corpus pipeline owns. Co-occurrence pairs come from a +-2 token
# window via four (doc, pos+off) equi-joins (linear fan-out, the
# X87 positional-join discipline — never a per-doc self-join);
# PPMI lands on the micro-bit grid because every log2 argument is an
# integer (pair count, marginals, total), so context vectors are
# BIGINT-valued and the cosine numerator is an exact integer fold
# over the shared-context join; norms are correctly-rounded sqrts of
# identical integers. Similarity is evaluated among the SIM_TOP_W
# most frequent words (frequency ties -> lexicographic), top
# SIM_TOP_K neighbors each.
# --------------------------------------------------------------------------
SIM_TOP_W = 50
SIM_TOP_K = 5


@register(
    "distributional_word_sim",
    f"""
    WITH d AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    tok AS (
        SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
               unnest(toks) AS w
        FROM d
    ),
    pairs AS (
        SELECT a.w AS w, b.w AS c
        FROM tok a
        JOIN (SELECT unnest([-2, -1, 1, 2]) AS off) o ON TRUE
        JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + o.off
    ),
    nwc AS (
        SELECT w, c, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs GROUP BY w, c
    ),
    nw AS (SELECT w, CAST(SUM(n) AS BIGINT) AS nw FROM nwc GROUP BY w),
    nc AS (SELECT c, CAST(SUM(n) AS BIGINT) AS nc FROM nwc GROUP BY c),
    nn AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM nwc),
    ppmi AS (
        SELECT nwc.w, nwc.c,
               GREATEST(CAST(0 AS BIGINT),
                   CAST(ROUND(log2(nwc.n) * 1000000) AS BIGINT)
                   + CAST(ROUND(log2(nn.nn) * 1000000) AS BIGINT)
                   - CAST(ROUND(log2(nw.nw) * 1000000) AS BIGINT)
                   - CAST(ROUND(log2(nc.nc) * 1000000) AS BIGINT))
                   AS p
        FROM nwc JOIN nw ON nw.w = nwc.w
        JOIN nc ON nc.c = nwc.c CROSS JOIN nn
    ),
    vec AS (SELECT w, c, p FROM ppmi WHERE p > 0),
    top AS (
        SELECT w FROM (
            SELECT w, ROW_NUMBER() OVER (ORDER BY nw DESC, w) AS r
            FROM nw
        ) WHERE r <= {SIM_TOP_W}
    ),
    nrm AS (
        SELECT v.w, CAST(SUM(v.p * v.p) AS BIGINT) AS n2
        FROM vec v JOIN top t ON t.w = v.w GROUP BY v.w
    ),
    dots AS (
        SELECT a.w AS wa, b.w AS wb, CAST(SUM(a.p * b.p) AS BIGINT)
                   AS num
        FROM vec a JOIN top ta ON ta.w = a.w
        JOIN vec b ON b.c = a.c AND b.w <> a.w
        JOIN top tb ON tb.w = b.w
        GROUP BY a.w, b.w
    ),
    sims AS (
        SELECT d.wa AS word, d.wb AS neighbor,
               ROUND(d.num / (SQRT(CAST(na.n2 AS DOUBLE))
                              * SQRT(CAST(nb.n2 AS DOUBLE))), 6)
                   AS sim
        FROM dots d JOIN nrm na ON na.w = d.wa
        JOIN nrm nb ON nb.w = d.wb
    )
    SELECT word, CAST(rk AS BIGINT) AS rank, neighbor, sim FROM (
        SELECT word, neighbor, sim,
               ROW_NUMBER() OVER (PARTITION BY word
                                  ORDER BY sim DESC, neighbor) AS rk
        FROM sims
    ) WHERE rk <= {SIM_TOP_K}
    ORDER BY word, rank
    """,
    doc=f"X190 distributional word similarity: +-2-window "
        "co-occurrence via positional equi-joins, PPMI on the "
        "micro-bit grid (all log2 args integer), sparse-cosine "
        f"neighbors among the top-{SIM_TOP_W} words (exact BIGINT "
        "dot products over the shared-context join, correctly-"
        f"rounded norms), top-{SIM_TOP_K} each.",
    tags=("X190", "X41", "X100", "X17", "X87"),
)
def distributional_word_sim(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    d = _docs(spark, sf_dir)
    tok = persist_tracked(
        d.select("doc_id",
                 F.posexplode(F.split(F.trim(F.lower(F.col("text"))),
                                      r"\s+")).alias("pos0", "w"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "w"))
    offs = spark.createDataFrame([(-2,), (-1,), (1,), (2,)],
                                 "off INT")
    b = tok.select(F.col("doc_id"), F.col("pos").alias("bpos"),
                   F.col("w").alias("c"))
    pairs = (tok.crossJoin(F.broadcast(offs))
             .withColumn("bpos", F.col("pos") + F.col("off"))
             .join(b, ["doc_id", "bpos"])
             .select("w", "c"))
    nwc = persist_tracked(
        pairs.groupBy("w", "c").agg(F.count("*").cast("long")
                                    .alias("n")))
    nw = persist_tracked(
        nwc.groupBy("w").agg(F.sum("n").cast("long").alias("nw")))
    nc = nwc.groupBy("c").agg(F.sum("n").cast("long").alias("nc"))
    nn = nwc.agg(F.sum("n").cast("long").alias("nn"))

    def l2m(c):
        return F.round(F.log2(c) * 1e6, 0).cast("long")

    ppmi = (nwc.join(nw, "w").join(nc, "c")
            .crossJoin(F.broadcast(nn))
            .select("w", "c",
                    F.greatest(
                        F.lit(0).cast("long"),
                        l2m(F.col("n")) + l2m(F.col("nn"))
                        - l2m(F.col("nw")) - l2m(F.col("nc")))
                    .alias("p")))
    vec = persist_tracked(ppmi.filter(F.col("p") > 0))
    top = (nw.withColumn("r", F.row_number().over(
        Window.orderBy(F.desc("nw"), F.asc("w"))))
        .filter(F.col("r") <= SIM_TOP_W).select("w"))
    tvec = persist_tracked(vec.join(F.broadcast(top), "w"))
    nrm = tvec.groupBy("w").agg(
        F.sum(F.col("p") * F.col("p")).cast("long").alias("n2"))
    a = tvec.select(F.col("w").alias("wa"), "c",
                    F.col("p").alias("pa"))
    bb = tvec.select(F.col("w").alias("wb"), "c",
                     F.col("p").alias("pb"))
    dots = (a.join(bb, "c")
            .filter(F.col("wb") != F.col("wa"))
            .groupBy("wa", "wb")
            .agg(F.sum(F.col("pa") * F.col("pb")).cast("long")
                 .alias("num")))
    sims = (dots
            .join(nrm.select(F.col("w").alias("wa"),
                             F.col("n2").alias("na2")), "wa")
            .join(nrm.select(F.col("w").alias("wb"),
                             F.col("n2").alias("nb2")), "wb")
            .select(F.col("wa").alias("word"),
                    F.col("wb").alias("neighbor"),
                    F.round(F.col("num")
                            / (F.sqrt(F.col("na2").cast("double"))
                               * F.sqrt(F.col("nb2").cast("double"))),
                            6).alias("sim")))
    wr = Window.partitionBy("word").orderBy(F.desc("sim"),
                                            F.asc("neighbor"))
    return (sims.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= SIM_TOP_K)
            .select("word", F.col("rk").cast("long").alias("rank"),
                    "neighbor", "sim")
            .orderBy("word", "rank"))


# --------------------------------------------------------------------------
# X192: optimal-transport PLAN between histograms — X122 ships the
# 1-D Wasserstein DISTANCE; rebalancing decisions need the PLAN
# (which mass moves from which bucket to which: the curriculum /
# re-binning recipe). In 1-D the Monge plan is the monotone coupling
# of the two CDFs, and it is EXACT in integers: scale A's cumulative
# interval [loA_i, hiA_i) by nB and B's by nA, and the coupled mass
# is interval intersection
#   m_ij = max(0, min(hiA_i*nB, hiB_j*nA) - max(loA_i*nB, loB_j*nA))
# in units of 1/(nA*nB) — pure BIGINT, no fractions anywhere. The
# histogram frames are bucket-bounded, so the overlap theta-join is
# bucket^2 at worst (its true size is O(binsA + binsB) because the
# monotone coupling is staircase-shaped — each row overlaps O(1)
# intervals amortized).
# --------------------------------------------------------------------------
OT_SRC_A = "src0"
OT_SRC_B = "src1"
OT_BIN_W = 200


@register(
    "ot_transport_plan",
    f"""
    WITH ha AS (
        SELECT n_chars // {OT_BIN_W} AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM documents WHERE source = '{OT_SRC_A}' GROUP BY 1
    ),
    hb AS (
        SELECT n_chars // {OT_BIN_W} AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM documents WHERE source = '{OT_SRC_B}' GROUP BY 1
    ),
    na AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ha),
    nb AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hb),
    ca AS (
        SELECT bin, CAST(SUM(c) OVER (ORDER BY bin) - c AS BIGINT)
                   AS lo,
               CAST(SUM(c) OVER (ORDER BY bin) AS BIGINT) AS hi
        FROM ha
    ),
    cb AS (
        SELECT bin, CAST(SUM(c) OVER (ORDER BY bin) - c AS BIGINT)
                   AS lo,
               CAST(SUM(c) OVER (ORDER BY bin) AS BIGINT) AS hi
        FROM hb
    ),
    plan AS (
        SELECT ca.bin AS from_bin, cb.bin AS to_bin,
               LEAST(ca.hi * nb.n, cb.hi * na.n)
               - GREATEST(ca.lo * nb.n, cb.lo * na.n) AS mass_units
        FROM ca CROSS JOIN na CROSS JOIN nb
        JOIN cb ON cb.lo * na.n < ca.hi * nb.n
               AND ca.lo * nb.n < cb.hi * na.n
    )
    SELECT p.from_bin, p.to_bin, p.mass_units,
           ROUND(CAST(p.mass_units AS DOUBLE) / (na.n * nb.n), 6)
               AS mass_frac,
           CAST(ABS(p.from_bin - p.to_bin) * p.mass_units AS BIGINT)
               AS cost_units
    FROM plan p CROSS JOIN na CROSS JOIN nb
    WHERE p.mass_units > 0
    ORDER BY from_bin, to_bin
    """,
    doc=f"X192 exact 1-D optimal-transport plan between "
        f"'{OT_SRC_A}' and '{OT_SRC_B}' length histograms "
        f"({OT_BIN_W}-char bins): monotone CDF coupling via integer "
        "interval intersection on the nA*nB common-denominator grid "
        "— pure BIGINT mass, bucket-bounded staircase join; per-cell "
        "mass and |i-j| cost contributions.",
    tags=("X192", "X122", "X129", "X5", "X7"),
)
def ot_transport_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)

    def hist(src):
        return (d.filter(F.col("source") == src)
                .groupBy(F.expr(f"n_chars DIV {OT_BIN_W}").alias("bin"))
                .agg(F.count("*").cast("long").alias("c")))

    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0)

    def cum(h, lo, hi):
        return h.select(
            "bin",
            (F.sum("c").over(wcum) - F.col("c")).cast("long")
            .alias(lo),
            F.sum("c").over(wcum).cast("long").alias(hi))

    ha, hb = hist(OT_SRC_A), hist(OT_SRC_B)
    na = ha.agg(F.sum("c").cast("long").alias("na"))
    nb = hb.agg(F.sum("c").cast("long").alias("nb"))
    ca = cum(ha, "loa", "hia").withColumnRenamed("bin", "from_bin")
    cb = cum(hb, "lob", "hib").withColumnRenamed("bin", "to_bin")
    plan = (ca.crossJoin(F.broadcast(na)).crossJoin(F.broadcast(nb))
            .join(cb,
                  (F.col("lob") * F.col("na") < F.col("hia")
                   * F.col("nb"))
                  & (F.col("loa") * F.col("nb") < F.col("hib")
                     * F.col("na")))
            .select("from_bin", "to_bin", "na", "nb",
                    (F.least(F.col("hia") * F.col("nb"),
                             F.col("hib") * F.col("na"))
                     - F.greatest(F.col("loa") * F.col("nb"),
                                  F.col("lob") * F.col("na")))
                    .alias("mass_units")))
    return (plan.filter(F.col("mass_units") > 0)
            .select("from_bin", "to_bin", "mass_units",
                    F.round(F.col("mass_units").cast("double")
                            / (F.col("na") * F.col("nb")), 6)
                    .alias("mass_frac"),
                    (F.abs(F.col("from_bin") - F.col("to_bin"))
                     * F.col("mass_units")).cast("long")
                    .alias("cost_units"))
            .orderBy("from_bin", "to_bin"))


# --------------------------------------------------------------------------
# X203: Burrows' Delta stylometry — the classical authorship /
# provenance fingerprint (Burrows 2002): z-score the top-M
# most-frequent-word rates across sources, Delta(a, b) = mean_w
# |z_a - z_b|. The algebraic simplification that makes it exact
# cross-engine: the per-word mean CANCELS in the difference, so
# Delta needs only |f_a - f_b| / sd_w — rates are integer micro
# (one snapped division per cell over the DENSE source x top-word
# grid, zeros included), sd_w is one correctly-rounded sqrt of exact
# BIGINT moments, each word term snaps back to micro, and the pair
# sum is a BIGINT fold. Grid size is sources x M (bounded metadata);
# the corpus is scanned once for the word histogram.
# --------------------------------------------------------------------------
DELTA_TOP_W = 30


@register(
    "stylometry_burrows_delta",
    f"""
    WITH tok AS (
        SELECT source,
               unnest(string_split_regex(trim(lower(text)), '\\s+'))
                   AS w
        FROM documents
    ),
    cnt AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, w
    ),
    tot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS t
        FROM cnt GROUP BY source
    ),
    topw AS (
        SELECT w FROM (
            SELECT w, ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, w)
                       AS r
            FROM cnt GROUP BY w
        ) WHERE r <= {DELTA_TOP_W}
    ),
    grid AS (
        SELECT tot.source, topw.w, tot.t,
               COALESCE(cnt.c, 0) AS c
        FROM tot CROSS JOIN topw
        LEFT JOIN cnt ON cnt.source = tot.source AND cnt.w = topw.w
    ),
    f AS (
        SELECT source, w,
               CAST(ROUND(1000000.0 * c / t, 0) AS BIGINT) AS fm
        FROM grid
    ),
    sd AS (
        SELECT w,
               SQRT(CAST(COUNT(*) * SUM(fm * fm) - SUM(fm) * SUM(fm)
                         AS DOUBLE)
                    / (CAST(COUNT(*) AS DOUBLE) * (COUNT(*) - 1)))
                   AS sd
        FROM f GROUP BY w
    ),
    terms AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(ROUND(ABS(a.fm - b.fm) / NULLIF(sd.sd, 0.0)
                          * 1000000, 0) AS BIGINT) AS term
        FROM f a JOIN f b ON b.w = a.w AND b.source > a.source
        JOIN sd ON sd.w = a.w
    )
    SELECT src_a, src_b,
           CAST(COUNT(term) AS BIGINT) AS n_words,
           CAST(ROUND(CAST(SUM(term) AS DOUBLE) / COUNT(term), 0)
                AS BIGINT) / 1000000.0 AS delta
    FROM terms GROUP BY src_a, src_b
    ORDER BY src_a, src_b
    """,
    doc=f"X203 Burrows' Delta over the top-{DELTA_TOP_W} words: "
        "dense source x word rate grid (zeros included, rates "
        "snapped to micro), per-word sd one correctly-rounded sqrt "
        "of exact moments, Delta = mean |f_a - f_b|/sd with the mean "
        "cancellation making every term a micro-snapped integer; "
        "pairwise source distances from one corpus pass.",
    tags=("X203", "X18", "X129", "X122", "X7"),
)
def stylometry_burrows_delta(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    d = _docs(spark, sf_dir)
    cnt = persist_tracked(
        d.select("source",
                 F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                   r"\s+")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c")))
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    topw = (cnt.groupBy("w").agg(F.sum("c").alias("tc"))
            .withColumn("r", F.row_number().over(
                Window.orderBy(F.desc("tc"), F.asc("w"))))
            .filter(F.col("r") <= DELTA_TOP_W).select("w"))
    grid = (tot.crossJoin(F.broadcast(topw))
            .join(cnt, ["source", "w"], "left")
            .select("source", "w", "t",
                    F.coalesce("c", F.lit(0)).alias("c")))
    f = persist_tracked(grid.select(
        "source", "w",
        F.round(F.lit(1000000.0) * F.col("c") / F.col("t"), 0)
        .cast("long").alias("fm")))
    sd = f.groupBy("w").agg(
        F.sqrt((F.count("*") * F.sum(F.col("fm") * F.col("fm"))
                - F.sum("fm") * F.sum("fm")).cast("double")
               / (F.count("*").cast("double")
                  * (F.count("*") - 1))).alias("sd"))
    a = f.select(F.col("source").alias("src_a"), "w",
                 F.col("fm").alias("fa"))
    b = f.select(F.col("source").alias("src_b"), "w",
                 F.col("fm").alias("fb"))
    terms = (a.join(b, "w")
             .filter(F.col("src_b") > F.col("src_a"))
             .join(sd, "w")
             .select("src_a", "src_b",
                     F.round(F.abs(F.col("fa") - F.col("fb"))
                             / F.nullif(F.col("sd"), F.lit(0.0))
                             * 1e6, 0).cast("long").alias("term")))
    # snap the mean to integer micro FIRST (ROUND(x, 6) on a double
    # that lands exactly on a 5e-7 boundary flips between engines —
    # the X41/pareto lesson), then one exact division
    return (terms.groupBy("src_a", "src_b")
            .agg(F.count("term").cast("long").alias("n_words"),
                 (F.round(F.sum("term").cast("double")
                          / F.count("term"), 0).cast("long")
                  / F.lit(1000000.0)).alias("delta"))
            .orderBy("src_a", "src_b"))


# --------------------------------------------------------------------------
# X204: Kneser-Ney smoothed bigram perplexity — the smoothing that
# actually ships in LM-based corpus filters (KenLM/CCNet), next to
# X67's pedagogical add-k: absolute discounting plus the
# continuation-probability backoff ("how many contexts has this word
# completed?"). Exactness without a single transcendental of a
# non-integer: with discount d = 3/4, multiply through by 4*Nbt so
#   p(b|a) = [max(4c(ab) - 3, 0) * Nbt + 3 * N1+(a.) * N1+(.b)]
#            / [4 * c(a.) * Nbt]
# is an exact INTEGER rational — surprisal = l2m(den) - l2m(num),
# both log2 args integers on the micro-bit grid, and per-doc sums
# are BIGINT folds. The model trains on the md5 80% document split
# and scores the held-out 20% (so the backoff term genuinely fires
# on unseen bigrams); bigrams whose context or word lacks trained
# statistics are skipped and counted (n_oov).
# --------------------------------------------------------------------------
KN_TRAIN_PCT = 80


@register(
    "kneser_ney_perplexity",
    f"""
    WITH d AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS ts,
               (('0x' || substr(md5('kn:' || doc_id), 1, 15))::BIGINT
                % 100) < {KN_TRAIN_PCT} AS tr
        FROM documents
    ),
    bg AS (
        SELECT doc_id, tr,
               unnest(ts[1:len(ts) - 1]) AS a,
               unnest(ts[2:len(ts)]) AS b
        FROM d WHERE len(ts) >= 2
    ),
    cnt AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
        FROM bg WHERE tr GROUP BY a, b
    ),
    ctx AS (
        SELECT a, CAST(SUM(c) AS BIGINT) AS ca,
               CAST(COUNT(*) AS BIGINT) AS cont_a
        FROM cnt GROUP BY a
    ),
    hist AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS hist_b
        FROM cnt GROUP BY b
    ),
    nbt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbt FROM cnt),
    tb AS (
        SELECT doc_id, a, b, CAST(COUNT(*) AS BIGINT) AS n
        FROM bg WHERE NOT tr GROUP BY doc_id, a, b
    ),
    joined AS (
        SELECT tb.doc_id, tb.n,
               ctx.a IS NOT NULL AND hist.b IS NOT NULL AS known,
               CASE WHEN ctx.a IS NOT NULL AND hist.b IS NOT NULL
                    THEN GREATEST(4 * COALESCE(cnt.c, 0) - 3,
                                  CAST(0 AS BIGINT)) * nbt.nbt
                         + 3 * ctx.cont_a * hist.hist_b
               END AS num4,
               CASE WHEN ctx.a IS NOT NULL AND hist.b IS NOT NULL
                    THEN 4 * ctx.ca * nbt.nbt
               END AS den4
        FROM tb
        LEFT JOIN ctx ON ctx.a = tb.a
        LEFT JOIN hist ON hist.b = tb.b
        LEFT JOIN cnt ON cnt.a = tb.a AND cnt.b = tb.b
        CROSS JOIN nbt
    ),
    scored AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN known THEN n ELSE 0 END) AS BIGINT)
                   AS n_bigrams,
               CAST(SUM(CASE WHEN known THEN 0 ELSE n END) AS BIGINT)
                   AS n_oov,
               CAST(SUM(CASE WHEN known THEN
                    n * (CAST(ROUND(log2(den4) * 1000000) AS BIGINT)
                         - CAST(ROUND(log2(num4) * 1000000) AS BIGINT))
                    ELSE 0 END) AS BIGINT) AS nll_micro
        FROM joined GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, n_oov,
           CASE WHEN n_bigrams > 0
                THEN ROUND(nll_micro / (n_bigrams * 1000000.0), 6)
                ELSE 0.0 END AS avg_nll_bits,
           CASE WHEN n_bigrams > 0
                THEN ROUND(POWER(2.0, nll_micro
                                 / (n_bigrams * 1000000.0)), 3)
                ELSE 1.0 END AS ppl
    FROM scored ORDER BY doc_id
    """,
    doc=f"X204 Kneser-Ney bigram perplexity (d=3/4) on the md5 "
        f"{KN_TRAIN_PCT}/20 split: p(b|a) multiplied through by "
        "4*Nbt is an exact integer rational, so surprisal is "
        "l2m(den)-l2m(num) with INTEGER log args and per-doc sums "
        "are BIGINT folds; continuation/history counts give the KN "
        "backoff; OOV-context bigrams skipped and counted.",
    tags=("X204", "X67", "X44", "X18", "X7"),
)
def kneser_ney_perplexity(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("ts"),
        (F.conv(F.substring(
            F.md5(F.concat(F.lit("kn:"),
                           F.col("doc_id").cast("string"))),
            1, 15), 16, 10).cast("long") % 100
         < KN_TRAIN_PCT).alias("tr"))
    bigrams = F.expr(
        "transform(slice(ts, 1, size(ts) - 1), "
        "(t, i) -> struct(t AS a, element_at(ts, i + 2) AS b))")
    bg = persist_tracked(
        d.filter(F.size("ts") >= 2)
        .select("doc_id", "tr", F.explode(bigrams).alias("p"))
        .select("doc_id", "tr", F.col("p.a").alias("a"),
                F.col("p.b").alias("b")))
    cnt = persist_tracked(
        bg.filter("tr").groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("c")))
    ctx = cnt.groupBy("a").agg(
        F.sum("c").cast("long").alias("ca"),
        F.count("*").cast("long").alias("cont_a"))
    hist = cnt.groupBy("b").agg(
        F.count("*").cast("long").alias("hist_b"))
    nbt = cnt.agg(F.count("*").cast("long").alias("nbt"))
    tb = (bg.filter(~F.col("tr"))
          .groupBy("doc_id", "a", "b")
          .agg(F.count("*").cast("long").alias("n")))
    known = F.col("ca").isNotNull() & F.col("hist_b").isNotNull()
    num4 = (F.greatest(4 * F.coalesce("c", F.lit(0)) - 3,
                       F.lit(0).cast("long")) * F.col("nbt")
            + 3 * F.col("cont_a") * F.col("hist_b"))
    den4 = 4 * F.col("ca") * F.col("nbt")

    def l2m(c):
        return F.round(F.log2(c) * 1e6, 0).cast("long")

    joined = (tb.join(ctx, "a", "left")
              .join(hist, "b", "left")
              .join(cnt, ["a", "b"], "left")
              .crossJoin(F.broadcast(nbt)))
    scored = (joined.groupBy("doc_id")
              .agg(F.sum(F.when(known, F.col("n")).otherwise(0))
                   .cast("long").alias("n_bigrams"),
                   F.sum(F.when(known, 0).otherwise(F.col("n")))
                   .cast("long").alias("n_oov"),
                   F.sum(F.when(known,
                                F.col("n") * (l2m(den4) - l2m(num4)))
                         .otherwise(0)).cast("long")
                   .alias("nll_micro")))
    avg = F.col("nll_micro") / (F.col("n_bigrams") * 1e6)
    return (scored.select(
        "doc_id", "n_bigrams", "n_oov",
        F.when(F.col("n_bigrams") > 0, F.round(avg, 6))
        .otherwise(0.0).alias("avg_nll_bits"),
        F.when(F.col("n_bigrams") > 0,
               F.round(F.pow(F.lit(2.0), avg), 3))
        .otherwise(1.0).alias("ppl"))
        .orderBy("doc_id"))


# --------------------------------------------------------------------------
# X215: TextRank keyword extraction — graph-BASED keyword ranking
# (Mihalcea & Tarau): build the word co-occurrence graph (+-2 window),
# run PageRank, read the top words. Complements X135 RAKE (frequency/
# degree scoring) and X100 log-odds (corpus contrast) with the random-
# walk centrality lens. Reuses the X42 integer fixed-point PageRank
# operator verbatim — same SCALE, damping and DIV discipline — over a
# vocabulary bounded to words with count >= TEXTRANK_MIN_COUNT, so
# the graph is vocab-sized, never corpus-sized.
# --------------------------------------------------------------------------
TEXTRANK_MIN_COUNT = 30
TEXTRANK_ITERS = 5
TEXTRANK_TOPK = 20

_TEXTRANK_EDGE_CTE = f"""d AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    tok AS (
        SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
               unnest(toks) AS w
        FROM d
    ),
    vocab AS (
        SELECT w FROM tok GROUP BY w
        HAVING COUNT(*) >= {TEXTRANK_MIN_COUNT}
    ),
    e AS (
        SELECT DISTINCT a.w AS src, b.w AS dst
        FROM tok a
        JOIN (SELECT unnest([-2, -1, 1, 2]) AS off) o ON TRUE
        JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + o.off
        JOIN vocab va ON va.w = a.w
        JOIN vocab vb ON vb.w = b.w
        WHERE a.w <> b.w
    )"""


@register(
    "textrank_keywords",
    G_GRAPH.pagerank_oracle_sql(_TEXTRANK_EDGE_CTE, TEXTRANK_ITERS)
    .replace("SELECT node, pr, d AS degree",
             "SELECT node AS word, pr, d AS degree")
    + f"\nORDER BY pr DESC, word LIMIT {TEXTRANK_TOPK}",
    doc=f"X215 TextRank keywords: integer fixed-point PageRank "
        f"({TEXTRANK_ITERS} iterations, X42 operator) over the +-2-"
        f"window word co-occurrence graph, vocabulary bounded to "
        f"count >= {TEXTRANK_MIN_COUNT} words; top-{TEXTRANK_TOPK} by "
        "rank. The random-walk keyword lens next to RAKE (X135) and "
        "Dirichlet log-odds (X100); graph is vocab x window sized, "
        "never corpus-sized.",
    tags=("X215", "X42", "X18", "X41", "X12"),
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked
    from ..operators import graph as G_OP

    d = _docs(spark, sf_dir)
    tok = persist_tracked(
        d.select("doc_id",
                 F.posexplode(F.split(F.trim(F.lower(F.col("text"))),
                                      r"\s+")).alias("pos0", "w"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "w"))
    vocab = (tok.groupBy("w").agg(F.count("*").alias("c"))
             .filter(F.col("c") >= TEXTRANK_MIN_COUNT).select("w"))
    offs = spark.createDataFrame([(-2,), (-1,), (1,), (2,)], "off INT")
    b = tok.select("doc_id", F.col("pos").alias("bpos"),
                   F.col("w").alias("bw"))
    edges = (tok.crossJoin(F.broadcast(offs))
             .join(b, (b["doc_id"] == tok["doc_id"])
                   & (b["bpos"] == tok["pos"] + F.col("off")))
             .filter(F.col("w") != F.col("bw"))
             .join(vocab.select(F.col("w")), "w")
             .join(vocab.select(F.col("w").alias("bw")), "bw")
             .select(F.col("w").alias("src"), F.col("bw").alias("dst"))
             .distinct())
    pr = G_OP.pagerank_fixed(edges, iters=TEXTRANK_ITERS)
    return (pr.orderBy(F.desc("pr"), F.asc("node"))
            .limit(TEXTRANK_TOPK)
            .select(F.col("node").alias("word"), "pr", "degree"))


# --------------------------------------------------------------------------
# X232: beam-search LM decoding — the width-B generalization of the
# X174 greedy walk: keep the B best-scoring hypotheses per step under
# the bigram log-likelihood instead of one. Scores live on the BIGINT
# micro grid (lp(a->b) = l2m(c_ab) - l2m(tot_a), the X67 discipline),
# hypotheses are ranked (score DESC, sequence ASC) so ties are
# deterministic, and each step is one tiny hash join of the <=B-row
# beam frame against the persisted scored-bigram table — the corpus is
# scanned once, the search never re-reads it. Beams reaching the same
# word via different prefixes stay distinct (textbook beam search, no
# hypothesis recombination). Oracle: the same B-best recursion
# unrolled as a QUALIFY-ranked CTE chain.
# --------------------------------------------------------------------------
BEAM_WIDTH = 4
BEAM_STEPS = 8


def _beam_oracle_sql() -> str:
    steps = []
    prev = "s0"
    for i in range(1, BEAM_STEPS + 1):
        steps.append(f"""s{i} AS (
        SELECT {i} AS step, s.seq || ' ' || bg.b AS seq,
               s.score + bg.lp AS score, bg.b AS last
        FROM {prev} s JOIN bg_lp bg ON bg.a = s.last
        QUALIFY ROW_NUMBER() OVER (ORDER BY s.score + bg.lp DESC,
                                   s.seq || ' ' || bg.b) <= {BEAM_WIDTH}
    )""")
        prev = f"s{i}"
    union = "\nUNION ALL\n".join(
        f"SELECT step, seq, score FROM s{i}"
        for i in range(0, BEAM_STEPS + 1))
    step_ctes = ",\n    ".join(steps)
    return f"""
    WITH d AS (
        SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    bg AS (
        SELECT bg[1] AS a, bg[2] AS b, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(list_transform(
                  range(1, len(toks)),
                  i -> [toks[i], toks[i + 1]])) AS bg
              FROM d)
        GROUP BY bg[1], bg[2]
    ),
    bg_lp AS (
        SELECT a, b,
               CAST(ROUND(log2(c) * 1000000, 0) AS BIGINT)
               - CAST(ROUND(log2(SUM(c) OVER (PARTITION BY a))
                            * 1000000, 0) AS BIGINT) AS lp
        FROM bg
    ),
    uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(toks) AS w FROM d) GROUP BY w
    ),
    s0 AS (
        SELECT 0 AS step, w AS seq, CAST(0 AS BIGINT) AS score, w AS last
        FROM uni ORDER BY n DESC, w LIMIT 1
    ),
    {step_ctes},
    trace AS ({union})
    SELECT CAST(step AS BIGINT) AS step,
           CAST(ROW_NUMBER() OVER (PARTITION BY step
                                   ORDER BY score DESC, seq)
                AS BIGINT) AS rank,
           seq, score AS score_micro
    FROM trace
    """


@register(
    "beam_search_decode",
    _beam_oracle_sql(),
    doc=f"X232 beam-search decoding (width {BEAM_WIDTH}, "
        f"{BEAM_STEPS} steps) from the most frequent seed word under "
        "the bigram LM: per-step B-best by micro-grid log2 conditional "
        "likelihood (ties broken on the sequence string), each step "
        "one <=B-row hash join against the persisted scored-bigram "
        "table. Full trace (step, rank, hypothesis, score) output; "
        "greedy = width-1 special case (law test: top beam's prefix "
        "scores dominate every surviving hypothesis).",
    tags=("X232", "X174", "X67", "X12", "X10"),
)
def beam_search_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..caching import persist_tracked

    d = _docs(spark, sf_dir).select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"))
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1), "
        "i -> struct(toks[i - 1] AS a, toks[i] AS b))")
    bg = (d.filter(F.size("toks") > 1)
          .select(F.explode(bigrams).alias("p"))
          .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
          .agg(F.count("*").cast("long").alias("c")))

    def l2m(col):
        return F.round(F.log2(col) * 1e6, 0).cast("long")

    wa = Window.partitionBy("a")
    bg_lp = persist_tracked(
        bg.select("a", "b",
                  (l2m(F.col("c")) - l2m(F.sum("c").over(wa)))
                  .alias("lp")))
    uni = (d.select(F.explode("toks").alias("w"))
           .groupBy("w").agg(F.count("*").cast("long").alias("n")))
    seed = (uni.orderBy(F.desc("n"), "w").limit(1)
            .select(F.lit(0).alias("step"), F.col("w").alias("seq"),
                    F.lit(0).cast("long").alias("score"),
                    F.col("w").alias("last")))
    frontier = seed.localCheckpoint()
    out = frontier
    for step in range(1, BEAM_STEPS + 1):
        cand = (frontier.join(bg_lp, frontier.last == bg_lp.a)
                .select(F.lit(step).alias("step"),
                        F.concat_ws(" ", "seq", "b").alias("seq"),
                        (F.col("score") + F.col("lp")).alias("score"),
                        F.col("b").alias("last")))
        frontier = (cand.withColumn(
            "rn", F.row_number().over(
                Window.orderBy(F.desc("score"), "seq")))
            .filter(F.col("rn") <= BEAM_WIDTH)
            .drop("rn").localCheckpoint())
        if frontier.isEmpty():
            break
        out = out.unionByName(frontier)
    return out.select(
        F.col("step").cast("long"),
        F.row_number().over(
            Window.partitionBy("step").orderBy(F.desc("score"), "seq"))
        .cast("long").alias("rank"),
        "seq", F.col("score").alias("score_micro"))


# --------------------------------------------------------------------------
# X234: Good-Turing / Chao1 unseen-vocabulary estimation — the
# frequency-of-frequencies diagnostics corpus planning runs before
# committing a tokenizer budget: how much probability mass belongs to
# words never seen (Good-Turing p0 = N1/N), how many types the corpus
# is still hiding (bias-corrected Chao1 richness), and the smoothed
# counts r* = (r+1) N_{r+1} / N_r whose dip below r is the classic
# singleton-noise signature. Everything folds from the word-count
# histogram (one aggregate over token counts — the corpus is scanned
# once, the estimators run on the <=10-row frequency table), all
# ratios floor-divided on the BIGINT micro grid. Complements X178
# Heaps (growth curve) with the capture-theoretic view; Good (1953),
# Chao (1984); [EXT] — the reference tokenizes nothing.
# --------------------------------------------------------------------------
GT_MAX_R = 10


@register(
    "goodturing_vocab",
    f"""
    WITH d AS (
        SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    wc AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(list_transform(
                  range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i + 1] || ' '
                       || toks[i + 2])) AS w
              FROM d WHERE len(toks) >= 3) GROUP BY w
    ),
    fof AS (
        SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
        FROM wc GROUP BY c
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2
        FROM wc
    )
    SELECT f.r, f.n_r,
           CASE WHEN nx.n_r IS NULL THEN NULL
                ELSE CAST(((f.r + 1) * nx.n_r * 1000000) // f.n_r
                          AS BIGINT) END AS rstar_micro,
           t.v AS v_total, t.n AS n_tokens,
           CAST((t.n1 * 1000000) // t.n AS BIGINT) AS p0_micro,
           CAST(t.v * 1000000
                + (t.n1 * (t.n1 - 1) * 1000000) // (2 * (t.n2 + 1))
                AS BIGINT) AS chao1_micro
    FROM fof f
    LEFT JOIN fof nx ON nx.r = f.r + 1
    CROSS JOIN tot t
    WHERE f.r <= {GT_MAX_R}
    """,
    doc=f"X234 Good-Turing / Chao1 vocabulary estimation: "
        "frequency-of-frequencies N_r of word TRIGRAMS (r <= "
        f"{GT_MAX_R}) from one token-count aggregate, smoothed "
        "r* = (r+1)N_(r+1)/N_r, unseen mass p0 = N1/N, bias-corrected "
        "Chao1 = V + N1(N1-1)/(2(N2+1)) — all floor-divided on the "
        "BIGINT micro grid, scalar estimators broadcast onto the "
        "<=10-row histogram frame. Python replay + Chao1>=V + "
        "mass-conservation laws.",
    tags=("X234", "X178", "X166", "X18", "X7"),
)
def goodturing_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"))
    tris = F.expr(
        "transform(sequence(1, size(toks) - 2), "
        "i -> concat_ws(' ', toks[i - 1], toks[i], toks[i + 1]))")
    wc = (d.filter(F.size("toks") >= 3)
          .select(F.explode(tris).alias("w"))
          .groupBy("w").agg(F.count("*").cast("long").alias("c")))
    fof = wc.groupBy(F.col("c").alias("r")) \
        .agg(F.count("*").cast("long").alias("n_r"))
    tot = wc.agg(
        F.count("*").cast("long").alias("v"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long")
        .alias("n2"))
    nx = fof.select((F.col("r") - 1).alias("r"),
                    F.col("n_r").alias("n_next"))
    return (fof.filter(F.col("r") <= GT_MAX_R)
            .join(nx, "r", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "r", "n_r",
                F.expr("CASE WHEN n_next IS NULL THEN NULL ELSE "
                       "CAST(((r + 1) * n_next * 1000000) DIV n_r "
                       "AS BIGINT) END").alias("rstar_micro"),
                F.col("v").alias("v_total"),
                F.col("n").alias("n_tokens"),
                F.expr("(n1 * 1000000) DIV n").cast("long")
                .alias("p0_micro"),
                F.expr("v * 1000000 + (n1 * (n1 - 1) * 1000000) "
                       "DIV (2 * (n2 + 1))").cast("long")
                .alias("chao1_micro")))


# --------------------------------------------------------------------------
# X239: Cavnar-Trenkle rank-order n-gram language ID — the classic
# profile-based language identifier (TextCat): per-language character-
# trigram RANK profiles from a train split, documents classified by
# out-of-place distance (sum over the doc's top-K trigrams of
# |doc_rank - profile_rank|, missing trigram = K penalty), argmin over
# languages. Complements X177 (word-feature naive Bayes) with the
# rank-statistics family — no probabilities anywhere, pure integer
# ranks, so the whole pipeline is exact. Shape at scale: profiles are
# a tiny broadcast (langs x K), doc ranking windows are bounded by
# doc length, and the scoring join is doc-trigrams x langs (linear,
# posting-style). Cavnar & Trenkle (1994); [EXT].
# --------------------------------------------------------------------------
CT_PROFILE_K = 40


@register(
    "langid_rank_profile",
    f"""
    WITH d AS (
        SELECT doc_id, lang, lower(text) AS t,
               doc_id % 2 = 0 AS is_train
        FROM documents WHERE length(text) >= 3
    ),
    grams AS (
        SELECT doc_id, lang, is_train, g
        FROM (SELECT doc_id, lang, is_train,
                     unnest(list_transform(
                         range(1, length(t) - 1),
                         i -> t[i:i + 2])) AS g
              FROM d)
    ),
    prof AS (
        SELECT lang, g,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY cnt DESC, g) AS lr
        FROM (SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM grams WHERE is_train GROUP BY lang, g)
        QUALIFY lr <= {CT_PROFILE_K}
    ),
    langs AS (SELECT DISTINCT lang AS cand FROM prof),
    docprof AS (
        SELECT doc_id, lang AS true_lang, g,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, g) AS dr
        FROM (SELECT doc_id, lang, g, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM grams WHERE NOT is_train GROUP BY doc_id, lang, g)
        QUALIFY dr <= {CT_PROFILE_K}
    ),
    dist AS (
        SELECT dp.doc_id, dp.true_lang, l.cand,
               CAST(SUM(COALESCE(ABS(dp.dr - p.lr),
                                 {CT_PROFILE_K})) AS BIGINT) AS d
        FROM docprof dp CROSS JOIN langs l
        LEFT JOIN prof p ON p.lang = l.cand AND p.g = dp.g
        GROUP BY dp.doc_id, dp.true_lang, l.cand
    ),
    pred AS (
        SELECT doc_id, true_lang, cand AS pred_lang, d
        FROM dist
        QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY d, cand) = 1
    )
    SELECT true_lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d) AS BIGINT) AS total_dist
    FROM pred GROUP BY true_lang, pred_lang
    """,
    doc=f"X239 Cavnar-Trenkle rank-order language ID: per-lang char-"
        f"trigram top-{CT_PROFILE_K} rank profiles from the even-doc "
        "train split, odd docs scored by out-of-place distance "
        f"(missing trigram = {CT_PROFILE_K}), argmin lang (ties "
        "lexicographic); confusion-matrix output with distance mass. "
        "All-integer ranks; bounded per-doc windows, broadcast-size "
        "profiles, linear scoring join. Python replay law.",
    tags=("X239", "X177", "X18", "X11", "X12"),
)
def langid_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..caching import persist_tracked

    d = (_docs(spark, sf_dir)
         .filter(F.length("text") >= 3)
         .select("doc_id", "lang", F.lower(F.col("text")).alias("t"),
                 (F.col("doc_id") % 2 == 0).alias("is_train")))
    grams = d.select(
        "doc_id", "lang", "is_train",
        F.explode(F.expr(
            "transform(sequence(1, length(t) - 2), "
            "i -> substring(t, i, 3))")).alias("g"))
    prof = persist_tracked(
        grams.filter("is_train")
        .groupBy("lang", "g").agg(F.count("*").cast("long").alias("cnt"))
        .withColumn("lr", F.row_number().over(
            Window.partitionBy("lang").orderBy(F.desc("cnt"), "g")))
        .filter(F.col("lr") <= CT_PROFILE_K).select("lang", "g", "lr"))
    langs = prof.select(F.col("lang").alias("cand")).distinct()
    docprof = (grams.filter(~F.col("is_train"))
               .groupBy("doc_id", F.col("lang").alias("true_lang"), "g")
               .agg(F.count("*").cast("long").alias("cnt"))
               .withColumn("dr", F.row_number().over(
                   Window.partitionBy("doc_id")
                   .orderBy(F.desc("cnt"), "g")))
               .filter(F.col("dr") <= CT_PROFILE_K))
    dist = (docprof.crossJoin(F.broadcast(langs))
            .join(F.broadcast(prof),
                  (F.col("lang") == F.col("cand"))
                  & (prof.g == docprof.g), "left")
            .groupBy("doc_id", "true_lang", "cand")
            .agg(F.sum(F.coalesce(F.abs(F.col("dr") - F.col("lr")),
                                  F.lit(CT_PROFILE_K)))
                 .cast("long").alias("d")))
    pred = (dist.withColumn("rn", F.row_number().over(
        Window.partitionBy("doc_id").orderBy("d", "cand")))
        .filter(F.col("rn") == 1))
    return (pred.groupBy("true_lang",
                         F.col("cand").alias("pred_lang"))
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("d").cast("long").alias("total_dist")))


# --------------------------------------------------------------------------
# X274: readability scoring (Flesch-Kincaid grade) — the SURFACE-FORM
# quality axis the existing text-quality gates miss: X44/X67/X204
# score words against corpus language models (which word), X34/X112
# measure repetition/compressibility (how redundant); FK grade
# measures STRUCTURAL complexity (sentence length x syllables/word),
# the curriculum/difficulty signal a pretraining mix planner bins on.
# Syllables use the deterministic vowel-run heuristic (runs of
# [aeiouy], min 1/word) — both engines run the IDENTICAL regex
# pipeline, so counts are exact integers; each document's grade is
# TWO micro-snapped single divisions combined in integer space
# (0.39*W/S + 11.8*syl/W - 15.59, Kincaid 1975). Scale: the per-doc
# map is one pass; output is source-dimension-sized. [EXT]
# --------------------------------------------------------------------------
@register(
    "readability_fk_profile",
    r"""
    WITH per_doc AS (
        SELECT source,
               CAST(GREATEST(len(string_split_regex(trim(lower(text)),
                    '\s+')), 1) AS BIGINT) AS w,
               CAST(GREATEST(length(regexp_replace(text, '[.!?]+', '|',
                        'g'))
                    - length(replace(regexp_replace(text, '[.!?]+',
                        '|', 'g'), '|', '')), 1) AS BIGINT) AS s,
               CAST(list_sum(list_transform(
                    string_split_regex(trim(lower(text)), '\s+'),
                    x -> GREATEST(1,
                         length(regexp_replace(x, '[aeiouy]+', '#',
                             'g'))
                         - length(replace(regexp_replace(x,
                             '[aeiouy]+', '#', 'g'), '#', '')))))
                    AS BIGINT) AS y
        FROM documents
    ),
    graded AS (
        SELECT source, w, s, y,
               CAST(ROUND(CAST(390000 * w AS DOUBLE) / s, 0) AS BIGINT)
               + CAST(ROUND(CAST(11800000 * y AS DOUBLE) / w, 0)
                      AS BIGINT)
               - 15590000 AS grade_micro
        FROM per_doc
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS sum_words,
           CAST(SUM(s) AS BIGINT) AS sum_sentences,
           CAST(SUM(y) AS BIGINT) AS sum_syllables,
           CAST(SUM(grade_micro) AS BIGINT) AS sum_grade_micro,
           CAST(MIN(grade_micro) AS BIGINT) AS min_grade_micro,
           CAST(MAX(grade_micro) AS BIGINT) AS max_grade_micro,
           CAST(ROUND(CAST(SUM(grade_micro) AS DOUBLE) / COUNT(*), 0)
                AS BIGINT) AS mean_grade_micro
    FROM graded GROUP BY source
    """,
    doc="X274 Flesch-Kincaid readability profile per source: words by "
        "whitespace split, sentences as [.!?]+ runs (min 1), "
        "syllables by the deterministic vowel-run heuristic (min "
        "1/word) — identical regex pipeline in both engines, exact "
        "integer counts; per-doc grade = two micro-snapped divisions "
        "combined in integer space (Kincaid 1975); per-source sums, "
        "min/max, and mean from one more snapped division. The "
        "structural-difficulty axis next to X44 (LM fit) and X112 "
        "(compressibility). Python replay + per-word-bound laws.",
    tags=("X274", "X18", "X44", "X14", "X7"),
)
def readability_fk_profile(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    runs = ("length(regexp_replace(x, '[aeiouy]+', '#'))"
            " - length(replace(regexp_replace(x, '[aeiouy]+', '#'),"
            " '#', ''))")
    per_doc = d.select(
        "source",
        F.expr(r"CAST(GREATEST(size(split(trim(lower(text)), '\\s+')),"
               " 1) AS BIGINT)").alias("w"),
        F.expr("CAST(GREATEST(length(regexp_replace(text, '[.!?]+',"
               " '|')) - length(replace(regexp_replace(text, '[.!?]+',"
               " '|'), '|', '')), 1) AS BIGINT)").alias("s"),
        F.expr(r"CAST(aggregate(transform("
               r"split(trim(lower(text)), '\\s+'),"
               f" x -> GREATEST(1, {runs})), 0,"
               " (acc, v) -> acc + v) AS BIGINT)").alias("y"))
    # r7 ADVICE (medium): `390000.0 * w` was DECIMAL in Spark vs
    # DOUBLE in DuckDB — build the dividend in BIGINT and
    # CAST(... AS DOUBLE) so both engines run one IEEE double
    # division (matches mean_grade_micro, which already casts).
    graded = per_doc.selectExpr(
        "source", "w", "s", "y",
        "CAST(ROUND(CAST(390000 * w AS DOUBLE) / s, 0) AS BIGINT)"
        " + CAST(ROUND(CAST(11800000 * y AS DOUBLE) / w, 0) AS BIGINT)"
        " - 15590000 AS grade_micro")
    return (graded.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("w").cast("long").alias("sum_words"),
                 F.sum("s").cast("long").alias("sum_sentences"),
                 F.sum("y").cast("long").alias("sum_syllables"),
                 F.sum("grade_micro").cast("long")
                 .alias("sum_grade_micro"),
                 F.min("grade_micro").cast("long")
                 .alias("min_grade_micro"),
                 F.max("grade_micro").cast("long")
                 .alias("max_grade_micro"),
                 F.expr("CAST(ROUND(CAST(SUM(grade_micro) AS DOUBLE)"
                        " / COUNT(*), 0) AS BIGINT)")
                 .alias("mean_grade_micro")))
