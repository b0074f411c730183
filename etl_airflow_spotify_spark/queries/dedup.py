"""Dedup queries over ``documents`` (X15/X16 + north-star dedup suite).

``near_dup_minhash`` is oracle-checked against an ALL-PAIRS exact-Jaccard
DuckDB query: the Spark side only ever compares LSH candidates, so a pass
proves the banding found every true pair (P(miss) ~ 2e-9 at the j>=0.9
similarity of the planted pairs, 16x4 banding). ``near_dup_simhash``'s
md5 bit source lets its oracle bit-replay the signature exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table, spread
from ..operators import dedup as D
from ..operators import text as T
from ..registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the per-document expression batteries are CPU-bound, so
    # run them at full parallelism even off a single-split test file.
    return spread(load_table(spark, sf_dir, "documents"), "doc_id")


_ALL_PAIRS_JACCARD = """
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, GREATEST(len(ts) - 2, 1)),
                   i -> ts[CAST(i AS INTEGER)] || ' ' ||
                        ts[CAST(i AS INTEGER) + 1] || ' ' ||
                        ts[CAST(i AS INTEGER) + 2])) AS sset
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS ts
              FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
                 GREATEST(len(list_distinct(list_concat(a.sset, b.sset))), 1),
                 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
          GREATEST(len(list_distinct(list_concat(a.sset, b.sset))), 1)
          >= 0.8
"""


@register(
    "near_dup_minhash",
    _ALL_PAIRS_JACCARD,
    doc="MinHash-LSH near-dup pairs (verified Jaccard >= 0.8); oracle is "
        "exhaustive all-pairs Jaccard, so a pass certifies LSH recall.",
    tags=("X16",),
)
def near_dup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_near_duplicates(
        _docs(spark, sf_dir), "doc_id", "text",
        threshold=0.8, shingle_k=3, num_hashes=64, bands=16)


def _simhash_oracle() -> str:
    """Exact DuckDB replay of operators.dedup.with_simhash (md5 bit
    source, bits 0-59 from hex chars 1-15, bits 60-63 from char 16) +
    the 4x16 banding and hamming<=3 verify — generated as 64
    conditional SUMs (one scan over the exploded shingle hashes)
    because DuckDB lacks lateral generate_series over columns. Bit 63
    is set via (1<<62)*(-2): a direct 1<<63 overflows BIGINT."""
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (({'h1' if i < 60 else 'h2'} >> "
        f"{i if i < 60 else i - 60}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64))
    pack = " | ".join(
        ("CASE WHEN b63 > 0 THEN ((1::BIGINT << 62) * (-2)) ELSE 0 END"
         if i == 63 else
         f"CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END")
        for i in range(64))
    bands = " OR ".join(
        f"((a.simhash >> {16 * b}) & 65535) = ((b.simhash >> {16 * b}) & 65535)"
        for b in range(4))
    return f"""
    WITH d AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), '\\s+') AS ts
               FROM documents),
    f AS (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(ts) - 1, 2)),
              i -> array_to_string(ts[i:i + 2], ' ')))) AS t
          FROM d),
    h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h1,
                 ('0x' || substr(md5(t), 16, 1))::BIGINT AS h2 FROM f),
    bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id),
    sh AS (SELECT doc_id, {pack} AS simhash FROM bits)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 AND ({bands})
    """


@register(
    "near_dup_simhash",
    _simhash_oracle(),
    doc="SimHash near-dup candidates (64-bit, 4x16 banding, hamming<=3). "
        "md5 bit source makes the signature bit-replayable by the SQL "
        "oracle (the previous xxhash64 source had no DuckDB twin, "
        "demoting this to a rows-only check); the oracle brute-forces "
        "pairs and applies the identical band-agreement + hamming "
        "predicate, certifying the banded LSH end to end.",
    tags=("X16",),
)
def near_dup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_duplicates(_docs(spark, sf_dir), "doc_id", "text",
                                     max_hamming=3)


@register(
    "ngram_jaccard_blocked",
    """
    WITH ng AS (
        SELECT doc_id, lang, source,
               list_distinct(list_transform(
                   generate_series(1, GREATEST(len(text) - 3, 1)),
                   i -> substr(text, CAST(i AS INTEGER), 4))) AS gset
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.gset, b.gset)) AS DOUBLE) /
                 GREATEST(len(list_distinct(list_concat(a.gset, b.gset))), 1),
                 6) AS jaccard
    FROM ng a
    JOIN ng b ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.gset, b.gset)) AS DOUBLE) /
          GREATEST(len(list_distinct(list_concat(a.gset, b.gset))), 1)
          >= 0.5
    """,
    doc="Char-4-gram Jaccard >= 0.5 within (lang, source) blocks — the "
        "blocking-key pattern: quadratic only inside small blocks.",
    tags=("X16",),
)
def ngram_jaccard_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", "source",
        D.char_ngrams(F.col("text"), 4).alias("gset"))
    a = d.select(F.col("doc_id").alias("id_a"), "lang", "source",
                 F.col("gset").alias("g_a"))
    b = d.select(F.col("doc_id").alias("id_b"), "lang", "source",
                 F.col("gset").alias("g_b"))
    return (
        a.join(b, ["lang", "source"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.round(D.jaccard(F.col("g_a"), F.col("g_b")), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


@register(
    "dedup_exact_groups",
    """
    SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
           COUNT(*) AS n,
           MIN(doc_id) AS keep_id
    FROM documents
    GROUP BY 1
    """,
    doc="Exact-duplicate groups by normalized-md5 fingerprint (hash groupBy).",
    tags=("X15",),
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return D.exact_duplicates(d, "doc_id", T.exact_fingerprint("text"))


# Shared by dedup_cluster_assign (min-label propagation) and
# dedup_cluster_assign_star (large-star/small-star): both must produce
# the exact clustering this recursive-CTE reachability oracle computes.
_CC_ORACLE = """
    WITH RECURSIVE sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, GREATEST(len(ts) - 2, 1)),
                   i -> ts[CAST(i AS INTEGER)] || ' ' ||
                        ts[CAST(i AS INTEGER) + 1] || ' ' ||
                        ts[CAST(i AS INTEGER) + 2])) AS sset
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS ts
              FROM documents)
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
              GREATEST(len(list_distinct(list_concat(a.sset, b.sset))), 1)
              >= 0.8
    ),
    edges AS (
        SELECT id_a, id_b FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ),
    reach(id, lab) AS (
        SELECT DISTINCT id_a, id_a FROM edges
        UNION
        SELECT e.id_b, r.lab FROM reach r JOIN edges e ON e.id_a = r.id
    )
    SELECT id, CAST(MIN(lab) AS BIGINT) AS cluster_id,
           CAST(MIN(lab) = id AS BOOLEAN) AS is_keeper
    FROM reach GROUP BY id
    """


def _near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_near_duplicates(
        _docs(spark, sf_dir), "doc_id", "text",
        threshold=0.8, shingle_k=3, num_hashes=64, bands=16)


@register(
    "dedup_cluster_assign",
    _CC_ORACLE,
    doc="Near-dup pairs -> canonical dedup clusters via iterative "
        "min-label propagation (connected components); keeper = min id "
        "per component. Oracle: exhaustive pairs + recursive-CTE "
        "reachability.",
    tags=("X16", "X15"),
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = D.connected_components(_near_dup_pairs(spark, sf_dir))
    return cc.select(
        "id", "cluster_id",
        (F.col("cluster_id") == F.col("id")).alias("is_keeper"))


@register(
    "dedup_cluster_assign_star",
    _CC_ORACLE,
    doc="Same clustering computed by alternating large-star/small-star "
        "(Kiveris et al. 2014) — the O(log^2 n)-round web-scale "
        "connected-components path, vs label propagation's "
        "diameter-many rounds. Hash-checked against the identical "
        "recursive-CTE reachability oracle as dedup_cluster_assign, so "
        "the two implementations are pinned equivalent.",
    tags=("X30", "X16", "X15"),
)
def dedup_cluster_assign_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = D.connected_components_star(_near_dup_pairs(spark, sf_dir))
    return cc.select(
        "id", "cluster_id",
        (F.col("cluster_id") == F.col("id")).alias("is_keeper"))


def _quality_sql() -> str:
    # single source of truth for the document quality-score SQL (r3
    # advisor: three drifting copies); text.sql_quality_expr owns it
    from .text import sql_quality_expr
    return sql_quality_expr()


def _training_prep_oracle() -> str:
    return f"""
    WITH RECURSIVE base AS (
        SELECT doc_id, source, text, {_quality_sql()} AS quality
        FROM documents
        WHERE lang = 'en' AND {_quality_sql()} >= 0.5
    ),
    exact AS (
        SELECT doc_id, source, text, quality FROM (
            SELECT b.*,
                   MIN(doc_id) OVER (PARTITION BY
                       md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                   ) AS keep_id
            FROM base b)
        WHERE doc_id = keep_id
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, GREATEST(len(ts) - 2, 1)),
                   i -> ts[CAST(i AS INTEGER)] || ' ' ||
                        ts[CAST(i AS INTEGER) + 1] || ' ' ||
                        ts[CAST(i AS INTEGER) + 2])) AS sset
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS ts
              FROM exact)
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
              GREATEST(len(list_distinct(list_concat(a.sset, b.sset))), 1)
              >= 0.8
    ),
    edges AS (
        SELECT id_a, id_b FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ),
    reach(id, lab) AS (
        SELECT DISTINCT id_a, id_a FROM edges
        UNION
        SELECT e.id_b, r.lab FROM reach r JOIN edges e ON e.id_a = r.id
    ),
    drops AS (SELECT id FROM reach GROUP BY id HAVING MIN(lab) <> id)
    SELECT doc_id, source,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{T.BPE_TOKEN_RE}')) AS BIGINT) AS n_bpe_tokens,
           quality
    FROM exact
    WHERE doc_id NOT IN (SELECT id FROM drops)
    """


@register(
    "training_data_prep",
    _training_prep_oracle(),
    doc="End-to-end training-data curation pipeline, hash-checked as one "
        "query: language filter (lang='en') -> quality-score gate "
        "(>=0.5) -> exact dedup (min doc_id per normalized-md5 "
        "fingerprint) -> MinHash-LSH near-dup dedup (clusters via "
        "connected components, keep min id) -> per-doc token stats for "
        "the survivors. Every stage is a shuffle-on-key DataFrame op: "
        "the quality/fingerprint projections are scan-local, dedup "
        "shuffles on fingerprint, LSH shuffles on (band, bucket) — no "
        "all-pairs stage anywhere, so the same plan runs at 100 TB. "
        "Oracle replays the pipeline in DuckDB with exhaustive-pairs "
        "clustering, so a pass also re-proves LSH recall on this slice.",
    tags=("X15", "X16", "X18", "X2"),
)
def training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    t = F.col("text")
    base = (d.filter(F.col("lang") == "en")
             .withColumn("quality", T.quality_score(t))
             .filter(F.col("quality") >= 0.5))
    exact = (base.withColumn("fp", T.exact_fingerprint("text"))
                 .withColumn("keep_id",
                             F.min("doc_id").over(Window.partitionBy("fp")))
                 .filter(F.col("doc_id") == F.col("keep_id")))
    pairs = D.minhash_near_duplicates(
        exact, "doc_id", "text",
        threshold=0.8, shingle_k=3, num_hashes=64, bands=16)
    cc = D.connected_components(pairs)
    drops = cc.filter(F.col("cluster_id") != F.col("id")) \
              .select(F.col("id").alias("doc_id"))
    return (exact.join(drops, "doc_id", "left_anti")
                 .select("doc_id", "source",
                         T.n_tokens(t).alias("n_tokens"),
                         T.n_bpe_tokens(t).alias("n_bpe_tokens"),
                         "quality"))


NGRAM_COVER_N = 8


@register(
    "dup_ngram_coverage",
    f"""
    WITH d AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(toks) - {NGRAM_COVER_N - 2}),
                   i -> ('0x' || substr(md5(array_to_string(
                            toks[i:i + {NGRAM_COVER_N - 1}], ' ')),
                            1, 15))::BIGINT)) AS h
        FROM d WHERE len(toks) >= {NGRAM_COVER_N}
    ),
    counts AS (SELECT h, COUNT(*) AS c FROM sh GROUP BY h),
    pd AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup
        FROM sh JOIN counts USING (h) GROUP BY doc_id
    )
    SELECT d0.doc_id,
           COALESCE(n_shingles, 0) AS n_shingles,
           COALESCE(n_dup, 0) AS n_dup,
           CASE WHEN COALESCE(n_shingles, 0) > 0
                THEN ROUND(n_dup::DOUBLE / n_shingles, 4)
                ELSE 0.0 END AS dup_frac
    FROM documents d0 LEFT JOIN pd USING (doc_id)
    """,
    doc="X36 duplicated-text fraction per doc via corpus-wide repeated "
        "8-gram instances (Lee et al. 2022 exact-substring "
        "approximation): positional shingle hashes -> per-hash counts "
        "-> co-partitioned join back -> per-doc coverage. Count side "
        "is one row per distinct hash, so hot n-grams fan out counts, "
        "never rows.",
    tags=("X36", "X16", "X18"),
)
def dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return D.duplicated_ngram_coverage(d, "doc_id", "text",
                                       n=NGRAM_COVER_N)


# --------------------------------------------------------------------------
# X65: train/test split leakage audit. Near-duplicate pairs that straddle
# dataset splits silently inflate eval numbers; this query surfaces every
# such pair. Splits are a pure md5 function of the id (queries/sampling),
# so labelling the pair list is MAP-ONLY post-processing — no join back
# to the corpus, the only heavy work is the (already-bucketed) LSH.
# --------------------------------------------------------------------------
def _split_case_sql(id_col: str) -> str:
    from .sampling import TRAIN_PCT, VAL_PCT
    b = (f"(('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 15))::BIGINT"
         f" % 100)")
    return (f"CASE WHEN {b} < {TRAIN_PCT} THEN 'train' "
            f"WHEN {b} < {TRAIN_PCT + VAL_PCT} THEN 'val' "
            f"ELSE 'test' END")


@register(
    "split_leakage_audit",
    f"""
    WITH pairs AS ({_ALL_PAIRS_JACCARD}),
    lab AS (
        SELECT id_a, id_b, jaccard,
               {_split_case_sql('id_a')} AS split_a,
               {_split_case_sql('id_b')} AS split_b
        FROM pairs
    )
    SELECT id_a, id_b, jaccard, split_a, split_b
    FROM lab WHERE split_a <> split_b
    """,
    doc="X65 split-leakage audit: MinHash-LSH near-dup pairs (exact "
        "Jaccard >= 0.8 verify) whose two documents land in DIFFERENT "
        "md5 train/val/test splits — the eval-contamination check every "
        "training pipeline needs before trusting held-out metrics. The "
        "oracle is exhaustive all-pairs Jaccard plus the same split "
        "function, so both LSH recall and split assignment are "
        "hash-checked. Split labels are a pure id function: labelling "
        "is map-only on the pair list, no corpus re-join.",
    tags=("X65", "X16", "X28"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sampling import TRAIN_PCT, VAL_PCT, hash_bucket

    def split_of(col: str) -> F.Column:
        b = hash_bucket(F.col(col))
        return (F.when(b < TRAIN_PCT, "train")
                .when(b < TRAIN_PCT + VAL_PCT, "val")
                .otherwise("test"))

    pairs = D.minhash_near_duplicates(
        _docs(spark, sf_dir), "doc_id", "text",
        threshold=0.8, shingle_k=3, num_hashes=64, bands=16)
    return (pairs
            .withColumn("split_a", split_of("id_a"))
            .withColumn("split_b", split_of("id_b"))
            .filter(F.col("split_a") != F.col("split_b"))
            .select("id_a", "id_b", "jaccard", "split_a", "split_b"))


# --------------------------------------------------------------------------
# X84: quality-aware KEEP policy — the step after clustering that
# decides WHICH duplicate survives. Min-id keepers discard the best
# copy whenever a near-dup cluster mixes quality levels; this keeps the
# argmax-quality member instead. Cluster labels come from the same CC;
# the quality argmax is a cluster-keyed window over cluster-cardinality
# rows, never a second corpus shuffle.
# --------------------------------------------------------------------------
from .text import sql_quality_expr as _sql_quality_expr


@register(
    "dedup_keep_best",
    f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, GREATEST(len(ts) - 2, 1)),
                   i -> ts[CAST(i AS INTEGER)] || ' ' ||
                        ts[CAST(i AS INTEGER) + 1] || ' ' ||
                        ts[CAST(i AS INTEGER) + 2])) AS sset
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+') AS ts
              FROM documents)
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
              GREATEST(len(list_distinct(list_concat(a.sset, b.sset))), 1)
              >= 0.8
    ),
    edges AS (
        SELECT id_a, id_b FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ),
    reach(id, lab) AS (
        SELECT DISTINCT id_a, id_a FROM edges
        UNION
        SELECT e.id_b, r.lab FROM reach r JOIN edges e ON e.id_a = r.id
    ),
    cc AS (SELECT id AS doc_id, CAST(MIN(lab) AS BIGINT) AS cluster_id
           FROM reach GROUP BY id),
    q AS (SELECT doc_id, {_sql_quality_expr()} AS quality
          FROM documents),
    ranked AS (
        SELECT cc.cluster_id, cc.doc_id, q.quality,
               ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
                                  ORDER BY q.quality DESC, cc.doc_id)
                   AS rn,
               COUNT(*) OVER (PARTITION BY cc.cluster_id) AS sz
        FROM cc JOIN q USING (doc_id)
    )
    SELECT cluster_id, doc_id AS kept_doc_id, quality AS kept_quality,
           CAST(sz AS BIGINT) AS cluster_size,
           CAST(sz - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rn = 1
    """,
    doc="X84 quality-aware dedup KEEP policy: near-dup clusters (same "
        "MinHash-LSH + CC as dedup_cluster_assign) each keep their "
        "argmax-quality member (rounded-quality + id tiebreak) instead "
        "of the arbitrary min id — the policy that stops dedup from "
        "discarding the cleanest copy. The argmax is a cluster-keyed "
        "window over cluster-cardinality rows; quality scores come "
        "from the established rounded formula, so the oracle replays "
        "pairs, closure, scoring and the pick exactly.",
    tags=("X84", "X16", "X30", "X18", "X12"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    pairs = _near_dup_pairs(spark, sf_dir)
    cc = D.connected_components(pairs.select("id_a", "id_b"))
    q = d.select("doc_id", T.quality_score(F.col("text")).alias("quality"))
    ranked = (cc.select(F.col("id").alias("doc_id"), "cluster_id")
              .join(q, "doc_id"))
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"),
                                                 F.asc("doc_id"))
    sz = Window.partitionBy("cluster_id")
    return (ranked
            .withColumn("rn", F.row_number().over(w))
            .withColumn("sz", F.count("*").over(sz))
            .filter(F.col("rn") == 1)
            .select("cluster_id", F.col("doc_id").alias("kept_doc_id"),
                    F.col("quality").alias("kept_quality"),
                    F.col("sz").cast("long").alias("cluster_size"),
                    (F.col("sz") - 1).cast("long").alias("n_dropped")))


# --------------------------------------------------------------------------
# X101: incremental dedup of a NEW BATCH against an existing corpus —
# the daily-ingest shape at 100 TB: the corpus index (shingle sets +
# LSH bucket rows) is built once and persisted; each increment hashes
# only its own documents and candidates new-vs-(corpus + new) via the
# band-bucket join. Corpus-vs-corpus pairs are NEVER recomputed. The
# oracle is exhaustive all-pairs Jaccard restricted to pairs touching
# the increment (the md5 batch predicate is a pure id function), so
# LSH recall AND the batch split both hash-check.
# --------------------------------------------------------------------------
INCR_NEW_BUCKET = 90  # md5 bucket >= 90 -> the 10% "new batch"


@register(
    "incremental_corpus_dedup",
    f"""
    WITH pairs AS ({_ALL_PAIRS_JACCARD}),
    lab AS (
        SELECT id_a, id_b, jaccard,
               (('0x' || substr(md5(CAST(id_a AS VARCHAR)), 1, 15))::BIGINT
                % 100) >= {INCR_NEW_BUCKET} AS new_a,
               (('0x' || substr(md5(CAST(id_b AS VARCHAR)), 1, 15))::BIGINT
                % 100) >= {INCR_NEW_BUCKET} AS new_b
        FROM pairs
    )
    SELECT id_a, id_b, jaccard,
           CASE WHEN new_a AND new_b THEN 'new_new'
                ELSE 'new_corpus' END AS pair_type
    FROM lab WHERE new_a OR new_b
    """,
    doc="X101 incremental near-dup detection: a deterministic 10% md5 "
        "batch of documents deduped against the persisted corpus "
        "MinHash index (shingles + band buckets built once on the 90% "
        "side). Candidates come from the new side's bucket rows joined "
        "to corpus+new buckets — per-increment cost scales with the "
        "INCREMENT, not the corpus; corpus-vs-corpus pairs are never "
        "touched. Exact-Jaccard verify >= 0.8; pair_type labels "
        "new-vs-corpus vs new-vs-new.",
    tags=("X101", "X16", "X31"),
)
def incremental_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sampling import hash_bucket

    docs = _docs(spark, sf_dir)
    bucket = hash_bucket(F.col("doc_id"))
    corpus = docs.filter(bucket < INCR_NEW_BUCKET)
    new = docs.filter(bucket >= INCR_NEW_BUCKET)
    index = D.build_minhash_index(corpus, "doc_id", "text")
    pairs = D.incremental_near_duplicates(index, new, "doc_id", "text",
                                          threshold=0.8)
    new_a = hash_bucket(F.col("id_a")) >= INCR_NEW_BUCKET
    new_b = hash_bucket(F.col("id_b")) >= INCR_NEW_BUCKET
    return pairs.select(
        "id_a", "id_b", "jaccard",
        F.when(new_a & new_b, "new_new").otherwise("new_corpus")
        .alias("pair_type"))


# --------------------------------------------------------------------------
# X116: dedup threshold sweep — the operating curve (pairs, affected
# docs, dedup rate at jaccard >= 0.7 / 0.8 / 0.9) that picks a
# near-dup threshold, from ONE shingle + LSH candidate pass: banding
# generates candidates once, the exact-Jaccard verify is computed
# once, and each curve point is a filter over the verified pairs —
# the X111 sweep pattern applied to dedup tuning. Thresholds stay
# >= 0.8 because the oracle is exhaustive all-pairs Jaccard: at the
# fixed 16x4 banding the candidate miss probability is (1-j^4)^16 —
# ~2e-4 at j=0.8, but >1% at j=0.7, which would let the oracle count
# pairs the LSH legitimately skips.
# --------------------------------------------------------------------------
SWEEP_THRESHOLDS = (0.8, 0.85, 0.9)


@register(
    "dedup_threshold_sweep",
    f"""
    WITH pairs AS (
        WITH sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, GREATEST(len(ts) - 2, 1)),
                       i -> ts[CAST(i AS INTEGER)] || ' ' ||
                            ts[CAST(i AS INTEGER) + 1] || ' ' ||
                            ts[CAST(i AS INTEGER) + 2])) AS sset
            FROM (SELECT doc_id,
                         string_split_regex(trim(lower(text)), '\\s+') AS ts
                  FROM documents)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
               GREATEST(len(list_distinct(list_concat(a.sset, b.sset))), 1)
                   AS j
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ),
    pts(threshold) AS (VALUES {", ".join(f"({t})" for t in SWEEP_THRESHOLDS)})
    SELECT CAST(pts.threshold AS DOUBLE) AS threshold,
           CAST(COUNT(CASE WHEN p.j >= pts.threshold THEN 1 END)
                AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN p.j >= pts.threshold
                                    THEN p.id_b END) AS BIGINT)
               AS n_docs_droppable
    FROM pts LEFT JOIN pairs p ON p.j >= pts.threshold
    GROUP BY pts.threshold
    """,
    doc="X116 dedup threshold operating curve: verified near-dup pair "
        "and droppable-doc counts at jaccard >= "
        f"{SWEEP_THRESHOLDS} from ONE shingle + MinHash-LSH candidate "
        "pass — each curve point is a filter over the single verified "
        "pair set, never a re-shingle. n_docs_droppable counts higher-"
        "id pair members (the min-id KEEP policy's drop set upper "
        "bound). The tuning sheet that picks a production dedup "
        "threshold.",
    tags=("X116", "X16", "X15"),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = D.minhash_near_duplicates(
        _docs(spark, sf_dir), "doc_id", "text",
        threshold=min(SWEEP_THRESHOLDS), shingle_k=3,
        num_hashes=64, bands=16)
    from ..caching import persist_tracked
    pairs = persist_tracked(pairs)
    pts = None
    for t in SWEEP_THRESHOLDS:
        sub = pairs.filter(F.col("jaccard") >= t)
        row = sub.agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.countDistinct("id_b").cast("long").alias("n_docs_droppable")
        ).select(F.lit(float(t)).alias("threshold"), "n_pairs",
                 "n_docs_droppable")
        pts = row if pts is None else pts.unionByName(row)
    return pts


# --------------------------------------------------------------------------
# X155: set-similarity join via PREFIX FILTERING (PPJoin family) —
# the third classical candidate generator next to LSH banding (X16)
# and sorted neighborhoods (X134), and the only one of the three
# that is LOSSLESS: order every document's shingles by ascending
# global document frequency (rarest first, hash tie-break) and keep
# only the first n - ceil(t*n) + 1 as its "prefix"; any pair with
# Jaccard >= t MUST share a prefix shingle (pigeonhole on the
# (1-t)-fraction a match may miss), so candidates = prefix-token
# equi-join, exact by construction — law-tested equal to the
# all-pairs join. Verification counts intersections for candidate
# pairs only and decides J >= 4/5 by the integer test 9*i >= 4*(na+nb)
# (never a float ratio). df ordering makes prefixes rare tokens, so
# the equi-join fan-out is small exactly where the corpus is big.
# --------------------------------------------------------------------------
PPJ_K = 3          # token-shingle width
PPJ_T_NUM, PPJ_T_DEN = 4, 5  # threshold t = 4/5


def _ppjoin_oracle_sql() -> str:
    k = PPJ_K
    return f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(sg), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id,
                     unnest(list_distinct(list_transform(
                         generate_series(1, GREATEST(len(ts) - {k - 1}, 1)),
                         i -> array_to_string(
                             ts[CAST(i AS INTEGER):CAST(i AS INTEGER) + {k - 1}],
                             ' ')))) AS sg
              FROM (SELECT doc_id,
                           string_split_regex(trim(lower(text)), '\\s+')
                               AS ts
                    FROM documents))
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM sh GROUP BY doc_id),
    df AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY h),
    ranked AS (
        SELECT sh.doc_id, sh.h,
               ROW_NUMBER() OVER (PARTITION BY sh.doc_id
                                  ORDER BY df.df, sh.h) AS rk,
               s.n
        FROM sh JOIN df ON df.h = sh.h
        JOIN sizes s ON s.doc_id = sh.doc_id
    ),
    prefix AS (
        SELECT doc_id, h FROM ranked
        WHERE rk <= n - (({PPJ_T_NUM} * n + {PPJ_T_DEN} - 1)
                         // {PPJ_T_DEN}) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM prefix a JOIN prefix b
          ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS i
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.h = sa.h
        GROUP BY c.id_a, c.id_b
    )
    SELECT t.id_a, t.id_b, t.i AS n_inter,
           na.n AS size_a, nb.n AS size_b,
           ROUND(CAST(t.i AS DOUBLE) / (na.n + nb.n - t.i), 6)
               AS jaccard
    FROM inter t
    JOIN sizes na ON na.doc_id = t.id_a
    JOIN sizes nb ON nb.doc_id = t.id_b
    WHERE ({PPJ_T_DEN} + {PPJ_T_NUM}) * t.i
          >= {PPJ_T_NUM} * (na.n + nb.n)
    """


@register(
    "ppjoin_prefix_similarity",
    _ppjoin_oracle_sql(),
    doc=f"X155 lossless set-similarity join at Jaccard >= "
        f"{PPJ_T_NUM}/{PPJ_T_DEN} via df-ordered prefix filtering "
        f"({PPJ_K}-token shingles): prefixes of size n - ceil(t*n) + 1 "
        "guarantee every qualifying pair shares a prefix shingle "
        "(law-tested equal to the all-pairs join); verification "
        "counts intersections for candidates only and decides by the "
        "integer test (t_den + t_num)*i >= t_num*(na + nb).",
    tags=("X155", "X16", "X3", "X7"),
)
def ppjoin_prefix_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..caching import persist_tracked
    from ..operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    # r9: shared helper — tokens below the spread exchange, shingles
    # above (kills the CollapseProject/InferFiltersFromGenerate
    # double-evaluation and the single-split scan stage).
    sh = persist_tracked(
        D.exploded_token_shingles(d, "doc_id", "text", PPJ_K)
        .select("doc_id",
                F.conv(F.substring(F.md5("sg"), 1, 15), 16, 10)
                .cast("long").alias("h"))
        .distinct())
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    df = sh.groupBy("h").agg(F.count("*").cast("long").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "h")
    ranked = (sh.join(df, "h").join(sizes, "doc_id")
              .withColumn("rk", F.row_number().over(w)))
    prefix = ranked.filter(
        F.col("rk") <= F.col("n")
        - F.expr(f"({PPJ_T_NUM} * n + {PPJ_T_DEN} - 1) "
                 f"div {PPJ_T_DEN}") + 1).select("doc_id", "h")
    a = prefix.select(F.col("doc_id").alias("id_a"), "h")
    b = prefix.select(F.col("doc_id").alias("id_b"), "h")
    cand = (a.join(b, "h").filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    sa = sh.select(F.col("doc_id").alias("id_a"), "h")
    sb = sh.select(F.col("doc_id").alias("id_b2"),
                   F.col("h").alias("hb"))
    inter = (cand.join(sa, "id_a")
             .join(sb, (F.col("id_b") == F.col("id_b2"))
                   & (F.col("h") == F.col("hb")))
             .groupBy("id_a", "id_b")
             .agg(F.count("*").cast("long").alias("n_inter")))
    na = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("n").alias("size_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("n").alias("size_b"))
    return (inter.join(na, "id_a").join(nb, "id_b")
            .filter((PPJ_T_DEN + PPJ_T_NUM) * F.col("n_inter")
                    >= PPJ_T_NUM * (F.col("size_a") + F.col("size_b")))
            .select("id_a", "id_b", "n_inter", "size_a", "size_b",
                    F.round(F.col("n_inter").cast("double")
                            / (F.col("size_a") + F.col("size_b")
                               - F.col("n_inter")), 6)
                    .alias("jaccard")))


# --------------------------------------------------------------------------
# X171: containment join — the ASYMMETRIC sibling of X155's
# resemblance join: C(a -> b) = |a n b| / |a| >= 9/10 finds documents
# mostly CONTAINED in another (templates, quoted excerpts, subset
# crawls) that symmetric Jaccard misses whenever |b| >> |a|. The
# prefix filter adapts: if b covers >= t of a, it can miss at most
# floor((1-t)*n_a) of a's shingles, so a's floor(n_a/10)+1 RAREST
# (df-ordered) shingles must hit b — candidates are a-prefix x b-FULL
# equi-joins (the probe side cannot be prefixed without a size bound;
# df ordering keeps the prefix side rare, which is what bounds the
# fan-out). Verification is candidate-only intersection counting and
# the integer test 10*i >= 9*n_a — never a float ratio. Law-tested
# lossless against the all-pairs join.
# --------------------------------------------------------------------------
CONT_K = 3               # token-shingle width (shares X155's shingling)
CONT_T_NUM, CONT_T_DEN = 9, 10


def _containment_oracle_sql() -> str:
    k = CONT_K
    return f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(sg), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id,
                     unnest(list_distinct(list_transform(
                         generate_series(1, GREATEST(len(ts) - {k - 1}, 1)),
                         i -> array_to_string(
                             ts[CAST(i AS INTEGER):CAST(i AS INTEGER) + {k - 1}],
                             ' ')))) AS sg
              FROM (SELECT doc_id,
                           string_split_regex(trim(lower(text)), '\\s+')
                               AS ts
                    FROM documents))
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM sh GROUP BY doc_id),
    df AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY h),
    ranked AS (
        SELECT sh.doc_id, sh.h,
               ROW_NUMBER() OVER (PARTITION BY sh.doc_id
                                  ORDER BY df.df, sh.h) AS rk,
               s.n
        FROM sh JOIN df ON df.h = sh.h
        JOIN sizes s ON s.doc_id = sh.doc_id
    ),
    prefix AS (
        SELECT doc_id, h FROM ranked
        WHERE rk <= (n - (({CONT_T_NUM} * n + {CONT_T_DEN} - 1)
                          // {CONT_T_DEN})) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM prefix a JOIN sh b
          ON b.h = a.h AND b.doc_id <> a.doc_id
    ),
    inter AS (
        SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS i
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.h = sa.h
        GROUP BY c.id_a, c.id_b
    )
    SELECT t.id_a, t.id_b, t.i AS n_inter,
           na.n AS size_a, nb.n AS size_b,
           ROUND(CAST(t.i AS DOUBLE) / na.n, 6) AS containment,
           ROUND(CAST(t.i AS DOUBLE) / (na.n + nb.n - t.i), 6)
               AS jaccard
    FROM inter t
    JOIN sizes na ON na.doc_id = t.id_a
    JOIN sizes nb ON nb.doc_id = t.id_b
    WHERE {CONT_T_DEN} * t.i >= {CONT_T_NUM} * na.n
    ORDER BY id_a, id_b
    """


@register(
    "containment_subset_join",
    _containment_oracle_sql(),
    doc=f"X171 asymmetric containment join at C = |a n b|/|a| >= "
        f"{CONT_T_NUM}/{CONT_T_DEN}: a-side df-ordered prefix of "
        "floor(n/10)+1 rarest shingles joined against FULL shingle "
        "sets (lossless by pigeonhole on the misses budget; law-tested "
        "vs all-pairs), candidate-only intersection counting, integer "
        "verify 10*i >= 9*n_a. Jaccard reported alongside to show the "
        "pairs resemblance misses.",
    tags=("X171", "X155", "X16", "X3", "X7"),
)
def containment_subset_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..caching import persist_tracked
    from ..operators import dedup as D

    d = load_table(spark, sf_dir, "documents")
    # r9: same helper as ppjoin — see exploded_token_shingles.
    sh = persist_tracked(
        D.exploded_token_shingles(d, "doc_id", "text", CONT_K)
        .select("doc_id",
                F.conv(F.substring(F.md5("sg"), 1, 15), 16, 10)
                .cast("long").alias("h"))
        .distinct())
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    df = sh.groupBy("h").agg(F.count("*").cast("long").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "h")
    ranked = (sh.join(df, "h").join(sizes, "doc_id")
              .withColumn("rk", F.row_number().over(w)))
    prefix = ranked.filter(
        F.col("rk") <= F.col("n")
        - F.expr(f"({CONT_T_NUM} * n + {CONT_T_DEN} - 1) "
                 f"div {CONT_T_DEN}") + 1).select("doc_id", "h")
    a = prefix.select(F.col("doc_id").alias("id_a"), "h")
    b = sh.select(F.col("doc_id").alias("id_b"), "h")
    cand = (a.join(b, "h").filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b").distinct())
    sa = sh.select(F.col("doc_id").alias("id_a"), "h")
    sb = sh.select(F.col("doc_id").alias("id_b"), "h")
    inter = (cand.join(sa, "id_a").join(sb, ["id_b", "h"])
             .groupBy("id_a", "id_b")
             .agg(F.count("*").cast("long").alias("i")))
    na = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("n").alias("size_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("n").alias("size_b"))
    return (inter.join(na, "id_a").join(nb, "id_b")
            .filter(CONT_T_DEN * F.col("i")
                    >= CONT_T_NUM * F.col("size_a"))
            .select("id_a", "id_b", F.col("i").alias("n_inter"),
                    "size_a", "size_b",
                    F.round(F.col("i").cast("double")
                            / F.col("size_a"), 6).alias("containment"),
                    F.round(F.col("i").cast("double")
                            / (F.col("size_a") + F.col("size_b")
                               - F.col("i")), 6).alias("jaccard"))
            .orderBy("id_a", "id_b"))


# --------------------------------------------------------------------------
# X194: winnowing fingerprints (Schleimer/Wilkerson/Aiken — the MOSS
# algorithm) — the POSITION-AWARE near-dup detector the MinHash (X16)
# and SimHash families lack: winnowing guarantees that any shared
# run of at least w+k-1 tokens produces at least one shared selected
# fingerprint (the coverage guarantee plagiarism detection relies
# on). Per doc: md5 hashes of word k-grams at every position, then
# each length-w window selects its MINIMUM hash (ties by position —
# md5 makes real ties negligible); the distinct selected hashes are
# the doc's fingerprint set. Pairing is a hash-join on fingerprints
# with the X16 bucket cap (fingerprints shared by more than
# WIN_MAX_DOCS docs are template noise, dropped — the MOSS "common
# code" rule); overlap scores are exact integer Jaccards.
# --------------------------------------------------------------------------
WIN_K = 4        # k-gram width (words)
WIN_W = 4        # winnowing window (k-gram positions)
WIN_MAX_DOCS = 20
WIN_MIN_SHARED = 3


@register(
    "winnowing_fingerprints",
    f"""
    WITH d AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    gram AS (
        SELECT doc_id, p,
               ('0x' || substr(md5(
                    array_to_string(toks[p:p+{WIN_K}-1], ' ')), 1, 15)
                )::BIGINT AS h,
               len(toks) - {WIN_K} + 1 AS ng
        FROM (SELECT doc_id, toks,
                     unnest(range(1, len(toks) - {WIN_K} + 2)) AS p
              FROM d WHERE len(toks) >= {WIN_K})
    ),
    sel AS (
        SELECT DISTINCT doc_id, mh AS h FROM (
            SELECT doc_id, p, ng,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                                ROWS BETWEEN CURRENT ROW
                                AND {WIN_W - 1} FOLLOWING) AS mh
            FROM gram
        ) WHERE p <= ng - {WIN_W} + 1
    ),
    nfp AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf
        FROM sel GROUP BY doc_id
    ),
    rare AS (
        SELECT h FROM sel GROUP BY h
        HAVING COUNT(*) <= {WIN_MAX_DOCS}
    ),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM sel a JOIN rare r ON r.h = a.h
        JOIN sel b ON b.h = a.h AND b.doc_id > a.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= {WIN_MIN_SHARED}
    )
    SELECT s.doc_a, s.doc_b, s.n_shared, na.nf AS nf_a, nb.nf AS nf_b,
           ROUND(CAST(s.n_shared AS DOUBLE)
                 / (na.nf + nb.nf - s.n_shared), 6) AS jaccard
    FROM shared s JOIN nfp na ON na.doc_id = s.doc_a
    JOIN nfp nb ON nb.doc_id = s.doc_b
    ORDER BY doc_a, doc_b
    """,
    doc=f"X194 winnowing (MOSS) fingerprints: md5 {WIN_K}-gram hashes "
        f"per position, each {WIN_W}-window selects its minimum, "
        "distinct selections form the doc fingerprint set (coverage "
        "guarantee: any shared run of w+k-1 tokens shares a "
        "fingerprint); pairs via fingerprint hash-join with the "
        f"{WIN_MAX_DOCS}-doc template-noise cap; exact integer "
        "Jaccard scores.",
    tags=("X194", "X16", "X36", "X87", "X3"),
)
def winnowing_fingerprints(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from ..caching import persist_tracked

    d = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))),
                          r"\s+").alias("toks"))
    d = d.filter(F.size("toks") >= WIN_K).select(
        "doc_id", "toks",
        (F.size("toks") - WIN_K + 1).alias("ng"))
    gram = d.select(
        "doc_id", "ng",
        F.posexplode(F.transform(
            F.sequence(F.lit(1), F.col("ng")),
            lambda p: F.conv(F.substring(F.md5(F.array_join(
                F.slice(F.col("toks"), p, WIN_K), " ")), 1, 15),
                16, 10).cast("long"))).alias("p0", "h")) \
        .select("doc_id", "ng", (F.col("p0") + 1).alias("p"), "h")
    wwin = (Window.partitionBy("doc_id").orderBy("p")
            .rowsBetween(0, WIN_W - 1))
    sel = persist_tracked(
        gram.withColumn("mh", F.min("h").over(wwin))
        .filter(F.col("p") <= F.col("ng") - WIN_W + 1)
        .select("doc_id", F.col("mh").alias("h"))
        .distinct())
    nfp = sel.groupBy("doc_id").agg(F.count("*").cast("long")
                                    .alias("nf"))
    rare = (sel.groupBy("h").agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") <= WIN_MAX_DOCS).select("h"))
    a = sel.join(rare, "h").select(F.col("doc_id").alias("doc_a"), "h")
    b = sel.select(F.col("doc_id").alias("doc_b"), "h")
    shared = (a.join(b, "h")
              .filter(F.col("doc_b") > F.col("doc_a"))
              .groupBy("doc_a", "doc_b")
              .agg(F.count("*").cast("long").alias("n_shared"))
              .filter(F.col("n_shared") >= WIN_MIN_SHARED))
    return (shared
            .join(nfp.select(F.col("doc_id").alias("doc_a"),
                             F.col("nf").alias("nf_a")), "doc_a")
            .join(nfp.select(F.col("doc_id").alias("doc_b"),
                             F.col("nf").alias("nf_b")), "doc_b")
            .select("doc_a", "doc_b", "n_shared", "nf_a", "nf_b",
                    F.round(F.col("n_shared").cast("double")
                            / (F.col("nf_a") + F.col("nf_b")
                               - F.col("n_shared")), 6)
                    .alias("jaccard"))
            .orderBy("doc_a", "doc_b"))


# --------------------------------------------------------------------------
# X219: MinHash-LSH parameter planner — the tuning tool every near-dup
# pipeline (X16/X84/X101/X116) needs BEFORE committing a (bands, rows)
# choice at 100 TB: for each candidate configuration, the collision
# S-curve p(s) = 1 - (1 - s^r)^b evaluated as SNAPPED integer power
# chains (every multiply re-snapped to the micro grid — identical op
# sequence in both engines, zero libm pow), folded against the
# corpus's OBSERVED candidate-pair similarity histogram (16 md5
# minhashes, estimated Jaccard = matching-signature fraction). Output
# per config: transition points p(0.5)/p(0.75) and the expected
# caught-pair mass — the recall/cost trade the operator buys.
# --------------------------------------------------------------------------
LSHP_K = 3            # shingle length (words)
LSHP_H = 16           # minhash signatures
LSHP_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))


def _pow_snap(x: str, e: int, div: str) -> str:
    p = x
    for _ in range(e - 1):
        p = f"((({p}) * ({x})) {div} 1000000)"
    return f"({p})"


def _scurve(smicro: str, b: int, r: int, div: str) -> str:
    sr = _pow_snap(smicro, r, div)
    q = f"(1000000 - {sr})"
    qq = _pow_snap(q, b, div)
    return f"(1000000 - {qq})"


def _lshp_oracle_sql() -> str:
    mins = ", ".join(
        "MIN(('0x' || substr(md5('mh%d:' || g), 1, 15))::BIGINT) AS m%d"
        % (j, j) for j in range(LSHP_H))
    keycols = ", ".join(
        f"md5('{i}:' || m{4 * i} || ':' || m{4 * i + 1} || ':' "
        f"|| m{4 * i + 2} || ':' || m{4 * i + 3}) AS k{i}"
        for i in range(4))
    keyrows = " UNION ALL ".join(
        f"SELECT doc_id, k{i} AS k FROM keys" for i in range(4))
    eqsum = " + ".join(
        f"CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END"
        for j in range(LSHP_H))
    cfg_rows = []
    for b_, r_ in LSHP_CONFIGS:
        curve = _scurve("CAST(s.s_idx AS BIGINT) * 62500", b_, r_, "//")
        p50 = _scurve("CAST(500000 AS BIGINT)", b_, r_, "//")
        p75 = _scurve("CAST(750000 AS BIGINT)", b_, r_, "//")
        cfg_rows.append(f"""SELECT CAST({b_} AS BIGINT) AS bands,
           CAST({r_} AS BIGINT) AS rows_per_band,
           CAST({p50} AS BIGINT) AS p50_micro,
           CAST({p75} AS BIGINT) AS p75_micro,
           CAST(SUM(s.n) AS BIGINT) AS n_candidates,
           CAST(SUM(s.n * {curve}) // 1000000 AS BIGINT)
               AS est_caught
        FROM hist s""")
    return f"""
    WITH d AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    gram AS (
        SELECT DISTINCT doc_id,
               array_to_string(toks[p:p+{LSHP_K}-1], ' ') AS g
        FROM (SELECT doc_id, toks,
                     unnest(range(1, len(toks) - {LSHP_K} + 2)) AS p
              FROM d WHERE len(toks) >= {LSHP_K})
    ),
    sig AS (SELECT doc_id, {mins} FROM gram GROUP BY doc_id),
    keys AS (SELECT doc_id, {keycols} FROM sig),
    kr AS ({keyrows}),
    cand AS (
        SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        FROM kr a JOIN kr b ON a.k = b.k AND a.doc_id < b.doc_id
    ),
    hist AS (
        SELECT ({eqsum}) AS s_idx, CAST(COUNT(*) AS BIGINT) AS n
        FROM cand c JOIN sig a ON a.doc_id = c.ia
        JOIN sig b ON b.doc_id = c.ib
        GROUP BY 1
    )
    {" UNION ALL ".join(cfg_rows)}
    """


@register(
    "lsh_parameter_planner",
    _lshp_oracle_sql(),
    doc=f"X219 LSH (bands, rows) planner: {LSHP_H} md5 minhash "
        "signatures, banded candidates, observed estimated-Jaccard "
        "histogram, and per-config S-curves p(s) = 1-(1-s^r)^b as "
        "snapped integer power chains (identical multiply/DIV "
        "sequence both engines, no libm pow); outputs p(0.5), "
        "p(0.75) and expected caught-pair mass per configuration — "
        "the recall/cost dial for every near-dup pass. S-curve "
        "monotonicity laws tested.",
    tags=("X219", "X16", "X14", "X7", "X3"),
)
def lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked
    from ..catalog import load_table as _lt

    # r9 optimization (same two Catalyst traps as dup_ngram_coverage):
    # spread BELOW the tokenizer so the single-split scan fans out, and
    # keep the shingle lambda ABOVE the exchange so it references the
    # materialized toks column — collapsed into one Project, the
    # split() is inlined into every lambda element (O(tokens^2)/doc).
    from ..catalog import spread as _spread
    d = _spread(
        _lt(spark, sf_dir, "documents").select(
            "doc_id", F.split(F.trim(F.lower(F.col("text"))),
                              r"\s+").alias("toks")), "doc_id")
    d = d.filter(F.size("toks") >= LSHP_K)
    gram = (d.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(slice(toks, 1, size(toks) - {LSHP_K} + 1), "
            f"(t, i) -> array_join(slice(toks, i + 1, {LSHP_K}), ' '))"))
        .alias("g")).distinct())
    h60 = ("conv(substring(md5(concat('mh{j}:', g)), 1, 15), 16, 10)"
           "::long")
    sig = persist_tracked(gram.groupBy("doc_id").agg(*[
        F.expr(f"MIN(CAST(conv(substring(md5(concat('mh{j}:', g)), "
               f"1, 15), 16, 10) AS BIGINT))").alias(f"m{j}")
        for j in range(LSHP_H)]))
    keys = sig.select("doc_id", *[
        F.md5(F.concat_ws(":", F.lit(str(i)),
                          *[F.col(f"m{4 * i + t}").cast("string")
                            for t in range(4)])).alias(f"k{i}")
        for i in range(4)])
    kr = None
    for i in range(4):
        part = keys.select("doc_id", F.col(f"k{i}").alias("k"))
        kr = part if kr is None else kr.unionByName(part)
    a = kr.select(F.col("doc_id").alias("ia"), "k")
    b = kr.select(F.col("doc_id").alias("ib"), "k")
    cand = (a.join(b, "k").filter(F.col("ia") < F.col("ib"))
            .select("ia", "ib").distinct())
    sa = sig.select(F.col("doc_id").alias("ia"),
                    *[F.col(f"m{j}").alias(f"a{j}")
                      for j in range(LSHP_H)])
    sb = sig.select(F.col("doc_id").alias("ib"),
                    *[F.col(f"m{j}").alias(f"b{j}")
                      for j in range(LSHP_H)])
    eq = sum([F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
              for j in range(LSHP_H)], F.lit(0))
    hist = persist_tracked(
        cand.join(sa, "ia").join(sb, "ib")
        .select(eq.alias("s_idx"))
        .groupBy("s_idx").agg(F.count("*").cast("long").alias("n")))
    out = None
    for b_, r_ in LSHP_CONFIGS:
        curve = _scurve("CAST(s_idx AS BIGINT) * 62500", b_, r_, " DIV ")
        p50 = _scurve("CAST(500000 AS BIGINT)", b_, r_, " DIV ")
        p75 = _scurve("CAST(750000 AS BIGINT)", b_, r_, " DIV ")
        row = hist.agg(
            F.lit(b_).cast("long").alias("bands"),
            F.lit(r_).cast("long").alias("rows_per_band"),
            F.expr(f"CAST({p50} AS BIGINT)").alias("p50_micro"),
            F.expr(f"CAST({p75} AS BIGINT)").alias("p75_micro"),
            F.sum("n").cast("long").alias("n_candidates"),
            F.expr(f"CAST(SUM(n * {curve}) DIV 1000000 AS BIGINT)")
            .alias("est_caught"))
        out = row if out is None else out.unionByName(row)
    return out
