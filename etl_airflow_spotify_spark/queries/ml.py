"""Distributed classical-ML training/evaluation primitives (SURVEY.md
§2.B X125+): operators a training-data platform runs ON the corpus to
fit or score simple models — decision-stump split search, forecast
backtesting — as opposed to the statistics (X56/X60/X80/X81) and
calibration (X76/X90) families that evaluate externally-given scores.

Exactness strategy: every model quantity is derived from integer
counts; the only floating-point steps are single divisions /
multiplications of those identical integers, which IEEE-754 makes
bit-identical on both engines (no transcendental, no order-dependent
float summation). Ordering decisions (argmax over candidate splits)
therefore agree bit-for-bit between Spark and the DuckDB oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from ..registry import register

# --------------------------------------------------------------------------
# X125: decision-stump training — exact exhaustive split search.
# The classic distributed tree-node algorithm (every tree library's
# inner loop): ONE corpus pass builds per-(feature, value) label
# histograms, a per-feature prefix-sum window turns them into
# left/right counts for EVERY candidate threshold at once (never one
# pass per threshold), and the argmin of weighted Gini impurity picks
# the split. Minimizing weighted Gini == maximizing
# score(t) = (posL^2+negL^2)/nL + (posR^2+negR^2)/nR; both engines
# compute that score with the same IEEE divisions of the same BIGINT
# counts, so the argmax (and the reported impurity micro-values) are
# bit-identical — no rounding boundary to straddle. Candidate count is
# bounded by the feature's distinct-value count (<= 50 qty + 11
# discount cells here); corpus size only affects the one histogram
# pass, so the op is map-reduce-shaped at any scale.
# --------------------------------------------------------------------------
STUMP_LABEL = "R"  # predict l_returnflag = 'R'


def _stump_oracle_sql() -> str:
    return f"""
    WITH base AS (
        SELECT CAST(l_quantity AS BIGINT) AS qty,
               CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS disc,
               CASE WHEN l_returnflag = '{STUMP_LABEL}' THEN 1 ELSE 0 END
                   AS pos
        FROM lineitem
    ),
    long AS (
        SELECT 'qty' AS feature, qty AS v, pos FROM base
        UNION ALL
        SELECT 'disc' AS feature, disc AS v, pos FROM base
    ),
    hist AS (
        SELECT feature, v, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS p
        FROM long GROUP BY feature, v
    ),
    cum AS (
        SELECT feature, v,
               SUM(n) OVER (PARTITION BY feature ORDER BY v) AS n_left,
               SUM(p) OVER (PARTITION BY feature ORDER BY v) AS pos_left,
               SUM(n) OVER (PARTITION BY feature) AS n_tot,
               SUM(p) OVER (PARTITION BY feature) AS pos_tot
        FROM hist
    ),
    cand AS (
        SELECT feature, v AS split_at,
               n_left, pos_left,
               n_tot - n_left AS n_right,
               pos_tot - pos_left AS pos_right,
               n_tot, pos_tot,
               (CAST(pos_left * pos_left
                     + (n_left - pos_left) * (n_left - pos_left)
                     AS DOUBLE) / n_left)
               + (CAST(pos_right * pos_right
                       + ((n_tot - n_left) - (pos_tot - pos_left))
                         * ((n_tot - n_left) - (pos_tot - pos_left))
                       AS DOUBLE) / (n_tot - n_left)) AS score
        FROM cum WHERE n_left > 0 AND n_tot - n_left > 0
    ),
    best AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY feature
                                     ORDER BY score DESC, split_at) AS rn
        FROM cand
    )
    SELECT feature, CAST(split_at AS BIGINT) AS split_at,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(pos_left AS BIGINT) AS pos_left,
           CAST(n_right AS BIGINT) AS n_right,
           CAST(pos_right AS BIGINT) AS pos_right,
           CAST(ROUND(1000000.0 * (n_tot - score) / n_tot, 0) AS BIGINT)
               AS gini_micro,
           CAST(ROUND(1000000.0
                      * (n_tot
                         - (CAST(pos_tot * pos_tot
                                 + (n_tot - pos_tot) * (n_tot - pos_tot)
                                 AS DOUBLE) / n_tot))
                      / n_tot, 0) AS BIGINT) AS parent_gini_micro
    FROM best WHERE rn = 1
    """


@register(
    "decision_stump_gini",
    _stump_oracle_sql(),
    doc="X125 exact decision-stump training: exhaustive best-split "
        "search predicting l_returnflag='R' from l_quantity and the "
        "discount percent. One histogram pass per corpus; per-feature "
        "prefix-sum windows evaluate every candidate threshold from "
        "the <=61 histogram cells; argmax of the Gini score "
        "(posL^2+negL^2)/nL + (posR^2+negR^2)/nR — identical IEEE "
        "divisions of identical BIGINT counts on both engines, so the "
        "chosen split and the reported weighted/parent Gini "
        "micro-values are bit-exact. The standard distributed "
        "tree-node step (histogram then split-scan), never "
        "one-pass-per-threshold.",
    tags=("X125", "X7", "X11", "X2"),
)
def decision_stump_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("disc"),
        F.when(F.col("l_returnflag") == STUMP_LABEL, 1).otherwise(0)
        .alias("pos"))
    long_ = base.selectExpr(
        "stack(2, 'qty', qty, 'disc', disc) AS (feature, v)", "pos")
    hist = (long_.groupBy("feature", "v")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("pos").cast("long").alias("p")))
    w_cum = Window.partitionBy("feature").orderBy("v")
    w_all = Window.partitionBy("feature")
    cum = hist.select(
        "feature", "v",
        F.sum("n").over(w_cum).alias("n_left"),
        F.sum("p").over(w_cum).alias("pos_left"),
        F.sum("n").over(w_all).alias("n_tot"),
        F.sum("p").over(w_all).alias("pos_tot"))
    cand = (cum.filter((F.col("n_left") > 0)
                       & (F.col("n_tot") - F.col("n_left") > 0))
            .withColumn("n_right", F.col("n_tot") - F.col("n_left"))
            .withColumn("pos_right", F.col("pos_tot") - F.col("pos_left"))
            .withColumn(
                "score",
                (F.expr("cast(pos_left*pos_left + "
                        "(n_left-pos_left)*(n_left-pos_left) as double)")
                 / F.col("n_left"))
                + (F.expr("cast(pos_right*pos_right + "
                          "(n_right-pos_right)*(n_right-pos_right) "
                          "as double)")
                   / F.col("n_right"))))
    w_best = Window.partitionBy("feature").orderBy(
        F.desc("score"), F.asc("v"))
    return (cand.withColumn("rn", F.row_number().over(w_best))
            .filter(F.col("rn") == 1)
            .select(
                "feature", F.col("v").alias("split_at"),
                "n_left", "pos_left", "n_right", "pos_right",
                F.round(1000000.0 * (F.col("n_tot") - F.col("score"))
                        / F.col("n_tot"), 0).cast("long")
                .alias("gini_micro"),
                F.round(1000000.0
                        * (F.col("n_tot")
                           - (F.expr("cast(pos_tot*pos_tot + "
                                     "(n_tot-pos_tot)*(n_tot-pos_tot) "
                                     "as double)") / F.col("n_tot")))
                        / F.col("n_tot"), 0).cast("long")
                .alias("parent_gini_micro")))


# --------------------------------------------------------------------------
# X137: decision-threshold selection — the step between X92's AUC
# (threshold-free ranking quality) and deployment: pick the operating
# threshold maximizing Youden's J = TPR - FPR (the ROC point farthest
# from chance) and, separately, F1. Exact shape: score histogram
# (one corpus pass, distinct-score cardinality after), suffix-sum
# windows give (TP, FP) at EVERY candidate threshold at once, and the
# Youden argmax runs entirely on BIGINTs via cross-multiplication
# (J * P * N = TP*N - FP*P — no division before the argmax, so no
# float boundary can flip the winner); F1's argmax divides identical
# integers (IEEE-deterministic). Scores are exact price cents.
# --------------------------------------------------------------------------
STUMP_THRESH_LABEL = "R"


def _threshold_oracle_sql() -> str:
    return f"""
    WITH h AS (
        SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l_returnflag = '{STUMP_THRESH_LABEL}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS pos
        FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS p,
                   CAST(SUM(n - pos) AS BIGINT) AS neg
            FROM h),
    cand AS (
        SELECT s,
               SUM(pos) OVER (ORDER BY s DESC) AS tp,
               SUM(n - pos) OVER (ORDER BY s DESC) AS fp
        FROM h
    ),
    scored AS (
        SELECT c.s, c.tp, c.fp, t.p - c.tp AS fn, t.neg - c.fp AS tn,
               c.tp * t.neg - c.fp * t.p AS j_num,
               t.p * t.neg AS j_den,
               2 * c.tp + c.fp + (t.p - c.tp) AS f1_den
        FROM cand c CROSS JOIN tot t
    ),
    keyed AS (
        -- exact f1 ordering key: floor(2*tp*10^18 / f1_den) via
        -- three-level BIGINT long division (q1*10^12 + q2*10^6 + q3);
        -- no float touches the argmax, so no half-ulp can flip it.
        SELECT *,
               CAST((2 * tp * 1000000) // f1_den AS BIGINT) * 1000000000000
             + CAST(((2 * tp * 1000000) % f1_den) * 1000000 // f1_den
                    AS BIGINT) * 1000000
             + CAST((((2 * tp * 1000000) % f1_den) * 1000000 % f1_den)
                    * 1000000 // f1_den AS BIGINT) AS f1_key
        FROM scored
    ),
    youden AS (
        SELECT 'youden' AS criterion, s, tp, fp, fn, tn,
               CAST((2 * 1000000 * j_num + j_den) // (2 * j_den)
                    AS BIGINT) AS metric_micro
        FROM keyed ORDER BY j_num DESC, s LIMIT 1
    ),
    f1best AS (
        SELECT 'f1' AS criterion, s, tp, fp, fn, tn,
               CAST((4 * tp * 1000000 + f1_den) // (2 * f1_den)
                    AS BIGINT) AS metric_micro
        FROM keyed ORDER BY f1_key DESC, s LIMIT 1
    )
    SELECT criterion, s AS threshold_cents,
           -- tp/fp/fn/tn descend from SUM(...) OVER windows, which
           -- DuckDB widens to HUGEINT; Spark emits LongType. CAST in
           -- the final projection so the attested OUTPUT type matches
           -- (values are row counts, tp <= |lineitem| — int64-safe at
           -- any SF; the r5-r8 driver hash-reds were exactly this
           -- uncast HUGEINT, values always matched).
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           metric_micro
    FROM youden
    UNION ALL
    SELECT criterion, s, CAST(tp AS BIGINT), CAST(fp AS BIGINT),
           CAST(fn AS BIGINT), CAST(tn AS BIGINT), metric_micro
    FROM f1best
    """


@register(
    "optimal_threshold_selection",
    _threshold_oracle_sql(),
    doc="X137 operating-threshold selection for the price-cents score "
        "predicting l_returnflag='R': Youden's J argmax runs on the "
        "cross-multiplied BIGINT TP*N - FP*P, and the F1 argmax on "
        "floor(2*tp*10^18/den) built by three-level BIGINT long "
        "division — NO float is ordered on either side (the r5 driver "
        "hash-flip was the float-F1 ORDER BY; X88 discipline applied). "
        "metric_micro is snapped round-half-up in the integer domain, "
        "and (r7) the histogram key itself is the repo-standard "
        "FLOOR(price*100 + 0.5) snap instead of ROUND-on-double. "
        "Score histogram + suffix-sum windows evaluate every candidate "
        "threshold in one pass over the distinct-score table; full "
        "confusion matrix at each winner.",
    tags=("X137", "X92", "X11", "X7", "X12"),
)
def optimal_threshold_selection(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    # r7 hardening (third X137 attempt): the histogram key was the one
    # remaining engine-sensitive expression — ROUND on a parquet DOUBLE
    # is where half-up / half-even / decimal-string conventions can
    # disagree at a boundary cent. Snap with the repo-standard
    # FLOOR(x*100 + 0.5) (prices are positive; FLOOR on a double is
    # correctly-rounded IEEE in both engines), textually identical to
    # the oracle's FLOOR(l_extendedprice * 100 + 0.5).
    h = (load_table(spark, sf_dir, "lineitem")
         .groupBy(F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) "
                         "AS BIGINT)").alias("s"))
         .agg(F.count("*").cast("long").alias("n"),
              F.sum(F.when(F.col("l_returnflag") == STUMP_THRESH_LABEL,
                           1).otherwise(0)).cast("long").alias("pos")))
    tot = h.agg(F.sum("pos").cast("long").alias("p"),
                F.sum(F.col("n") - F.col("pos")).cast("long")
                .alias("neg"))
    w = (Window.orderBy(F.desc("s"))
         .rowsBetween(Window.unboundedPreceding, 0))
    cand = h.select("s", F.sum("pos").over(w).alias("tp"),
                    F.sum(F.col("n") - F.col("pos")).over(w).alias("fp"))
    scored = (cand.crossJoin(F.broadcast(tot))
              .select("s", "tp", "fp",
                      (F.col("p") - F.col("tp")).alias("fn"),
                      (F.col("neg") - F.col("fp")).alias("tn"),
                      (F.col("tp") * F.col("neg")
                       - F.col("fp") * F.col("p")).alias("j_num"),
                      (F.col("p") * F.col("neg")).alias("j_den"),
                      (2 * F.col("tp") + F.col("fp")
                       + (F.col("p") - F.col("tp"))).alias("f1_den")))
    # Exact f1 ordering key: floor(2*tp*10^18 / f1_den) by three-level
    # BIGINT long division — every argmax stays in the integer domain.
    keyed = scored.withColumn(
        "f1_key",
        F.expr("((2*tp*1000000) DIV f1_den) * 1000000000000"
               " + (((2*tp*1000000) % f1_den) * 1000000 DIV f1_den)"
               "   * 1000000"
               " + ((((2*tp*1000000) % f1_den) * 1000000 % f1_den)"
               "    * 1000000 DIV f1_den)"))
    youden = (keyed.orderBy(F.desc("j_num"), F.asc("s")).limit(1)
              .select(F.lit("youden").alias("criterion"),
                      F.col("s").alias("threshold_cents"),
                      "tp", "fp", "fn", "tn",
                      F.expr("(2*1000000*j_num + j_den) DIV (2*j_den)")
                      .cast("long").alias("metric_micro")))
    f1best = (keyed.orderBy(F.desc("f1_key"), F.asc("s")).limit(1)
              .select(F.lit("f1").alias("criterion"),
                      F.col("s").alias("threshold_cents"),
                      "tp", "fp", "fn", "tn",
                      F.expr("(4*tp*1000000 + f1_den) DIV (2*f1_den)")
                      .cast("long").alias("metric_micro")))
    return youden.unionByName(f1best)


# --------------------------------------------------------------------------
# X142: bagged ensemble training + out-of-bag evaluation — random-
# forest mechanics on the X125 stump learner, fully deterministic:
# bag membership is an md5 coin per (row, bag) (p = 63/100,
# approximating bootstrap's 1 - 1/e inclusion), so both engines grow
# IDENTICAL forests and score the IDENTICAL OOB set — the free
# validation estimate bagging is loved for, no holdout split needed.
# Training is ONE pass: membership explode -> per-(bag, feature,
# value) histogram -> per-bag prefix-window split scan (same
# integer-exact Gini argmax as X125). OOB scoring fans each row out
# to the BAGS stump rows (a broadcast of BAGS constants), votes with
# an integer majority rule, and folds accuracy as BIGINT counts.
# --------------------------------------------------------------------------
FOREST_BAGS = 8
FOREST_BAG_PCT = 63


def _forest_oracle_sql() -> str:
    return f"""
    WITH base AS (
        SELECT CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) AS rid,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS disc,
               CASE WHEN l_returnflag = '{STUMP_LABEL}' THEN 1 ELSE 0 END
                   AS pos
        FROM lineitem
    ),
    bags AS (SELECT UNNEST(generate_series(0, {FOREST_BAGS - 1})) AS bag),
    member AS (
        SELECT b.bag, base.*
        FROM base CROSS JOIN bags b
        WHERE (('0x' || substr(md5('bag' || b.bag || ':' || base.rid),
                               1, 15))::BIGINT % 100) < {FOREST_BAG_PCT}
    ),
    long AS (
        SELECT bag, 'qty' AS feature, qty AS v, pos FROM member
        UNION ALL
        SELECT bag, 'disc', disc, pos FROM member
    ),
    hist AS (
        SELECT bag, feature, v, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS p
        FROM long GROUP BY 1, 2, 3
    ),
    cum AS (
        SELECT bag, feature, v,
               SUM(n) OVER (PARTITION BY bag, feature ORDER BY v)
                   AS n_left,
               SUM(p) OVER (PARTITION BY bag, feature ORDER BY v)
                   AS pos_left,
               SUM(n) OVER (PARTITION BY bag, feature) AS n_tot,
               SUM(p) OVER (PARTITION BY bag, feature) AS pos_tot
        FROM hist
    ),
    cand AS (
        SELECT bag, feature, v,
               n_left, pos_left,
               n_tot - n_left AS n_right,
               pos_tot - pos_left AS pos_right,
               (CAST(pos_left * pos_left
                     + (n_left - pos_left) * (n_left - pos_left)
                     AS DOUBLE) / n_left)
               + (CAST((pos_tot - pos_left) * (pos_tot - pos_left)
                       + ((n_tot - n_left) - (pos_tot - pos_left))
                         * ((n_tot - n_left) - (pos_tot - pos_left))
                       AS DOUBLE) / (n_tot - n_left)) AS score
        FROM cum WHERE n_left > 0 AND n_tot - n_left > 0
    ),
    stumps AS (
        SELECT bag, feature, v AS split_at,
               CASE WHEN pos_left * 2 > n_left THEN 1 ELSE 0 END
                   AS left_pred,
               CASE WHEN pos_right * 2 > n_right THEN 1 ELSE 0 END
                   AS right_pred
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY bag
                                           ORDER BY score DESC,
                                                    feature, v) AS rn
              FROM cand)
        WHERE rn = 1
    ),
    votes AS (
        SELECT base.rid, base.pos,
               CAST(COUNT(*) AS BIGINT) AS n_votes,
               CAST(SUM(CASE WHEN (CASE WHEN s.feature = 'qty'
                                        THEN base.qty ELSE base.disc END)
                                  <= s.split_at
                             THEN s.left_pred ELSE s.right_pred END)
                    AS BIGINT) AS votes1
        FROM base CROSS JOIN stumps s
        WHERE (('0x' || substr(md5('bag' || s.bag || ':' || base.rid),
                               1, 15))::BIGINT % 100) >= {FOREST_BAG_PCT}
        GROUP BY base.rid, base.pos
    ),
    oob AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS oob_n,
               CAST(SUM(CASE WHEN (CASE WHEN votes1 * 2 > n_votes
                                        THEN 1 ELSE 0 END) = pos
                             THEN 1 ELSE 0 END) AS BIGINT) AS oob_correct
        FROM votes
    )
    SELECT s.bag, s.feature, s.split_at, s.left_pred, s.right_pred,
           o.oob_n, o.oob_correct,
           ROUND(CAST(o.oob_correct AS DOUBLE) / o.oob_n, 6) AS oob_acc
    FROM stumps s CROSS JOIN oob o
    """


@register(
    "bagged_stump_forest",
    _forest_oracle_sql(),
    doc=f"X142 bagged stump forest ({FOREST_BAGS} bags, "
        f"{FOREST_BAG_PCT}% deterministic md5 inclusion) with "
        "out-of-bag accuracy: one membership-exploded histogram pass "
        "trains every bag's stump simultaneously (per-bag prefix "
        "windows, integer-exact Gini argmax), OOB rows vote by "
        "integer majority against the stumps they never trained on. "
        "The forest, its per-bag splits, and the OOB estimate are "
        "bit-identical across engines.",
    tags=("X142", "X125", "X7", "X11", "X14"),
)
def bagged_stump_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    # Round-6 re-plan (r5 verdict perf-watch item): the BAGS-way
    # membership explode (and the BAGS-way OOB crossJoin) are gone.
    # Membership bits m_k are computed ONCE per row (one md5 per bag);
    # training folds them as 2*BAGS conditional aggregates per
    # (feature, value) and unpivots the dimension-sized histogram;
    # OOB voting reuses the SAME bits (oob_k = 1 - m_k) against the
    # collected BOUNDED model (BAGS rows), so no row is ever fanned
    # out and the pointless per-rid shuffle (rid is unique) is gone.
    mcols = [
        F.expr(f"CASE WHEN CAST(conv(substring(md5(concat('bag{k}:', "
               f"rid)), 1, 15), 16, 10) AS BIGINT) % 100 "
               f"< {FOREST_BAG_PCT} THEN 1 ELSE 0 END")
        .alias(f"m_{k}") for k in range(FOREST_BAGS)]
    # repartition before the BAGS md5s per row: a tiny parquet arrives
    # as 1-3 splits, which would serialize the hash work on a few
    # cores (at real scale the scan provides the parallelism itself)
    base = persist_tracked(li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
        .alias("rid"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("disc"),
        F.when(F.col("l_returnflag") == STUMP_LABEL, 1).otherwise(0)
        .alias("pos"))
        .repartition(spark.sparkContext.defaultParallelism)
        .select("*", *mcols))
    long_ = base.selectExpr(
        "stack(2, 'qty', qty, 'disc', disc) AS (feature, v)", "pos",
        *[f"m_{k}" for k in range(FOREST_BAGS)])
    aggs = []
    for k in range(FOREST_BAGS):
        aggs.append(F.sum(f"m_{k}").cast("long").alias(f"n_{k}"))
        aggs.append(F.sum(F.col(f"m_{k}") * F.col("pos")).cast("long")
                    .alias(f"p_{k}"))
    histw = long_.groupBy("feature", "v").agg(*aggs)
    stack_args = ", ".join(
        f"{k}L, n_{k}, p_{k}" for k in range(FOREST_BAGS))
    # filter n > 0 keeps exactly the rows the exploded plan produced
    hist = (histw.selectExpr(
        "feature", "v",
        f"stack({FOREST_BAGS}, {stack_args}) AS (bag, n, p)")
        .filter(F.col("n") > 0))
    w_cum = Window.partitionBy("bag", "feature").orderBy("v")
    w_all = Window.partitionBy("bag", "feature")
    cum = hist.select(
        "bag", "feature", "v",
        F.sum("n").over(w_cum).alias("n_left"),
        F.sum("p").over(w_cum).alias("pos_left"),
        F.sum("n").over(w_all).alias("n_tot"),
        F.sum("p").over(w_all).alias("pos_tot"))
    cand = (cum.filter((F.col("n_left") > 0)
                       & (F.col("n_tot") - F.col("n_left") > 0))
            .withColumn("n_right", F.col("n_tot") - F.col("n_left"))
            .withColumn("pos_right",
                        F.col("pos_tot") - F.col("pos_left"))
            .withColumn(
                "score",
                (F.expr("cast(pos_left*pos_left + "
                        "(n_left-pos_left)*(n_left-pos_left) as double)")
                 / F.col("n_left"))
                + (F.expr("cast(pos_right*pos_right + "
                          "(n_right-pos_right)*(n_right-pos_right) "
                          "as double)") / F.col("n_right"))))
    w_best = Window.partitionBy("bag").orderBy(
        F.desc("score"), F.asc("feature"), F.asc("v"))
    stumps = (cand.withColumn("rn", F.row_number().over(w_best))
              .filter(F.col("rn") == 1)
              .select("bag", "feature", F.col("v").alias("split_at"),
                      F.when(F.col("pos_left") * 2 > F.col("n_left"), 1)
                      .otherwise(0).alias("left_pred"),
                      F.when(F.col("pos_right") * 2 > F.col("n_right"), 1)
                      .otherwise(0).alias("right_pred")))
    # The model is BOUNDED (FOREST_BAGS rows) — collect it and inline
    # each stump as constants; every row then computes its OOB votes
    # in one projection from the SAME m_k bits that trained the
    # forest (oob_k = 1 - m_k), so no row is fanned out BAGS-way.
    # The (rid, pos) grouping is LOAD-BEARING: the synthetic lineitem
    # carries duplicate (orderkey, linenumber) pairs, and the spec
    # (like the oracle) pools their votes per key.
    model = {r["bag"]: r for r in stumps.collect()}
    n_terms, v_terms = [], []
    for k in range(FOREST_BAGS):
        r = model[k]
        fv = "qty" if r["feature"] == "qty" else "disc"
        pred = (f"(CASE WHEN {fv} <= {r['split_at']} "
                f"THEN {r['left_pred']} ELSE {r['right_pred']} END)")
        n_terms.append(f"(1 - m_{k})")
        v_terms.append(f"(1 - m_{k}) * {pred}")
    votes = (base.selectExpr(
        "rid", "pos",
        f"CAST({' + '.join(n_terms)} AS BIGINT) AS nv",
        f"CAST({' + '.join(v_terms)} AS BIGINT) AS v1")
        .groupBy("rid", "pos")
        .agg(F.sum("nv").cast("long").alias("n_votes"),
             F.sum("v1").cast("long").alias("votes1"))
        .filter(F.col("n_votes") > 0))
    oob = votes.agg(
        F.count("*").cast("long").alias("oob_n"),
        F.sum(F.when(
            (F.when(F.col("votes1") * 2 > F.col("n_votes"), 1)
             .otherwise(0)) == F.col("pos"), 1).otherwise(0))
        .cast("long").alias("oob_correct"))
    return (stumps.crossJoin(F.broadcast(oob))
            .select("bag", "feature", "split_at", "left_pred",
                    "right_pred", "oob_n", "oob_correct",
                    F.round(F.col("oob_correct").cast("double")
                            / F.col("oob_n"), 6).alias("oob_acc")))


# --------------------------------------------------------------------------
# X143: L2 gradient boosting, two stages of regression stumps — the
# additive-model step beyond X125's classifier: stage 1 fits price
# cents from (qty, disc) by the exact SSE-optimal stump (argmax of
# (sum_yL)^2/nL + (sum_yR)^2/nR over histogram prefix sums — the
# regression twin of the Gini scan), stage 2 fits the INTEGER
# residuals, predictions add. Leaf values are ROUND(sum/n) on
# IEEE-identical doubles of exact integer sums; SSE folds in
# DECIMAL(38,0) (Spark decimal sum == DuckDB HUGEINT — no BIGINT
# overflow at any SF, no float summation anywhere). The boosting
# invariant MSE(stage0) >= MSE(1) >= MSE(2) is law-tested. Three
# corpus passes total (one histogram per stage + one final scoring
# scan); each stage's model is a 1-row bounded collect.
# --------------------------------------------------------------------------
BOOST_STAGES = 2


def _boost_stage_sql(y_expr: str, stage: int) -> str:
    """CTE block choosing the SSE-optimal stump for ``y_expr`` (an
    integer expression over base) — emits s{stage} (1 row: feature,
    split_at, leaf_lo, leaf_hi)."""
    return f"""
    long{stage} AS (
        SELECT 'qty' AS feature, qty AS v, {y_expr} AS y FROM base
        UNION ALL
        SELECT 'disc', disc, {y_expr} FROM base
    ),
    hist{stage} AS (
        SELECT feature, v, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy
        FROM long{stage} GROUP BY 1, 2
    ),
    cum{stage} AS (
        SELECT feature, v,
               SUM(n) OVER (PARTITION BY feature ORDER BY v) AS nl,
               SUM(sy) OVER (PARTITION BY feature ORDER BY v) AS syl,
               SUM(n) OVER (PARTITION BY feature) AS nt,
               SUM(sy) OVER (PARTITION BY feature) AS syt
        FROM hist{stage}
    ),
    s{stage} AS (
        SELECT feature, v AS split_at,
               CAST(ROUND(CAST(syl AS DOUBLE) / nl, 0) AS BIGINT)
                   AS leaf_lo,
               CAST(ROUND(CAST(syt - syl AS DOUBLE) / (nt - nl), 0)
                    AS BIGINT) AS leaf_hi
        FROM (SELECT *,
                     ROW_NUMBER() OVER (ORDER BY
                         (CAST(syl AS DOUBLE) * syl / nl)
                         + (CAST(syt - syl AS DOUBLE) * (syt - syl)
                            / (nt - nl)) DESC,
                         feature, v) AS rn
              FROM cum{stage}
              WHERE nl > 0 AND nt - nl > 0)
        WHERE rn = 1
    )"""


def _boost_oracle_sql() -> str:
    pred1 = """(SELECT CASE WHEN (CASE WHEN s1.feature = 'qty'
                                  THEN base.qty ELSE base.disc END)
                            <= s1.split_at
                       THEN s1.leaf_lo ELSE s1.leaf_hi END FROM s1)"""
    pred2 = """(SELECT CASE WHEN (CASE WHEN s2.feature = 'qty'
                                  THEN base.qty ELSE base.disc END)
                            <= s2.split_at
                       THEN s2.leaf_lo ELSE s2.leaf_hi END FROM s2)"""
    return f"""
    WITH base AS (
        SELECT CAST(l_quantity AS BIGINT) AS qty,
               CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS disc,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
        FROM lineitem
    ),
    {_boost_stage_sql("y", 1).lstrip()},
    {_boost_stage_sql(f"y - {pred1}", 2).lstrip()},
    mean AS (SELECT CAST(ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 0)
                         AS BIGINT) AS m,
                    CAST(COUNT(*) AS BIGINT) AS n
             FROM base),
    scored AS (
        SELECT y, (SELECT m FROM mean) AS p0,
               {pred1} AS p1,
               {pred1} + {pred2} AS p12
        FROM base
    ),
    mse AS (
        SELECT CAST(ROUND(CAST(SUM(CAST((y - p0) * (y - p0)
                                        AS HUGEINT)) AS DOUBLE)
                          / COUNT(*), 0) AS BIGINT) AS mse0,
               CAST(ROUND(CAST(SUM(CAST((y - p1) * (y - p1)
                                        AS HUGEINT)) AS DOUBLE)
                          / COUNT(*), 0) AS BIGINT) AS mse1,
               CAST(ROUND(CAST(SUM(CAST((y - p12) * (y - p12)
                                        AS HUGEINT)) AS DOUBLE)
                          / COUNT(*), 0) AS BIGINT) AS mse2
        FROM scored
    )
    SELECT 0 AS stage, 'mean' AS feature,
           CAST(NULL AS BIGINT) AS split_at,
           (SELECT m FROM mean) AS leaf_lo, (SELECT m FROM mean)
               AS leaf_hi,
           (SELECT mse0 FROM mse) AS mse_cents2
    UNION ALL
    SELECT 1, feature, split_at, leaf_lo, leaf_hi,
           (SELECT mse1 FROM mse)
    FROM s1
    UNION ALL
    SELECT 2, feature, split_at, leaf_lo, leaf_hi,
           (SELECT mse2 FROM mse)
    FROM s2
    ORDER BY stage
    """


@register(
    "boosted_stumps_l2",
    _boost_oracle_sql(),
    doc="X143 two-stage L2 gradient boosting with regression stumps "
        "on price cents: per-stage SSE-optimal split via histogram "
        "prefix sums (regression twin of the X125 Gini scan), integer "
        "residual handoff, additive prediction. SSE folds in "
        "DECIMAL(38,0)/HUGEINT so no float summation or BIGINT "
        "overflow exists at any scale; per-stage MSE is the lone "
        "division. Law-pinned: MSE never increases across stages.",
    tags=("X143", "X125", "X60", "X7", "X11"),
)
def boosted_stumps_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    base = persist_tracked(li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("disc"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        .alias("y")))

    def fit_stump(df, y_col):
        long_ = df.selectExpr(
            "stack(2, 'qty', qty, 'disc', disc) AS (feature, v)",
            f"{y_col} AS y")
        hist = (long_.groupBy("feature", "v")
                .agg(F.count("*").cast("long").alias("n"),
                     F.sum("y").cast("long").alias("sy")))
        w_cum = Window.partitionBy("feature").orderBy("v")
        w_all = Window.partitionBy("feature")
        cum = hist.select(
            "feature", "v",
            F.sum("n").over(w_cum).alias("nl"),
            F.sum("sy").over(w_cum).alias("syl"),
            F.sum("n").over(w_all).alias("nt"),
            F.sum("sy").over(w_all).alias("syt"))
        cand = cum.filter((F.col("nl") > 0)
                          & (F.col("nt") - F.col("nl") > 0))
        score = (F.col("syl").cast("double") * F.col("syl")
                 / F.col("nl")
                 + (F.col("syt") - F.col("syl")).cast("double")
                 * (F.col("syt") - F.col("syl"))
                 / (F.col("nt") - F.col("nl")))
        best = (cand.withColumn(
            "rn", F.row_number().over(
                Window.orderBy(score.desc(), F.asc("feature"),
                               F.asc("v"))))
            .filter(F.col("rn") == 1)
            .select("feature", F.col("v").alias("split_at"),
                    F.round(F.col("syl").cast("double") / F.col("nl"), 0)
                    .cast("long").alias("leaf_lo"),
                    F.round((F.col("syt") - F.col("syl")).cast("double")
                            / (F.col("nt") - F.col("nl")), 0)
                    .cast("long").alias("leaf_hi"))
            .collect()[0])
        return best

    def pred_expr(s):
        fv = F.when(F.lit(s["feature"]) == "qty", F.col("qty")) \
            .otherwise(F.col("disc"))
        return F.when(fv <= s["split_at"], F.lit(s["leaf_lo"])) \
            .otherwise(F.lit(s["leaf_hi"]))

    s1 = fit_stump(base, "y")
    with_p1 = base.withColumn("p1", pred_expr(s1))
    s2 = fit_stump(with_p1.withColumn("r", F.col("y") - F.col("p1"))
                   .select("qty", "disc", F.col("r")), "r")
    mean_row = base.agg(
        F.round(F.sum("y").cast("double") / F.count("*"), 0)
        .cast("long").alias("m")).collect()[0]
    m = mean_row["m"]
    scored = with_p1.withColumn("p12", F.col("p1") + pred_expr(s2))

    def mse(col):
        d = (F.col("y") - F.col(col)).cast("decimal(38,0)")
        return F.round(F.sum(d * d).cast("double") / F.count("*"), 0) \
            .cast("long")

    mrow = (scored.withColumn("p0", F.lit(m))
            .agg(mse("p0").alias("mse0"), mse("p1").alias("mse1"),
                 mse("p12").alias("mse2")).collect()[0])
    rows = [
        (0, "mean", None, m, m, mrow["mse0"]),
        (1, s1["feature"], s1["split_at"], s1["leaf_lo"], s1["leaf_hi"],
         mrow["mse1"]),
        (2, s2["feature"], s2["split_at"], s2["leaf_lo"], s2["leaf_hi"],
         mrow["mse2"]),
    ]
    return spark.createDataFrame(
        rows, "stage INT, feature STRING, split_at BIGINT, "
              "leaf_lo BIGINT, leaf_hi BIGINT, mse_cents2 BIGINT")


# --------------------------------------------------------------------------
# X146: causal standardization (the g-formula) — the confounder-
# adjusted treatment-effect estimate X56's CUPED doesn't give you:
# ATE = sum_s (n_s / n) * (ybar_treated,s - ybar_control,s), adjusting
# the discount -> quantity effect for brand composition. Exactness:
# per-stratum means divide exact BIGINT sums (IEEE-identical), each
# stratum's weighted term snaps to a 1e-6 integer grid BEFORE the
# cross-stratum fold, so the final sum is BIGINT — no float summation
# across strata, no order dependence. One scan, one (stratum,
# treatment) aggregate; strata table is group-cardinality. Also
# reports the UNADJUSTED difference so the confounding gap is
# visible.
# --------------------------------------------------------------------------
ATE_TREAT_PCT = 5  # treated = discount >= 5%


def _gformula_oracle_sql() -> str:
    return f"""
    WITH base AS (
        SELECT p.p_brand AS s,
               CASE WHEN l.l_discount >= {ATE_TREAT_PCT} / 100.0
                    THEN 1 ELSE 0 END AS t,
               CAST(l.l_quantity AS BIGINT) AS y
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    cell AS (
        SELECT s, t, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy
        FROM base GROUP BY s, t
    ),
    strata AS (
        SELECT s,
               CAST(SUM(n) AS BIGINT) AS n_s,
               CAST(SUM(CASE WHEN t = 1 THEN n END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN t = 1 THEN sy END) AS BIGINT) AS sy1,
               CAST(SUM(CASE WHEN t = 0 THEN n END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN t = 0 THEN sy END) AS BIGINT) AS sy0
        FROM cell GROUP BY s
        HAVING SUM(CASE WHEN t = 1 THEN n END) > 0
           AND SUM(CASE WHEN t = 0 THEN n END) > 0
    ),
    terms AS (
        SELECT s, n_s, n1, n0,
               CAST(ROUND(1000000.0 * n_s
                          * (CAST(sy1 AS DOUBLE) / n1
                             - CAST(sy0 AS DOUBLE) / n0), 0) AS BIGINT)
                   AS term_micro
        FROM strata
    ),
    tot AS (
        SELECT CAST(SUM(n_s) AS BIGINT) AS n,
               CAST(SUM(term_micro) AS BIGINT) AS sum_terms
        FROM terms
    ),
    naive AS (
        SELECT CAST(SUM(CASE WHEN t = 1 THEN sy END) AS BIGINT) AS s1,
               CAST(SUM(CASE WHEN t = 1 THEN n END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN t = 0 THEN sy END) AS BIGINT) AS s0,
               CAST(SUM(CASE WHEN t = 0 THEN n END) AS BIGINT) AS c0
        FROM cell
    )
    SELECT t.s AS stratum, t.n_s, t.n1 AS n_treated, t.n0 AS n_control,
           t.term_micro,
           ROUND(CAST((SELECT sum_terms FROM tot) AS DOUBLE)
                 / (SELECT n FROM tot) / 1000000.0, 6) AS ate_adjusted,
           ROUND((SELECT CAST(s1 AS DOUBLE) / c1 - CAST(s0 AS DOUBLE)
                         / c0
                  FROM naive), 6) AS ate_naive
    FROM terms t
    """


@register(
    "gformula_ate_standardization",
    _gformula_oracle_sql(),
    doc=f"X146 g-formula standardization of the discount(>= "
        f"{ATE_TREAT_PCT}%) -> quantity effect, adjusting for brand: "
        "per-stratum treated/control means from exact BIGINT sums, "
        "stratum terms snapped to the 1e-6 grid before the BIGINT "
        "cross-stratum fold (no float summation), adjusted ATE = "
        "term-sum / n. Unadjusted difference reported alongside so "
        "the confounding gap is visible. One scan + one (stratum, "
        "arm) aggregate.",
    tags=("X146", "X56", "X144", "X7", "X3"),
)
def gformula_ate_standardization(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    base = (li.join(F.broadcast(part.select(
                F.col("p_partkey").alias("l_partkey"), "p_brand")),
                "l_partkey")
            .select(F.col("p_brand").alias("s"),
                    F.when(F.col("l_discount")
                           >= ATE_TREAT_PCT / 100.0, 1).otherwise(0)
                    .alias("t"),
                    F.col("l_quantity").cast("long").alias("y")))
    cell = (base.groupBy("s", "t")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("y").cast("long").alias("sy")))
    strata = (cell.groupBy("s")
              .agg(F.sum("n").cast("long").alias("n_s"),
                   F.sum(F.when(F.col("t") == 1, F.col("n")))
                   .cast("long").alias("n1"),
                   F.sum(F.when(F.col("t") == 1, F.col("sy")))
                   .cast("long").alias("sy1"),
                   F.sum(F.when(F.col("t") == 0, F.col("n")))
                   .cast("long").alias("n0"),
                   F.sum(F.when(F.col("t") == 0, F.col("sy")))
                   .cast("long").alias("sy0"))
              .filter(F.col("n1").isNotNull() & (F.col("n1") > 0)
                      & F.col("n0").isNotNull() & (F.col("n0") > 0)))
    terms = strata.select(
        "s", "n_s", "n1", "n0",
        F.round(1000000.0 * F.col("n_s")
                * (F.col("sy1").cast("double") / F.col("n1")
                   - F.col("sy0").cast("double") / F.col("n0")), 0)
        .cast("long").alias("term_micro"))
    tot = terms.agg(F.sum("n_s").cast("long").alias("n"),
                    F.sum("term_micro").cast("long").alias("sum_terms"))
    naive = cell.agg(
        (F.sum(F.when(F.col("t") == 1, F.col("sy"))).cast("double")
         / F.sum(F.when(F.col("t") == 1, F.col("n")))
         - F.sum(F.when(F.col("t") == 0, F.col("sy"))).cast("double")
         / F.sum(F.when(F.col("t") == 0, F.col("n"))))
        .alias("naive_diff"))
    return (terms.crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(naive))
            .select(F.col("s").alias("stratum"), "n_s",
                    F.col("n1").alias("n_treated"),
                    F.col("n0").alias("n_control"),
                    "term_micro",
                    F.round(F.col("sum_terms").cast("double")
                            / F.col("n") / 1000000.0, 6)
                    .alias("ate_adjusted"),
                    F.round(F.col("naive_diff"), 6).alias("ate_naive")))


# --------------------------------------------------------------------------
# X158: difference-in-differences — the panel-data causal design
# (X146's cross-sectional standardization can't difference away
# time-invariant group confounding; DiD can): md5-coin treated brand
# group, pre/post periods split mid-month on ship date,
#   DiD = (post - pre)_treated - (post - pre)_control
# from four exact BIGINT (sum, count) cells — one scan, one 4-cell
# aggregate, three subtractions of IEEE-identical means. A PLACEBO
# row re-runs the identical estimator entirely inside the pre period
# (split at its midpoint); parallel trends predicts ~0 and the law
# test pins both estimates to a Python replay.
# --------------------------------------------------------------------------
DID_SPLIT_DAY = 16        # post = ship day-of-month >= 16
DID_PLACEBO_DAY = 8       # placebo: pre split at day 8


def _did_cells_sql(lo: str, hi: str, split: int, name: str) -> str:
    return f"""
    {name} AS (
        SELECT CASE WHEN (('0x' || substr(md5('did:' || p.p_brand),
                                          1, 15))::BIGINT % 2) = 0
                    THEN 1 ELSE 0 END AS treated,
               CASE WHEN date_part('day', l.l_shipdate) >= {split}
                    THEN 1 ELSE 0 END AS post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sq
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE date_part('day', l.l_shipdate) BETWEEN {lo} AND {hi}
        GROUP BY 1, 2
    )"""


def _did_select_sql(name: str, label: str) -> str:
    def m(t, p):
        return (f"(SELECT CAST(sq AS DOUBLE) / n FROM {name} "
                f"WHERE treated = {t} AND post = {p})")

    return f"""
    SELECT '{label}' AS analysis,
           (SELECT n FROM {name} WHERE treated = 1 AND post = 0)
               AS n_t_pre,
           (SELECT n FROM {name} WHERE treated = 1 AND post = 1)
               AS n_t_post,
           (SELECT n FROM {name} WHERE treated = 0 AND post = 0)
               AS n_c_pre,
           (SELECT n FROM {name} WHERE treated = 0 AND post = 1)
               AS n_c_post,
           ROUND(({m(1, 1)} - {m(1, 0)}) - ({m(0, 1)} - {m(0, 0)}), 6)
               AS did_estimate"""


@register(
    "did_brand_quantity",
    f"""
    WITH {_did_cells_sql('1', '31', DID_SPLIT_DAY, 'main').lstrip()},
    {_did_cells_sql('1', str(DID_SPLIT_DAY - 1), DID_PLACEBO_DAY,
                    'plac').lstrip()}
    {_did_select_sql('main', 'did')}
    UNION ALL
    {_did_select_sql('plac', 'placebo')}
    """,
    doc=f"X158 difference-in-differences on brand quantity: md5-coin "
        f"treated brands, post = ship day >= {DID_SPLIT_DAY}; DiD "
        "from four exact (sum, count) cells in one aggregate, plus a "
        f"placebo replay inside the pre period (split at day "
        f"{DID_PLACEBO_DAY}) — the parallel-trends check every DiD "
        "needs. Means are IEEE-identical divisions of identical "
        "BIGINTs; the estimate is three subtractions.",
    tags=("X158", "X146", "X56", "X7", "X3"),
)
def did_brand_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    base = (li.join(F.broadcast(part.select(
                F.col("p_partkey").alias("l_partkey"), "p_brand")),
                "l_partkey")
            .select(
                F.when(F.conv(F.substring(
                    F.md5(F.concat(F.lit("did:"), F.col("p_brand"))),
                    1, 15), 16, 10).cast("long") % 2 == 0, 1)
                .otherwise(0).alias("treated"),
                F.dayofmonth("l_shipdate").alias("dom"),
                F.col("l_quantity").cast("long").alias("q")))

    def cells(lo, hi, split):
        return (base.filter(F.col("dom").between(lo, hi))
                .groupBy("treated",
                         F.when(F.col("dom") >= split, 1).otherwise(0)
                         .alias("post"))
                .agg(F.count("*").cast("long").alias("n"),
                     F.sum("q").cast("long").alias("sq")).collect())

    def one(label, rows):
        c = {(r["treated"], r["post"]): r for r in rows}

        def mean(t, p):
            return c[(t, p)]["sq"] / c[(t, p)]["n"]

        return (label, c[(1, 0)]["n"], c[(1, 1)]["n"],
                c[(0, 0)]["n"], c[(0, 1)]["n"],
                round((mean(1, 1) - mean(1, 0))
                      - (mean(0, 1) - mean(0, 0)), 6))

    out = [one("did", cells(1, 31, DID_SPLIT_DAY)),
           one("placebo", cells(1, DID_SPLIT_DAY - 1, DID_PLACEBO_DAY))]
    return spark.createDataFrame(
        out, "analysis STRING, n_t_pre BIGINT, n_t_post BIGINT, "
             "n_c_pre BIGINT, n_c_post BIGINT, did_estimate DOUBLE")


# --------------------------------------------------------------------------
# X160: multiple-testing correction (Benjamini-Hochberg step-up FDR +
# Bonferroni) — the guardrail every metrics platform needs once it
# runs one test per segment: m = 25 brand-level two-proportion tests
# ("does this brand's return rate differ from the rest?") corrected
# so the FAMILY of discoveries is FDR-controlled.
#
# Cross-engine exactness: z is an IEEE-identical function of the four
# BIGINT cells; the normal tail p = erfc(|z|/sqrt(2)) is TRANSCENDENTAL,
# so neither engine computes it — |z| is snapped to a 0.1 grid and the
# 81-entry tail table (nano-units) is precomputed ONCE in Python and
# inlined into BOTH engines (the X99/X103 pattern: irrational
# constants are shared, never recomputed). The BH step-up decision
#   reject i  <=>  exists j >= i with m * p_(j) <= j * alpha
# is then pure BIGINT cross-multiplication (alpha = 0.05 in nano
# units), evaluated with a suffix-min window over the p-sorted ranks.
# One corpus pass (the brand histogram); everything after is 25 rows.
# --------------------------------------------------------------------------
def _normal_tail_nano() -> list[tuple[int, int]]:
    """(z_decigrid, p_nano): two-sided tail 2*(1-Phi(z)) for z = k/10,
    k = 0..80, in 1e-9 units. math.erfc is correctly rounded enough
    that the ROUNDED nano value is stable; the table is data-free."""
    import math

    return [(k, round(math.erfc((k / 10.0) / math.sqrt(2.0)) * 1e9))
            for k in range(81)]


_TAIL_SQL = "VALUES " + ", ".join(
    f"({k}, {p})" for k, p in _normal_tail_nano())
FDR_ALPHA_NANO = 50_000_000  # alpha = 0.05 in nano units


@register(
    "fdr_brand_returns",
    f"""
    WITH tail(zg, p_nano) AS ({_TAIL_SQL}),
    cells AS (
        SELECT p.p_brand AS brand,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS r
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                   CAST(SUM(r) AS BIGINT) AS rr,
                   CAST(COUNT(*) AS BIGINT) AS m FROM cells),
    z AS (
        SELECT brand, n, r,
               (CAST(r AS DOUBLE) / n
                - CAST(rr - r AS DOUBLE) / (nn - n))
               / sqrt((CAST(rr AS DOUBLE) / nn)
                      * (1.0 - CAST(rr AS DOUBLE) / nn)
                      * (1.0 / n + 1.0 / (nn - n))) AS zval,
               tot.m AS m
        FROM cells CROSS JOIN tot
    ),
    p AS (
        SELECT brand, n, r, zval, m,
               (SELECT p_nano FROM tail
                WHERE zg = LEAST(CAST(ROUND(ABS(zval) * 10.0) AS BIGINT),
                                 80)) AS p_nano
        FROM z
    ),
    ranked AS (
        SELECT brand, n, r, zval, m, p_nano,
               ROW_NUMBER() OVER (ORDER BY p_nano, brand) AS rk
        FROM p
    ),
    bh AS (
        SELECT *,
               MAX(CASE WHEN m * p_nano <= rk * {FDR_ALPHA_NANO}
                        THEN rk ELSE 0 END) OVER () AS k_star
        FROM ranked
    )
    SELECT brand, n, r AS returns,
           ROUND(CAST(r AS DOUBLE) / n, 6) AS rate,
           ROUND(zval, 6) AS z,
           p_nano, CAST(rk AS BIGINT) AS p_rank,
           CAST(CASE WHEN rk <= k_star THEN 1 ELSE 0 END AS BIGINT)
               AS bh_reject,
           CAST(CASE WHEN m * p_nano <= {FDR_ALPHA_NANO} THEN 1 ELSE 0 END
                AS BIGINT) AS bonf_reject
    FROM bh ORDER BY p_rank
    """,
    doc="X160 Benjamini-Hochberg FDR + Bonferroni over 25 per-brand "
        "two-proportion return-rate tests: z from four BIGINT cells "
        "(IEEE-identical), |z| snapped to a 0.1 grid, the normal tail "
        "taken from an 81-entry Python-precomputed nano-unit table "
        "inlined into both engines, and the step-up cutoff k* as a "
        "windowed max over BIGINT cross-multiplications. One corpus "
        "pass; the hypothesis frame is 25 rows.",
    tags=("X160", "X73", "X56", "X7", "X10"),
)
def fdr_brand_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cells = (li.join(F.broadcast(part.select(
                 F.col("p_partkey").alias("l_partkey"), "p_brand")),
                 "l_partkey")
             .groupBy(F.col("p_brand").alias("brand"))
             .agg(F.count("*").cast("long").alias("n"),
                  F.sum(F.when(F.col("l_returnflag") == "R", 1)
                        .otherwise(0)).cast("long").alias("r")))
    tot = cells.agg(F.sum("n").cast("long").alias("nn"),
                    F.sum("r").cast("long").alias("rr"),
                    F.count("*").cast("long").alias("m"))
    pp = F.col("rr").cast("double") / F.col("nn")
    z = ((F.col("r").cast("double") / F.col("n")
          - (F.col("rr") - F.col("r")).cast("double")
          / (F.col("nn") - F.col("n")))
         / F.sqrt(pp * (1.0 - pp)
                  * (1.0 / F.col("n")
                     + 1.0 / (F.col("nn") - F.col("n")))))
    tail = spark.createDataFrame(_normal_tail_nano(),
                                 "zg BIGINT, p_nano BIGINT")
    zg = F.least(F.round(F.abs(F.col("zval")) * 10.0, 0).cast("long"),
                 F.lit(80))
    p = (cells.crossJoin(F.broadcast(tot))
         .withColumn("zval", z)
         .withColumn("zg", zg)
         .join(F.broadcast(tail), "zg"))
    ranked = p.withColumn(
        "rk", F.row_number().over(Window.orderBy("p_nano", "brand")))
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    bh = ranked.withColumn(
        "k_star",
        F.max(F.when(F.col("m") * F.col("p_nano")
                     <= F.col("rk") * FDR_ALPHA_NANO, F.col("rk"))
              .otherwise(0)).over(wall))
    return (bh.select(
        "brand", "n", F.col("r").alias("returns"),
        F.round(F.col("r").cast("double") / F.col("n"), 6).alias("rate"),
        F.round("zval", 6).alias("z"),
        "p_nano", F.col("rk").cast("long").alias("p_rank"),
        F.when(F.col("rk") <= F.col("k_star"), 1).otherwise(0)
        .cast("long").alias("bh_reject"),
        F.when(F.col("m") * F.col("p_nano") <= FDR_ALPHA_NANO, 1)
        .otherwise(0).cast("long").alias("bonf_reject"))
        .orderBy("p_rank"))


# --------------------------------------------------------------------------
# X162: density-based clustering (DBSCAN) over the customer
# (frequency, monetary) plane — the clustering family X54/X35
# (centroid-based) cannot express: clusters are density-connected
# regions of ARBITRARY shape, and low-density points are explicitly
# NOISE rather than being forced into a nearest centroid.
#
# Everything is exact integer geometry: x = order count, y = lifetime
# cents DIV 4e6 (decimal-exact cents, never a float division), and
# the epsilon test is squared-L2 <= EPS2 on BIGINTs. The Spark plan
# is the scalable shape: grid cells of side eps + a 3x3 neighbor
# probe bound candidate pairs by occupied-cell density (the X104
# pigeonhole), neighbor counts/core flags are one aggregate,
# core-core components run on the X30 star-contraction operator
# (O(log^2 n) rounds, converged — not a fixed prefix), and border
# points attach to their minimum core neighbor's cluster. The oracle
# brute-forces all pairs (point count is customer-bounded) and
# closes components with a recursive CTE, so LSH-free recall, the CC
# fixpoint, core/border/noise classification and every cluster size
# are all hash-checked.
# --------------------------------------------------------------------------
DBSCAN_EPS2 = 4       # squared epsilon (eps = 2 grid units)
DBSCAN_MINPTS = 8     # neighbors incl. self needed for a core point
DBSCAN_Y_DIV = 4_000_000  # cents per y grid unit


@register(
    "dbscan_rfm_segments",
    f"""
    WITH RECURSIVE pts AS (
        SELECT o_custkey AS id,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) // {DBSCAN_Y_DIV} AS y
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT a.id AS ia, b.id AS ib
        FROM pts a JOIN pts b
          ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             <= {DBSCAN_EPS2}
    ),
    ncnt AS (SELECT ia AS id, CAST(COUNT(*) AS BIGINT) AS n
             FROM pairs GROUP BY ia),
    core AS (SELECT id FROM ncnt WHERE n >= {DBSCAN_MINPTS}),
    ce AS (
        SELECT p.ia AS src, p.ib AS dst FROM pairs p
        JOIN core ca ON ca.id = p.ia JOIN core cb ON cb.id = p.ib
    ),
    reach(v, r) AS (
        SELECT id, id FROM core
        UNION
        SELECT e.dst, reach.r FROM reach JOIN ce e ON e.src = reach.v
    ),
    lab AS (SELECT v AS id, MIN(r) AS cluster_id FROM reach GROUP BY v),
    border AS (
        SELECT p.ia AS id, MIN(l.cluster_id) AS cluster_id
        FROM pairs p
        JOIN lab l ON l.id = p.ib
        LEFT JOIN core c ON c.id = p.ia
        WHERE c.id IS NULL
        GROUP BY p.ia
    ),
    assigned AS (
        SELECT id, cluster_id, 1 AS is_core FROM lab
        UNION ALL
        SELECT id, cluster_id, 0 FROM border
    ),
    summary AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_points,
               CAST(SUM(is_core) AS BIGINT) AS n_core,
               CAST(SUM(1 - is_core) AS BIGINT) AS n_border
        FROM assigned GROUP BY cluster_id
    )
    SELECT * FROM summary
    UNION ALL
    SELECT CAST(-1 AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pts)
           - (SELECT CAST(COUNT(*) AS BIGINT) FROM assigned),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    ORDER BY cluster_id
    """,
    doc=f"X162 DBSCAN (eps^2 = {DBSCAN_EPS2}, minPts = {DBSCAN_MINPTS}) "
        "over customer (order-count, lifetime-cents/4e6) integer "
        "space: grid-cell + 3x3 probe candidate pairs, one aggregate "
        "for core flags, X30 star-contraction components over "
        "core-core edges, min-core-neighbor border attachment, "
        "explicit noise. Oracle brute-forces pairs and closes "
        "components recursively — shape, sizes and noise all "
        "hash-checked.",
    tags=("X162", "X104", "X30", "X54", "X3", "X7"),
)
def dbscan_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked
    from ..operators.dedup import connected_components_star

    orders = load_table(spark, sf_dir, "orders")
    cents = F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100)
                  .cast("long")).cast("long")
    pts = persist_tracked(
        orders.groupBy(F.col("o_custkey").alias("id"))
        .agg(F.count("*").cast("long").alias("x"),
             cents.alias("cents"))
        .select("id", "x", F.expr(f"cents DIV {DBSCAN_Y_DIV}").alias("y")))
    eps = 2  # ceil(sqrt(EPS2)); grid side
    cells = pts.select(
        "id", "x", "y",
        F.expr(f"x DIV {eps}").alias("cx"),
        F.expr(f"y DIV {eps}").alias("cy"))
    off = F.explode(F.array(*[F.lit(o) for o in (-1, 0, 1)]))
    probe = (cells.select("id", "x", "y", "cx", "cy", off.alias("dx"))
             .select("id", "x", "y",
                     (F.col("cx") + F.col("dx")).alias("cx"), "cy",
                     off.alias("dy"))
             .select("id", "x", "y", "cx",
                     (F.col("cy") + F.col("dy")).alias("cy")))
    a = probe.select(F.col("id").alias("ia"), F.col("x").alias("xa"),
                     F.col("ya" if False else "y").alias("ya"),
                     "cx", "cy")
    b = cells.select(F.col("id").alias("ib"), F.col("x").alias("xb"),
                     F.col("y").alias("yb"), "cx", "cy")
    pairs = persist_tracked(
        a.join(b, ["cx", "cy"])
        .filter((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
                + (F.col("ya") - F.col("yb"))
                * (F.col("ya") - F.col("yb")) <= DBSCAN_EPS2)
        .select("ia", "ib").distinct())
    ncnt = pairs.groupBy(F.col("ia").alias("id")) \
        .agg(F.count("*").cast("long").alias("n"))
    core = persist_tracked(
        ncnt.filter(F.col("n") >= DBSCAN_MINPTS).select("id"))
    ce = (pairs
          .join(core.select(F.col("id").alias("ia")), "ia")
          .join(core.select(F.col("id").alias("ib")), "ib")
          .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b")))
    lab = connected_components_star(ce).select(
        "id", F.col("cluster_id"))
    border = (pairs
              .join(core.select(F.col("id").alias("ia")), "ia",
                    "left_anti")
              .join(lab.select(F.col("id").alias("ib"),
                               F.col("cluster_id")), "ib")
              .groupBy(F.col("ia").alias("id"))
              .agg(F.min("cluster_id").alias("cluster_id")))
    assigned = (lab.withColumn("is_core", F.lit(1))
                .unionByName(border.withColumn("is_core", F.lit(0))))
    summary = (assigned.groupBy("cluster_id")
               .agg(F.count("*").cast("long").alias("n_points"),
                    F.sum("is_core").cast("long").alias("n_core"),
                    F.sum(1 - F.col("is_core")).cast("long")
                    .alias("n_border")))
    n_total = pts.count()
    n_assigned = assigned.count()
    noise = spark.createDataFrame(
        [(-1, n_total - n_assigned, 0, 0)],
        "cluster_id BIGINT, n_points BIGINT, n_core BIGINT, "
        "n_border BIGINT")
    return summary.unionByName(noise).orderBy("cluster_id")


# --------------------------------------------------------------------------
# X168: learning-curve audit — sample-efficiency measurement, the
# first question before buying more labels: train the X125 stump on
# NESTED md5 fractions (10/20/40/80% of train rows; nested so each
# bigger model sees a superset) and score each on the SAME held-out
# 20% test split. ONE histogram pass (feature, value, tier) powers
# all four fits: per-fraction counts are tier-filtered folds of the
# same 1.2k-cell frame, the split search is the X125 prefix-sum
# window per (fraction, feature), and each side predicts its train
# majority (2*pos > n, integer compare). Accuracy is a division of
# BIGINT test counts. Corpus cost is one histogram + one test-side
# join regardless of how many fractions are audited.
# --------------------------------------------------------------------------
LC_TIERS = (1, 2, 4, 8)  # tiers of 10% -> 10/20/40/80% of train rows


def _lc_oracle_sql() -> str:
    ks = ", ".join(str(k) for k in LC_TIERS)
    return f"""
    WITH base AS (
        SELECT CAST(l_quantity AS BIGINT) AS qty,
               CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS disc,
               CASE WHEN l_returnflag = '{STUMP_LABEL}' THEN 1 ELSE 0 END
                   AS pos,
               ('0x' || substr(md5('lc:' || l_orderkey || ':'
                                   || l_linenumber), 1, 15))::BIGINT % 10
                   AS split10,
               ('0x' || substr(md5('lct:' || l_orderkey || ':'
                                   || l_linenumber), 1, 15))::BIGINT % 10
                   AS tier
        FROM lineitem
    ),
    train AS (SELECT * FROM base WHERE split10 < 8),
    test AS (SELECT * FROM base WHERE split10 >= 8),
    long AS (
        SELECT 'qty' AS feature, qty AS v, pos, tier FROM train
        UNION ALL
        SELECT 'disc', disc, pos, tier FROM train
    ),
    hist AS (
        SELECT feature, v, tier, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS p
        FROM long GROUP BY feature, v, tier
    ),
    kh AS (
        SELECT k.k, feature, v, CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(p) AS BIGINT) AS p
        FROM hist CROSS JOIN (SELECT UNNEST([{ks}]) AS k) k
        WHERE tier < k.k GROUP BY k.k, feature, v
    ),
    cum AS (
        SELECT k, feature, v,
               SUM(n) OVER (PARTITION BY k, feature ORDER BY v) AS nl,
               SUM(p) OVER (PARTITION BY k, feature ORDER BY v) AS pl,
               SUM(n) OVER (PARTITION BY k, feature) AS nt,
               SUM(p) OVER (PARTITION BY k, feature) AS pt
        FROM kh
    ),
    cand AS (
        SELECT k, feature, v AS split_at, nl, pl,
               nt - nl AS nr, pt - pl AS pr, nt,
               (CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE) / nl)
               + (CAST((pt - pl) * (pt - pl)
                       + ((nt - nl) - (pt - pl)) * ((nt - nl) - (pt - pl))
                       AS DOUBLE) / (nt - nl)) AS score
        FROM cum WHERE nl > 0 AND nt - nl > 0
    ),
    best AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                         ORDER BY score DESC, feature,
                                                  split_at) AS rn
            FROM cand) WHERE rn = 1
    ),
    scored AS (
        SELECT b.k, b.feature, b.split_at, b.nt,
               CAST(COUNT(*) AS BIGINT) AS test_n,
               CAST(SUM(CASE WHEN (CASE WHEN (CASE b.feature
                                              WHEN 'qty' THEN t.qty
                                              ELSE t.disc END)
                                             <= b.split_at
                                   THEN CASE WHEN 2 * b.pl > b.nl
                                             THEN 1 ELSE 0 END
                                   ELSE CASE WHEN 2 * b.pr > b.nr
                                             THEN 1 ELSE 0 END END)
                                  = t.pos THEN 1 ELSE 0 END)
                    AS BIGINT) AS correct
        FROM best b CROSS JOIN test t
        GROUP BY b.k, b.feature, b.split_at, b.nt
    )
    SELECT CAST(k * 10 AS BIGINT) AS train_pct, feature, split_at,
           CAST(nt AS BIGINT) AS train_n, test_n,
           ROUND(CAST(correct AS DOUBLE) / test_n, 6) AS accuracy
    FROM scored ORDER BY train_pct
    """


@register(
    "stump_learning_curve",
    _lc_oracle_sql(),
    doc="X168 learning curve: X125 stumps trained on nested md5 "
        "fractions (10/20/40/80% of an 80% train split) from ONE "
        "(feature, value, tier) histogram pass, each scored on the "
        "same held-out 20% by train-majority side prediction. "
        "Fraction count never re-touches the corpus; accuracy is a "
        "BIGINT division.",
    tags=("X168", "X125", "X81", "X28", "X7", "X11"),
)
def stump_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")

    def md5mod(salt):
        return F.conv(F.substring(
            F.md5(F.concat(F.lit(salt), F.col("l_orderkey"),
                           F.lit(":"), F.col("l_linenumber"))),
            1, 15), 16, 10).cast("long") % 10

    base = persist_tracked(li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("disc"),
        F.when(F.col("l_returnflag") == STUMP_LABEL, 1).otherwise(0)
        .alias("pos"),
        md5mod("lc:").alias("split10"),
        md5mod("lct:").alias("tier")))
    train = base.filter(F.col("split10") < 8)
    test = persist_tracked(base.filter(F.col("split10") >= 8))
    long_ = train.selectExpr(
        "stack(2, 'qty', qty, 'disc', disc) AS (feature, v)",
        "pos", "tier")
    hist = (long_.groupBy("feature", "v", "tier")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("pos").cast("long").alias("p")))
    ks = spark.createDataFrame([(k,) for k in LC_TIERS], "k INT")
    kh = (hist.crossJoin(F.broadcast(ks))
          .filter(F.col("tier") < F.col("k"))
          .groupBy("k", "feature", "v")
          .agg(F.sum("n").cast("long").alias("n"),
               F.sum("p").cast("long").alias("p")))
    w_cum = Window.partitionBy("k", "feature").orderBy("v")
    w_all = Window.partitionBy("k", "feature")
    cum = kh.select(
        "k", "feature", "v",
        F.sum("n").over(w_cum).alias("nl"),
        F.sum("p").over(w_cum).alias("pl"),
        F.sum("n").over(w_all).alias("nt"),
        F.sum("p").over(w_all).alias("pt"))
    cand = (cum.filter((F.col("nl") > 0)
                       & (F.col("nt") - F.col("nl") > 0))
            .withColumn("nr", F.col("nt") - F.col("nl"))
            .withColumn("pr", F.col("pt") - F.col("pl"))
            .withColumn(
                "score",
                F.expr("cast(pl*pl + (nl-pl)*(nl-pl) as double)")
                / F.col("nl")
                + F.expr("cast(pr*pr + (nr-pr)*(nr-pr) as double)")
                / F.col("nr")))
    best = (cand.withColumn(
                "rn", F.row_number().over(
                    Window.partitionBy("k")
                    .orderBy(F.desc("score"), "feature", "v")))
            .filter(F.col("rn") == 1)
            .select("k", "feature", F.col("v").alias("split_at"),
                    "nl", "pl", "nr", "pr", "nt"))
    pred = F.when(
        F.when(F.col("feature") == "qty", F.col("qty"))
        .otherwise(F.col("disc")) <= F.col("split_at"),
        F.when(2 * F.col("pl") > F.col("nl"), 1).otherwise(0)) \
        .otherwise(F.when(2 * F.col("pr") > F.col("nr"), 1).otherwise(0))
    scored = (F.broadcast(best).crossJoin(test)
              .groupBy("k", "feature", "split_at", "nt")
              .agg(F.count("*").cast("long").alias("test_n"),
                   F.sum(F.when(pred == F.col("pos"), 1).otherwise(0))
                   .cast("long").alias("correct")))
    return (scored.select(
        (F.col("k") * 10).cast("long").alias("train_pct"),
        "feature", "split_at", F.col("nt").cast("long").alias("train_n"),
        "test_n",
        F.round(F.col("correct").cast("double") / F.col("test_n"), 6)
        .alias("accuracy"))
        .orderBy("train_pct"))


# --------------------------------------------------------------------------
# X169: uplift modeling (two-model T-learner by segment) + Qini-style
# cumulative incremental gains — the heterogeneous-treatment-effect
# report marketing/growth teams run after X56's single ATE: WHO
# responds to treatment, and in what priority order should the next
# campaign target segments? Users get an md5 treatment coin, segments
# are per-user mean-value bands (micro-snapped BIGINT sums compared
# against cutoff*n — no float average anywhere), outcome is purchase;
# per segment the uplift is conv_t/n_t - conv_c/n_c (divisions of
# identical BIGINT cells), segments are ranked by observed uplift
# (double ordering IEEE-identical; ties by segment), and the Qini
# accumulation folds EXACT per-segment incremental numerators
# (conv_t*n_c - conv_c*n_t as BIGINT, scaled by the segment's n_t)
# down the ranking. One events scan; everything after is 4 rows.
# --------------------------------------------------------------------------
UPLIFT_TIERS = 4


@register(
    "uplift_qini_segments",
    f"""
    WITH users AS (
        SELECT user_id,
               CASE WHEN sv < 45000000 * n THEN 0
                    WHEN sv < 49000000 * n THEN 1
                    WHEN sv < 53000000 * n THEN 2 ELSE 3 END AS seg,
               CASE WHEN ('0x' || substr(md5('promo:' || user_id),
                                         1, 15))::BIGINT % 2 = 0
                    THEN 1 ELSE 0 END AS treated,
               conv
        FROM (SELECT user_id,
                     CAST(SUM(CAST(ROUND(value * 1000000, 0) AS BIGINT))
                          AS BIGINT) AS sv,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     MAX(CASE WHEN event_type = 'purchase' THEN 1
                         ELSE 0 END) AS conv
              FROM events GROUP BY user_id)
    ),
    cells AS (
        SELECT seg,
               CAST(SUM(treated) AS BIGINT) AS n_t,
               CAST(SUM(treated * conv) AS BIGINT) AS conv_t,
               CAST(SUM(1 - treated) AS BIGINT) AS n_c,
               CAST(SUM((1 - treated) * conv) AS BIGINT) AS conv_c
        FROM users GROUP BY seg
    ),
    ranked AS (
        SELECT *,
               CAST(conv_t AS DOUBLE) / NULLIF(n_t, 0)
               - CAST(conv_c AS DOUBLE) / NULLIF(n_c, 0) AS uplift,
               ROW_NUMBER() OVER (
                   ORDER BY CAST(conv_t AS DOUBLE) / NULLIF(n_t, 0)
                            - CAST(conv_c AS DOUBLE) / NULLIF(n_c, 0)
                            DESC NULLS LAST,
                            seg) AS rk
        FROM cells
    )
    SELECT CAST(rk AS BIGINT) AS rank, seg AS segment,
           n_t, conv_t, n_c, conv_c,
           ROUND(uplift, 6) AS uplift,
           ROUND(SUM(CAST(conv_t * n_c - conv_c * n_t AS DOUBLE)
                     / NULLIF(n_c, 0))
                 OVER (ORDER BY rk), 6) AS qini_cum_incremental
    FROM ranked ORDER BY rank
    """,
    doc="X169 uplift T-learner by per-user value band with Qini "
        "accumulation: md5 treatment coin, per-segment conversion "
        "cells as one aggregate, uplift = two IEEE divisions of "
        "identical BIGINTs, segments ranked by uplift, cumulative "
        "incremental conversions folded down the ranking from exact "
        "integer numerators (conv_t*n_c - conv_c*n_t).",
    tags=("X169", "X56", "X158", "X146", "X7", "X10"),
)
def uplift_qini_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = (ev.groupBy("user_id")
             .agg(F.sum(F.round(F.col("value") * 1000000, 0)
                        .cast("long")).cast("long").alias("sv"),
                  F.count("*").cast("long").alias("n"),
                  F.max(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("conv"))
             .withColumn(
                 "seg",
                 F.when(F.col("sv") < 45000000 * F.col("n"), 0)
                 .when(F.col("sv") < 49000000 * F.col("n"), 1)
                 .when(F.col("sv") < 53000000 * F.col("n"), 2)
                 .otherwise(3))
             .withColumn(
                 "treated",
                 F.when(F.conv(F.substring(
                     F.md5(F.concat(F.lit("promo:"), F.col("user_id"))),
                     1, 15), 16, 10).cast("long") % 2 == 0, 1)
                 .otherwise(0)))
    cells = (users.groupBy("seg")
             .agg(F.sum("treated").cast("long").alias("n_t"),
                  F.sum(F.col("treated") * F.col("conv")).cast("long")
                  .alias("conv_t"),
                  F.sum(1 - F.col("treated")).cast("long").alias("n_c"),
                  F.sum((1 - F.col("treated")) * F.col("conv"))
                  .cast("long").alias("conv_c")))
    uplift = (F.col("conv_t").cast("double")
              / F.nullif(F.col("n_t"), F.lit(0))
              - F.col("conv_c").cast("double")
              / F.nullif(F.col("n_c"), F.lit(0)))
    ranked = cells.withColumn("uplift", uplift).withColumn(
        "rk", F.row_number().over(
            Window.orderBy(F.col("uplift").desc_nulls_last(), "seg")))
    inc = ((F.col("conv_t") * F.col("n_c")
            - F.col("conv_c") * F.col("n_t")).cast("double")
           / F.nullif(F.col("n_c"), F.lit(0)))
    return (ranked.select(
        F.col("rk").cast("long").alias("rank"),
        F.col("seg").alias("segment"),
        "n_t", "conv_t", "n_c", "conv_c",
        F.round("uplift", 6).alias("uplift"),
        F.round(F.sum(inc).over(
            Window.orderBy("rk")
            .rowsBetween(Window.unboundedPreceding, 0)), 6)
        .alias("qini_cum_incremental"))
        .orderBy("rank"))


# --------------------------------------------------------------------------
# X175: quantile treatment effects — where X56's ATE answers "did the
# mean move", QTE answers "WHERE in the distribution did it move"
# (discounts compress the tail, premium features lift the median):
# per-arm exact linear-interpolation quantiles of order value at
# deciles 0.1..0.9, differenced. Spark exact `percentile` and DuckDB
# `quantile_cont` are bit-identical on identical multisets (the X36
# equivalence), the md5 arm coin is engine-portable, and the
# difference of two identical doubles needs only a final ROUND. One
# scan; per-arm quantile state is the only aggregate.
# --------------------------------------------------------------------------
QTE_QS = tuple(q / 10 for q in range(1, 10))


def _qte_oracle_sql() -> str:
    rows = []
    for q in QTE_QS:
        rows.append(f"""SELECT CAST({q} AS DOUBLE) AS q,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM arms WHERE t = 1)
               AS n_treated,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM arms WHERE t = 0)
               AS n_control,
           ROUND((SELECT quantile_cont(v, {q}) FROM arms WHERE t = 1),
                 4) AS q_treated,
           ROUND((SELECT quantile_cont(v, {q}) FROM arms WHERE t = 0),
                 4) AS q_control,
           ROUND((SELECT quantile_cont(v, {q}) FROM arms WHERE t = 1)
                 - (SELECT quantile_cont(v, {q}) FROM arms WHERE t = 0),
                 4) AS qte""")
    return ("""
    WITH arms AS (
        SELECT o_totalprice AS v,
               CASE WHEN ('0x' || substr(md5('qte:' || o_orderkey),
                                         1, 15))::BIGINT % 2 = 0
                    THEN 1 ELSE 0 END AS t
        FROM orders
    )
    """ + "\nUNION ALL\n".join(rows) + "\nORDER BY q")


@register(
    "quantile_treatment_effects",
    _qte_oracle_sql(),
    doc="X175 quantile treatment effects at deciles 0.1..0.9: md5 arm "
        "coin on orders, per-arm exact interpolated quantiles of "
        "order value (Spark percentile == DuckDB quantile_cont "
        "bit-for-bit on identical multisets), differenced and ROUNDed "
        "once. The distributional lens on an experiment that a mean "
        "ATE cannot give.",
    tags=("X175", "X56", "X36", "X7"),
)
def quantile_treatment_effects(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    arms = orders.select(
        F.col("o_totalprice").alias("v"),
        F.when(F.conv(F.substring(
            F.md5(F.concat(F.lit("qte:"), F.col("o_orderkey"))),
            1, 15), 16, 10).cast("long") % 2 == 0, 1)
        .otherwise(0).alias("t"))
    qs = list(QTE_QS)
    agg = (arms.groupBy("t")
           .agg(F.count("*").cast("long").alias("n"),
                F.percentile("v", F.array(*[F.lit(q) for q in qs]))
                .alias("ps")))
    ex = (agg.select("t", "n", F.posexplode("ps")
                     .alias("pos", "p")))
    tr = ex.filter(F.col("t") == 1).select(
        "pos", F.col("n").alias("n_treated"),
        F.col("p").alias("pt"))
    ct = ex.filter(F.col("t") == 0).select(
        "pos", F.col("n").alias("n_control"),
        F.col("p").alias("pc"))
    qcol = spark.createDataFrame(
        [(i, q) for i, q in enumerate(qs)], "pos INT, q DOUBLE")
    return (tr.join(ct, "pos").join(F.broadcast(qcol), "pos")
            .select("q", "n_treated", "n_control",
                    F.round("pt", 4).alias("q_treated"),
                    F.round("pc", 4).alias("q_control"),
                    F.round(F.col("pt") - F.col("pc"), 4).alias("qte"))
            .orderBy("q"))


# --------------------------------------------------------------------------
# X177: multinomial naive Bayes text classification — the classical
# supervised baseline every corpus pipeline fits before anything
# neural (spam gates, language verification, source tagging). Train
# on a deterministic md5 80% split of documents, classify the held-out
# 20% by lang, report the confusion matrix. Exactness: with add-one
# smoothing every log argument is an INTEGER (c_wc + 1, tot_c + V,
# doc counts), so each log2 snaps to the 1e-6 micro grid (the X166
# discipline) and a document's class score is a pure BIGINT fold:
# prior + sum_w tf * lw(w,c) - m_d * den(c), where the zero-count
# words contribute exactly -den(c) each because log2(0 + 1) = 0 —
# the algebraic trick that keeps the score join restricted to the
# OBSERVED (word, class) pairs instead of the dense vocab x class
# grid. Argmax over BIGINT scores (ties -> min lang) is
# bit-identical on both engines. One corpus pass for counts; the
# scoring join is test-tokens x classes-seen-per-word.
# --------------------------------------------------------------------------
NB_TRAIN_PCT = 80


def _nb_oracle_sql() -> str:
    return f"""
    WITH d AS (
        SELECT doc_id, lang, text,
               (('0x' || substr(md5('nb:' || doc_id), 1, 15))::BIGINT
                % 100) < {NB_TRAIN_PCT} AS tr
        FROM documents
    ),
    tok AS (
        SELECT doc_id, lang, tr,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM d
    ),
    cw AS (
        SELECT lang AS cls, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok WHERE tr GROUP BY lang, w
    ),
    totc AS (
        SELECT cls, CAST(SUM(c) AS BIGINT) AS tot FROM cw GROUP BY cls
    ),
    vocab AS (SELECT DISTINCT w FROM cw),
    nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    ndc AS (
        SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS nd
        FROM d WHERE tr GROUP BY lang
    ),
    ntr AS (SELECT CAST(SUM(nd) AS BIGINT) AS n FROM ndc),
    cc AS (
        SELECT ndc.cls,
               CAST(ROUND(log2(ndc.nd) * 1000000) AS BIGINT)
               - CAST(ROUND(log2(ntr.n) * 1000000) AS BIGINT) AS prior,
               CAST(ROUND(log2(totc.tot + nv.v) * 1000000) AS BIGINT)
                   AS den
        FROM ndc JOIN totc ON totc.cls = ndc.cls
        CROSS JOIN nv CROSS JOIN ntr
    ),
    lw AS (
        SELECT cls, w,
               CAST(ROUND(log2(c + 1) * 1000000) AS BIGINT) AS lw
        FROM cw
    ),
    tf AS (
        SELECT t.doc_id, t.lang AS true_lang, t.w,
               CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok t JOIN vocab v ON v.w = t.w
        WHERE NOT t.tr GROUP BY t.doc_id, t.lang, t.w
    ),
    md AS (
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS m FROM tf
        GROUP BY doc_id
    ),
    sp AS (
        SELECT tf.doc_id, lw.cls, CAST(SUM(tf.tf * lw.lw) AS BIGINT)
                   AS s
        FROM tf JOIN lw ON lw.w = tf.w
        GROUP BY tf.doc_id, lw.cls
    ),
    td AS (
        SELECT doc_id, lang AS true_lang FROM d WHERE NOT tr
    ),
    score AS (
        SELECT td.doc_id, td.true_lang, cc.cls,
               cc.prior + COALESCE(sp.s, 0)
               - COALESCE(md.m, 0) * cc.den AS score
        FROM td CROSS JOIN cc
        LEFT JOIN sp ON sp.doc_id = td.doc_id AND sp.cls = cc.cls
        LEFT JOIN md ON md.doc_id = td.doc_id
    ),
    pred AS (
        SELECT doc_id, true_lang, cls AS pred_lang FROM (
            SELECT doc_id, true_lang, cls,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, cls) AS rn
            FROM score
        ) WHERE rn = 1
    ),
    tt AS (
        SELECT true_lang, CAST(COUNT(*) AS BIGINT) AS nt
        FROM td GROUP BY true_lang
    )
    SELECT p.true_lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(COUNT(*) AS DOUBLE) / MIN(tt.nt), 6) AS frac
    FROM pred p JOIN tt ON tt.true_lang = p.true_lang
    GROUP BY p.true_lang, p.pred_lang
    ORDER BY p.true_lang, p.pred_lang
    """


@register(
    "naive_bayes_lang",
    _nb_oracle_sql(),
    doc=f"X177 multinomial naive Bayes: train on a deterministic md5 "
        f"{NB_TRAIN_PCT}% document split, add-one smoothing, classify "
        "held-out docs by lang; confusion matrix with per-true-class "
        "fractions. All log arguments are integers snapped to the "
        "1e-6 micro grid, scores are exact BIGINT folds, and the "
        "zero-count algebra keeps the scoring join on observed "
        "(word, class) pairs only (log2(0+1) = 0).",
    tags=("X177", "X18", "X44", "X7", "X3"),
)
def naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked
    from ..catalog import spread

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "lang", "text",
        (F.conv(F.substring(
            F.md5(F.concat(F.lit("nb:"),
                           F.col("doc_id").cast("string"))),
            1, 15), 16, 10).cast("long") % 100
         < NB_TRAIN_PCT).alias("tr"))
    tok = persist_tracked(d.select(
        "doc_id", "lang", "tr",
        F.explode(F.split(F.trim(F.lower(F.col("text"))),
                          r"\s+")).alias("w")))
    cw = persist_tracked(
        tok.filter("tr")
        .groupBy(F.col("lang").alias("cls"), "w")
        .agg(F.count("*").cast("long").alias("c")))
    totc = cw.groupBy("cls").agg(F.sum("c").cast("long").alias("tot"))
    vocab = cw.select("w").distinct()
    nv = vocab.agg(F.count("*").cast("long").alias("v"))
    ndc = (d.filter("tr").groupBy(F.col("lang").alias("cls"))
           .agg(F.count("*").cast("long").alias("nd")))
    ntr = ndc.agg(F.sum("nd").cast("long").alias("n"))

    def l2m(c):
        return F.round(F.log2(c) * 1e6, 0).cast("long")

    cc = (ndc.join(totc, "cls")
          .crossJoin(F.broadcast(nv)).crossJoin(F.broadcast(ntr))
          .select("cls",
                  (l2m(F.col("nd")) - l2m(F.col("n"))).alias("prior"),
                  l2m(F.col("tot") + F.col("v")).alias("den")))
    lw = cw.select("cls", "w", l2m(F.col("c") + 1).alias("lw"))
    tf = (tok.filter(~F.col("tr"))
          .join(vocab, "w")
          .groupBy("doc_id", F.col("lang").alias("true_lang"), "w")
          .agg(F.count("*").cast("long").alias("tf")))
    tf = persist_tracked(tf)
    md = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("m"))
    sp = (tf.join(lw, "w")
          .groupBy("doc_id", "cls")
          .agg(F.sum(F.col("tf") * F.col("lw")).cast("long")
               .alias("s")))
    td = d.filter(~F.col("tr")).select(
        "doc_id", F.col("lang").alias("true_lang"))
    score = (td.crossJoin(F.broadcast(cc))
             .join(sp, ["doc_id", "cls"], "left")
             .join(md, "doc_id", "left")
             .select("doc_id", "true_lang", "cls",
                     (F.col("prior") + F.coalesce("s", F.lit(0))
                      - F.coalesce("m", F.lit(0)) * F.col("den"))
                     .alias("score")))
    w_pred = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("cls"))
    pred = (score.withColumn("rn", F.row_number().over(w_pred))
            .filter("rn = 1")
            .select("doc_id", "true_lang",
                    F.col("cls").alias("pred_lang")))
    tt = td.groupBy("true_lang").agg(F.count("*").cast("long")
                                     .alias("nt"))
    return (pred.join(tt, "true_lang")
            .groupBy("true_lang", "pred_lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.round(F.count("*").cast("double") / F.min("nt"), 6)
                 .alias("frac"))
            .orderBy("true_lang", "pred_lang"))


# --------------------------------------------------------------------------
# X202: DP selection (exponential mechanism) — X164 released noisy
# COUNTS; this releases a noisy ARGMAX ("which brand has the best
# return record?") with the McSherry-Talwar exponential mechanism.
# The trick that makes it bit-exact: at epsilon = 2 ln 2 the
# selection weight exp(eps * u / 2) equals 2^u EXACTLY, so with
# integer utilities (return-free rate in decipoints, 0..10) the
# weights are exact BIGINT powers of two, the normalizer is their
# sum, and each of EM_DRAWS independent md5 draws selects the brand
# whose cumulative-weight interval contains h % W — pure integer
# arithmetic end to end (no transcendental is ever evaluated, the
# X103/X164 channel discipline). Exact selection probabilities ship
# alongside the empirical histogram.
# --------------------------------------------------------------------------
EM_DRAWS = 64


@register(
    "dp_exponential_selection",
    f"""
    WITH br AS (
        SELECT p.p_brand AS brand,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0
                        END) AS BIGINT) AS r
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand
    ),
    util AS (
        SELECT brand,
               CAST(ROUND(10.0 * (n - r) / n, 0) AS BIGINT) AS u
        FROM br
    ),
    wgt AS (
        SELECT brand, u, CAST(1 AS BIGINT) << u AS w FROM util
    ),
    cum AS (
        SELECT brand, u, w,
               CAST(SUM(w) OVER (ORDER BY brand) - w AS BIGINT) AS lo,
               CAST(SUM(w) OVER (ORDER BY brand) AS BIGINT) AS hi
        FROM wgt
    ),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS wt FROM wgt),
    draws AS (
        SELECT t, ('0x' || substr(md5('em:' || t), 1, 15))::BIGINT
                  % tot.wt AS x
        FROM generate_series(1, {EM_DRAWS}) AS g(t) CROSS JOIN tot
    ),
    sel AS (
        SELECT c.brand, CAST(COUNT(*) AS BIGINT) AS n_selected
        FROM draws d JOIN cum c ON d.x >= c.lo AND d.x < c.hi
        GROUP BY c.brand
    )
    SELECT c.brand, c.u AS utility, c.w AS weight,
           ROUND(CAST(c.w AS DOUBLE) / tot.wt, 6) AS exact_prob,
           COALESCE(s.n_selected, 0) AS n_selected
    FROM cum c CROSS JOIN tot
    LEFT JOIN sel s ON s.brand = c.brand
    ORDER BY c.brand
    """,
    doc=f"X202 DP exponential-mechanism selection at eps = 2 ln 2: "
        "integer utilities (return-free decipoints) make the "
        "exp(eps*u/2) weights EXACT BIGINT powers of two; "
        f"{EM_DRAWS} independent md5 draws pick by cumulative-weight "
        "interval (pure integer channel, no transcendental); exact "
        "probabilities reported beside the empirical histogram.",
    tags=("X202", "X164", "X72", "X106"),
)
def dp_exponential_selection(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    br = (li.join(pt, li.l_partkey == pt.p_partkey)
          .groupBy(F.col("p_brand").alias("brand"))
          .agg(F.count("*").cast("long").alias("n"),
               F.sum(F.when(F.col("l_returnflag") == "R", 1)
                     .otherwise(0)).cast("long").alias("r")))
    wgt = br.select(
        "brand",
        F.round(10.0 * (F.col("n") - F.col("r")) / F.col("n"), 0)
        .cast("long").alias("u")) \
        .withColumn("w", F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(u AS INT))"))
    wcum = Window.orderBy("brand").rowsBetween(
        Window.unboundedPreceding, 0)
    cum = persist_tracked(wgt.select(
        "brand", "u", "w",
        (F.sum("w").over(wcum) - F.col("w")).cast("long").alias("lo"),
        F.sum("w").over(wcum).cast("long").alias("hi")))
    tot = cum.agg(F.sum("w").cast("long").alias("wt"))
    draws = (spark.range(1, EM_DRAWS + 1).toDF("t")
             .crossJoin(F.broadcast(tot))
             .select((F.conv(F.substring(
                 F.md5(F.concat(F.lit("em:"),
                                F.col("t").cast("string"))),
                 1, 15), 16, 10).cast("long") % F.col("wt"))
                 .alias("x")))
    sel = (draws.join(cum, (F.col("x") >= F.col("lo"))
                      & (F.col("x") < F.col("hi")))
           .groupBy("brand")
           .agg(F.count("*").cast("long").alias("n_selected")))
    return (cum.crossJoin(F.broadcast(tot))
            .join(sel, "brand", "left")
            .select("brand", F.col("u").alias("utility"),
                    F.col("w").alias("weight"),
                    F.round(F.col("w").cast("double") / F.col("wt"),
                            6).alias("exact_prob"),
                    F.coalesce("n_selected", F.lit(0)).cast("long")
                    .alias("n_selected"))
            .orderBy("brand"))


# --------------------------------------------------------------------------
# X214: Local Outlier Factor — the density-RATIO outlier lens DBSCAN
# (X162, hard eps threshold) can't give: LOF(a) ~ mean neighbor
# density / own density, scoring HOW anomalous each customer is on
# the same (order-count, lifetime-value) integer plane. Exact-and-
# scalable construction: candidate pairs from the X162 grid probe
# (never all-pairs — the quadratic lives only in the oracle), k-NN by
# (d2, id) rank inside the eps ball, and the textbook k-distance is
# CENSORED at eps for points with < k eps-neighbors (kdist2 := EPS2+1
# — their true k-distance exceeds eps; documented variant, no
# cascading definitions). reach2 gets +1 so duplicate points can't
# zero the denominator; lrd and LOF are micro-snapped non-negative
# BIGINT divisions. Output: top-20 outliers.
# --------------------------------------------------------------------------
LOF_K = 5
LOF_EPS2 = 8          # squared epsilon; grid cell side 3 covers it
LOF_TOPK = 20


@register(
    "lof_rfm_outliers",
    f"""
    WITH pts AS (
        SELECT o_custkey AS id,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT)
                   // {DBSCAN_Y_DIV} AS y
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT a.id AS ia, b.id AS ib,
               CAST((a.x - b.x) * (a.x - b.x)
                    + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS d2
        FROM pts a JOIN pts b ON a.id <> b.id
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
              <= {LOF_EPS2}
    ),
    ranked AS (
        SELECT ia, ib, d2,
               ROW_NUMBER() OVER (PARTITION BY ia ORDER BY d2, ib)
                   AS rnk,
               COUNT(*) OVER (PARTITION BY ia) AS n_nb
        FROM pairs
    ),
    kdist AS (
        SELECT id,
               COALESCE(MAX(CASE WHEN rnk = {LOF_K} THEN d2 END),
                        {LOF_EPS2} + 1) AS kd2
        FROM (SELECT ia AS id, rnk, d2 FROM ranked) GROUP BY id
    ),
    knn AS (
        SELECT r.ia, r.ib, r.n_nb,
               GREATEST(k.kd2, r.d2) + 1 AS reach2
        FROM ranked r JOIN kdist k ON k.id = r.ib
        WHERE r.rnk <= {LOF_K}
    ),
    lrd AS (
        SELECT ia AS id, MIN(n_nb) AS n_nb,
               (CAST(COUNT(*) AS BIGINT) * 1000000000000)
                   // CAST(SUM(reach2) AS BIGINT) AS lrd_micro
        FROM knn GROUP BY ia
    ),
    lof AS (
        SELECT k.ia AS id, MIN(l.n_nb) AS n_nb,
               MIN(l.lrd_micro) AS lrd_micro,
               (CAST(SUM(nb.lrd_micro) AS BIGINT) * 1000000)
                   // ({LOF_K} * MIN(l.lrd_micro)) AS lof_micro
        FROM knn k
        JOIN lrd l ON l.id = k.ia
        JOIN lrd nb ON nb.id = k.ib
        WHERE l.n_nb >= {LOF_K}
        GROUP BY k.ia
    )
    SELECT id, CAST(n_nb AS BIGINT) AS n_nb,
           CAST(lrd_micro AS BIGINT) AS lrd_micro,
           CAST(lof_micro AS BIGINT) AS lof_micro
    FROM lof
    ORDER BY lof_micro DESC, id LIMIT {LOF_TOPK}
    """,
    doc=f"X214 Local Outlier Factor (k={LOF_K}, eps^2={LOF_EPS2}, "
        "censored k-distance at the eps ceiling) over customer "
        "(order-count, lifetime-cents/4e6) integer space: grid-probe "
        "candidate pairs, rank-k neighbors, micro-snapped lrd and LOF "
        "ratios — every division non-negative BIGINT. Top-20 "
        "outliers; oracle brute-forces the pairs. Python-replay "
        "law-tested.",
    tags=("X214", "X162", "X104", "X3", "X7", "X11", "X12"),
)
def lof_rfm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..caching import persist_tracked

    orders = load_table(spark, sf_dir, "orders")
    cents = F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100)
                  .cast("long")).cast("long")
    pts = persist_tracked(
        orders.groupBy(F.col("o_custkey").alias("id"))
        .agg(F.count("*").cast("long").alias("x"),
             cents.alias("cents"))
        .select("id", "x",
                F.expr(f"cents DIV {DBSCAN_Y_DIV}").alias("y")))
    side = 3  # covers eps = sqrt(8) < 3
    cells = pts.select("id", "x", "y",
                       F.expr(f"x DIV {side}").alias("cx"),
                       F.expr(f"y DIV {side}").alias("cy"))
    off = F.explode(F.array(*[F.lit(o) for o in (-1, 0, 1)]))
    probe = (cells.select("id", "x", "y", "cx", "cy", off.alias("dx"))
             .select("id", "x", "y",
                     (F.col("cx") + F.col("dx")).alias("cx"), "cy",
                     off.alias("dy"))
             .select("id", "x", "y", "cx",
                     (F.col("cy") + F.col("dy")).alias("cy")))
    a = probe.select(F.col("id").alias("ia"), F.col("x").alias("xa"),
                     F.col("y").alias("ya"), "cx", "cy")
    b = cells.select(F.col("id").alias("ib"), F.col("x").alias("xb"),
                     F.col("y").alias("yb"), "cx", "cy")
    d2 = ((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
          + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
    pairs = persist_tracked(
        a.join(b, ["cx", "cy"])
        .filter(F.col("ia") != F.col("ib"))
        .filter(d2 <= LOF_EPS2)
        .select("ia", "ib", d2.cast("long").alias("d2")).distinct())
    ranked = persist_tracked(pairs.select(
        "ia", "ib", "d2",
        F.row_number().over(W.partitionBy("ia").orderBy("d2", "ib"))
        .alias("rnk"),
        F.count("*").over(W.partitionBy("ia")).alias("n_nb")))
    kdist = (ranked.groupBy(F.col("ia").alias("id"))
             .agg(F.coalesce(
                 F.max(F.when(F.col("rnk") == LOF_K, F.col("d2"))),
                 F.lit(LOF_EPS2 + 1)).cast("long").alias("kd2")))
    knn = (ranked.filter(F.col("rnk") <= LOF_K)
           .join(kdist.select(F.col("id").alias("ib"), "kd2"), "ib")
           .select("ia", "ib", "n_nb",
                   (F.greatest("kd2", "d2") + 1).cast("long")
                   .alias("reach2")))
    lrd = persist_tracked(
        knn.groupBy(F.col("ia").alias("id"))
        .agg(F.min("n_nb").cast("long").alias("n_nb"),
             F.expr("(COUNT(*) * 1000000000000) DIV SUM(reach2)")
             .cast("long").alias("lrd_micro")))
    lof = (knn
           .join(lrd.select(F.col("id").alias("ia"),
                            F.col("n_nb").alias("a_nb"),
                            F.col("lrd_micro").alias("a_lrd")), "ia")
           .join(lrd.select(F.col("id").alias("ib"),
                            F.col("lrd_micro").alias("b_lrd")), "ib")
           .filter(F.col("a_nb") >= LOF_K)
           .groupBy(F.col("ia").alias("id"))
           .agg(F.min("a_nb").cast("long").alias("n_nb"),
                F.min("a_lrd").cast("long").alias("lrd_micro"),
                F.expr(f"(SUM(b_lrd) * 1000000)"
                       f" DIV ({LOF_K} * MIN(a_lrd))")
                .cast("long").alias("lof_micro")))
    return (lof.orderBy(F.desc("lof_micro"), F.asc("id"))
            .limit(LOF_TOPK)
            .select("id", "n_nb", "lrd_micro", "lof_micro"))


# --------------------------------------------------------------------------
# X220: isolation forest — the tree-ensemble anomaly lens next to
# X214's LOF (density ratios) and X49's series detectors: anomalous
# points isolate in FEW random splits, so score = average isolation
# depth over trees. Randomness is the md5 channel (axis and split
# drawn from md5(tree, node) — identical in both engines), splits are
# integer uniform in [lo, hi-1] of the node's actual axis range so
# both children are non-empty by construction; a node leafs when it
# is a singleton or its chosen axis has zero range. Each level is ONE
# (tree, node) aggregate + ONE broadcast-joined route — never a
# per-point loop; tree state is level-bounded. Output: top-20 most
# isolated customers by exact mean-depth micro units.
# --------------------------------------------------------------------------
IFOREST_TREES = 8
IFOREST_DEPTH = 6
IFOREST_TOPK = 20


def _if_h60(tag: str, duck: bool) -> str:
    arg = f"'{tag}:' || CAST(tree AS VARCHAR) || ':' || CAST(node AS VARCHAR)"
    if duck:
        return f"(('0x' || substr(md5({arg}), 1, 15))::BIGINT)"
    sarg = (f"concat('{tag}:', CAST(tree AS STRING), ':', "
            f"CAST(node AS STRING))")
    return f"CAST(conv(substring(md5({sarg}), 1, 15), 16, 10) AS BIGINT)"


def _iforest_oracle_sql() -> str:
    parts = [f"""pts AS (
        SELECT o_custkey AS id,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT)
                   // {DBSCAN_Y_DIV} AS y
        FROM orders GROUP BY 1
    ),
    trees AS (SELECT unnest(range(0, {IFOREST_TREES})) AS tree),
    l0 AS (
        SELECT t.tree, p.id, p.x, p.y, CAST(1 AS BIGINT) AS node,
               CAST(NULL AS BIGINT) AS depth
        FROM pts p CROSS JOIN trees t
    )"""]
    for k in range(IFOREST_DEPTH):
        h_ax = _if_h60("ax", True)
        h_sp = _if_h60("sp", True)
        parts.append(f"""st{k} AS (
        SELECT tree, node, COUNT(*) AS cnt,
               MIN(x) AS mnx, MAX(x) AS mxx,
               MIN(y) AS mny, MAX(y) AS mxy
        FROM l{k} WHERE depth IS NULL GROUP BY tree, node
    )""")
        parts.append(f"""sp{k} AS (
        SELECT tree, node,
               CASE WHEN cnt <= 1 THEN NULL
                    WHEN {h_ax} % 2 = 0 AND mxx > mnx THEN 0
                    WHEN {h_ax} % 2 = 1 AND mxy > mny THEN 1
                    ELSE NULL END AS axis,
               CASE WHEN cnt > 1 AND {h_ax} % 2 = 0 AND mxx > mnx
                    THEN mnx + {h_sp} % (mxx - mnx)
                    WHEN cnt > 1 AND {h_ax} % 2 = 1 AND mxy > mny
                    THEN mny + {h_sp} % (mxy - mny)
                    END AS s
        FROM st{k}
    )""")
        parts.append(f"""l{k + 1} AS (
        SELECT l.tree, l.id, l.x, l.y,
               CASE WHEN l.depth IS NOT NULL THEN l.node
                    WHEN sp.axis IS NULL THEN l.node
                    WHEN sp.axis = 0 AND l.x <= sp.s THEN 2 * l.node
                    WHEN sp.axis = 0 THEN 2 * l.node + 1
                    WHEN l.y <= sp.s THEN 2 * l.node
                    ELSE 2 * l.node + 1 END AS node,
               CASE WHEN l.depth IS NOT NULL THEN l.depth
                    WHEN sp.axis IS NULL THEN CAST({k} AS BIGINT)
                    END AS depth
        FROM l{k} l
        LEFT JOIN sp{k} sp ON sp.tree = l.tree AND sp.node = l.node
    )""")
    last = f"l{IFOREST_DEPTH}"
    return ("WITH " + ",\n".join(parts) + f"""
    SELECT id,
           CAST(SUM(COALESCE(depth, {IFOREST_DEPTH})) AS BIGINT)
               AS depth_sum,
           CAST(SUM(COALESCE(depth, {IFOREST_DEPTH})) * 1000000
                // {IFOREST_TREES} AS BIGINT) AS mean_depth_micro
    FROM {last}
    GROUP BY id
    ORDER BY mean_depth_micro, id LIMIT {IFOREST_TOPK}""")


@register(
    "iforest_rfm_outliers",
    _iforest_oracle_sql(),
    doc=f"X220 isolation forest ({IFOREST_TREES} trees, depth "
        f"{IFOREST_DEPTH}) over customer (order-count, lifetime-"
        "cents/4e6) integer space: md5-channel axis/split draws, "
        "integer-uniform splits inside the node's true range (both "
        "children non-empty), one aggregate + one broadcast route per "
        "level. Top-20 by exact mean isolation depth. Python forest "
        "replay law-tested.",
    tags=("X220", "X214", "X162", "X7", "X3", "X12"),
)
def iforest_rfm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    orders = load_table(spark, sf_dir, "orders")
    cents = F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100)
                  .cast("long")).cast("long")
    pts = (orders.groupBy(F.col("o_custkey").alias("id"))
           .agg(F.count("*").cast("long").alias("x"),
                cents.alias("cents"))
           .select("id", "x",
                   F.expr(f"cents DIV {DBSCAN_Y_DIV}").alias("y")))
    trees = spark.range(IFOREST_TREES).select(
        F.col("id").cast("long").alias("tree"))
    lvl = persist_tracked(
        pts.crossJoin(F.broadcast(trees))
        .select("tree", "id", "x", "y",
                F.lit(1).cast("long").alias("node"),
                F.lit(None).cast("long").alias("depth")))
    h_ax = _if_h60("ax", False)
    h_sp = _if_h60("sp", False)
    for k in range(IFOREST_DEPTH):
        st = (lvl.filter(F.col("depth").isNull())
              .groupBy("tree", "node")
              .agg(F.count("*").alias("cnt"),
                   F.min("x").alias("mnx"), F.max("x").alias("mxx"),
                   F.min("y").alias("mny"), F.max("y").alias("mxy")))
        sp = st.selectExpr(
            "tree", "node",
            f"""CASE WHEN cnt <= 1 THEN NULL
                 WHEN {h_ax} % 2 = 0 AND mxx > mnx THEN 0
                 WHEN {h_ax} % 2 = 1 AND mxy > mny THEN 1
                 ELSE NULL END AS axis""",
            f"""CASE WHEN cnt > 1 AND {h_ax} % 2 = 0 AND mxx > mnx
                 THEN mnx + {h_sp} % (mxx - mnx)
                 WHEN cnt > 1 AND {h_ax} % 2 = 1 AND mxy > mny
                 THEN mny + {h_sp} % (mxy - mny)
                 END AS s""")
        lvl = (lvl.join(F.broadcast(
                   sp.withColumnRenamed("tree", "sptree")
                   .withColumnRenamed("node", "spnode")),
                   (F.col("sptree") == F.col("tree"))
                   & (F.col("spnode") == F.col("node")), "left")
               .select(
                   "tree", "id", "x", "y",
                   F.expr(f"""CASE
                       WHEN depth IS NOT NULL THEN node
                       WHEN axis IS NULL THEN node
                       WHEN axis = 0 AND x <= s THEN 2 * node
                       WHEN axis = 0 THEN 2 * node + 1
                       WHEN y <= s THEN 2 * node
                       ELSE 2 * node + 1 END""").cast("long")
                   .alias("node"),
                   F.expr(f"""CASE WHEN depth IS NOT NULL THEN depth
                       WHEN axis IS NULL THEN CAST({k} AS BIGINT)
                       END""").cast("long").alias("depth"))
               .localCheckpoint())
    out = (lvl.groupBy("id")
           .agg(F.sum(F.coalesce("depth", F.lit(IFOREST_DEPTH)))
                .cast("long").alias("depth_sum"),
                F.expr(f"SUM(COALESCE(depth, {IFOREST_DEPTH}))"
                       f" * 1000000 DIV {IFOREST_TREES}")
                .cast("long").alias("mean_depth_micro")))
    return (out.orderBy(F.asc("mean_depth_micro"), F.asc("id"))
            .limit(IFOREST_TOPK)
            .select("id", "depth_sum", "mean_depth_micro"))


# --------------------------------------------------------------------------
# X238: EM for a two-component 1-D Gaussian mixture — the algorithmic
# family (expectation-maximization / latent-variable fitting) none of
# the other ML queries touch. Scale design: EM runs over the VALUE
# HISTOGRAM, not the rows — the E-step's float density evaluation
# happens once per distinct centi-snapped value (bounded domain), and
# the M-step folds histogram counts x micro-snapped responsibilities
# into DECIMAL(38,0)-safe moments, so a 100 TB fit costs one groupBy
# plus EM_ITERS tiny passes over the histogram frame. Init is the
# integer type-1 25th/75th percentile split read off the cumulative
# histogram (pure BIGINT comparisons) + pooled variance;
# responsibilities snap to the micro grid so both engines walk the
# same trajectory. Dempster-Laird-Rubin (1977); [EXT].
# Residual cross-engine risk (documented, same class as
# disparity_backbone's POW note): the E-step EXP/LN density is libm
# float math snapped by ROUND — a half-ulp JVM-vs-DuckDB difference at
# an exact .5 micro boundary would shift one responsibility by 1e-6.
# Mitigations: the snap happens ONCE per distinct centi-value (bounded
# domain, not per row), all downstream folds are exact
# DECIMAL(38,0)/BIGINT so a hit cannot compound, and no observed value
# sits on a boundary at sf0.001-0.1 (law test replays the trajectory).
# A rational-arithmetic EXP is not SQL-expressible; accepted as-is.
# --------------------------------------------------------------------------
EM_ITERS = 4

_GMM_RESP_EXPR = """CAST(ROUND(1000000 / (1 +
    EXP((LN(CAST(w2 AS DOUBLE) / 1000000)
         - 0.5 * LN(CAST(var2 AS DOUBLE))
         - CAST((v - mu2) * (v - mu2) AS DOUBLE)
           / (2 * CAST(var2 AS DOUBLE)))
      - (LN(CAST(w1 AS DOUBLE) / 1000000)
         - 0.5 * LN(CAST(var1 AS DOUBLE))
         - CAST((v - mu1) * (v - mu1) AS DOUBLE)
           / (2 * CAST(var1 AS DOUBLE))))), 0) AS BIGINT)"""


def _gmm_oracle_sql() -> str:
    mstep = """
        SELECT CAST(SUM(CAST(r AS DECIMAL(38,0)) * cnt) AS DECIMAL(38,0))
                   AS r1s,
               CAST(SUM(CAST(1000000 - r AS DECIMAL(38,0)) * cnt)
                    AS DECIMAL(38,0)) AS r2s,
               CAST(SUM(CAST(r AS DECIMAL(38,0)) * cnt * v)
                    AS DECIMAL(38,0)) AS r1v,
               CAST(SUM(CAST(1000000 - r AS DECIMAL(38,0)) * cnt * v)
                    AS DECIMAL(38,0)) AS r2v,
               CAST(SUM(CAST(r AS DECIMAL(38,0)) * cnt * v * v)
                    AS DECIMAL(38,0)) AS r1vv,
               CAST(SUM(CAST(1000000 - r AS DECIMAL(38,0)) * cnt * v * v)
                    AS DECIMAL(38,0)) AS r2vv,
               CAST(SUM(cnt) AS BIGINT) AS n
        FROM e{i}"""
    newpar = """
        SELECT CAST(ROUND(CAST(r1s AS DOUBLE) / CAST(n AS DOUBLE), 0)
                    AS BIGINT) AS w1,
               CAST(1000000 - ROUND(CAST(r1s AS DOUBLE)
                    / CAST(n AS DOUBLE), 0) AS BIGINT) AS w2,
               CAST(ROUND(CAST(r1v AS DOUBLE) / CAST(r1s AS DOUBLE), 0)
                    AS BIGINT) AS mu1,
               CAST(ROUND(CAST(r2v AS DOUBLE) / CAST(r2s AS DOUBLE), 0)
                    AS BIGINT) AS mu2,
               GREATEST(CAST(ROUND(CAST(r1vv AS DOUBLE)
                    / CAST(r1s AS DOUBLE)
                    - POW(CAST(r1v AS DOUBLE) / CAST(r1s AS DOUBLE), 2),
                    0) AS BIGINT), 1) AS var1,
               GREATEST(CAST(ROUND(CAST(r2vv AS DOUBLE)
                    / CAST(r2s AS DOUBLE)
                    - POW(CAST(r2v AS DOUBLE) / CAST(r2s AS DOUBLE), 2),
                    0) AS BIGINT), 1) AS var2
        FROM m{i}"""
    ctes = ["""hist AS MATERIALIZED (
        SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    )""", """cum AS MATERIALIZED (
        SELECT v, cnt, SUM(cnt) OVER (ORDER BY v) AS cc
        FROM hist
    )""", """tot AS MATERIALIZED (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(cnt * v) AS BIGINT) AS sv,
               CAST(SUM(cnt * v * v) AS BIGINT) AS svv
        FROM hist
    )""", """p0 AS MATERIALIZED (
        SELECT CAST(500000 AS BIGINT) AS w1,
               CAST(500000 AS BIGINT) AS w2,
               (SELECT MIN(v) FROM cum CROSS JOIN tot
                WHERE cc >= (n + 3) // 4) AS mu1,
               (SELECT MIN(v) FROM cum CROSS JOIN tot
                WHERE cc >= (3 * n + 3) // 4) AS mu2,
               GREATEST(CAST(ROUND((CAST(svv AS DOUBLE)
                    - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 0)
                    AS BIGINT), 1) AS var1,
               GREATEST(CAST(ROUND((CAST(svv AS DOUBLE)
                    - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 0)
                    AS BIGINT), 1) AS var2
        FROM tot
    )"""]
    rows = []
    prev = "p0"
    for i in range(1, EM_ITERS + 1):
        ctes.append(f"""e{i} AS MATERIALIZED (
        SELECT h.v, h.cnt, {_GMM_RESP_EXPR} AS r
        FROM hist h CROSS JOIN {prev}
    )""")
        ctes.append(f"m{i} AS MATERIALIZED ({mstep.format(i=i)}\n    )")
        ctes.append(f"p{i} AS MATERIALIZED ({newpar.format(i=i)}\n    )")
        rows.append(
            f"SELECT CAST({i} AS BIGINT) AS iter, w1 AS w1_micro,"
            f" mu1 AS mu1_centi, var1 AS var1_centi2,"
            f" mu2 AS mu2_centi, var2 AS var2_centi2 FROM p{i}")
        prev = f"p{i}"
    return ("WITH " + ",\n    ".join(ctes) + "\n"
            + "\nUNION ALL\n".join(rows))


@register(
    "gmm_em_values",
    _gmm_oracle_sql(),
    doc=f"X238 two-component 1-D Gaussian-mixture EM ({EM_ITERS} "
        "iterations) over centi-snapped event values: E-step densities "
        "evaluated once per HISTOGRAM bucket (never per row) with "
        "responsibilities snapped to the micro grid, M-step folds "
        "cnt x responsibility moments in DECIMAL(38,0), parameter "
        "updates are correctly-rounded double divisions snapped back "
        "to integer grids; init = integer type-1 quartile split + "
        "pooled variance. Trajectory output; Python EM replay + "
        "weight/variance-bound laws.",
    tags=("X238", "X60", "X7", "X49"),
)
def gmm_em_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hist = (ev.select(F.round(F.col("value") * 100, 0).cast("long")
                      .alias("v"))
            .groupBy("v").agg(F.count("*").cast("long").alias("cnt"))
            .localCheckpoint())
    w = Window.orderBy("v") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select("v", "cnt", F.sum("cnt").over(w).alias("cc"))
    tot = hist.agg(F.sum("cnt").cast("long").alias("n"),
                   F.sum(F.col("cnt") * F.col("v")).cast("long")
                   .alias("sv"),
                   F.sum(F.col("cnt") * F.col("v") * F.col("v"))
                   .cast("long").alias("svv"))
    q = cum.crossJoin(F.broadcast(tot))
    mu1 = q.filter(F.expr("cc >= (n + 3) DIV 4")) \
        .agg(F.min("v").alias("mu1"))
    mu2 = q.filter(F.expr("cc >= (3 * n + 3) DIV 4")) \
        .agg(F.min("v").alias("mu2"))
    var0 = tot.select(F.expr(
        "GREATEST(CAST(ROUND((CAST(svv AS DOUBLE)"
        " - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)"
        " / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 0)"
        " AS BIGINT), 1)").alias("v0"))
    params = (mu1.crossJoin(mu2).crossJoin(var0)
              .select(F.lit(500000).cast("long").alias("w1"),
                      F.lit(500000).cast("long").alias("w2"),
                      "mu1", "mu2",
                      F.col("v0").alias("var1"),
                      F.col("v0").alias("var2"))
              .localCheckpoint())
    out = None
    for i in range(1, EM_ITERS + 1):
        e = (hist.crossJoin(F.broadcast(params))
             .select("v", "cnt", F.expr(_GMM_RESP_EXPR).alias("r")))
        m = e.agg(
            F.expr("CAST(SUM(CAST(r AS DECIMAL(38,0)) * cnt)"
                   " AS DECIMAL(38,0))").alias("r1s"),
            F.expr("CAST(SUM(CAST(1000000 - r AS DECIMAL(38,0)) * cnt)"
                   " AS DECIMAL(38,0))").alias("r2s"),
            F.expr("CAST(SUM(CAST(r AS DECIMAL(38,0)) * cnt * v)"
                   " AS DECIMAL(38,0))").alias("r1v"),
            F.expr("CAST(SUM(CAST(1000000 - r AS DECIMAL(38,0)) * cnt"
                   " * v) AS DECIMAL(38,0))").alias("r2v"),
            F.expr("CAST(SUM(CAST(r AS DECIMAL(38,0)) * cnt * v * v)"
                   " AS DECIMAL(38,0))").alias("r1vv"),
            F.expr("CAST(SUM(CAST(1000000 - r AS DECIMAL(38,0)) * cnt"
                   " * v * v) AS DECIMAL(38,0))").alias("r2vv"),
            F.sum("cnt").cast("long").alias("n"))
        params = m.select(
            F.expr("CAST(ROUND(CAST(r1s AS DOUBLE) / CAST(n AS DOUBLE),"
                   " 0) AS BIGINT)").alias("w1"),
            F.expr("CAST(1000000 - ROUND(CAST(r1s AS DOUBLE)"
                   " / CAST(n AS DOUBLE), 0) AS BIGINT)").alias("w2"),
            F.expr("CAST(ROUND(CAST(r1v AS DOUBLE)"
                   " / CAST(r1s AS DOUBLE), 0) AS BIGINT)").alias("mu1"),
            F.expr("CAST(ROUND(CAST(r2v AS DOUBLE)"
                   " / CAST(r2s AS DOUBLE), 0) AS BIGINT)").alias("mu2"),
            F.expr("GREATEST(CAST(ROUND(CAST(r1vv AS DOUBLE)"
                   " / CAST(r1s AS DOUBLE)"
                   " - POW(CAST(r1v AS DOUBLE) / CAST(r1s AS DOUBLE),"
                   " 2), 0) AS BIGINT), 1)").alias("var1"),
            F.expr("GREATEST(CAST(ROUND(CAST(r2vv AS DOUBLE)"
                   " / CAST(r2s AS DOUBLE)"
                   " - POW(CAST(r2v AS DOUBLE) / CAST(r2s AS DOUBLE),"
                   " 2), 0) AS BIGINT), 1)").alias("var2")
        ).localCheckpoint()
        row = params.select(
            F.lit(i).cast("long").alias("iter"),
            F.col("w1").alias("w1_micro"),
            F.col("mu1").alias("mu1_centi"),
            F.col("var1").alias("var1_centi2"),
            F.col("mu2").alias("mu2_centi"),
            F.col("var2").alias("var2_centi2"))
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# X244: propensity-score stratification (Rosenbaum-Rubin
# subclassification) — the fourth causal estimator family next to
# g-formula standardization (X146), difference-in-differences (X158)
# and quantile treatment effects (X175): estimate each unit's
# propensity to receive treatment (deep discount) from its covariate
# cell (part brand), subclassify units into fixed-width propensity
# strata, take the within-stratum treated-minus-control outcome gap,
# and weight gaps by treated counts (the ATT weighting). Exact
# arithmetic throughout: cell propensities and stratum means are
# BIGINT micro floor-divisions, the final ATT is one weighted fold.
# Rosenbaum & Rubin (1983/84); [EXT].
# --------------------------------------------------------------------------
PS_STRATA = 5


@register(
    "propensity_stratified_att",
    f"""
    WITH units AS (
        SELECT p.p_brand AS brand,
               CASE WHEN l.l_discount > 0.05 THEN 1 ELSE 0 END AS tr,
               CAST(l.l_quantity AS BIGINT) AS y
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    prop AS (
        SELECT brand,
               CAST((SUM(tr) * 1000000) // COUNT(*) AS BIGINT) AS e
        FROM units GROUP BY brand
    ),
    strat AS (
        SELECT u.tr, u.y,
               LEAST({PS_STRATA - 1}, (p.e * {PS_STRATA}) // 1000000)
                   AS stratum
        FROM units u JOIN prop p ON p.brand = u.brand
    ),
    per AS (
        SELECT stratum,
               CAST(SUM(tr) AS BIGINT) AS n_treated,
               CAST(SUM(1 - tr) AS BIGINT) AS n_control,
               CAST(SUM(CASE WHEN tr = 1 THEN y ELSE 0 END)
                    AS BIGINT) AS yt,
               CAST(SUM(CASE WHEN tr = 0 THEN y ELSE 0 END)
                    AS BIGINT) AS yc
        FROM strat GROUP BY stratum
    ),
    gaps AS (
        SELECT stratum, n_treated, n_control,
               CAST((yt * 1000000) // n_treated
                    - (yc * 1000000) // n_control AS BIGINT)
                   AS gap_micro
        FROM per WHERE n_treated > 0 AND n_control > 0
    )
    SELECT CAST(stratum AS BIGINT) AS stratum, n_treated, n_control,
           gap_micro AS att_micro
    FROM gaps
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(SUM(n_treated) AS BIGINT),
           CAST(SUM(n_control) AS BIGINT),
           CAST(SUM(n_treated * gap_micro) // SUM(n_treated)
                AS BIGINT)
    FROM gaps
    """,
    doc=f"X244 propensity-score subclassification ATT: propensity per "
        "covariate cell (brand) as exact micro floor-division, "
        f"{PS_STRATA} fixed-width strata, within-stratum treated-minus-"
        "control quantity gap (micro), treated-count-weighted overall "
        "ATT as the stratum = -1 row. Two aggregates + one broadcast "
        "join; all-integer. Python replay + conservation laws.",
    tags=("X244", "X146", "X158", "X7", "X3"),
)
def propensity_stratified_att(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    units = (li.join(p, p.p_partkey == li.l_partkey)
             .select(F.col("p_brand").alias("brand"),
                     F.when(F.col("l_discount") > 0.05, 1).otherwise(0)
                     .alias("tr"),
                     F.col("l_quantity").cast("long").alias("y")))
    prop = (units.groupBy("brand")
            .agg(F.expr("(SUM(tr) * 1000000) DIV COUNT(*)")
                 .cast("long").alias("e")))
    strat = (units.join(F.broadcast(prop), "brand")
             .select("tr", "y",
                     F.least(F.lit(PS_STRATA - 1),
                             F.expr(f"(e * {PS_STRATA}) DIV 1000000"))
                     .alias("stratum")))
    per = (strat.groupBy("stratum")
           .agg(F.sum("tr").cast("long").alias("n_treated"),
                F.sum(1 - F.col("tr")).cast("long").alias("n_control"),
                F.sum(F.when(F.col("tr") == 1, F.col("y")).otherwise(0))
                .cast("long").alias("yt"),
                F.sum(F.when(F.col("tr") == 0, F.col("y")).otherwise(0))
                .cast("long").alias("yc")))
    gaps = (per.filter((F.col("n_treated") > 0)
                       & (F.col("n_control") > 0))
            .select("stratum", "n_treated", "n_control",
                    F.expr("(yt * 1000000) DIV n_treated"
                           " - (yc * 1000000) DIV n_control")
                    .cast("long").alias("gap_micro"))
            .localCheckpoint())
    strata_rows = gaps.select(
        F.col("stratum").cast("long"), "n_treated", "n_control",
        F.col("gap_micro").alias("att_micro"))
    total = gaps.agg(
        F.lit(-1).cast("long").alias("stratum"),
        F.sum("n_treated").cast("long").alias("n_treated"),
        F.sum("n_control").cast("long").alias("n_control"),
        F.expr("SUM(n_treated * gap_micro) DIV SUM(n_treated)")
        .cast("long").alias("att_micro"))
    return strata_rows.unionByName(total)


# --------------------------------------------------------------------------
# X252: randomization significance test — the TESTING member of the
# resampling family (X103 bootstrap builds CIs, X179 jackknife builds
# SEs; this builds a NULL DISTRIBUTION): is the deep-discount effect
# on quantity distinguishable from label noise? The observed
# treated-vs-control gap is compared against RT_PERMS md5-seeded
# pseudo-assignments that preserve the treated fraction in
# expectation (binomial randomization — the standard Monte Carlo
# stand-in for the exact permutation test, Dwass 1957); every
# reassignment is a pure hash of (perm, row key), so both engines and
# task retries draw the identical null. p = (1 + #{|null| >= |obs|})
# / (K + 1), all folds exact BIGINT, gaps micro floor-divided.
# Fisher (1935), Dwass (1957); [EXT].
# --------------------------------------------------------------------------
RT_PERMS = 32


@register(
    "randomization_test_discount",
    f"""
    WITH units AS (
        SELECT l_orderkey * 10 + l_linenumber AS rid,
               CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS tr,
               CAST(l_quantity AS BIGINT) AS y
        FROM lineitem
    ),
    frac AS (
        SELECT CAST((SUM(tr) * 1000000) // COUNT(*) AS BIGINT) AS pt
        FROM units
    ),
    perms AS (SELECT unnest(range(0, {RT_PERMS + 1})) AS k),
    assigned AS (
        SELECT p.k, u.y,
               CASE WHEN p.k = 0 THEN u.tr
                    WHEN CAST(('0x' || substr(md5('rt:' ||
                         CAST(p.k AS VARCHAR) || ':' ||
                         CAST(u.rid AS VARCHAR)), 1, 15)) AS BIGINT)
                         % 1000000 < f.pt
                    THEN 1 ELSE 0 END AS a
        FROM units u CROSS JOIN perms p CROSS JOIN frac f
    ),
    gaps AS (
        SELECT k,
               CAST(SUM(a) AS BIGINT) AS nt,
               CAST(SUM(1 - a) AS BIGINT) AS nc,
               CAST((SUM(CASE WHEN a = 1 THEN y ELSE 0 END) * 1000000)
                    // SUM(a)
                    - (SUM(CASE WHEN a = 0 THEN y ELSE 0 END)
                       * 1000000) // SUM(1 - a) AS BIGINT) AS gap_micro
        FROM assigned GROUP BY k
    ),
    obs AS (SELECT ABS(gap_micro) AS og FROM gaps WHERE k = 0)
    SELECT g.k AS perm, g.nt, g.nc, g.gap_micro,
           CASE WHEN g.k > 0 AND ABS(g.gap_micro) >= o.og
                THEN 1 ELSE 0 END AS exceeds,
           CAST((1 + (SELECT SUM(CASE WHEN k2.k > 0
                          AND ABS(k2.gap_micro) >= o.og THEN 1 ELSE 0
                          END) FROM gaps k2)) * 1000000
                // ({RT_PERMS} + 1) AS BIGINT) AS p_value_micro
    FROM gaps g CROSS JOIN obs o
    """,
    doc=f"X252 randomization test of the deep-discount quantity "
        f"effect: observed gap vs {RT_PERMS} md5-seeded binomial "
        "pseudo-assignments (treated fraction preserved in "
        "expectation; hash-of-(perm, row) so the null is identical "
        "cross-engine and under retries); exact BIGINT folds, "
        "micro gaps, Monte Carlo p = (1 + exceed count)/(K+1). "
        "ONE scan, ZERO row fan-out (round-6 re-plan): all K+1 "
        "labelings fold as 2(K+1) conditional aggregates in a single "
        "pass — the K+1-way row explode the r5 plan shuffled is gone; "
        "the per-perm table unpivots from the 1-row fold via stack. "
        "Python replay + p-in-(0,1] + observed-row laws.",
    tags=("X252", "X103", "X179", "X56", "X7"),
)
def randomization_test_discount(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    units = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        F.when(F.col("l_discount") > 0.05, 1).otherwise(0).alias("tr"),
        F.col("l_quantity").cast("long").alias("y"))
    frac = units.agg(F.expr("(SUM(tr) * 1000000) DIV COUNT(*)")
                     .cast("long").alias("pt"))
    # All K+1 labelings in ONE aggregation pass: per perm k only
    # sum(a_k) and sum(a_k * y) are needed (control side = global
    # totals minus treated side), so the K+1-way row explode becomes
    # 2(K+1) conditional BIGINT folds over the single scan.
    proj = [F.col("y"), F.col("tr").alias("a_0")]
    for k in range(1, RT_PERMS + 1):
        proj.append(F.expr(
            f"CASE WHEN CAST(conv(substring(md5(concat('rt:{k}:', "
            f"CAST(rid AS STRING))), 1, 15), 16, 10) AS BIGINT) "
            f"% 1000000 < pt THEN 1 ELSE 0 END").alias(f"a_{k}"))
    # K+1 md5s per row is CPU-bound; a tiny parquet arrives as 1-3
    # input splits, which would serialize the hashing on a few cores.
    # Redistribute the narrow unit rows first (cheap: 3 small columns)
    # so the hash work uses the whole executor pool — at real scale
    # the scan already provides this parallelism.
    nparts = spark.sparkContext.defaultParallelism
    assigned = (units.repartition(nparts)
                .crossJoin(F.broadcast(frac)).select(*proj))
    aggs = [F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("sy")]
    for k in range(RT_PERMS + 1):
        aggs.append(F.sum(f"a_{k}").cast("long").alias(f"nt_{k}"))
        aggs.append(F.sum(F.col(f"a_{k}") * F.col("y")).cast("long")
                    .alias(f"syt_{k}"))
    fold = assigned.agg(*aggs)
    stack_args = ", ".join(
        f"{k}L, nt_{k}, syt_{k}" for k in range(RT_PERMS + 1))
    gaps = (fold.selectExpr(
        "n", "sy",
        f"stack({RT_PERMS + 1}, {stack_args}) AS (k, nt, syt)")
        .selectExpr(
            "k", "nt", "CAST(n - nt AS BIGINT) AS nc",
            "CAST((syt * 1000000) DIV nt"
            " - ((sy - syt) * 1000000) DIV (n - nt) AS BIGINT)"
            " AS gap_micro")
        .localCheckpoint())
    obs = gaps.filter(F.col("k") == 0) \
        .select(F.abs("gap_micro").alias("og"))
    exc = (gaps.crossJoin(F.broadcast(obs))
           .agg(F.sum(F.when((F.col("k") > 0)
                             & (F.abs("gap_micro") >= F.col("og")), 1)
                      .otherwise(0)).cast("long").alias("ne")))
    return (gaps.crossJoin(F.broadcast(obs))
            .crossJoin(F.broadcast(exc))
            .select(F.col("k").alias("perm"), "nt", "nc", "gap_micro",
                    F.when((F.col("k") > 0)
                           & (F.abs("gap_micro") >= F.col("og")), 1)
                    .otherwise(0).alias("exceeds"),
                    F.expr(f"CAST((1 + ne) * 1000000"
                           f" DIV ({RT_PERMS} + 1) AS BIGINT)")
                    .alias("p_value_micro")))


# --------------------------------------------------------------------------
# X255: local differential privacy — randomized response (Warner 1965,
# the k-ary RAPPOR core). The privacy family's third mechanism class:
# X164 adds CENTRAL noise to exact aggregates, X202 selects privately;
# randomized response perturbs EACH ROW before aggregation, so the
# collector never sees a true record — the trust model edge devices /
# telemetry actually need. Each event keeps its true type w.p. q=3/4
# (md5 coin) else reports an md5-uniform type among the k=5; the
# debiased estimator n_hat = (obs - n(1-q)/k) / q then recovers the
# true histogram. Coins are md5-derived so BOTH engines replay the
# identical mechanism; the estimator is pure BIGINT floor division.
# Epsilon = ln(1 + k*q/(1-q)) = ln 16 here, reported for the audit.
# --------------------------------------------------------------------------
RR_KEEP_PCT = 75
RR_CATS = ("click", "error", "purchase", "signup", "view")


def _rr_case(duck: bool) -> str:
    h = ("(('0x' || substr(md5('rrf:' || CAST(event_id AS VARCHAR)), "
         "1, 15))::BIGINT)") if duck else \
        ("CAST(conv(substring(md5(concat('rrf:', CAST(event_id AS "
         "STRING))), 1, 15), 16, 10) AS BIGINT)")
    coin = ("(('0x' || substr(md5('rrc:' || CAST(event_id AS VARCHAR)), "
            "1, 15))::BIGINT)") if duck else \
           ("CAST(conv(substring(md5(concat('rrc:', CAST(event_id AS "
            "STRING))), 1, 15), 16, 10) AS BIGINT)")
    fake = "CASE " + " ".join(
        f"WHEN {h} % 5 = {i} THEN '{c}'" for i, c in enumerate(RR_CATS)
    ) + " END"
    return (f"CASE WHEN {coin} % 100 < {RR_KEEP_PCT} "
            f"THEN event_type ELSE {fake} END")


@register(
    "randomized_response_freq",
    f"""
    WITH rep AS (
        SELECT event_type AS true_type,
               {_rr_case(True)} AS rep_type
        FROM events
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rep),
    t AS (SELECT true_type, CAST(COUNT(*) AS BIGINT) AS true_n
          FROM rep GROUP BY 1),
    o AS (SELECT rep_type, CAST(COUNT(*) AS BIGINT) AS obs_n
          FROM rep GROUP BY 1)
    SELECT t.true_type AS event_type, t.true_n, o.obs_n,
           CAST(((o.obs_n * 1000000 - (tot.n * 1000000) // 20) * 4)
                // 3 AS BIGINT) AS est_micro,
           CAST(ABS(((o.obs_n * 1000000 - (tot.n * 1000000) // 20) * 4)
                    // 3 - t.true_n * 1000000) AS BIGINT)
               AS abs_err_micro
    FROM t JOIN o ON o.rep_type = t.true_type CROSS JOIN tot
    """,
    doc=f"X255 k-ary randomized response (Warner 1965) over event "
        f"types: each row keeps its true type w.p. {RR_KEEP_PCT}/100 "
        "(md5 coin) else reports an md5-uniform type; the debiased "
        "estimator (obs - n/20)*4/3 recovers the histogram in pure "
        "BIGINT floor division. LOCAL privacy (rows perturbed before "
        "collection) next to X164's central Laplace and X202's "
        "exponential selection; both engines replay the identical "
        "md5 mechanism. Python replay + unbiasedness-bound laws.",
    tags=("X255", "X164", "X26", "X7", "X14"),
)
def randomized_response_freq(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    rep = ev.selectExpr("event_type AS true_type",
                        f"{_rr_case(False)} AS rep_type")
    tot = rep.agg(F.count("*").cast("long").alias("n"))
    t = (rep.groupBy("true_type")
         .agg(F.count("*").cast("long").alias("true_n")))
    o = (rep.groupBy("rep_type")
         .agg(F.count("*").cast("long").alias("obs_n")))
    return (t.join(o, t.true_type == o.rep_type)
            .crossJoin(F.broadcast(tot))
            .selectExpr(
                "true_type AS event_type", "true_n", "obs_n",
                "CAST(((obs_n * 1000000 - (n * 1000000) DIV 20) * 4)"
                " DIV 3 AS BIGINT) AS est_micro",
                "CAST(ABS(((obs_n * 1000000 - (n * 1000000) DIV 20)"
                " * 4) DIV 3 - true_n * 1000000) AS BIGINT)"
                " AS abs_err_micro"))


# --------------------------------------------------------------------------
# X262: Mondrian k-anonymity partitioning (LeFevre et al., ICDE 2006)
# — the CONSTRUCTIVE side of the privacy audits: X72 walks a fixed
# generalization ladder and X231 AUDITS l-diversity/t-closeness;
# Mondrian BUILDS the partition, recursively median-splitting the
# (quantity, price) quasi-identifier space so every leaf stays
# k-anonymous-sized. MONDRIAN_ROUNDS fixed rounds, alternating split
# dimension; each round's per-cell median comes from a VALUE-HISTOGRAM
# prefix sum (groupBy (cell, value) + running count — never a full
# data sort, the 100 TB-safe exact-median plan), and rows route
# left/right by integer comparison. Output: per-leaf extent, size,
# and k-anonymity flag.
# --------------------------------------------------------------------------
MONDRIAN_ROUNDS = 3
MONDRIAN_K = 25


def _mondrian_oracle_sql() -> str:
    parts = ["""c0 AS (
        SELECT '' AS cell,
               CAST(l_quantity AS BIGINT) AS q,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS pr
        FROM lineitem)"""]
    for r in range(MONDRIAN_ROUNDS):
        dim = "q" if r % 2 == 0 else "pr"
        parts.append(f"""h{r} AS (
        SELECT cell, {dim} AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM c{r} GROUP BY 1, 2)""")
        parts.append(f"""m{r} AS (
        SELECT cell, MIN(v) AS med FROM (
            SELECT cell, v,
                   SUM(c) OVER (PARTITION BY cell ORDER BY v) AS cum,
                   SUM(c) OVER (PARTITION BY cell) AS tot
            FROM h{r})
        WHERE cum >= (tot + 1) // 2 GROUP BY cell)""")
        parts.append(f"""c{r + 1} AS (
        SELECT c.cell || CASE WHEN c.{dim} <= m.med
                              THEN 'L' ELSE 'R' END AS cell,
               c.q, c.pr
        FROM c{r} c JOIN m{r} m ON m.cell = c.cell)""")
    return ("WITH " + ",\n".join(parts) + f"""
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(q) AS BIGINT) AS q_min,
           CAST(MAX(q) AS BIGINT) AS q_max,
           CAST(MIN(pr) AS BIGINT) AS pr_min,
           CAST(MAX(pr) AS BIGINT) AS pr_max,
           CASE WHEN COUNT(*) >= {MONDRIAN_K} THEN 1 ELSE 0 END
               AS k_anon_ok
    FROM c{MONDRIAN_ROUNDS} GROUP BY cell""")


@register(
    "mondrian_kanon_partition",
    _mondrian_oracle_sql(),
    doc=f"X262 Mondrian k-anonymity partitioning (LeFevre 2006), "
        f"{MONDRIAN_ROUNDS} alternating median splits over the "
        "(quantity, price-cents) quasi-identifier space: per-cell "
        "exact lower medians via value-histogram prefix sums (groupBy "
        "+ running count — no full sort at any scale), integer "
        f"left/right routing, per-leaf extents and k>={MONDRIAN_K} "
        "flags. The constructive partitioner next to X72's ladder "
        "and X231's audits. Python replay + leaf-partition + "
        "median-balance laws.",
    tags=("X262", "X72", "X231", "X7", "X11"),
)
def mondrian_kanon_partition(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(
        F.lit("").alias("cell"),
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        .alias("pr"))
    for r in range(MONDRIAN_ROUNDS):
        dim = "q" if r % 2 == 0 else "pr"
        h = (c.groupBy("cell", F.col(dim).alias("v"))
             .agg(F.count("*").cast("long").alias("cnt")))
        wc = (Window.partitionBy("cell").orderBy("v")
              .rowsBetween(Window.unboundedPreceding, 0))
        wt = Window.partitionBy("cell")
        m = (h.select("cell", "v",
                      F.sum("cnt").over(wc).alias("cum"),
                      F.sum("cnt").over(wt).alias("tot"))
             .filter(F.col("cum") >= F.expr("(tot + 1) DIV 2"))
             .groupBy("cell").agg(F.min("v").alias("med")))
        c = (c.join(m, "cell")
             .select(F.concat(F.col("cell"),
                              F.when(F.col(dim) <= F.col("med"),
                                     F.lit("L")).otherwise(F.lit("R")))
                     .alias("cell"), "q", "pr"))
    return (c.groupBy("cell")
            .agg(F.count("*").cast("long").alias("n"),
                 F.min("q").cast("long").alias("q_min"),
                 F.max("q").cast("long").alias("q_max"),
                 F.min("pr").cast("long").alias("pr_min"),
                 F.max("pr").cast("long").alias("pr_max"),
                 F.when(F.count("*") >= MONDRIAN_K, 1).otherwise(0)
                 .cast("int").alias("k_anon_ok")))


# --------------------------------------------------------------------------
# X272: group-fairness audit — the evaluation family none of the
# other ML-eval classes cover: X92/X76/X256 score a classifier
# GLOBALLY, X137 picks its threshold, but a 100 TB training-data
# platform must also report HOW THE ERROR IS DISTRIBUTED across
# protected groups before the model (or the dataset) ships. Audits
# the fixed-threshold price classifier (pred = cents >= FAIR_THRESH,
# target l_returnflag = 'R') per customer nation: selection rate
# (demographic parity), TPR (equal opportunity) and FPR gaps vs the
# pooled rates — Hardt et al. (NeurIPS 2016) equalized-odds metrics.
# Exactness: every rate is ONE correctly-rounded division of exact
# BIGINT confusion counts snapped to the micro grid; gaps are integer
# subtractions of the snapped rates; the pooled row broadcasts.
# Scale: one fact pass -> per-nation counts (dimension-sized);
# everything after is arithmetic on 25 rows. [EXT]
# --------------------------------------------------------------------------
FAIR_THRESH = 5300000  # centi-price classifier threshold (~median)
FAIR_LABEL = "R"


@register(
    "fairness_group_audit",
    f"""
    WITH base AS (
        SELECT n.n_name AS grp,
               CASE WHEN l.l_returnflag = '{FAIR_LABEL}' THEN 1 ELSE 0
                    END AS y,
               CASE WHEN CAST(FLOOR(l.l_extendedprice * 100 + 0.5)
                         AS BIGINT) >= {FAIR_THRESH} THEN 1 ELSE 0
                    END AS p
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (
        SELECT grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(SUM(p) AS BIGINT) AS n_sel,
               CAST(SUM(y * p) AS BIGINT) AS tp,
               CAST(SUM((1 - y) * p) AS BIGINT) AS fp
        FROM base GROUP BY grp
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(n_pos) AS BIGINT) AS n_pos,
               CAST(SUM(n_sel) AS BIGINT) AS n_sel,
               CAST(SUM(tp) AS BIGINT) AS tp,
               CAST(SUM(fp) AS BIGINT) AS fp
        FROM g
    )
    SELECT g.grp, g.n, g.n_pos, g.n_sel, g.tp, g.fp,
           CAST(ROUND(CAST(g.n_sel * 1000000 AS DOUBLE) / g.n, 0)
                AS BIGINT) AS sel_micro,
           CASE WHEN g.n_pos > 0 THEN
               CAST(ROUND(CAST(g.tp * 1000000 AS DOUBLE) / g.n_pos, 0)
                    AS BIGINT)
           ELSE 0 END AS tpr_micro,
           CASE WHEN g.n - g.n_pos > 0 THEN
               CAST(ROUND(CAST(g.fp * 1000000 AS DOUBLE)
                          / (g.n - g.n_pos), 0) AS BIGINT)
           ELSE 0 END AS fpr_micro,
           CAST(ROUND(CAST(g.n_sel * 1000000 AS DOUBLE) / g.n, 0)
                AS BIGINT)
           - CAST(ROUND(CAST(t.n_sel * 1000000 AS DOUBLE) / t.n, 0)
                  AS BIGINT)
               AS dp_gap_micro,
           CASE WHEN g.n_pos > 0 THEN
               CAST(ROUND(CAST(g.tp * 1000000 AS DOUBLE) / g.n_pos, 0)
                    AS BIGINT)
           ELSE 0 END
           - CAST(ROUND(CAST(t.tp * 1000000 AS DOUBLE) / t.n_pos, 0)
                  AS BIGINT)
               AS tpr_gap_micro,
           CASE WHEN g.n - g.n_pos > 0 THEN
               CAST(ROUND(CAST(g.fp * 1000000 AS DOUBLE)
                          / (g.n - g.n_pos), 0) AS BIGINT)
           ELSE 0 END
           - CAST(ROUND(CAST(t.fp * 1000000 AS DOUBLE)
                        / (t.n - t.n_pos), 0) AS BIGINT)
               AS fpr_gap_micro
    FROM g CROSS JOIN tot t
    """,
    doc=f"X272 group-fairness audit of the fixed-threshold price "
        f"classifier (cents >= {FAIR_THRESH} predicting "
        f"l_returnflag='{FAIR_LABEL}') across customer nations: "
        "per-group selection rate, TPR, FPR plus demographic-parity / "
        "equalized-odds gaps vs the pooled rates (Hardt 2016). Exact "
        "BIGINT confusion counts; each rate is one correctly-rounded "
        "micro-snapped division; gaps subtract snapped integers. One "
        "fact pass, dimension-sized everything after. Python replay + "
        "confusion-consistency laws.",
    tags=("X272", "X92", "X76", "X3", "X7"),
)
def fairness_group_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    base = (li.join(o, o.o_orderkey == li.l_orderkey)
            .join(c, c.c_custkey == o.o_custkey)
            .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
            .select(
                F.col("n_name").alias("grp"),
                F.when(F.col("l_returnflag") == FAIR_LABEL, 1)
                .otherwise(0).alias("y"),
                F.when(F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5)"
                              " AS BIGINT)") >= FAIR_THRESH, 1)
                .otherwise(0).alias("p")))
    g = base.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("p").cast("long").alias("n_sel"),
        F.sum(F.col("y") * F.col("p")).cast("long").alias("tp"),
        F.sum((1 - F.col("y")) * F.col("p")).cast("long").alias("fp"))
    tot = g.agg(F.sum("n").cast("long").alias("tn_"),
                F.sum("n_pos").cast("long").alias("tpos"),
                F.sum("n_sel").cast("long").alias("tsel"),
                F.sum("tp").cast("long").alias("ttp"),
                F.sum("fp").cast("long").alias("tfp"))
    # r7 ADVICE (medium): a bare `x * 1000000.0` literal is DECIMAL
    # arithmetic in Spark but DOUBLE in DuckDB — build the dividend in
    # BIGINT and CAST(... AS DOUBLE) so both engines provably execute
    # one IEEE double division (the cmh/ipf/KSV pattern).
    return (g.crossJoin(F.broadcast(tot))
            .selectExpr(
                "grp", "n", "n_pos", "n_sel", "tp", "fp",
                "CAST(ROUND(CAST(n_sel * 1000000 AS DOUBLE) / n, 0)"
                " AS BIGINT) AS sel_micro",
                "CASE WHEN n_pos > 0 THEN"
                " CAST(ROUND(CAST(tp * 1000000 AS DOUBLE) / n_pos, 0)"
                " AS BIGINT) ELSE 0L END AS tpr_micro",
                "CASE WHEN n - n_pos > 0 THEN"
                " CAST(ROUND(CAST(fp * 1000000 AS DOUBLE)"
                " / (n - n_pos), 0) AS BIGINT)"
                " ELSE 0L END AS fpr_micro",
                "CAST(ROUND(CAST(n_sel * 1000000 AS DOUBLE) / n, 0)"
                " AS BIGINT)"
                " - CAST(ROUND(CAST(tsel * 1000000 AS DOUBLE) / tn_, 0)"
                " AS BIGINT) AS dp_gap_micro",
                "CASE WHEN n_pos > 0 THEN"
                " CAST(ROUND(CAST(tp * 1000000 AS DOUBLE) / n_pos, 0)"
                " AS BIGINT) ELSE 0L END"
                " - CAST(ROUND(CAST(ttp * 1000000 AS DOUBLE) / tpos, 0)"
                " AS BIGINT) AS tpr_gap_micro",
                "CASE WHEN n - n_pos > 0 THEN"
                " CAST(ROUND(CAST(fp * 1000000 AS DOUBLE)"
                " / (n - n_pos), 0) AS BIGINT) ELSE 0L END"
                " - CAST(ROUND(CAST(tfp * 1000000 AS DOUBLE)"
                " / (tn_ - tpos), 0)"
                " AS BIGINT) AS fpr_gap_micro"))


# --------------------------------------------------------------------------
# X286: McNemar paired-classifier test — marginal-homogeneity testing
# on PAIRED predictions, the model-comparison step the suite lacks:
# X92/X137 score ONE classifier, X138's kappa measures agreement
# (two raters can agree and both be wrong); McNemar asks whether two
# classifiers' ACCURACIES differ, using only the discordant pairs
# (b = A right/B wrong, c = B right/A wrong; the concordant cells
# carry no information about the difference). Raters: the price rule
# (cents >= MCN_PRICE_CENTS) vs the quantity rule (qty >= MCN_QTY),
# both predicting l_returnflag='R'. chi2 = (b-c)^2/(b+c) and the
# Edwards continuity-corrected (max(|b-c|-1,0))^2/(b+c), each ONE
# correctly-rounded DOUBLE division of a DECIMAL(38,0)/HUGEINT-exact
# dividend; accuracies micro-snapped the same way. One fact pass,
# one 4-cell aggregate. [EXT]
# --------------------------------------------------------------------------
MCN_PRICE_CENTS = 3000000
MCN_QTY = 25


@register(
    "mcnemar_paired_rules",
    f"""
    WITH scored AS (
        SELECT CASE WHEN (CAST(FLOOR(l_extendedprice * 100 + 0.5)
                          AS BIGINT) >= {MCN_PRICE_CENTS})
                         = (l_returnflag = 'R')
                    THEN 1 ELSE 0 END AS a_ok,
               CASE WHEN (l_quantity >= {MCN_QTY})
                         = (l_returnflag = 'R')
                    THEN 1 ELSE 0 END AS b_ok
        FROM lineitem
    ),
    cells AS (
        SELECT CAST(SUM(a_ok * b_ok) AS BIGINT) AS cc,
               CAST(SUM(a_ok * (1 - b_ok)) AS BIGINT) AS b,
               CAST(SUM((1 - a_ok) * b_ok) AS BIGINT) AS c,
               CAST(SUM((1 - a_ok) * (1 - b_ok)) AS BIGINT) AS dd,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM scored
    )
    SELECT cc AS both_correct, b AS only_price, c AS only_qty,
           dd AS both_wrong, n,
           -- r8 ADVICE: cast ONE operand wide BEFORE the square so
           -- the multiply itself runs in HUGEINT (the brown_forsythe
           -- gz/ssb pattern) — a 64-bit (b-c)*(b-c) pre-cast would
           -- overflow before the widening CAST could protect it at
           -- the 100x scales where b-c can exceed 3e9.
           CASE WHEN b + c > 0 THEN
               CAST(ROUND(CAST(CAST(b - c AS HUGEINT) * (b - c)
                    * 1000000 AS DOUBLE) / (b + c), 0) AS BIGINT)
           ELSE 0 END AS chi2_micro,
           CASE WHEN b + c > 0 THEN
               CAST(ROUND(CAST(CAST(GREATEST(ABS(b - c) - 1, 0)
                    AS HUGEINT) * GREATEST(ABS(b - c) - 1, 0)
                    * 1000000 AS DOUBLE) / (b + c), 0) AS BIGINT)
           ELSE 0 END AS chi2_cc_micro,
           CAST(ROUND(CAST((cc + b) * 1000000 AS DOUBLE) / n, 0)
                AS BIGINT) AS acc_price_micro,
           CAST(ROUND(CAST((cc + c) * 1000000 AS DOUBLE) / n, 0)
                AS BIGINT) AS acc_qty_micro
    FROM cells
    """,
    doc=f"X286 McNemar marginal-homogeneity test of two paired "
        f"deterministic classifiers (price cents >= {MCN_PRICE_CENTS}"
        f" vs quantity >= {MCN_QTY}, both predicting "
        "l_returnflag='R'): discordant-pair chi-square (b-c)^2/(b+c) "
        "plus the Edwards continuity-corrected variant, each ONE "
        "correctly-rounded DOUBLE division of a HUGEINT/DECIMAL-exact "
        "dividend; per-rule accuracies micro-snapped the same way. "
        "The paired model-COMPARISON test next to X138's agreement "
        "kappa and X92/X137's single-model scores. One fact pass, "
        "one 4-cell aggregate. Python replay + cell-partition laws "
        "(cells sum to n; chi2_cc <= chi2).",
    tags=("X286", "X138", "X92", "X7", "X2"),
)
def mcnemar_paired_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    scored = li.selectExpr(
        f"CASE WHEN (CAST(FLOOR(l_extendedprice * 100 + 0.5)"
        f" AS BIGINT) >= {MCN_PRICE_CENTS}) = (l_returnflag = 'R')"
        " THEN 1 ELSE 0 END AS a_ok",
        f"CASE WHEN (l_quantity >= {MCN_QTY}) = (l_returnflag = 'R')"
        " THEN 1 ELSE 0 END AS b_ok")
    cells = scored.agg(
        F.sum(F.col("a_ok") * F.col("b_ok")).cast("long").alias("cc"),
        F.sum(F.col("a_ok") * (1 - F.col("b_ok"))).cast("long")
        .alias("b"),
        F.sum((1 - F.col("a_ok")) * F.col("b_ok")).cast("long")
        .alias("c"),
        F.sum((1 - F.col("a_ok")) * (1 - F.col("b_ok"))).cast("long")
        .alias("dd"),
        F.count("*").cast("long").alias("n"))
    return cells.selectExpr(
        "cc AS both_correct", "b AS only_price", "c AS only_qty",
        "dd AS both_wrong", "n",
        # r8 ADVICE: widen one operand BEFORE the square (the
        # brown_forsythe pattern) so the multiply never runs in int64.
        "CASE WHEN b + c > 0 THEN"
        " CAST(ROUND(CAST(CAST(b - c AS DECIMAL(38,0)) * (b - c)"
        " * 1000000 AS DOUBLE) / (b + c), 0) AS BIGINT)"
        " ELSE 0L END AS chi2_micro",
        "CASE WHEN b + c > 0 THEN"
        " CAST(ROUND(CAST(CAST(GREATEST(ABS(b - c) - 1, 0L)"
        " AS DECIMAL(38,0)) * GREATEST(ABS(b - c) - 1, 0L)"
        " * 1000000 AS DOUBLE) / (b + c), 0) AS BIGINT)"
        " ELSE 0L END AS chi2_cc_micro",
        "CAST(ROUND(CAST((cc + b) * 1000000 AS DOUBLE) / n, 0)"
        " AS BIGINT) AS acc_price_micro",
        "CAST(ROUND(CAST((cc + c) * 1000000 AS DOUBLE) / n, 0)"
        " AS BIGINT) AS acc_qty_micro")


# --------------------------------------------------------------------------
# X288: instrumental-variable Wald estimator — the IDENTIFICATION
# strategy the causal family lacks (X146 g-formula and X244 propensity
# assume no unmeasured confounding; X158 DiD needs parallel trends;
# X169 uplift needs randomization): when treatment is confounded but
# an INSTRUMENT shifts it exogenously, the Wald ratio
#     (E[Y|Z=1] - E[Y|Z=0]) / (E[X|Z=1] - E[X|Z=0])
# identifies the local average treatment effect. Here Z = urgent/high
# order priority (assigned at order time), X = shipped within 60 days,
# Y = line returned. Exactness: both mean differences are EXACT
# BIGINT cross-multiplications (sy1*n0 - sy0*n1 over n1*n0), so the
# Wald ratio needs ONE correctly-rounded division of HUGEINT-exact
# integers — no ratio-of-rounded-ratios. First-stage strength and
# intent-to-treat effect emitted alongside (a weak instrument makes
# the ratio explode; fs_x_micro IS the denominator's scale). One fact
# pass, one 6-cell aggregate; everything after is O(1). [EXT]
# --------------------------------------------------------------------------
IV_FAST_DAYS = 60


@register(
    "iv_wald_estimate",
    f"""
    WITH cells AS (
        SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS z,
               CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate)
                    <= {IV_FAST_DAYS} THEN 1 ELSE 0 END AS x,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    agg AS (
        SELECT CAST(SUM(z) AS BIGINT) AS n1,
               CAST(COUNT(*) - SUM(z) AS BIGINT) AS n0,
               CAST(SUM(z * y) AS BIGINT) AS sy1,
               CAST(SUM((1 - z) * y) AS BIGINT) AS sy0,
               CAST(SUM(z * x) AS BIGINT) AS sx1,
               CAST(SUM((1 - z) * x) AS BIGINT) AS sx0
        FROM cells
    )
    SELECT n1, n0, sy1, sy0, sx1, sx0,
           CAST(ROUND(CAST((CAST(sy1 AS HUGEINT) * n0
                - CAST(sy0 AS HUGEINT) * n1) * 1000000 AS DOUBLE)
                / (CAST(n1 AS HUGEINT) * n0), 0) AS BIGINT)
               AS itt_y_micro,
           CAST(ROUND(CAST((CAST(sx1 AS HUGEINT) * n0
                - CAST(sx0 AS HUGEINT) * n1) * 1000000 AS DOUBLE)
                / (CAST(n1 AS HUGEINT) * n0), 0) AS BIGINT)
               AS fs_x_micro,
           CASE WHEN CAST(sx1 AS HUGEINT) * n0
                     - CAST(sx0 AS HUGEINT) * n1 <> 0 THEN
               CAST(ROUND(CAST((CAST(sy1 AS HUGEINT) * n0
                    - CAST(sy0 AS HUGEINT) * n1) * 1000000 AS DOUBLE)
                    / (CAST(sx1 AS HUGEINT) * n0
                       - CAST(sx0 AS HUGEINT) * n1), 0) AS BIGINT)
           ELSE 0 END AS wald_micro
    FROM agg
    """,
    doc=f"X288 instrumental-variable Wald estimator of the effect of "
        f"fast shipping (<= {IV_FAST_DAYS} days) on returns, "
        "instrumented by urgent/high order priority: intent-to-treat "
        "and first-stage mean differences as EXACT BIGINT cross-"
        "multiplications, the Wald LATE ratio ONE correctly-rounded "
        "division of HUGEINT-exact integers (never a ratio of rounded "
        "ratios), zero-denominator guarded. The IV identification "
        "strategy next to X146 (g-formula), X244 (propensity), X158 "
        "(DiD), X169 (uplift). Python replay + ratio-consistency law "
        "(wald = itt/fs on exact rationals).",
    tags=("X288", "X146", "X158", "X7", "X3"),
)
def iv_wald_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cells = (li.join(o, o.o_orderkey == li.l_orderkey)
             .selectExpr(
                 "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
                 " THEN 1 ELSE 0 END AS z",
                 f"CASE WHEN datediff(l_shipdate, o_orderdate)"
                 f" <= {IV_FAST_DAYS} THEN 1 ELSE 0 END AS x",
                 "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"
                 " AS y"))
    agg = cells.agg(
        F.sum("z").cast("long").alias("n1"),
        (F.count("*") - F.sum("z")).cast("long").alias("n0"),
        F.sum(F.col("z") * F.col("y")).cast("long").alias("sy1"),
        F.sum((1 - F.col("z")) * F.col("y")).cast("long").alias("sy0"),
        F.sum(F.col("z") * F.col("x")).cast("long").alias("sx1"),
        F.sum((1 - F.col("z")) * F.col("x")).cast("long").alias("sx0"))
    return agg.selectExpr(
        "n1", "n0", "sy1", "sy0", "sx1", "sx0",
        "CAST(ROUND(CAST((CAST(sy1 AS DECIMAL(38,0)) * n0"
        " - CAST(sy0 AS DECIMAL(38,0)) * n1) * 1000000 AS DOUBLE)"
        " / (CAST(n1 AS DECIMAL(38,0)) * n0), 0) AS BIGINT)"
        " AS itt_y_micro",
        "CAST(ROUND(CAST((CAST(sx1 AS DECIMAL(38,0)) * n0"
        " - CAST(sx0 AS DECIMAL(38,0)) * n1) * 1000000 AS DOUBLE)"
        " / (CAST(n1 AS DECIMAL(38,0)) * n0), 0) AS BIGINT)"
        " AS fs_x_micro",
        "CASE WHEN CAST(sx1 AS DECIMAL(38,0)) * n0"
        " - CAST(sx0 AS DECIMAL(38,0)) * n1 <> 0 THEN"
        " CAST(ROUND(CAST((CAST(sy1 AS DECIMAL(38,0)) * n0"
        " - CAST(sy0 AS DECIMAL(38,0)) * n1) * 1000000 AS DOUBLE)"
        " / (CAST(sx1 AS DECIMAL(38,0)) * n0"
        " - CAST(sx0 AS DECIMAL(38,0)) * n1), 0) AS BIGINT)"
        " ELSE 0L END AS wald_micro")


# --------------------------------------------------------------------------
# X289: Cochran's Q test — the k-classifier generalization of X286's
# McNemar (exactly the relationship X245 Kruskal-Wallis bears to the
# two-sample rank test, or X280 Friedman to the paired comparison):
# do k >= 3 paired deterministic rules have equal marginal accuracy
# on the SAME items? Q = k*(k-1) * (k*sum(G_j^2) - T^2) /
# (k*T - sum(L_i^2)), with G_j the per-rule correct totals, L_i the
# per-item number of correct rules (0..k), T their common sum.
# Exactness: G_j, T, and the L-histogram are one-pass BIGINT
# aggregates; the numerator widens BEFORE multiplying (G_j^2 passes
# 2^63 at ~3e9 correct rows); Q is ONE correctly-rounded DOUBLE
# division. Under H0, Q ~ chi2(k-1). The L_i^2 sum folds from the
# (k+1)-row L-histogram, never the fact table. [EXT]
# --------------------------------------------------------------------------
CQ_PRICE_CENTS = 3000000
CQ_QTY = 25
CQ_DISC_MILLI = 50  # l_discount >= 0.05


@register(
    "cochran_q_rules",
    f"""
    WITH scored AS (
        SELECT CASE WHEN (CAST(FLOOR(l_extendedprice * 100 + 0.5)
                          AS BIGINT) >= {CQ_PRICE_CENTS})
                         = (l_returnflag = 'R')
                    THEN 1 ELSE 0 END AS a,
               CASE WHEN (l_quantity >= {CQ_QTY})
                         = (l_returnflag = 'R')
                    THEN 1 ELSE 0 END AS b,
               CASE WHEN (CAST(FLOOR(l_discount * 1000 + 0.5)
                          AS BIGINT) >= {CQ_DISC_MILLI})
                         = (l_returnflag = 'R')
                    THEN 1 ELSE 0 END AS c
        FROM lineitem
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a) AS BIGINT) AS g1,
               CAST(SUM(b) AS BIGINT) AS g2,
               CAST(SUM(c) AS BIGINT) AS g3,
               CAST(SUM((a + b + c) * (a + b + c)) AS BIGINT) AS l2
        FROM scored
    )
    SELECT n, g1, g2, g3, g1 + g2 + g3 AS t_total, l2 AS sum_l_sq,
           CASE WHEN 3 * (g1 + g2 + g3) - l2 > 0 THEN
               CAST(ROUND(CAST(2 * (CAST(g1 AS HUGEINT) * g1
                    + CAST(g2 AS HUGEINT) * g2
                    + CAST(g3 AS HUGEINT) * g3) * 3
                    - 2 * CAST(g1 + g2 + g3 AS HUGEINT)
                      * (g1 + g2 + g3) AS DOUBLE) * 1000000
                    / (3 * (g1 + g2 + g3) - l2), 0) AS BIGINT)
           ELSE 0 END AS q_micro
    FROM agg
    """,
    doc=f"X289 Cochran's Q test of three paired deterministic rules "
        f"(price cents >= {CQ_PRICE_CENTS}, quantity >= {CQ_QTY}, "
        f"discount >= 0.05) predicting l_returnflag='R' on the same "
        "line items: per-rule correct totals and the per-item "
        "correct-count squares in ONE fact pass, numerator "
        "k(k-1)(k*sum G^2 - T^2) widened BEFORE multiplying, Q ONE "
        "correctly-rounded DOUBLE division, degenerate denominator "
        "(all items all-correct/all-wrong) guarded. The k-sample "
        "marginal-homogeneity test over X286's paired McNemar, as "
        "X245 KW generalizes the two-sample rank test. Python replay "
        "+ reduction law (Q >= 0; k=2 algebra = McNemar chi2 without "
        "continuity correction).",
    tags=("X289", "X286", "X138", "X7", "X2"),
)
def cochran_q_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    scored = li.selectExpr(
        f"CASE WHEN (CAST(FLOOR(l_extendedprice * 100 + 0.5)"
        f" AS BIGINT) >= {CQ_PRICE_CENTS}) = (l_returnflag = 'R')"
        " THEN 1 ELSE 0 END AS a",
        f"CASE WHEN (l_quantity >= {CQ_QTY}) = (l_returnflag = 'R')"
        " THEN 1 ELSE 0 END AS b",
        f"CASE WHEN (CAST(FLOOR(l_discount * 1000 + 0.5)"
        f" AS BIGINT) >= {CQ_DISC_MILLI}) = (l_returnflag = 'R')"
        " THEN 1 ELSE 0 END AS c")
    agg = scored.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("a").cast("long").alias("g1"),
        F.sum("b").cast("long").alias("g2"),
        F.sum("c").cast("long").alias("g3"),
        F.sum((F.col("a") + F.col("b") + F.col("c"))
              * (F.col("a") + F.col("b") + F.col("c")))
        .cast("long").alias("l2"))
    return agg.selectExpr(
        "n", "g1", "g2", "g3", "g1 + g2 + g3 AS t_total",
        "l2 AS sum_l_sq",
        "CASE WHEN 3 * (g1 + g2 + g3) - l2 > 0 THEN"
        " CAST(ROUND(CAST(2 * (CAST(g1 AS DECIMAL(38,0)) * g1"
        " + CAST(g2 AS DECIMAL(38,0)) * g2"
        " + CAST(g3 AS DECIMAL(38,0)) * g3) * 3"
        " - 2 * CAST(g1 + g2 + g3 AS DECIMAL(38,0))"
        " * (g1 + g2 + g3) AS DOUBLE) * 1000000"
        " / (3 * (g1 + g2 + g3) - l2), 0) AS BIGINT)"
        " ELSE 0L END AS q_micro")


# --------------------------------------------------------------------------
# X295: HDBSCAN-lite mutual-reachability clustering profile — the
# DENSITY-ADAPTIVE hierarchy the flat clusterers miss (X162 DBSCAN
# fixes ONE eps for every region; X161/X189 single-linkage chains
# through noise): reweighting edges to the mutual reachability
# distance mr(a,b) = max(core_k(a), core_k(b), d(a,b)) — HDBSCAN's
# core transform (Campello et al. 2013) — makes sparse-region points
# expensive to reach, so the single-linkage hierarchy over mr is
# robust to chaining, and cutting it at several levels profiles
# cluster structure ACROSS densities in one pass. Everything is
# exact integer geometry: squared L2 on the X162 (order-count,
# cents-bucket) plane, core_k = the k-th-smallest squared candidate
# distance (an exact BIGINT — no sqrt anywhere), mr2 = GREATEST of
# three BIGINTs, cuts at fixed squared thresholds. Candidates come
# from the X104 grid probe (side >= eps, pigeonhole-complete), points
# with < k eps-neighbors are explicit noise, and components run on
# the X30 star operator per cut. The all-pairs quadratic exists ONLY
# in the oracle. [EXT]
# --------------------------------------------------------------------------
HDB_EPS2 = 8        # candidate radius (squared); eps = ceil(sqrt) = 3
HDB_K = 4           # core distance = squared dist to 4th-nearest
HDB_CUTS = (2, 4, 8)  # single-linkage cut levels (squared mr)
HDB_Y_DIV = 4_000_000


def _hdbscan_oracle_sql() -> str:
    blocks = []
    rows = []
    # assembled below; f-string bodies cannot hold backslashes.
    # Components per cut via a recursive min-label flood seeded ONLY
    # at LOCAL-MINIMUM ids (nodes with no smaller neighbor): each
    # component's global-min id is a local minimum whose flood reaches
    # every member, so MIN(label) per node is the component min — but
    # total recursive state is sum over components of
    # (#local minima x size) (~1.7M tuples at sf0.1) instead of the
    # |C|^2 (~2.2e8) a seed-everywhere flood materializes, and the
    # fixpoint is ADAPTIVE (a fixed unrolled round count under-
    # converged at sf0.1: the cut-2 graph needs 52 label-prop rounds).
    for t in HDB_CUTS:
        blocks.append(f"""e{t} AS MATERIALIZED (
        SELECT ia AS s, ib AS d FROM mr WHERE mr2 <= {t}
        UNION ALL
        SELECT ib, ia FROM mr WHERE mr2 <= {t})""")
        blocks.append(f"""lm{t} AS MATERIALIZED (
        SELECT c.id FROM cd c
        WHERE NOT EXISTS (SELECT 1 FROM e{t} e
                          WHERE e.d = c.id AND e.s < c.id))""")
        blocks.append(f"""reach{t}(v, r) AS (
        SELECT id, id FROM lm{t}
        UNION
        SELECT e.d, rc.r FROM reach{t} rc JOIN e{t} e ON e.s = rc.v)""")
        blocks.append(f"""lab{t} AS (
        SELECT v AS id, MIN(r) AS cid FROM reach{t} GROUP BY v)""")
        blocks.append(f"""cl{t} AS (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lab{t} GROUP BY cid)""")
        rows.append(f"""SELECT CAST({t} AS BIGINT) AS cut2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cl{t} WHERE cnt >= 2)
               AS n_clusters,
           (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) FROM cl{t}
            WHERE cnt >= 2) AS clustered_pts,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cl{t} WHERE cnt = 1)
               AS singleton_pts,
           (SELECT CAST(COALESCE(MAX(cnt), 0) AS BIGINT) FROM cl{t})
               AS largest""")
    rows.append("""SELECT CAST(-1 AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pts)
           - (SELECT CAST(COUNT(*) AS BIGINT) FROM cd),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)""")
    blocks_sql = ",\n    ".join(blocks)
    rows_sql = "\n    UNION ALL\n    ".join(rows)
    return f"""
    WITH RECURSIVE pts AS (
        SELECT o_custkey AS id,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) // {HDB_Y_DIV} AS y
        FROM orders GROUP BY 1
    ),
    pairs AS MATERIALIZED (
        SELECT a.id AS ia, b.id AS ib,
               (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                   AS d2
        FROM pts a JOIN pts b
          ON a.id <> b.id
         AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             <= {HDB_EPS2}
    ),
    cd AS (
        SELECT ia AS id, CAST(MAX(d2) AS BIGINT) AS cd2
        FROM (SELECT ia, d2,
                     ROW_NUMBER() OVER (PARTITION BY ia ORDER BY d2)
                         AS rk
              FROM pairs)
        WHERE rk <= {HDB_K} GROUP BY ia
        HAVING COUNT(*) = {HDB_K}
    ),
    mr AS (
        SELECT p.ia, p.ib, GREATEST(ca.cd2, cb.cd2, p.d2) AS mr2
        FROM pairs p
        JOIN cd ca ON ca.id = p.ia JOIN cd cb ON cb.id = p.ib
        WHERE p.ia < p.ib
    ),
    {blocks_sql}
    {rows_sql}
    """


@register(
    "hdbscan_mutual_reachability",
    _hdbscan_oracle_sql(),
    doc=f"X295 HDBSCAN-lite mutual-reachability profile over the X162 "
        f"customer plane: core_k (k={HDB_K}) as the exact k-th-"
        "smallest squared candidate distance within the eps "
        f"(eps^2={HDB_EPS2}) grid probe, mr2 = GREATEST(core_a, "
        "core_b, d2) on BIGINTs, single-linkage components at cuts "
        f"{HDB_CUTS} via the X30 star operator, points with < k "
        "eps-neighbors explicit noise. Density-adaptive hierarchy vs "
        "X162 (single eps) and X161/X189 (chaining-prone raw "
        "single-link); all-pairs only in the oracle. Python replay + "
        "monotonicity laws (clusters merge as the cut rises).",
    tags=("X295", "X162", "X161", "X104", "X30", "X3", "X7"),
)
def hdbscan_mutual_reachability(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked
    from ..operators.dedup import connected_components_star

    orders = load_table(spark, sf_dir, "orders")
    cents = F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100)
                  .cast("long")).cast("long")
    pts = persist_tracked(
        orders.groupBy(F.col("o_custkey").alias("id"))
        .agg(F.count("*").cast("long").alias("x"),
             cents.alias("cents"))
        .select("id", "x",
                F.expr(f"cents DIV {HDB_Y_DIV}").alias("y")))
    side = 3  # grid side = ceil(sqrt(HDB_EPS2))
    cells = pts.select(
        "id", "x", "y",
        F.expr(f"x DIV {side}").alias("cx"),
        F.expr(f"y DIV {side}").alias("cy"))
    off = F.explode(F.array(*[F.lit(o) for o in (-1, 0, 1)]))
    probe = (cells.select("id", "x", "y", "cx", "cy", off.alias("dx"))
             .select("id", "x", "y",
                     (F.col("cx") + F.col("dx")).alias("cx"), "cy",
                     off.alias("dy"))
             .select("id", "x", "y", "cx",
                     (F.col("cy") + F.col("dy")).alias("cy")))
    a = probe.select(F.col("id").alias("ia"), F.col("x").alias("xa"),
                     F.col("y").alias("ya"), "cx", "cy")
    b = cells.select(F.col("id").alias("ib"), F.col("x").alias("xb"),
                     F.col("y").alias("yb"), "cx", "cy")
    # No distinct needed: b carries its single home cell, so each
    # (ia, ib) pair matches exactly one of a's nine probe rows.
    pairs = persist_tracked(
        a.join(b, ["cx", "cy"])
        .filter(F.col("ia") != F.col("ib"))
        .select("ia", "ib",
                ((F.col("xa") - F.col("xb"))
                 * (F.col("xa") - F.col("xb"))
                 + (F.col("ya") - F.col("yb"))
                 * (F.col("ya") - F.col("yb"))).alias("d2"))
        .filter(F.col("d2") <= HDB_EPS2))
    # r10 optimization (guide §2.3, r9 verdict item 4): core_k is the
    # k-th smallest d2 WITH multiplicity — the old row_number window
    # sorted all 10.4M candidate pairs. d2 is already filtered to
    # <= HDB_EPS2, so its domain is the integers 0..HDB_EPS2 and the
    # k-th order statistic is the smallest v with cum_count(v) >= k:
    # one hash aggregate over HDB_EPS2+1 conditional counters, fully
    # map-side combinable, no sort anywhere. Tie behavior is identical
    # by construction (the VALUE of the k-th order statistic does not
    # depend on how row_number broke ties) — law-tested against the
    # window form in tests/test_round10_laws.py.
    cum = [F.sum(F.when(F.col("d2") <= v, 1).otherwise(0))
           .cast("long").alias(f"le{v}") for v in range(HDB_EPS2 + 1)]
    kth = F.lit(None).cast("long")
    for v in range(HDB_EPS2, -1, -1):
        kth = F.when(F.col(f"le{v}") >= HDB_K, F.lit(v)).otherwise(kth)
    cd = persist_tracked(
        pairs.groupBy(F.col("ia").alias("id")).agg(*cum)
        .filter(F.col(f"le{HDB_EPS2}") >= HDB_K)
        .select("id", kth.cast("long").alias("cd2")))
    mr = persist_tracked(
        pairs.filter(F.col("ia") < F.col("ib"))
        .join(cd.selectExpr("id AS ia", "cd2 AS ca"), "ia")
        .join(cd.selectExpr("id AS ib", "cd2 AS cb"), "ib")
        .select("ia", "ib",
                F.greatest("ca", "cb", "d2").alias("mr2")))
    outs = []
    core_ids = cd.select("id")
    # Nested cuts: edges(t1) is a subset of edges(t2) for t1 < t2, so
    # only the FIRST (sparsest) cut runs components over points; each
    # later cut contracts the previous labels to super-nodes and runs
    # the X30 operator on the tiny quotient graph (1-2 rounds) — one
    # full-size CC instead of len(HDB_CUTS).
    lab = None  # point id -> cluster_id at the previous (finer) cut
    for t in HDB_CUTS:
        if lab is None:
            edges = (mr.filter(F.col("mr2") <= t)
                     .select(F.col("ia").alias("id_a"),
                             F.col("ib").alias("id_b"))
                     .unionByName(core_ids.select(
                         F.col("id").alias("id_a"),
                         F.col("id").alias("id_b"))))
            lab = connected_components_star(edges)
        else:
            sup = (mr.filter(F.col("mr2") <= t)
                   .join(lab.selectExpr("id AS ia",
                                        "cluster_id AS la"), "ia")
                   .join(lab.selectExpr("id AS ib",
                                        "cluster_id AS lb"), "ib")
                   .select(F.col("la").alias("id_a"),
                           F.col("lb").alias("id_b"))
                   .unionByName(lab.select(
                       F.col("cluster_id").alias("id_a"),
                       F.col("cluster_id").alias("id_b"))
                       .distinct()))
            relab = connected_components_star(sup)
            lab = (lab.join(relab.selectExpr(
                "id AS cluster_id", "cluster_id AS new_label"),
                "cluster_id")
                .select("id", F.col("new_label").alias("cluster_id")))
        lab = lab.localCheckpoint()
        cl = lab.groupBy("cluster_id").agg(
            F.count("*").cast("long").alias("cnt"))
        outs.append(cl.agg(
            F.lit(t).cast("long").alias("cut2"),
            F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0))
            .cast("long").alias("n_clusters"),
            F.coalesce(F.sum(F.when(F.col("cnt") >= 2, F.col("cnt"))),
                       F.lit(0)).cast("long").alias("clustered_pts"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            .cast("long").alias("singleton_pts"),
            F.coalesce(F.max("cnt"), F.lit(0)).cast("long")
            .alias("largest")))
    noise = (pts.agg(F.count("*").alias("np"))
             .crossJoin(F.broadcast(cd.agg(F.count("*").alias("nc"))))
             .selectExpr("CAST(-1 AS BIGINT) AS cut2",
                         "CAST(np - nc AS BIGINT) AS n_clusters",
                         "CAST(0 AS BIGINT) AS clustered_pts",
                         "CAST(0 AS BIGINT) AS singleton_pts",
                         "CAST(0 AS BIGINT) AS largest"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.unionByName(noise)
