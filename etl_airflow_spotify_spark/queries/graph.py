"""Graph-analytics queries (SURVEY.md §2.B X42): PageRank over the
part co-purchase graph. Exact DuckDB oracles — the integer fixed-point
recurrence (operators/graph.py) is summation-order-independent, so the
hash check pins every rank value, not just the ordering."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table, local_frame, parquet_footer
from ..operators import graph as G
from ..registry import register

PAGERANK_ITERS = 5
PAGERANK_TOPK = 20

_EDGE_CTE = """op AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
               FROM lineitem),
    e AS (SELECT DISTINCT a.i AS src, b.i AS dst
          FROM op a JOIN op b ON a.g = b.g AND a.i <> b.i)"""


@register(
    "part_pagerank",
    G.pagerank_oracle_sql(_EDGE_CTE, PAGERANK_ITERS)
    + f"\nORDER BY pr DESC, node LIMIT {PAGERANK_TOPK}",
    doc=f"X42 PageRank ({PAGERANK_ITERS} fixed iterations, damping 0.85, "
        "BIGINT fixed-point in 1e-12 units) over the part co-purchase "
        "graph (parts sharing an order). Edges persist once partitioned "
        "on src; each iteration is the two-shuffle join+agg PageRank "
        "step; integer arithmetic makes the result bit-identical across "
        "engines and partial-sum orders. Top-20 by rank.",
    tags=("X42", "X3", "X7", "X12"),
)
def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    pr = G.pagerank_fixed(edges, iters=PAGERANK_ITERS)
    return (pr.select(F.col("node"), F.col("pr"), F.col("degree"))
            .orderBy(F.desc("pr"), F.asc("node"))
            .limit(PAGERANK_TOPK))


@register(
    "copurchase_degree_profile",
    """
    WITH op AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                FROM lineitem),
    e AS (SELECT DISTINCT a.i AS src, b.i AS dst
          FROM op a JOIN op b ON a.g = b.g AND a.i <> b.i),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src)
    SELECT CAST(FLOOR(log2(d)) AS BIGINT) AS degree_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree,
           CAST(SUM(d) AS BIGINT) AS total_edges
    FROM deg GROUP BY 1
    """,
    doc="X42 co-purchase graph degree distribution in log2 buckets — "
        "the power-law profile that decides whether PageRank/triangle "
        "workloads need hub-splitting at scale. Two keyed aggregates "
        "(edge build + degree, then bounded bucket rollup); "
        "floor(log2(int)) is exact for any BIGINT degree on both "
        "engines.",
    tags=("X42", "X7"),
)
def copurchase_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    return (deg.groupBy(F.floor(F.log2("d")).cast("long")
                        .alias("degree_bucket"))
            .agg(F.count("*").cast("long").alias("n_nodes"),
                 F.min("d").cast("long").alias("min_degree"),
                 F.max("d").cast("long").alias("max_degree"),
                 F.sum("d").cast("long").alias("total_edges")))


RULE_MIN_PAIR_SUP = 3
RULE_MIN_CONF = 0.05


@register(
    "association_rules",
    f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM op),
    item AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS sup FROM op GROUP BY p),
    pair AS (
        SELECT a.p AS x, b.p AS y, CAST(COUNT(*) AS BIGINT) AS sup_ab
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
        HAVING COUNT(*) >= {RULE_MIN_PAIR_SUP}
    ),
    rules AS (
        SELECT x AS antecedent, y AS consequent, sup_ab FROM pair
        UNION ALL
        SELECT y, x, sup_ab FROM pair
    )
    SELECT r.antecedent, r.consequent, r.sup_ab,
           ROUND(r.sup_ab::DOUBLE / ia.sup, 6) AS confidence,
           ROUND(r.sup_ab::DOUBLE * n.n_orders / (ia.sup * ic.sup), 6)
               AS lift
    FROM rules r
    JOIN item ia ON ia.p = r.antecedent
    JOIN item ic ON ic.p = r.consequent
    CROSS JOIN n
    WHERE r.sup_ab::DOUBLE / ia.sup >= {RULE_MIN_CONF}
    """,
    doc="X51 association-rule mining (Apriori level 2): frequent part "
        "pairs within order baskets -> directed rules with support, "
        "confidence and lift. Pair generation fans out O(k^2) with "
        "basket-bounded k (TPC-H <= 7 lineitems/order) and the support "
        "threshold prunes before the rule join; item supports join "
        "part-keyed (unhinted — item tables are unbounded at corpus "
        "scale). Confidence/lift are single exact-integer-ratio "
        "divisions, rounded on both engines.",
    tags=("X51", "X7", "X3"),
)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    op = (li.select(F.col("l_orderkey").alias("o"),
                    F.col("l_partkey").alias("p")).distinct())
    n_orders = op.select(F.countDistinct("o").alias("n"))
    item = op.groupBy("p").agg(F.count("*").cast("long").alias("sup"))
    a, b = op.alias("a"), op.alias("b")
    pair = (a.join(b, (F.col("a.o") == F.col("b.o"))
                   & (F.col("a.p") < F.col("b.p")))
            .groupBy(F.col("a.p").alias("x"), F.col("b.p").alias("y"))
            .agg(F.count("*").cast("long").alias("sup_ab"))
            .filter(F.col("sup_ab") >= RULE_MIN_PAIR_SUP))
    rules = (pair.select(F.col("x").alias("antecedent"),
                         F.col("y").alias("consequent"), "sup_ab")
             .unionAll(pair.select(F.col("y").alias("antecedent"),
                                   F.col("x").alias("consequent"),
                                   "sup_ab")))
    ia = item.select(F.col("p").alias("antecedent"),
                     F.col("sup").alias("sup_a"))
    ic = item.select(F.col("p").alias("consequent"),
                     F.col("sup").alias("sup_c"))
    return (rules.join(ia, "antecedent").join(ic, "consequent")
            .crossJoin(F.broadcast(n_orders))
            .filter(F.col("sup_ab").cast("double") / F.col("sup_a")
                    >= RULE_MIN_CONF)
            .select("antecedent", "consequent", "sup_ab",
                    F.round(F.col("sup_ab").cast("double")
                            / F.col("sup_a"), 6).alias("confidence"),
                    F.round(F.col("sup_ab").cast("double") * F.col("n")
                            / (F.col("sup_a") * F.col("sup_c")), 6)
                    .alias("lift")))


# --------------------------------------------------------------------------
# X78: bounded BFS hop distance from a seed set over the co-purchase
# graph — "how far is every product from the promoted set?" Frontier
# expansion is one join + one anti-join per hop (never a transitive
# closure materialization); labels localCheckpoint per hop so plan
# depth stays constant. The oracle replays it as a recursive CTE whose
# UNION dedups (node, depth) pairs, so the fan-out stays node-bounded.
# --------------------------------------------------------------------------
BFS_MAX_HOPS = 3
BFS_SEED_MOD = 50


@register(
    "copurchase_hop_distance",
    f"""
    WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                          FROM lineitem),
    e AS (SELECT DISTINCT a.i AS src, b.i AS dst
          FROM op a JOIN op b ON a.g = b.g AND a.i <> b.i),
    seeds AS (SELECT DISTINCT src AS node FROM e
              WHERE src % {BFS_SEED_MOD} = 0),
    reach(node, d) AS (
        SELECT node, 0 FROM seeds
        UNION
        SELECT e.dst, r.d + 1
        FROM reach r JOIN e ON e.src = r.node
        WHERE r.d < {BFS_MAX_HOPS}
    )
    SELECT node, CAST(MIN(d) AS BIGINT) AS dist
    FROM reach GROUP BY node
    """,
    doc=f"X78 bounded BFS ({BFS_MAX_HOPS} hops) from the seed parts "
        f"(partkey % {BFS_SEED_MOD} = 0) over the co-purchase graph: "
        "per-hop frontier join + anti-join against settled labels, "
        "localCheckpoint per hop (constant plan depth), min-distance "
        "semantics for free because BFS settles each node at first "
        "visit. The reachability/radius primitive behind recommendation "
        "spread and recall-set construction.",
    tags=("X78", "X42", "X3", "X37"),
)
def copurchase_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    edges = persist_tracked(
        G.cooccurrence_edges(li, "l_orderkey", "l_partkey"))
    seeds = (edges.filter(F.col("src") % BFS_SEED_MOD == 0)
             .select("src").distinct()
             .select(F.col("src").alias("node"), F.lit(0).alias("dist")))
    # r10 (r9 verdict item 3, guide §2): one job per hop instead of
    # three — checkpoints are lazy, the per-hop emptiness check is a
    # count() that materializes the frontier, and ``labels``
    # materializes inside the next hop's count job (its anti-join).
    labels = seeds.localCheckpoint()
    frontier = labels
    for hop in range(1, BFS_MAX_HOPS + 1):
        nxt = (frontier.join(edges, frontier.node == edges.src)
               .select(F.col("dst").alias("node")).distinct()
               .join(labels.select("node"), "node", "left_anti")
               .select("node", F.lit(hop).alias("dist")))
        nxt = nxt.localCheckpoint(eager=False)
        if nxt.count() == 0:
            break
        labels = labels.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return labels.select("node", F.col("dist").cast("long").alias("dist"))


SSSP_ROUNDS = 4
SSSP_SEED_MOD = 50
LP_ROUNDS = 3


@register(
    "copurchase_weighted_sssp",
    G.sssp_oracle_sql(_EDGE_CTE, SSSP_SEED_MOD, SSSP_ROUNDS),
    doc=f"X96 bounded Bellman-Ford shortest path ({SSSP_ROUNDS} relaxation "
        f"rounds) from the seed parts (partkey % {SSSP_SEED_MOD} = 0) over "
        "the WEIGHTED co-purchase graph — weights are a pure integer "
        "function of the endpoints, so both engines re-derive them. Each "
        "round is one edge join + union + min-aggregate over node-sized "
        "labels; all-BIGINT arithmetic makes the distances partial-sum-"
        "order-proof. The weighted generalization of X78's BFS: cheapest "
        "route cost, not hop count.",
    tags=("X96", "X42", "X3", "X7"),
)
def copurchase_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    ew = persist_tracked(
        G.edge_weights(G.cooccurrence_edges(li, "l_orderkey", "l_partkey"))
        .repartition("src"))
    seeds = (ew.filter(F.col("src") % SSSP_SEED_MOD == 0)
             .select("src").distinct()
             .select(F.col("src").alias("node"),
                     F.lit(0).cast("long").alias("d")))
    out = G.sssp_bounded(ew, seeds, SSSP_ROUNDS)
    return out.select("node", F.col("d").alias("dist"))


@register(
    "copurchase_communities",
    G.label_propagation_oracle_sql(_EDGE_CTE, LP_ROUNDS)
    .replace(f"\nSELECT node, lab FROM l{LP_ROUNDS}",
             f""",
    sz AS (SELECT lab, CAST(COUNT(*) AS BIGINT) AS community_size
           FROM l{LP_ROUNDS} GROUP BY lab)
    SELECT f.node, f.lab AS community, sz.community_size
    FROM l{LP_ROUNDS} f JOIN sz ON sz.lab = f.lab"""),
    doc=f"X97 community detection by weighted label propagation "
        f"({LP_ROUNDS} fixed semi-synchronous rounds, min-label ties) "
        "over the co-purchase graph. The per-round argmax is two plain "
        "aggregates (label weight sums, then min label at the per-node "
        "max) — deterministic and engine-portable where struct-ordered "
        "max_by is not. Output: every node's community plus its size. "
        "Community structure powers assortment planning and "
        "recommendation diversity at catalog scale.",
    tags=("X97", "X42", "X3", "X7"),
)
def copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    ew = persist_tracked(
        G.edge_weights(G.cooccurrence_edges(li, "l_orderkey", "l_partkey"))
        .repartition("src"))
    labels = G.label_propagation(ew, LP_ROUNDS)
    sz = labels.groupBy("lab").agg(
        F.count("*").cast("long").alias("community_size"))
    return (labels.join(sz, "lab")
            .select("node", F.col("lab").alias("community"),
                    "community_size"))


# --------------------------------------------------------------------------
# X108: personalized PageRank — teleport mass returns only to a seed
# set, so rank measures affinity TO THE SEEDS (the "customers who
# bought X" recommendation walk), not global centrality. Sparse rank
# frame: only reached nodes carry rows, so early iterations cost the
# seed neighborhood, not |V|.
# --------------------------------------------------------------------------
PPR_ITERS = 4
PPR_SEED_MOD = 97
PPR_TOPK = 30


@register(
    "personalized_pagerank",
    G.ppr_oracle_sql(_EDGE_CTE, PPR_SEED_MOD, PPR_ITERS)
    + f"\nORDER BY pr DESC, node LIMIT {PPR_TOPK}",
    doc=f"X108 personalized PageRank ({PPR_ITERS} fixed iterations, "
        f"damping 0.85, seeds = parts with partkey % {PPR_SEED_MOD} = 0) "
        "over the co-purchase graph: teleport returns only to seeds, "
        "rank = affinity to the seed set. Integer 1/1e12 fixed point "
        "(bit-exact cross-engine); the rank frame stays sparse "
        "(reached nodes only); top-30 by rank. The walk behind "
        "'related products' recommendations.",
    tags=("X108", "X42", "X3", "X7", "X12"),
)
def personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    seeds = (edges.filter(F.col("src") % PPR_SEED_MOD == 0)
             .select(F.col("src").alias("node")).distinct())
    pr = G.ppr_fixed(edges, seeds, iters=PPR_ITERS)
    return (pr.orderBy(F.desc("pr"), F.asc("node")).limit(PPR_TOPK)
            .select("node", "pr"))


# --------------------------------------------------------------------------
# X119: uncertainty-aware rule ranking — raw confidence over-ranks
# rules with tiny support (3/3 beats 95/100); the Wilson score lower
# bound is the standard fix (the reddit/CTR "sort by best" ranking).
# Every input to the bound is an exact integer ratio, so both engines
# compute bit-identical doubles through the one sqrt; ranking uses
# the 6-dp-rounded bound with id tiebreaks.
# --------------------------------------------------------------------------
WILSON_Z = 1.96
WILSON_TOPK = 50


@register(
    "rules_wilson_ranked",
    f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    item AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS sup FROM op GROUP BY p),
    pair AS (
        SELECT a.p AS x, b.p AS y, CAST(COUNT(*) AS BIGINT) AS sup_ab
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
        HAVING COUNT(*) >= {RULE_MIN_PAIR_SUP}
    ),
    rules AS (
        SELECT x AS antecedent, y AS consequent, sup_ab FROM pair
        UNION ALL
        SELECT y, x, sup_ab FROM pair
    ),
    scored AS (
        SELECT r.antecedent, r.consequent, r.sup_ab, ia.sup AS n,
               r.sup_ab::DOUBLE / ia.sup AS p
        FROM rules r JOIN item ia ON ia.p = r.antecedent
    ),
    wb AS (
        SELECT antecedent, consequent, sup_ab, n,
               ROUND(p, 6) AS confidence,
               ROUND((p + {WILSON_Z} * {WILSON_Z} / (2 * n)
                      - {WILSON_Z} * sqrt(p * (1 - p) / n
                          + {WILSON_Z} * {WILSON_Z} / (4.0 * n * n)))
                     / (1 + {WILSON_Z} * {WILSON_Z} / n), 6) AS wilson_lb
        FROM scored
    )
    SELECT antecedent, consequent, sup_ab, n, confidence, wilson_lb,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
              ORDER BY wilson_lb DESC, antecedent, consequent) AS rn
          FROM wb)
    WHERE rn <= {WILSON_TOPK}
    """,
    doc=f"X119 Wilson-bound rule ranking: the X51 association rules "
        f"re-ranked by the {WILSON_Z}-z Wilson score LOWER bound on "
        "confidence — a 3/3 rule no longer outranks 95/100. All bound "
        "inputs are exact integer ratios (identical doubles through "
        "one IEEE sqrt); ranked top-"
        f"{WILSON_TOPK} with deterministic tiebreaks. The "
        "small-sample-safe ranking layer every recommendation surface "
        "needs over raw confidence.",
    tags=("X119", "X51", "X12", "X7"),
)
def rules_wilson_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    op = (li.select(F.col("l_orderkey").alias("o"),
                    F.col("l_partkey").alias("p")).distinct())
    item = op.groupBy("p").agg(F.count("*").cast("long").alias("sup"))
    a, b = op.alias("a"), op.alias("b")
    pair = (a.join(b, (F.col("a.o") == F.col("b.o"))
                   & (F.col("a.p") < F.col("b.p")))
            .groupBy(F.col("a.p").alias("x"), F.col("b.p").alias("y"))
            .agg(F.count("*").cast("long").alias("sup_ab"))
            .filter(F.col("sup_ab") >= RULE_MIN_PAIR_SUP))
    rules = (pair.select(F.col("x").alias("antecedent"),
                         F.col("y").alias("consequent"), "sup_ab")
             .unionAll(pair.select(F.col("y").alias("antecedent"),
                                   F.col("x").alias("consequent"),
                                   "sup_ab")))
    ia = item.select(F.col("p").alias("antecedent"),
                     F.col("sup").alias("n"))
    z = WILSON_Z
    scored = (rules.join(ia, "antecedent")
              .withColumn("p", F.col("sup_ab").cast("double") / F.col("n")))
    wlb = ((F.col("p") + F.lit(z * z) / (2 * F.col("n"))
            - F.lit(z) * F.sqrt(F.col("p") * (1 - F.col("p")) / F.col("n")
                                + F.lit(z * z)
                                / (4.0 * F.col("n") * F.col("n"))))
           / (1 + F.lit(z * z) / F.col("n")))
    wb = scored.select("antecedent", "consequent", "sup_ab", "n",
                       F.round("p", 6).alias("confidence"),
                       F.round(wlb, 6).alias("wilson_lb"))
    # distributed top-k FIRST (per-partition heaps), then rank the K
    # survivors — never a global-order window over the full rule table
    topk = wb.orderBy(F.desc("wilson_lb"), F.asc("antecedent"),
                      F.asc("consequent")).limit(WILSON_TOPK)
    w = Window.orderBy(F.desc("wilson_lb"), F.asc("antecedent"),
                       F.asc("consequent"))
    return (topk.withColumn("rn", F.row_number().over(w))
            .select("antecedent", "consequent", "sup_ab", "n",
                    "confidence", "wilson_lb",
                    F.col("rn").cast("long").alias("rank")))


# --------------------------------------------------------------------------
# X123: k-core decomposition by iterative peeling — the standard
# distributed algorithm (each round: one keyed degree aggregate + two
# semi-joins; never a global structure). Rounds are FIXED (KCORE_ROUNDS)
# so both engines replay the identical prefix of the peel sequence; the
# per-round survivor/edge counts ARE the result, so a converged graph
# simply repeats its fixed point. Peeling is how k-core runs at any
# scale (GraphX / Galois do the same); round cost is linear in the
# surviving edge set, and edges localCheckpoint per round so the plan
# stays constant-depth.
#
# Where the rounds run is measured, against one gate,
# KCORE_LOCAL_FINISH_EDGE_MAX (4M, ~64 MB of int64 pairs):
# * Local start. If lineitem's parquet footer counts at most the gate's
#   rows (read with no job), one row-capped Arrow fetch of the (order,
#   part) pairs (limit gate + 1, one job). If at most the gate's rows
#   come back and the pre-distinct edge bound sum k(k-1) over orders of
#   k parts is at most the gate, the graph is built on the driver
#   (operators/graph.py::cooccurrence_edges_local, exact twin of
#   cooccurrence_edges) and every round peels there in NumPy.
# * Otherwise the edge set is built distributed and counted once;
#   distributed rounds run while the surviving edge count is above the
#   gate, then the edges come to the driver with one toArrow() and the
#   remaining rounds peel there (kcore_peel_local) — same profile.
# Below a few million edges a distributed round is mostly per-job
# scheduling: on a 4-core box the sf0.01 build (231k edges) took 35 jobs
# and ~3 s all distributed, 6 jobs and ~0.9 s with the distributed
# build and local finish, and 1 job and ~0.2 s with the local start;
# at sf0.1 (2.39M edges) ~4.5 s with the distributed build and ~1 s
# with the local start. The driver never holds more than the gate's
# pairs or edges; above it the distributed rounds peel until the graph
# is that small.
# --------------------------------------------------------------------------
KCORE_K = 72
KCORE_ROUNDS = 8
KCORE_LOCAL_FINISH_EDGE_MAX = 4_000_000


def _kcore_oracle_sql() -> str:
    # Every e{r}/s{r} is referenced 3x downstream; without MATERIALIZED
    # DuckDB inlines the chain and the parquet scan count grows ~3^rounds
    # (observed: "Too many open files" at 8 rounds). Materializing each
    # round makes the oracle linear, mirroring the Spark localCheckpoint.
    parts = [f"WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g,"
             f" l_partkey AS i FROM lineitem),\n"
             f"e0 AS MATERIALIZED (SELECT DISTINCT a.i AS src, b.i AS dst\n"
             f"       FROM op a JOIN op b ON a.g = b.g AND a.i <> b.i)"]
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT src FROM (SELECT src,"
            f" COUNT(*) AS d\n"
            f"         FROM e{r-1} GROUP BY src) WHERE d >= {KCORE_K})")
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT e.src, e.dst FROM e{r-1} e\n"
            f"         JOIN s{r} a ON e.src = a.src\n"
            f"         JOIN s{r} b ON e.dst = b.src)")
    rows = [f"SELECT {r} AS round,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM s{r}) AS nodes_kept,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r}) AS edges_kept"
            for r in range(1, KCORE_ROUNDS + 1)]
    return (",\n".join(parts) + "\n"
            + "\nUNION ALL\n".join(rows) + "\nORDER BY round")


@register(
    "kcore_peeling_profile",
    _kcore_oracle_sql(),
    doc=f"X123 k-core decomposition (k={KCORE_K}, {KCORE_ROUNDS} fixed "
        "peel rounds) of the part co-purchase graph: each round drops "
        "nodes with degree < k and the edges touching them, then "
        "re-counts. Output is the peel profile (survivors + directed "
        "edges per round) — the dense-subgraph extraction primitive "
        "behind community cores and spam-cluster mining. Rounds run "
        "distributed (one degree aggregate + two semi-joins, edges "
        "localCheckpoint per round) only while the measured edge set "
        f"is above {KCORE_LOCAL_FINISH_EDGE_MAX:,} (~64 MB of int64 "
        "pairs). When lineitem's parquet footer row count and one "
        "row-capped Arrow fetch of the (order, part) pairs fit that "
        "gate, and so does the k(k-1) edge bound, the "
        "graph is built and peeled exactly on the driver in NumPy; "
        "otherwise the distributed rounds hand the surviving edges to "
        "the same NumPy peel once they fit, because below that size "
        "per-job overhead outweighs the data. The profile returns as "
        "an Arrow-built LocalRelation; integer counts, no floats.",
    tags=("X123", "X42", "X7", "X3"),
)
def kcore_peeling_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    gate = KCORE_LOCAL_FINISH_EDGE_MAX
    graph = None
    # More footer rows than the gate: the capped fetch could only come
    # back full, so skip it.
    if parquet_footer(sf_dir, "lineitem")[0] <= gate:
        pairs = (li.select("l_orderkey", "l_partkey").limit(gate + 1)
                 .toArrow())
        if pairs.num_rows <= gate:
            graph = G.cooccurrence_edges_local(pairs, "l_orderkey",
                                               "l_partkey", gate)
    if graph is None:
        summaries = _kcore_distributed_rounds(li)
    else:
        ids, src, dst = graph
        summaries = G.kcore_peel_dense(src, dst, ids.size, KCORE_K, 1,
                                       KCORE_ROUNDS)
    return local_frame(spark, summaries,
                       "round INT, nodes_kept BIGINT, edges_kept BIGINT")


def _kcore_distributed_rounds(li: DataFrame) -> list[tuple[int, int, int]]:
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey") \
        .localCheckpoint(eager=False)
    n_edges = edges.count()
    summaries = []
    for r in range(1, KCORE_ROUNDS + 1):
        if n_edges <= KCORE_LOCAL_FINISH_EDGE_MAX:
            summaries += G.kcore_peel_local(edges.toArrow(), KCORE_K, r,
                                            KCORE_ROUNDS)
            break
        deg = edges.groupBy("src").agg(F.count("*").alias("d"))
        # Survivors are consumed 3x (count + both semi-joins);
        # checkpointing runs the degree aggregate once per round.
        # r10 (r9 verdict item 3): checkpoints lazy, the two per-round
        # counts are the materializing actions — two jobs per round
        # instead of four, identical peel profile.
        surv = (deg.filter(F.col("d") >= KCORE_K).select("src")
                .localCheckpoint(eager=False))
        n_nodes = surv.count()
        edges = (edges.join(surv, "src", "left_semi")
                 .join(surv.select(F.col("src").alias("dst")),
                       "dst", "left_semi")
                 .select("src", "dst").localCheckpoint(eager=False))
        n_edges = edges.count()
        summaries.append((r, n_nodes, n_edges))
        # Peeling only removes rows, so an unchanged (nodes, edges)
        # count pair means the SETS are unchanged — a fixed point.
        # Every later round repeats it verbatim; emit without running.
        if len(summaries) >= 2 and summaries[-2][1:] == (n_nodes, n_edges):
            summaries.extend(
                (rr, n_nodes, n_edges)
                for rr in range(r + 1, KCORE_ROUNDS + 1))
            break
    return summaries


# --------------------------------------------------------------------------
# X127: HITS hubs & authorities on the bipartite supplier -> part
# supply graph — the second classic eigenvector centrality (distinct
# from PageRank's random surfer: mutual hub/authority reinforcement).
# Scale-safe integer fixed point: after every half-step, scores are
# L-infinity-normalized on an integer grid (x * 1000 DIV max_x), so
# magnitudes stay in [0, 1000] for ANY corpus size and ANY iteration
# count — no overflow, no float division, and both engines fold the
# identical BIGINT recurrence (the max is a 1-row aggregate, the
# integer analog of the normalization every HITS implementation does
# in floats). Each half-step is one hash join + keyed aggregate over
# the distinct edge set (persisted once); the only collects are 1-row
# maxima.
# --------------------------------------------------------------------------
HITS_ITERS = 3
HITS_TOPK = 20
HITS_SCALE = 1000


def _hits_oracle_sql() -> str:
    s = HITS_SCALE
    parts = ["""WITH e AS MATERIALIZED (
        SELECT DISTINCT l_suppkey AS hub, l_partkey AS auth FROM lineitem
    ),
    h0 AS (SELECT DISTINCT hub, CAST(1 AS BIGINT) AS h FROM e)"""]
    prev_h = "h0"
    for r in range(1, HITS_ITERS + 1):
        parts.append(f"""a{r}r AS MATERIALIZED (
        SELECT e.auth, CAST(SUM(p.h) AS BIGINT) AS a
        FROM e JOIN {prev_h} p ON p.hub = e.hub GROUP BY e.auth)""")
        parts.append(f"""a{r} AS MATERIALIZED (
        SELECT auth, a * {s} // (SELECT MAX(a) FROM a{r}r) AS a FROM a{r}r)""")
        parts.append(f"""h{r}r AS MATERIALIZED (
        SELECT e.hub, CAST(SUM(q.a) AS BIGINT) AS h
        FROM e JOIN a{r} q ON q.auth = e.auth GROUP BY e.hub)""")
        parts.append(f"""h{r} AS MATERIALIZED (
        SELECT hub, h * {s} // (SELECT MAX(h) FROM h{r}r) AS h FROM h{r}r)""")
        prev_h = f"h{r}"
    last = HITS_ITERS
    return (",\n".join(parts) + f"""
    SELECT * FROM (
        SELECT 'authority' AS kind, auth AS node, a AS score
        FROM a{last} ORDER BY a DESC, auth LIMIT {HITS_TOPK})
    UNION ALL
    SELECT * FROM (
        SELECT 'hub' AS kind, hub AS node, h AS score
        FROM h{last} ORDER BY h DESC, hub LIMIT {HITS_TOPK})
    ORDER BY kind, score DESC, node""")


@register(
    "hits_supplier_part",
    _hits_oracle_sql(),
    doc=f"X127 HITS ({HITS_ITERS} iterations) on the distinct "
        "supplier->part supply graph: authority(part) = sum of its "
        "suppliers' hub scores, hub(supplier) = sum of its parts' "
        "authority scores, each half-step L-inf-normalized on the "
        f"integer grid (x * {HITS_SCALE} DIV max). Top-{HITS_TOPK} "
        "hubs and authorities. Edges persist once; every step is one "
        "shuffle join + aggregate; integer normalization bounds "
        "magnitudes at any scale so the recurrence never overflows "
        "and the oracle hash pins every score.",
    tags=("X127", "X42", "X3", "X7", "X12"),
)
def hits_supplier_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    e = persist_tracked(
        li.select(F.col("l_suppkey").alias("hub"),
                  F.col("l_partkey").alias("auth")).distinct())
    h = e.select("hub").distinct().withColumn("h", F.lit(1).cast("long"))
    a = None
    # r10 (r9 verdict item 3): each half-step ran TWO jobs and computed
    # the join+aggregate TWICE (once for the 1-row max collect, again
    # for the eager checkpoint of the normalized frame). Checkpoint the
    # aggregate itself lazily — the max collect materializes it — and
    # derive the normalized frame as a plain select over the cached
    # blocks (constant plan depth either way). One job per half-step,
    # the recurrence and every score unchanged.
    for _ in range(HITS_ITERS):
        ar = (e.join(h, "hub")
              .groupBy("auth").agg(F.sum("h").cast("long").alias("a"))
              .localCheckpoint(eager=False))
        max_a = ar.agg(F.max("a")).collect()[0][0]
        a = ar.select("auth", F.expr(f"a * {HITS_SCALE} div {max_a}")
                      .alias("a"))
        hr = (e.join(a, "auth")
              .groupBy("hub").agg(F.sum("a").cast("long").alias("h"))
              .localCheckpoint(eager=False))
        max_h = hr.agg(F.max("h")).collect()[0][0]
        h = hr.select("hub", F.expr(f"h * {HITS_SCALE} div {max_h}")
                      .alias("h"))
    top_a = (a.select(F.lit("authority").alias("kind"),
                      F.col("auth").alias("node"), F.col("a").alias("score"))
             .orderBy(F.desc("score"), F.asc("node")).limit(HITS_TOPK))
    top_h = (h.select(F.lit("hub").alias("kind"),
                      F.col("hub").alias("node"), F.col("h").alias("score"))
             .orderBy(F.desc("score"), F.asc("node")).limit(HITS_TOPK))
    return (top_a.unionByName(top_h)
            .orderBy("kind", F.desc("score"), F.asc("node")))


# --------------------------------------------------------------------------
# X133: Apriori LEVEL-3 frequent-itemset mining over brand baskets —
# the level-wise candidate-pruning step that X51 (pairs) stops short
# of, and the part that makes Apriori scale: candidate triples are
# generated ONLY from frequent pairs sharing a prefix and pruned by
# requiring ALL THREE sub-pairs frequent (the downward-closure
# property), and per-order triple fan-out is semi-joined against that
# candidate set BEFORE the support aggregate, so the count shuffle
# carries candidates, not the full C(k,3) cross. Support threshold is
# RELATIVE (ceil of TRIPLE_MINSUP_FRAC * orders), so the operator's
# selectivity is scale-invariant. Confidence/lift are single integer
# ratios.
# --------------------------------------------------------------------------
TRIPLE_MINSUP_FRAC = 0.003  # of distinct baskets
TRIPLE_TOPK = 20


def _triples_oracle_sql() -> str:
    return f"""
    WITH ob AS MATERIALIZED (
        SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders,
                 CAST(CEIL({TRIPLE_MINSUP_FRAC} * COUNT(DISTINCT o))
                      AS BIGINT) AS t
          FROM ob),
    l2 AS MATERIALIZED (
        SELECT a.b AS x, c.b AS y, CAST(COUNT(*) AS BIGINT) AS sup
        FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
        GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT t FROM n)
    ),
    c3 AS MATERIALIZED (
        -- one row per candidate (pairs are unique), so the t3 JOIN
        -- below is an exact semi-join, never a row multiplier
        SELECT p.x, p.y, q.y AS z
        FROM l2 p
        JOIN l2 q ON p.x = q.x AND p.y < q.y
        JOIN l2 r ON r.x = p.y AND r.y = q.y
    ),
    t3 AS MATERIALIZED (
        SELECT a.b AS x, c.b AS y, d.b AS z, CAST(COUNT(*) AS BIGINT)
                   AS sup_xyz
        FROM ob a
        JOIN ob c ON a.o = c.o AND a.b < c.b
        JOIN ob d ON a.o = d.o AND c.b < d.b
        JOIN c3 ON c3.x = a.b AND c3.y = c.b AND c3.z = d.b
        GROUP BY 1, 2, 3 HAVING COUNT(*) >= (SELECT t FROM n)
    ),
    ib AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS sup FROM ob GROUP BY b)
    SELECT t3.x, t3.y, t3.z, sup_xyz, l2.sup AS sup_xy,
           ROUND(CAST(sup_xyz AS DOUBLE) / l2.sup, 6) AS conf_xy_z,
           ROUND((CAST(sup_xyz AS DOUBLE) / l2.sup)
                 / (CAST(ib.sup AS DOUBLE) / (SELECT n_orders FROM n)), 6)
               AS lift
    FROM t3
    JOIN l2 ON l2.x = t3.x AND l2.y = t3.y
    JOIN ib ON ib.b = t3.z
    ORDER BY sup_xyz DESC, t3.x, t3.y, t3.z LIMIT {TRIPLE_TOPK}
    """


@register(
    "frequent_brand_triples",
    _triples_oracle_sql(),
    doc="X133 Apriori level-3: frequent brand triples in order "
        "baskets with true downward-closure pruning (candidates only "
        "from frequent prefix-sharing pairs, all three sub-pairs "
        "frequent, semi-join BEFORE the support aggregate). Relative "
        f"minsup {TRIPLE_MINSUP_FRAC:.1%} of baskets keeps selectivity "
        f"scale-invariant; top-{TRIPLE_TOPK} by support with the "
        "(x,y)->z confidence and lift as exact integer ratios.",
    tags=("X133", "X51", "X3", "X7", "X12"),
)
def frequent_brand_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ob = persist_tracked(
        li.join(F.broadcast(part.select(
            F.col("p_partkey").alias("l_partkey"), "p_brand")),
            "l_partkey")
        .select(F.col("l_orderkey").alias("o"),
                F.col("p_brand").alias("b")).distinct())
    n_orders = ob.select("o").distinct().count()
    t = math.ceil(TRIPLE_MINSUP_FRAC * n_orders)
    a, c = ob.alias("a"), ob.alias("c")
    l2 = persist_tracked(
        a.join(c, (F.col("a.o") == F.col("c.o"))
               & (F.col("a.b") < F.col("c.b")))
        .groupBy(F.col("a.b").alias("x"), F.col("c.b").alias("y"))
        .agg(F.count("*").cast("long").alias("sup"))
        .filter(F.col("sup") >= t))
    p, q = l2.alias("p"), l2.alias("q")
    c3 = (p.join(q, (F.col("p.x") == F.col("q.x"))
                 & (F.col("p.y") < F.col("q.y")))
          .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"),
                  F.col("q.y").alias("z"))
          .join(l2.select(F.col("x").alias("y"), F.col("y").alias("z")),
                ["y", "z"], "left_semi"))
    d = ob.alias("d")
    triples = (a.join(c, (F.col("a.o") == F.col("c.o"))
                      & (F.col("a.b") < F.col("c.b")))
               .join(d, (F.col("a.o") == F.col("d.o"))
                     & (F.col("c.b") < F.col("d.b")))
               .select(F.col("a.b").alias("x"), F.col("c.b").alias("y"),
                       F.col("d.b").alias("z")))
    t3 = (triples.join(c3, ["x", "y", "z"], "left_semi")
          .groupBy("x", "y", "z")
          .agg(F.count("*").cast("long").alias("sup_xyz"))
          .filter(F.col("sup_xyz") >= t))
    ib = ob.groupBy(F.col("b").alias("z")) \
        .agg(F.count("*").cast("long").alias("sup_z"))
    out = (t3.join(l2.select("x", "y", F.col("sup").alias("sup_xy")),
                   ["x", "y"])
           .join(ib, "z")
           .select("x", "y", "z", "sup_xyz", "sup_xy",
                   F.round(F.col("sup_xyz").cast("double")
                           / F.col("sup_xy"), 6).alias("conf_xy_z"),
                   F.round((F.col("sup_xyz").cast("double")
                            / F.col("sup_xy"))
                           / (F.col("sup_z").cast("double") / n_orders),
                           6).alias("lift")))
    return out.orderBy(F.desc("sup_xyz"), "x", "y", "z") \
        .limit(TRIPLE_TOPK)


# --------------------------------------------------------------------------
# X150: Bradley-Terry pairwise-preference ranking via the classic MM
# (minorization-maximization) update — the principled "who's best"
# model for pairwise outcomes (LLM eval arenas, ranker A/B logs).
# Contests: for every part two suppliers both sell, the cheaper
# average price wins — decided by EXACT cross-multiplication
# (S_i * n_j < S_j * n_i on BIGINT cents, never a float mean). Two MM
# rounds, each: gamma'_i = W_i * 1e12 / sum_j round(n_ij * 1e12 /
# (gamma_i + gamma_j)) — every pair term snaps to an integer BEFORE
# the per-supplier fold, so no float summation exists and both
# engines replay the identical trajectory. Pair table is bounded by
# per-part supplier fan-out; each round is one join + one keyed
# aggregate over it.
# --------------------------------------------------------------------------
BT_ITERS = 2
BT_SCALE = 1000000  # gamma fixed-point units
BT_TOPK = 20


def _bt_oracle_sql() -> str:
    sql = f"""
    WITH ps AS (
        SELECT l_partkey AS p, l_suppkey AS s,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2
    ),
    duels AS (
        SELECT a.s AS i, b.s AS j,
               CASE WHEN a.cents * b.n < b.cents * a.n THEN 1
                    WHEN a.cents * b.n > b.cents * a.n THEN -1
                    ELSE 0 END AS res
        FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
    ),
    pairs AS (
        SELECT i, j,
               CAST(SUM(CASE WHEN res = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS w_i,
               CAST(SUM(CASE WHEN res = -1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS w_j
        FROM duels WHERE res <> 0 GROUP BY i, j
    ),
    sym AS (
        SELECT i AS s, j AS o, w_i AS w, w_i + w_j AS n FROM pairs
        UNION ALL
        SELECT j, i, w_j, w_i + w_j FROM pairs
    ),
    wins AS (
        SELECT s, CAST(SUM(w) AS BIGINT) AS w_tot,
               CAST(SUM(n) AS BIGINT) AS n_tot
        FROM sym GROUP BY s
    ),
    g0 AS (SELECT s, CAST({BT_SCALE} AS BIGINT) AS g FROM wins)"""
    for r in range(1, BT_ITERS + 1):
        sql += f""",
    t{r} AS (
        SELECT sym.s,
               CAST(SUM(CAST(ROUND(sym.n * 1000000000000.0
                                   / (gi.g + gj.g), 0) AS BIGINT))
                    AS BIGINT) AS denom
        FROM sym
        JOIN g{r - 1} gi ON gi.s = sym.s
        JOIN g{r - 1} gj ON gj.s = sym.o
        GROUP BY sym.s
    ),
    g{r} AS (
        SELECT w.s,
               CAST(ROUND(w.w_tot * 1000000000000.0
                          / GREATEST(t{r}.denom, 1), 0) AS BIGINT) AS g
        FROM wins w JOIN t{r} ON t{r}.s = w.s
    )"""
    return sql + f"""
    SELECT s AS supplier, w_tot AS wins, n_tot AS games,
           g AS rating_micro
    FROM g{BT_ITERS} JOIN wins USING (s)
    ORDER BY g DESC, s LIMIT {BT_TOPK}
    """


@register(
    "bradley_terry_suppliers",
    _bt_oracle_sql(),
    doc=f"X150 Bradley-Terry supplier ranking ({BT_ITERS} MM rounds) "
        "from cheaper-average-price duels on shared parts (winners by "
        "exact cents cross-multiplication). Pair terms snap to "
        "integers before every fold; ratings are 1e-6 fixed-point, "
        f"top-{BT_TOPK} with deterministic ties. Duel generation is a "
        "part-keyed self-join (per-part bounded); each MM round is "
        "one join + aggregate over the supplier-pair table.",
    tags=("X150", "X42", "X3", "X7", "X12"),
)
def bradley_terry_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    ps = (li.groupBy(F.col("l_partkey").alias("p"),
                     F.col("l_suppkey").alias("s"))
          .agg(F.sum(F.round(F.col("l_extendedprice") * 100, 0)
                     .cast("long")).cast("long").alias("cents"),
               F.count("*").cast("long").alias("n")))
    a = ps.select(F.col("p"), F.col("s").alias("i"),
                  F.col("cents").alias("ci"), F.col("n").alias("ni"))
    b = ps.select(F.col("p"), F.col("s").alias("j"),
                  F.col("cents").alias("cj"), F.col("n").alias("nj"))
    duels = (a.join(b, "p").filter(F.col("i") < F.col("j"))
             .select("i", "j",
                     F.when(F.col("ci") * F.col("nj")
                            < F.col("cj") * F.col("ni"), 1)
                     .when(F.col("ci") * F.col("nj")
                           > F.col("cj") * F.col("ni"), -1)
                     .otherwise(0).alias("res"))
             .filter(F.col("res") != 0))
    pairs = (duels.groupBy("i", "j")
             .agg(F.sum(F.when(F.col("res") == 1, 1).otherwise(0))
                  .cast("long").alias("w_i"),
                  F.sum(F.when(F.col("res") == -1, 1).otherwise(0))
                  .cast("long").alias("w_j")))
    sym = persist_tracked(
        pairs.select(F.col("i").alias("s"), F.col("j").alias("o"),
                     F.col("w_i").alias("w"),
                     (F.col("w_i") + F.col("w_j")).alias("n"))
        .unionByName(
            pairs.select(F.col("j").alias("s"), F.col("i").alias("o"),
                         F.col("w_j").alias("w"),
                         (F.col("w_i") + F.col("w_j")).alias("n"))))
    wins = persist_tracked(
        sym.groupBy("s").agg(F.sum("w").cast("long").alias("w_tot"),
                             F.sum("n").cast("long").alias("n_tot")))
    g = wins.select("s", F.lit(BT_SCALE).cast("long").alias("g"))
    for _ in range(BT_ITERS):
        gi = g.select(F.col("s"), F.col("g").alias("gi"))
        gj = g.select(F.col("s").alias("o"), F.col("g").alias("gj"))
        denom = (sym.join(gi, "s").join(gj, "o")
                 .select("s", F.round(F.col("n") * 1000000000000.0
                                      / (F.col("gi") + F.col("gj")), 0)
                         .cast("long").alias("term"))
                 .groupBy("s")
                 .agg(F.sum("term").cast("long").alias("denom")))
        g = (wins.join(denom, "s")
             .select("s", F.round(F.col("w_tot") * 1000000000000.0
                                  / F.greatest(F.col("denom"), F.lit(1)),
                                  0).cast("long").alias("g"))
             .localCheckpoint())
    return (g.join(wins, "s")
            .select(F.col("s").alias("supplier"),
                    F.col("w_tot").alias("wins"),
                    F.col("n_tot").alias("games"),
                    F.col("g").alias("rating_micro"))
            .orderBy(F.desc("rating_micro"), F.asc("supplier"))
            .limit(BT_TOPK))


# --------------------------------------------------------------------------
# X156: degree assortativity (Newman's r) of the co-purchase graph —
# do high-degree products co-occur with other hubs (assortative,
# r > 0) or with niche parts (disassortative, r < 0)? The structural
# scalar that predicts hub-splitting and partition-skew behaviour for
# every other graph op in this repo. Over the SYMMETRIC directed edge
# list, r is the Pearson correlation of (deg(src), deg(dst)), and
# symmetry collapses it to pure integers:
#   r = (M * S_jk - S_j^2) / (M * S_j2 - S_j^2)
# with S_jk = sum deg_src*deg_dst, S_j = sum deg_src, S_j2 = sum
# deg_src^2 — three DECIMAL(38,0) folds over the degree-joined edge
# list (overflow-free at any scale), one division at the end.
# --------------------------------------------------------------------------
@register(
    "copurchase_assortativity",
    """
    WITH op AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                FROM lineitem),
    e AS (SELECT DISTINCT a.i AS src, b.i AS dst
          FROM op a JOIN op b ON a.g = b.g AND a.i <> b.i),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM e GROUP BY src),
    j AS (
        SELECT CAST(ds.d AS HUGEINT) AS dj, CAST(dd.d AS HUGEINT) AS dk
        FROM e
        JOIN deg ds ON ds.node = e.src
        JOIN deg dd ON dd.node = e.dst
    ),
    s AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS m,
               SUM(dj * dk) AS s_jk,
               SUM(dj) AS s_j,
               SUM(dj * dj) AS s_j2
        FROM j
    )
    SELECT CAST(m AS BIGINT) AS n_directed_edges,
           CAST(s_j AS BIGINT) AS sum_deg,
           CAST(s_jk AS BIGINT) AS sum_deg_prod,
           CAST(s_j2 AS BIGINT) AS sum_deg_sq,
           ROUND(CAST(m * s_jk - s_j * s_j AS DOUBLE)
                 / CAST(m * s_j2 - s_j * s_j AS DOUBLE), 6)
               AS assortativity
    FROM s
    """,
    doc="X156 Newman degree assortativity of the part co-purchase "
        "graph: Pearson correlation of endpoint degrees over the "
        "symmetric edge list, collapsed by symmetry to the integer "
        "ratio (M*S_jk - S_j^2) / (M*S_j2 - S_j^2) — three decimal "
        "folds on the degree-joined edges, one division. The "
        "hub-mixing scalar that forecasts skew for every graph "
        "workload here.",
    tags=("X156", "X42", "X7", "X3"),
)
def copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    e = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    deg = e.groupBy(F.col("src").alias("node")) \
        .agg(F.count("*").cast("long").alias("d"))
    j = (e.join(deg.select(F.col("node").alias("src"),
                           F.col("d").alias("dj")), "src")
         .join(deg.select(F.col("node").alias("dst"),
                          F.col("d").alias("dk")), "dst")
         .select(F.col("dj").cast("decimal(38,0)").alias("dj"),
                 F.col("dk").cast("decimal(38,0)").alias("dk")))
    s = j.agg(F.count("*").cast("decimal(38,0)").alias("m"),
              F.sum(F.col("dj") * F.col("dk")).alias("s_jk"),
              F.sum("dj").alias("s_j"),
              F.sum(F.col("dj") * F.col("dj")).alias("s_j2"))
    num = F.col("m") * F.col("s_jk") - F.col("s_j") * F.col("s_j")
    den = F.col("m") * F.col("s_j2") - F.col("s_j") * F.col("s_j")
    return s.select(
        F.col("m").cast("long").alias("n_directed_edges"),
        F.col("s_j").cast("long").alias("sum_deg"),
        F.col("s_jk").cast("long").alias("sum_deg_prod"),
        F.col("s_j2").cast("long").alias("sum_deg_sq"),
        F.round(num.cast("double") / den.cast("double"), 6)
        .alias("assortativity"))


# --------------------------------------------------------------------------
# X157: percolation / robustness sweep — how does the co-purchase
# graph fragment when hubs die? Three scenarios (intact; targeted
# attack removing the top-1% degree hubs; random removal of the same
# count by md5 order — the classic Albert-Barabasi attack-vs-failure
# contrast) each re-run the SAME fixed-round min-label component
# labelling (LPCC_ROUNDS synchronous rounds from label = self; the
# fixed prefix is deterministic on both engines whether or not it has
# converged — the kcore X123 discipline — and on this dense
# small-diameter graph it converges, which the sf0.001 law test
# verifies against true Python components). Per scenario: node/edge
# survivors, component count, largest component — the
# giant-component collapse curve operators read before relying on
# graph connectivity.
# --------------------------------------------------------------------------
LPCC_ROUNDS = 6
ATTACK_PCT = 1  # remove top ceil(n/100) hubs


def _percolation_oracle_sql() -> str:
    base = """WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
    e0 AS MATERIALIZED (
        SELECT DISTINCT a.i AS src, b.i AS dst
        FROM op a JOIN op b ON a.g = b.g AND a.i <> b.i),
    deg AS MATERIALIZED (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM e0 GROUP BY src),
    nn AS (SELECT CAST(CEIL(COUNT(*) / 100.0) AS BIGINT) AS h FROM deg),
    attack_rm AS MATERIALIZED (
        SELECT node FROM deg
        ORDER BY d DESC, node LIMIT (SELECT h FROM nn)),
    random_rm AS MATERIALIZED (
        SELECT node FROM deg
        ORDER BY ('0x' || substr(md5('rm:' || node), 1, 15))::BIGINT,
                 node
        LIMIT (SELECT h FROM nn))"""
    parts = [base]
    for scen in ("intact", "attack", "random"):
        rm = {"intact": "SELECT NULL WHERE 1=0",
              "attack": "SELECT node FROM attack_rm",
              "random": "SELECT node FROM random_rm"}[scen]
        parts.append(f"""e_{scen} AS MATERIALIZED (
        SELECT src, dst FROM e0
        WHERE src NOT IN ({rm}) AND dst NOT IN ({rm}))""")
        parts.append(f"""l_{scen}_0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS lab FROM e_{scen})""")
        for r in range(1, LPCC_ROUNDS + 1):
            parts.append(f"""l_{scen}_{r} AS MATERIALIZED (
        SELECT l.node,
               LEAST(l.lab, COALESCE(MIN(n.lab), l.lab)) AS lab
        FROM l_{scen}_{r - 1} l
        LEFT JOIN e_{scen} e ON e.src = l.node
        LEFT JOIN l_{scen}_{r - 1} n ON n.node = e.dst
        GROUP BY l.node, l.lab)""")
    rows = []
    for scen in ("intact", "attack", "random"):
        last = f"l_{scen}_{LPCC_ROUNDS}"
        rows.append(f"""SELECT '{scen}' AS scenario,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {last}) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e_{scen}) AS n_edges,
           (SELECT CAST(COUNT(DISTINCT lab) AS BIGINT) FROM {last})
               AS n_components,
           (SELECT CAST(MAX(c) AS BIGINT)
            FROM (SELECT COUNT(*) AS c FROM {last} GROUP BY lab))
               AS largest_cc""")
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(rows)


def percolation_scenario_edges(e0: DataFrame, rm: DataFrame) -> DataFrame:
    """Drop every edge touching a removed node, engine-side.

    The removal set stays a DataFrame (never a collected ``isin`` list:
    at 100 TB the top-1% hub set is millions of nodes, which would be
    inlined into the plan as literals). Two LEFT ANTI joins — one per
    endpoint — let Spark pick broadcast/shuffled anti-join by size;
    plan pinned in tests/test_plans.py and dumped in PLANS.md.
    """
    return (e0.join(rm, e0["src"] == rm["node"], "left_anti")
            .join(rm, e0["dst"] == rm["node"], "left_anti"))


def boruvka_min_edges(ed: DataFrame, lab: DataFrame) -> DataFrame:
    """One Boruvka round's per-component minimum outgoing edge.

    Label both endpoints by component, drop intra-component edges, and
    take the window argmin over the DISTINCT total order (w, lo, hi) —
    the cut property makes every pick a true MSF edge. One window over
    one hash-partitioned exchange on the component key; plan dumped in
    PLANS.md (per-round shape; rounds are chained via localCheckpoint).
    """
    le = (ed.join(lab.select(F.col("node").alias("u"),
                             F.col("lab").alias("lu")), "u")
          .join(lab.select(F.col("node").alias("v"),
                           F.col("lab").alias("lv")), "v")
          .filter(F.col("lu") != F.col("lv")))
    return (le.withColumn(
                "rn", F.row_number().over(
                    Window.partitionBy("lu").orderBy("w", "lo", "hi")))
            .filter(F.col("rn") == 1)
            .select("lu", "lv", "w", "lo", "hi"))


@register(
    "percolation_robustness",
    _percolation_oracle_sql(),
    doc=f"X157 robustness sweep of the co-purchase graph: intact vs "
        f"top-{ATTACK_PCT}% hub attack vs equal-count md5-random "
        f"removal, each labelled by {LPCC_ROUNDS} fixed synchronous "
        "min-label rounds (deterministic prefix; converges on this "
        "dense graph — law-verified against true Python components). "
        "Per scenario: survivors, components, giant-component size. "
        "Each round is one join + keyed min aggregate; removal sets "
        "are bounded top-k selections.",
    tags=("X157", "X30", "X42", "X3", "X7"),
)
def percolation_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    e0 = persist_tracked(
        G.cooccurrence_edges(li, "l_orderkey", "l_partkey"))
    deg = e0.groupBy(F.col("src").alias("node")) \
        .agg(F.count("*").alias("d"))
    n_nodes = deg.count()
    h = math.ceil(n_nodes / 100.0)
    # Removal sets stay DISTRIBUTED (r4 verdict item 3): at 100 TB the
    # top-1% hub list is millions of nodes — materializing it into an
    # `isin(...)` literal list would inline them all into the plan.
    # TakeOrderedAndProject bounds each selection to h rows; two LEFT
    # ANTI joins (src, dst) drop the removed endpoints engine-side.
    attack_rm = persist_tracked(
        deg.orderBy(F.desc("d"), F.asc("node")).limit(h)
        .select("node"))
    random_rm = persist_tracked(
        deg.select("node",
                   F.conv(F.substring(
                       F.md5(F.concat(F.lit("rm:"),
                                      F.col("node"))), 1, 15),
                       16, 10).cast("long").alias("k"))
        .orderBy("k", "node").limit(h).select("node"))
    # ONE scenario-keyed fixed point (the X196 all-scenarios-in-one-
    # frame shape): the three scenarios' edge sets union under a
    # scenario key, so the 6 min-label rounds run ONCE over
    # (scenario, node) instead of 3 sequential 6-round loops — 6
    # checkpoint barriers instead of 18, and the result assembles
    # engine-side (no per-scenario driver collects).
    scens = []
    for scen, rm in (("intact", None), ("attack", attack_rm),
                     ("random", random_rm)):
        e = e0 if rm is None else percolation_scenario_edges(e0, rm)
        scens.append(e.select(F.lit(scen).alias("scenario"),
                              "src", "dst"))
    se = (scens[0].unionByName(scens[1]).unionByName(scens[2])
          .localCheckpoint())
    lab = (se.select("scenario", F.col("src").alias("node")).distinct()
           .withColumn("lab", F.col("node")))
    for _ in range(LPCC_ROUNDS):
        nbr = (se.join(lab.select("scenario",
                                  F.col("node").alias("dst"),
                                  F.col("lab").alias("nlab")),
                       ["scenario", "dst"])
               .groupBy("scenario", F.col("src").alias("node"))
               .agg(F.min("nlab").alias("min_nlab")))
        lab = (lab.join(nbr, ["scenario", "node"], "left")
               .select("scenario", "node",
                       F.least(F.col("lab"),
                               F.coalesce(F.col("min_nlab"),
                                          F.col("lab")))
                       .alias("lab"))
               .localCheckpoint(eager=False))
    nodes = (lab.groupBy("scenario")
             .agg(F.count("*").cast("long").alias("n_nodes")))
    edges = (se.groupBy("scenario")
             .agg(F.count("*").cast("long").alias("n_edges")))
    comp = lab.groupBy("scenario", "lab").agg(F.count("*").alias("c"))
    cst = (comp.groupBy("scenario")
           .agg(F.count("*").cast("long").alias("n_components"),
                F.max("c").cast("long").alias("largest_cc")))
    # Output contract (r7 ADVICE): one row PER SCENARIO even if a
    # scenario's edge set empties out — left-join from the literal
    # 3-row scenario frame with counts coalesced to 0 (largest_cc
    # stays NULL for an empty graph, matching the oracle's scalar
    # MAX over zero rows). Inner joins here would silently drop the
    # scenario instead.
    scen_frame = spark.createDataFrame(
        [("intact",), ("attack",), ("random",)], "scenario string")
    return (scen_frame
            .join(nodes, "scenario", "left")
            .join(edges, "scenario", "left")
            .join(cst, "scenario", "left")
            .select("scenario",
                    F.coalesce("n_nodes", F.lit(0)).cast("long")
                    .alias("n_nodes"),
                    F.coalesce("n_edges", F.lit(0)).cast("long")
                    .alias("n_edges"),
                    F.coalesce("n_components", F.lit(0)).cast("long")
                    .alias("n_components"),
                    F.col("largest_cc").cast("long")
                    .alias("largest_cc")))


# --------------------------------------------------------------------------
# X161: minimum spanning forest by distributed Boruvka — the
# log-round MST algorithm every parallel-graph framework ships
# (clustering backbone, single-link HAC, network design). Weights are
# a pure integer function of the canonical endpoints (replayable on
# any engine) and the total order (w, lo, hi) is DISTINCT per edge,
# so the MSF is unique and every round deterministic. Each round:
# (1) every component picks its minimum outgoing edge (one window
# argmin over the label-joined edge list — the cut property makes
# every pick a true MSF edge), (2) picked edges are deduped, (3) the
# component graph contracts by CONTRACT_ROUNDS synchronous min-label
# rounds (the X157 fixed-prefix discipline: deterministic whether or
# not converged; the law test replays Python union-find to verify it
# converged, and Kruskal to verify every picked edge is in the true
# MSF). Rounds halve the component count at worst, so
# BORUVKA_ROUNDS = 3 contracts >= 8x; the per-round output row
# (components before/after, edges picked, weight added) is the
# trajectory a scheduler would monitor.
# --------------------------------------------------------------------------
BORUVKA_ROUNDS = 3
CONTRACT_ROUNDS = 5


def _boruvka_oracle_sql() -> str:
    parts = ["""WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
    eu AS MATERIALIZED (
        SELECT DISTINCT a.i AS lo, b.i AS hi,
               1 + (a.i + b.i) % 7 AS w
        FROM op a JOIN op b ON a.g = b.g AND a.i < b.i),
    ed AS MATERIALIZED (
        SELECT lo AS u, hi AS v, w, lo, hi FROM eu
        UNION ALL
        SELECT hi AS u, lo AS v, w, lo, hi FROM eu),
    l0 AS MATERIALIZED (
        SELECT DISTINCT u AS node, u AS lab FROM ed)"""]
    for r in range(BORUVKA_ROUNDS):
        parts.append(f"""me{r} AS MATERIALIZED (
        SELECT lu, lv, w, lo, hi FROM (
            SELECT lu.lab AS lu, lv.lab AS lv, e.w, e.lo, e.hi,
                   ROW_NUMBER() OVER (PARTITION BY lu.lab
                                      ORDER BY e.w, e.lo, e.hi) AS rn
            FROM ed e
            JOIN l{r} lu ON lu.node = e.u
            JOIN l{r} lv ON lv.node = e.v
            WHERE lu.lab <> lv.lab)
        WHERE rn = 1)""")
        parts.append(f"""pk{r} AS MATERIALIZED (
        SELECT DISTINCT lo, hi, w FROM me{r})""")
        parts.append(f"""cp{r} AS MATERIALIZED (
        SELECT DISTINCT lu AS a, lv AS b FROM me{r}
        UNION
        SELECT DISTINCT lv AS a, lu AS b FROM me{r})""")
        parts.append(f"""c{r}_0 AS MATERIALIZED (
        SELECT DISTINCT lab AS node, lab FROM l{r})""")
        for j in range(1, CONTRACT_ROUNDS + 1):
            parts.append(f"""c{r}_{j} AS MATERIALIZED (
        SELECT c.node,
               LEAST(c.lab, COALESCE(MIN(n.lab), c.lab)) AS lab
        FROM c{r}_{j - 1} c
        LEFT JOIN cp{r} e ON e.a = c.node
        LEFT JOIN c{r}_{j - 1} n ON n.node = e.b
        GROUP BY c.node, c.lab)""")
        parts.append(f"""l{r + 1} AS MATERIALIZED (
        SELECT l.node, c.lab
        FROM l{r} l JOIN c{r}_{CONTRACT_ROUNDS} c ON c.node = l.lab)""")
    rows = []
    for r in range(BORUVKA_ROUNDS):
        rows.append(f"""SELECT CAST({r + 1} AS BIGINT) AS round,
           (SELECT CAST(COUNT(DISTINCT lab) AS BIGINT) FROM l{r})
               AS components_before,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pk{r}) AS edges_picked,
           (SELECT CAST(SUM(w) AS BIGINT) FROM pk{r}) AS weight_added,
           (SELECT CAST(COUNT(DISTINCT lab) AS BIGINT) FROM l{r + 1})
               AS components_after""")
    return (",\n".join(parts) + "\n" + "\nUNION ALL\n".join(rows)
            + "\nORDER BY round")


@register(
    "boruvka_msf_rounds",
    _boruvka_oracle_sql(),
    doc=f"X161 distributed Boruvka minimum spanning forest over the "
        f"co-purchase graph ({BORUVKA_ROUNDS} rounds): per-component "
        "min outgoing edge by one window argmin over the distinct "
        "total order (w, lo, hi) — the cut property makes every pick "
        f"a true MSF edge — then {CONTRACT_ROUNDS} fixed synchronous "
        "min-label contraction rounds (X157 discipline; convergence + "
        "MSF membership law-verified vs Python union-find/Kruskal). "
        "Output: per-round components before/after, edges picked, "
        "weight added.",
    tags=("X161", "X30", "X42", "X3", "X7", "X10"),
)
def boruvka_msf_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    e0 = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    eu = persist_tracked(
        e0.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("lo"), F.col("dst").alias("hi"),
                (F.lit(1) + (F.col("src") + F.col("dst")) % 7)
                .cast("long").alias("w")))
    ed = (eu.select(F.col("lo").alias("u"), F.col("hi").alias("v"),
                    "w", "lo", "hi")
          .unionByName(eu.select(F.col("hi").alias("u"),
                                 F.col("lo").alias("v"),
                                 "w", "lo", "hi"))
          .localCheckpoint())
    lab = (ed.select(F.col("u").alias("node")).distinct()
           .withColumn("lab", F.col("node")).localCheckpoint())
    # r10 (r9 verdict item 3, guide §2): this loop ran ~8 jobs per
    # round. Now two: checkpoints are lazy and the two unavoidable
    # collects (pick stats, post-contraction component count)
    # materialize everything between them; comp_before is carried from
    # the previous round's comp_after (the label frame is untouched in
    # between — identical value, one count instead of two).
    out = []
    comp_before = lab.select("lab").distinct().count()
    for r in range(BORUVKA_ROUNDS):
        me = boruvka_min_edges(ed, lab).localCheckpoint(eager=False)
        pk = me.select("lo", "hi", "w").distinct()
        stats = pk.agg(F.count("*").alias("n"),
                       F.sum("w").alias("sw")).collect()[0]
        cp = (me.select(F.col("lu").alias("a"), F.col("lv").alias("b"))
              .union(me.select(F.col("lv").alias("a"),
                               F.col("lu").alias("b")))
              .distinct().localCheckpoint(eager=False))
        clab = (lab.select(F.col("lab").alias("node")).distinct()
                .withColumn("clab", F.col("node")))
        for _ in range(CONTRACT_ROUNDS):
            nbr = (cp.join(clab.select(F.col("node").alias("b"),
                                       F.col("clab").alias("nlab")), "b")
                   .groupBy(F.col("a").alias("node"))
                   .agg(F.min("nlab").alias("min_nlab")))
            clab = (clab.join(nbr, "node", "left")
                    .select("node",
                            F.least(F.col("clab"),
                                    F.coalesce(F.col("min_nlab"),
                                               F.col("clab")))
                            .alias("clab"))
                    .localCheckpoint(eager=False))
        lab = (lab.join(clab.select(F.col("node").alias("lab"),
                                    "clab"), "lab")
               .select("node", F.col("clab").alias("lab"))
               .localCheckpoint(eager=False))
        comp_after = lab.select("lab").distinct().count()
        out.append((r + 1, comp_before, int(stats["n"]),
                    int(stats["sw"]), comp_after))
        comp_before = comp_after
    return spark.createDataFrame(
        out, "round BIGINT, components_before BIGINT, "
             "edges_picked BIGINT, weight_added BIGINT, "
             "components_after BIGINT")


# --------------------------------------------------------------------------
# X167: clustering-coefficient profile + global transitivity — the
# local-density lens X39's raw triangle counts don't give: per node,
# c_v = 2*T_v / (d_v*(d_v-1)), plus transitivity = 3*triangles /
# #wedges. Triangle enumeration uses the DEGREE-ORIENTED wedge join
# (each undirected edge points from its (degree, id)-smaller to
# -larger endpoint, so every triangle is generated EXACTLY ONCE from
# its minimum vertex and wedge fan-out is bounded by out-degree ~
# O(sqrt(m)), never raw hub degree — the standard scalable triangle
# plan). Histogram buckets are computed as (20*T_v) DIV (d_v*(d_v-1))
# — pure BIGINT division, no float anywhere in the bucketing; the
# only double in the output is the final transitivity ratio.
# --------------------------------------------------------------------------
@register(
    "clustering_coefficient_profile",
    """
    WITH op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
    e AS MATERIALIZED (
        SELECT DISTINCT a.i AS src, b.i AS dst
        FROM op a JOIN op b ON a.g = b.g AND a.i <> b.i),
    deg AS MATERIALIZED (
        SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS d
        FROM e GROUP BY src),
    eo AS MATERIALIZED (
        SELECT e.src AS u, e.dst AS v, db.d AS dd
        FROM e JOIN deg da ON da.n = e.src JOIN deg db ON db.n = e.dst
        WHERE (da.d, e.src) < (db.d, e.dst)),
    tri AS MATERIALIZED (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM eo e1 JOIN eo e2
          ON e1.u = e2.u AND (e1.dd, e1.v) < (e2.dd, e2.v)
        JOIN eo e3 ON e3.u = e1.v AND e3.v = e2.v),
    tv AS MATERIALIZED (
        SELECT n, CAST(COUNT(*) AS BIGINT) AS t
        FROM (SELECT a AS n FROM tri UNION ALL
              SELECT b FROM tri UNION ALL SELECT c FROM tri)
        GROUP BY n),
    cc AS MATERIALIZED (
        SELECT deg.n, deg.d, COALESCE(tv.t, 0) AS t
        FROM deg LEFT JOIN tv ON tv.n = deg.n),
    hist AS (
        SELECT (20 * t) // (d * (d - 1)) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM cc WHERE d >= 2 GROUP BY 1),
    wedges AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS w
               FROM deg),
    ntri AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM tri)
    SELECT 'bucket' AS kind, CAST(bucket AS BIGINT) AS bucket, n,
           CAST(NULL AS DOUBLE) AS value
    FROM hist
    UNION ALL
    SELECT 'deg1', CAST(-1 AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cc WHERE d = 1),
           CAST(NULL AS DOUBLE)
    UNION ALL
    SELECT 'triangles', CAST(-1 AS BIGINT), ntri.t,
           CAST(NULL AS DOUBLE) FROM ntri
    UNION ALL
    SELECT 'global', CAST(-1 AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg),
           ROUND(3.0 * ntri.t / wedges.w, 6)
    FROM ntri CROSS JOIN wedges
    ORDER BY kind, bucket
    """,
    doc="X167 clustering-coefficient histogram (buckets of 0.05*k via "
        "pure BIGINT (20*T) DIV (d*(d-1))) + global transitivity "
        "3*tri/wedges over the co-purchase graph. Degree-oriented "
        "wedge join generates each triangle exactly once from its "
        "minimum vertex — fan-out bounded by out-degree O(sqrt(m)), "
        "hub-proof. The only float is the final transitivity ratio.",
    tags=("X167", "X39", "X42", "X3", "X7"),
)
def clustering_coefficient_profile(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    e = persist_tracked(G.cooccurrence_edges(li, "l_orderkey",
                                             "l_partkey"))
    deg = persist_tracked(
        e.groupBy(F.col("src").alias("n"))
        .agg(F.count("*").cast("long").alias("d")))
    # r8 re-plan: triangle enumeration moved onto the shared size-gated
    # helper (r7 lesson 3: adjacency-intersect against broadcast
    # neighbor arrays beats the degree-oriented wedge JOIN ~25% by
    # deleting the wedge-sized exchange; above KTRUSS_BCAST_EDGE_MAX it
    # falls back to exactly the wedge join this used to inline).
    # Identical triangle set — each triangle once from its
    # (degree, id)-minimum vertex.
    eu = (e.filter(F.col("src") < F.col("dst"))
          .select(F.col("src").alias("lo"), F.col("dst").alias("hi")))
    nb = eu.count()
    tri = persist_tracked(_ktruss_round1_triangles(eu, deg, nb))
    tv = (tri.select(F.col("u").alias("n"))
          .unionByName(tri.select(F.col("v").alias("n")))
          .unionByName(tri.select(F.col("w").alias("n")))
          .groupBy("n").agg(F.count("*").cast("long").alias("t")))
    cc = (deg.join(tv, "n", "left")
          .select("n", "d", F.coalesce(F.col("t"), F.lit(0)).alias("t")))
    hist = (cc.filter(F.col("d") >= 2)
            .groupBy(F.expr("(20 * t) DIV (d * (d - 1))").alias("bucket"))
            .agg(F.count("*").cast("long").alias("n"))
            .select(F.lit("bucket").alias("kind"),
                    F.col("bucket").cast("long"), "n",
                    F.lit(None).cast("double").alias("value")))
    # r10 (r9 verdict item 3): four scalar jobs folded into ONE collect
    # — deg1/nodes/wedges come from a single pass over the persisted
    # degree frame (cc's left join against the grouped tv cannot drop
    # or duplicate deg rows, so counting d == 1 on deg is identical),
    # crossJoined with the triangle count. Python round() kept so the
    # one double is bit-identical to before.
    srow = (deg.agg(
                F.coalesce(F.sum(F.when(F.col("d") == 1, 1)
                                 .otherwise(0)), F.lit(0))
                .cast("long").alias("n_deg1"),
                F.count("*").cast("long").alias("n_nodes"),
                F.sum(F.expr("d * (d - 1) DIV 2")).cast("long")
                .alias("n_wedges"))
            .crossJoin(tri.agg(F.count("*").cast("long").alias("n_tri")))
            ).collect()[0]
    n_deg1, n_tri = srow["n_deg1"], srow["n_tri"]
    n_nodes, n_wedges = srow["n_nodes"], srow["n_wedges"]
    extra = spark.createDataFrame(
        [("deg1", -1, n_deg1, None),
         ("triangles", -1, n_tri, None),
         ("global", -1, n_nodes, round(3.0 * n_tri / n_wedges, 6))],
        "kind STRING, bucket BIGINT, n BIGINT, value DOUBLE")
    return hist.unionByName(extra).orderBy("kind", "bucket")


# --------------------------------------------------------------------------
# X193: random-walk corpus generation (DeepWalk/node2vec stage 1) —
# graph-embedding pipelines never train on edges directly: they
# train a word2vec-style model on WALK SEQUENCES. This op generates
# those sequences deterministically: every hop draws the next
# neighbor by an md5 of (walk, step, current node) modulo the node's
# degree, over a per-node neighbor INDEX (row_number over sorted
# neighbors) — so the draw is a pure hash-join lookup, exactly
# uniform over neighbors, and bit-identical on both engines (no RNG
# state anywhere, the X103/X106 discipline). Walks start at the
# DW_SEEDS highest-degree nodes; each of DW_LEN hops is one join
# against the persisted index, localCheckpointed so plan depth stays
# constant; the oracle replays every hop as generated MATERIALIZED
# CTEs.
# --------------------------------------------------------------------------
DW_SEEDS = 20
DW_LEN = 8


def _deepwalk_oracle() -> str:
    head = f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                FROM lineitem),
    e AS MATERIALIZED (
        SELECT DISTINCT a.i AS src, b.i AS dst
        FROM op a JOIN op b ON a.g = b.g AND a.i <> b.i
    ),
    nbr AS MATERIALIZED (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
        FROM e
    ),
    deg AS MATERIALIZED (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src
    ),
    seeds AS (
        SELECT src AS wid FROM (
            SELECT src, ROW_NUMBER() OVER (ORDER BY deg DESC, src)
                       AS r
            FROM deg
        ) WHERE r <= {DW_SEEDS}
    ),
    w0 AS (SELECT wid, 0 AS step, wid AS cur FROM seeds)"""
    steps = []
    for t in range(1, DW_LEN + 1):
        steps.append(f"""
    w{t} AS MATERIALIZED (
        SELECT w.wid, {t} AS step, nbr.dst AS cur
        FROM w{t-1} w
        JOIN deg ON deg.src = w.cur
        JOIN nbr ON nbr.src = w.cur
               AND nbr.rn = ('0x' || substr(md5('dw:' || w.wid || ':'
                             || {t} || ':' || w.cur), 1, 15))::BIGINT
                             % deg.deg + 1
    )""")
    final = " UNION ALL ".join(
        f"SELECT wid, CAST(step AS BIGINT) AS step, cur AS node "
        f"FROM w{t}" for t in range(0, DW_LEN + 1))
    return (head + "," + ",".join(steps)
            + f" SELECT * FROM ({final}) ORDER BY wid, step")


@register(
    "deepwalk_corpus",
    _deepwalk_oracle(),
    doc=f"X193 DeepWalk corpus: {DW_SEEDS} walks of length {DW_LEN} "
        "from the highest-degree co-purchase nodes; each hop draws "
        "next = neighbor[md5(walk, step, cur) % degree + 1] over a "
        "sorted neighbor index — exactly uniform, RNG-free, one "
        "hash join per hop (localCheckpoint keeps plan depth "
        "constant); generated MATERIALIZED-CTE oracle replays every "
        "hop.",
    tags=("X193", "X42", "X78", "X106", "X3"),
)
def deepwalk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    edges = persist_tracked(
        G.cooccurrence_edges(li, "l_orderkey", "l_partkey"))
    nbr = persist_tracked(
        edges.withColumn("rn", F.row_number().over(
            Window.partitionBy("src").orderBy("dst")))
        .select(F.col("src").alias("nsrc"), "dst", "rn"))
    deg = persist_tracked(
        edges.groupBy("src").agg(F.count("*").cast("long")
                                 .alias("deg"))
        .select(F.col("src").alias("dsrc"), "deg"))
    seeds = (deg.withColumn("r", F.row_number().over(
        Window.orderBy(F.desc("deg"), F.asc("dsrc"))))
        .filter(F.col("r") <= DW_SEEDS)
        .select(F.col("dsrc").alias("wid")))
    cur = seeds.select("wid", F.lit(0).alias("step"),
                       F.col("wid").alias("cur")).localCheckpoint()
    out = cur
    for t in range(1, DW_LEN + 1):
        h = F.conv(F.substring(F.md5(F.concat(
            F.lit("dw:"), F.col("wid").cast("string"), F.lit(":"),
            F.lit(t).cast("string"), F.lit(":"),
            F.col("cur").cast("string"))), 1, 15), 16, 10) \
            .cast("long")
        step = (cur.join(deg, F.col("dsrc") == F.col("cur"))
                .withColumn("pick", h % F.col("deg") + 1)
                .join(nbr, (F.col("nsrc") == F.col("cur"))
                      & (F.col("rn") == F.col("pick")))
                .select("wid", F.lit(t).alias("step"),
                        F.col("dst").alias("cur"))
                .localCheckpoint(eager=False))
        out = out.unionByName(step)
        cur = step
    return (out.select("wid", F.col("step").cast("long").alias("step"),
                       F.col("cur").alias("node"))
            .orderBy("wid", "step"))


# --------------------------------------------------------------------------
# X205: Louvain phase 1 — modularity-OPTIMIZING community detection,
# the quality-driven counterpart to X97's label propagation (which
# optimizes nothing). The sequential Louvain sweep is order-dependent
# and unreplayable across engines, so this is the standard synchronous
# variant: every node evaluates its best neighbor-community move
# against the same snapshot; the modularity gain is kept as the exact
# INTEGER numerator 2m*(k_iC - k_iO) - k_i*(tot_C - (tot_O - k_i))
# (= 2m^2 * deltaQ for unit weights), so the argmax and the gain>0
# cutoff are bit-exact in both engines. Output is the community
# summary a curriculum planner reads: size, internal edge count, total
# degree and the exact per-community modularity numerator
# q_num = 2m*in2_c - tot_c^2 (sum = Q * 4m^2). BIGINT holds q_num
# through sf100 (tot_c < 3e9); past that the folds move to
# DECIMAL(38,0) unchanged.
# --------------------------------------------------------------------------
LOUVAIN_ROUNDS = 2


@register(
    "louvain_phase1_communities",
    G.louvain_oracle_sql(_EDGE_CTE, LOUVAIN_ROUNDS),
    doc=f"X205 synchronous Louvain phase 1 ({LOUVAIN_ROUNDS} best-move "
        "rounds, exact integer modularity-gain numerators, min-id "
        "ties) over the co-purchase graph; per-community size, "
        "internal edges, degree mass and exact modularity numerator "
        "q_num = 2m*in2 - tot^2. Each round: three keyed aggregates + "
        "one ranking window; no driver loop, no collected state.",
    tags=("X205", "X97", "X42", "X3", "X7", "X10"),
)
def louvain_phase1_communities(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    edges = persist_tracked(
        G.cooccurrence_edges(li, "l_orderkey", "l_partkey"))
    m2 = edges.count()
    deg = edges.groupBy(F.col("src").alias("node")) \
        .agg(F.count("*").cast("long").alias("k"))
    c = G.louvain_phase1(edges, m2, LOUVAIN_ROUNDS)
    ftot = (c.join(deg, "node").groupBy("c")
            .agg(F.count("*").cast("long").alias("n_nodes"),
                 F.sum("k").cast("long").alias("tot")))
    fin = (edges
           .join(c.select(F.col("node").alias("src"),
                          F.col("c").alias("ci")), "src")
           .join(c.select(F.col("node").alias("dst"),
                          F.col("c").alias("cj")), "dst")
           .filter(F.col("ci") == F.col("cj"))
           .groupBy(F.col("ci").alias("c"))
           .agg(F.count("*").cast("long").alias("in2")))
    return (ftot.join(fin, "c", "left")
            .select(F.col("c").alias("community"), "n_nodes",
                    F.coalesce("in2", F.lit(0)).cast("long").alias("in2"),
                    "tot",
                    (F.lit(int(m2)).cast("long")
                     * F.coalesce("in2", F.lit(0)).cast("long")
                     - F.col("tot") * F.col("tot")).cast("long")
                    .alias("q_num")))


# --------------------------------------------------------------------------
# X206: Weisfeiler-Lehman refinement profile — the structural-role
# fingerprint behind graph kernels and GNN expressiveness tests:
# lab_0 = H(degree); lab_{r+1}(v) = H(lab_r(v), aggregate of neighbor
# labels). The textbook aggregate (sorted multiset concat) builds
# hub-degree-sized strings, so this uses the standard hash-sum form:
# neighbor signature = (SUM(h9(lab)), COUNT) with h9 = 60-bit md5
# prefix mod 1e9 — commutative, partial-aggregatable, exact BIGINT up
# to 9e9 neighbors per node. Output: per-round class counts (classes,
# largest class, singletons) — the refinement trajectory. WL law:
# partitions only REFINE, so n_classes is non-decreasing (law test).
# --------------------------------------------------------------------------
WL_ROUNDS = 3


def _wl_oracle_sql() -> str:
    parts = [_EDGE_CTE,
             "deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS k "
             "FROM e GROUP BY src)",
             "w0 AS MATERIALIZED (SELECT node, "
             "md5('wl0:' || CAST(k AS VARCHAR)) AS lab FROM deg)"]
    for r in range(WL_ROUNDS):
        parts.append(
            f"h{r} AS (SELECT node, ('0x' || substr(md5(lab), 1, 15))"
            f"::BIGINT % 1000000000 AS h9 FROM w{r})")
        parts.append(
            f"a{r} AS (SELECT e.src AS node, CAST(SUM(h.h9) AS BIGINT) "
            f"AS s, CAST(COUNT(*) AS BIGINT) AS n "
            f"FROM e JOIN h{r} h ON h.node = e.dst GROUP BY e.src)")
        parts.append(
            f"w{r + 1} AS MATERIALIZED (SELECT w.node, "
            f"md5(w.lab || ':' || CAST(a.s AS VARCHAR) || ':' "
            f"|| CAST(a.n AS VARCHAR)) AS lab "
            f"FROM w{r} w JOIN a{r} a ON a.node = w.node)")
    stats = []
    for r in range(WL_ROUNDS + 1):
        stats.append(f"""SELECT CAST({r} AS BIGINT) AS round,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MAX(cnt) AS BIGINT) AS max_class,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singletons
        FROM (SELECT lab, COUNT(*) AS cnt FROM w{r} GROUP BY lab)""")
    return ("WITH " + ",\n".join(parts) + "\n"
            + "\nUNION ALL\n".join(stats))


@register(
    "weisfeiler_lehman_profile",
    _wl_oracle_sql(),
    doc=f"X206 Weisfeiler-Lehman color refinement ({WL_ROUNDS} rounds, "
        "hash-sum neighbor signatures: commutative SUM/COUNT of 1e9-"
        "bounded md5 ints, never a hub-sized sorted concat) over the "
        "co-purchase graph; per-round structural-class profile "
        "(classes, largest class, singletons). The graph-kernel / "
        "GNN-expressiveness fingerprint; refinement monotonicity "
        "law-tested.",
    tags=("X206", "X42", "X3", "X7", "X14"),
)
def weisfeiler_lehman_profile(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    edges = persist_tracked(
        G.cooccurrence_edges(li, "l_orderkey", "l_partkey"))
    deg = edges.groupBy(F.col("src").alias("node")) \
        .agg(F.count("*").cast("long").alias("k"))
    lab = deg.select(
        "node",
        F.md5(F.concat(F.lit("wl0:"), F.col("k").cast("string")))
        .alias("lab")).localCheckpoint(eager=False)
    labs = [lab]
    for _ in range(WL_ROUNDS):
        h9 = lab.select(
            "node",
            (F.conv(F.substring(F.md5("lab"), 1, 15), 16, 10)
             .cast("long") % 1000000000).alias("h9"))
        agg = (edges.join(h9.select(F.col("node").alias("dst"), "h9"),
                          "dst")
               .groupBy(F.col("src").alias("node"))
               .agg(F.sum("h9").cast("long").alias("s"),
                    F.count("*").cast("long").alias("n")))
        lab = (lab.join(agg, "node")
               .select("node",
                       F.md5(F.concat(
                           F.col("lab"), F.lit(":"),
                           F.col("s").cast("string"), F.lit(":"),
                           F.col("n").cast("string"))).alias("lab"))
               .localCheckpoint(eager=False))
        labs.append(lab)
    out = None
    for r, w in enumerate(labs):
        st = (w.groupBy("lab").agg(F.count("*").alias("cnt"))
              .agg(F.lit(r).cast("long").alias("round"),
                   F.count("*").cast("long").alias("n_classes"),
                   F.max("cnt").cast("long").alias("max_class"),
                   F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
                   .cast("long").alias("n_singletons")))
        out = st if out is None else out.unionByName(st)
    return out


# --------------------------------------------------------------------------
# X207: power iteration for the dominant adjacency eigenvector — the
# spectral centrality (eigenvector centrality) that PageRank (X42)
# approximates with teleportation, and the first step of spectral
# embedding/clustering. Each iteration is one matvec (edge join +
# SUM) followed by an exact integer max-normalization snap
# x' = (y * 1e5) DIV max(y), so trajectories are bit-identical across
# engines (no float norms). max(y) rides along as a broadcast 1-row
# frame, never a collected scalar. BIGINT headroom: y*1e5 <
# deg_max * 1e10 — fine through sf100; DECIMAL(38,0) drop-in past it.
# --------------------------------------------------------------------------
POWER_ITERS = 4
POWER_SCALE = 100000
POWER_TOPK = 20


def _power_iteration_oracle_sql() -> str:
    parts = [_EDGE_CTE,
             "nodes AS (SELECT DISTINCT src AS node FROM e)",
             f"x0 AS (SELECT node, CAST({POWER_SCALE} AS BIGINT) AS x "
             "FROM nodes)"]
    for r in range(POWER_ITERS):
        parts.append(
            f"y{r} AS MATERIALIZED (SELECT e.src AS node, "
            f"CAST(SUM(x.x) AS BIGINT) AS y "
            f"FROM e JOIN x{r} x ON x.node = e.dst GROUP BY e.src)")
        parts.append(
            f"x{r + 1} AS MATERIALIZED (SELECT node, "
            f"CAST((y * {POWER_SCALE}) // (SELECT MAX(y) FROM y{r}) "
            f"AS BIGINT) AS x FROM y{r})")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT node, x AS score FROM x{POWER_ITERS} "
            f"ORDER BY score DESC, node LIMIT {POWER_TOPK}")


@register(
    "power_iteration_hubs",
    _power_iteration_oracle_sql(),
    doc=f"X207 dominant-eigenvector centrality by {POWER_ITERS} power "
        "iterations over the co-purchase adjacency: matvec = one edge "
        "join + SUM per iteration; exact integer max-normalization "
        f"snap (y*{POWER_SCALE} DIV max) keeps both engines "
        "bit-identical with zero float norms; top-20 spectral hubs "
        "via TakeOrderedAndProject. Python-replay law-tested.",
    tags=("X207", "X42", "X3", "X7", "X12"),
)
def power_iteration_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    edges = persist_tracked(
        G.cooccurrence_edges(li, "l_orderkey", "l_partkey"))
    x = (edges.select(F.col("src").alias("node")).distinct()
         .withColumn("x", F.lit(POWER_SCALE).cast("long"))
         .localCheckpoint())
    for _ in range(POWER_ITERS):
        y = (edges.join(x.select(F.col("node").alias("dst"),
                                 F.col("x").alias("xv")), "dst")
             .groupBy(F.col("src").alias("node"))
             .agg(F.sum("xv").cast("long").alias("y")))
        mx = y.agg(F.max("y").alias("mx"))
        x = (y.crossJoin(F.broadcast(mx))
             .select("node",
                     F.expr(f"(y * {POWER_SCALE}) DIV mx")
                     .cast("long").alias("x"))
             .localCheckpoint())
    return (x.orderBy(F.desc("x"), F.asc("node")).limit(POWER_TOPK)
            .select("node", F.col("x").alias("score")))


# --------------------------------------------------------------------------
# X225: k-truss peeling — the EDGE-granular cohesion decomposition
# next to X123's k-core (vertex degrees) and X167's clustering
# coefficients (vertex ratios): an edge survives the k-truss iff it
# participates in >= k-2 triangles among surviving edges, so trusses
# isolate the community-grade cores k-core over-approximates.
#
# Plan (round-7 re-plan, r6 verdict item 6; round-6 re-plan was r5
# item 5): triangles are enumerated ONCE, in round 1, by the
# ADJACENCY-INTERSECT shape: orient each edge by (degree, id), build
# per-node sorted out-neighbor arrays, and explode
# array_intersect(N+(u), N+(v)) per oriented edge — each triangle
# found exactly once (at its lowest-ordered edge), with ZERO
# wedge-sized shuffle. The former degree-oriented wedge join
# materialized 41M wedge rows at sf0.1 (a ~1.6 GB exchange) to keep
# 1.9M triangles; the intersect does the same candidate filtering
# inside whole-stage codegen against a broadcast adjacency
# (array total == |oriented edges|, i.e. part-dimension-bounded here;
# on a graph too big to broadcast the identical plan runs as two
# sort-merge joins on u and v — still strictly less exchange than the
# wedge join). Measured −25% on the full query at sf0.1.
# Rounds 2+ never re-enumerate: a triangle survives iff none of its 3
# edges was peeled (edges are only ever REMOVED, so round-r triangles
# == round-1 triangles whose edges all survive), so the maintained
# triangle list is filtered by 3 anti-joins against the edge-DELTA
# (the removed set), and per-edge supports are DECREMENTED by the
# dropped triangles' edge counts — edge-delta-sized work instead of a
# full O(m^1.5) enumeration per round. Fixed 3 rounds (the X157
# deterministic-prefix discipline; convergence law-verified in
# Python). Output: the per-round peeling trajectory, value-identical
# to the re-enumeration oracle.
# --------------------------------------------------------------------------
KTRUSS_K = 4
KTRUSS_ROUNDS = 3


def _ktruss_oracle_sql() -> str:
    parts = [_EDGE_CTE,
             "deg AS (SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS d "
             "FROM e GROUP BY src)",
             "eu0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) "
             "AS lo, GREATEST(src, dst) AS hi FROM e)"]
    sup_min = KTRUSS_K - 2
    for r in range(KTRUSS_ROUNDS):
        parts.append(f"""eo{r} AS MATERIALIZED (
        SELECT CASE WHEN (da.d, eu.lo) < (db.d, eu.hi)
                    THEN eu.lo ELSE eu.hi END AS u,
               CASE WHEN (da.d, eu.lo) < (db.d, eu.hi)
                    THEN eu.hi ELSE eu.lo END AS v,
               CASE WHEN (da.d, eu.lo) < (db.d, eu.hi)
                    THEN db.d ELSE da.d END AS dv
        FROM eu{r} eu
        JOIN deg da ON da.n = eu.lo JOIN deg db ON db.n = eu.hi)""")
        parts.append(f"""tri{r} AS MATERIALIZED (
        SELECT w.u, w.v1, w.v2
        FROM (SELECT a.u, a.v AS v1, b.v AS v2
              FROM eo{r} a JOIN eo{r} b ON a.u = b.u
              WHERE (a.dv, a.v) < (b.dv, b.v)) w
        JOIN eo{r} c ON c.u = w.v1 AND c.v = w.v2)""")
        parts.append(f"""sup{r} AS (
        SELECT lo, hi, CAST(COUNT(*) AS BIGINT) AS s FROM (
            SELECT LEAST(u, v1) AS lo, GREATEST(u, v1) AS hi FROM tri{r}
            UNION ALL
            SELECT LEAST(u, v2), GREATEST(u, v2) FROM tri{r}
            UNION ALL
            SELECT LEAST(v1, v2), GREATEST(v1, v2) FROM tri{r}
        ) GROUP BY lo, hi)""")
        parts.append(f"""eu{r + 1} AS MATERIALIZED (
        SELECT eu.lo, eu.hi FROM eu{r} eu
        JOIN sup{r} s ON s.lo = eu.lo AND s.hi = eu.hi
        WHERE s.s >= {sup_min})""")
    rows = []
    for r in range(KTRUSS_ROUNDS):
        rows.append(f"""SELECT CAST({r + 1} AS BIGINT) AS round,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM eu{r})
               AS edges_before,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM eu{r})
           - (SELECT CAST(COUNT(*) AS BIGINT) FROM eu{r + 1})
               AS edges_removed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM eu{r + 1})
               AS edges_after,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tri{r}) AS triangles""")
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(rows)


# r7 verdict item 3: the broadcast-adjacency intersect is a clear win
# at sf0.1 (kills the 41M-row wedge exchange) but its payload grows
# with |oriented edges| — at a 100x co-purchase graph the two forced
# F.broadcast(adj) hints would OOM the driver rather than fall back
# (a broadcast hint is hard, not advisory). Gate on the exact oriented
# edge count (already materialized for the output row): below the cap
# (~240 MB of packed neighbor arrays, comfortably under executor
# broadcast budgets) broadcast-intersect; above it, the X167
# degree-oriented wedge JOIN — identical triangle set, hub-proof
# O(sqrt(m)) fan-out, shuffle-based. Crossover recorded in PLANS.md.
KTRUSS_BCAST_EDGE_MAX = 30_000_000


def _ktruss_round1_triangles(eu, deg, n_edges: int):
    """Size-gated round-1 triangle enumeration over canonical edges
    ``eu(lo, hi)`` with full-graph degrees ``deg(n, d)``: each
    triangle exactly once from its (degree, id)-minimum vertex, as
    (u, v, w) with (u, v) and (u, w) oriented edges and w the closing
    intersect/wedge vertex. Both branches produce the identical set;
    tests/test_plans.py pins both inner plans."""
    # r8 ADVICE: the degree-orientation joins live BEHIND the same
    # size gate as the adjacency — a hard F.broadcast(deg) on a 100x
    # graph (|V| ~ 20M nodes) is the exact hole the gate exists to
    # close. Below the cap, broadcast (|V| <= 2|E|, tiny at that
    # scale); above it, plain equi-joins and let AQE pick the
    # strategy at runtime from the actual build-side size.
    _hint = (F.broadcast if n_edges <= KTRUSS_BCAST_EDGE_MAX
             else (lambda df: df))
    eo = (eu.join(_hint(deg.select(F.col("n").alias("lo"),
                                   F.col("d").alias("da"))), "lo")
          .join(_hint(deg.select(F.col("n").alias("hi"),
                                 F.col("d").alias("db"))), "hi")
          .select(
              F.expr("CASE WHEN (da, lo) < (db, hi)"
                     " THEN lo ELSE hi END").alias("u"),
              F.expr("CASE WHEN (da, lo) < (db, hi)"
                     " THEN hi ELSE lo END").alias("v"),
              F.expr("CASE WHEN (da, lo) < (db, hi)"
                     " THEN db ELSE da END").alias("dv")))
    if n_edges <= KTRUSS_BCAST_EDGE_MAX:
        # w in N+(u) & N+(v) closes triangle (u, v, w) exactly once at
        # its lowest-ordered edge; the intersect runs in whole-stage
        # codegen against the broadcast adjacency — no wedge-sized
        # exchange.
        adj = (eo.groupBy(F.col("u").alias("n"))
               .agg(F.array_sort(F.collect_list("v")).alias("nbrs")))
        return (eo.join(
                    F.broadcast(adj.select(F.col("n").alias("u"),
                                           F.col("nbrs").alias("nu"))),
                    "u")
                .join(F.broadcast(adj.select(F.col("n").alias("v"),
                                             F.col("nbrs").alias("nv"))),
                      "v")
                .select("u", "v",
                        F.explode(F.array_intersect("nu", "nv"))
                        .alias("w")))
    # Scale fallback: degree-oriented wedge join (the X167 plan) —
    # wedges fan out from u bounded by oriented out-degree, closed by
    # an equi-join against the oriented edge list. Shuffles, but never
    # broadcasts anything graph-sized.
    e1 = eo.select("u", F.col("v").alias("v1"), F.col("dv").alias("d1"))
    e2 = eo.select("u", F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedge = e1.join(e2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2"))))
    closing = eo.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    return (wedge.join(closing, ["v1", "v2"])
            .select("u", F.col("v1").alias("v"), F.col("v2").alias("w")))


@register(
    "ktruss_peeling_profile",
    _ktruss_oracle_sql(),
    doc=f"X225 {KTRUSS_K}-truss peeling of the co-purchase graph "
        f"({KTRUSS_ROUNDS} fixed rounds): ONE degree-oriented "
        "adjacency-intersect triangle enumeration (round 1, broadcast "
        "neighbor arrays below KTRUSS_BCAST_EDGE_MAX oriented edges, "
        "else the X167 wedge JOIN — size-gated because a broadcast "
        "hint is hard, not advisory), then support "
        "MAINTENANCE — surviving triangles filtered by anti-joins "
        "against the removed-edge delta, per-edge supports "
        "decremented by the dropped triangles (edge-delta-sized "
        "rounds 2+, no re-enumeration); edges kept iff support >= "
        f"{KTRUSS_K - 2}. Edge-granular cohesion the k-core (X123) "
        "over-approximates; per-round trajectory (edges before/"
        "removed/after, triangles). Convergence + replay laws.",
    tags=("X225", "X123", "X167", "X39", "X3", "X7"),
)
def ktruss_peeling_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    e = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    # Canonical edges checkpoint FIRST; degrees then derive from the
    # checkpointed frame instead of re-running the co-occurrence
    # self-join a second time.
    eu = (e.filter(F.col("src") < F.col("dst"))
          .select(F.col("src").alias("lo"), F.col("dst").alias("hi"))
          .localCheckpoint())
    deg = persist_tracked(
        eu.select(F.col("lo").alias("n"))
        .unionByName(eu.select(F.col("hi").alias("n")))
        .groupBy("n").agg(F.count("*").cast("long").alias("d")))
    sup_min = KTRUSS_K - 2
    # nb doubles as the size estimate for the enumeration gate; edges
    # without a triangle peel in round 1 either way.
    nb = eu.count()
    # Round 1: the ONLY full triangle enumeration — size-gated between
    # broadcast-adjacency intersect and the X167 wedge join. Triangles
    # carry their 3 canonical edge keys so later rounds filter/
    # decrement without recomputing least/greatest.
    tri = (_ktruss_round1_triangles(eu, deg, nb)
           .select(F.least("u", "v").alias("e1_lo"),
                   F.greatest("u", "v").alias("e1_hi"),
                   F.least("u", "w").alias("e2_lo"),
                   F.greatest("u", "w").alias("e2_hi"),
                   F.least("v", "w").alias("e3_lo"),
                   F.greatest("v", "w").alias("e3_hi"))
           .localCheckpoint())

    def edge_uses(t):
        return (t.select(F.col("e1_lo").alias("lo"),
                         F.col("e1_hi").alias("hi"))
                .unionByName(t.select(F.col("e2_lo").alias("lo"),
                                      F.col("e2_hi").alias("hi")))
                .unionByName(t.select(F.col("e3_lo").alias("lo"),
                                      F.col("e3_hi").alias("hi"))))

    # cur = (edge, current support among surviving triangles), over
    # exactly the edges that had a triangle in round 1. Support is
    # MONOTONE NON-INCREASING, so an edge filtered out once can never
    # re-qualify — `cur.filter(s >= sup_min)` IS the live edge set and
    # no eu-join is needed after round 1.
    cur = (edge_uses(tri).groupBy("lo", "hi")
           .agg(F.count("*").cast("long").alias("s")).localCheckpoint())
    nt = tri.count()  # maintained arithmetically after round 1
    removed_hist: list = []  # per-round removed TRIANGLE-edge deltas
    out = None
    for r in range(KTRUSS_ROUNDS):
        keep = cur.filter(F.col("s") >= sup_min)
        na = keep.count()
        row = spark.createDataFrame(
            [(r + 1, nb, nb - na, na, nt)],
            "round BIGINT, edges_before BIGINT, edges_removed BIGINT, "
            "edges_after BIGINT, triangles BIGINT")
        out = row if out is None else out.unionByName(row)
        if r + 1 < KTRUSS_ROUNDS:
            # Support maintenance over the IMMUTABLE round-1 triangle
            # list: a triangle drops THIS round iff it touches this
            # round's removed delta but touched no earlier one (edges
            # only ever leave). Deltas are small -> every join below
            # broadcasts over checkpointed `tri`; nothing triangle- or
            # edge-sized is ever re-shuffled or re-materialized.
            # r10 (r9 verdict item 3): both per-round checkpoints are
            # lazy; the triangle-count collect below materializes them
            # — two jobs per round (keep-count + dropped-count)
            # instead of four.
            removed = (cur.filter(F.col("s") < sup_min)
                       .select("lo", "hi").localCheckpoint(eager=False))
            dropped = None
            for i in (1, 2, 3):
                hit = tri.join(
                    F.broadcast(removed.select(
                        F.col("lo").alias(f"e{i}_lo"),
                        F.col("hi").alias(f"e{i}_hi"))),
                    [f"e{i}_lo", f"e{i}_hi"], "left_semi")
                dropped = hit if dropped is None \
                    else dropped.unionByName(hit)
            # dedup: 2+ of a triangle's edges can fall in one delta
            dropped = dropped.dropDuplicates(
                ["e1_lo", "e1_hi", "e2_lo", "e2_hi", "e3_lo", "e3_hi"])
            for prior in removed_hist:
                for i in (1, 2, 3):
                    dropped = dropped.join(
                        F.broadcast(prior.select(
                            F.col("lo").alias(f"e{i}_lo"),
                            F.col("hi").alias(f"e{i}_hi"))),
                        [f"e{i}_lo", f"e{i}_hi"], "left_anti")
            dropped = dropped.localCheckpoint(eager=False)
            nt -= dropped.count()
            dec = (edge_uses(dropped).groupBy("lo", "hi")
                   .agg(F.count("*").cast("long").alias("dec")))
            # removed edges keep their (stale, < sup_min) rows in
            # `cur`; monotonicity guarantees they never pass the
            # filter again, so one broadcast left join is the whole
            # per-round update.
            cur = (cur.join(F.broadcast(dec), ["lo", "hi"], "left")
                   .select("lo", "hi",
                           (F.col("s") - F.coalesce(F.col("dec"),
                                                    F.lit(0)))
                           .cast("long").alias("s")))
            removed_hist.append(removed)
        nb = na
    return out


# --------------------------------------------------------------------------
# X228: link-prediction evaluation — the temporal-split recommender
# eval for graphs: score candidate non-edges of the TRAIN co-purchase
# graph (orders with even l_orderkey) by common-neighbors /
# Adamic-Adar / resource-allocation, label them by whether the edge
# APPEARS in the test half (odd orders), and measure each scorer's
# exact Mann-Whitney AUC (the X92 midrank identity — 2U in BIGINT,
# one float division per method). Candidates are the train graph's
# 2-hop pairs (the standard LP candidate set: wedge-join bounded,
# never all-pairs); AA/RA fold per-neighbor weights on the micro grid
# (deg >= 2 for any common neighbor, so l2m(deg) >= 1e6 — no zero
# denominators).
# --------------------------------------------------------------------------
def _lp_oracle_sql() -> str:
    methods = (("cn", "cn"), ("aa", "aa"), ("ra", "ra"))
    per_method = []
    for name, col in methods:
        per_method.append(f"""SELECT '{name}' AS method, {col} AS s,
               CAST(SUM(lbl) AS BIGINT) AS n_pos,
               CAST(SUM(1 - lbl) AS BIGINT) AS n_neg
        FROM scored GROUP BY {col}""")
    vals = "\nUNION ALL\n".join(per_method)
    return f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                FROM lineitem),
    etr AS (SELECT DISTINCT a.i AS src, b.i AS dst
            FROM op a JOIN op b ON a.g = b.g AND a.i <> b.i
            WHERE a.g % 2 = 0),
    ete AS (SELECT DISTINCT LEAST(a.i, b.i) AS lo,
                   GREATEST(a.i, b.i) AS hi
            FROM op a JOIN op b ON a.g = b.g AND a.i < b.i
            WHERE a.g % 2 = 1),
    deg AS (SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS d
            FROM etr GROUP BY src),
    cand AS (
        SELECT LEAST(a.dst, b.dst) AS lo, GREATEST(a.dst, b.dst) AS hi,
               CAST(COUNT(*) AS BIGINT) AS cn,
               CAST(SUM(1000000000000 //
                        CAST(ROUND(log2(d.d) * 1000000) AS BIGINT))
                    AS BIGINT) AS aa,
               CAST(SUM(1000000000 // d.d) AS BIGINT) AS ra
        FROM etr a JOIN etr b ON a.src = b.src AND a.dst < b.dst
        JOIN deg d ON d.z = a.src
        GROUP BY 1, 2
    ),
    nonedge AS (
        SELECT c.* FROM cand c
        LEFT JOIN etr e ON e.src = c.lo AND e.dst = c.hi
        WHERE e.src IS NULL
    ),
    scored AS (
        SELECT n.cn, n.aa, n.ra,
               CASE WHEN t.lo IS NOT NULL THEN 1 ELSE 0 END AS lbl
        FROM nonedge n LEFT JOIN ete t ON t.lo = n.lo AND t.hi = n.hi
    ),
    vals AS ({vals}),
    cum AS (
        SELECT method, s, n_pos, n_neg,
               CAST(COALESCE(SUM(n_neg) OVER (
                   PARTITION BY method ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS neg_below
        FROM vals
    )
    SELECT method,
           CAST(SUM(n_pos) AS BIGINT) AS n_pos,
           CAST(SUM(n_neg) AS BIGINT) AS n_neg,
           ROUND(SUM(n_pos * (2 * neg_below + n_neg))
                 / (2.0 * SUM(n_pos) * SUM(n_neg)), 6) AS auc
    FROM cum GROUP BY method
    """


# r10 (guide §3.1): every small side broadcast below this cap is a
# projection of the training edge set (edges + two term columns, ~48 B
# per row in the built relation, so ~300 MB at the cap — inside the
# executor broadcast budget, far under the 8 GB relation cap). Above
# it the hints are identity and the planner/AQE keep shuffled joins —
# the r9 ungated attempt is the documented cliff this gate closes.
LINKPRED_BCAST_EDGE_MAX = 6_000_000


@register(
    "link_prediction_eval",
    _lp_oracle_sql(),
    doc="X228 link-prediction evaluation on a temporal co-purchase "
        "split (even l_orderkey train / odd test): 2-hop candidate "
        "non-edges scored by common-neighbors, Adamic-Adar (micro-grid "
        "1/log2 deg) and resource-allocation (integer 1/deg); labels = "
        "edge appears in test; per-method exact Mann-Whitney AUC (2U "
        "in BIGINT, X92 midrank identity, one final division). The "
        "graph-recommender eval loop, wedge-join bounded end to end. "
        "Python replay + CN<=min-degree laws.",
    tags=("X228", "X92", "X42", "X3", "X7", "X11"),
)
def link_prediction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    op = li.select(F.col("l_orderkey").alias("g"),
                   F.col("l_partkey").alias("i")).distinct()
    a, b = op.alias("a"), op.alias("b")
    etr = persist_tracked(
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col("a.i") != F.col("b.i")))
        .filter(F.col("a.g") % 2 == 0)
        .select(F.col("a.i").alias("src"), F.col("b.i").alias("dst"))
        .distinct())
    ete = (a.join(b, (F.col("a.g") == F.col("b.g"))
                  & (F.col("a.i") < F.col("b.i")))
           .filter(F.col("a.g") % 2 == 1)
           .select(F.col("a.i").alias("lo"), F.col("b.i").alias("hi"))
           .distinct())
    # r10 optimization (guide §3.1, r9 verdict item 2): every join in
    # this query has a small side that is a pure projection of the
    # training edge set (directed edges, per-center degree terms, test
    # edges), but all of them are aggregate outputs with no usable size
    # estimate, so the planner picked SortMergeJoin everywhere — two
    # full exchanges+sorts of etr by z, an SMJ pass over the 77.6M-row
    # wedge stream, and two more sorts of the 33M-row candidate set.
    # Below the size gate (mirroring KTRUSS_BCAST_EDGE_MAX; the r9
    # UNGATED pre-attach attempt flipped everything to SMJ and tripled
    # the runtime — the documented cliff) we broadcast those small
    # sides; above it the hint is identity and AQE keeps the shuffled
    # plan. The count materializes the persist the query pays anyway.
    n_edges = etr.count()
    _hint = (F.broadcast if n_edges <= LINKPRED_BCAST_EDGE_MAX
             else (lambda df: df))
    deg = etr.groupBy(F.col("src").alias("z")) \
        .agg(F.count("*").cast("long").alias("d"))
    # Per-center AA/RA terms: the IDENTICAL integer expressions the
    # aggregate evaluated per wedge row, computed once per center and
    # attached before the wedge fan-out — SUM(term) over the same
    # multiset of rows, so the totals are bit-equal. d = 1 centers
    # produce no na < nb wedge, so the old code never evaluated their
    # term; guard them to NULL here (under ANSI mode DIV 0 would THROW,
    # not yield NULL — caught by tests/test_round10_laws.py).
    degw = deg.select(
        "z",
        F.expr("CASE WHEN d < 2 THEN CAST(NULL AS BIGINT) ELSE "
               "1000000000000 DIV CAST(ROUND(log2(d) * 1000000)"
               " AS BIGINT) END").alias("aat"),
        F.expr("1000000000 DIV d").alias("rat"))
    wa = etr.select(F.col("src").alias("z"), F.col("dst").alias("na"))
    wb = etr.select(F.col("src").alias("z"), F.col("dst").alias("nb"))
    wbt = wb.join(_hint(degw), "z")
    cand = (wa.join(_hint(wbt), "z").filter(F.col("na") < F.col("nb"))
            .groupBy(F.col("na").alias("lo"), F.col("nb").alias("hi"))
            .agg(F.count("*").cast("long").alias("cn"),
                 F.sum("aat").cast("long").alias("aa"),
                 F.sum("rat").cast("long").alias("ra")))
    nonedge = cand.join(
        _hint(etr.select(F.col("src").alias("lo"),
                         F.col("dst").alias("hi"))),
        ["lo", "hi"], "left_anti")
    # r9 optimization (guide §2.3 aggregate-before-shuffle): the scored
    # candidate set is tens of millions of rows, but the three AUC
    # branches only consume it grouped by one score column each — so
    # fold it ONCE to the (cn, aa, ra, lbl) value histogram (map-side
    # partial agg shrinks it to the distinct-combination count, ~1e4)
    # and derive every method's per-score counts from the weighted
    # histogram. One pass instead of three, and the former 32M-row
    # persist becomes a KB-scale cached frame. Exact: n_pos(s) =
    # Σ w over rows with method-score s and lbl=1, identically.
    compact = persist_tracked(
        nonedge.join(_hint(ete.withColumn("lbl", F.lit(1))),
                     ["lo", "hi"], "left")
        .select("cn", "aa", "ra",
                F.coalesce("lbl", F.lit(0)).alias("lbl"))
        .groupBy("cn", "aa", "ra", "lbl")
        .agg(F.count("*").cast("long").alias("w")))
    out = None
    for method in ("cn", "aa", "ra"):
        vals = (compact.groupBy(F.col(method).alias("s"))
                .agg(F.sum(F.col("lbl") * F.col("w")).cast("long")
                     .alias("n_pos"),
                     F.sum((1 - F.col("lbl")) * F.col("w"))
                     .cast("long").alias("n_neg")))
        cum = vals.select(
            "s", "n_pos", "n_neg",
            F.coalesce(F.sum("n_neg").over(
                Window.orderBy("s")
                .rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
            .cast("long").alias("neg_below"))
        row = cum.agg(
            F.lit(method).alias("method"),
            F.sum("n_pos").cast("long").alias("n_pos"),
            F.sum("n_neg").cast("long").alias("n_neg"),
            F.round(F.sum(F.col("n_pos")
                          * (2 * F.col("neg_below") + F.col("n_neg")))
                    / (2.0 * F.sum("n_pos") * F.sum("n_neg")), 6)
            .alias("auc"))
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# X233: Luby's maximal independent set — THE canonical symmetry-breaking
# primitive of distributed graph computing (Luby 1986): each round every
# active vertex draws a priority (md5 of round:vertex, so task retries
# and both engines re-derive it), joins the MIS iff its priority beats
# every active neighbor's, then winners and their neighborhoods leave
# the graph. Expected O(log n) rounds; the profile below runs a fixed
# LUBY_ROUNDS and reports per-round selected / id-checksum / remaining
# (law test asserts the graph empties at test scale, plus independence
# and maximality of the final set). Each round is two hash joins and an
# aggregate on the shrinking active edge set — no driver-side vertex
# lists, the anti-joins stay distributed.
# --------------------------------------------------------------------------
LUBY_ROUNDS = 8


def _luby_oracle_sql() -> str:
    def md5p(r: str) -> str:
        return (f"CAST(('0x' || substr(md5('luby:{r}:' || "
                f"CAST(v AS VARCHAR)), 1, 15)) AS BIGINT)")

    ctes = []
    rows = []
    prev = "a0"
    for r in range(1, LUBY_ROUNDS + 1):
        ctes.append(f"""p{r} AS MATERIALIZED (
        SELECT v, {md5p(str(r))} AS p FROM {prev}
    ),
    e{r} AS MATERIALIZED (
        SELECT e.src, e.dst FROM edges e
        JOIN {prev} x ON x.v = e.src JOIN {prev} y ON y.v = e.dst
    ),
    nm{r} AS MATERIALIZED (
        SELECT e.src AS v, MIN(p.p) AS mp
        FROM e{r} e JOIN p{r} p ON p.v = e.dst GROUP BY e.src
    ),
    s{r} AS MATERIALIZED (
        SELECT p.v FROM p{r} p LEFT JOIN nm{r} n ON n.v = p.v
        WHERE n.mp IS NULL OR p.p < n.mp
    ),
    rm{r} AS MATERIALIZED (
        SELECT DISTINCT e.dst AS v
        FROM e{r} e JOIN s{r} s ON s.v = e.src
    ),
    a{r} AS MATERIALIZED (
        SELECT a.v FROM {prev} a
        LEFT JOIN s{r} s ON s.v = a.v
        LEFT JOIN rm{r} m ON m.v = a.v
        WHERE s.v IS NULL AND m.v IS NULL
    )""")
        rows.append(
            f"SELECT CAST({r} AS BIGINT) AS round,\n"
            f"  (SELECT CAST(COUNT(*) AS BIGINT) FROM s{r})"
            f" AS n_selected,\n"
            f"  (SELECT CAST(COALESCE(SUM(v), 0) AS BIGINT) FROM s{r})"
            f" AS sel_id_sum,\n"
            f"  (SELECT CAST(COUNT(*) AS BIGINT) FROM a{r})"
            f" AS n_remaining")
        prev = f"a{r}"
    cte_sql = ",\n    ".join(ctes)
    union = "\nUNION ALL\n".join(rows)
    return f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                FROM lineitem),
    edges AS MATERIALIZED (SELECT DISTINCT a.i AS src, b.i AS dst
              FROM op a JOIN op b ON a.g = b.g AND a.i <> b.i),
    a0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM edges),
    {cte_sql}
    {union}
    """


@register(
    "luby_mis",
    _luby_oracle_sql(),
    doc=f"X233 Luby maximal independent set ({LUBY_ROUNDS} rounds) on "
        "the part co-purchase graph: per-round md5 priorities, select "
        "iff strictly below every active neighbor (isolated vertices "
        "self-select), remove winners + neighborhoods via distributed "
        "anti-joins. Output: per-round selected count, selected-id "
        "checksum, remaining actives. Independence + maximality + "
        "empties-at-test-scale laws in tests/test_round5_laws.py.",
    tags=("X233", "X30", "X3", "X7"),
)
def luby_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # r10 (r9 verdict item 3, guide §2): this loop ran FIVE jobs per
    # round (three eager checkpoints + the stats collect + the active
    # count) and is scheduler-bound at bench scale. Checkpoints are now
    # LAZY and ordered so each round's two unavoidable collects are the
    # actions that materialize them: the stats collect materializes
    # ``sel`` (and the previous round's ``eact`` via nbmin), the
    # remaining-count materializes ``active`` — two jobs per round,
    # same checkpointed lineage truncation, identical results. The
    # final round's ``eact`` is never consumed and is no longer built.
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey") \
        .localCheckpoint()
    active = edges.select(F.col("src").alias("v")).distinct() \
        .localCheckpoint(eager=False)
    eact = edges
    results = []
    for r in range(1, LUBY_ROUNDS + 1):
        pri = active.select(
            "v",
            F.expr(f"CAST(conv(substring(md5(concat('luby:{r}:', "
                   "CAST(v AS STRING))), 1, 15), 16, 10) AS BIGINT)")
            .alias("p"))
        nbmin = (eact.join(pri.select(F.col("v").alias("dst"),
                                      F.col("p").alias("pd")), "dst")
                 .groupBy(F.col("src").alias("v"))
                 .agg(F.min("pd").alias("mp")))
        sel = (pri.join(nbmin, "v", "left")
               .filter(F.col("mp").isNull() | (F.col("p") < F.col("mp")))
               .select("v").localCheckpoint(eager=False))
        stats = sel.agg(F.count("*").cast("long"),
                        F.coalesce(F.sum("v"), F.lit(0)).cast("long")
                        ).first()
        removed = (eact.join(sel.select(F.col("v").alias("src")), "src")
                   .select(F.col("dst").alias("v")).distinct())
        active = (active.join(sel, "v", "left_anti")
                  .join(removed, "v", "left_anti")
                  .localCheckpoint(eager=False))
        n_remaining = active.count()
        eact = (eact.join(active.select(F.col("v").alias("src")), "src")
                .join(active.select(F.col("v").alias("dst")), "dst")
                .select("src", "dst").localCheckpoint(eager=False))
        results.append((r, stats[0], stats[1], n_remaining))
    return spark.createDataFrame(
        results,
        "round long, n_selected long, sel_id_sum long, n_remaining long")


# --------------------------------------------------------------------------
# X241: densest-subgraph peeling (Charikar's greedy, Bahmani's
# distributed batch form): each round removes EVERY vertex whose
# degree is at most the current average (deg * V <= 2E — the epsilon=0
# batch rule; at least the min-degree vertex always qualifies, so the
# graph strictly shrinks), and the densest prefix over rounds is the
# 2-approximation answer. Per-round trajectory (V, E, density, peeled)
# is the output — integer comparisons only, density on the micro grid.
# Unlike X123 k-core (fixed threshold k) the peel threshold here moves
# with the surviving subgraph. Charikar (2000), Bahmani et al.
# (VLDB 2012); [EXT].
# --------------------------------------------------------------------------
DSG_ROUNDS = 8


def _dsg_oracle_sql() -> str:
    ctes = []
    rows = []
    prev_e = "edges"
    for r in range(1, DSG_ROUNDS + 1):
        ctes.append(f"""deg{r} AS MATERIALIZED (
        SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d
        FROM {prev_e} GROUP BY src
    )""")
        ctes.append(f"""st{r} AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS nv,
               CAST(COALESCE(SUM(d), 0) AS BIGINT) AS e2
        FROM deg{r}
    )""")
        ctes.append(f"""keep{r} AS MATERIALIZED (
        SELECT g.v FROM deg{r} g CROSS JOIN st{r} s
        WHERE g.d * s.nv > s.e2
    )""")
        ctes.append(f"""e{r} AS MATERIALIZED (
        SELECT e.src, e.dst FROM {prev_e} e
        JOIN keep{r} a ON a.v = e.src
        JOIN keep{r} b ON b.v = e.dst
    )""")
        rows.append(
            f"SELECT CAST({r} AS BIGINT) AS round, s.nv AS n_nodes,"
            f" s.e2 // 2 AS n_edges,\n"
            f"  CASE WHEN s.nv > 0 THEN (s.e2 * 500000) // s.nv"
            f" ELSE 0 END AS density_micro,\n"
            f"  s.nv - (SELECT COUNT(*) FROM keep{r}) AS n_peeled\n"
            f"FROM st{r} s")
        prev_e = f"e{r}"
    return ("WITH op AS (SELECT DISTINCT l_orderkey AS g, l_partkey"
            " AS i FROM lineitem),\n"
            "    edges AS MATERIALIZED (SELECT DISTINCT a.i AS src,"
            " b.i AS dst\n"
            "        FROM op a JOIN op b ON a.g = b.g AND a.i <> b.i),\n"
            "    " + ",\n    ".join(ctes) + "\n"
            + "\nUNION ALL\n".join(rows))


@register(
    "densest_subgraph_peel",
    _dsg_oracle_sql(),
    doc=f"X241 densest-subgraph batch peeling ({DSG_ROUNDS} rounds) on "
        "the part co-purchase graph: per round drop every vertex with "
        "deg * V <= 2E (integer comparison against the live average), "
        "re-derive the induced edge set with two hash joins, record "
        "(V, E, density_micro, peeled). max density over rounds is "
        "Charikar's 2-approx answer. Python replay + strict-shrink + "
        "density-identity laws.",
    tags=("X241", "X123", "X225", "X7", "X3"),
)
def densest_subgraph_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # r10 (r9 verdict item 3, guide §2): five jobs per round (three
    # eager checkpoints + two collects) folded into the two collects —
    # checkpoints are lazy; the stats collect materializes ``deg`` (and
    # the previous round's ``eact``), the keep-count materializes
    # ``keep``. Identical peel trajectory; the final round's ``eact``
    # has no consumer and is no longer built.
    eact = G.cooccurrence_edges(li, "l_orderkey", "l_partkey") \
        .localCheckpoint()
    results = []
    for r in range(1, DSG_ROUNDS + 1):
        deg = (eact.groupBy(F.col("src").alias("v"))
               .agg(F.count("*").cast("long").alias("d"))
               .localCheckpoint(eager=False))
        st = deg.agg(F.count("*").cast("long"),
                     F.coalesce(F.sum("d"), F.lit(0)).cast("long")
                     ).first()
        nv, e2 = st[0], st[1]
        keep = (deg.filter(F.col("d") * nv > e2).select("v")
                .localCheckpoint(eager=False))
        n_keep = keep.count()
        eact = (eact.join(keep.withColumnRenamed("v", "src"), "src")
                .join(keep.withColumnRenamed("v", "dst"), "dst")
                .select("src", "dst").localCheckpoint(eager=False))
        results.append((r, nv, e2 // 2,
                        (e2 * 500000) // nv if nv > 0 else 0,
                        nv - n_keep))
    return spark.createDataFrame(
        results, "round long, n_nodes long, n_edges long, "
                 "density_micro long, n_peeled long")


# --------------------------------------------------------------------------
# X242: betweenness centrality (k-seed Brandes) — the one classic
# centrality the registry lacked (vs degree X156, PageRank X42,
# HITS X127, k-core X123): how much shortest-path traffic flows
# THROUGH a node. Exact Brandes from BC_SEEDS seed sources to radius
# BC_LEVELS (the standard pivot-sampled estimator, Brandes 2001 /
# Bader-Madduri pivots): forward level-synchronous BFS accumulates
# path counts sigma (exact BIGINT — level frames keyed by (seed, v),
# ALL seeds advance in the same join, one pass per level, never one
# job per seed); backward dependency accumulation folds
# delta(v) = sum_w sigma_v (1 + delta_w) / sigma_w on the micro grid
# (one correctly-rounded double per edge term). Output: top-20 nodes
# by accumulated dependency. The oracle unrolls both sweeps as
# MATERIALIZED CTEs.
# --------------------------------------------------------------------------
BC_SEEDS = 4
BC_LEVELS = 4

_BC_TERM = ("CAST(ROUND(CAST({sv} AS DOUBLE) * (1000000 + {dw})"
            " / {sw}, 0) AS BIGINT)")


def _bc_oracle_sql() -> str:
    ctes = [f"""seeds AS MATERIALIZED (
        SELECT i AS seed FROM (SELECT DISTINCT src AS i FROM edges)
        ORDER BY i LIMIT {BC_SEEDS}
    )""", """lv0 AS MATERIALIZED (
        SELECT seed, seed AS v, CAST(1 AS BIGINT) AS sigma FROM seeds
    )""", """vis0 AS MATERIALIZED (
        SELECT seed, v FROM lv0
    )"""]
    for l in range(1, BC_LEVELS + 1):
        ctes.append(f"""lv{l} AS MATERIALIZED (
        SELECT p.seed, e.dst AS v, CAST(SUM(p.sigma) AS BIGINT) AS sigma
        FROM lv{l - 1} p JOIN edges e ON e.src = p.v
        LEFT JOIN vis{l - 1} x ON x.seed = p.seed AND x.v = e.dst
        WHERE x.v IS NULL
        GROUP BY p.seed, e.dst
    )""")
        ctes.append(f"""vis{l} AS MATERIALIZED (
        SELECT seed, v FROM vis{l - 1}
        UNION ALL SELECT seed, v FROM lv{l}
    )""")
    ctes.append(f"""d{BC_LEVELS} AS MATERIALIZED (
        SELECT seed, v, sigma, CAST(0 AS BIGINT) AS delta
        FROM lv{BC_LEVELS}
    )""")
    for l in range(BC_LEVELS - 1, 0, -1):
        term = _BC_TERM.format(sv="c2.sigma", dw="w.delta", sw="w.sigma")
        ctes.append(f"""d{l} AS MATERIALIZED (
        SELECT c.seed, c.v, c.sigma, COALESCE(t.s, 0) AS delta
        FROM lv{l} c LEFT JOIN (
            SELECT c2.seed, c2.v, CAST(SUM({term}) AS BIGINT) AS s
            FROM lv{l} c2
            JOIN edges e ON e.src = c2.v
            JOIN d{l + 1} w ON w.seed = c2.seed AND w.v = e.dst
            GROUP BY c2.seed, c2.v
        ) t ON t.seed = c.seed AND t.v = c.v
    )""")
    union = "\nUNION ALL\n        ".join(
        f"SELECT seed, v, delta FROM d{l}"
        for l in range(1, BC_LEVELS + 1))
    cte_sql = ",\n    ".join(ctes)
    return f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                FROM lineitem),
    edges AS MATERIALIZED (SELECT DISTINCT a.i AS src, b.i AS dst
              FROM op a JOIN op b ON a.g = b.g AND a.i <> b.i),
    {cte_sql},
    allv AS ({union})
    SELECT v, CAST(SUM(delta) AS BIGINT) AS bc_micro,
           CAST(COUNT(*) AS BIGINT) AS n_seed_paths
    FROM allv GROUP BY v
    ORDER BY bc_micro DESC, v LIMIT 20
    """


@register(
    "betweenness_kseeds",
    _bc_oracle_sql(),
    doc=f"X242 k-seed Brandes betweenness ({BC_SEEDS} seeds, radius "
        f"{BC_LEVELS}) on the part co-purchase graph: multi-source "
        "level-synchronous forward BFS (exact BIGINT path counts, all "
        "seeds share each level's join), backward dependency "
        "accumulation with micro-grid edge terms, top-20 by "
        "accumulated dependency. Python Brandes replay + "
        "sigma-composition law.",
    tags=("X242", "X78", "X42", "X3", "X7"),
)
def betweenness_kseeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey") \
        .localCheckpoint()
    seeds = (edges.select(F.col("src").alias("seed")).distinct()
             .orderBy("seed").limit(BC_SEEDS))
    lv = {0: seeds.select("seed", F.col("seed").alias("v"),
                          F.lit(1).cast("long").alias("sigma"))
          .localCheckpoint()}
    vis = lv[0].select("seed", "v").localCheckpoint()
    for l in range(1, BC_LEVELS + 1):
        nxt = (lv[l - 1].join(edges, lv[l - 1].v == edges.src)
               .join(vis.withColumnRenamed("v", "dst"), ["seed", "dst"],
                     "left_anti")
               .groupBy("seed", F.col("dst").alias("v"))
               .agg(F.sum("sigma").cast("long").alias("sigma"))
               .localCheckpoint())
        lv[l] = nxt
        vis = vis.unionByName(nxt.select("seed", "v")).localCheckpoint()
    delta = {BC_LEVELS: lv[BC_LEVELS].withColumn(
        "delta", F.lit(0).cast("long")).localCheckpoint()}
    for l in range(BC_LEVELS - 1, 0, -1):
        succ = delta[l + 1].select(
            "seed", F.col("v").alias("dst"),
            F.col("sigma").alias("sw"), F.col("delta").alias("dw"))
        contrib = (lv[l].join(edges, lv[l].v == edges.src)
                   .join(succ, ["seed", "dst"])
                   .groupBy("seed", "v")
                   .agg(F.sum(F.expr(
                       "CAST(ROUND(CAST(sigma AS DOUBLE)"
                       " * (1000000 + dw) / sw, 0) AS BIGINT)"))
                       .cast("long").alias("s")))
        delta[l] = (lv[l].join(contrib, ["seed", "v"], "left")
                    .select("seed", "v", "sigma",
                            F.coalesce("s", F.lit(0)).alias("delta"))
                    .localCheckpoint())
    allv = None
    for l in range(1, BC_LEVELS + 1):
        part = delta[l].select("seed", "v", "delta")
        allv = part if allv is None else allv.unionByName(part)
    return (allv.groupBy("v")
            .agg(F.sum("delta").cast("long").alias("bc_micro"),
                 F.count("*").cast("long").alias("n_seed_paths"))
            .orderBy(F.desc("bc_micro"), "v").limit(20))


# --------------------------------------------------------------------------
# X243: temporal motif census — triangles of the co-purchase graph
# classified by the TIME ORDER of their edges (Paranjape et al., WSDM
# 2017): each undirected edge carries its first-co-purchase date (MIN
# order date over shared orders, exact integer epoch days), each
# id-oriented triangle classifies by (a) how many of its three edge
# dates are distinct (strict sequence / one tie / all simultaneous)
# and (b) which edge formed first (argmin index, ties lowest), with a
# span bucket (max-min <= TM_WINDOW_DAYS or beyond). Static triangle
# counting (X39/X167) sees structure; this sees FORMATION DYNAMICS —
# the difference between a clique that grew and one that appeared.
# All-integer: dates are epoch days, census cells are exact counts.
# --------------------------------------------------------------------------
TM_WINDOW_DAYS = 60


@register(
    "temporal_triangle_census",
    f"""
    WITH og AS (
        SELECT DISTINCT o.o_orderkey AS g,
               CAST(date_diff('day', DATE '1992-01-01',
                    CAST(o.o_orderdate AS DATE)) AS BIGINT) AS t,
               l.l_partkey AS i
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    ed AS MATERIALIZED (
        SELECT LEAST(a.i, b.i) AS lo, GREATEST(a.i, b.i) AS hi,
               CAST(MIN(a.t) AS BIGINT) AS t
        FROM og a JOIN og b ON a.g = b.g AND a.i < b.i
        GROUP BY 1, 2
    ),
    tri AS (
        SELECT e1.t AS t1, e2.t AS t2, e3.t AS t3
        FROM ed e1
        JOIN ed e2 ON e2.lo = e1.hi
        JOIN ed e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    ),
    cls AS (
        SELECT CASE WHEN t1 <> t2 AND t2 <> t3 AND t1 <> t3
                    THEN 'strict'
                    WHEN t1 = t2 AND t2 = t3 THEN 'tie3'
                    ELSE 'tie2' END
               || ':' ||
               CASE WHEN t1 <= t2 AND t1 <= t3 THEN '1'
                    WHEN t2 <= t3 THEN '2' ELSE '3' END AS pattern,
               CASE WHEN GREATEST(t1, t2, t3) - LEAST(t1, t2, t3)
                         <= {TM_WINDOW_DAYS}
                    THEN 'within' ELSE 'beyond' END AS span_bucket,
               GREATEST(t1, t2, t3) - LEAST(t1, t2, t3) AS span
        FROM tri
    )
    SELECT pattern, span_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST(SUM(span) AS BIGINT) AS sum_span_days
    FROM cls GROUP BY pattern, span_bucket
    """,
    doc=f"X243 temporal triangle census: co-purchase edges dated by "
        "first shared order (integer epoch days), id-oriented "
        "triangle join, cells = (tie-structure : first-edge argmin) x "
        f"(span <= {TM_WINDOW_DAYS}d or beyond) with exact counts and "
        "span mass. Formation-dynamics view of X39/X167's static "
        "triangles. Python replay + census-conservation laws.",
    tags=("X243", "X39", "X167", "X3", "X7"),
)
def temporal_triangle_census(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    og = (li.join(o, li.l_orderkey == o.o_orderkey)
          .select(F.col("l_orderkey").alias("g"),
                  F.datediff(F.col("o_orderdate").cast("date"),
                             F.lit("1992-01-01").cast("date"))
                  .cast("long").alias("t"),
                  F.col("l_partkey").alias("i"))
          .distinct())
    a, b = og.alias("a"), og.alias("b")
    ed = persist_tracked(
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col("a.i") < F.col("b.i")))
        .groupBy(F.col("a.i").alias("lo"), F.col("b.i").alias("hi"))
        .agg(F.min(F.col("a.t")).cast("long").alias("t")))
    # r10 NOTE (guide §1.1, tried and REVERTED): rebuilding this on the
    # shared size-gated adjacency-intersect (each triangle once, dates
    # re-attached by sorted ids via three gated broadcast joins)
    # measured 7.51s vs 5.89s solo A/B at sf0.1 — the MIN-date edge
    # aggregate dominates this query, and the extra edge count, degree
    # aggregate and re-attach joins cost more than the id-oriented
    # wedge exchange saves at this density. Kept as the wedge join.
    e1 = ed.select(F.col("lo").alias("x"), F.col("hi").alias("y"),
                   F.col("t").alias("t1"))
    e2 = ed.select(F.col("lo").alias("y"), F.col("hi").alias("z"),
                   F.col("t").alias("t2"))
    e3 = ed.select(F.col("lo").alias("x"), F.col("hi").alias("z"),
                   F.col("t").alias("t3"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    pattern = (
        F.when((F.col("t1") != F.col("t2")) & (F.col("t2") != F.col("t3"))
               & (F.col("t1") != F.col("t3")), "strict")
        .when((F.col("t1") == F.col("t2"))
              & (F.col("t2") == F.col("t3")), "tie3")
        .otherwise("tie2"))
    first = (F.when((F.col("t1") <= F.col("t2"))
                    & (F.col("t1") <= F.col("t3")), "1")
             .when(F.col("t2") <= F.col("t3"), "2").otherwise("3"))
    span = (F.greatest("t1", "t2", "t3")
            - F.least("t1", "t2", "t3"))
    cls = tri.select(
        F.concat(pattern, F.lit(":"), first).alias("pattern"),
        F.when(span <= TM_WINDOW_DAYS, "within").otherwise("beyond")
        .alias("span_bucket"),
        span.alias("span"))
    return (cls.groupBy("pattern", "span_bucket")
            .agg(F.count("*").cast("long").alias("n_triangles"),
                 F.sum("span").cast("long").alias("sum_span_days")))


# --------------------------------------------------------------------------
# X253: disparity-filter backbone extraction — statistical graph
# sparsification (Serrano-Boguna-Vespignani, PNAS 2009): an edge
# survives if its weight is TOO LARGE to be a uniform split of its
# endpoint's strength — alpha = (1 - w/s)^(k-1) below the
# significance threshold. Where percolation (X157) removes nodes and
# k-core/k-truss (X123/X225) filter by raw structure, this filters by
# weight significance, which is what a 100 TB co-purchase graph needs
# before any expensive downstream analytics (keep the 5% of edges
# that carry the signal). Weighted edges = co-purchase counts (exact
# BIGINT); alpha is one POW per edge direction, micro-snapped; the
# operating curve reports four thresholds from ONE alpha computation.
# Degree-1 edges pin alpha = 1e6 (never significant) to dodge the
# engine-dependent 0^0.
#
# Known residual cross-engine risk (round-6 ADVICE, accepted): ROUND
# snaps POW(...) to the micro grid and the thresholds then compare the
# snapped value strictly. A half-ulp libm difference between DuckDB
# and the JVM at an exact .5 micro boundary would flip a_micro by 1
# and could flip n_kept at some other data scale (the same class of
# risk exists for EXP in gmm_em_values/platt_scaling and SIN/COS in
# daily_periodogram). Verified green at sf0.001/sf0.01; the DF_ALPHAS
# thresholds (1e4..2e5) sit far from any observed a_micro boundary,
# and the alternative (rational-arithmetic POW) is not expressible in
# either engine, so the boundary risk is documented rather than
# re-planned.
# --------------------------------------------------------------------------
DF_ALPHAS = (10_000, 50_000, 100_000, 200_000)  # micro thresholds


@register(
    "disparity_backbone",
    f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                FROM lineitem),
    we AS (
        SELECT a.i AS src, b.i AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM op a JOIN op b ON a.g = b.g AND a.i <> b.i
        GROUP BY 1, 2
    ),
    st AS (
        SELECT src AS v, CAST(SUM(w) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM we GROUP BY src
    ),
    alpha AS (
        SELECT e.src, e.dst, e.w,
               CASE WHEN n.k <= 1 THEN CAST(1000000 AS BIGINT)
                    ELSE CAST(ROUND(POW(1 - CAST(e.w AS DOUBLE) / n.s,
                                        n.k - 1) * 1000000, 0)
                              AS BIGINT) END AS a_micro
        FROM we e JOIN st n ON n.v = e.src
    ),
    und AS (
        SELECT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi,
               MAX(w) AS w, MIN(a_micro) AS a_min
        FROM alpha GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(w) AS BIGINT) AS w_total
        FROM und
    ),
    th(t) AS (VALUES {", ".join(f"({t})" for t in DF_ALPHAS)})
    SELECT CAST(th.t AS BIGINT) AS alpha_micro,
           CAST(SUM(CASE WHEN u.a_min < th.t THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN u.a_min < th.t THEN u.w ELSE 0 END)
                AS BIGINT) AS w_kept,
           CAST((SUM(CASE WHEN u.a_min < th.t THEN 1 ELSE 0 END)
                 * 1000000) // t2.n_edges AS BIGINT)
               AS edge_frac_micro,
           CAST((SUM(CASE WHEN u.a_min < th.t THEN u.w ELSE 0 END)
                 * 1000000) // t2.w_total AS BIGINT)
               AS weight_frac_micro
    FROM und u CROSS JOIN th CROSS JOIN tot t2
    GROUP BY th.t, t2.n_edges, t2.w_total
    """,
    doc="X253 disparity-filter backbone (Serrano et al. 2009) on the "
        "weighted co-purchase graph: per-direction alpha = "
        "(1 - w/s)^(k-1) micro-snapped (degree-1 pins 1e6 to dodge "
        "0^0), an edge enters the backbone when EITHER endpoint finds "
        "it significant (min alpha); operating curve over four "
        "thresholds from one alpha pass — edges/weight retained, the "
        "sparsification a 100 TB graph runs before any downstream "
        "analytics. Python replay + monotone-curve + weight-"
        "concentration laws.",
    tags=("X253", "X157", "X123", "X7", "X3"),
)
def disparity_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    op = li.select(F.col("l_orderkey").alias("g"),
                   F.col("l_partkey").alias("i")).distinct()
    a, b = op.alias("a"), op.alias("b")
    we = persist_tracked(
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col("a.i") != F.col("b.i")))
        .groupBy(F.col("a.i").alias("src"), F.col("b.i").alias("dst"))
        .agg(F.count("*").cast("long").alias("w")))
    st = (we.groupBy(F.col("src").alias("v"))
          .agg(F.sum("w").cast("long").alias("s"),
               F.count("*").cast("long").alias("k")))
    alpha = (we.join(st, we.src == st.v)
             .select("src", "dst", "w",
                     F.expr("CASE WHEN k <= 1 THEN"
                            " CAST(1000000 AS BIGINT)"
                            " ELSE CAST(ROUND(POW(1 -"
                            " CAST(w AS DOUBLE) / s, k - 1)"
                            " * 1000000, 0) AS BIGINT) END")
                     .alias("a_micro")))
    und = (alpha.groupBy(F.least("src", "dst").alias("lo"),
                         F.greatest("src", "dst").alias("hi"))
           .agg(F.max("w").alias("w"),
                F.min("a_micro").alias("a_min"))
           .localCheckpoint(eager=False))
    tot = und.agg(F.count("*").cast("long").alias("n_edges"),
                  F.sum("w").cast("long").alias("w_total"))
    th = li.sparkSession.createDataFrame(
        [(t,) for t in DF_ALPHAS], "t long")
    return (und.crossJoin(F.broadcast(th))
            .crossJoin(F.broadcast(tot))
            .groupBy(F.col("t").alias("alpha_micro"),
                     "n_edges", "w_total")
            .agg(F.sum(F.when(F.col("a_min") < F.col("t"), 1)
                       .otherwise(0)).cast("long").alias("n_kept"),
                 F.sum(F.when(F.col("a_min") < F.col("t"), F.col("w"))
                       .otherwise(0)).cast("long").alias("w_kept"))
            .select("alpha_micro", "n_kept", "w_kept",
                    F.expr("(n_kept * 1000000) DIV n_edges")
                    .cast("long").alias("edge_frac_micro"),
                    F.expr("(w_kept * 1000000) DIV w_total")
                    .cast("long").alias("weight_frac_micro")))


# --------------------------------------------------------------------------
# X264: strongly connected components (FW-BW pivot decomposition) —
# the DIRECTED-graph cohesion primitive the family lacks: X30's
# connected components ignore direction, X123/X225 peel undirected
# structure; SCCs answer "which parts co-occur in purchase ORDER
# cycles", the question on any directed flow graph. Graph: part A ->
# part B when A sits on the line directly above B in a deep-quantity
# order (l_quantity >= SCC_QMIN keeps the graph sparse enough to
# have real structure — the full transition graph is one giant SCC).
# Algorithm: the Fleischer-Hendrickson-Pinar FW-BW step — forward and
# backward frontier BFS from the minimum-id pivot run to FIXPOINT
# (each round is one edge join + anti-join vs the reached set; the
# driver reads a 1-row count to stop, the repo's bounded-scalar
# discipline), pivot SCC = FW ∩ BW; trim counts (no-in / no-out
# nodes, singleton SCCs by construction) quantify the classic trim
# step. The oracle replays reachability as recursive CTEs — exact
# fixpoint on both sides at ANY scale. FHP, J. Parallel Distrib.
# Comput. 2000; [EXT].
# --------------------------------------------------------------------------
SCC_QMIN = 30


def _scc_oracle_sql() -> str:
    return f"""
    WITH RECURSIVE seq AS (
        SELECT l_orderkey AS o, l_linenumber AS ln, l_partkey AS p
        FROM lineitem WHERE l_quantity >= {SCC_QMIN}
    ),
    e AS (
        SELECT DISTINCT a.p AS src, b.p AS dst
        FROM seq a JOIN seq b ON a.o = b.o AND b.ln = a.ln + 1
        WHERE a.p <> b.p
    ),
    -- explicit DISTINCT: under WITH RECURSIVE, DuckDB 1.0 evaluates a
    -- plain UNION in a NON-recursive CTE as UNION ALL
    nodes AS (SELECT DISTINCT v FROM (
        SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
    piv AS (SELECT MIN(v) AS pv FROM nodes),
    fw AS (
        SELECT pv AS v FROM piv
        UNION
        SELECT e.dst FROM fw JOIN e ON e.src = fw.v
    ),
    bw AS (
        SELECT pv AS v FROM piv
        UNION
        SELECT e.src FROM bw JOIN e ON e.dst = bw.v
    )
    SELECT 'n_nodes' AS metric,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS value
    UNION ALL
    SELECT 'n_edges', (SELECT CAST(COUNT(*) AS BIGINT) FROM e)
    UNION ALL
    SELECT 'trim_no_out',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes n
            WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = n.v))
    UNION ALL
    SELECT 'trim_no_in',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes n
            WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.dst = n.v))
    UNION ALL
    SELECT 'fw_size', (SELECT CAST(COUNT(*) AS BIGINT) FROM fw)
    UNION ALL
    SELECT 'bw_size', (SELECT CAST(COUNT(*) AS BIGINT) FROM bw)
    UNION ALL
    SELECT 'pivot_scc_size',
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM fw JOIN bw ON bw.v = fw.v)
    """


@register(
    "scc_pivot_fwbw",
    _scc_oracle_sql(),
    doc=f"X264 strongly connected components, FW-BW pivot step "
        f"(Fleischer et al. 2000) on the deep-quantity (>= {SCC_QMIN}) "
        "part-transition digraph: forward/backward frontier BFS from "
        "the min-id pivot to FIXPOINT (per round: one edge hash join "
        "+ one anti-join vs reached; 1-row driver count stops the "
        "loop), pivot SCC = FW ∩ BW, plus the trim-step counts "
        "(no-in/no-out singleton SCCs). Oracle = recursive-CTE "
        "reachability — exact at any scale. Tarjan-replay law in "
        "tests/test_round6_laws.py.",
    tags=("X264", "X30", "X37", "X3", "X7"),
)
def scc_pivot_fwbw(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    seq = (li.filter(F.col("l_quantity") >= SCC_QMIN)
           .select(F.col("l_orderkey").alias("o"),
                   F.col("l_linenumber").alias("ln"),
                   F.col("l_partkey").alias("p")))
    a, b = seq.alias("a"), seq.alias("b")
    e = (a.join(b, (F.col("a.o") == F.col("b.o"))
                & (F.col("b.ln") == F.col("a.ln") + 1)
                & (F.col("a.p") != F.col("b.p")))
         .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
         .distinct().localCheckpoint())
    nodes = (e.select(F.col("src").alias("v"))
             .union(e.select(F.col("dst").alias("v")))
             .distinct().localCheckpoint())
    pivot = nodes.agg(F.min("v").alias("pv")).collect()[0]["pv"]

    # r10 (r9 verdict item 3, guide §2): the BFS loop ran three jobs
    # per hop (eager nxt checkpoint + count + eager reached
    # checkpoint); checkpoints are now lazy and the per-hop frontier
    # count is the action that materializes them — one job per hop.
    # ``reached`` materializes inside the NEXT hop's count job (its
    # first consumer, the anti-join); identical frontier sets.
    def reach(edges_from: str, edges_to: str):
        reached = (e.sparkSession.createDataFrame([(pivot,)], "v long")
                   .localCheckpoint())
        frontier = reached
        while True:
            nxt = (e.join(frontier.withColumnRenamed("v", edges_from),
                          edges_from)
                   .select(F.col(edges_to).alias("v")).distinct()
                   .join(reached, "v", "left_anti")
                   .localCheckpoint(eager=False))
            if nxt.count() == 0:
                break
            reached = reached.union(nxt).localCheckpoint(eager=False)
            frontier = nxt
        return reached

    fw = reach("src", "dst")
    bw = reach("dst", "src")
    scc = fw.join(bw, "v")
    no_out = nodes.join(e.select(F.col("src").alias("v")).distinct(),
                        "v", "left_anti")
    no_in = nodes.join(e.select(F.col("dst").alias("v")).distinct(),
                       "v", "left_anti")

    # Seven driver-side .count() jobs folded into ONE union-of-
    # aggregates action over the cached/checkpointed frames — the same
    # seven integers, computed when the caller's action runs.
    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.lit(name).alias("metric"),
                      F.count("*").cast("long").alias("value"))

    out = cnt(nodes, "n_nodes")
    for df, name in ((e, "n_edges"), (no_out, "trim_no_out"),
                     (no_in, "trim_no_in"), (fw, "fw_size"),
                     (bw, "bw_size"), (scc, "pivot_scc_size")):
        out = out.unionByName(cnt(df, name))
    return out


# --------------------------------------------------------------------------
# X277: distributed greedy graph coloring — the CONFLICT-RESOLUTION
# primitive next to Luby MIS (X233, one independent set) and the
# community/label families: color every node so no edge is
# monochromatic (register allocation / schedule slotting / mutex
# grouping semantics). Jones-Plassmann rounds on md5 priorities: each
# round, every uncolored node that is a LOCAL MAX among its uncolored
# neighbors (priority, id) picks the smallest color absent from its
# colored neighborhood — the chosen set is independent among
# uncolored nodes, so rounds commute deterministically on both
# engines. Inductively, round r can assign at most color r-1, so the
# candidate range 0..r-1 is provably sufficient. COLOR_ROUNDS fixed
# rounds (X157 deterministic-prefix discipline; leftover uncolored
# nodes report as color -1 and the law test verifies properness +
# Python replay). Graph: co-purchase edges on the p_partkey % 4 == 0
# subsample (keeps the bench graph ~1/16 of edges while exercising
# the identical plan shape). Scale: each round is one neighbor join
# + keyed aggregates — no global structures. Jones-Plassmann (1993);
# [EXT].
# --------------------------------------------------------------------------
COLOR_ROUNDS = 6
COLOR_MOD = 4  # keep parts with p_partkey % COLOR_MOD == 0


def _coloring_oracle_sql() -> str:
    parts = [f"""op AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        WHERE l_partkey % {COLOR_MOD} = 0),
    eu AS MATERIALIZED (
        SELECT DISTINCT a.i AS lo, b.i AS hi
        FROM op a JOIN op b ON a.g = b.g AND a.i < b.i),
    sym AS MATERIALIZED (
        SELECT lo AS src, hi AS dst FROM eu
        UNION ALL SELECT hi, lo FROM eu),
    lab0 AS MATERIALIZED (
        SELECT DISTINCT src AS node,
               ('0x' || substr(md5('col:' || src), 1, 15))::BIGINT
                   AS pr,
               CAST(NULL AS BIGINT) AS color
        FROM sym)"""]
    for r in range(1, COLOR_ROUNDS + 1):
        parts.append(f"""lab{r} AS MATERIALIZED (
        SELECT l.node, l.pr,
               CASE WHEN l.color IS NOT NULL THEN l.color
                    WHEN NOT EXISTS (
                        SELECT 1 FROM sym e JOIN lab{r - 1} x
                            ON x.node = e.dst
                        WHERE e.src = l.node AND x.color IS NULL
                          AND (x.pr, x.node) > (l.pr, l.node))
                    THEN (
                        SELECT MIN(cc.c) FROM (
                            SELECT UNNEST(generate_series(0, {r - 1}))
                                AS c) cc
                        WHERE cc.c NOT IN (
                            SELECT x.color FROM sym e
                            JOIN lab{r - 1} x ON x.node = e.dst
                            WHERE e.src = l.node
                              AND x.color IS NOT NULL))
                    ELSE NULL END AS color
        FROM lab{r - 1} l)""")
    return ("WITH " + ",\n    ".join(parts) + f"""
    SELECT COALESCE(color, -1) AS color,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM lab{COLOR_ROUNDS} GROUP BY 1
    """)


@register(
    "greedy_graph_coloring",
    _coloring_oracle_sql(),
    doc=f"X277 Jones-Plassmann greedy coloring of the sampled "
        f"co-purchase graph ({COLOR_ROUNDS} fixed rounds): per round, "
        "uncolored local maxima by md5 (priority, id) take the "
        "smallest color absent from their colored neighborhood "
        "(provably <= r-1 in round r, so the candidate range is "
        "bounded); leftovers report color -1 (deterministic prefix). "
        "Output: color histogram with node-range signature. The "
        "conflict-resolution primitive next to X233's single MIS. "
        "Properness + Python replay laws.",
    tags=("X277", "X233", "X30", "X3", "X7"),
)
def greedy_graph_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_partkey") % COLOR_MOD == 0))
    eu = (G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
          .filter(F.col("src") < F.col("dst"))
          .select(F.col("src").alias("lo"), F.col("dst").alias("hi")))
    sym = persist_tracked(
        eu.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        .unionByName(eu.select(F.col("hi").alias("src"),
                               F.col("lo").alias("dst"))))
    lab = (sym.select(F.col("src").alias("node")).distinct()
           .select("node",
                   F.conv(F.substring(
                       F.md5(F.concat(F.lit("col:"), F.col("node"))),
                       1, 15), 16, 10).cast("long").alias("pr"),
                   F.lit(None).cast("long").alias("color"))
           .localCheckpoint())
    for r in range(1, COLOR_ROUNDS + 1):
        unc = lab.filter(F.col("color").isNull())
        # nodes blocked by a higher-(pr, node) uncolored neighbor
        blocked = (sym.join(unc.select(F.col("node").alias("dst"),
                                       F.col("pr").alias("npr")),
                            "dst")
                   .join(unc.select(F.col("node").alias("src"),
                                    F.col("pr").alias("spr")), "src")
                   .filter((F.col("npr") > F.col("spr"))
                           | ((F.col("npr") == F.col("spr"))
                              & (F.col("dst") > F.col("src"))))
                   .select(F.col("src").alias("node")).distinct())
        winners = unc.select("node").join(blocked, "node", "left_anti")
        ncol = (sym.join(lab.filter(F.col("color").isNotNull())
                         .select(F.col("node").alias("dst"), "color"),
                         "dst")
                .select(F.col("src").alias("node"), "color"))
        picked = (winners.join(ncol, "node", "left")
                  .groupBy("node")
                  .agg(F.collect_set("color").alias("used"))
                  .select("node",
                          F.expr(f"array_min(array_except("
                                 f"sequence(0L, {r - 1}L),"
                                 " coalesce(used, array())))")
                          .alias("new_color")))
        lab = (lab.join(picked, "node", "left")
               .select("node", "pr",
                       F.coalesce("color", "new_color").cast("long")
                       .alias("color"))
               .localCheckpoint(eager=False))
    return (lab.groupBy(F.coalesce("color", F.lit(-1)).alias("color"))
            .agg(F.count("*").cast("long").alias("n_nodes"),
                 F.min("node").cast("long").alias("min_node"),
                 F.max("node").cast("long").alias("max_node")))


# --------------------------------------------------------------------------
# X282: bipartite butterfly census — motif counting in the RAW
# order-part bipartite graph, the lens the projected co-purchase
# queries (X39/X167/X225 triangles, X243 temporal) cannot give: a
# BUTTERFLY (2x2 biclique, two orders sharing two parts) is the
# bipartite analogue of the triangle, and 4*B / #caterpillars (paths
# of length 3) is the standard bipartite clustering coefficient
# (Robins-Alexander). Exact combinatorics, no projection loss:
#     s(p, q)      = orders containing both p and q
#     B            = sum over pairs C(s, 2)
#     bf(p)        = sum over q C(s(p,q), 2)   (per-part census)
#     caterpillars = sum over edges (deg_o(g)-1) * (deg_p(i)-1)
# Pair fan-out is basket-bounded per order (the X51 Apriori shape) —
# never all-pairs of parts; everything after the pair aggregate is
# dimension-sized. The only float is the final clustering ratio, one
# correctly-rounded DOUBLE division of DECIMAL(38,0)/HUGEINT-exact
# integer products. [EXT]
# --------------------------------------------------------------------------
BFLY_TOPK = 10


@register(
    "butterfly_copurchase_census",
    f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
    ),
    pp AS (
        SELECT a.i AS p, b.i AS q, CAST(COUNT(*) AS BIGINT) AS s
        FROM op a JOIN op b ON a.g = b.g AND a.i < b.i
        GROUP BY a.i, b.i
    ),
    bf AS (
        SELECT i, CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS b
        FROM (SELECT p AS i, s FROM pp
              UNION ALL SELECT q, s FROM pp)
        GROUP BY i
    ),
    tot AS (
        SELECT CAST(COALESCE(SUM(s * (s - 1) // 2), 0) AS BIGINT) AS b
        FROM pp
    ),
    dg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS d FROM op GROUP BY g),
    dp AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS d FROM op GROUP BY i),
    cat AS (
        SELECT CAST(SUM((dg.d - 1) * (dp.d - 1)) AS BIGINT) AS c
        FROM op JOIN dg ON dg.g = op.g JOIN dp ON dp.i = op.i
    ),
    top AS (
        SELECT i, b FROM bf
        ORDER BY b DESC, i LIMIT {BFLY_TOPK}
    )
    SELECT 'butterflies' AS kind, CAST(-1 AS BIGINT) AS partkey, b
        AS value
    FROM tot
    UNION ALL
    SELECT 'caterpillars', CAST(-1 AS BIGINT), c FROM cat
    UNION ALL
    SELECT 'bcc_micro', CAST(-1 AS BIGINT),
           -- r8 ADVICE: widen b BEFORE the 4x so the multiply runs in
           -- HUGEINT — 4*b in int64 would overflow first at scales
           -- where B approaches 2^61.
           CASE WHEN cat.c > 0 THEN
               CAST(ROUND(CAST(CAST(tot.b AS HUGEINT) * 4 * 1000000
                    AS DOUBLE) / cat.c, 0) AS BIGINT)
           ELSE 0 END
    FROM tot CROSS JOIN cat
    UNION ALL
    SELECT 'part', CAST(i AS BIGINT), b FROM top
    """,
    doc=f"X282 bipartite butterfly census of the raw order-part graph: "
        "total butterflies (2x2 bicliques) via basket-bounded pair "
        "supports sum C(s,2), per-part butterfly counts (top "
        f"{BFLY_TOPK} by count, partkey tiebreak), caterpillar "
        "(3-path) count from exact degree products, and the "
        "Robins-Alexander bipartite clustering coefficient 4B/paths "
        "as one correctly-rounded DOUBLE division of HUGEINT/DECIMAL-"
        "exact integers. The unprojected-motif lens next to X39/X167/"
        "X225 (projected triangles); pair fan-out is basket-bounded "
        "(X51 shape), never all-pairs. Python replay + identity laws "
        "(butterfly double-count = per-part sum / 2).",
    tags=("X282", "X39", "X167", "X51", "X3", "X7"),
)
def butterfly_copurchase_census(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from ..caching import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    op = persist_tracked(
        li.select(F.col("l_orderkey").alias("g"),
                  F.col("l_partkey").alias("i")).distinct())
    b = op.select(F.col("g"), F.col("i").alias("q"))
    pp = persist_tracked(
        op.select("g", F.col("i").alias("p")).join(b, "g")
        .filter(F.col("p") < F.col("q"))
        .groupBy("p", "q").agg(F.count("*").cast("long").alias("s")))
    bf = (pp.select(F.col("p").alias("i"), "s")
          .unionByName(pp.select(F.col("q").alias("i"), "s"))
          .groupBy("i")
          .agg(F.expr("CAST(SUM(s * (s - 1) DIV 2) AS BIGINT)")
               .alias("b")))
    tot = pp.agg(F.expr(
        "CAST(COALESCE(SUM(s * (s - 1) DIV 2), 0) AS BIGINT)")
        .alias("b"))
    dg = op.groupBy("g").agg(F.count("*").cast("long").alias("dgd"))
    dp = op.groupBy("i").agg(F.count("*").cast("long").alias("dpd"))
    cat = (op.join(dg, "g").join(dp, "i")
           .agg(F.sum((F.col("dgd") - 1) * (F.col("dpd") - 1))
                .cast("long").alias("c")))
    top = (bf.orderBy(F.desc("b"), F.asc("i")).limit(BFLY_TOPK))
    r1 = tot.select(F.lit("butterflies").alias("kind"),
                    F.lit(-1).cast("long").alias("partkey"),
                    F.col("b").alias("value"))
    r2 = cat.select(F.lit("caterpillars").alias("kind"),
                    F.lit(-1).cast("long").alias("partkey"),
                    F.col("c").alias("value"))
    r3 = (tot.crossJoin(cat)
          .selectExpr(
              "'bcc_micro' AS kind", "CAST(-1 AS BIGINT) AS partkey",
              # r8 ADVICE: widen b before the 4x (never int64-multiply
              # pre-cast).
              "CASE WHEN c > 0 THEN"
              " CAST(ROUND(CAST(CAST(b AS DECIMAL(38,0)) * 4 * 1000000"
              " AS DOUBLE) / c, 0) AS BIGINT) ELSE 0L END AS value"))
    r4 = top.select(F.lit("part").alias("kind"),
                    F.col("i").cast("long").alias("partkey"),
                    F.col("b").alias("value"))
    return r1.unionByName(r2).unionByName(r3).unionByName(r4)
