"""Graph analytics operators: co-occurrence graph construction and
fixed-point-integer PageRank (SURVEY.md §2.B X42).

PageRank is the canonical iterative-join workload: rank flows along
edges, each step one (join + aggregate) pair. Two design decisions make
it both 100 TB-shaped and exactly oracle-checkable:

* **Fixed-point integer arithmetic.** Ranks live as BIGINT in units of
  1/SCALE (1e-12). Per-edge contribution is ``pr DIV degree`` (integer
  division), the damped update is ``teleport + (85 * SUM(contrib)) DIV
  100`` — every operation is exact integer math, so the result is
  byte-identical no matter what order partial sums combine in, on Spark
  AND on a SQL oracle replaying the same recurrence. Float PageRank
  cannot promise that (summation-order dust), integer PageRank can.
* **Edges persisted once, partitioned on the join key.** The edge set
  is static across iterations; persisting it hash-partitioned by src
  means each iteration reshuffles only the rank frame (one row per
  node) into place, then one edge-sized shuffle for the dst aggregate —
  the classic two-shuffle PageRank step. Lineage stays a short chain
  (ITERS joins), no checkpoint needed at fixed small depth.

Mass lost to integer-floor is ~degree ulps per node per step (1e-12
units) — irrelevant to ranking and, critically, identical on both
engines.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..caching import persist_tracked

SCALE = 10**12
DAMP_NUM = 85  # damping factor 0.85 as an integer percentage


def cooccurrence_edges(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """Distinct undirected co-occurrence edges (emitted in both
    directions) between items sharing a group: the part co-purchase
    graph when called on (l_orderkey, l_partkey).

    Group sizes are bounded (TPC-H orders hold <= 7 lineitems), so the
    within-group self-join fans out O(k^2) with tiny k — linear in input
    at any scale, keyed by the group so it shuffles once.
    """
    gi = df.select(F.col(group_col).alias("g"), F.col(item_col).alias("i")).distinct()
    a, b = gi.alias("a"), gi.alias("b")
    return (a.join(b, (F.col("a.g") == F.col("b.g"))
                   & (F.col("a.i") != F.col("b.i")))
            .select(F.col("a.i").alias("src"), F.col("b.i").alias("dst"))
            .distinct())


def pagerank_fixed(edges: DataFrame, iters: int = 5) -> DataFrame:
    """Fixed-iteration integer PageRank over a symmetric edge set.

    Returns (node, pr, degree) with pr a BIGINT in 1/SCALE units.
    Requires every node to appear as src (true for undirected edge
    sets), so there are no dangling nodes and no rank sinks.

    The node count feeding the teleport constant is a one-scalar
    aggregate — the only driver round-trip, O(1) bytes.
    """
    # Materialize the (possibly expensive) edge derivation exactly once,
    # hash-partitioned on src. The degree aggregate and the per-
    # iteration static join then reuse that partitioning with ZERO
    # additional exchanges — each iteration shuffles only the rank
    # frame (node-sized) in, and the contributions (edge-sized) out.
    ed = persist_tracked(edges.repartition("src"))
    deg = persist_tracked(ed.groupBy("src").agg(F.count("*").alias("d")))
    n_nodes = deg.count()
    teleport = (15 * SCALE) // (100 * n_nodes)
    edd = ed.join(deg, "src")  # co-partitioned: no exchange
    r = deg.select(F.col("src").alias("node"),
                   F.lit(SCALE // n_nodes).cast("long").alias("pr"))
    for _ in range(iters):
        contrib = (edd.join(r, edd["src"] == r["node"])
                   .select(F.col("dst"), F.expr("pr DIV d").alias("c")))
        r = (contrib.groupBy(F.col("dst").alias("node"))
             .agg((F.lit(teleport)
                   + F.expr(f"({DAMP_NUM} * sum(c)) DIV 100"))
                  .cast("long").alias("pr")))
    return r.join(deg, r["node"] == deg["src"]).select(
        "node", "pr", F.col("d").cast("long").alias("degree"))


def edge_weights(edges: DataFrame) -> DataFrame:
    """Deterministic BIGINT edge weights 1..7 as a pure function of the
    endpoints (``1 + (src + dst) % 7``) — replayable by any SQL engine,
    no stored weight column needed. Stands in for a real affinity score
    (co-purchase count, distance, cost) while keeping every downstream
    relaxation exact integer math."""
    return edges.select("src", "dst",
                        (F.lit(1) + (F.col("src") + F.col("dst")) % 7)
                        .cast("long").alias("w"))


def sssp_bounded(edges_w: DataFrame, seeds: DataFrame, rounds: int) -> DataFrame:
    """Bounded-round Bellman-Ford single-source-shortest-path from a
    seed SET over a weighted edge list (src, dst, w).

    Each round is one (join + union + min-aggregate): relax every edge
    out of the current label set, fold with the previous labels, keep
    the per-node minimum. ``rounds`` bounds path length in HOPS, so the
    result is "cheapest path using <= rounds edges" — exactly what the
    chained-CTE oracle replays. Labels are localCheckpointed per round
    (constant plan depth); all arithmetic is BIGINT, so partial-
    aggregation order can't perturb the result.

    At 100 TB: edges arrive persisted + hash-partitioned on src by the
    caller; per round the only moving frame is node-sized labels.
    """
    labels = seeds.localCheckpoint()
    for _ in range(rounds):
        relaxed = (labels.join(edges_w, labels["node"] == edges_w["src"])
                   .select(F.col("dst").alias("node"),
                           (F.col("d") + F.col("w")).alias("d")))
        labels = (labels.unionByName(relaxed)
                  .groupBy("node").agg(F.min("d").cast("long").alias("d"))
                  .localCheckpoint(eager=False))
    return labels


def sssp_oracle_sql(edge_cte: str, seed_mod: int, rounds: int) -> str:
    """DuckDB twin of :func:`sssp_bounded`: the same bounded relaxation
    unrolled as chained CTEs. ``edge_cte`` must define ``e(src, dst)``;
    weights and seeds are re-derived by the shared pure functions."""
    parts = [edge_cte,
             "ew AS (SELECT src, dst, "
             "CAST(1 + (src + dst) % 7 AS BIGINT) AS w FROM e)",
             f"d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS d "
             f"FROM ew WHERE src % {seed_mod} = 0)"]
    for k in range(1, rounds + 1):
        parts.append(
            f"d{k} AS (SELECT node, CAST(MIN(d) AS BIGINT) AS d FROM ("
            f"SELECT node, d FROM d{k - 1} "
            f"UNION ALL "
            f"SELECT ew.dst, p.d + ew.w FROM d{k - 1} p "
            f"JOIN ew ON ew.src = p.node) GROUP BY node)")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT node, d AS dist FROM d{rounds}")


def label_propagation(edges_w: DataFrame, rounds: int) -> DataFrame:
    """Weighted semi-synchronous label propagation, fixed rounds,
    deterministic: every node starts labelled with its own id; each
    round every node adopts the label with the largest incident weight
    sum among its neighbours, ties broken toward the SMALLEST label.

    The per-round argmax is expressed as two engine-safe aggregates
    (per-(node,label) weight sum; then min label among those hitting
    the per-node max) instead of ``max_by`` — struct-ordered argmax
    aggregates have engine-specific tie semantics, two plain aggregates
    do not. Labels localCheckpoint per round.
    """
    labels = (edges_w.select(F.col("src").alias("node")).distinct()
              .select("node", F.col("node").cast("long").alias("lab"))
              .localCheckpoint())
    for _ in range(rounds):
        cand = (edges_w.join(labels, edges_w["src"] == labels["node"])
                .groupBy(F.col("dst").alias("n"), F.col("lab"))
                .agg(F.sum("w").alias("s")))
        mx = cand.groupBy("n").agg(F.max("s").alias("ms")) \
            .withColumnRenamed("n", "mn")
        labels = (cand.join(mx, (cand["n"] == mx["mn"])
                            & (cand["s"] == mx["ms"]))
                  .groupBy(F.col("n").alias("node"))
                  .agg(F.min("lab").cast("long").alias("lab"))
                  .localCheckpoint(eager=False))
    return labels


def label_propagation_oracle_sql(edge_cte: str, rounds: int) -> str:
    """DuckDB twin of :func:`label_propagation` (same weights, same
    two-aggregate argmax, same tie-break), unrolled as chained CTEs."""
    parts = [edge_cte,
             "ew AS (SELECT src, dst, "
             "CAST(1 + (src + dst) % 7 AS BIGINT) AS w FROM e)",
             "l0 AS (SELECT DISTINCT src AS node, "
             "CAST(src AS BIGINT) AS lab FROM ew)"]
    for k in range(1, rounds + 1):
        parts.append(
            f"c{k} AS (SELECT ew.dst AS n, l.lab, SUM(ew.w) AS s "
            f"FROM ew JOIN l{k - 1} l ON ew.src = l.node GROUP BY 1, 2)")
        parts.append(
            f"l{k} AS (SELECT c.n AS node, CAST(MIN(c.lab) AS BIGINT) AS lab "
            f"FROM c{k} c JOIN (SELECT n, MAX(s) AS ms FROM c{k} GROUP BY n) m "
            f"ON c.n = m.n AND c.s = m.ms GROUP BY c.n)")
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, lab FROM l{rounds}"


def pagerank_oracle_sql(edge_cte: str, iters: int = 5) -> str:
    """DuckDB twin of :func:`pagerank_fixed`: the same integer
    recurrence unrolled as chained CTEs. ``edge_cte`` must define a
    relation ``e(src, dst)`` (symmetric, distinct)."""
    parts = [edge_cte,
             "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d "
             "FROM e GROUP BY src)",
             "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg)",
             f"r0 AS (SELECT src AS node, CAST({SCALE} // n AS BIGINT) AS pr "
             "FROM deg, nn)"]
    for k in range(1, iters + 1):
        parts.append(
            f"r{k} AS (SELECT e.dst AS node, "
            f"CAST((15 * {SCALE}) // (100 * nn.n) "
            f"+ ({DAMP_NUM} * SUM(r.pr // deg.d)) // 100 AS BIGINT) AS pr "
            f"FROM e JOIN r{k - 1} r ON e.src = r.node "
            "JOIN deg ON deg.src = e.src CROSS JOIN nn "
            "GROUP BY e.dst, nn.n)")
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, pr, d AS degree FROM r{iters} JOIN deg ON deg.src = node"


def ppr_fixed(edges: DataFrame, seeds: DataFrame, iters: int = 4) -> DataFrame:
    """Fixed-iteration integer PERSONALIZED PageRank: teleport mass
    returns only to the seed set, so rank concentrates around the
    seeds — the recommendation/affinity variant of X42's global
    PageRank. Same BIGINT 1/SCALE fixed-point discipline (bit-exact
    across engines and partial-sum orders).

    The rank frame stays SPARSE: only nodes that have received mass
    carry rows, so early iterations touch the seed neighborhood, not
    the whole graph — at 100 TB this is the difference between a
    seed-local walk and |V| full passes. ``seeds`` must be a (node)
    frame; every seed must appear in ``edges`` as src.
    """
    ed = persist_tracked(edges.repartition("src"))
    deg = persist_tracked(ed.groupBy("src").agg(F.count("*").alias("d")))
    n_seeds = seeds.count()
    teleport = (15 * SCALE) // (100 * n_seeds)
    tele_rows = seeds.select(F.col("node"),
                             F.lit(SCALE // n_seeds).cast("long").alias("v"))
    edd = ed.join(deg, "src")
    r = tele_rows.select("node", F.col("v").alias("pr")).localCheckpoint()
    tele = seeds.select("node", F.lit(teleport).cast("long").alias("v")) \
        .localCheckpoint()
    for _ in range(iters):
        contrib = (edd.join(r, edd["src"] == r["node"])
                   .select(F.col("dst").alias("node"),
                           F.expr(f"(85 * (pr DIV d)) DIV 100")
                           .cast("long").alias("v")))
        r = (tele.unionByName(contrib)
             .groupBy("node").agg(F.sum("v").cast("long").alias("pr"))
             .localCheckpoint(eager=False))
    return r


def ppr_oracle_sql(edge_cte: str, seed_mod: int, iters: int = 4) -> str:
    """DuckDB twin of :func:`ppr_fixed` as chained CTEs. Note the damp
    factor applies INSIDE each contribution (85 * (pr // d)) // 100 —
    exactly as the Spark side — so partial sums stay exact."""
    parts = [edge_cte,
             "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d "
             "FROM e GROUP BY src)",
             f"seeds AS (SELECT DISTINCT src AS node FROM e "
             f"WHERE src % {seed_mod} = 0)",
             "ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM seeds)",
             f"r0 AS (SELECT node, CAST({SCALE} // n AS BIGINT) AS pr "
             "FROM seeds, ns)"]
    for k in range(1, iters + 1):
        parts.append(
            f"r{k} AS (SELECT node, CAST(SUM(v) AS BIGINT) AS pr FROM ("
            f"SELECT node, CAST((15 * {SCALE}) // (100 * ns.n) AS BIGINT) "
            f"AS v FROM seeds, ns "
            f"UNION ALL "
            f"SELECT e.dst, (85 * (r.pr // deg.d)) // 100 "
            f"FROM e JOIN r{k - 1} r ON e.src = r.node "
            f"JOIN deg ON deg.src = e.src) GROUP BY node)")
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, pr FROM r{iters}"


def louvain_phase1(edges: DataFrame, m2: int, rounds: int) -> DataFrame:
    """One Louvain phase-1 pass: ``rounds`` SYNCHRONOUS best-move
    steps, every node evaluated against the same snapshot.

    The classic sequential sweep is order-dependent (not replayable
    across engines); the synchronous variant is deterministic: node i
    moves to the neighbor community maximizing the exact INTEGER
    modularity-gain numerator

        gain = 2m*(k_iC - k_iO) - k_i*(tot_C - (tot_O - k_i))

    (2m^2 * deltaQ for unit weights; ``m2`` = 2m = len(edges)), moves
    only on gain > 0, ties broken by min community id. Every round is
    three keyed aggregates + one ranking window — no driver loop over
    nodes, no collected state. Returns (node, c).
    """
    deg = edges.groupBy(F.col("src").alias("node")) \
        .agg(F.count("*").cast("long").alias("k"))
    c = deg.select("node", F.col("node").cast("long").alias("c")) \
        .localCheckpoint()
    for _ in range(rounds):
        tot = (c.join(deg, "node").groupBy("c")
               .agg(F.sum("k").cast("long").alias("tot")))
        kic = (edges.join(c.select(F.col("node").alias("dst"),
                                   F.col("c").alias("cand")), "dst")
               .groupBy(F.col("src").alias("node"), "cand")
               .agg(F.count("*").cast("long").alias("kic")))
        kio = (kic.join(c, "node")
               .filter(F.col("cand") == F.col("c"))
               .select("node", F.col("kic").alias("kio")))
        best = (kic.join(c, "node")
                .filter(F.col("cand") != F.col("c"))
                .join(kio, "node", "left")
                .join(deg, "node")
                .join(tot.select(F.col("c").alias("cand"),
                                 F.col("tot").alias("tot_c")), "cand")
                .join(tot.select("c", F.col("tot").alias("tot_o")), "c")
                .withColumn(
                    "gain",
                    F.lit(int(m2)).cast("long")
                    * (F.col("kic") - F.coalesce("kio", F.lit(0)))
                    - F.col("k")
                    * (F.col("tot_c") - (F.col("tot_o") - F.col("k"))))
                .filter(F.col("gain") > 0)
                .withColumn(
                    "rn", F.row_number().over(
                        Window.partitionBy("node")
                        .orderBy(F.desc("gain"), F.asc("cand"))))
                .filter(F.col("rn") == 1)
                .select("node", "cand"))
        c = (c.join(best, "node", "left")
             .select("node", F.coalesce("cand", "c").cast("long")
                     .alias("c"))
             .localCheckpoint(eager=False))
    return c


def louvain_oracle_sql(edge_cte: str, rounds: int) -> str:
    """DuckDB twin of :func:`louvain_phase1` plus the per-community
    summary (size, internal directed edges, total degree, exact
    modularity numerator q_num = 2m*in2_c - tot_c^2, i.e. Q*4m^2
    summed over communities), unrolled as chained CTEs."""
    parts = [edge_cte,
             "m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM e)",
             "deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS k "
             "FROM e GROUP BY src)",
             "c0 AS MATERIALIZED (SELECT node, CAST(node AS BIGINT) AS c "
             "FROM deg)"]
    for r in range(rounds):
        parts.append(
            f"tot{r} AS MATERIALIZED (SELECT c, CAST(SUM(k) AS BIGINT) "
            f"AS tot FROM c{r} JOIN deg USING (node) GROUP BY c)")
        parts.append(
            f"kic{r} AS MATERIALIZED (SELECT e.src AS node, cj.c AS cand, "
            f"CAST(COUNT(*) AS BIGINT) AS kic "
            f"FROM e JOIN c{r} cj ON cj.node = e.dst GROUP BY 1, 2)")
        parts.append(
            f"kio{r} AS (SELECT k.node, k.kic AS kio FROM kic{r} k "
            f"JOIN c{r} o ON o.node = k.node AND o.c = k.cand)")
        parts.append(f"""best{r} AS (
        SELECT node, cand FROM (
            SELECT k.node, k.cand,
                   (SELECT m2 FROM m2) * (k.kic - COALESCE(io.kio, 0))
                   - d.k * (tc.tot - (t_o.tot - d.k)) AS gain,
                   ROW_NUMBER() OVER (
                       PARTITION BY k.node
                       ORDER BY (SELECT m2 FROM m2)
                                * (k.kic - COALESCE(io.kio, 0))
                                - d.k * (tc.tot - (t_o.tot - d.k)) DESC,
                                k.cand) AS rn
            FROM kic{r} k
            JOIN c{r} o ON o.node = k.node AND o.c <> k.cand
            LEFT JOIN kio{r} io ON io.node = k.node
            JOIN deg d ON d.node = k.node
            JOIN tot{r} tc ON tc.c = k.cand
            JOIN tot{r} t_o ON t_o.c = o.c)
        WHERE rn = 1 AND gain > 0)""")
        parts.append(f"""c{r + 1} AS MATERIALIZED (
        SELECT o.node, CAST(COALESCE(b.cand, o.c) AS BIGINT) AS c
        FROM c{r} o LEFT JOIN best{r} b ON b.node = o.node)""")
    last = f"c{rounds}"
    parts.append(
        f"ftot AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_nodes, "
        f"CAST(SUM(k) AS BIGINT) AS tot "
        f"FROM {last} JOIN deg USING (node) GROUP BY c)")
    parts.append(
        f"fin AS (SELECT ci.c, CAST(COUNT(*) AS BIGINT) AS in2 "
        f"FROM e JOIN {last} ci ON ci.node = e.src "
        f"JOIN {last} cj ON cj.node = e.dst AND cj.c = ci.c "
        f"GROUP BY ci.c)")
    return ("WITH " + ",\n".join(parts) + """
    SELECT f.c AS community, f.n_nodes, COALESCE(i.in2, 0) AS in2,
           f.tot,
           (SELECT m2 FROM m2) * COALESCE(i.in2, 0) - f.tot * f.tot
               AS q_num
    FROM ftot f LEFT JOIN fin i ON i.c = f.c""")


def cooccurrence_edges_local(
        table: pa.Table, group_col: str, item_col: str, max_edges: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """Driver twin of ``cooccurrence_edges`` over a table that already
    fits on the driver: the same distinct edges, with items as dense ids.

    Returns ``(ids, src, dst)``: ``ids`` the sorted distinct non-null
    items, ``src``/``dst`` indices into it, one row per distinct
    directed edge. Rows with a null group or item are dropped and
    repeated (group, item) rows count once. A group of k items emits its
    k(k-1) ordered pairs; groups of one size expand together as one
    (groups, k) block. Returns None, having built no edge, when that
    pre-distinct total is above ``max_edges``, so the driver never holds
    more than ``max_edges`` edges.
    """
    table = table.select([group_col, item_col]).drop_null()
    ids, item = np.unique(table.column(item_col).to_numpy(),
                          return_inverse=True)
    _, group = np.unique(table.column(group_col).to_numpy(),
                         return_inverse=True)
    n = ids.size
    # Pairs pack into one int64 code (both factors are below the row
    # count). One sorted code per distinct (group, item): groups are
    # contiguous.
    group, item = np.divmod(np.unique(group.astype(np.int64) * n + item), n)
    starts = np.flatnonzero(np.diff(group, prepend=-1))
    sizes = np.diff(starts, append=group.size)
    if int((sizes * (sizes - 1)).sum()) > max_edges:
        return None
    codes = [np.empty(0, np.int64)]
    for k in np.unique(sizes[sizes > 1]):
        block = item[starts[sizes == k][:, None] + np.arange(k)]
        a, b = np.nonzero(~np.eye(k, dtype=bool))
        codes.append((block[:, a] * n + block[:, b]).ravel())
    src, dst = np.divmod(np.unique(np.concatenate(codes)), n)
    return ids, src, dst


def kcore_peel_local(table: pa.Table, k: int, first_round: int,
                     last_round: int) -> list[tuple[int, int, int]]:
    """Peel rounds ``first_round..last_round`` of the k-core profile on
    the driver, over a (src, dst) edge table that already fits there:
    node ids map to dense indices once, then ``kcore_peel_dense``."""
    n = table.num_rows
    ids, idx = np.unique(np.concatenate([table.column("src").to_numpy(),
                                         table.column("dst").to_numpy()]),
                         return_inverse=True)
    return kcore_peel_dense(idx[:n], idx[n:], ids.size, k, first_round,
                            last_round)


def kcore_peel_dense(src: np.ndarray, dst: np.ndarray, n_nodes: int, k: int,
                     first_round: int, last_round: int
                     ) -> list[tuple[int, int, int]]:
    """Peel rounds ``first_round..last_round`` over edges whose endpoints
    are dense ids in ``[0, n_nodes)``.

    Same round as the distributed one in queries/graph.py: survivors
    are the nodes with out-degree >= k (k >= 1), and an edge survives
    when both endpoints do, so a round is one ``bincount`` and two
    boolean gathers. Returns one (round, nodes_kept, edges_kept) row per
    round; once a round repeats the previous (nodes, edges) pair the
    edge set is unchanged, so the remaining rounds repeat it without
    running.
    """
    out: list[tuple[int, int, int]] = []
    for r in range(first_round, last_round + 1):
        keep = np.bincount(src, minlength=n_nodes) >= k
        both = keep[src] & keep[dst]
        src, dst = src[both], dst[both]
        out.append((r, int(keep.sum()), int(src.size)))
        if len(out) >= 2 and out[-2][1:] == out[-1][1:]:
            out.extend((rr, *out[-1][1:])
                       for rr in range(r + 1, last_round + 1))
            break
    return out
