"""X42 graph analytics: fixed-point PageRank laws.

The integer recurrence is deterministic, so the distributed result must
match a pure-Python replay EXACTLY (not approximately) on any graph."""

from __future__ import annotations

from etl_airflow_spotify_spark.operators import graph as G


def _py_pagerank(edges, iters):
    """Driver-side replay of the exact integer recurrence."""
    from collections import defaultdict
    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    n = len(deg)
    tp = (15 * G.SCALE) // (100 * n)
    r = {v: G.SCALE // n for v in deg}
    for _ in range(iters):
        acc = defaultdict(int)
        for s, d in edges:
            acc[d] += r[s] // deg[s]
        r = {v: tp + (G.DAMP_NUM * c) // 100 for v, c in acc.items()}
    return r, dict(deg)


def _sym(pairs):
    out = set()
    for a, b in pairs:
        out.add((a, b))
        out.add((b, a))
    return sorted(out)


def test_pagerank_matches_python_replay_exactly(spark):
    # triangle {1,2,3} + pendant 4-1 + isolated pair 5-6
    edges = _sym([(1, 2), (2, 3), (1, 3), (1, 4), (5, 6)])
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["pr"], r["degree"])
           for r in G.pagerank_fixed(edf, iters=4).collect()}
    want_r, want_d = _py_pagerank(edges, 4)
    assert got == {v: (want_r[v], want_d[v]) for v in want_r}
    # hub 1 (degree 3) outranks every triangle peer and the pendant
    assert got[1][0] > got[2][0] == got[3][0] > got[4][0]


def test_pagerank_mass_conservation_bound(spark):
    # undirected graphs lose only integer-floor dust: total rank stays
    # within (edges + nodes) ulps of SCALE below it, never above
    edges = _sym([(i, i + 1) for i in range(1, 30)] + [(1, 15), (7, 22)])
    edf = spark.createDataFrame(edges, "src long, dst long")
    rows = G.pagerank_fixed(edf, iters=5).collect()
    total = sum(r["pr"] for r in rows)
    assert total <= G.SCALE
    assert G.SCALE - total < 100 * (len(edges) + len(rows))


def _py_sssp(edges, seeds, rounds):
    """Driver-side replay of bounded Bellman-Ford over weighted edges."""
    w = {(s, d): 1 + (s + d) % 7 for s, d in edges}
    dist = {v: 0 for v in seeds}
    for _ in range(rounds):
        nxt = dict(dist)
        for (s, d), wt in w.items():
            if s in dist and dist[s] + wt < nxt.get(d, float("inf")):
                nxt[d] = dist[s] + wt
        dist = nxt
    return dist


def test_sssp_matches_python_replay_exactly(spark):
    # path 1-2-3-4 + shortcut 1-4 (weight depends on endpoint sum) +
    # unreachable pair 8-9
    edges = _sym([(1, 2), (2, 3), (3, 4), (1, 4), (8, 9)])
    ew = G.edge_weights(spark.createDataFrame(edges, "src long, dst long"))
    seeds = spark.createDataFrame([(1, 0)], "node long, d long")
    got = {r["node"]: r["d"] for r in G.sssp_bounded(ew, seeds, 3).collect()}
    assert got == _py_sssp(edges, {1}, 3)
    assert 8 not in got and 9 not in got  # disconnected stays unlabelled
    assert got[1] == 0


def test_sssp_more_rounds_never_increase_distance(spark):
    edges = _sym([(i, i + 1) for i in range(1, 12)] + [(1, 6), (4, 11)])
    ew = G.edge_weights(spark.createDataFrame(edges, "src long, dst long"))
    seeds = spark.createDataFrame([(1, 0)], "node long, d long")
    d2 = {r["node"]: r["d"] for r in G.sssp_bounded(ew, seeds, 2).collect()}
    d4 = {r["node"]: r["d"] for r in G.sssp_bounded(ew, seeds, 4).collect()}
    assert set(d2) <= set(d4)
    assert all(d4[v] <= d2[v] for v in d2)


def _py_label_prop(edges, rounds):
    """Driver-side replay: same weights, same two-aggregate argmax
    (max weight sum, min label on ties), same synchronous rounds."""
    from collections import defaultdict
    nodes = {s for s, _ in edges}
    labs = {v: v for v in nodes}
    for _ in range(rounds):
        score = defaultdict(int)
        for s, d in edges:
            score[(d, labs[s])] += 1 + (s + d) % 7
        best = {}
        for (n, lab), sc in score.items():
            cur = best.get(n)
            if cur is None or (-sc, lab) < cur[0]:
                best[n] = ((-sc, lab), lab)
        labs = {n: v[1] for n, v in best.items()}
    return labs


def test_label_propagation_matches_python_replay_exactly(spark):
    # two 3-cliques joined by one bridge (the bridge edge happens to be
    # the HEAVIEST weight — good adversarial case for the argmax)
    cliques = _sym([(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12),
                    (3, 10)])
    ew = G.edge_weights(spark.createDataFrame(cliques, "src long, dst long"))
    for rounds in (1, 3):
        got = {r["node"]: r["lab"]
               for r in G.label_propagation(ew, rounds).collect()}
        assert got == _py_label_prop(cliques, rounds)
    assert set(got.values()) <= set(got)  # labels are node ids


def test_cooccurrence_edges_symmetric_distinct(spark):
    df = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 11), (2, 10), (2, 11), (3, 12)],
        "g long, i long")
    got = sorted((r["src"], r["dst"]) for r in
                 G.cooccurrence_edges(df, "g", "i").collect())
    assert got == [(10, 11), (11, 10)]


def _local_edges(rows, max_edges=10**6):
    import pyarrow as pa
    table = pa.table({"g": pa.array([g for g, _ in rows], pa.int64()),
                      "i": pa.array([i for _, i in rows], pa.int64())})
    return G.cooccurrence_edges_local(table, "g", "i", max_edges)


def test_cooccurrence_edges_local_equals_distributed(spark):
    """The driver build is the exact twin of ``cooccurrence_edges``,
    and its edge-bound gate says "does not fit" exactly when the
    pre-distinct bound sum k(k-1) is above it."""
    seven = [(5, i) for i in range(20, 27)]
    rows = ([(1, 10), (1, 11), (1, 11), (1, None), (None, 12), (None, None),
             (2, 10), (2, 11), (3, 12), (4, 13), (4, 13), (6, 10), (6, 20)]
            + seven + seven[:3])
    for case in (rows, [(3, 12)], []):
        df = spark.createDataFrame(case, "g long, i long")
        want = sorted((r["src"], r["dst"]) for r in
                      G.cooccurrence_edges(df, "g", "i").collect())
        ids, src, dst = _local_edges(case)
        assert sorted(zip(ids[src].tolist(), ids[dst].tolist())) == want
        assert len(set(zip(src.tolist(), dst.tolist()))) == src.size
    # groups {10,11} x2, {20..26}, {10,20}; 3 and 4 hold one item each
    bound = 2 + 2 + 7 * 6 + 2
    assert _local_edges(rows)[1].size < bound  # {10, 11} repeats
    assert _local_edges(rows, bound - 1) is None
    assert _local_edges(rows, bound) is not None
    assert _local_edges([], -1) is None
    assert _local_edges([], 0) is not None


# ------------------------------------------------------------ X123 k-core
def _py_peel(edges, k, rounds):
    """Reference peel: every round re-derives survivors from scratch,
    with no fixed-point shortcut."""
    from collections import Counter
    out = []
    for r in range(1, rounds + 1):
        deg = Counter(s for s, _ in edges)
        keep = {v for v, d in deg.items() if d >= k}
        edges = [(s, d) for s, d in edges if s in keep and d in keep]
        out.append((r, len(keep), len(edges)))
    return out


def _edge_table(edges):
    import pyarrow as pa
    return pa.table({"src": pa.array([s for s, _ in edges], pa.int64()),
                     "dst": pa.array([d for _, d in edges], pa.int64())})


def test_kcore_peel_local_matches_python_reference():
    k5 = [(a, b) for a in range(1, 6) for b in range(1, 6) if a != b]
    pendants = _sym([(1, 6), (1, 7), (2, 8)])
    # k=2: a triangle with a 5-node tail; the tail peels one node per
    # round from its free end, then the triangle is the fixed point.
    cascade = _sym([(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6),
                    (6, 7), (7, 8)])
    cases = [(k5 + pendants, 4, 8), (cascade, 2, 8), ([], 3, 8)]
    for edges, k, rounds in cases:
        want = _py_peel(edges, k, rounds)
        got = G.kcore_peel_local(_edge_table(edges), k, 1, rounds)
        assert got == want, (k, got, want)
        # each converges inside the window: the tail repeats verbatim
        assert got[-1][1:] == got[-2][1:]
    assert _py_peel(k5 + pendants, 4, 2)[0] == (1, 5, 20)
    assert [r[1:] for r in _py_peel(cascade, 2, 8)][:6] == \
        [(7, 14), (6, 12), (5, 10), (4, 8), (3, 6), (3, 6)]
    # a later start labels its rounds from first_round on
    got = G.kcore_peel_local(_edge_table(cascade), 2, 3, 8)
    assert got == [(r + 2, n, e) for r, n, e in _py_peel(cascade, 2, 6)]


def _is_local_relation(df) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "LocalRelation" in plan and "LogicalRDD" not in plan


def test_kcore_profile_same_on_every_branch(spark, sf_dir, monkeypatch,
                                           jobs_of):
    """The gate only picks where rounds run. The local start (graph
    built and peeled on the driver), all distributed, switching to the
    driver after round 1, and finishing there from round 1 must give
    the same profile. At the oracle scales a 4M gate always starts
    locally, so this is what covers the distributed rounds."""
    import pyspark.sql.functions as F
    from pyspark.sql.classic.dataframe import DataFrame

    import etl_airflow_spotify_spark.queries.graph as Q
    from etl_airflow_spotify_spark.catalog import load_table

    starts, fetched, read = [], [], []

    def trace(name, start):
        fn = getattr(G, name)

        def traced(*args):
            starts.append((name, start(args)))
            return fn(*args)
        monkeypatch.setattr(G, name, traced)

    trace("kcore_peel_local", lambda a: a[2])
    trace("kcore_peel_dense", lambda a: a[4])
    trace("cooccurrence_edges_local", lambda a: None)
    to_arrow = DataFrame.toArrow

    def fetch(self):
        table = to_arrow(self)
        fetched.append((tuple(table.column_names), table.num_rows))
        return table
    monkeypatch.setattr(DataFrame, "toArrow", fetch)
    read_columns = Q.read_columns

    def read_local(*args):
        read.append(args)
        return read_columns(*args)
    monkeypatch.setattr(Q, "read_columns", read_local)

    def profile(gate):
        monkeypatch.setattr(Q, "KCORE_LOCAL_FINISH_EDGE_MAX", gate)
        starts.clear()
        fetched.clear()
        read.clear()
        df, jobs = jobs_of(f"kcore-{gate}",
                           lambda: Q.kcore_peeling_profile(spark, sf_dir))
        assert _is_local_relation(df)
        return sorted(map(tuple, df.collect())), list(starts), jobs

    distributed_rounds = Q._kcore_distributed_rounds
    li = load_table(spark, sf_dir, "lineitem")
    n_rows = li.count()
    n0 = G.cooccurrence_edges(li, "l_orderkey", "l_partkey").count()
    k = F.count("*")
    bound = (li.select("l_orderkey", "l_partkey").distinct()
             .groupBy("l_orderkey").agg((k * (k - 1)).alias("b"))
             .agg(F.sum("b")).first()[0])
    assert n_rows < n0 < bound, "a gate in [n0, bound) must start distributed"
    pairs_read = [(sf_dir, "lineitem", ["l_orderkey", "l_partkey"])]

    local, s, jobs = profile(Q.KCORE_LOCAL_FINISH_EDGE_MAX)
    assert s == [("cooccurrence_edges_local", None), ("kcore_peel_dense", 1)]
    # the pairs are read on the driver: no Spark job, no fetch
    assert jobs == 0 and fetched == [] and read == pairs_read
    # -1, not 0: a graph that peels to nothing has 0 <= 0 edges left
    distributed, s, _ = profile(-1)
    assert s == [] and len(distributed) == Q.KCORE_ROUNDS and read == []
    n1 = distributed[0][2]
    assert n1 < n0, "round 1 must peel for the mid-way switch to happen"
    switched, s, _ = profile(n1 + (n0 - n1) // 2)
    assert s == [("cooccurrence_edges_local", None), ("kcore_peel_local", 2),
                 ("kcore_peel_dense", 2)]
    assert read == pairs_read
    finished, s, _ = profile(n0)
    assert s == [("cooccurrence_edges_local", None), ("kcore_peel_local", 1),
                 ("kcore_peel_dense", 1)]
    # more footer rows than the gate: the pairs are never read and the
    # edge set is built distributed
    built = []

    def build_distributed(*args):
        built.append(args)
        return distributed_rounds(*args)
    monkeypatch.setattr(Q, "_kcore_distributed_rounds", build_distributed)
    capped, s, _ = profile(n_rows // 2)
    assert len(built) == 1 and read == []
    assert all(cols == ("src", "dst") for cols, _ in fetched), fetched
    assert ("cooccurrence_edges_local", None) not in s
    assert local == distributed == switched == finished == capped, local


def test_star_cc_local_finish_is_local_relation(spark):
    """Once star-CC's driver finish runs, its edges re-enter as an
    Arrow-built LocalRelation, so the output plan holds no LogicalRDD
    when its input is local too."""
    from etl_airflow_spotify_spark.catalog import local_frame
    from etl_airflow_spotify_spark.operators.dedup import \
        connected_components_star

    # two paths: neither is a star, so round 1 changes the edge set
    # and the finish runs below the gate
    pairs = local_frame(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11),
                                (11, 12), (12, 13)], "id_a long, id_b long")
    out = connected_components_star(pairs)
    assert _is_local_relation(out)
    assert dict(map(tuple, out.collect())) == \
        {**{v: 1 for v in range(1, 6)}, **{v: 10 for v in range(10, 14)}}
