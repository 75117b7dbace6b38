"""Graph analytics over the nation-to-nation trade graph.

Every ``graph_*`` query but the random walk runs over trade lanes:
customer nation -> supplier nation, weighted by the number of lineitems
shipped along the lane. Building the lanes is the data-sized step, a
``lineitem x orders x customer x supplier`` join and a group-by, and it
runs distributed, once per query (``_trade_lanes``). Its result lives in
the TPC-H nation domain: 25 nations, so at most 625 lanes at any scale
factor.

- Triangles, Jaccard, clustering, Adamic-Adar and the Boruvka round
  filter or derive from the lanes and stay one lazy plan.
- The fixpoints (PageRank, label propagation, modularity, SSSP, k-core,
  topological layers, HITS, Katz) collect the lanes once, plus the 25
  nation rows for every one but topological layers (its output is keyed
  by nationkey), iterate in plain Python on the driver, and return through
  ``sources.batch.local_frame`` (a ``LocalTableScan``). Display rounding
  and modularity's decimal casts stay Spark expressions over those rows,
  so they round exactly as the oracles do.
- The random walk's frontier is customer- and supplier-sized, so it
  stays a distributed join per hop.

The reference has no graph surface (it stops at bronze ingest); this is
north-star extension work.

Oracles: each fixed iteration count unrolls into chained CTEs, generated
from the same constants the queries iterate with.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from ..functions.ranks import persisted as _persisted
from ..sources.batch import local_frame


def _trade_lanes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade lanes ``(src, dst, w)``: ``w`` (bigint) lineitems shipped
    from customer nation ``src`` to supplier nation ``dst``. The one
    data-sized step of every nation-graph query, with both dimension
    tables broadcast; the result has at most 25 x 25 = 625 rows."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _collect(*frames: DataFrame) -> list[list[tuple]]:
    """The rows of each bounded frame as tuples on the driver: the only
    jobs a fixpoint query runs while it is built."""
    return [[tuple(r) for r in df.collect()] for df in frames]


def _driver_graph(spark: SparkSession, sf_dir: str) -> tuple[list, dict]:
    """The lanes as ``(src, dst, w)`` tuples (<= 625) and the nations as
    ``{n_nationkey: n_name}`` (25)."""
    lanes, nations = _collect(
        _trade_lanes(spark, sf_dir),
        table(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
    )
    return lanes, dict(nations)


def _spread(lanes, x: dict, nodes) -> dict:
    """One message-passing step: ``{v: sum of x[s] * w over lanes
    (s, v, w) with s in x}`` for every v in ``nodes``."""
    out = dict.fromkeys(nodes, 0.0)
    for s, d, w in lanes:
        if s in x and d in out:
            out[d] += x[s] * w
    return out


def _per_nation(spark: SparkSession, names: dict, values: dict, ddl: str) -> DataFrame:
    """``(nation, *values[v])`` for every node v that is a nation, sorted
    by nation name; ``ddl`` is the row schema."""
    rows = sorted((names[v], *vals) for v, vals in values.items() if v in names)
    return local_frame(spark, rows, ddl)


_DAMPING = 0.85
_ITERATIONS = 3

_EDGES_SQL = """
    edges AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2),
    enorm AS MATERIALIZED (SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p
              FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nation),
    pr0 AS MATERIALIZED (SELECT n_nationkey AS node, 1.0 / (SELECT cnt FROM nn) AS pr
            FROM nation)
"""


def _pagerank_oracle() -> str:
    """Unroll the PageRank recurrence into chained CTEs."""
    ctes = ["WITH " + _EDGES_SQL]
    for i in range(_ITERATIONS):
        ctes.append(f"""
    pr{i + 1} AS MATERIALIZED (
        SELECT b.node,
               (1 - {_DAMPING}) / (SELECT cnt FROM nn)
                   + {_DAMPING} * COALESCE(inf.inflow, 0) AS pr
        FROM pr0 b
        LEFT JOIN (SELECT e.dst AS node, SUM(p.pr * e.p) AS inflow
                   FROM enorm e JOIN pr{i} p ON e.src = p.node
                   GROUP BY e.dst) inf ON b.node = inf.node)
""")
    return (
        ",".join(ctes)
        + f"""
    SELECT n.n_name AS nation, ROUND(pr.pr, 6) AS pagerank
    FROM pr{_ITERATIONS} pr JOIN nation n ON pr.node = n.n_nationkey
    """
    )


@query("graph_pagerank_trade", oracle=_pagerank_oracle())
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (d=0.85, 3 fixed iterations) over the
    customer-nation -> supplier-nation trade graph, edge weight = number
    of lineitems shipped along that lane, normalized per source nation.

    Runs on the driver over a bounded domain: the 25 nations are the
    node set and there are at most 625 lanes."""
    lanes, names = _driver_graph(spark, sf_dir)
    n = len(names)
    out_w = Counter()
    for s, _, w in lanes:
        out_w[s] += w
    enorm = [(s, d, w / out_w[s]) for s, d, w in lanes]
    pr = dict.fromkeys(names, 1.0 / n)
    for _ in range(_ITERATIONS):
        inflow = _spread(enorm, pr, names)
        pr = {v: (1 - _DAMPING) / n + _DAMPING * inflow[v] for v in names}
    return _per_nation(
        spark, names, {v: (x,) for v, x in pr.items()}, "nation string, pr double"
    ).select("nation", F.round("pr", 6).alias("pagerank"))


_TOPK_PARTNERS = 3

_TRI_EDGES_SQL = f"""
    lanes AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               COUNT(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2),
    top_lanes AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst ASC) AS rk
            FROM lanes) t
        WHERE rk <= {_TOPK_PARTNERS}),
    und AS MATERIALIZED (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM top_lanes)
"""


def _topk_trade_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-k-partner undirected trade graph ``(a, b)``, a < b: each
    nation keeps its 3 heaviest non-self outbound lanes, so density does
    not grow with SF (at most 25 x 3 edges)."""
    lanes = _trade_lanes(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    rk = Window.partitionBy("src").orderBy(F.col("w").desc(), F.col("dst").asc())
    return (
        lanes.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= _TOPK_PARTNERS)
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )


def _triangle_members(und: DataFrame) -> DataFrame:
    """One ``node`` row per (triangle, corner) of ``und``: the three-way
    self-join enumerates each triangle once, as a < b < c."""
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(F.broadcast(e2), F.col("e1.b") == F.col("e2.a"))
        .join(
            F.broadcast(e3),
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
    )
    return (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {_TRI_EDGES_SQL},
    tri AS MATERIALIZED (
        SELECT e1.a, e1.b, e2.b AS c
        FROM und e1
        JOIN und e2 ON e1.b = e2.a
        JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b),
    members AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
    SELECT n.n_name AS nation, COUNT(m.node) AS n_triangles
    FROM nation n LEFT JOIN members m ON n.n_nationkey = m.node
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation in the top-{k}-partner trade graph.

    The graph is thinned scale-invariantly (each nation keeps its 3
    strongest outbound lanes) so density doesn't grow with SF. Edges are
    canonicalized a<b, which makes the classic three-way self-join
    enumerate each triangle exactly once (a<b<c) — the relational form
    of the node-ordering trick that bounds work on power-law graphs
    (order by degree instead of id at web scale). The edge table after
    top-k is O(V·k) rows → both join sides broadcast; on a billion-edge
    graph the same plan runs as two shuffle joins keyed on the shared
    edge endpoint, which is the standard distributed triangle-enumeration
    layout (MR "node-iterator")."""
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    members = _triangle_members(_topk_trade_und(spark, sf_dir))
    return (
        nation.join(members, nation.n_nationkey == members.node, "left")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("node").alias("n_triangles"))
        .orderBy("nation")
    )


# --- label propagation ----------------------------------------------------

_LPA_ROUNDS = 2

_LPA_STEP_SQL = """
    lab{next} AS MATERIALIZED (
        SELECT n.node, COALESCE(best.label, n.label) AS label
        FROM lab{cur} n
        LEFT JOIN (
            SELECT node, label FROM (
                SELECT e.dst AS node, l.label,
                       ROW_NUMBER() OVER (PARTITION BY e.dst
                                          ORDER BY SUM(e.w) DESC, l.label) AS rn
                FROM sym e JOIN lab{cur} l ON e.src = l.node
                GROUP BY e.dst, l.label)
            WHERE rn = 1) best ON best.node = n.node)
"""


def _lpa_oracle() -> str:
    ctes = [
        "WITH "
        + _EDGES_SQL
        + """,
    sym AS MATERIALIZED (
        SELECT src, dst, SUM(w) AS w FROM (
            SELECT src, dst, w FROM edges
            UNION ALL
            SELECT dst AS src, src AS dst, w FROM edges)
        GROUP BY src, dst),
    lab0 AS (SELECT n_nationkey AS node, n_nationkey AS label FROM nation)
"""
    ]
    for i in range(_LPA_ROUNDS):
        ctes.append(_LPA_STEP_SQL.format(cur=i, next=i + 1))
    return (
        ",".join(ctes)
        + f"""
    SELECT n.n_name AS nation, CAST(l.label AS BIGINT) AS community
    FROM lab{_LPA_ROUNDS} l JOIN nation n ON l.node = n.n_nationkey
    ORDER BY nation
    """
    )


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (2 rounds)
    on the symmetrized trade graph: every node adopts the label with
    the largest incident edge weight among its neighbors, ties broken
    by the smaller label — fully deterministic, unlike the textbook
    randomized LPA, so both engines converge to identical communities.

    Runs on the driver over a bounded domain: the 25 nations are the
    node set and there are at most 625 lanes. Edge weights are integer
    counts, so weight sums are exact."""
    lanes, names = _driver_graph(spark, sf_dir)
    _, lab = _lpa(lanes, names)
    return _per_nation(
        spark, names, {v: (c,) for v, c in lab.items()}, "nation string, community bigint"
    )


def _lpa(lanes, names: dict) -> tuple[Counter, dict]:
    """The symmetrized lane weights ``{(src, dst): w}`` (a self-lane
    counts twice) and each nation's label after ``_LPA_ROUNDS``
    synchronous rounds."""
    sym = Counter()
    for s, d, w in lanes:
        sym[s, d] += w
        sym[d, s] += w
    lab = {v: v for v in names}
    for _ in range(_LPA_ROUNDS):
        votes = Counter()
        for (s, d), w in sym.items():
            if s in lab:
                votes[d, lab[s]] += w
        best = {}
        for (d, label), w in sorted(votes.items()):  # a tie keeps the smaller label
            if d not in best or w > best[d][0]:
                best[d] = (w, label)
        lab = {v: best[v][1] if v in best else label for v, label in lab.items()}
    return sym, lab


@query(
    "graph_link_prediction_jaccard",
    oracle=(
        "WITH "
        + _TRI_EDGES_SQL
        + """,
    adj AS MATERIALIZED (
        SELECT a AS node, b AS nbr FROM und
        UNION ALL
        SELECT b AS node, a AS nbr FROM und),
    deg AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
    common AS MATERIALIZED (
        SELECT x.node AS a, y.node AS b, COUNT(*) AS cn
        FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
        GROUP BY 1, 2),
    cand AS (
        SELECT c.a, c.b, c.cn, da.d AS dega, db.d AS degb
        FROM common c
        JOIN deg da ON da.node = c.a
        JOIN deg db ON db.node = c.b
        LEFT JOIN und e ON e.a = c.a AND e.b = c.b
        WHERE e.a IS NULL)
    SELECT a, b,
           CAST(cn AS BIGINT) AS common_neighbors,
           ROUND(cn * 1.0 / (dega + degb - cn), 6) AS jaccard_score
    FROM cand
    ORDER BY ROUND(cn * 1.0 / (dega + degb - cn), 6) DESC, a, b
    LIMIT 10
    """
    ),
)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor-set Jaccard on the top-3-partner
    trade graph (the scale-invariant graph the triangle op uses): for
    every NON-adjacent nation pair sharing at least one neighbor, score
    |N(a)∩N(b)| / |N(a)∪N(b)| and report the 10 most likely future
    trade lanes — the classic common-neighbors baseline every
    link-prediction system starts from.

    Common-neighbor counting is an inverted-adjacency self-join (one
    shuffle on the shared neighbor, exactly the n-gram dedup topology);
    degrees join back on the node key; existing edges anti-join out.
    Every score is an exact integer rational."""
    und = _topk_trade_und(spark, sf_dir)
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    x = adj.select(F.col("node").alias("na"), "nbr")
    y = adj.select(F.col("node").alias("nb"), "nbr")
    common = (
        x.join(y, "nbr")
        .filter(F.col("na") < F.col("nb"))
        .groupBy(F.col("na").alias("a"), F.col("nb").alias("b"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = (
        common.join(
            deg.select(F.col("node").alias("a"), F.col("d").alias("dega")), "a"
        )
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("degb")), "b")
        .join(und, ["a", "b"], "left_anti")
    )
    score = F.round(F.col("cn") * 1.0 / (F.col("dega") + F.col("degb") - F.col("cn")), 6)
    return (
        cand.select(
            "a",
            "b",
            F.col("cn").cast("bigint").alias("common_neighbors"),
            score.alias("jaccard_score"),
        )
        .orderBy(F.col("jaccard_score").desc(), "a", "b")
        .limit(10)
    )


def _modularity_oracle() -> str:
    return (
        _lpa_oracle().split("SELECT n.n_name")[0]
        + f""",
    comm AS MATERIALIZED (
        SELECT node, label FROM lab{_LPA_ROUNDS}),
    m AS (SELECT CAST(SUM(w) AS DOUBLE) AS m2 FROM sym),
    deg AS MATERIALIZED (
        SELECT src AS node, CAST(SUM(w) AS DOUBLE) AS k
        FROM sym GROUP BY src),
    within AS (
        SELECT CAST(SUM(e.w) AS DOUBLE) AS w_in
        FROM sym e
        JOIN comm ca ON ca.node = e.src
        JOIN comm cb ON cb.node = e.dst
        WHERE ca.label = cb.label),
    comm_deg AS (
        SELECT c.label, CAST(SUM(CAST(d.k AS DECIMAL(38,6))) AS DOUBLE) AS kc
        FROM deg d JOIN comm c ON c.node = d.node
        GROUP BY c.label)
    SELECT CAST((SELECT COUNT(DISTINCT label) FROM comm) AS BIGINT)
               AS n_communities,
           ROUND((SELECT w_in FROM within) / m.m2
                 - CAST(SUM(CAST((cd.kc / m.m2) * (cd.kc / m.m2)
                                 AS DECIMAL(38,12))) AS DOUBLE), 6)
               AS modularity
    FROM comm_deg cd, m
    GROUP BY m.m2
    """
    )


@query("graph_modularity_score", oracle=_modularity_oracle())
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q = Σᶜ(eₑ − aₑ²) of the label-propagation
    communities on the weighted trade graph — the quality number that
    says whether `graph_label_propagation`'s partition beats random
    wiring (Q near 0) or found real structure. Running a partition
    WITHOUT scoring it is how bad communities ship.

    Runs on the driver over a bounded domain: the 25 nations are the
    node set and there are at most 625 lanes. One lanes collect serves
    both the LPA rounds and the score. The per-community degree mass and
    the quadratic term are summed in DECIMAL by Spark over the per-node
    rows, as the oracle casts them."""
    lanes, names = _driver_graph(spark, sf_dir)
    sym, lab = _lpa(lanes, names)
    k = Counter()
    for (s, _), w in sym.items():
        k[s] += w
    m2 = float(sum(sym.values()))
    within = [w for (s, d), w in sym.items() if s in lab and d in lab and lab[s] == lab[d]]
    w_in = float(sum(within)) if within else None
    rows = [(lab[v], float(kv), m2, w_in) for v, kv in k.items() if v in lab]
    a = F.col("kc") / F.col("m2")
    return (
        local_frame(spark, rows, "label bigint, k double, m2 double, w_in double")
        .groupBy("label", "m2", "w_in")
        .agg(F.sum(F.col("k").cast("decimal(38,6)")).cast("double").alias("kc"))
        .groupBy("m2", "w_in")
        .agg(F.sum((a * a).cast("decimal(38,12)")).cast("double").alias("sum_a2"))
        .select(
            F.lit(len(set(lab.values()))).cast("bigint").alias("n_communities"),
            F.round(F.col("w_in") / F.col("m2") - F.col("sum_a2"), 6).alias("modularity"),
        )
    )


_SSSP_ROUNDS = 3
_SSSP_SCALE = 1_000_000
_SSSP_INF = 10**15


def _sssp_oracle() -> str:
    """Unroll the Bellman-Ford relaxation into chained CTEs (same
    loop-generated-SQL scheme as PageRank, so plan and oracle stay in
    sync)."""
    ctes = [
        "WITH "
        + _EDGES_SQL
        + f""",
    cost AS MATERIALIZED (SELECT src, dst, {_SSSP_SCALE} // CAST(w AS BIGINT) AS c
             FROM edges),
    d0 AS MATERIALIZED (SELECT n_nationkey AS node,
                  CASE WHEN n_nationkey = 0 THEN CAST(0 AS BIGINT)
                       ELSE CAST({_SSSP_INF} AS BIGINT) END AS dist
           FROM nation)
"""
    ]
    for i in range(_SSSP_ROUNDS):
        ctes.append(f"""
    d{i + 1} AS MATERIALIZED (
        SELECT b.node,
               LEAST(b.dist, COALESCE(r.best, CAST({_SSSP_INF} AS BIGINT)))
                   AS dist
        FROM d{i} b
        LEFT JOIN (SELECT c.dst AS node, MIN(p.dist + c.c) AS best
                   FROM cost c JOIN d{i} p ON c.src = p.node
                   WHERE p.dist < {_SSSP_INF}
                   GROUP BY c.dst) r ON b.node = r.node)
""")
    return (
        ",".join(ctes)
        + f"""
    SELECT n.n_name AS nation, d.dist AS distance
    FROM d{_SSSP_ROUNDS} d JOIN nation n ON d.node = n.n_nationkey
    WHERE d.dist < {_SSSP_INF}
    """
    )


@query("graph_sssp_bellman_ford", oracle=_sssp_oracle())
def graph_sssp_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths (3 Bellman-Ford rounds) from nation 0
    over the trade graph, edge cost = SCALE div trade-volume (busy lanes
    are cheap) — the third canonical iterative-join graph algorithm
    after PageRank and connected components.

    Costs are INTEGERS (floor-divided), so the min-plus semiring is
    exact: MIN is a selection, not an accumulation, and the oracle
    matches bit-for-bit. Rounds are synchronous: each relaxes every lane
    from the previous round's distances.

    Runs on the driver over a bounded domain: the 25 nations are the
    node set and there are at most 625 lanes."""
    lanes, names = _driver_graph(spark, sf_dir)
    cost = [(s, d, _SSSP_SCALE // w) for s, d, w in lanes]
    dist = {v: 0 if v == 0 else _SSSP_INF for v in names}
    for _ in range(_SSSP_ROUNDS):
        best = {}
        for s, d, c in cost:
            if dist.get(s, _SSSP_INF) < _SSSP_INF:
                best[d] = min(best.get(d, _SSSP_INF), dist[s] + c)
        dist = {v: min(x, best.get(v, _SSSP_INF)) for v, x in dist.items()}
    reached = {v: (x,) for v, x in dist.items() if x < _SSSP_INF}
    return _per_nation(spark, names, reached, "nation string, distance bigint")


_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    """Unrolled peeling rounds as chained CTEs (loop-generated, same
    scheme as PageRank/SSSP)."""
    ctes = [
        "WITH "
        + _EDGES_SQL
        + """,
    sym AS MATERIALIZED (
        SELECT src, dst FROM edges WHERE src <> dst
        UNION
        SELECT dst, src FROM edges WHERE src <> dst),
    n0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym)
"""
    ]
    for i in range(_KCORE_ROUNDS):
        ctes.append(f"""
    deg{i} AS MATERIALIZED (
        SELECT s.src AS node, COUNT(*) AS deg
        FROM sym s
        JOIN n{i} a ON s.src = a.node
        JOIN n{i} b ON s.dst = b.node
        GROUP BY s.src),
    n{i + 1} AS MATERIALIZED (SELECT node FROM deg{i} WHERE deg >= {_KCORE_K})
""")
    return (
        ",".join(ctes)
        + f"""
    SELECT n.n_name AS nation, d.deg AS core_degree
    FROM deg{_KCORE_ROUNDS - 1} d
    JOIN n{_KCORE_ROUNDS} surv ON d.node = surv.node
    JOIN nation n ON d.node = n.n_nationkey
    ORDER BY nation
    """
    )


@query("graph_kcore_peel", oracle=_kcore_oracle())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3, 3 unrolled peeling rounds) on the
    symmetrized trade graph: repeatedly drop nodes with degree < k
    until the remaining subgraph is (approximately, at the fixed round
    budget) the k-core — the graph-density filter behind community
    seeding and spam-subgraph pruning.

    Each round counts every surviving node's lanes to surviving nodes
    and keeps the nodes with at least k. The node set is the endpoints
    of non-self lanes. Runs on the driver over a bounded domain: at most
    25 nations and 625 lanes."""
    lanes, names = _driver_graph(spark, sf_dir)
    sym = {(s, d) for s, d, _ in lanes if s != d} | {(d, s) for s, d, _ in lanes if s != d}
    alive = {s for s, _ in sym}
    for _ in range(_KCORE_ROUNDS):
        deg = Counter(s for s, d in sym if s in alive and d in alive)
        alive = {v for v, k in deg.items() if k >= _KCORE_K}
    core = {v: (deg[v],) for v in alive}
    return _per_nation(spark, names, core, "nation string, core_degree bigint")


@query(
    "graph_topo_layers",
    oracle="""
    WITH RECURSIVE base AS MATERIALIZED (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey < s.s_nationkey),
    nodes AS MATERIALIZED (SELECT DISTINCT v FROM (
        SELECT src AS v FROM base UNION SELECT dst FROM base)),
    roots AS (SELECT v FROM nodes
              WHERE v NOT IN (SELECT DISTINCT dst FROM base)),
    lp(v, len) AS (
        SELECT v, 0 FROM roots
        UNION
        SELECT b.dst, lp.len + 1 FROM lp JOIN base b ON b.src = lp.v)
    SELECT v AS nationkey, CAST(MAX(len) AS BIGINT) AS layer
    FROM lp GROUP BY v ORDER BY v
    """,
)
def graph_topo_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological LAYERING of the acyclic (src < dst) trade DAG:
    layer(v) = longest path from any root — the level sets a DAG
    scheduler executes in parallel waves (every node in layer k
    depends only on layers < k), i.e. the stage planning a pipeline
    orchestrator runs over its task graph. Completes the iterative
    graph family: PageRank (float fixpoint), CC (min-label), SSSP
    (min-plus) — this one is the MAX-PLUS semiring on a DAG, exact
    integer arithmetic, so the oracle matches bit-for-bit.

    With src < dst, ascending key order is a topological order: walking
    the lanes sorted by (src, dst) sees every in-lane of a node before
    its out-lanes, so one pass fixes every layer. The node set is the
    endpoints of the DAG. Runs on the driver over a bounded domain: at
    most 25 nations and 300 lanes with src < dst. The oracle expresses
    the same fixpoint as a deduplicating recursive CTE over (node,
    length) states."""
    (lanes,) = _collect(_trade_lanes(spark, sf_dir))
    layer = {}
    for s, d in sorted({(s, d) for s, d, _ in lanes if s < d}):
        layer.setdefault(s, 0)
        layer[d] = max(layer.get(d, 0), layer[s] + 1)
    return local_frame(spark, sorted(layer.items()), "nationkey int, layer bigint")


# --- HITS hubs & authorities -------------------------------------------------

_HITS_ITER = 2


def _hits_oracle() -> str:
    """Unroll the HITS mutual recurrence into chained CTEs (same
    generator-stays-in-sync contract as the PageRank oracle)."""
    ctes = [
        "WITH "
        + """
    edges AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2),
    a0 AS MATERIALIZED (SELECT n_nationkey AS node, 1.0 AS a FROM nation)
"""
    ]
    for i in range(1, _HITS_ITER + 1):
        ctes.append(f"""
    hraw{i} AS MATERIALIZED (
        SELECT n.node, COALESCE(s.v, 0) AS h
        FROM a0 n LEFT JOIN (
            SELECT e.src AS node, SUM(e.w * a.a) AS v
            FROM edges e JOIN a{i - 1} a ON e.dst = a.node
            GROUP BY e.src) s ON n.node = s.node),
    h{i} AS MATERIALIZED (SELECT node, h / (SELECT MAX(h) FROM hraw{i}) AS h FROM hraw{i}),
    araw{i} AS MATERIALIZED (
        SELECT n.node, COALESCE(s.v, 0) AS a
        FROM a0 n LEFT JOIN (
            SELECT e.dst AS node, SUM(e.w * h.h) AS v
            FROM edges e JOIN h{i} h ON e.src = h.node
            GROUP BY e.dst) s ON n.node = s.node),
    a{i} AS MATERIALIZED (SELECT node, a / (SELECT MAX(a) FROM araw{i}) AS a FROM araw{i})
""")
    return (
        ",".join(ctes)
        + f"""
    SELECT n.n_name AS nation,
           ROUND(h.h, 6) AS hub,
           ROUND(a.a, 6) AS authority
    FROM h{_HITS_ITER} h
    JOIN a{_HITS_ITER} a ON h.node = a.node
    JOIN nation n ON h.node = n.n_nationkey
    ORDER BY nation
    """
    )


@query("graph_hits_hubs_authorities", oracle=_hits_oracle())
def graph_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hubs/authorities on the nation trade graph —
    the OTHER canonical eigenvector ranking, complementing PageRank:
    hubs are nations whose customers buy from authoritative supplier
    nations, mutual recurrence h = W a, a = W^T h, L-inf normalized
    per half-step, 2 fixed iterations (``_HITS_ITER``, unrolled into the
    oracle CTEs by the same generator loop).

    Runs on the driver over a bounded domain: the 25 nations are the
    node set and there are at most 625 lanes."""
    lanes, names = _driver_graph(spark, sf_dir)
    back = [(d, s, w) for s, d, w in lanes]
    a = dict.fromkeys(names, 1.0)
    for _ in range(_HITS_ITER):
        h = _linf(_spread(back, a, names))
        a = _linf(_spread(lanes, h, names))
    scores = {v: (h[v], a[v]) for v in names}
    return _per_nation(
        spark, names, scores, "nation string, h double, a double"
    ).select("nation", F.round("h", 6).alias("hub"), F.round("a", 6).alias("authority"))


def _linf(x: dict) -> dict:
    """Every score over the largest one."""
    m = max(x.values())
    return {v: s / m for v, s in x.items()}


_WALK_P = 1_000_000_007  # hash modulus for the deterministic next-hop draw


def _hop_hash(prev: F.Column, cand: F.Column, step: int) -> F.Column:
    """Portable next-hop draw: identical BIGINT arithmetic in Spark and
    DuckDB (Knuth multiplicative mix, all operands positive)."""
    # mod BEFORE the multiply: keeps (prev % P) * 2654435761 < 2^63 even
    # for 10-digit production keys
    return (
        (prev % F.lit(_WALK_P)) * F.lit(2654435761)
        + (cand % F.lit(_WALK_P)) * F.lit(40503)
        + F.lit(step * 97)
    ) % F.lit(_WALK_P)


def _hop_hash_sql(prev: str, cand: str, step: int) -> str:
    return (
        f"(({prev} % {_WALK_P}) * 2654435761 + ({cand} % {_WALK_P}) * 40503"
        f" + {step * 97}) % {_WALK_P}"
    )


@query(
    "graph_random_walk_deterministic",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    hop1 AS (
        SELECT c AS c0, s AS s1
        FROM edges
        QUALIFY ROW_NUMBER() OVER (PARTITION BY c
                                   ORDER BY {_hop_hash_sql('c', 's', 1)}, s) = 1),
    hop2 AS (
        SELECT h.c0, h.s1, e.c AS c2
        FROM hop1 h JOIN edges e ON e.s = h.s1
        QUALIFY ROW_NUMBER() OVER (PARTITION BY h.c0
                                   ORDER BY {_hop_hash_sql('h.s1', 'e.c', 2)}, e.c) = 1),
    hop3 AS (
        SELECT h.c0, h.s1, h.c2, e.s AS s3
        FROM hop2 h JOIN edges e ON e.c = h.c2
        QUALIFY ROW_NUMBER() OVER (PARTITION BY h.c0
                                   ORDER BY {_hop_hash_sql('h.c2', 'e.s', 3)}, e.s) = 1)
    SELECT c0, s1, c2, s3 FROM hop3
    """,
)
def graph_random_walk_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One length-3 random walk per start node over the bipartite
    customer<->supplier trade graph (the node2vec/DeepWalk sampling
    primitive that feeds graph-embedding training), derandomized: the
    next hop is the neighbor minimizing a keyed multiplicative hash, so
    the walk corpus is reproducible across engines, partitionings, and
    reruns — the property a training pipeline needs for cacheable
    epochs.

    Scale shape: each hop is one equi-join on the frontier node plus a
    per-frontier-node ROW_NUMBER argmin (identical tie semantics in both engines) — never a per-node
    collect/sample UDF. Walk storage stays one row per start node, so k
    walks of length L are exactly k*L keyed join+agg passes over the
    edge list, embarrassingly parallel in the start-node key."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .transform(_persisted)
    )
    edges.count()  # materialize once; all three hops re-read the edge set

    def argmin_hop(df, part_col, prev_col, cand_col, step, keep, out_name):
        w = Window.partitionBy(part_col).orderBy(
            _hop_hash(F.col(prev_col), F.col(cand_col), step), F.col(cand_col)
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*keep, F.col(cand_col).alias(out_name))
        )

    hop1 = argmin_hop(
        edges, "c", "c", "s", 1, [F.col("c").alias("c0")], "s1"
    )
    hop2 = argmin_hop(
        hop1.join(edges, hop1.s1 == edges.s), "c0", "s1", "c", 2, ["c0", "s1"], "c2"
    )
    hop3 = argmin_hop(
        hop2.join(edges, hop2.c2 == edges.c), "c0", "c2", "s", 3, ["c0", "s1", "c2"], "s3"
    )
    return hop3.select("c0", "s1", "c2", "s3")


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_TRI_EDGES_SQL},
    sym AS MATERIALIZED (SELECT a AS node, b AS nbr FROM und
            UNION ALL SELECT b, a FROM und),
    deg AS MATERIALIZED (SELECT node, COUNT(*) AS degree FROM sym GROUP BY node),
    tri AS MATERIALIZED (
        SELECT e1.a, e1.b, e2.b AS c
        FROM und e1
        JOIN und e2 ON e1.b = e2.a
        JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b),
    tri_n AS (
        SELECT node, COUNT(*) AS n_tri FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri) GROUP BY node)
    SELECT n.n_name AS nation,
           CAST(COALESCE(d.degree, 0) AS BIGINT) AS degree,
           CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
           ROUND(CASE WHEN COALESCE(d.degree, 0) >= 2
                      THEN 2.0 * COALESCE(t.n_tri, 0)
                           / (d.degree * (d.degree - 1))
                      ELSE 0.0 END, 6) AS clustering_coeff
    FROM nation n
    LEFT JOIN deg d ON d.node = n.n_nationkey
    LEFT JOIN tri_n t ON t.node = n.n_nationkey
    ORDER BY nation
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per nation in the top-k-partner
    trade graph: 2*T(v) / (deg(v)*(deg(v)-1)) — what fraction of a
    node's neighbor pairs actually trade with each other (Watts-Strogatz
    1998). Reuses the triangle enumeration and degree relations; both
    are edge-table aggregates, so on a billion-edge graph this is the
    node-iterator triangle layout plus one keyed degree count — no
    per-node adjacency materialization."""
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    und = _topk_trade_und(spark, sf_dir)
    sym = und.select(F.col("a").alias("node")).unionAll(und.select(F.col("b").alias("node")))
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    tri_n = _triangle_members(und).groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    return (
        nation.join(deg, nation.n_nationkey == deg.node, "left")
        .join(tri_n, nation.n_nationkey == tri_n.node, "left")
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce("degree", F.lit(0)).cast("bigint").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                F.when(
                    F.coalesce("degree", F.lit(0)) >= 2,
                    2.0 * F.coalesce("n_tri", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(0.0),
                6,
            ).alias("clustering_coeff"),
        )
        .orderBy("nation")
    )


@query(
    "graph_adamic_adar_link_pred",
    oracle=(
        "WITH "
        + _TRI_EDGES_SQL
        + """,
    adj AS MATERIALIZED (
        SELECT a AS node, b AS nbr FROM und
        UNION ALL
        SELECT b AS node, a AS nbr FROM und),
    deg AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
    pairs AS MATERIALIZED (
        SELECT x.node AS a, y.node AS b, x.nbr AS z
        FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node),
    scoredpairs AS (
        SELECT p.a, p.b, COUNT(*) AS cn,
               SUM(1.0 / LN(dz.d)) AS aa
        FROM pairs p JOIN deg dz ON dz.node = p.z
        GROUP BY p.a, p.b),
    cand AS (
        SELECT s.a, s.b, s.cn, s.aa
        FROM scoredpairs s
        LEFT JOIN und e ON e.a = s.a AND e.b = s.b
        WHERE e.a IS NULL)
    SELECT a, b, CAST(cn AS BIGINT) AS common_neighbors,
           ROUND(aa, 6) AS adamic_adar
    FROM cand
    ORDER BY ROUND(aa, 6) DESC, a, b
    LIMIT 10
    """
    ),
)
def graph_adamic_adar_link_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the top-3-partner trade graph:
    for non-adjacent nation pairs, score sum over common neighbors z
    of 1/ln(deg(z)) — rare shared partners count more than hubs, the
    refinement over plain common-neighbor/Jaccard counting (Adamic &
    Adar 2003). Every common neighbor has degree >= 2 by construction
    (it touches both endpoints), so ln(deg) never divides by zero.

    Unlike the Jaccard variant, the WEIGHT of the shared neighbor must
    ride the pair stream: degrees join onto the inverted adjacency on
    the neighbor key BEFORE the pair aggregation, so the shuffle still
    carries one row per (pair, shared-neighbor) and the hub penalty is
    applied map-side of the final (a,b) hash agg. Existing edges
    anti-join out; top-10 is TakeOrderedAndProject."""
    und = _topk_trade_und(spark, sf_dir)
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    x = adj.select(F.col("node").alias("na"), "nbr")
    y = adj.select(F.col("node").alias("nb"), "nbr")
    pairs = x.join(y, "nbr").filter(F.col("na") < F.col("nb"))
    withdeg = pairs.join(
        F.broadcast(deg.select(F.col("node").alias("nbr"), F.col("d").alias("dz"))),
        "nbr",
    )
    scored = withdeg.groupBy(F.col("na").alias("a"), F.col("nb").alias("b")).agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum(F.lit(1.0) / F.log(F.col("dz"))).alias("aa"),
    )
    cand = scored.join(und, ["a", "b"], "left_anti")
    return (
        cand.select(
            "a",
            "b",
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round("aa", 6).alias("adamic_adar"),
        )
        .orderBy(F.col("adamic_adar").desc(), "a", "b")
        .limit(10)
    )


# --- Katz centrality -----------------------------------------------------------

_KATZ_ITER = 3
_KATZ_ALPHA = 0.05


def _katz_oracle() -> str:
    """Unroll x_{t+1} = 1 + alpha * A^T x_t into chained CTEs (same
    generator-stays-in-sync contract as the HITS/PageRank oracles)."""
    ctes = [
        "WITH "
        + """
    edges AS MATERIALIZED (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey),
    x0 AS MATERIALIZED (SELECT n_nationkey AS node, CAST(1.0 AS DOUBLE) AS x FROM nation)
"""
    ]
    for i in range(1, _KATZ_ITER + 1):
        ctes.append(f"""
    x{i} AS MATERIALIZED (
        SELECT n.node, 1.0 + {_KATZ_ALPHA} * COALESCE(s.v, 0) AS x
        FROM x0 n LEFT JOIN (
            SELECT e.dst AS node, SUM(p.x) AS v
            FROM edges e JOIN x{i - 1} p ON e.src = p.node
            GROUP BY e.dst) s ON n.node = s.node)
""")
    return (
        ",".join(ctes)
        + f"""
    SELECT n.n_name AS nation, ROUND(x.x, 6) AS katz
    FROM x{_KATZ_ITER} x
    JOIN nation n ON x.node = n.n_nationkey
    ORDER BY nation
    """
    )


@query("graph_katz_centrality", oracle=_katz_oracle())
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality on the (unweighted) nation trade graph:
    x_{t+1} = 1 + alpha * A^T x_t, 3 fixed iterations from
    x_0 = 1 — the attenuated path-count ranking that, unlike PageRank,
    credits a node for ALL inbound walks (alpha^len-discounted) rather
    than splitting mass across out-edges, and unlike HITS needs no
    normalization step. alpha = 0.05 is far below 1/lambda_max for a
    25-node graph with counts-free 0/1 weights, so the fixed-point
    iteration is contractive.

    Each distinct lane counts once. Runs on the driver over a bounded
    domain: the 25 nations are the node set and there are at most 625
    lanes."""
    lanes, names = _driver_graph(spark, sf_dir)
    unit = [(s, d, 1) for s, d, _ in lanes]
    x = dict.fromkeys(names, 1.0)
    for _ in range(_KATZ_ITER):
        v = _spread(unit, x, names)
        x = {n: 1.0 + _KATZ_ALPHA * v[n] for n in names}
    return _per_nation(
        spark, names, {n: (k,) for n, k in x.items()}, "nation string, x double"
    ).select("nation", F.round("x", 6).alias("katz"))


# --- Boruvka MST round -----------------------------------------------------------


@query(
    "graph_mst_boruvka_round",
    oracle="""
    WITH raw AS (
        SELECT c.c_nationkey AS a, s.s_nationkey AS b, COUNT(*) AS cnt
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2),
    und AS MATERIALIZED (
        SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v, SUM(cnt) AS w
        FROM raw GROUP BY 1, 2),
    incident AS (
        SELECT u AS node, u, v, w FROM und
        UNION ALL
        SELECT v AS node, u, v, w FROM und),
    picked AS (
        SELECT node, u, v, w,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY w ASC, u ASC, v ASC) AS rk
        FROM incident)
    SELECT n.n_name AS nation, p.u AS edge_u, p.v AS edge_v,
           CAST(p.w AS BIGINT) AS weight
    FROM picked p JOIN nation n ON n.n_nationkey = p.node
    WHERE p.rk = 1
    ORDER BY nation
    """,
)
def graph_mst_boruvka_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Boruvka round on the undirected nation trade graph (edge
    weight = trade-line count, symmetrized): every node picks its
    MINIMUM-weight incident edge with a total-order tie-break
    (w, u, v). The union of picked edges is the first Boruvka forest —
    the primitive distributed MST is built from, because each round is
    one argmin aggregate per component and the component count at
    least halves (O(log V) rounds total).

    Plan: the non-self trade lanes (``_trade_lanes``); symmetrization
    is one LEAST/GREATEST groupBy; the per-node pick is a
    partial-aggregable argmin (min over a (w, u, v) ordering — same
    min-struct trick as the ngram draft argmax, no rank window needed at
    scale). At 100 TB, rounds iterate with a component-label frame."""
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    raw = _trade_lanes(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    und = raw.groupBy(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).agg(F.sum("w").alias("w"))
    incident = und.select(F.col("u").alias("node"), "u", "v", "w").unionByName(
        und.select(F.col("v").alias("node"), "u", "v", "w")
    )
    picked = incident.groupBy("node").agg(
        F.min(F.struct("w", "u", "v")).alias("best")
    )
    return (
        picked.join(F.broadcast(n), F.col("node") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("best.u").alias("edge_u"),
            F.col("best.v").alias("edge_v"),
            F.col("best.w").cast("bigint").alias("weight"),
        )
        .orderBy("nation")
    )
