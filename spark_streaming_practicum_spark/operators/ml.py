"""Distributed iterative ML on DataFrames: Lloyd's k-means over the
`embeddings` table, expressed as pure relational algebra (no MLlib, no
Python UDFs — the same design stance as the hand-built MinHash/LSH in
operators/dedup.py).

Each Lloyd iteration is two relational steps:
1. ASSIGN — broadcast the k centroids against the (large) vector table;
   argmin by squared L2 distance via a per-vector window. The big side
   never shuffles: assignment is a map-side broadcast join.
2. UPDATE — per-(cluster, dimension) mean via `posexplode` + hash agg,
   then re-assemble centroid arrays with an ordered collect. One
   shuffle keyed by (cluster, dim) — k*d cells, tiny at any corpus
   scale.

So a full iteration shuffles O(k*d) bytes, not O(n*d): exactly the
topology a 1000-executor k-means needs. Determinism for the oracle:
init centroids are vec_id 0..k-1, distance folds are sequential double
ops (bit-identical to DuckDB's `list_distance` on DOUBLE[]), dimension
means ride the DECIMAL(38,12) exact-sum policy (functions/aggs.py), and
argmin ties break on cluster id. The DuckDB oracle unrolls the same two
iterations as chained CTEs (the `graph_pagerank_trade` technique).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from ..sources.batch import local_frame
from ..functions.ranks import persisted as _persisted

_K = 4


def _sqdist(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance, sequential double fold (matches DuckDB's
    list_distance accumulation order, so rankings agree bit-for-bit)."""
    diff2 = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v)


def _assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast join + per-vector argmin.

    The argmin is a lexicographic MIN over (d2, cluster) structs — the
    same (distance, cluster-id) tie-break a rank window would apply,
    but as a partial-aggregable groupBy: the n*k candidate rows
    collapse MAP-SIDE (the broadcast crossJoin keeps all k rows of a
    vector in one partition), where the round-4 probe showed the
    previous per-vector rank window shuffling all n*k rows — the
    difference between O(n) and O(n*k) shuffle bytes once k scales
    with the corpus (semdedup's k = n/250)."""
    cand = vecs.crossJoin(F.broadcast(cents)).withColumn(
        "d2", _sqdist("embedding", "cemb")
    )
    return (
        cand.groupBy("vec_id")
        .agg(
            F.min(
                F.struct(F.col("d2"), F.col("cluster"), F.col("embedding").alias("e"))
            ).alias("best")
        )
        .select(
            "vec_id",
            F.col("best.e").alias("embedding"),
            F.col("best.cluster").alias("cluster"),
        )
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids: per-(cluster, dim) exact-decimal mean, re-assembled
    into ordered arrays."""
    cells = assigned.select(
        "cluster", F.posexplode("embedding").alias("pos", "v")
    ).groupBy("cluster", "pos").agg(
        (
            F.sum(F.col("v").cast("double").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    return cells.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
        ).alias("cemb")
    )


# DuckDB mirror of one iteration, parameterized by the centroid CTE name.
_ASSIGN_SQL = """
    {out} AS (
        SELECT vec_id, e, cluster FROM (
            SELECT v.vec_id, v.e, c.cluster,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_distance(v.e, c.cemb), c.cluster) AS rn
            FROM vecs v CROSS JOIN {cents} c)
        WHERE rn = 1
    )
"""
_UPDATE_SQL = """
    {out} AS (
        SELECT cluster, list(m ORDER BY pos) AS cemb FROM (
            SELECT cluster, pos,
                   CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
            FROM (SELECT cluster, unnest(e) AS v, generate_subscripts(e, 1) AS pos
                  FROM {assigned})
            GROUP BY cluster, pos)
        GROUP BY cluster
    )
"""


@query(
    "kmeans_lloyd_assignments",
    oracle=(
        """
    WITH vecs AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    cents0 AS (
        SELECT vec_id AS cluster, e AS cemb FROM vecs WHERE vec_id < 4
    ),
    """
        + _ASSIGN_SQL.format(out="assign0", cents="cents0")
        + ","
        + _UPDATE_SQL.format(out="cents1", assigned="assign0")
        + ","
        + _ASSIGN_SQL.format(out="assign1", cents="cents1")
        + """
    SELECT cluster, COUNT(*) AS n_members, MIN(vec_id) AS min_vec_id
    FROM assign1
    GROUP BY cluster
    """
    ),
)
def kmeans_lloyd_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means (k=4) over the 64-d embeddings,
    reported as per-cluster membership (count + min member id — integer
    outputs, so the oracle hash is float-free). Deterministic end to
    end; see module docstring for the scale topology."""
    vecs = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents0 = vecs.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cluster"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cemb"),
    )
    assign0 = _assign(vecs, cents0)
    cents1 = _update(assign0)
    assign1 = _assign(vecs, cents1)
    return assign1.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"), F.min("vec_id").alias("min_vec_id")
    )


@query(
    "embedding_covariance_topk",
    oracle="""
    WITH dims AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS i,
               unnest(embedding) AS v
        FROM embeddings),
    pairs AS (
        SELECT a.i AS dim_i, b.i AS dim_j, covar_pop(a.v, b.v) AS cov
        FROM dims a JOIN dims b
          ON a.vec_id = b.vec_id AND a.i < b.i
        GROUP BY a.i, b.i)
    SELECT CAST(dim_i - 1 AS INT) AS dim_i, CAST(dim_j - 1 AS INT) AS dim_j,
           ROUND(cov, 9) AS cov
    FROM pairs
    ORDER BY ABS(cov) DESC, dim_i ASC, dim_j ASC
    LIMIT 15
    """,
)
def embedding_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 most-covarying embedding-dimension pairs via a partitioned
    Gram matrix — the treeAggregate pattern that PCA/whitening at 100 TB
    is built on.

    Each Arrow batch is reduced IN PYTHON to a single d x d partial
    (X^T X, column sums, count) with one numpy matmul — so the shuffle
    carries O(partitions * d^2) tiny rows instead of O(n * d^2): the
    per-row pair explode a pure-SQL formulation needs (and the oracle
    uses) would be 4096 cells per vector. Partials combine
    associatively in a JVM hash aggregate; covariance is then
    Sxy/n - mean_i * mean_j on d^2/2 rows. This is the one family where
    mapInPandas BEATS built-in operators, because the reduction inside
    the batch is a BLAS call."""
    import pandas as pd  # noqa: F401  (pandas ships with the pyspark env)

    e = table(spark, sf_dir, "embeddings").select("embedding")

    def gram_partials(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            g = x.T @ x
            s = x.sum(axis=0)
            n = float(len(pdf))
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "sxy": g[iu, ju],
                    "sx": s[iu],
                    "sy": s[ju],
                    "n": np.full(len(iu), n),
                }
            )

    partials = e.mapInPandas(
        gram_partials, schema="i int, j int, sxy double, sx double, sy double, n double"
    )
    tot = partials.groupBy("i", "j").agg(
        F.sum("sxy").alias("sxy"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("n").alias("n"),
    )
    cov = tot.filter(F.col("i") < F.col("j")).select(
        F.col("i").alias("dim_i"),
        F.col("j").alias("dim_j"),
        F.round(
            F.col("sxy") / F.col("n")
            - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n")),
            9,
        ).alias("cov"),
    )
    return cov.orderBy(
        F.abs(F.col("cov")).desc(), F.col("dim_i").asc(), F.col("dim_j").asc()
    ).limit(15)


# --- PCA: top principal component via power iteration ------------------------

_PI_D = 64
_PI_ITERS = 3
_PI_V0 = 0.125  # 1/sqrt(64): uniform unit start vector


def _pi_oracle() -> str:
    """Unrolled power iteration as chained CTEs (the pagerank/k-means
    oracle technique): covariance from the per-dimension explode, then
    ITERS matrix-vector products each followed by L2 normalization."""
    ctes = [
        """dims AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS v
        FROM embeddings)""",
        """cov AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j, covar_pop(a.v, b.v) AS c
        FROM dims a JOIN dims b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i)""",
        f"v0 AS (SELECT DISTINCT i AS j, {_PI_V0} AS vj FROM dims)",
    ]
    for t in range(1, _PI_ITERS + 1):
        ctes.append(
            f"""u{t} AS MATERIALIZED (
        SELECT cov.i, SUM(cov.c * v{t-1}.vj) AS u
        FROM cov JOIN v{t-1} ON cov.j = v{t-1}.j
        GROUP BY cov.i)"""
        )
        ctes.append(
            f"""v{t} AS MATERIALIZED (
        SELECT i AS j, u / SQRT(SUM(u * u) OVER ()) AS vj FROM u{t})"""
        )
    last = f"v{_PI_ITERS}"
    return f"""
    WITH {",".join(ctes)},
    signed AS (
        SELECT j, vj,
               FIRST_VALUE(CASE WHEN vj >= 0 THEN 1 ELSE -1 END)
                   OVER (ORDER BY ABS(vj) DESC, j) AS s
        FROM {last})
    SELECT CAST(j - 1 AS INT) AS dim, ROUND(vj * s, 5) AS weight
    FROM signed ORDER BY dim
    """


@query("pca_power_iteration_top_pc", oracle=_pi_oracle())
def pca_power_iteration_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding covariance via 3 power
    iterations — PCA/whitening's first step, fully relational.

    Scale split: the ONLY corpus-sized work is the covariance build,
    which reuses the Gram-partial mapInPandas reduction from
    embedding_covariance_topk (one numpy X^T X per Arrow batch; the
    shuffle carries O(partitions * d^2) partials, never O(n * d^2)
    exploded cells). Every subsequent step — the d^2-row matrix-vector
    products, the d-row normalizations — is constant-size regardless of
    corpus, so iterations add zero corpus scans. The cov matrix is
    persisted across the 3 iterations.

    Determinism: fixed uniform start vector, fixed iteration count
    (convergence is irrelevant to parity — both engines take the same 3
    steps), sign fixed by making the largest-|weight| component
    positive, output rounded to 5 dp (double-precision covariance
    discrepancies between numpy GEMM and DuckDB covar_pop sit ~1e-12)."""
    import pandas as pd

    e = table(spark, sf_dir, "embeddings").select("embedding")

    def gram_partials(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            g = x.T @ x
            s = x.sum(axis=0)
            n = float(len(pdf))
            iu, ju = np.triu_indices(g.shape[0])
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "sxy": g[iu, ju],
                    "sx": s[iu],
                    "sy": s[ju],
                    "n": np.full(len(iu), n),
                }
            )

    tot = (
        e.mapInPandas(
            gram_partials,
            schema="i int, j int, sxy double, sx double, sy double, n double",
        )
        .groupBy("i", "j")
        .agg(
            F.sum("sxy").alias("sxy"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum("n").alias("n"),
        )
        # cache BEFORE the symmetric mirror: the union below references
        # this lineage twice, and the 3 iterations re-join it — with the
        # cache boundary here the corpus parquet is scanned exactly once
        .transform(_persisted)
    )
    c = (
        F.col("sxy") / F.col("n")
        - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n"))
    ).alias("c")
    upper = tot.select("i", "j", c)
    # mirror the strict upper triangle; diagonal appears exactly once
    cov = upper.unionByName(
        upper.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "c"
        )
    )

    v = local_frame(
        spark, [(j, _PI_V0) for j in range(_PI_D)], "j int, vj double"
    )
    wall = Window.partitionBy()
    for _ in range(_PI_ITERS):
        u = (
            cov.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("vj")).alias("u"))
        )
        v = u.select(
            F.col("i").alias("j"),
            (F.col("u") / F.sqrt(F.sum(F.col("u") * F.col("u")).over(wall))).alias(
                "vj"
            ),
        )
    sign = F.first(
        F.when(F.col("vj") >= 0, F.lit(1)).otherwise(F.lit(-1))
    ).over(Window.partitionBy().orderBy(F.abs(F.col("vj")).desc(), F.col("j")))
    return (
        v.withColumn("s", sign)
        .select(
            F.col("j").cast("int").alias("dim"),
            F.round(F.col("vj") * F.col("s"), 5).alias("weight"),
        )
        .orderBy("dim")
    )


# --- logistic regression: full-batch gradient descent ------------------------

# shared CTE chain: features -> 2 unrolled GD steps -> per-row score
_LOGREG_CTES = """
    WITH f AS (
        SELECT l_quantity / 50.0 AS x1, l_discount * 10.0 AS x2, 1.0 AS x3,
               CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
        FROM lineitem),
    g1 AS (SELECT AVG((0.5 - y) * x1) AS g1, AVG((0.5 - y) * x2) AS g2,
                  AVG((0.5 - y) * x3) AS g3 FROM f),
    w1 AS (SELECT -g1 AS a, -g2 AS b, -g3 AS c FROM g1),
    gs2 AS (
        SELECT AVG((1 / (1 + EXP(-(w1.a * x1 + w1.b * x2 + w1.c * x3))) - y) * x1) AS g1,
               AVG((1 / (1 + EXP(-(w1.a * x1 + w1.b * x2 + w1.c * x3))) - y) * x2) AS g2,
               AVG((1 / (1 + EXP(-(w1.a * x1 + w1.b * x2 + w1.c * x3))) - y) * x3) AS g3
        FROM f, w1),
    w2 AS (SELECT w1.a - gs2.g1 AS a, w1.b - gs2.g2 AS b, w1.c - gs2.g3 AS c
           FROM w1, gs2),
    scored AS (
        SELECT y, 1 / (1 + EXP(-(w2.a * x1 + w2.b * x2 + w2.c * x3))) AS p,
               w2.a, w2.b, w2.c
        FROM f, w2)
"""


def _logreg_margin(a, b, c):
    return a * F.col("x1") + b * F.col("x2") + c * F.col("x3")


def _logreg_sigmoid(z):
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def _logreg_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(y, p, a, b, c) per training row after two broadcast-GD steps —
    the Spark mirror of the ``scored`` CTE above. The feature frame is
    persisted (the two gradient passes + the caller's eval pass reuse
    it); weight vectors flow as broadcast one-row joins, never a
    collect."""
    li = table(spark, sf_dir, "lineitem")
    f = li.select(
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        F.lit(1.0).alias("x3"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"),
    ).transform(_persisted)

    # step 1: w = 0 -> sigmoid(0) = 0.5 exactly; gradient is avg((0.5-y)*x)
    r = F.lit(0.5) - F.col("y")
    w1 = f.agg(
        (-F.avg(r * F.col("x1"))).alias("a"),
        (-F.avg(r * F.col("x2"))).alias("b"),
        (-F.avg(r * F.col("x3"))).alias("c"),
    )
    # step 2: broadcast the 1-row weight vector, one aggregate for the gradient
    p1 = _logreg_sigmoid(_logreg_margin(F.col("a"), F.col("b"), F.col("c")))
    g2 = (
        f.crossJoin(F.broadcast(w1))
        .agg(
            F.avg((p1 - F.col("y")) * F.col("x1")).alias("g1"),
            F.avg((p1 - F.col("y")) * F.col("x2")).alias("g2"),
            F.avg((p1 - F.col("y")) * F.col("x3")).alias("g3"),
            F.first("a").alias("a"),
            F.first("b").alias("b"),
            F.first("c").alias("c"),
        )
    )
    w2 = g2.select(
        (F.col("a") - F.col("g1")).alias("a"),
        (F.col("b") - F.col("g2")).alias("b"),
        (F.col("c") - F.col("g3")).alias("c"),
    )
    p2 = _logreg_sigmoid(_logreg_margin(F.col("a"), F.col("b"), F.col("c")))
    return f.crossJoin(F.broadcast(w2)).select(
        "y", p2.alias("p"), "a", "b", "c"
    )


@query(
    "logreg_gd_two_steps",
    oracle=_LOGREG_CTES
    + """
    SELECT ROUND(a, 6) AS w_quantity, ROUND(b, 6) AS w_discount,
           ROUND(c, 6) AS w_bias,
           ROUND(-AVG(y * LN(p) + (1 - y) * LN(1 - p)), 6) AS log_loss,
           ROUND(AVG(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1.0 ELSE 0.0 END), 6)
               AS accuracy
    FROM scored GROUP BY a, b, c
    """,
)
def logreg_gd_two_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full-batch gradient-descent steps of logistic regression
    (predict l_returnflag = 'R' from quantity/discount), pure DataFrame.

    The distributed-training shape without any ML runtime: each GD step
    is ONE aggregate over the feature scan producing a d-row gradient
    (map-side partial sums; the shuffle carries d values per partition),
    and the updated weight vector re-enters the next step as a broadcast
    one-row build side — never a collect, never a driver round-trip, so
    the whole 2-step + eval pipeline is a single lazy plan. At 100 TB
    per step reads the corpus once; d stays constant.

    Determinism: fixed start w=0 (first gradient closed-form in 0.5-y),
    lr=1.0, fixed two steps; sigmoid/log arithmetic is double in both
    engines, averages divide like-ordered sums over identical row sets,
    and outputs round to 6 dp (accumulated libm/sum-order noise sits
    ~1e-11)."""
    scored = _logreg_scored(spark, sf_dir)
    correct = (F.col("p") >= 0.5) == (F.col("y") == 1.0)
    return (
        scored.groupBy("a", "b", "c")
        .agg(
            F.round(
                -F.avg(
                    F.col("y") * F.log("p")
                    + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - F.col("p"))
                ),
                6,
            ).alias("log_loss"),
            F.round(
                F.avg(F.when(correct, 1.0).otherwise(0.0)), 6
            ).alias("accuracy"),
        )
        .select(
            F.round("a", 6).alias("w_quantity"),
            F.round("b", 6).alias("w_discount"),
            F.round("c", 6).alias("w_bias"),
            "log_loss",
            "accuracy",
        )
    )


@query(
    "logreg_calibration_bins",
    oracle=_LOGREG_CTES
    + """
    SELECT CAST(FLOOR(p * 20) AS BIGINT) AS bin_id,
           COUNT(*) AS n,
           ROUND(AVG(p), 6) AS mean_predicted,
           ROUND(AVG(y), 6) AS frac_positive
    FROM scored
    GROUP BY bin_id
    ORDER BY bin_id
    """,
)
def logreg_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the trained model: predicted-probability
    ventiles vs observed positive rate.

    The standard post-training calibration audit, sharing the whole GD
    pipeline with logreg_gd_two_steps — one extra hash aggregate over
    the scored rows (20 output bins), nothing corpus-sized beyond the
    feature scan. Bin edges are FLOOR(p * 20): predicted probabilities
    sit well inside bins (p is a smooth function of two bounded
    features), so 1-ulp engine noise cannot cross an edge."""
    scored = _logreg_scored(spark, sf_dir)
    return (
        scored.groupBy(
            F.floor(F.col("p") * 20).cast("bigint").alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("p"), 6).alias("mean_predicted"),
            F.round(F.avg("y"), 6).alias("frac_positive"),
        )
        .orderBy("bin_id")
    )


# --- decision stump -------------------------------------------------------

_STUMP_QS = [i / 10 for i in range(1, 10)]


def _ent_sql(p: str, n: str) -> str:
    """SQL entropy H(p/n) in bits, 0-guarded; identical text both engines."""
    return (
        f"(CASE WHEN {p} > 0 AND {p} < {n} THEN "
        f"-(({p}/{n}) * LOG2({p}/{n}) + (({n}-{p})/{n}) * LOG2(({n}-{p})/{n})) "
        f"ELSE 0.0 END)"
    )


def _stump_oracle() -> str:
    qs = ", ".join(str(q) for q in _STUMP_QS)
    h_root = _ent_sql("tot.tpos", "tot.tn")
    h_left = _ent_sql("l.lpos", "l.ln")
    h_right = _ent_sql("(tot.tpos - l.lpos)", "(tot.tn - l.ln)")
    return f"""
    WITH e AS (
        SELECT event_id, value,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events),
    thr AS (
        SELECT g.i, q.q[g.i] AS t
        FROM (SELECT quantile_cont(value, [{qs}]) AS q FROM e) q,
             unnest(generate_series(1, 9)) AS g(i)),
    binned AS (
        SELECT ev.event_id, ev.pos,
               COUNT(CASE WHEN ev.value > thr.t THEN 1 END) AS bin
        FROM e ev CROSS JOIN thr GROUP BY ev.event_id, ev.pos),
    bins AS (
        SELECT bin, CAST(SUM(pos) AS DOUBLE) AS bpos,
               CAST(COUNT(*) AS DOUBLE) AS bn
        FROM binned GROUP BY bin),
    cum AS (
        SELECT bin,
               SUM(bpos) OVER (ORDER BY bin) AS cpos,
               SUM(bn) OVER (ORDER BY bin) AS cn
        FROM bins),
    tot AS (
        SELECT CAST(SUM(pos) AS DOUBLE) AS tpos, CAST(COUNT(*) AS DOUBLE) AS tn
        FROM e),
    lefts AS (
        SELECT t.i, t.t, MAX(c.cpos) AS lpos, MAX(c.cn) AS ln
        FROM thr t JOIN cum c ON c.bin <= t.i - 1
        GROUP BY t.i, t.t)
    SELECT l.i AS thr_idx,
           ROUND(l.t, 6) AS thr,
           CAST(l.ln AS BIGINT) AS n_left,
           CAST(tot.tn - l.ln AS BIGINT) AS n_right,
           ROUND({h_root}
                 - ((l.ln / tot.tn) * {h_left}
                    + ((tot.tn - l.ln) / tot.tn) * {h_right}), 6) AS gain
    FROM lefts l, tot
    ORDER BY thr_idx
    """


def _ent_col(p: Column, n: Column) -> Column:
    """Spark entropy H(p/n) in bits — same expression tree as _ent_sql."""
    return F.when(
        (p > 0) & (p < n),
        -((p / n) * F.log2(p / n) + ((n - p) / n) * F.log2((n - p) / n)),
    ).otherwise(F.lit(0.0))


@query("decision_stump_info_gain", oracle=_stump_oracle())
def decision_stump_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump learning by information gain: evaluate the nine
    decile thresholds of `events.value` as candidate splits for
    predicting `event_type = 'purchase'` and report each split's gain —
    the inner loop of tree/GBDT training, done relationally (this IS how
    distributed GBDT frameworks build histograms: bin, then sweep
    cumulative bin statistics).

    Plan: ONE pass bins every row against the 9 broadcast thresholds
    (the thresholds are a bounded 1-row collect, the same pattern as the
    IVF training sample), a 10-row bin aggregate, then every candidate
    split's left/right class counts come from cumulative sums over that
    10-row frame — the data is never rescanned per threshold. At 100 TB
    the histogram shrinks identically (bins x classes, not rows)."""
    e = table(spark, sf_dir, "events").select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    thrs = e.agg(
        F.percentile("value", F.lit(_STUMP_QS)).alias("qs")
    ).collect()[0]["qs"]  # bounded: 9 doubles
    bin_col = sum(
        (F.when(F.col("value") > F.lit(t), 1).otherwise(0) for t in thrs),
        F.lit(0),
    )
    bins = e.groupBy(bin_col.alias("bin")).agg(
        F.sum("pos").cast("double").alias("bpos"),
        F.count("*").cast("double").alias("bn"),
    )
    wcum = Window.partitionBy().orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.select(
        "bin",
        F.sum("bpos").over(wcum).alias("cpos"),
        F.sum("bn").over(wcum).alias("cn"),
    )
    thr_df = local_frame(
        spark, [(i + 1, float(t)) for i, t in enumerate(thrs)], "i int, t double"
    )
    lefts = (
        thr_df.join(F.broadcast(cum), cum.bin <= thr_df.i - 1)
        .groupBy("i", "t")
        .agg(F.max("cpos").alias("lpos"), F.max("cn").alias("ln"))
    )
    tot = e.agg(
        F.sum("pos").cast("double").alias("tpos"),
        F.count("*").cast("double").alias("tn"),
    )
    lpos, ln = F.col("lpos"), F.col("ln")
    tpos, tn = F.col("tpos"), F.col("tn")
    gain = _ent_col(tpos, tn) - (
        (ln / tn) * _ent_col(lpos, ln)
        + ((tn - ln) / tn) * _ent_col(tpos - lpos, tn - ln)
    )
    return (
        lefts.crossJoin(F.broadcast(tot))
        .select(
            F.col("i").alias("thr_idx"),
            F.round("t", 6).alias("thr"),
            ln.cast("bigint").alias("n_left"),
            (tn - ln).cast("bigint").alias("n_right"),
            F.round(gain, 6).alias("gain"),
        )
        .orderBy("thr_idx")
    )


# --- product quantization -------------------------------------------------

_PQ_M = 4        # subspaces
_PQ_SUBDIM = 16  # dims per subspace (4 x 16 = the 64-d embedding)
_PQ_K = 4        # codes per subspace -> 4 bytes/vector at full size

_PQ_ASSIGN_SQL = """
    {out} AS (
        SELECT vec_id, subspace, sv, code, cv FROM (
            SELECT v.vec_id, v.subspace, v.sv, c.code, c.cv,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id, v.subspace
                       ORDER BY list_distance(v.sv, c.cv), c.code) AS rn
            FROM sub v JOIN {cents} c ON c.subspace = v.subspace)
        WHERE rn = 1
    )
"""


def _pq_oracle() -> str:
    return (
        f"""
    WITH vecs AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sub AS (
        SELECT vec_id, s.s AS subspace,
               e[s.s * {_PQ_SUBDIM} + 1 : s.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS sv
        FROM vecs, unnest(generate_series(0, {_PQ_M - 1})) AS s(s)),
    cents0 AS (
        SELECT subspace, vec_id AS code, sv AS cv FROM sub WHERE vec_id < {_PQ_K}),
    """
        + _PQ_ASSIGN_SQL.format(out="assign0", cents="cents0")
        + """,
    cents1 AS (
        SELECT subspace, code, list(m ORDER BY pos) AS cv FROM (
            SELECT subspace, code, pos,
                   CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
            FROM (SELECT subspace, code, unnest(sv) AS v,
                         generate_subscripts(sv, 1) AS pos
                  FROM assign0)
            GROUP BY subspace, code, pos)
        GROUP BY subspace, code),
    """
        + _PQ_ASSIGN_SQL.format(out="assign1", cents="cents1")
        + """,
    err AS (
        SELECT subspace, code,
               CAST(SUM(CAST((x - y) * (x - y) AS DECIMAL(38,12))) AS DOUBLE)
                   AS sum_err
        FROM (SELECT subspace, code, unnest(sv) AS x, unnest(cv) AS y
              FROM assign1)
        GROUP BY subspace, code),
    cnts AS (
        SELECT subspace, code, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
        FROM assign1 GROUP BY subspace, code)
    SELECT c.subspace, c.code, c.n_vecs, c.min_vec_id,
           ROUND(e.sum_err / c.n_vecs, 6) AS avg_sq_error
    FROM cnts c JOIN err e USING (subspace, code)
    ORDER BY c.subspace, c.code
    """
    )


def _pq_assign(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-subspace nearest-code assignment; centroids (m*k rows) broadcast."""
    cand = sub.join(F.broadcast(cents), "subspace").withColumn(
        "d2", _sqdist("sv", "cv")
    )
    w = Window.partitionBy("vec_id", "subspace").orderBy("d2", "code")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "subspace", "sv", "code", "cv")
    )


@query("embedding_pq_codebook", oracle=_pq_oracle())
def embedding_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training (Jégou et al., the
    standard billion-scale ANN compression): split each 64-d embedding
    into 4 subspaces of 16 dims, train an independent k=4 codebook per
    subspace (deterministic init from the first k vectors + one Lloyd
    step), and report per-(subspace, code) cell occupancy and average
    squared reconstruction error. A full PQ index stores only the
    4-byte code word per vector — 64x smaller than the float vector —
    and `sim_ann_ivf` composes with it as IVF-PQ.

    Plan: the subspace explode is a constant 4x on the scan; every
    centroid set is m*k = 16 rows riding broadcasts; argmin is a
    per-(vector, subspace) window; means and error sums go through
    DECIMAL so accumulation order cannot perturb the oracle. Shuffles
    carry O(m*k*subdim) rows — nothing scales with the corpus but the
    initial scan and per-row window."""
    emb = F.transform("embedding", lambda x: x.cast("double"))
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("subspace"),
                F.slice(emb, s * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sv"),
            )
            for s in range(_PQ_M)
        ]
    )
    sub = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", F.explode(subs).alias("t"))
        .select("vec_id", "t.subspace", "t.sv")
    )
    cents0 = sub.filter(F.col("vec_id") < _PQ_K).select(
        "subspace", F.col("vec_id").alias("code"), F.col("sv").alias("cv")
    )
    assign0 = _pq_assign(sub, cents0)
    cells = (
        assign0.select("subspace", "code", F.posexplode("sv").alias("pos", "v"))
        .groupBy("subspace", "code", "pos")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
    )
    cents1 = cells.groupBy("subspace", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
        ).alias("cv")
    )
    assign1 = _pq_assign(sub, cents1)
    err = (
        assign1.select(
            "subspace",
            "code",
            F.explode(F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y))).alias(
                "d"
            ),
        )
        .groupBy("subspace", "code")
        .agg(F.sum(F.col("d").cast("decimal(38,12)")).cast("double").alias("sum_err"))
    )
    cnts = assign1.groupBy("subspace", "code").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.min("vec_id").cast("bigint").alias("min_vec_id"),
    )
    return (
        cnts.join(err, ["subspace", "code"])
        .select(
            "subspace",
            "code",
            "n_vecs",
            "min_vec_id",
            F.round(F.col("sum_err") / F.col("n_vecs"), 6).alias("avg_sq_error"),
        )
        .orderBy("subspace", "code")
    )


# --- precision-recall curve -----------------------------------------------

_PR_BINS = 20  # ventile-width score bins -> thresholds i/20, i=1..19


@query(
    "eval_pr_curve_points",
    oracle=_LOGREG_CTES
    + f"""
    , bins AS (
        SELECT LEAST(CAST(FLOOR(p * {_PR_BINS}) AS BIGINT), {_PR_BINS - 1}) AS bin,
               CAST(SUM(y) AS DOUBLE) AS pos,
               CAST(COUNT(*) AS DOUBLE) AS tot
        FROM scored GROUP BY 1),
    cum AS (
        SELECT bin,
               SUM(pos) OVER (ORDER BY bin DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cpos,
               SUM(tot) OVER (ORDER BY bin DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS ctot
        FROM bins),
    total AS (SELECT CAST(SUM(y) AS DOUBLE) AS allpos FROM scored),
    thr AS (SELECT g.i FROM unnest(generate_series(1, {_PR_BINS - 1})) AS g(i)),
    pts AS (
        SELECT t.i, MAX(c.cpos) AS cpos, MAX(c.ctot) AS ctot
        FROM thr t JOIN cum c ON c.bin >= t.i
        GROUP BY t.i)
    SELECT ROUND(p.i * 1.0 / {_PR_BINS}, 6) AS threshold,
           CAST(p.ctot AS BIGINT) AS n_predicted_pos,
           ROUND(p.cpos / p.ctot, 6) AS precision,
           ROUND(p.cpos / tt.allpos, 6) AS recall
    FROM pts p, total tt
    WHERE p.ctot > 0
    ORDER BY threshold
    """,
)
def eval_pr_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve for the trained logistic model at the 19
    ventile thresholds — the operating-characteristic sweep you read
    before picking a deployment threshold, computed WITHOUT re-scanning
    per threshold: scores bin once into 20 ventile-width buckets and
    every threshold's (TP, predicted-positive) pair is a cumulative sum
    over that 20-row frame read from the top bin down — the same
    histogram-sweep trick as `decision_stump_info_gain`.

    Counts are integers in doubles; precision/recall are exact
    rationals of those counts; thresholds are literals — nothing
    engine-dependent survives to the 6-dp round."""
    scored = _logreg_scored(spark, sf_dir)
    bins = (
        scored.select(
            F.least(
                F.floor(F.col("p") * _PR_BINS).cast("bigint"),
                F.lit(_PR_BINS - 1),
            ).alias("bin"),
            "y",
        )
        .groupBy("bin")
        .agg(
            F.sum("y").cast("double").alias("pos"),
            F.count(F.lit(1)).cast("double").alias("tot"),
        )
    )
    wdesc = Window.partitionBy().orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.select(
        "bin",
        F.sum("pos").over(wdesc).alias("cpos"),
        F.sum("tot").over(wdesc).alias("ctot"),
    )
    total = scored.agg(F.sum("y").cast("double").alias("allpos"))
    thr = spark.range(1, _PR_BINS).select(F.col("id").alias("i"))
    pts = (
        thr.join(F.broadcast(cum), cum.bin >= thr.i)
        .groupBy("i")
        .agg(F.max("cpos").alias("cpos"), F.max("ctot").alias("ctot"))
    )
    return (
        pts.crossJoin(F.broadcast(total))
        .filter(F.col("ctot") > 0)
        .select(
            F.round(F.col("i") * 1.0 / _PR_BINS, 6).alias("threshold"),
            F.col("ctot").cast("bigint").alias("n_predicted_pos"),
            F.round(F.col("cpos") / F.col("ctot"), 6).alias("precision"),
            F.round(F.col("cpos") / F.col("allpos"), 6).alias("recall"),
        )
        .orderBy("threshold")
    )


@query(
    "eval_brier_decomposition",
    oracle=_LOGREG_CTES
    + f"""
    , binned AS (
        SELECT LEAST(CAST(FLOOR(p * {_PR_BINS}) AS BIGINT), {_PR_BINS - 1}) AS bin,
               y, p
        FROM scored),
    per_bin AS (
        SELECT bin, CAST(COUNT(*) AS DOUBLE) AS nk,
               CAST(SUM(CAST(p AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS fk,
               CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS ok
        FROM binned GROUP BY bin),
    gstats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS obar,
               CAST(SUM(CAST((p - y) * (p - y) AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*) AS brier
        FROM binned)
    SELECT CAST(g.n AS BIGINT) AS n,
           ROUND(g.brier, 6) AS brier,
           ROUND(CAST(SUM(CAST(b.nk * (b.fk - b.ok) * (b.fk - b.ok)
                               AS DECIMAL(38,12))) AS DOUBLE) / g.n, 6)
               AS reliability,
           ROUND(CAST(SUM(CAST(b.nk * (b.ok - g.obar) * (b.ok - g.obar)
                               AS DECIMAL(38,12))) AS DOUBLE) / g.n, 6)
               AS resolution,
           ROUND(g.obar * (1 - g.obar), 6) AS uncertainty
    FROM per_bin b, gstats g
    GROUP BY g.n, g.brier, g.obar
    """,
)
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy decomposition for the trained
    logistic model: reliability (calibration error), resolution (how
    much the forecasts separate outcomes), and uncertainty (base-rate
    variance) over the same 20 ventile bins as `logreg_calibration_bins`
    — Brier ≈ reliability − resolution + uncertainty, the proper-score
    view of WHY a probabilistic model is good or bad, not just how good.

    One pass bins every scored row; per-bin forecast/outcome means and
    all three decomposition terms accumulate in DECIMAL over the 20-row
    frame, so the report is bit-identical across engines."""
    scored = _logreg_scored(spark, sf_dir)
    binned = scored.select(
        F.least(
            F.floor(F.col("p") * _PR_BINS).cast("bigint"), F.lit(_PR_BINS - 1)
        ).alias("bin"),
        "y",
        "p",
    )

    def dsum12(col):
        return F.sum(col.cast("decimal(38,12)")).cast("double")

    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("nk"),
        (dsum12(F.col("p")) / F.count("*")).alias("fk"),
        (dsum12(F.col("y")) / F.count("*")).alias("ok"),
    )
    glob = binned.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (dsum12(F.col("y")) / F.count("*")).alias("obar"),
        (
            dsum12((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")))
            / F.count("*")
        ).alias("brier"),
    )
    return (
        per_bin.crossJoin(F.broadcast(glob))
        .groupBy("n", "brier", "obar")
        .agg(
            F.round(
                dsum12(
                    F.col("nk")
                    * (F.col("fk") - F.col("ok"))
                    * (F.col("fk") - F.col("ok"))
                )
                / F.max("n"),
                6,
            ).alias("reliability"),
            F.round(
                dsum12(
                    F.col("nk")
                    * (F.col("ok") - F.col("obar"))
                    * (F.col("ok") - F.col("obar"))
                )
                / F.max("n"),
                6,
            ).alias("resolution"),
        )
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.round("brier", 6).alias("brier"),
            "reliability",
            "resolution",
            F.round(F.col("obar") * (1 - F.col("obar")), 6).alias("uncertainty"),
        )
    )


@query(
    "conformal_prediction_interval",
    oracle="""
    WITH base AS (
        SELECT l_orderkey, CAST(l_quantity AS DOUBLE) AS x,
               CAST(l_extendedprice AS DOUBLE) AS y
        FROM lineitem),
    train AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        FROM base WHERE l_orderkey % 2 = 0),
    fit AS (
        SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS icept
        FROM train),
    calib AS (
        SELECT quantile_cont(ABS(b.y - (f.slope * b.x + f.icept)), 0.9) AS q,
               COUNT(*) AS n_calib
        FROM base b, fit f WHERE b.l_orderkey % 4 = 1),
    ev AS (
        SELECT COUNT(*) AS n_eval,
               CAST(SUM(CASE WHEN ABS(b.y - (f.slope * b.x + f.icept)) <= c.q
                             THEN 1 ELSE 0 END) AS DOUBLE) AS covered
        FROM base b, fit f, calib c WHERE b.l_orderkey % 4 = 3)
    SELECT CAST(c.n_calib AS BIGINT) AS n_calib,
           CAST(e.n_eval AS BIGINT) AS n_eval,
           ROUND(c.q, 6) AS interval_halfwidth,
           ROUND(e.covered / e.n_eval, 6) AS coverage
    FROM calib c, ev e
    """,
)
def conformal_prediction_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the price~quantity
    regression: fit on the train split, take the 90th percentile of
    absolute residuals on a held-out CALIBRATION split as the interval
    half-width, and report empirical coverage on a disjoint eval split
    — the distribution-free uncertainty wrapper (Vovk; split-conformal
    per Lei et al.) that turns any point model into calibrated
    intervals, with coverage ≈ 0.9 by construction.

    Every stage is one aggregate over a hash-keyed split: OLS moments
    and the fit are DECIMAL-exact, the residual quantile is the exact
    interpolated percentile, and the 1-row fit/width frames ride
    broadcasts into the coverage scan."""
    base = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )

    def dsum6(col):
        return F.sum(col.cast("decimal(38,6)")).cast("double")

    train = base.filter(F.col("l_orderkey") % 2 == 0).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum6(F.col("x")).alias("sx"),
        dsum6(F.col("y")).alias("sy"),
        dsum6(F.col("x") * F.col("y")).alias("sxy"),
        dsum6(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = train.select(
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("icept"),
    )
    resid = F.abs(F.col("y") - (F.col("slope") * F.col("x") + F.col("icept")))
    calib = (
        base.filter(F.col("l_orderkey") % 4 == 1)
        .crossJoin(F.broadcast(fit))
        .agg(
            F.percentile(resid, F.lit(0.9)).alias("q"),
            F.count(F.lit(1)).cast("bigint").alias("n_calib"),
        )
    )
    ev = (
        base.filter(F.col("l_orderkey") % 4 == 3)
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(calib.select("q")))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum(F.when(resid <= F.col("q"), 1).otherwise(0))
            .cast("double")
            .alias("covered"),
        )
    )
    return (
        calib.select("n_calib", "q")
        .crossJoin(F.broadcast(ev))
        .select(
            "n_calib",
            "n_eval",
            F.round("q", 6).alias("interval_halfwidth"),
            F.round(F.col("covered") / F.col("n_eval"), 6).alias("coverage"),
        )
    )


@query(
    "explain_shapley_global_importance",
    oracle=_LOGREG_CTES
    + """
    , means AS (
        SELECT CAST(SUM(CAST(x1 AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m1,
               CAST(SUM(CAST(x2 AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m2
        FROM f),
    shap AS (
        SELECT
            0.5 * ((1 / (1 + EXP(-(w2.a * f.x1 + w2.b * m.m2 + w2.c)))
                    - 1 / (1 + EXP(-(w2.a * m.m1 + w2.b * m.m2 + w2.c))))
                 + (1 / (1 + EXP(-(w2.a * f.x1 + w2.b * f.x2 + w2.c)))
                    - 1 / (1 + EXP(-(w2.a * m.m1 + w2.b * f.x2 + w2.c)))))
                AS phi1,
            0.5 * ((1 / (1 + EXP(-(w2.a * m.m1 + w2.b * f.x2 + w2.c)))
                    - 1 / (1 + EXP(-(w2.a * m.m1 + w2.b * m.m2 + w2.c))))
                 + (1 / (1 + EXP(-(w2.a * f.x1 + w2.b * f.x2 + w2.c)))
                    - 1 / (1 + EXP(-(w2.a * f.x1 + w2.b * m.m2 + w2.c)))))
                AS phi2
        FROM f, w2, means m)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ABS(phi1) AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_abs_shap_quantity,
           ROUND(CAST(SUM(CAST(ABS(phi2) AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_abs_shap_discount,
           ROUND(CAST(SUM(CAST(phi1 AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_shap_quantity,
           ROUND(CAST(SUM(CAST(phi2 AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_shap_discount
    FROM shap
    """,
)
def explain_shapley_global_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley feature attributions for the trained 2-feature
    logistic model, aggregated into global importance (mean |φ| per
    feature): with two features the Shapley value needs only the four
    coalition predictions — absent features imputed at the training
    mean — so no sampling approximation is involved. The model-
    explainability report (SHAP summary numbers) every governed model
    ships with.

    One pass evaluates all four sigmoids per row (weights and feature
    means ride 1-row broadcasts); attribution sums accumulate in
    DECIMAL. Exhaustive-coalition Shapley is exponential in features —
    exactly why this exact form is reserved for small feature sets and
    the hashed-feature models use other diagnostics."""
    scored = _logreg_scored(spark, sf_dir)  # brings (a, b, c) per row
    li = table(spark, sf_dir, "lineitem")
    f = li.select(
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
    )

    def dsum12(col):
        return F.sum(col.cast("decimal(38,12)")).cast("double")

    means = f.agg(
        (dsum12(F.col("x1")) / F.count("*")).alias("m1"),
        (dsum12(F.col("x2")) / F.count("*")).alias("m2"),
    )
    w = scored.select("a", "b", "c").limit(1)

    def sig(z1, z2):
        return F.lit(1.0) / (
            F.lit(1.0)
            + F.exp(-(F.col("a") * z1 + F.col("b") * z2 + F.col("c")))
        )

    joined = f.crossJoin(F.broadcast(w)).crossJoin(F.broadcast(means))
    phi1 = 0.5 * (
        (sig(F.col("x1"), F.col("m2")) - sig(F.col("m1"), F.col("m2")))
        + (sig(F.col("x1"), F.col("x2")) - sig(F.col("m1"), F.col("x2")))
    )
    phi2 = 0.5 * (
        (sig(F.col("m1"), F.col("x2")) - sig(F.col("m1"), F.col("m2")))
        + (sig(F.col("x1"), F.col("x2")) - sig(F.col("x1"), F.col("m2")))
    )
    shap = joined.select(phi1.alias("phi1"), phi2.alias("phi2"))
    return shap.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(dsum12(F.abs(F.col("phi1"))) / F.count("*"), 6).alias(
            "mean_abs_shap_quantity"
        ),
        F.round(dsum12(F.abs(F.col("phi2"))) / F.count("*"), 6).alias(
            "mean_abs_shap_discount"
        ),
        F.round(dsum12(F.col("phi1")) / F.count("*"), 6).alias(
            "mean_shap_quantity"
        ),
        F.round(dsum12(F.col("phi2")) / F.count("*"), 6).alias(
            "mean_shap_discount"
        ),
    )


_JL_K = 16
_JL_A = 2654435761
_JL_B = 40503
_JL_M = 1000003


@query(
    "jl_random_projection",
    oracle=f"""
    WITH x AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS i,
               unnest(CAST(embedding AS DOUBLE[])) AS xi
        FROM embeddings),
    proj AS (
        SELECT vec_id, j,
               SUM(xi * (((i * {_JL_A} + j * {_JL_B}) % {_JL_M}) % 2 * 2 - 1))
                   / SQRT({_JL_K}) AS yj
        FROM x, unnest(generate_series(0, {_JL_K - 1})) AS t(j)
        GROUP BY vec_id, j),
    nrm AS (SELECT vec_id, SQRT(SUM(xi * xi)) AS xn FROM x GROUP BY vec_id)
    SELECT p.vec_id,
           ROUND(MAX(CASE WHEN j = 0 THEN yj END), 6) AS y0,
           ROUND(MAX(CASE WHEN j = 1 THEN yj END), 6) AS y1,
           ROUND(MAX(CASE WHEN j = 2 THEN yj END), 6) AS y2,
           ROUND(MAX(CASE WHEN j = 3 THEN yj END), 6) AS y3,
           ROUND(SQRT(SUM(yj * yj)) / MAX(n.xn), 4) AS norm_ratio
    FROM proj p JOIN nrm n USING (vec_id)
    GROUP BY p.vec_id
    """,
)
def jl_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64d -> 16d with a
    DETERMINISTIC Rademacher (+-1) matrix derived from a multiplicative
    hash of (row, column) — the dimensionality-reduction preprocessing
    for ANN indexing and sketched similarity, reproducible across
    engines and runs with no stored matrix.

    The projection is one numpy GEMM per Arrow batch inside mapInPandas
    (Y = X @ S / sqrt(k)): map-side only, zero shuffles at any corpus
    size, and the sign matrix is rebuilt from the hash on each worker
    (64x16 ints — nothing ships). Emits the first 4 components plus the
    norm-preservation ratio ||y||/||x|| — the quantity JL bounds around
    1, and the per-row audit of embedding-distance fidelity."""
    import numpy as np
    import pandas as pd

    i = np.arange(1, 65, dtype=np.int64)[:, None]
    j = np.arange(0, _JL_K, dtype=np.int64)[None, :]
    S = (((i * _JL_A + j * _JL_B) % _JL_M) % 2 * 2 - 1).astype(np.float64)

    base = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )

    def project(batches):
        for pdf in batches:
            X = np.vstack(pdf["emb"].to_numpy())
            Y = (X @ S) / np.sqrt(_JL_K)
            xn = np.linalg.norm(X, axis=1)
            yn = np.linalg.norm(Y, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "y0": np.round(Y[:, 0], 6),
                    "y1": np.round(Y[:, 1], 6),
                    "y2": np.round(Y[:, 2], 6),
                    "y3": np.round(Y[:, 3], 6),
                    "norm_ratio": np.round(yn / xn, 4),
                }
            )

    return base.mapInPandas(
        project,
        "vec_id bigint, y0 double, y1 double, y2 double, y3 double, norm_ratio double",
    )


@query(
    "coreset_kcenter_greedy",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c0 AS (SELECT emb AS ce FROM e WHERE vec_id = 0),
    d1 AS (SELECT v.vec_id, v.emb, list_distance(v.emb, c.ce) AS dmin
           FROM e v, c0 c),
    c1 AS (SELECT vec_id AS cid, emb AS ce FROM d1
           ORDER BY ROUND(dmin, 6) DESC, vec_id ASC LIMIT 1),
    d2 AS (SELECT v.vec_id, v.emb,
                  LEAST(v.dmin, list_distance(v.emb, c.ce)) AS dmin
           FROM d1 v, c1 c),
    c2 AS (SELECT vec_id AS cid, emb AS ce FROM d2
           ORDER BY ROUND(dmin, 6) DESC, vec_id ASC LIMIT 1),
    d3 AS (SELECT v.vec_id,
                  LEAST(v.dmin, list_distance(v.emb, c.ce)) AS dmin
           FROM d2 v, c2 c)
    SELECT 1 AS k, CAST(0 AS BIGINT) AS center_id,
           ROUND(MAX(dmin), 6) AS covering_radius FROM d1
    UNION ALL
    SELECT 2, (SELECT cid FROM c1), ROUND(MAX(dmin), 6) FROM d2
    UNION ALL
    SELECT 3, (SELECT cid FROM c2), ROUND(MAX(dmin), 6) FROM d3
    """,
)
def coreset_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez's 2-approximation, 3
    centers unrolled): repeatedly add the point FARTHEST from the
    selected set — the geometric-coverage data-selection strategy that
    complements distributional matching (dsir_importance_weights) and
    cluster pruning (semdedup_cluster_prune) for training-subset
    construction.

    Each round is one broadcast of the (<=1-row) new center, a map-side
    running min-distance update, and one distributed argmax — a single
    lazy plan with NO collect (centers re-enter as one-row broadcast
    joins, the logreg_gd_two_steps pattern). Rounds cost O(n) work and
    O(1) shuffle rows each; the argmax ranks on ROUND(dist, 6) with an
    id tiebreak so float last-bits can't flip center choice across
    engines. Output: (k, chosen center, covering radius after k
    centers) — the radius curve is the coreset quality certificate."""
    from pyspark.sql import Column

    def dist(a: Column, b: Column) -> Column:
        return F.sqrt(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    c0 = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("ce"))
    d1 = e.crossJoin(F.broadcast(c0)).select(
        "vec_id", "emb", dist(F.col("emb"), F.col("ce")).alias("dmin")
    ).transform(_persisted)
    c1 = (
        d1.orderBy(F.round("dmin", 6).desc(), F.col("vec_id").asc())
        .limit(1)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("ce"))
        .transform(_persisted)
    )
    d2 = d1.crossJoin(F.broadcast(c1.select("ce"))).select(
        "vec_id",
        "emb",
        F.least(F.col("dmin"), dist(F.col("emb"), F.col("ce"))).alias("dmin"),
    ).transform(_persisted)
    c2 = (
        d2.orderBy(F.round("dmin", 6).desc(), F.col("vec_id").asc())
        .limit(1)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("ce"))
        .transform(_persisted)
    )
    d3 = d2.crossJoin(F.broadcast(c2.select("ce"))).select(
        "vec_id",
        F.least(F.col("dmin"), dist(F.col("emb"), F.col("ce"))).alias("dmin"),
    )
    r1 = d1.agg(
        F.lit(1).alias("k"),
        F.lit(0).cast("long").alias("center_id"),
        F.round(F.max("dmin"), 6).alias("covering_radius"),
    )
    r2 = d2.crossJoin(F.broadcast(c1.select("cid"))).agg(
        F.lit(2).alias("k"),
        F.max("cid").alias("center_id"),
        F.round(F.max("dmin"), 6).alias("covering_radius"),
    )
    r3 = d3.crossJoin(F.broadcast(c2.select("cid"))).agg(
        F.lit(3).alias("k"),
        F.max("cid").alias("center_id"),
        F.round(F.max("dmin"), 6).alias("covering_radius"),
    )
    return r1.unionAll(r2).unionAll(r3)


_RS_K = 16  # candidate models (pairs)
_RS_EPS = 5000.0  # inlier band on the price residual


@query(
    "ransac_line_fit",
    oracle=f"""
    WITH pts AS (
        SELECT l_quantity AS x, l_extendedprice AS y,
               ((l_orderkey % 1000003) * 2654435761 + l_linenumber) % 1000003 AS pri,
               l_orderkey, l_linenumber
        FROM lineitem),
    sampled AS (
        SELECT x, y, ROW_NUMBER() OVER (ORDER BY pri, l_orderkey, l_linenumber)
                         AS rn
        FROM pts ORDER BY pri, l_orderkey, l_linenumber LIMIT {2 * _RS_K}),
    cand AS (
        SELECT a.rn // 2 AS cid,
               (b.y - a.y) / (b.x - a.x) AS slope,
               a.y - (b.y - a.y) / (b.x - a.x) * a.x AS intercept
        FROM (SELECT * FROM sampled WHERE rn % 2 = 1) a
        JOIN (SELECT * FROM sampled WHERE rn % 2 = 0) b
          ON b.rn = a.rn + 1
        WHERE b.x <> a.x),
    votes AS (
        SELECT c.cid, c.slope, c.intercept,
               CAST(SUM(CASE WHEN ABS(p.y - (c.intercept + c.slope * p.x))
                                  <= {_RS_EPS} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_inliers,
               CAST(COUNT(*) AS BIGINT) AS n_total
        FROM pts p, cand c
        GROUP BY c.cid, c.slope, c.intercept)
    SELECT cid AS model_id,
           ROUND(slope, 6) AS slope,
           ROUND(intercept, 6) AS intercept,
           n_inliers, n_total
    FROM votes
    ORDER BY n_inliers DESC, cid ASC
    LIMIT 1
    """,
)
def ransac_line_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC robust line fit (price ~ quantity), relationally: 16
    candidate 2-point models from a DETERMINISTIC hash-priority sample,
    every candidate broadcast against the full point set for an inlier
    vote, argmax wins — the outlier-immune alternative to the OLS
    regr_* aggregates, with the same one-pass-over-facts cost.

    The "random" sample is a hash-priority top-2K (TakeOrdered, no
    collect, reproducible across engines); the vote is facts x K rows
    via broadcast — map-side conditional counting with the fact table
    scanned ONCE for all candidates (never once per model). Ranking on
    integer inlier counts with the candidate-id tiebreak keeps the
    winner engine-stable."""
    pts = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
        (((F.col("l_orderkey") % 1000003) * 2654435761 + F.col("l_linenumber")) % 1000003).alias(
            "pri"
        ),
        "l_orderkey",
        "l_linenumber",
    )
    sampled = (
        pts.orderBy("pri", "l_orderkey", "l_linenumber")
        .limit(2 * _RS_K)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy("pri", "l_orderkey", "l_linenumber")
            ),
        )
    )
    a = sampled.filter(F.col("rn") % 2 == 1).select(
        F.col("rn").alias("rna"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = sampled.filter(F.col("rn") % 2 == 0).select(
        F.col("rn").alias("rnb"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    slope = (F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa"))
    cand = (
        a.join(b, F.col("rnb") == F.col("rna") + 1)
        .filter(F.col("xb") != F.col("xa"))
        .select(
            (F.col("rna") / 2).cast("long").alias("cid"),
            slope.alias("slope"),
            (F.col("ya") - slope * F.col("xa")).alias("intercept"),
        )
    )
    inlier = (
        F.abs(F.col("y") - (F.col("intercept") + F.col("slope") * F.col("x")))
        <= _RS_EPS
    )
    votes = (
        pts.crossJoin(F.broadcast(cand))
        .groupBy("cid", "slope", "intercept")
        .agg(
            F.sum(F.when(inlier, 1).otherwise(0)).cast("long").alias("n_inliers"),
            F.count(F.lit(1)).alias("n_total"),
        )
    )
    return (
        votes.orderBy(F.col("n_inliers").desc(), F.col("cid").asc())
        .limit(1)
        .select(
            F.col("cid").alias("model_id"),
            F.round("slope", 6).alias("slope"),
            F.round("intercept", 6).alias("intercept"),
            "n_inliers",
            "n_total",
        )
    )


# --- isotonic calibration (exact minimax on the binned frame) ----------------

_ISO_BINS = 20


@query(
    "ml_isotonic_calibration",
    oracle=f"""
    WITH pts AS (
        SELECT value AS s,
               CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        FROM events),
    mx AS (SELECT MAX(s) AS mx FROM pts),
    binned AS (
        SELECT LEAST({_ISO_BINS - 1},
                     CAST(FLOOR(p.s * {_ISO_BINS} / m.mx) AS INT)) AS bin,
               COUNT(*) AS n, SUM(p.y) AS sy
        FROM pts p CROSS JOIN mx m
        GROUP BY 1),
    idx AS (
        SELECT bin, n, sy,
               ROW_NUMBER() OVER (ORDER BY bin) AS i,
               SUM(n)  OVER (ORDER BY bin) AS cn,
               SUM(sy) OVER (ORDER BY bin) AS cs
        FROM binned),
    p0 AS (SELECT 0 AS i, 0 AS cn, 0.0 AS cs
           UNION ALL SELECT i, cn, cs FROM idx),
    intervals AS (
        SELECT l.i + 1 AS j, r.i AS k,
               (r.cs - l.cs) / (r.cn - l.cn) AS mean
        FROM p0 l JOIN idx r ON r.i > l.i),
    triples AS (
        SELECT b.i, v.j, v.k, v.mean
        FROM idx b JOIN intervals v ON v.j <= b.i AND b.i <= v.k),
    inner_min AS (
        SELECT i, j, MIN(mean) AS m FROM triples GROUP BY i, j),
    iso AS (SELECT i, MAX(m) AS iso FROM inner_min GROUP BY i)
    SELECT b.bin,
           CAST(b.n AS BIGINT) AS n,
           ROUND(b.sy / b.n, 6) AS raw_rate,
           ROUND(o.iso, 6) AS iso_rate
    FROM idx b JOIN iso o ON o.i = b.i
    ORDER BY b.bin
    """,
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression calibration (the sklearn 'isotonic' method)
    computed EXACTLY via the minimax identity: the isotonic fit at bin
    i equals max_{{j<=i}} min_{{k>=i}} weighted-mean(y over bins j..k)
    — closed form, so the sequential pool-adjacent-violators loop never
    runs and both engines evaluate the identical expression grid. The
    raw per-bin purchase rates (non-monotone in general) come out as
    the best-fit NON-DECREASING rates, the post-hoc calibrator every
    score-producing model ships with.

    Scale shape: the only corpus-scale operation is the {_ISO_BINS}-bin
    (count, sum) aggregate; prefix sums, the interval grid (<= B^2/2
    rows), and the minimax reduction all run on bounded frames. At
    100 TB the job is one scan + arithmetic on ~400 rows."""
    pts = table(spark, sf_dir, "events").select(
        F.col("value").alias("s"),
        (F.col("event_type") == "purchase").cast("double").alias("y"),
    )
    mx = pts.agg(F.max("s").alias("mx"))
    binned = (
        pts.crossJoin(F.broadcast(mx))
        .groupBy(
            F.least(
                F.lit(_ISO_BINS - 1),
                F.floor(F.col("s") * _ISO_BINS / F.col("mx")).cast("int"),
            ).alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy"))
    )
    # windows below run on the <= B-row bin frame — bounded by design
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    idx = binned.select(
        "bin",
        "n",
        "sy",
        F.row_number().over(Window.orderBy("bin")).alias("i"),
        F.sum("n").over(wb).alias("cn"),
        F.sum("sy").over(wb).alias("cs"),
    )
    p0 = idx.select("i", "cn", "cs").unionByName(
        spark.range(1).select(
            F.lit(0).alias("i"),
            F.lit(0).cast("long").alias("cn"),
            F.lit(0.0).alias("cs"),
        )
    )
    intervals = (
        p0.alias("l")
        .join(idx.alias("r"), F.col("r.i") > F.col("l.i"))
        .select(
            (F.col("l.i") + 1).alias("j"),
            F.col("r.i").alias("k"),
            ((F.col("r.cs") - F.col("l.cs")) / (F.col("r.cn") - F.col("l.cn"))).alias(
                "mean"
            ),
        )
    )
    triples = idx.select("i").join(
        intervals, (F.col("j") <= F.col("i")) & (F.col("i") <= F.col("k"))
    )
    inner_min = triples.groupBy("i", "j").agg(F.min("mean").alias("m"))
    iso = inner_min.groupBy("i").agg(F.max("m").alias("iso"))
    return (
        idx.join(iso, "i")
        .select(
            "bin",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("sy") / F.col("n"), 6).alias("raw_rate"),
            F.round("iso", 6).alias("iso_rate"),
        )
        .orderBy("bin")
    )


# --- gradient-boosted stumps (two unrolled rounds) ----------------------------

_GBT_LR = 0.5


@query(
    "gbdt_stump_boosting",
    oracle=f"""
    WITH cells AS (
        SELECT hour(ts) AS x1, dayofweek(ts) AS x2,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sq
        FROM events GROUP BY 1, 2),
    tot AS (SELECT SUM(n) AS nt, SUM(sy) AS syt FROM cells),
    f0 AS (SELECT syt / nt AS f0 FROM tot),
    r1 AS (SELECT c.*, c.sy - f.f0 * c.n AS r FROM cells c CROSS JOIN f0 f),
    g1 AS (
        SELECT feat, thr,
               SUM(CASE WHEN v <= thr THEN r ELSE 0 END) AS rl,
               SUM(CASE WHEN v <= thr THEN n ELSE 0 END) AS nl,
               SUM(CASE WHEN v > thr THEN r ELSE 0 END) AS rr,
               SUM(CASE WHEN v > thr THEN n ELSE 0 END) AS nr
        FROM (SELECT 1 AS feat, x1 AS v, r, n FROM r1
              UNION ALL SELECT 2, x2, r, n FROM r1) u
        CROSS JOIN (SELECT DISTINCT x1 AS thr FROM cells
                    UNION SELECT DISTINCT x2 FROM cells) t
        GROUP BY feat, thr
        HAVING SUM(CASE WHEN v <= thr THEN n ELSE 0 END) > 0
           AND SUM(CASE WHEN v > thr THEN n ELSE 0 END) > 0),
    b1 AS (
        SELECT feat, thr, rl * rl / nl + rr * rr / nr AS gain,
               {_GBT_LR} * rl / nl AS leaf_l, {_GBT_LR} * rr / nr AS leaf_r
        FROM g1
        ORDER BY ROUND(rl * rl / nl + rr * rr / nr, 6) DESC, feat, thr
        LIMIT 1),
    r2 AS (
        SELECT c.x1, c.x2, c.n, c.sq,
               c.sy,
               f.f0 + CASE WHEN (CASE WHEN b.feat = 1 THEN c.x1 ELSE c.x2 END)
                               <= b.thr
                           THEN b.leaf_l ELSE b.leaf_r END AS pred1
        FROM cells c CROSS JOIN f0 f CROSS JOIN b1 b),
    r2r AS (SELECT *, sy - pred1 * n AS r FROM r2),
    g2 AS (
        SELECT feat, thr,
               SUM(CASE WHEN v <= thr THEN r ELSE 0 END) AS rl,
               SUM(CASE WHEN v <= thr THEN n ELSE 0 END) AS nl,
               SUM(CASE WHEN v > thr THEN r ELSE 0 END) AS rr,
               SUM(CASE WHEN v > thr THEN n ELSE 0 END) AS nr
        FROM (SELECT 1 AS feat, x1 AS v, r, n FROM r2r
              UNION ALL SELECT 2, x2, r, n FROM r2r) u
        CROSS JOIN (SELECT DISTINCT x1 AS thr FROM cells
                    UNION SELECT DISTINCT x2 FROM cells) t
        GROUP BY feat, thr
        HAVING SUM(CASE WHEN v <= thr THEN n ELSE 0 END) > 0
           AND SUM(CASE WHEN v > thr THEN n ELSE 0 END) > 0),
    b2 AS (
        SELECT feat, thr, rl * rl / nl + rr * rr / nr AS gain,
               {_GBT_LR} * rl / nl AS leaf_l, {_GBT_LR} * rr / nr AS leaf_r
        FROM g2
        ORDER BY ROUND(rl * rl / nl + rr * rr / nr, 6) DESC, feat, thr
        LIMIT 1),
    final AS (
        SELECT SUM(c.sq - 2 * p.pred2 * c.sy + p.pred2 * p.pred2 * c.n) AS sse,
               SUM(c.n) AS nt
        FROM cells c
        JOIN (SELECT r.x1, r.x2,
                     r.pred1 + CASE WHEN (CASE WHEN b.feat = 1 THEN r.x1
                                               ELSE r.x2 END) <= b.thr
                                    THEN b.leaf_l ELSE b.leaf_r END AS pred2
              FROM r2 r CROSS JOIN b2 b) p
          ON p.x1 = c.x1 AND p.x2 = c.x2)
    SELECT rnd,
           feat AS feature,
           CAST(thr AS BIGINT) AS threshold,
           ROUND(gain, 4) AS gain,
           ROUND(leaf_l, 6) AS leaf_left,
           ROUND(leaf_r, 6) AS leaf_right,
           ROUND(SQRT(f.sse / f.nt), 6) AS train_rmse_final
    FROM (SELECT 1 AS rnd, * FROM b1 UNION ALL SELECT 2, * FROM b2) rounds
    CROSS JOIN final f
    ORDER BY rnd
    """,
)
def gbdt_stump_boosting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted decision stumps — two unrolled boosting rounds
    of the XGBoost recipe on squared loss: start from the global mean,
    fit the best single-split stump to the residuals (gain =
    rl^2/nl + rr^2/nr, the exact SSE reduction), shrink by the 0.5
    learning rate, re-fit on the new residuals. Features are hour and
    day-of-week, so the ENTIRE boosting computation runs on the 24x7
    contingency frame: one corpus scan collapses to per-cell
    (n, sum y, sum y^2) with DECIMAL sums, and every split search,
    residual update and the final train RMSE are arithmetic over <=168
    rows + a ~31-row (feature, threshold) gain grid. Split argmax
    orders by (rounded gain, feature, threshold) in both engines so
    float noise cannot flip the chosen split.

    Round 13 (guide §5.4): the tiny boosting frames (cells, f0, b1, r2,
    b2) are pinned with lazy localCheckpoint. Each was consumed by
    several downstream crossJoin(broadcast(...)) sites, and every
    broadcast re-executed its full nested subtree (b2 embeds r2 embeds
    b1 embeds f0 embeds cells) — 119 Spark jobs / 119 Exchanges / a
    2,190-line plan for <=168 rows of arithmetic. Checkpoint-truncated,
    each frame materializes once and the broadcasts read a leaf
    (measured at sf0.1: 119 -> 18 jobs, 3.82 s -> 1.51 s min-of-4,
    plan 2,190 -> 108 lines)."""
    e = table(spark, sf_dir, "events")
    cells = (
        e.groupBy(
            F.hour("ts").alias("x1"), F.dayofweek("ts").alias("x2")
        )
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sy"),
            F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
            .cast("double")
            .alias("sq"),
        )
        .localCheckpoint(eager=False)
    )
    f0 = cells.agg((F.sum("sy") / F.sum("n")).alias("f0")).localCheckpoint(
        eager=False
    )
    thrs = (
        cells.select(F.col("x1").alias("thr"))
        .union(cells.select("x2"))
        .distinct()
    )

    def best_stump(resid_cells: DataFrame) -> DataFrame:
        u = resid_cells.select(
            F.lit(1).alias("feat"), F.col("x1").alias("v"), "r", "n"
        ).unionByName(
            resid_cells.select(
                F.lit(2).alias("feat"), F.col("x2").alias("v"), "r", "n"
            )
        )
        g = (
            u.crossJoin(F.broadcast(thrs))
            .groupBy("feat", "thr")
            .agg(
                F.sum(F.when(F.col("v") <= F.col("thr"), F.col("r")).otherwise(0.0)).alias("rl"),
                F.sum(F.when(F.col("v") <= F.col("thr"), F.col("n")).otherwise(0.0)).alias("nl"),
                F.sum(F.when(F.col("v") > F.col("thr"), F.col("r")).otherwise(0.0)).alias("rr"),
                F.sum(F.when(F.col("v") > F.col("thr"), F.col("n")).otherwise(0.0)).alias("nr"),
            )
            .filter((F.col("nl") > 0) & (F.col("nr") > 0))
        )
        gain = F.col("rl") * F.col("rl") / F.col("nl") + F.col("rr") * F.col("rr") / F.col("nr")
        return (
            g.select(
                "feat",
                "thr",
                gain.alias("gain"),
                (_GBT_LR * F.col("rl") / F.col("nl")).alias("leaf_l"),
                (_GBT_LR * F.col("rr") / F.col("nr")).alias("leaf_r"),
            )
            .orderBy(F.round("gain", 6).desc(), "feat", "thr")
            .limit(1)
        )

    r1 = cells.crossJoin(F.broadcast(f0)).select(
        "x1", "x2", "n", "sy", "sq", (F.col("sy") - F.col("f0") * F.col("n")).alias("r")
    )
    b1 = best_stump(r1).localCheckpoint(eager=False)

    def side(b_prefix, x1c, x2c):
        v = F.when(F.col(f"{b_prefix}.feat") == 1, x1c).otherwise(x2c)
        return F.when(v <= F.col(f"{b_prefix}.thr"), F.col(f"{b_prefix}.leaf_l")).otherwise(
            F.col(f"{b_prefix}.leaf_r")
        )

    r2 = (
        cells.crossJoin(F.broadcast(f0))
        .crossJoin(F.broadcast(b1.alias("b1")))
        .select(
            "x1",
            "x2",
            "n",
            "sy",
            "sq",
            (F.col("f0") + side("b1", F.col("x1"), F.col("x2"))).alias("pred1"),
        )
        .localCheckpoint(eager=False)
    )
    r2r = r2.withColumn("r", F.col("sy") - F.col("pred1") * F.col("n"))
    b2 = best_stump(r2r).localCheckpoint(eager=False)
    final = (
        r2.crossJoin(F.broadcast(b2.alias("b2")))
        .select(
            "n",
            "sy",
            "sq",
            (F.col("pred1") + side("b2", F.col("x1"), F.col("x2"))).alias("pred2"),
        )
        .agg(
            (
                F.sqrt(
                    F.sum(
                        F.col("sq")
                        - 2 * F.col("pred2") * F.col("sy")
                        + F.col("pred2") * F.col("pred2") * F.col("n")
                    )
                    / F.sum("n")
                )
            ).alias("rmse")
        )
    )
    rounds = b1.select(F.lit(1).alias("rnd"), "*").unionByName(
        b2.select(F.lit(2).alias("rnd"), "*")
    )
    return (
        rounds.crossJoin(F.broadcast(final))
        .select(
            "rnd",
            F.col("feat").alias("feature"),
            F.col("thr").cast("bigint").alias("threshold"),
            F.round("gain", 4).alias("gain"),
            F.round("leaf_l", 6).alias("leaf_left"),
            F.round("leaf_r", 6).alias("leaf_right"),
            F.round("rmse", 6).alias("train_rmse_final"),
        )
        .orderBy("rnd")
    )


# --- grid-density clustering (DBSCAN on cells) -------------------------------

_DB_EPS = 0.1
_DB_MINPTS = 5
_DB_OFF = 1000  # coordinate offset for the positive cell encoding
_DB_ENC = 1_000_000  # cell id = (cx+OFF)*ENC + (cy+OFF)


def _dbscan_oracle() -> str:
    return f"""
    WITH pts AS (
        SELECT vec_id,
               CAST(FLOOR(CAST(embedding[1] AS DOUBLE) / {_DB_EPS}) AS BIGINT) AS cx,
               CAST(FLOOR(CAST(embedding[2] AS DOUBLE) / {_DB_EPS}) AS BIGINT) AS cy
        FROM embeddings),
    cells AS (SELECT cx, cy, COUNT(*) AS c FROM pts GROUP BY cx, cy),
    dense AS (
        SELECT (cx + {_DB_OFF}) * {_DB_ENC} + (cy + {_DB_OFF}) AS cid, cx, cy, c
        FROM cells WHERE c >= {_DB_MINPTS}),
    edges AS (
        SELECT a.cid AS ca, b.cid AS cb
        FROM dense a JOIN dense b
          ON ABS(a.cx - b.cx) <= 1 AND ABS(a.cy - b.cy) <= 1),
    cc AS (
        WITH RECURSIVE reach(cid, lab) AS (
            SELECT cid, cid FROM dense
            UNION
            SELECT e.cb, r.lab FROM reach r JOIN edges e ON e.ca = r.cid)
        SELECT cid, MIN(lab) AS lab FROM reach GROUP BY cid),
    clusters AS (
        SELECT cc.lab AS cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(d.c) AS BIGINT) AS n_points
        FROM cc JOIN dense d ON cc.cid = d.cid
        GROUP BY cc.lab),
    noise AS (
        SELECT CAST(-1 AS BIGINT) AS cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_points
        FROM cells WHERE c < {_DB_MINPTS})
    SELECT * FROM clusters
    UNION ALL SELECT * FROM noise
    ORDER BY n_points DESC, cluster_id
    """


@query("ml_dbscan_grid_clusters", oracle=_dbscan_oracle())
def ml_dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based clustering via the GRID relaxation of DBSCAN
    (cell-density clustering / GriDBSCAN family): bucket points into
    eps-cells on the first two embedding dims, call a cell dense at
    >= {_DB_MINPTS} points, connect dense cells through their
    8-neighborhood, and emit each connected component as a cluster
    (sparse cells aggregate into the noise row, cluster_id -1).

    Scale shape: the per-point work is ONE map-side cell assignment +
    one groupBy — no point-to-point distance joins, which is what
    makes this the DBSCAN form that survives 100 TB (exact DBSCAN's
    eps-range join is quadratic in dense regions). The cell-count table
    is RESOLUTION-bounded, not data-bounded — at most (span/eps)^2 cells
    regardless of row count — so it is collected ONCE, and everything
    after runs on the driver over that list (same trade as MMR / the
    Markov matrix): the dense/sparse split, the 9-offset neighbour
    lookup, union-find and the noise row. No persist, no adjacency
    join, no second aggregation: one collect. The result rows return
    through ``local_frame``, so the query executes as one
    ``LocalTableScan`` and starts no Python worker. Labels are the MIN
    positive-encoded cell id per component (union by smaller root) —
    deterministic, so the oracle's recursive-CTE propagation lands on
    identical ids."""
    pts = (
        table(spark, sf_dir, "embeddings")
        .select(
            F.floor(F.element_at("embedding", 1).cast("double") / _DB_EPS)
            .cast("bigint")
            .alias("cx"),
            F.floor(F.element_at("embedding", 2).cast("double") / _DB_EPS)
            .cast("bigint")
            .alias("cy"),
        )
    )
    cells = pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("c")).collect()
    dense = {(r["cx"], r["cy"]): r["c"] for r in cells if r["c"] >= _DB_MINPTS}
    sparse = [r["c"] for r in cells if r["c"] < _DB_MINPTS]

    def cid(cx: int, cy: int) -> int:
        return (cx + _DB_OFF) * _DB_ENC + (cy + _DB_OFF)

    parent = {cid(*xy): cid(*xy) for xy in dense}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for cx, cy in dense:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if (cx + dx, cy + dy) in dense:
                    ra, rb = find(cid(cx, cy)), find(cid(cx + dx, cy + dy))
                    # union by smaller root so the final label is the min id
                    parent[max(ra, rb)] = min(ra, rb)
    agg: dict[int, list[int]] = {}
    for (cx, cy), c in dense.items():
        v = agg.setdefault(find(cid(cx, cy)), [0, 0])
        v[0] += 1
        v[1] += c
    out = [(lab, n, p) for lab, (n, p) in agg.items()] + [(-1, len(sparse), sum(sparse))]
    return local_frame(
        spark,
        sorted(out, key=lambda t: (-t[2], t[0])),
        "cluster_id bigint, n_cells bigint, n_points bigint",
    )


@query(
    "ml_gmm_em_step",
    oracle="""
    WITH init AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        FROM events),
    par AS (
        SELECT n, sx / n AS mu, SQRT(sxx / n - (sx / n) * (sx / n)) AS sd
        FROM init),
    resp AS (
        SELECT e.value AS x, p.n, p.sd,
               EXP(-(e.value - (p.mu - p.sd)) * (e.value - (p.mu - p.sd))
                   / (2 * p.sd * p.sd)) AS d1,
               EXP(-(e.value - (p.mu + p.sd)) * (e.value - (p.mu + p.sd))
                   / (2 * p.sd * p.sd)) AS d2
        FROM events e CROSS JOIN par p),
    r AS (
        SELECT x, n, sd,
               CASE WHEN d1 + d2 = 0 OR isnan(d1 + d2)
                    THEN 0.5 ELSE d1 / (d1 + d2) END AS r1,
               CASE WHEN d1 + d2 = 0 OR isnan(d1 + d2)
                    THEN 0.5 ELSE d2 / (d1 + d2) END AS r2
        FROM resp),
    m AS (
        SELECT MAX(n) AS n,
               CAST(SUM(CAST(r1 AS DECIMAL(38,12))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(r2 AS DECIMAL(38,12))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(r1 * x AS DECIMAL(38,12))) AS DOUBLE) AS s1x,
               CAST(SUM(CAST(r2 * x AS DECIMAL(38,12))) AS DOUBLE) AS s2x,
               CAST(SUM(CAST(r1 * x * x AS DECIMAL(38,12))) AS DOUBLE) AS s1xx,
               CAST(SUM(CAST(r2 * x * x AS DECIMAL(38,12))) AS DOUBLE) AS s2xx
        FROM r)
    SELECT ROUND(s1 / n, 6) AS w1_new,
           ROUND(s2 / n, 6) AS w2_new,
           ROUND(s1x / s1, 6) AS mu1_new,
           ROUND(s2x / s2, 6) AS mu2_new,
           ROUND(SQRT(s1xx / s1 - (s1x / s1) * (s1x / s1)), 6) AS sigma1_new,
           ROUND(SQRT(s2xx / s2 - (s2x / s2) * (s2x / s2)), 6) AS sigma2_new
    FROM m
    """,
)
def ml_gmm_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact EM step for a 1-D two-component Gaussian mixture over
    event values, from the deterministic symmetric init mu -+ sd (shared
    sigma, equal weights — the normalization constants cancel in the
    E-step so responsibilities need only two EXPs per row).

    Scale shape: E-step is pure per-row arithmetic against a broadcast
    1-row parameter frame; the M-step is ONE aggregation computing all
    six weighted moments in a single pass (sigma via E[x^2] - mu^2, so
    no second scan at the new means). Every float sum rides the house
    DECIMAL(38,12) truncation, making the result independent of
    partition/summation order — the property that lets the same plan
    run on 32 threads or 1000 executors and hash-match the oracle."""
    e = table(spark, sf_dir, "events")

    def d12(col):
        return F.sum(col.cast("decimal(38,12)")).cast("double")

    init = e.agg(
        F.count(F.lit(1)).alias("n"),
        d12(F.col("value")).alias("sx"),
        d12(F.col("value") * F.col("value")).alias("sxx"),
    )
    par = init.select(
        "n",
        (F.col("sx") / F.col("n")).alias("mu"),
        F.sqrt(F.col("sxx") / F.col("n") - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))).alias("sd"),
    )
    x = F.col("value")
    mu1 = F.col("mu") - F.col("sd")
    mu2 = F.col("mu") + F.col("sd")
    two_var = 2 * F.col("sd") * F.col("sd")
    resp = e.crossJoin(F.broadcast(par)).select(
        x.alias("x"),
        "n",
        F.exp(-(x - mu1) * (x - mu1) / two_var).alias("d1"),
        F.exp(-(x - mu2) * (x - mu2) / two_var).alias("d2"),
    )
    # Degenerate guard (mirrored in the oracle): if both tail
    # exponentials underflow to 0 (|x - mu| >> sd) or sd == 0 makes the
    # exponent NaN, split responsibility 0.5/0.5 instead of letting one
    # NaN row poison all six M-step moments.
    s12 = F.col("d1") + F.col("d2")
    degenerate = (s12 == 0) | F.isnan(s12)
    r = resp.select(
        "x",
        "n",
        F.when(degenerate, F.lit(0.5)).otherwise(F.col("d1") / s12).alias("r1"),
        F.when(degenerate, F.lit(0.5)).otherwise(F.col("d2") / s12).alias("r2"),
    )
    m = r.agg(
        F.max("n").alias("n"),
        d12(F.col("r1")).alias("s1"),
        d12(F.col("r2")).alias("s2"),
        d12(F.col("r1") * F.col("x")).alias("s1x"),
        d12(F.col("r2") * F.col("x")).alias("s2x"),
        d12(F.col("r1") * F.col("x") * F.col("x")).alias("s1xx"),
        d12(F.col("r2") * F.col("x") * F.col("x")).alias("s2xx"),
    )
    s1x_over = F.col("s1x") / F.col("s1")
    s2x_over = F.col("s2x") / F.col("s2")
    return m.select(
        F.round(F.col("s1") / F.col("n"), 6).alias("w1_new"),
        F.round(F.col("s2") / F.col("n"), 6).alias("w2_new"),
        F.round(s1x_over, 6).alias("mu1_new"),
        F.round(s2x_over, 6).alias("mu2_new"),
        F.round(F.sqrt(F.col("s1xx") / F.col("s1") - s1x_over * s1x_over), 6).alias("sigma1_new"),
        F.round(F.sqrt(F.col("s2xx") / F.col("s2") - s2x_over * s2x_over), 6).alias("sigma2_new"),
    )


@query(
    "ml_ols_normal_equation",
    oracle="""
    WITH m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS sx1,
               CAST(SUM(CAST(l_discount AS DECIMAL(38,12))) AS DOUBLE) AS sx2,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS s11,
               CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,12))) AS DOUBLE) AS s22,
               CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,12))) AS DOUBLE) AS s12,
               CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS s1y,
               CAST(SUM(CAST(l_discount * l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS s2y,
               CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS syy
        FROM lineitem),
    solved AS (
        SELECT *,
               n * (s11 * s22 - s12 * s12)
             - sx1 * (sx1 * s22 - s12 * sx2)
             + sx2 * (sx1 * s12 - s11 * sx2) AS det,
               (s11 * s22 - s12 * s12) AS a11,
               (sx2 * s12 - sx1 * s22) AS a12,
               (sx1 * s12 - sx2 * s11) AS a13,
               (n * s22 - sx2 * sx2)   AS a22,
               (sx2 * sx1 - n * s12)   AS a23,
               (n * s11 - sx1 * sx1)   AS a33
        FROM m),
    beta AS (
        SELECT *,
               (a11 * sy + a12 * s1y + a13 * s2y) / det AS b0,
               (a12 * sy + a22 * s1y + a23 * s2y) / det AS b1,
               (a13 * sy + a23 * s1y + a33 * s2y) / det AS b2
        FROM solved)
    SELECT ROUND(b0, 6) AS b0, ROUND(b1, 6) AS b1, ROUND(b2, 6) AS b2,
           ROUND(1 - (syy - b0 * sy - b1 * s1y - b2 * s2y)
                     / (syy - sy * sy / n), 6) AS r2
    FROM beta
    """,
)
def ml_ols_normal_equation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form two-feature OLS (extendedprice ~ quantity + discount)
    via the normal equations: ONE pass computes the nine mergeable
    moments (decimal-exact, so partition order can't move a bit), then
    the 3x3 system is solved with explicit adjugate arithmetic on the
    driver-free scalar frame. R^2 falls out of the same moments
    (SSE = Syy - b.Xty — the normal-equation identity), so the whole
    fit is a single aggregation even at 100 TB: no gradient iterations,
    no second scan, and the moment vector is exactly what a map-side
    combiner or a streaming sink would merge."""
    li = table(spark, sf_dir, "lineitem")

    def d12(col):
        return F.sum(col.cast("decimal(38,12)")).cast("double")

    q, disc, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        d12(q).alias("sx1"),
        d12(disc).alias("sx2"),
        d12(y).alias("sy"),
        d12(q * q).alias("s11"),
        d12(disc * disc).alias("s22"),
        d12(q * disc).alias("s12"),
        d12(q * y).alias("s1y"),
        d12(disc * y).alias("s2y"),
        d12(y * y).alias("syy"),
    )
    c = F.col
    solved = m.select(
        "*",
        (
            c("n") * (c("s11") * c("s22") - c("s12") * c("s12"))
            - c("sx1") * (c("sx1") * c("s22") - c("s12") * c("sx2"))
            + c("sx2") * (c("sx1") * c("s12") - c("s11") * c("sx2"))
        ).alias("det"),
        (c("s11") * c("s22") - c("s12") * c("s12")).alias("a11"),
        (c("sx2") * c("s12") - c("sx1") * c("s22")).alias("a12"),
        (c("sx1") * c("s12") - c("sx2") * c("s11")).alias("a13"),
        (c("n") * c("s22") - c("sx2") * c("sx2")).alias("a22"),
        (c("sx2") * c("sx1") - c("n") * c("s12")).alias("a23"),
        (c("n") * c("s11") - c("sx1") * c("sx1")).alias("a33"),
    )
    beta = solved.select(
        "*",
        ((c("a11") * c("sy") + c("a12") * c("s1y") + c("a13") * c("s2y")) / c("det")).alias("b0"),
        ((c("a12") * c("sy") + c("a22") * c("s1y") + c("a23") * c("s2y")) / c("det")).alias("b1"),
        ((c("a13") * c("sy") + c("a23") * c("s1y") + c("a33") * c("s2y")) / c("det")).alias("b2"),
    )
    return beta.select(
        F.round("b0", 6).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round("b2", 6).alias("b2"),
        F.round(
            1
            - (c("syy") - c("b0") * c("sy") - c("b1") * c("s1y") - c("b2") * c("s2y"))
            / (c("syy") - c("sy") * c("sy") / c("n")),
            6,
        ).alias("r2"),
    )


# --- quantile regression by pinball-loss grid ---------------------------------------

_QR_TAU = 0.9  # target quantile
_QR_SLOPES = tuple(round(0.5 + 0.05 * i, 2) for i in range(21))  # 0.5 .. 1.5


@query(
    "ml_quantile_reg_pinball",
    oracle=f"""
    WITH pts AS (
        SELECT l_quantity AS x, l_extendedprice / 1000.0 AS y FROM lineitem),
    grid AS (
        SELECT s.b, r.y - s.b * r.x AS resid
        FROM pts r, unnest([{", ".join(str(s) for s in _QR_SLOPES)}]) AS s(b)),
    loss AS (
        -- pinball terms are NON-NEGATIVE doubles identical in both
        -- engines; quantizing each to a 1e-6-scaled BIGINT makes the
        -- sum exact integer arithmetic (order-independent AND on the
        -- fast long path, unlike wide DECIMAL accumulation)
        SELECT b,
               SUM(CAST(FLOOR((CASE WHEN resid >= 0 THEN {_QR_TAU} * resid
                                     ELSE ({_QR_TAU} - 1.0) * resid END)
                               * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0
                   / COUNT(*) AS pinball
        FROM grid GROUP BY b),
    best AS (
        SELECT b, pinball,
               ROW_NUMBER() OVER (ORDER BY pinball ASC, b ASC) AS rk
        FROM loss)
    SELECT CAST(b AS DOUBLE) AS slope, ROUND(pinball, 6) AS pinball_loss,
           rk = 1 AS is_argmin
    FROM best ORDER BY slope
    """,
)
def ml_quantile_reg_pinball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile regression (tau=0.9, through-origin) of lineitem price
    on quantity by DIRECT PINBALL-LOSS GRID SWEEP: evaluate
    L(b) = mean pinball_tau(y - b*x) on 21 candidate slopes in one
    distributed pass and report the full loss curve with the argmin
    flagged. The grid sweep is the quantile-regression shape that
    parallelizes perfectly (iterative IRLS/simplex solvers do not):
    each slope is an independent AGGREGATE COLUMN in one un-exploded
    scan (the simhash bit-sum layout), so the whole curve is map-side
    arithmetic + one 1-row reduce — the same loss-surface-scan trade
    DoReMi's reweight step makes, without fanning the corpus x21.

    Exactness: candidate slopes are exact decimal literals; pinball
    terms quantize to 1e-6-scaled BIGINTs so the accumulated curve
    (and its argmin) is exact integer arithmetic — partition-order
    independent on the fast long path. Plan: one scan, one explode, one
    21-group aggregate — no iteration, no driver state beyond the
    grid constants."""
    pts = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"),
        (F.col("l_extendedprice") / 1000.0).alias("y"),
    )

    # One un-exploded scan with 21 aggregate COLUMNS (the 64-column
    # simhash bit-sum pattern): a row explode x21 would materialize
    # 21x the corpus just to feed a partial agg — column-wise, the
    # whole sweep is map-side arithmetic and the result is ONE row.
    def pin(b: float):
        # non-negative terms quantized to 1e-6-scaled BIGINTs: the sum
        # is exact integer arithmetic — order-independent like the
        # DECIMAL discipline but on the fast long accumulation path
        # (21 wide-DECIMAL sum columns measured 2.5x slower here)
        resid = F.col("y") - F.lit(b) * F.col("x")
        term = F.when(resid >= 0, F.lit(_QR_TAU) * resid).otherwise(
            F.lit(_QR_TAU - 1.0) * resid
        )
        # FLOOR(x + 0.5) == ROUND for the non-negative terms here, and
        # stays in pure double arithmetic (Spark's ROUND on doubles
        # allocates a BigDecimal per value — measured 2x slower)
        return F.sum(F.floor(term * 1_000_000.0 + 0.5).cast("bigint"))

    agg = pts.agg(
        F.count(F.lit(1)).alias("n"),
        *[pin(s).alias(f"s{i}") for i, s in enumerate(_QR_SLOPES)],
    )
    loss = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("b"),
                        (F.col(f"s{i}") / 1_000_000.0 / F.col("n")).alias("pinball"),
                    )
                    for i, s in enumerate(_QR_SLOPES)
                ]
            )
        ).alias("lb")
    ).select("lb.b", "lb.pinball")
    w = Window.orderBy(F.col("pinball").asc(), F.col("b").asc())
    return (
        loss.withColumn("rk", F.row_number().over(w))
        .select(
            F.col("b").alias("slope"),
            F.round("pinball", 6).alias("pinball_loss"),
            (F.col("rk") == 1).alias("is_argmin"),
        )
        .orderBy("slope")
    )
