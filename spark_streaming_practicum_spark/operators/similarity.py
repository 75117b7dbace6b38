"""Similarity search over the embedding column (north star; SURVEY.md §2C).

Three tiers:
- brute-force cosine top-k, JVM-side higher-order functions (baseline);
- the same top-k through a vectorized Arrow/pandas UDF (numpy matmul) —
  demonstrates the sanctioned slow path and beats HOF on wide batches;
- random-hyperplane LSH bucketing — the sub-linear candidate-generation
  path that survives 100 TB (probe only the query's bucket).
"""

from __future__ import annotations

import itertools
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.vector import dot, l2_norm
from ..registry import query
from ..sources.batch import local_frame
from ..functions.ranks import persisted as _persisted

QUERY_VEC_ID = 0
TOP_K = 20

_TOPK_ORACLE = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.qv AS DOUBLE[])), 6) AS cosine
    FROM embeddings e, q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT {TOP_K}
    """


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    """Fetch the query embedding (single-row lookup; the one sanctioned
    driver-side collect — the vector is then shipped as a literal)."""
    row = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .head()
    )
    return [float(x) for x in row[0]]


@query("sim_cosine_topk", oracle=_TOPK_ORACLE)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs. a query vector, all JVM-side.

    The query vector is a broadcast literal; the scan computes
    dot/norms inside whole-stage codegen and TakeOrdered keeps k rows
    per partition — no shuffle of the corpus."""
    qv = _query_vector(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != QUERY_VEC_ID)
    q = F.array(*[F.lit(x).cast("double") for x in qv])
    cos = F.round(dot("embedding", q) / (l2_norm("embedding") * l2_norm(q)), 6)
    return (
        e.select("vec_id", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


@query("sim_cosine_topk_pandas", oracle=_TOPK_ORACLE)
def sim_cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same top-k through mapInPandas + numpy (Arrow-batched matmul).

    The at-scale pattern for heavy vector math Spark's HOFs can't
    express: per-batch np.float64 matmul against the broadcast query
    vector, k rows retained per batch before the driver-side merge."""
    qv = np.asarray(_query_vector(spark, sf_dir), dtype=np.float64)
    qn = float(np.sqrt((qv * qv).sum()))
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != QUERY_VEC_ID)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            sims = (mat @ qv) / (np.sqrt((mat * mat).sum(axis=1)) * qn)
            out = pd.DataFrame({"vec_id": pdf["vec_id"], "cosine": np.round(sims, 6)})
            # local top-k per Arrow batch; global merge happens in TakeOrdered
            yield out.nlargest(TOP_K, ["cosine"], keep="all")

    scored = e.select("vec_id", "embedding").mapInPandas(
        score, schema="vec_id bigint, cosine double"
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(TOP_K)


N_HYPERPLANES = 8
MULTIPROBE_HAMMING = 1  # Hamming-ball probe radius around the query bucket


def _hyperplanes(dim: int = 64) -> np.ndarray:
    """Deterministic random hyperplanes (fixed seed — stable across runs)."""
    rng = np.random.RandomState(42)
    return rng.randn(N_HYPERPLANES, dim)


def _hamming_ball(center: int, radius: int, bits: int) -> list[int]:
    """Every bucket id within ``radius`` bit flips of ``center`` over a
    ``bits``-bit code, center first, then radius-1 flips in bit order,
    then radius-2, ... — |ball| = sum of C(bits, r) for r <= radius."""
    return [
        center ^ sum(1 << i for i in flips)
        for r in range(radius + 1)
        for flips in itertools.combinations(range(bits), r)
    ]


def _lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hyperplane-LSH probe leg (bucket + 1-bit multi-probe, exact
    cosine rank inside the probed buckets); split out so the oracled
    query can certify it against the exhaustive scorer."""
    planes = _hyperplanes()
    qv = np.asarray(_query_vector(spark, sf_dir), dtype=np.float64)

    def bucket_col(emb) -> F.Column:
        acc = F.lit(0).cast("long")
        for i, plane in enumerate(planes):
            proj = dot(emb, F.array(*[F.lit(float(w)).cast("double") for w in plane]))
            bit = F.when(proj > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
            acc = acc + F.shiftleft(bit, i)
        return acc

    q_bucket = int(sum((1 << i) for i, p in enumerate(planes) if float(p @ qv) > 0))
    # Multi-probe neighborhood: the full Hamming ball of radius
    # MULTIPROBE_HAMMING around the query bucket (round-12: generalized
    # from the hardcoded 1-flip ring — radius r enumerates every
    # r-subset of bit positions, so 2 really means 2 now; at the
    # default of 1 the probe list is byte-identical to the old ring:
    # [q_bucket, q^1, q^2, ...]).
    probes = _hamming_ball(q_bucket, MULTIPROBE_HAMMING, N_HYPERPLANES)
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != QUERY_VEC_ID)
    in_bucket = e.withColumn("bucket", bucket_col(F.col("embedding"))).filter(
        F.col("bucket").isin(probes)
    )
    q = F.array(*[F.lit(float(x)).cast("double") for x in qv])
    cos = F.round(dot("embedding", q) / (l2_norm("embedding") * l2_norm(q)), 6)
    return (
        in_bucket.select("vec_id", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


@query(
    "sim_label_centroid",
    oracle="""
    WITH per_dim AS (
        SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS mu
        FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
        GROUP BY label, i)
    SELECT label,
           ROUND(SQRT(SUM(mu * mu)), 6) AS centroid_norm,
           (SELECT COUNT(*) FROM embeddings e WHERE e.label = per_dim.label) AS n
    FROM per_dim
    GROUP BY label
    """,
)
def sim_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norm — grouped vector aggregation done JVM-side
    by exploding (label, dim_index, value) and re-assembling. The
    shuffle carries one row per (label, dim), not per vector."""
    e = table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v")
    )
    per_dim = exploded.groupBy("label", "i").agg(
        F.avg("v").alias("mu"), F.count(F.lit(1)).alias("n_rows")
    )
    return per_dim.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("mu") * F.col("mu"))), 6).alias("centroid_norm"),
        F.max("n_rows").alias("n"),
    )


@query(
    "vector_normalize",
    oracle="""
    SELECT vec_id,
           array_to_string(list_transform(embedding,
               x -> printf('%.6f', ROUND(CAST(x AS DOUBLE) /
                    SQRT(list_sum(list_transform(embedding,
                         y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6))), ',') AS unit_vec,
           ROUND(SQRT(list_sum(list_transform(embedding,
                 y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6)          AS norm
    FROM embeddings
    WHERE vec_id < 100
    """,
)
def vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalize embeddings with higher-order functions — the
    write-once preprocessing step that turns cosine top-k into a pure
    dot product at query time. The unit vector is emitted as a joined
    string (fixed %.6f formatting — double-to-string casts use different
    scientific-notation thresholds per engine); the array expression is
    the pre-join transform."""
    # norm is PROJECTED before the per-element lambda divides by it —
    # inlined, the sqrt-of-fold aggregate would re-run per element
    # (O(dim^2) per vector; see functions/textfns.py PERF CONTRACT).
    e = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select("vec_id", "embedding", l2_norm("embedding").alias("_norm"))
    )
    unit = F.transform(
        "embedding",
        lambda x: F.format_string(
            "%.6f", F.round(x.cast("double") / F.col("_norm"), 6)
        ),
    )
    return e.select(
        "vec_id",
        F.array_join(unit, ",").alias("unit_vec"),
        F.round(F.col("_norm"), 6).alias("norm"),
    )


IVF_K = 8
IVF_NPROBE = 2
IVF_TRAIN_SAMPLE = 256
IVF_LLOYD_ITERS = 5


_IVF_CACHE: dict[str, np.ndarray] = {}


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """Train IVF centroids on a bounded sample (the standard at-scale
    pattern: sample -> driver-side k-means -> broadcast). Deterministic:
    fixed sample (lowest vec_ids), fixed seed, fixed iteration count.
    Memoized per corpus — training is a build step, not a query step."""
    if sf_dir in _IVF_CACHE:
        return _IVF_CACHE[sf_dir]
    sample = (
        table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(IVF_TRAIN_SAMPLE)
        .select("embedding")
        .collect()
    )
    x = np.asarray([list(r[0]) for r in sample], dtype=np.float64)
    rng = np.random.RandomState(7)
    centroids = x[rng.choice(len(x), IVF_K, replace=False)]
    for _ in range(IVF_LLOYD_ITERS):
        d2 = ((x[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for k in range(IVF_K):
            members = x[assign == k]
            if len(members):
                centroids[k] = members.mean(axis=0)
    _IVF_CACHE[sf_dir] = centroids
    return centroids


def _ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: k-means centroids partition the corpus
    into lists; a probe scores exact cosine over only the nprobe nearest
    lists. At 100 TB the list id is the table's partition key, so the
    probe reads nprobe/K of the data — the complementary scale path to
    hyperplane LSH (sim_ann_lsh_bucketed).

    Assignment + scoring run as ONE vectorized Arrow pass (numpy matmul
    against the broadcast centroids) — per-element HOF lambdas are
    interpreted, so for dense linear algebra the pandas path is the
    faster AND scalable choice. Score agreement with the exact scorer is
    asserted in unit tests."""
    centroids = _ivf_centroids(spark, sf_dir)
    qv = np.asarray(_query_vector(spark, sf_dir), dtype=np.float64)
    q_d2 = ((centroids - qv[None, :]) ** 2).sum(axis=1)
    probe_lists = set(int(i) for i in q_d2.argsort()[:IVF_NPROBE])
    qn = float(np.sqrt((qv * qv).sum()))

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            d2 = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
            lists = d2.argmin(axis=1)
            mask = np.isin(lists, list(probe_lists))
            if not mask.any():
                continue
            sub = mat[mask]
            sims = (sub @ qv) / (np.sqrt((sub * sub).sum(axis=1)) * qn)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[mask],
                    "cosine": np.round(sims, 6),
                }
            )

    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != QUERY_VEC_ID)
    scored = e.select("vec_id", "embedding").mapInPandas(
        probe, schema="vec_id bigint, cosine double"
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(TOP_K)


def _ann_certified_oracle(flag: str) -> str:
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.qv AS DOUBLE[])), 6) AS cosine,
           TRUE AS {flag}
    FROM embeddings e, q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT {TOP_K}
    """


def _ann_certified(
    spark: SparkSession, sf_dir: str, ann: DataFrame, min_recall: float, flag: str
) -> DataFrame:
    """Exact top-k rows + a recall certificate over the given ANN leg.

    The ANN probe runs in full; its recall@k vs the exhaustive scorer
    is computed as a distributed membership-average and broadcast back
    as a boolean the oracle pins TRUE. Recall of the deterministic
    hash/centroid families is a pure function of the data, so the
    certificate is reproducible (invariant-oracle form, like the
    sketch family)."""
    qv = _query_vector(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != QUERY_VEC_ID)
    q = F.array(*[F.lit(x).cast("double") for x in qv])
    cos = F.round(dot("embedding", q) / (l2_norm("embedding") * l2_norm(q)), 6)
    exact = (
        e.select("vec_id", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )
    hits = exact.join(
        ann.select("vec_id").withColumn("hit", F.lit(1)), "vec_id", "left"
    ).agg((F.avg(F.coalesce(F.col("hit"), F.lit(0))) >= min_recall).alias(flag))
    return exact.crossJoin(F.broadcast(hits)).select("vec_id", "cosine", flag)


@query("sim_ann_lsh_bucketed", oracle=_ann_certified_oracle("lsh_recall_ge_5pct"))
def sim_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH: 8 sign bits -> bucket
    id; rank by exact cosine within the query's bucket and its
    1-bit-flip neighbors (multi-probe). At 100 TB the bucket id is a
    write-time partition key, so a probe reads ~(1+8)/256 of the corpus
    instead of all of it.

    Invariant-oracle form (round-2 this was rows-only): rows are the
    exhaustive exact top-20 (SQL-oracleable), and the LSH probe — run
    in full — is audited by ``lsh_recall_ge_5pct``. The floor is the
    honest number for 9/256 multiprobe coverage of a small corpus
    (measured 0.05 at both sf0.001 and sf0.01, deterministic for the
    fixed seed-42 hyperplanes); at corpus scale recall rises with
    bucket occupancy and the floor would be tightened."""
    return _ann_certified(
        spark, sf_dir, _lsh_bucketed_topk(spark, sf_dir), 0.05, "lsh_recall_ge_5pct"
    )


@query("sim_ann_ivf", oracle=_ann_certified_oracle("ivf_recall_ge_10pct"))
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN probe (see ``_ivf_topk``) in invariant-oracle form
    (round-2 rows-only): rows are the exhaustive exact top-20, and the
    IVF leg — Lloyd-trained centroids, nprobe=2/8 lists, vectorized
    Arrow scoring — is audited by ``ivf_recall_ge_10pct`` (measured
    0.65 at sf0.001 / 0.15 at sf0.01; deterministic for the fixed
    256-row seed-7 training sample)."""
    return _ann_certified(
        spark, sf_dir, _ivf_topk(spark, sf_dir), 0.1, "ivf_recall_ge_10pct"
    )


_DF_CAP = 40  # absolute floor of the rarity-relative df cap (see below)
_DF_CAP_RARITY = 4  # keep tokens within this factor of the rarest token's df


@query(
    "sparse_cosine_pairs_topk",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
    df AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token),
    cap AS (SELECT GREATEST({_DF_CAP}, {_DF_CAP_RARITY} * MIN(df)) AS cap FROM df),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    wv AS (
        SELECT t.doc_id, t.token,
               LN(n.n / d.df) AS w
        FROM tok t JOIN df d USING (token) CROSS JOIN n CROSS JOIN cap
        WHERE d.df <= cap.cap),
    nrm AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM wv GROUP BY doc_id),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
        FROM wv a JOIN wv b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT d.doc_a, d.doc_b,
           ROUND(d.dot / (x.nrm * y.nrm), 6) AS cosine
    FROM dots d
    JOIN nrm x ON d.doc_a = x.doc_id
    JOIN nrm y ON d.doc_b = y.doc_id
    ORDER BY cosine DESC, doc_a ASC, doc_b ASC
    LIMIT 20
    """,
)
def sparse_cosine_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar document pairs by idf-weighted sparse cosine,
    via an inverted-index self-join (no dense vectors, no LSH).

    The scalability lever is the DF CAP: a token held by f documents
    generates f^2 candidate pairs, so dropping high-df (stopword-like)
    tokens before the self-join bounds the quadratic blowup — the same
    move DIMSUM/DISCO make, and those tokens carry ~zero idf weight
    anyway, so the dropped mass barely moves the scores. The cap is
    RARITY-RELATIVE (round-10 verdict task 2): an absolute cap went
    vacuous as the corpus grew (at sf0.1 every token's df exceeded 40,
    emptying the weight table), and a corpus-fraction cap fails the
    other way (as the corpus grows with a widening vocabulary,
    fraction*n eventually exceeds every token's df and the gate passes
    the stopword-dense tokens — quadratic blowup). The gate is
    max(40, 4 * min_df): the rarest token always passes (never
    vacuous), and surviving tokens generate at most (4*min_df)^2
    candidate pairs each — work tracks the corpus's rarity structure,
    not its raw size, so 20x growth with fresh vocabulary costs 20x
    (probe row in PERFORMANCE.md). If a corpus has NO rare tokens
    (min_df ~ n), rare-token candidate generation is the wrong tool
    and the documented escalation is DIMSUM-style sampling. The cap and
    corpus size are materialized as scalars first (two tiny jobs — the
    sanctioned pattern at tpch_extra.py q22), so the rarity filter
    applies to the df table's own token-partitioned agg output BEFORE
    the join and the join runs token-keyed — NO broadcast of the
    vocabulary-sized table anywhere in the plan (round-11 verdict: the
    previous revision broadcast the full token→df table, unbounded at
    100 TB). Norm tables are one row per doc — also data-sized, so they
    carry no broadcast hint either; AQE auto-broadcasts them at small
    scale and falls back to a doc-keyed shuffle join when they grow."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).distinct()
    df = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    cap_value = int(
        df.agg(
            F.greatest(
                F.lit(_DF_CAP), F.lit(_DF_CAP_RARITY) * F.min("df")
            ).alias("cap")
        ).collect()[0]["cap"]
    )  # scalar subquery: one tiny job over the df agg
    n_value = float(d.count())  # scalar: corpus size
    wv = tok.join(df.filter(F.col("df") <= F.lit(cap_value)), "token").select(
        "doc_id", "token", F.log(F.lit(n_value) / F.col("df")).alias("w")
    )
    nrm = wv.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = wv.alias("a")
    b = wv.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    x = nrm.alias("x")
    y = nrm.alias("y")
    return (
        dots.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("dot") / (F.col("x.nrm") * F.col("y.nrm")), 6).alias(
                "cosine"
            ),
        )
        .orderBy(F.col("cosine").desc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(20)
    )


@query(
    "contrastive_pair_mining",
    oracle="""
    WITH vecs AS (
        SELECT vec_id, label,
               CAST(((vec_id % 1000003) * 2654435761) % 1000003 % 16 AS BIGINT) AS blk,
               CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings),
    pos AS (
        SELECT vec_id, pos_id, pos_cos FROM (
            SELECT a.vec_id, b.vec_id AS pos_id,
                   ROUND(list_cosine_similarity(a.e, b.e), 4) AS pos_cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY ROUND(list_cosine_similarity(a.e, b.e), 4) DESC,
                                b.vec_id ASC) AS rn
            FROM vecs a JOIN vecs b
              ON a.label = b.label AND a.vec_id <> b.vec_id)
        WHERE rn = 1),
    neg AS (
        SELECT vec_id, neg_id, neg_cos FROM (
            SELECT a.vec_id, b.vec_id AS neg_id,
                   ROUND(list_cosine_similarity(a.e, b.e), 4) AS neg_cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY ROUND(list_cosine_similarity(a.e, b.e), 4) DESC,
                                b.vec_id ASC) AS rn
            FROM vecs a JOIN vecs b
              ON a.blk = b.blk AND a.label <> b.label)
        WHERE rn = 1)
    SELECT p.vec_id, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
           ROUND(p.pos_cos - n.neg_cos, 4) AS margin
    FROM pos p JOIN neg n ON p.vec_id = n.vec_id
    """,
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-learning data prep: for every anchor embedding, mine
    the hardest POSITIVE (most similar same-label vector) and the
    hardest NEGATIVE (most similar different-label vector inside the
    anchor's hash block) plus the resulting margin — the triplet/InfoNCE
    mining step of embedding-model training.

    Positives join on the label key (bounded by class size); negatives
    are blocked by a portable multiplicative hash — the distributed
    analogue of in-batch negative mining, where the "batch" is the hash
    block, keeping the pair space linear in corpus size at fixed block
    width. Each group is scored by ONE numpy GEMM inside applyInPandas
    (the same Arrow fast path as dedup_embedding_cosine) instead of a
    per-pair JVM fold — |group|^2 dot products collapse into a single
    vectorized matmul, and the per-anchor argmax happens inside the task
    so only one row per anchor ever shuffles. Tie-breaks are
    deterministic (cosine desc, id asc): columns are sorted by id and
    np.argmax takes the first maximum. At corpus scale the label/block
    groups would be sub-blocked exactly like dedup_embedding_cosine's
    B-block fanout; block width is the knob that bounds task memory."""
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        (((F.col("vec_id") % 1000003) * 2654435761) % 1000003 % 16).alias("blk"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )

    def hardest(by_label: bool) -> DataFrame:
        out_schema = "vec_id bigint, other_id bigint, cos double"

        def mine(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("vec_id").reset_index(drop=True)
            ids = pdf["vec_id"].to_numpy()
            E = np.vstack(pdf["emb"].to_numpy())
            E = E / np.linalg.norm(E, axis=1, keepdims=True)
            C = np.round(E @ E.T, 4)
            if by_label:
                # positives: exclude self only (group IS one label)
                np.fill_diagonal(C, -np.inf)
            else:
                # negatives: exclude same-label pairs within the block
                lab = pdf["label"].to_numpy()
                C[lab[:, None] == lab[None, :]] = -np.inf
            j = np.argmax(C, axis=1)  # first max -> smallest other_id
            best = C[np.arange(len(ids)), j]
            keep = np.isfinite(best)
            return pd.DataFrame(
                {"vec_id": ids[keep], "other_id": ids[j[keep]], "cos": best[keep]}
            )

        key = "label" if by_label else "blk"
        return e.groupBy(key).applyInPandas(mine, out_schema)

    pos = hardest(True).select(
        "vec_id", F.col("other_id").alias("pos_id"), F.col("cos").alias("pos_cos")
    )
    neg = hardest(False).select(
        "vec_id", F.col("other_id").alias("neg_id"), F.col("cos").alias("neg_cos")
    )
    return pos.join(neg, "vec_id").select(
        "vec_id",
        "pos_id",
        "pos_cos",
        "neg_id",
        "neg_cos",
        F.round(F.col("pos_cos") - F.col("neg_cos"), 4).alias("margin"),
    )


# --- MMR diversified retrieval --------------------------------------------

_MMR_K = 5
_MMR_LAMBDA = 0.7


def _mmr_oracle() -> str:
    cos = "ROUND(list_cosine_similarity({a}, {b}), 6)"
    head = f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0),
    cands AS MATERIALIZED (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS e,
               {cos.format(a="CAST(e.embedding AS DOUBLE[])", b="q.qe")} AS rel
        FROM embeddings e, q WHERE e.vec_id > 0),
    sel1 AS MATERIALIZED (
        SELECT vec_id, e, rel, rel AS mmr, 1 AS rank
        FROM cands ORDER BY rel DESC, vec_id LIMIT 1)"""
    ctes = [head]
    for k in range(2, _MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id, e FROM sel{j}" for j in range(1, k)
        )
        sim = cos.format(a="c.e", b="s.e")
        ctes.append(f"""
    sel{k} AS MATERIALIZED (
        SELECT c.vec_id, c.e, c.rel,
               ROUND({_MMR_LAMBDA} * c.rel
                     - {round(1 - _MMR_LAMBDA, 10)} * MAX({sim}), 6) AS mmr,
               {k} AS rank
        FROM cands c, ({prev}) s
        WHERE c.vec_id NOT IN (SELECT vec_id FROM ({prev}))
        GROUP BY c.vec_id, c.e, c.rel
        ORDER BY mmr DESC, c.vec_id LIMIT 1)""")
    union = " UNION ALL ".join(
        f"SELECT rank, vec_id, rel, mmr FROM sel{j}"
        for j in range(1, _MMR_K + 1)
    )
    return (
        ",".join(ctes)
        + f"""
    SELECT rank, CAST(vec_id AS BIGINT) AS vec_id,
           ROUND(rel, 6) AS relevance, ROUND(mmr, 6) AS mmr_score
    FROM ({union})
    ORDER BY rank
    """
    )


@query("sim_mmr_diversified_topk", oracle=_mmr_oracle())
def sim_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein):
    greedily pick 5 results for query vec 0 maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-picked (λ=0.7) — the
    standard diversification pass between ANN retrieval and what a user
    (or a RAG context window) actually sees; without it the top-k is
    five near-copies of the same document.

    Each greedy round is ONE distributed argmax over a map-side
    expression: the ≤k already-picked vectors are DRIVER state, so
    round 13 inlines them as array LITERALS — max-sim-to-selected is
    F.greatest over k inline cosine folds — instead of broadcasting a
    selected-set frame and re-grouping the pool BY THE EMBEDDING ARRAY
    (an array-keyed hash aggregate + exchange per round; measured at
    sf0.1 the swap takes the query from 5.99 s / 19 jobs to 2.25 s /
    11 jobs min-of-4). The candidate norm is projected once next to the
    persisted relevance; the selected norms fold in Python with the
    same sequential order as sq_norm, so every pairwise cosine is
    bit-identical to the joined form. Similarities round to 6 dp before
    max/argmax, so both engines pick identical vectors (ties fall to
    the smaller vec_id)."""
    import math

    from pyspark.sql import types as T

    emb = table(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qe")
    )
    cands = (
        emb.filter(F.col("vec_id") > 0)
        .crossJoin(F.broadcast(qdf))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("e"),
            F.round(
                dot("embedding", F.col("qe"))
                / (l2_norm("embedding") * l2_norm(F.col("qe"))),
                6,
            ).alias("rel"),
            l2_norm("embedding").alias("e_norm"),
        )
        .transform(_persisted)
    )

    def _seq_norm(vs: list) -> float:
        acc = 0.0
        for v in vs:
            acc += v * v
        return math.sqrt(acc)

    picked: list = []  # (rank, vec_id, rel, mmr) result rows
    selected: list = []  # (sel_id, sel_e, sel_norm) driver state, <= k
    for rank in range(1, _MMR_K + 1):
        pool = cands.filter(
            ~F.col("vec_id").isin([s[0] for s in selected])
            if selected
            else F.lit(True)
        )
        if not selected:
            scored = pool.select("vec_id", "e", "rel", F.col("rel").alias("mmr"))
        else:
            sims = [
                F.round(
                    dot("e", F.lit(se)) / (F.col("e_norm") * F.lit(sn)), 6
                )
                for (_sid, se, sn) in selected
            ]
            max_sim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            scored = pool.select(
                "vec_id",
                "e",
                "rel",
                F.round(
                    F.lit(_MMR_LAMBDA) * F.col("rel")
                    - F.lit(round(1 - _MMR_LAMBDA, 10)) * max_sim,
                    6,
                ).alias("mmr"),
            )
        top = scored.orderBy(F.col("mmr").desc(), "vec_id").limit(1).collect()[0]
        picked.append((rank, top["vec_id"], float(top["rel"]), float(top["mmr"])))
        selected.append((top["vec_id"], list(top["e"]), _seq_norm(list(top["e"]))))
    cands.unpersist()  # the result is driver rows: nothing reads cands again
    out_schema = T.StructType(
        [
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("relevance", T.DoubleType(), False),
            T.StructField("mmr_score", T.DoubleType(), False),
        ]
    )
    return local_frame(spark, picked, out_schema).orderBy("rank")


# --- kNN-distance outliers ------------------------------------------------

_OUT_REFS = 64  # reference-set size (vec_id < _OUT_REFS)
_OUT_K = 5
_OUT_TOPN = 20


@query(
    "embedding_knn_outlier_score",
    oracle=f"""
    WITH refs AS (
        SELECT vec_id AS ref_id, CAST(embedding AS DOUBLE[]) AS re
        FROM embeddings WHERE vec_id < {_OUT_REFS}),
    cand AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE vec_id >= {_OUT_REFS}),
    d AS (
        SELECT c.vec_id, r.ref_id,
               ROUND(list_distance(c.e, r.re) * list_distance(c.e, r.re), 6)
                   AS d2,
               ROW_NUMBER() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY ROUND(list_distance(c.e, r.re)
                                  * list_distance(c.e, r.re), 6), r.ref_id)
                   AS rn
        FROM cand c CROSS JOIN refs r),
    score AS (
        SELECT vec_id,
               ROUND(CAST(SUM(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE)
                     / {_OUT_K}, 6) AS knn_dist_avg
        FROM d WHERE rn <= {_OUT_K}
        GROUP BY vec_id)
    SELECT vec_id, knn_dist_avg
    FROM score
    ORDER BY knn_dist_avg DESC, vec_id
    LIMIT {_OUT_TOPN}
    """,
)
def embedding_knn_outlier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-distance outlier scoring for embedding hygiene: each vector's
    mean squared distance to its 5 nearest of 64 fixed reference
    vectors; the 20 highest scores are the embeddings most likely to be
    garbage (truncated inputs, wrong modality, encoder NaN-squash) —
    the cheap screen run before any embedding enters an ANN index or a
    SemDeDup pass.

    The reference set rides a broadcast, so the corpus never shuffles:
    score = per-vector window over a bounded 64-row fanout, exactly the
    IVF-probe topology. Distances round to 6 dp BEFORE ranking and the
    top-5 mean accumulates in DECIMAL, so both engines rank and score
    identically."""
    emb = table(spark, sf_dir, "embeddings")
    refs = emb.filter(F.col("vec_id") < _OUT_REFS).select(
        F.col("vec_id").alias("ref_id"),
        F.col("embedding").cast("array<double>").alias("re"),
    )
    cand = emb.filter(F.col("vec_id") >= _OUT_REFS).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    diff2 = F.zip_with("e", "re", lambda x, y: (x - y) * (x - y))
    d2 = F.round(F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v), 6)
    w = Window.partitionBy("vec_id").orderBy("d2", "ref_id")
    d = (
        cand.crossJoin(F.broadcast(refs))
        .select("vec_id", "ref_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _OUT_K)
    )
    return (
        d.groupBy("vec_id")
        .agg(
            F.round(
                F.sum(F.col("d2").cast("decimal(38,6)")).cast("double") / _OUT_K, 6
            ).alias("knn_dist_avg")
        )
        .orderBy(F.col("knn_dist_avg").desc(), "vec_id")
        .limit(_OUT_TOPN)
    )


# --- late-interaction (MaxSim) retrieval ----------------------------------

_LI_SUBS = 4
_LI_SUBDIM = 16
_LI_TOPN = 10


@query(
    "sim_maxsim_late_interaction",
    oracle=f"""
    WITH q AS (
        SELECT s.s AS qsub,
               (CAST(embedding AS DOUBLE[]))
                   [s.s * {_LI_SUBDIM} + 1 : s.s * {_LI_SUBDIM} + {_LI_SUBDIM}]
                   AS qv
        FROM embeddings, unnest(generate_series(0, {_LI_SUBS - 1})) AS s(s)
        WHERE vec_id = 0),
    d AS (
        SELECT vec_id, s.s AS dsub,
               (CAST(embedding AS DOUBLE[]))
                   [s.s * {_LI_SUBDIM} + 1 : s.s * {_LI_SUBDIM} + {_LI_SUBDIM}]
                   AS dv
        FROM embeddings, unnest(generate_series(0, {_LI_SUBS - 1})) AS s(s)
        WHERE vec_id > 0),
    best AS (
        SELECT d.vec_id, q.qsub,
               MAX(ROUND(list_cosine_similarity(d.dv, q.qv), 6)) AS m
        FROM d CROSS JOIN q
        GROUP BY d.vec_id, q.qsub),
    score AS (
        SELECT vec_id,
               ROUND(CAST(SUM(CAST(m AS DECIMAL(38,6))) AS DOUBLE), 6) AS maxsim
        FROM best GROUP BY vec_id)
    SELECT vec_id, maxsim
    FROM score
    ORDER BY maxsim DESC, vec_id
    LIMIT {_LI_TOPN}
    """,
)
def sim_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) retrieval: treat each
    vector's 4 sixteen-dim subvectors as token embeddings; a document
    scores Σ over query tokens of its best-matching document token —
    the interaction pattern that beats single-vector cosine when
    queries have multiple aspects, and the shape a real multi-vector
    index (token embeddings per passage) plugs straight into.

    The 4 query subvectors ride a broadcast against the exploded
    document-subvector scan (constant 4x); per-(doc, query-token)
    maxima reduce in one aggregate, and the 4-term MaxSim sum
    accumulates rounded maxima in DECIMAL — both engines rank
    identically."""
    emb = table(spark, sf_dir, "embeddings")
    sub_of = lambda s: F.slice(
        F.transform("embedding", lambda x: x.cast("double")),
        s * _LI_SUBDIM + 1,
        _LI_SUBDIM,
    )
    subs = F.array(
        *[
            F.struct(F.lit(s).alias("subidx"), sub_of(s).alias("sv"))
            for s in range(_LI_SUBS)
        ]
    )
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.explode(subs).alias("t"))
        .select(F.col("t.subidx").alias("qsub"), F.col("t.sv").alias("qv"))
    )
    d = (
        emb.filter(F.col("vec_id") > 0)
        .select("vec_id", F.explode(subs).alias("t"))
        .select("vec_id", F.col("t.sv").alias("dv"))
    )
    cos = F.round(
        dot("dv", F.col("qv")) / (l2_norm("dv") * l2_norm(F.col("qv"))), 6
    )
    best = (
        d.crossJoin(F.broadcast(q))
        .groupBy("vec_id", "qsub")
        .agg(F.max(cos).alias("m"))
    )
    return (
        best.groupBy("vec_id")
        .agg(
            F.round(
                F.sum(F.col("m").cast("decimal(38,6)")).cast("double"), 6
            ).alias("maxsim")
        )
        .orderBy(F.col("maxsim").desc(), "vec_id")
        .limit(_LI_TOPN)
    )


_MINE_K = 4
_MINE_TOPN = 20
_MINE_BLOCK = 2048


@query(
    "crosslingual_margin_mining",
    oracle=f"""
    WITH src AS (SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings WHERE label = 0),
    tgt AS (SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE label = 1),
    pairs AS (
        SELECT s.src_id, t.tgt_id,
               list_cosine_similarity(s.e, t.e) AS cos
        FROM src s, tgt t),
    rs AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                                        ORDER BY cos DESC, tgt_id ASC) AS rk
           FROM pairs),
    rt AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY tgt_id
                                        ORDER BY cos DESC, src_id ASC) AS rk
           FROM pairs),
    ks AS (SELECT src_id,
                  CAST(SUM(CAST(cos AS DECIMAL(38,12))) AS DOUBLE)
                      / {_MINE_K} AS knn_s
           FROM rs WHERE rk <= {_MINE_K} GROUP BY src_id),
    kt AS (SELECT tgt_id,
                  CAST(SUM(CAST(cos AS DECIMAL(38,12))) AS DOUBLE)
                      / {_MINE_K} AS knn_t
           FROM rt WHERE rk <= {_MINE_K} GROUP BY tgt_id)
    SELECT p.src_id, p.tgt_id, ROUND(p.cos, 6) AS cosine,
           ROUND(p.cos / ((ks.knn_s + kt.knn_t) / 2.0), 6) AS margin
    FROM pairs p JOIN ks USING (src_id) JOIN kt USING (tgt_id)
    ORDER BY ROUND(p.cos / ((ks.knn_s + kt.knn_t) / 2.0), 6) DESC,
             p.src_id ASC, p.tgt_id ASC
    LIMIT {_MINE_TOPN}
    """,
)
def crosslingual_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019 — the method
    behind CCMatrix/LASER parallel-corpus construction): candidate
    pairs between two embedding spaces (label 0 = source 'language',
    label 1 = target) scored by cosine NORMALIZED by both sides'
    k-NN neighborhood density — margin = cos(x,y) / ((knn_k(x) +
    knn_k(y))/2) — which suppresses hub vectors that are close to
    everything. Top-20 mined pairs.

    All-pairs mining is inherently O(|src| x |tgt|) work, so the shape
    matters: a per-pair HOF fold measured QUADRATIC wall time in the
    20x probe (144x), while this form runs the product as BLOCKED
    GEMMs (dedup_embedding_cosine's topology, two passes):

    1. hash both slices into ~2k-row blocks, fan out the Bs x Bt block
       pairs, one numpy matmul per pair emitting each row's LOCAL
       top-k cosines; a mergeable groupBy top-k reduces partials to
       each vector's exact global k-NN mean (DECIMAL-summed).
    2. a second GEMM pass re-scores each block pair with both knn maps
       joined on, emits only the block-local top-N by margin, and a
       global TakeOrdered keeps the final 20.

    Shuffles carry k rows per (vector, opposite block) in pass 1 and N
    rows per block pair in pass 2 — never the pair matrix. At corpus
    scale the same margin runs over ANN candidate lists (sim_ann_*)
    instead of all blocks; geometry and normalization are unchanged."""
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    src = e.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("id"), "emb"
    )
    tgt = e.filter(F.col("label") == 1).select(
        F.col("vec_id").alias("id"), "emb"
    )
    ns, nt = src.count(), tgt.count()
    Bs = max(1, -(-ns // _MINE_BLOCK))
    Bt = max(1, -(-nt // _MINE_BLOCK))
    sb = src.withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(Bs)).cast("int"))
    tb = tgt.withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(Bt)).cast("int"))
    block_pairs = local_frame(
        spark, [(i, j) for i in range(Bs) for j in range(Bt)], "ba int, bb int"
    )
    left = sb.join(F.broadcast(block_pairs), sb.blk == block_pairs.ba).select(
        "ba", "bb", F.lit(0).alias("role"), "id", "emb"
    )
    right = tb.join(F.broadcast(block_pairs), tb.blk == block_pairs.bb).select(
        "ba", "bb", F.lit(1).alias("role"), "id", "emb"
    )
    tagged = left.unionByName(right)

    def local_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"side": [], "id": [], "cos": []}).astype(
            {"side": str, "id": "int64", "cos": "float64"}
        )
        lhs, rhs = pdf[pdf["role"] == 0], pdf[pdf["role"] == 1]
        if lhs.empty or rhs.empty:
            return empty
        A = np.vstack(lhs["emb"].to_numpy())
        C = np.vstack(rhs["emb"].to_numpy())
        cos = (A @ C.T) / np.outer(
            np.sqrt((A * A).sum(axis=1)), np.sqrt((C * C).sum(axis=1))
        )
        k = _MINE_K
        out = []
        top_s = -np.sort(-cos, axis=1)[:, :k]
        for row, vid in zip(top_s, lhs["id"].to_numpy()):
            for c in row:
                out.append(("s", vid, c))
        top_t = -np.sort(-cos.T, axis=1)[:, :k]
        for row, vid in zip(top_t, rhs["id"].to_numpy()):
            for c in row:
                out.append(("t", vid, c))
        return pd.DataFrame(out, columns=["side", "id", "cos"])

    partials = tagged.groupBy("ba", "bb").applyInPandas(
        local_topk, "side string, id bigint, cos double"
    )
    knn = (
        partials.groupBy("side", "id")
        .agg(
            F.slice(F.sort_array(F.collect_list("cos"), asc=False), 1, _MINE_K).alias(
                "top"
            )
        )
        .select(
            "side",
            "id",
            (
                F.aggregate(
                    "top",
                    F.lit(0).cast("decimal(38,12)"),
                    lambda acc, x: (acc + x.cast("decimal(38,12)")).cast(
                        "decimal(38,12)"
                    ),
                ).cast("double")
                / _MINE_K
            ).alias("knn"),
        )
    ).transform(_persisted)
    ks = knn.filter(F.col("side") == "s").select("id", F.col("knn").alias("knn_s"))
    kt = knn.filter(F.col("side") == "t").select("id", F.col("knn").alias("knn_t"))
    left2 = left.join(ks.hint("shuffle_hash"), "id").select(
        "ba", "bb", "role", "id", "emb", F.col("knn_s").alias("knn")
    )
    right2 = right.join(kt.hint("shuffle_hash"), "id").select(
        "ba", "bb", "role", "id", "emb", F.col("knn_t").alias("knn")
    )
    tagged2 = left2.unionByName(right2)

    def local_margin(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"src_id": [], "tgt_id": [], "cosine": [], "margin": []}
        ).astype(
            {"src_id": "int64", "tgt_id": "int64", "cosine": "float64", "margin": "float64"}
        )
        lhs, rhs = pdf[pdf["role"] == 0], pdf[pdf["role"] == 1]
        if lhs.empty or rhs.empty:
            return empty
        A = np.vstack(lhs["emb"].to_numpy())
        C = np.vstack(rhs["emb"].to_numpy())
        cos = (A @ C.T) / np.outer(
            np.sqrt((A * A).sum(axis=1)), np.sqrt((C * C).sum(axis=1))
        )
        denom = (
            lhs["knn"].to_numpy()[:, None] + rhs["knn"].to_numpy()[None, :]
        ) / 2.0
        # Block-local selection uses the SAME order the oracle ranks by
        # globally — ROUNDED margin desc, then (src_id, tgt_id) asc —
        # so rounds-equal boundary pairs are kept/cut identically in
        # both engines at any scale factor (round-3 advice: selecting
        # by the unrounded margin risked a different top-N tail).
        margin = np.round(cos / denom, 6)
        flat = margin.ravel()
        n_keep = min(_MINE_TOPN, flat.size)
        # O(n) partition finds the n-th largest ROUNDED value; only the
        # candidates at-or-above it (top n plus rounds-equal boundary
        # ties, a tiny set) pay the O(m log m) lexsort.
        vth = -np.partition(-flat, n_keep - 1)[n_keep - 1]
        cand = np.nonzero(flat >= vth)[0]
        ia_c, jb_c = np.unravel_index(cand, margin.shape)
        sid = lhs["id"].to_numpy()[ia_c]
        tid = rhs["id"].to_numpy()[jb_c]
        order = np.lexsort((tid, sid, -flat[cand]))[:n_keep]
        ia, jb = ia_c[order], jb_c[order]
        return pd.DataFrame(
            {
                "src_id": lhs["id"].to_numpy()[ia],
                "tgt_id": rhs["id"].to_numpy()[jb],
                "cosine": np.round(cos[ia, jb], 6),
                "margin": margin[ia, jb],
            }
        )

    return (
        tagged2.groupBy("ba", "bb")
        .applyInPandas(
            local_margin,
            "src_id bigint, tgt_id bigint, cosine double, margin double",
        )
        .orderBy(F.col("margin").desc(), F.col("src_id").asc(), F.col("tgt_id").asc())
        .limit(_MINE_TOPN)
    )
