"""Training-data pipeline operators (north star extension).

The split / sample / redact verbs every LLM-corpus pipeline needs in
front of training: deterministic hash-based train/val/test assignment,
per-stratum deterministic downsampling, and PII redaction. All pure
column expressions (JVM-side), all DuckDB-oracled.

Determinism policy: splits and samples are driven by the same
polynomial character hash used for fingerprinting
(``functions.textfns.poly_hash`` — SQL-reproducible via
``list_reduce``), NOT by ``rand()``. At 100 TB a reshuffle-stable,
engine-independent assignment is what makes experiments reproducible
and lets train/test membership be recomputed from the key alone —
no assignment table to store or join.

The reference has no training surface (it stops at bronze ingest,
/root/reference/README.md:58-72); this module is part of the
BASELINE.json north-star extension set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.textfns import poly_hash, shingles, tokens
from ..registry import query
from ..sources.batch import local_frame
from ..functions.ranks import persisted as _persisted

# DuckDB mirror of poly_hash over an arbitrary string expression.
_POLY_SQL = (
    "list_reduce(list_transform(generate_series(1, LENGTH({e})), "
    "i -> CAST(ascii(({e})[i:i]) AS BIGINT)), (acc, x) -> (acc * 131 + x) % 1000000007)"
)


def _bucket(col: Column, n: int = 100) -> Column:
    """Deterministic [0, n) bucket from a string key."""
    return poly_hash(col) % n


def _bucket_sql(expr: str, n: int = 100) -> str:
    return f"({_POLY_SQL.format(e=expr)} % {n})"


@query(
    "split_train_val_test",
    oracle=f"""
    SELECT doc_id,
           {_bucket_sql("CAST(doc_id AS VARCHAR)")} AS bucket,
           CASE WHEN {_bucket_sql("CAST(doc_id AS VARCHAR)")} < 80 THEN 'train'
                WHEN {_bucket_sql("CAST(doc_id AS VARCHAR)")} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by key hash.

    Membership is a pure function of ``doc_id`` — stable across runs,
    partitionings and engines, and requires no stored assignment table.
    Map-side only: zero shuffles at any scale."""
    d = table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id").cast("string"))
    return d.select(
        "doc_id",
        b.alias("bucket"),
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    )


_SAMPLE_KEY = "'samp:' || CAST(doc_id AS VARCHAR)"
_RATE_SQL = "CASE lang WHEN 'en' THEN 20 WHEN 'es' THEN 50 ELSE 100 END"


@query(
    "sample_stratified_hash",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN {_bucket_sql(_SAMPLE_KEY)} < {_RATE_SQL}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN {_bucket_sql(_SAMPLE_KEY)} < {_RATE_SQL}
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS kept_ratio
    FROM documents
    GROUP BY lang
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: keep 20% of 'en', 50% of
    'es', 100% of everything else — the language-rebalancing step of a
    corpus mix, driven by a seeded key hash instead of ``rand()`` so the
    sample is reproducible and join-stable. Reports per-language
    kept/total. (The kept rows themselves are the same filter without
    the aggregate.)"""
    d = table(spark, sf_dir, "documents")
    b = _bucket(F.concat(F.lit("samp:"), F.col("doc_id").cast("string")))
    rate = F.when(F.col("lang") == "en", 20).when(F.col("lang") == "es", 50).otherwise(100)
    kept = (b < rate).cast("long")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(kept).alias("n_kept"),
        F.round(F.sum(kept) / F.count(F.lit(1)), 4).alias("kept_ratio"),
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+[0-9][0-9-]{5,}[0-9]"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH enriched AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com or +1-555-0' || CAST(doc_id % 100 AS VARCHAR)
                    || '22' AS with_pii
        FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(with_pii, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(with_pii, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(with_pii, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM enriched
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: mask emails and phone numbers, count occurrences.

    The synthetic corpus carries no PII, so the query deterministically
    plants one email + one phone per document first (making the
    redaction verifiable end-to-end), then redacts — the redaction
    expressions themselves are exactly what runs on a real corpus.
    Pure JVM regex, map-side only."""
    d = table(spark, sf_dir, "documents")
    with_pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-0"),
        (F.col("doc_id") % 100).cast("string"),
        F.lit("22"),
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(with_pii, F.lit(_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(with_pii, F.lit(_PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(with_pii, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("redacted"),
    )


# --- chunking / packing / quantization --------------------------------------


@query(
    "text_chunk_fixed_tokens",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    st AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), 24)) AS s
           FROM w)
    SELECT doc_id,
           CAST((s - 1) // 24 AS BIGINT)              AS chunk_id,
           CAST(len(toks[s : s + 31]) AS BIGINT)      AS n_chunk_tokens,
           array_to_string(toks[s : s + 31], ' ')     AS chunk_text
    FROM st
    """,
)
def text_chunk_fixed_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training: 32-token windows with 8-token
    overlap (stride 24) — the context-window prep step between raw docs
    and tokenization. Pure HOFs (sequence + slice), map-side only; the
    explode multiplies rows, never shuffles. The tail chunk is short by
    design (packing handles padding)."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = F.split(F.col("text"), " ")
    st = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(1), F.size(toks), F.lit(24))).alias("s"),
    )
    chunk = F.slice(F.col("toks"), F.col("s"), 32)
    return st.select(
        "doc_id",
        F.floor((F.col("s") - 1) / 24).cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@query(
    "pack_sequences_budget",
    oracle="""
    WITH t AS (SELECT doc_id, lang,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n
               FROM documents),
    c AS (SELECT doc_id, lang, n,
                 CAST(COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING), 0) AS BIGINT) AS off
          FROM t)
    SELECT lang,
           CAST(off // 512 AS BIGINT)       AS bin_id,
           COUNT(*)                         AS n_docs,
           CAST(SUM(n) AS BIGINT)           AS bin_tokens
    FROM c
    GROUP BY lang, bin_id
    """,
)
def pack_sequences_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-then-chunk): documents are laid out in
    deterministic doc_id order per language shard and assigned to
    512-token training bins by their cumulative token offset — exactly
    how pre-training concatenates a shard and slices context windows.
    The running sum is windowed PER LANGUAGE shard, so parallelism at
    100 TB comes from the shard key (a real pipeline packs per file
    split); no global single-task sort exists in the plan."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", F.size(F.split(F.col("text"), " ")).cast("long").alias("n")
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = t.withColumn("off", F.coalesce(F.sum("n").over(w), F.lit(0)))
    return (
        c.select("lang", F.floor(F.col("off") / 512).cast("long").alias("bin_id"), "n")
        .groupBy("lang", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("bin_tokens"))
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    s AS (SELECT vec_id, emb,
                 list_min(emb) AS qmin, list_max(emb) AS qmax,
                 (list_max(emb) - list_min(emb)) / 255 AS scale
          FROM e)
    SELECT vec_id, qmin, qmax,
           CAST(len(emb) AS BIGINT) AS n_dims,
           CAST(CASE WHEN qmax > qmin
                     THEN list_sum(list_transform(emb,
                          x -> CAST(round((x - qmin) / scale) AS BIGINT)))
                     ELSE 0 END AS BIGINT) AS qsum
    FROM s
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 (0..255) scalar quantization of embeddings — the
    4x storage/bandwidth reduction step before ANN indexing at scale.
    Min/max/scale per vector, quantized codes via one HOF pass; the
    checksum (sum of codes) plus qmin/qmax make the op hash-verifiable
    without emitting 128 columns. All arithmetic is IEEE double from
    identical inputs, so Spark and DuckDB agree bit-for-bit."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    s = e.select(
        "vec_id",
        "emb",
        F.array_min("emb").alias("qmin"),
        F.array_max("emb").alias("qmax"),
        ((F.array_max("emb") - F.array_min("emb")) / 255).alias("scale"),
    )
    codes = F.transform(
        "emb", lambda x: F.round((x - F.col("qmin")) / F.col("scale")).cast("long")
    )
    qsum = F.aggregate(codes, F.lit(0).cast("long"), lambda acc, v: acc + v)
    return s.select(
        "vec_id",
        "qmin",
        "qmax",
        F.size("emb").cast("long").alias("n_dims"),
        F.when(F.col("qmax") > F.col("qmin"), qsum).otherwise(F.lit(0)).cast("long").alias("qsum"),
    )


@query(
    "ids_contiguous_global",
    oracle="""
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS global_id
    FROM documents
    """,
)
def ids_contiguous_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 0-based global ids in doc_id order — the shard/example
    numbering every training run needs — WITHOUT the single-partition
    global window a naive ``row_number() OVER (ORDER BY ...)`` plans.

    Two-pass zipWithIndex on DataFrames: (1) range-partition by the
    order key, so partition i holds strictly smaller keys than i+1;
    (2) per-partition sizes (a P-row aggregate) become cumulative
    offsets, broadcast-joined back; (3) ids = offset + local
    row_number within the partition. Every pass is fully parallel; the
    only driver-side state is P integers. The partitioned frame is
    persisted so both passes see identical range boundaries."""
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartitionByRange(spark.sparkContext.defaultParallelism, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .transform(_persisted)
    )
    sizes = {r["pid"]: r["n"] for r in d.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()}
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    off_df = local_frame(spark, offsets, "pid int, off long")

    from pyspark.sql import Window

    local = F.row_number().over(Window.partitionBy("pid").orderBy("doc_id"))
    return (
        d.withColumn("rn", local)
        .join(F.broadcast(off_df), "pid")
        .select("doc_id", (F.col("off") + F.col("rn") - 1).alias("global_id"))
    )


_WRS_A = 1103515245
_WRS_M = 1000003
_WRS_K = 25


@query(
    "weighted_sample_topk",
    oracle=f"""
    WITH pri AS (
        SELECT doc_id, source, n_chars,
               POWER((((doc_id % {_WRS_M}) * {_WRS_A} + 12345) % {_WRS_M}) / {_WRS_M}.0,
                     1.0 / n_chars) AS priority
        FROM documents)
    SELECT doc_id, source, n_chars, ROUND(priority, 9) AS priority
    FROM pri
    ORDER BY priority DESC, doc_id ASC
    LIMIT {_WRS_K}
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-Res): each row gets priority u^(1/w) for a uniform u and weight w
    (here: document length), and the global top-k by priority IS a
    weighted sample — long documents proportionally more likely, yet
    every row decided independently.

    This is THE distributed weighted sampler: no pass over cumulative
    weights, no rejection loop — one map-side priority expression and a
    TakeOrderedAndProject (per-partition heaps of k rows, then a k-row
    merge on the driver). The uniform comes from a multiplicative hash
    of the key rather than rand(), making the sample deterministic and
    engine-portable — the property the oracle check depends on, and the
    property that makes reruns of a 100 TB sampling job reproducible."""
    d = table(spark, sf_dir, "documents")
    u = (((F.col("doc_id") % _WRS_M) * _WRS_A + 12345) % _WRS_M) / float(_WRS_M)
    pri = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.pow(u, 1.0 / F.col("n_chars")), 9).alias("priority"),
    )
    return pri.orderBy(F.col("priority").desc(), F.col("doc_id").asc()).limit(_WRS_K)


_RV_SHARDS = 8


@query(
    "rendezvous_shard_assign",
    oracle=f"""
    WITH cand AS (
        SELECT d.doc_id, s.shard,
               ((d.doc_id % 1000003) * 2654435761 + s.shard * 40503) % 999983 AS score
        FROM documents d
        CROSS JOIN (SELECT unnest(generate_series(0, {_RV_SHARDS - 1})) AS shard) s),
    best AS (
        SELECT doc_id, shard,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, shard ASC) AS rk
        FROM cand)
    SELECT shard, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM best WHERE rk = 1
    GROUP BY shard
    ORDER BY shard
    """,
)
def rendezvous_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding: each doc scores all
    8 shards with a portable hash and takes the argmax — the assignment
    scheme whose property modulo-hashing lacks: removing one shard
    reassigns ONLY that shard's keys (1/n of data moves, not (n-1)/n).

    Relationally: the shard list is a tiny generated dimension, the
    cross join is a broadcast replicate (8x map-side, no shuffle), and
    the argmax is max_by inside a map-side-combining aggregate keyed on
    doc_id — which collapses back to one row per doc before any
    exchange. At 100 TB this is a scan-shaped job: per-row arithmetic
    plus a final roll-up on the 8-row shard key."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    shards = spark.range(_RV_SHARDS).select(F.col("id").cast("int").alias("shard"))
    score = ((F.col("doc_id") % 1000003) * 2654435761 + F.col("shard") * 40503) % 999983
    best = (
        d.crossJoin(F.broadcast(shards))
        .select("doc_id", "shard", score.alias("score"))
        .groupBy("doc_id")
        .agg(F.expr("max_by(shard, struct(score, -shard))").alias("shard"))
    )
    return (
        best.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


@query(
    "corpus_mixture_weights",
    oracle="""
    WITH grouped AS (
        SELECT CASE lang WHEN 'en' THEN 'en' WHEN 'es' THEN 'es'
                         ELSE 'other' END AS mix_group,
               COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY 1),
    weighted AS (
        SELECT *, CAST(CASE mix_group WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.3
                                      ELSE 0.2 END AS DOUBLE) AS target_w
        FROM grouped),
    budget AS (SELECT MIN(n_tokens / target_w) AS total FROM weighted)
    SELECT mix_group, n_docs, n_tokens, target_w,
           ROUND(target_w * b.total / n_tokens, 6) AS sampling_rate,
           CAST(ROUND(target_w * b.total, 0) AS BIGINT) AS expected_tokens
    FROM weighted CROSS JOIN budget b
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture solver (the Pile / LLaMA-style source weighting):
    given target token-share weights per language group (en 0.5, es 0.3,
    other 0.2), find the largest single-epoch corpus satisfying them —
    total budget T = min_g(tokens_g / w_g) — and report each group's
    sampling rate (w_g*T / tokens_g, exactly 1.0 for the binding group)
    and expected token contribution.

    One aggregate over the corpus (token counts ride the same scan as
    the group-by), then pure arithmetic on a 3-row table with the scalar
    budget broadcast — the planning step that precedes
    sample_stratified_hash's execution step at any scale."""
    d = table(spark, sf_dir, "documents")
    grp = (
        F.when(F.col("lang") == "en", "en")
        .when(F.col("lang") == "es", "es")
        .otherwise("other")
    )
    grouped = d.groupBy(grp.alias("mix_group")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("n_tokens"),
    )
    w = (
        F.when(F.col("mix_group") == "en", 0.5)
        .when(F.col("mix_group") == "es", 0.3)
        .otherwise(0.2)
    )
    weighted = grouped.withColumn("target_w", w)
    budget = weighted.agg(
        F.min(F.col("n_tokens") / F.col("target_w")).alias("total")
    )
    return weighted.crossJoin(F.broadcast(budget)).select(
        "mix_group",
        "n_docs",
        "n_tokens",
        "target_w",
        F.round(F.col("target_w") * F.col("total") / F.col("n_tokens"), 6).alias(
            "sampling_rate"
        ),
        F.round(F.col("target_w") * F.col("total"), 0).cast("bigint").alias(
            "expected_tokens"
        ),
    )


@query(
    "sft_pack_conversations",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN datediff('second',
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
                         ts) > 1800
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events WHERE user_id % 17 = 0),
    numbered AS (
        SELECT user_id, event_id, ts, event_type,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_no
        FROM flagged),
    turns AS (
        SELECT user_id, session_no, event_id, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_no
                                  ORDER BY ts ASC, event_id ASC) AS rn,
               event_type
        FROM numbered)
    SELECT user_id,
           CAST(session_no AS BIGINT) AS session_no,
           COUNT(*) AS n_turns,
           COUNT(*) % 2 = 0 AS ends_with_assistant,
           string_agg(
               '<|' || CASE WHEN rn % 2 = 1 THEN 'user' ELSE 'assistant' END
               || '|>' || event_type || '#' || event_id,
               chr(10) ORDER BY rn) AS transcript
    FROM turns
    GROUP BY user_id, session_no
    """,
)
def sft_pack_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-format SFT data prep: turn per-user event streams into
    conversation transcripts — sessionize on a 30-minute inactivity gap,
    alternate user/assistant roles by turn parity, render each session
    as one chat-template string, and flag whether it ends on an
    assistant turn (the usual SFT validity requirement).

    Everything rides ONE shuffle on user_id: the gap flag, the running
    session number, the turn index and the ordered transcript
    aggregation all share that partitioning (the windows and the final
    group-by are co-keyed). The ordered concat is collect_list over
    (ts, event_id)-sorted structs — deterministic across engines and
    partitionings at any scale."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") % 17 == 0)
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (F.col("ts").cast("long") - prev_ts.cast("long") > 1800),
        1,
    ).otherwise(0)
    numbered = e.select(
        "user_id", "event_id", "ts", "event_type", is_new.alias("is_new")
    ).withColumn("session_no", F.sum("is_new").over(w_run).cast("bigint"))
    w_sess = Window.partitionBy("user_id", "session_no").orderBy(*order)
    turns = numbered.withColumn("rn", F.row_number().over(w_sess)).withColumn(
        "msg",
        F.concat(
            F.lit("<|"),
            F.when(F.col("rn") % 2 == 1, "user").otherwise("assistant"),
            F.lit("|>"),
            F.col("event_type"),
            F.lit("#"),
            F.col("event_id"),
        ),
    )
    return (
        turns.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            (F.count(F.lit(1)) % 2 == 0).alias("ends_with_assistant"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "msg"))),
                    lambda s: s.msg,
                ),
                "\n",
            ).alias("transcript"),
        )
        .select(
            "user_id", "session_no", "n_turns", "ends_with_assistant", "transcript"
        )
    )


@query(
    "rlhf_preference_pairs",
    oracle="""
    WITH ranked AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY value DESC, event_id ASC) AS rb,
               ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY value ASC, event_id ASC)  AS rw,
               COUNT(*)    OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS n
        FROM events WHERE user_id % 23 = 0),
    best AS (SELECT user_id, day, event_id AS chosen_id,
                    ROUND(value, 6) AS chosen_value
             FROM ranked WHERE rb = 1 AND n >= 2),
    worst AS (SELECT user_id, day, event_id AS rejected_id,
                     ROUND(value, 6) AS rejected_value
              FROM ranked WHERE rw = 1 AND n >= 2)
    SELECT b.user_id, b.day, b.chosen_id, b.chosen_value,
           w.rejected_id, w.rejected_value,
           ROUND(b.chosen_value - w.rejected_value, 6) AS reward_gap
    FROM best b JOIN worst w ON b.user_id = w.user_id AND b.day = w.day
    WHERE b.chosen_id <> w.rejected_id
    """,
)
def rlhf_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for DPO/RLHF reward modeling: within
    each (user, day) group — the stand-in for "responses to the same
    prompt" — pair the highest-scored interaction (chosen) with the
    lowest (rejected) and report the reward gap. Groups with one
    interaction or a degenerate tie (same event both ways) are dropped,
    as a preference pair needs two distinct sides.

    Both extreme picks are ranking windows over ONE shuffle on the group
    key with deterministic (value, event_id) tie-breaks; the best/worst
    join is co-partitioned on that same key. At 100 TB the group key is
    the prompt id and the shape is unchanged."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") % 23 == 0)
    g = e.select(
        "user_id", F.col("ts").cast("date").alias("day"), "event_id", "value"
    )
    w_best = Window.partitionBy("user_id", "day").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    w_worst = Window.partitionBy("user_id", "day").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    w_n = Window.partitionBy("user_id", "day")
    ranked = (
        g.withColumn("rb", F.row_number().over(w_best))
        .withColumn("rw", F.row_number().over(w_worst))
        .withColumn("n", F.count(F.lit(1)).over(w_n))
        .filter(F.col("n") >= 2)
    )
    best = ranked.filter(F.col("rb") == 1).select(
        "user_id",
        "day",
        F.col("event_id").alias("chosen_id"),
        F.round("value", 6).alias("chosen_value"),
    )
    worst = ranked.filter(F.col("rw") == 1).select(
        "user_id",
        "day",
        F.col("event_id").alias("rejected_id"),
        F.round("value", 6).alias("rejected_value"),
    )
    return (
        best.join(worst, ["user_id", "day"])
        .filter(F.col("chosen_id") != F.col("rejected_id"))
        .select(
            "user_id",
            "day",
            "chosen_id",
            "chosen_value",
            "rejected_id",
            "rejected_value",
            F.round(F.col("chosen_value") - F.col("rejected_value"), 6).alias(
                "reward_gap"
            ),
        )
    )


@query(
    "shard_manifest_checksums",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               {_POLY_SQL.format(e="'m:' || CAST(doc_id AS VARCHAR)")} % 8 AS shard_id,
               {_POLY_SQL.format(e="text")} AS row_fp
        FROM documents)
    SELECT CAST(shard_id AS BIGINT)          AS shard_id,
           COUNT(*)                          AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT)     AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT)      AS total_chars,
           CAST(SUM(row_fp) % 1000000007 AS BIGINT) AS content_checksum
    FROM assigned
    GROUP BY shard_id
    """,
)
def shard_manifest_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-release manifest: per training shard, the row count, token
    and char totals, and an ORDER-INDEPENDENT content checksum (sum of
    per-row fingerprints mod p) — what lets a consumer verify a
    multi-terabyte release shard-by-shard without re-reading it in any
    particular order, and lets the producer regenerate any shard and
    prove it identical.

    Shard assignment is the deterministic key hash (re-derivable from
    doc_id alone); the checksum is commutative so partial aggregation
    works and no sort is ever needed — one shuffle of 5-number rows per
    shard."""
    d = table(spark, sf_dir, "documents")
    shard = _bucket(F.concat(F.lit("m:"), F.col("doc_id").cast("string")), 8)
    row_fp = poly_hash(F.col("text"))
    return (
        d.select(
            shard.alias("shard_id"),
            "n_chars",
            F.size(F.split("text", " ")).alias("n_tokens"),
            row_fp.alias("row_fp"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            (F.sum("row_fp") % 1000000007).cast("bigint").alias("content_checksum"),
        )
    )


_NEYMAN_BUDGET = 1000


@query(
    "sample_neyman_allocation",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS nh,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        FROM events GROUP BY event_type),
    v AS (
        SELECT event_type, nh,
               SQRT((sxx - sx * sx / nh) / (nh - 1)) AS sh
        FROM s),
    tot AS (
        SELECT CAST(SUM(CAST(nh * sh AS DECIMAL(38,12))) AS DOUBLE) AS denom
        FROM v)
    SELECT v.event_type,
           CAST(v.nh AS BIGINT) AS n_stratum,
           ROUND(v.sh, 6) AS stddev,
           ROUND(v.nh * v.sh / t.denom, 6) AS allocation_share,
           CAST(ROUND({_NEYMAN_BUDGET} * v.nh * v.sh / t.denom, 0) AS BIGINT)
               AS n_sampled
    FROM v, tot t
    ORDER BY v.event_type
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation: given a
    {_NEYMAN_BUDGET}-row labeling/audit budget, each stratum gets
    n_h ∝ N_h·σ_h — the allocation minimizing the variance of the
    stratified mean estimator, and the principled upgrade to the
    proportional allocation `sample_stratified_hash` uses. The same
    math budgets eval-annotation across data sources.

    One grouped aggregate per stratum computes (N, Σx, Σx²) with
    DECIMAL accumulation (so σ_h is bit-stable), the normalizer is one
    5-row reduction riding a broadcast, and the shares are closed
    form."""
    s = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("nh"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sx"),
            F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
            .cast("double")
            .alias("sxx"),
        )
    )
    sh = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("nh"))
        / (F.col("nh") - 1)
    )
    v = s.select("event_type", "nh", sh.alias("sh"))
    tot = v.agg(
        F.sum((F.col("nh") * F.col("sh")).cast("decimal(38,12)"))
        .cast("double")
        .alias("denom")
    )
    share = F.col("nh") * F.col("sh") / F.col("denom")
    return (
        v.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("nh").cast("bigint").alias("n_stratum"),
            F.round("sh", 6).alias("stddev"),
            F.round(share, 6).alias("allocation_share"),
            F.round(_NEYMAN_BUDGET * share, 0).cast("bigint").alias("n_sampled"),
        )
        .orderBy("event_type")
    )


_RSV_A = 2654435761
_RSV_M = 1000003
_RSV_K = 10


@query(
    "sample_reservoir_per_group",
    oracle=f"""
    WITH pri AS (
        SELECT event_id, event_type,
               ((event_id % {_RSV_M}) * {_RSV_A} + 99991) % {_RSV_M} AS priority
        FROM events)
    SELECT event_id, event_type, priority FROM (
        SELECT event_id, event_type, priority,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY priority ASC, event_id ASC) AS rn
        FROM pri)
    WHERE rn <= {_RSV_K}
    """,
)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample per group (k=10 per event_type) — the
    distributed equivalent of per-group reservoir sampling: rows get a
    deterministic hash priority and each group keeps its k smallest.

    Hash priorities make the "random" choice a pure function of the
    row key, so the sample is reproducible across runs, engines and
    partitionings (a true reservoir is order-dependent — useless for
    parity or reruns). The per-group top-k is a rank window over one
    shuffle on the group key; map-side, nothing but (id, type, priority)
    triples move, and at 100 TB the same plan bounds output at
    k x |groups| rows."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (((F.col("event_id") % _RSV_M) * _RSV_A + 99991) % _RSV_M).alias("priority"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("priority").asc(), F.col("event_id").asc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RSV_K)
        .drop("rn")
    )


@query(
    "fim_psm_transform",
    oracle="""
    WITH sel AS (
        SELECT doc_id, text, LENGTH(text) AS L
        FROM documents WHERE LENGTH(text) >= 30),
    cuts AS (
        SELECT doc_id, text, L,
               1 + (doc_id * 37) % GREATEST(L // 3, 1) AS c1,
               L // 3 + 1 + (doc_id * 91) % GREATEST(L // 3, 1) AS c2
        FROM sel)
    SELECT doc_id,
           LENGTH(text[1:c1]) AS n_prefix,
           LENGTH(text[c1+1:c2]) AS n_middle,
           LENGTH(text[c2+1:L]) AS n_suffix,
           '<PRE>' || text[1:c1] || '<SUF>' || text[c2+1:L]
               || '<MID>' || text[c1+1:c2] AS psm_text
    FROM cuts
    """,
)
def fim_psm_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-Middle (FIM) training prep in PSM order: split each
    document at two DETERMINISTIC hash-derived cut points and re-emit
    as <PRE>prefix<SUF>suffix<MID>middle — the Bavarian et al.
    transformation that teaches causal LMs to infill. Hash-derived cuts
    make the corpus transform reproducible across runs and engines
    (rand() would re-randomize every retry — poison for resumable
    pipelines).

    Pure per-row string/integer arithmetic: map-side only, zero
    shuffles at any corpus size; the cut construction always leaves
    non-empty prefix/middle/suffix for docs >= 30 chars."""
    d = table(spark, sf_dir, "documents").filter(F.length("text") >= 30)
    L = F.length("text")
    third = F.greatest(F.floor(L / 3).cast("long"), F.lit(1))
    c1 = (1 + (F.col("doc_id") * 37) % third).cast("int")
    c2 = (F.floor(L / 3).cast("long") + 1 + (F.col("doc_id") * 91) % third).cast(
        "int"
    )
    pre = F.col("text").substr(F.lit(1), c1)
    mid = F.col("text").substr(c1 + 1, c2 - c1)
    suf = F.col("text").substr(c2 + 1, L - c2)
    return d.select(
        "doc_id",
        F.length(pre).alias("n_prefix"),
        F.length(mid).alias("n_middle"),
        F.length(suf).alias("n_suffix"),
        F.concat(
            F.lit("<PRE>"), pre, F.lit("<SUF>"), suf, F.lit("<MID>"), mid
        ).alias("psm_text"),
    )


@query(
    "t5_span_corruption_prep",
    oracle="""
    WITH sel AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id % 20 = 0),
    tok AS (
        SELECT doc_id,
               CAST(generate_subscripts(w, 1) AS BIGINT) AS pos,
               unnest(w) AS t
        FROM sel),
    tagged AS (
        SELECT doc_id, pos, t, pos // 3 AS g,
               (((doc_id % 1000003) * 2654435761 + (pos // 3) * 40503) % 100) < 15 AS masked
        FROM tok),
    spans AS (
        SELECT doc_id, g, MIN(pos) AS p0,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY MIN(pos)) AS k
        FROM tagged WHERE masked GROUP BY doc_id, g),
    corrupt_pieces AS (
        SELECT doc_id, pos * 2 AS ord, t AS piece FROM tagged WHERE NOT masked
        UNION ALL
        SELECT doc_id, p0 * 2, '<X' || k || '>' FROM spans),
    target_pieces AS (
        SELECT tg.doc_id, tg.pos * 2 + 1 AS ord, tg.t AS piece
        FROM tagged tg JOIN spans s ON tg.doc_id = s.doc_id AND tg.g = s.g
        WHERE tg.masked
        UNION ALL
        SELECT doc_id, p0 * 2, '<X' || k || '>' FROM spans),
    c AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY ord) AS corrupted
          FROM corrupt_pieces GROUP BY doc_id),
    t AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY ord) AS target
          FROM target_pieces GROUP BY doc_id),
    ns AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans
           FROM spans GROUP BY doc_id)
    SELECT c.doc_id, COALESCE(ns.n_spans, 0) AS n_spans, c.corrupted, t.target
    FROM c LEFT JOIN t USING (doc_id) LEFT JOIN ns USING (doc_id)
    WHERE ns.n_spans > 0
    """,
)
def t5_span_corruption_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2 span-corruption prep: ~15% of each document's 3-token
    spans are masked by a DETERMINISTIC (doc, span) hash; the encoder
    input replaces each masked span with a numbered sentinel <Xk>, and
    the decoder target lists each sentinel followed by the span it
    hides — the denoising-objective transform, reproducible across
    engines and retries.

    One tokenize+posexplode, one span table (per-doc window on the
    masked-span frame), and two ordered string re-aggregations keyed
    on doc_id — every shuffle is doc-keyed and linear; the interleave
    uses integer order keys (pos*2 / pos*2+1) so sentinel-before-span
    ordering needs no fractional hacks. Docs subsampled 1-in-20 to
    bound the hash-compare payload."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    tok = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "t"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "t")
    tagged = tok.select(
        "doc_id",
        "pos",
        "t",
        F.floor(F.col("pos") / 3).alias("g"),
        (
            (((F.col("doc_id") % 1000003) * 2654435761 + F.floor(F.col("pos") / 3) * 40503) % 100)
            < 15
        ).alias("masked"),
    ).transform(_persisted)
    w_k = Window.partitionBy("doc_id").orderBy("p0")
    spans = (
        tagged.filter("masked")
        .groupBy("doc_id", "g")
        .agg(F.min("pos").alias("p0"))
        .withColumn("k", F.row_number().over(w_k))
    )
    sentinel = F.concat(F.lit("<X"), F.col("k").cast("string"), F.lit(">"))
    corrupt_pieces = (
        tagged.filter(~F.col("masked"))
        .select("doc_id", (F.col("pos") * 2).alias("ord"), F.col("t").alias("piece"))
        .unionByName(
            spans.select(
                "doc_id", (F.col("p0") * 2).alias("ord"), sentinel.alias("piece")
            )
        )
    )
    target_pieces = (
        tagged.filter("masked")
        .join(spans.select("doc_id", "g"), ["doc_id", "g"])
        .select(
            "doc_id", (F.col("pos") * 2 + 1).alias("ord"), F.col("t").alias("piece")
        )
        .unionByName(
            spans.select(
                "doc_id", (F.col("p0") * 2).alias("ord"), sentinel.alias("piece")
            )
        )
    )

    def joined(pieces: DataFrame, out: str) -> DataFrame:
        return pieces.groupBy("doc_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("ord"), F.col("piece")))
                    ),
                    lambda s: s["piece"],
                ),
                " ",
            ).alias(out)
        )

    ns = spans.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    return (
        joined(corrupt_pieces, "corrupted")
        .join(joined(target_pieces, "target"), "doc_id")
        .join(ns, "doc_id")
        .filter(F.col("n_spans") > 0)
        .select("doc_id", "n_spans", "corrupted", "target")
    )


@query(
    "grpo_group_advantage",
    oracle="""
    WITH g AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_id, value,
               COUNT(*) OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6)))
                    OVER (PARTITION BY user_id, CAST(ts AS DATE))
                    AS DOUBLE) AS s,
               CAST(SUM(CAST(value * value AS DECIMAL(38,6)))
                    OVER (PARTITION BY user_id, CAST(ts AS DATE))
                    AS DOUBLE) AS ss
        FROM events)
    SELECT user_id, day, event_id, value,
           CAST(n AS BIGINT) AS group_n,
           ROUND(CASE WHEN n < 2 OR ss / n - POWER(s / n, 2) <= 0 THEN 0.0
                      ELSE (value - s / n)
                           / SQRT(ss / n - POWER(s / n, 2)) END, 6) + 0.0
               AS advantage
    FROM g
    ORDER BY user_id, day, event_id
    """,
)
def grpo_group_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative advantage normalization (the GRPO estimator,
    DeepSeekMath 2024): rewards sampled for the same prompt — here the
    (user, day) group stands in for 'rollouts of one prompt' — are
    centered and scaled by the GROUP's own mean/std instead of a
    learned value baseline: A_i = (r_i - mean_g) / std_g, 0 for
    degenerate groups (singleton or zero variance).

    This is the advantage computation an RLHF data pipeline runs over
    billions of rollouts: one window partitioning on the prompt key
    carries count, sum and sum-of-squares together (population
    variance from moments — no second pass), so the whole op is one
    shuffle. Moment sums ride DECIMAL so both engines normalize by the
    identical statistics.

    The ``+ 0.0`` on the rounded advantage (both sides) normalizes IEEE
    negative zero: a tiny negative advantage rounds to -0.0 under
    Spark's BigDecimal HALF_UP but to 0.0 in DuckDB — equal under
    ``==`` yet bitwise/repr-distinct, which the round-8 sf0.1 sweep
    caught as a sort-alignment mismatch (no such row exists at
    sf0.01). ``x + 0.0`` is the standard IEEE-754 sign-of-zero
    canonicalization: exact identity for every finite x, -0.0 -> +0.0."""
    w = Window.partitionBy("user_id", "day")
    e = table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day"), "event_id", "value"
    )
    g = e.select(
        "*",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double").alias("s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("ss"),
    )
    var = F.col("ss") / F.col("n") - F.pow(F.col("s") / F.col("n"), 2)
    adv = F.when((F.col("n") < 2) | (var <= 0), F.lit(0.0)).otherwise(
        (F.col("value") - F.col("s") / F.col("n")) / F.sqrt(var)
    )
    return g.select(
        "user_id",
        "day",
        "event_id",
        "value",
        F.col("n").cast("bigint").alias("group_n"),
        (F.round(adv, 6) + F.lit(0.0)).alias("advantage"),
    ).orderBy("user_id", "day", "event_id")


@query(
    "bradley_terry_one_step",
    oracle="""
    WITH day_ev AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type, event_id, value
        FROM events),
    duel AS (
        SELECT a.event_type AS winner, b.event_type AS loser
        FROM day_ev a JOIN day_ev b
          ON a.user_id = b.user_id AND a.day = b.day
         AND a.event_type <> b.event_type
         AND (a.value > b.value
              OR (a.value = b.value AND a.event_id < b.event_id))),
    wins AS (SELECT winner AS item, COUNT(*) AS w FROM duel GROUP BY winner),
    games AS (
        SELECT item, CAST(SUM(c) AS BIGINT) AS n FROM (
            SELECT winner AS item, COUNT(*) AS c FROM duel GROUP BY winner
            UNION ALL
            SELECT loser, COUNT(*) FROM duel GROUP BY loser)
        GROUP BY item)
    SELECT g.item AS event_type, CAST(COALESCE(wins.w, 0) AS BIGINT) AS wins,
           g.n AS comparisons,
           ROUND(2.0 * COALESCE(wins.w, 0) / g.n, 6) AS bt_strength
    FROM games g LEFT JOIN wins ON g.item = wins.item
    ORDER BY event_type
    """,
)
def bradley_terry_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One minorization-maximization step of Bradley-Terry preference
    strengths (Hunter 2004 — the fitting loop inside reward-model and
    arena-leaderboard pipelines): pairwise duels between event types
    within each (user, day) context (higher value wins, deterministic
    id tie-break), then from the uniform initialization s=1 the MM
    update collapses to s_i' = w_i / (n_i/2) = 2*w_i/n_i — exactly
    what the closed-form oracle pins. Further iterations reuse the
    same duel aggregate (w_i and the pair counts), never the raw data.

    The duel join is keyed on the bounded (user, day) context — at
    100 TB the context is the prompt id and group sizes are the
    rollout count, so the pair fanout is k^2 per prompt, not corpus-
    quadratic. Everything after the duel table is counting."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day"), "event_type", "event_id", "value"
    )
    a = e.select("user_id", "day", F.col("event_type").alias("wt"),
                 F.col("event_id").alias("wid"), F.col("value").alias("wv"))
    b = e.select("user_id", "day", F.col("event_type").alias("lt"),
                 F.col("event_id").alias("lid"), F.col("value").alias("lv"))
    duel = a.join(b, ["user_id", "day"]).filter(
        (F.col("wt") != F.col("lt"))
        & (
            (F.col("wv") > F.col("lv"))
            | ((F.col("wv") == F.col("lv")) & (F.col("wid") < F.col("lid")))
        )
    ).select(F.col("wt").alias("winner"), F.col("lt").alias("loser"))
    duel = duel.transform(_persisted)
    wins = duel.groupBy(F.col("winner").alias("item")).agg(F.count(F.lit(1)).alias("w"))
    games = (
        duel.select(F.col("winner").alias("item"))
        .unionAll(duel.select(F.col("loser").alias("item")))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        games.join(wins, "item", "left")
        .select(
            F.col("item").alias("event_type"),
            F.coalesce(F.col("w"), F.lit(0)).cast("bigint").alias("wins"),
            F.col("n").cast("bigint").alias("comparisons"),
            F.round(2.0 * F.coalesce(F.col("w"), F.lit(0)) / F.col("n"), 6).alias(
                "bt_strength"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "ul2_denoiser_mix",
    oracle="""
    WITH base AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
               ((doc_id % 1000003) * 2654435761) % 4 AS h
        FROM documents),
    routed AS (
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CASE WHEN h <= 1 THEN 'R' WHEN h = 2 THEN 'S' ELSE 'X' END
                   AS denoiser
        FROM base)
    SELECT doc_id, denoiser, n_tokens,
           CAST(CASE denoiser
                WHEN 'R' THEN GREATEST(n_tokens * 15 // 100 // 3, 1)
                WHEN 'X' THEN GREATEST(n_tokens * 30 // 100 // 8, 1)
                ELSE 0 END AS BIGINT) AS n_spans,
           CAST(CASE denoiser WHEN 'S' THEN n_tokens * 3 // 4 ELSE 0 END
                AS BIGINT) AS prefix_len,
           ROUND(CASE denoiser
                 WHEN 'R' THEN GREATEST(n_tokens * 15 // 100 // 3, 1) * 3.0
                               / n_tokens
                 WHEN 'X' THEN GREATEST(n_tokens * 30 // 100 // 8, 1) * 8.0
                               / n_tokens
                 ELSE (n_tokens - n_tokens * 3 // 4) * 1.0 / n_tokens
                 END, 4) AS corrupt_frac
    FROM routed
    ORDER BY doc_id
    """,
)
def ul2_denoiser_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UL2 mixture-of-denoisers routing (Tay et al. 2022): every
    document is deterministically assigned one of the three denoising
    objectives — R (regular T5-style: 3-token spans, ~15% corruption),
    S (sequential / prefix-LM: predict the last quarter from the first
    three), X (extreme: 8-token spans, ~30% corruption) at the 2:1:1
    paper mixture — and the per-objective span/prefix geometry is
    computed so the downstream packer knows each example's
    input/target shape. Complements t5_span_corruption_prep (which
    materializes one objective's actual spans); this op is the
    ROUTING + geometry layer that makes the mixture reproducible:
    assignment is a pure hash of doc_id (pre-modded so the product
    stays in BIGINT at any scale), so re-runs, engines and shards
    agree without coordination.

    Map-only: one projection over the corpus, no shuffle at all —
    the ideal 100 TB shape."""
    n_tok = F.size(F.split("text", " ")).cast("bigint")
    h = ((F.col("doc_id") % 1000003) * 2654435761) % 4
    den = (
        F.when(h <= 1, "R").when(h == 2, "S").otherwise("X")
    )
    d = table(spark, sf_dir, "documents").select(
        "doc_id", n_tok.alias("n_tokens"), den.alias("denoiser")
    )
    r_spans = F.greatest(
        F.floor(F.floor(F.col("n_tokens") * 15 / 100) / 3), F.lit(1)
    )
    x_spans = F.greatest(
        F.floor(F.floor(F.col("n_tokens") * 30 / 100) / 8), F.lit(1)
    )
    prefix = F.floor(F.col("n_tokens") * 3 / 4)
    n_spans = (
        F.when(F.col("denoiser") == "R", r_spans)
        .when(F.col("denoiser") == "X", x_spans)
        .otherwise(0)
        .cast("bigint")
    )
    prefix_len = (
        F.when(F.col("denoiser") == "S", prefix).otherwise(0).cast("bigint")
    )
    frac = (
        F.when(F.col("denoiser") == "R", r_spans * 3.0 / F.col("n_tokens"))
        .when(F.col("denoiser") == "X", x_spans * 8.0 / F.col("n_tokens"))
        .otherwise((F.col("n_tokens") - prefix) * 1.0 / F.col("n_tokens"))
    )
    return d.select(
        "doc_id",
        "denoiser",
        "n_tokens",
        n_spans.alias("n_spans"),
        prefix_len.alias("prefix_len"),
        F.round(frac, 4).alias("corrupt_frac"),
    ).orderBy("doc_id")


# --- group-leakage split audit ----------------------------------------------


@query(
    "split_group_leakage_audit",
    oracle=f"""
    WITH ev AS (
        SELECT user_id,
               CASE WHEN {_bucket_sql("'ev:' || CAST(event_id AS VARCHAR)")} < 80
                    THEN 'train' ELSE 'test' END AS by_event,
               CASE WHEN {_bucket_sql("'usr:' || CAST(user_id AS VARCHAR)")} < 80
                    THEN 'train' ELSE 'test' END AS by_user
        FROM events),
    audits AS (
        SELECT 'by_event' AS strategy,
               SUM(CASE WHEN by_event = 'train' THEN 1 ELSE 0 END) AS n_train,
               SUM(CASE WHEN by_event = 'test' THEN 1 ELSE 0 END) AS n_test,
               COUNT(DISTINCT CASE WHEN by_event = 'train' THEN user_id END)
                 + COUNT(DISTINCT CASE WHEN by_event = 'test' THEN user_id END)
                 - COUNT(DISTINCT user_id) AS n_leaked_users
        FROM ev
        UNION ALL
        SELECT 'by_user',
               SUM(CASE WHEN by_user = 'train' THEN 1 ELSE 0 END),
               SUM(CASE WHEN by_user = 'test' THEN 1 ELSE 0 END),
               COUNT(DISTINCT CASE WHEN by_user = 'train' THEN user_id END)
                 + COUNT(DISTINCT CASE WHEN by_user = 'test' THEN user_id END)
                 - COUNT(DISTINCT user_id)
        FROM ev)
    SELECT strategy,
           CAST(n_train AS BIGINT) AS n_train,
           CAST(n_test AS BIGINT) AS n_test,
           CAST(n_leaked_users AS BIGINT) AS n_leaked_users,
           n_leaked_users = 0 AS leakage_free
    FROM audits
    ORDER BY strategy
    """,
)
def split_group_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-leakage audit of train/test splitting — the classic ML
    hygiene check: splitting at the ROW level (hash of event_id) puts
    the same user on both sides, so any user-level signal leaks into
    the test set; splitting at the GROUP level (hash of user_id) keeps
    each entity wholly on one side. Both strategies are evaluated on
    the same scan: leaked entities = |train users| + |test users| -
    |all users| (inclusion-exclusion, so no self-join), and the
    ``leakage_free`` certificate is structurally TRUE for the group
    split and (on any multi-event user base) FALSE for the row split.

    One pass, two aggregates; the distinct counts are keyed shuffles.
    The same poly-hash both engines share drives the buckets, so the
    audit itself is reproducible across engines and reruns."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.when(
            _bucket(F.concat(F.lit("ev:"), F.col("event_id").cast("string"))) < 80,
            "train",
        )
        .otherwise("test")
        .alias("by_event"),
        F.when(
            _bucket(F.concat(F.lit("usr:"), F.col("user_id").cast("string"))) < 80,
            "train",
        )
        .otherwise("test")
        .alias("by_user"),
    )

    def audit(col: str) -> DataFrame:
        leaked = (
            F.count_distinct(
                F.when(F.col(col) == "train", F.col("user_id"))
            )
            + F.count_distinct(F.when(F.col(col) == "test", F.col("user_id")))
            - F.count_distinct("user_id")
        )
        return ev.agg(
            F.sum((F.col(col) == "train").cast("int")).cast("bigint").alias("n_train"),
            F.sum((F.col(col) == "test").cast("int")).cast("bigint").alias("n_test"),
            leaked.cast("bigint").alias("n_leaked_users"),
        ).select(F.lit(col).alias("strategy"), "*")

    return (
        audit("by_event")
        .unionByName(audit("by_user"))
        .withColumn("leakage_free", F.col("n_leaked_users") == 0)
        .orderBy("strategy")
    )


# --- MoE router load-balance audit -------------------------------------------

_MOE_E = 8  # experts


# Deterministic hash-logit stand-in: a multiplicative integer hash per
# expert (distinct odd multipliers), pure arithmetic in both engines —
# a per-char string hash here would dominate the query at 8 logits/row.
_MOE_MULT = [2654435761, 2246822519, 3266489917, 668265263,
             374761393, 2654435769, 2166136261, 40503]


def _moe_logit_sql(e: int) -> str:
    # event_id is folded mod 1e6+3 first so the product stays far from
    # BIGINT overflow at any conceivable id range
    return (
        f"(((((event_id % 1000003) * {_MOE_MULT[e]} + {e * 7919 + 1})"
        f" % 1000000007) % 1000) / 250.0 - 2.0)"
    )


@query(
    "moe_router_load_balance",
    oracle=f"""
    WITH logits AS (
        SELECT event_id,
               [{", ".join(_moe_logit_sql(e) for e in range(_MOE_E))}] AS lg
        FROM events),
    probs AS (
        SELECT event_id, lg,
               list_transform(lg, x -> EXP(x)) AS ex,
               list_sum(list_transform(lg, x -> EXP(x))) AS z,
               list_indexof(lg, list_max(lg)) AS chosen
        FROM logits),
    pe AS (
        SELECT t.e AS expert,
               COUNT(*) AS n_total,
               SUM(CASE WHEN p.chosen = t.e THEN 1 ELSE 0 END) AS n_routed,
               SUM(p.ex[t.e] / p.z) AS sum_prob
        FROM probs p, unnest(generate_series(1, {_MOE_E})) AS t(e)
        GROUP BY t.e),
    scored AS (
        SELECT expert,
               n_routed,
               n_routed * 1.0 / n_total AS frac_routed,
               sum_prob / n_total AS mean_prob
        FROM pe),
    aux AS (SELECT {_MOE_E} * SUM(frac_routed * mean_prob) AS aux_loss
            FROM scored)
    SELECT s.expert,
           CAST(s.n_routed AS BIGINT) AS n_routed,
           ROUND(s.frac_routed, 6) AS frac_routed,
           ROUND(s.mean_prob, 6) AS mean_prob,
           ROUND(a.aux_loss, 6) AS aux_loss
    FROM scored s CROSS JOIN aux a
    ORDER BY s.expert
    """,
)
def moe_router_load_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-of-experts router load-balance audit (the Switch
    Transformer auxiliary loss): with per-token router probabilities
    P and top-1 assignments, aux = E * sum_e f_e * P̄_e, minimized at
    uniform routing (aux = 1) and blowing up as experts collapse. The
    router here is a deterministic hash-logit stand-in (same polynomial
    hash in both engines), so the full softmax -> argmax -> per-expert
    aggregate topology is exercised end to end and engine-portable;
    production swaps the logit column for the real router's output.

    Scale shape: softmax and argmax are per-row higher-order array
    functions (map-side, codegen'd); the expert fan-out multiplies rows
    by E=8 only AT the aggregate boundary where partial aggregation
    collapses them before the shuffle. One scan, one E-row result."""
    e = table(spark, sf_dir, "events")
    logits = F.array(
        *[
            (
                F.pmod(
                    F.pmod(
                        F.pmod(F.col("event_id"), F.lit(1000003)) * _MOE_MULT[i]
                        + (i * 7919 + 1),
                        F.lit(1000000007),
                    ),
                    F.lit(1000),
                )
                / 250.0
                - 2.0
            )
            for i in range(_MOE_E)
        ]
    )
    probs = e.select(
        logits.alias("lg"),
        F.transform(logits, lambda x: F.exp(x)).alias("ex"),
    ).select(
        "lg",
        "ex",
        F.aggregate("ex", F.lit(0.0), lambda a, x: a + x).alias("z"),
        F.array_position(F.col("lg"), F.array_max("lg")).alias("chosen"),
    )
    fan = probs.select(
        F.posexplode("ex").alias("e0", "exv"),
        "z",
        "chosen",
    ).select(
        (F.col("e0") + 1).alias("expert"),
        (F.col("exv") / F.col("z")).alias("prob"),
        (F.col("chosen") == F.col("e0") + 1).cast("int").alias("routed"),
    )
    pe = fan.groupBy("expert").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("routed").alias("n_routed"),
        F.sum("prob").alias("sum_prob"),
    )
    scored = pe.select(
        "expert",
        "n_routed",
        (F.col("n_routed") / F.col("n_total")).alias("frac_routed"),
        (F.col("sum_prob") / F.col("n_total")).alias("mean_prob"),
    )
    aux = scored.agg(
        (_MOE_E * F.sum(F.col("frac_routed") * F.col("mean_prob"))).alias("aux_loss")
    )
    return (
        scored.crossJoin(F.broadcast(aux))
        .select(
            "expert",
            F.col("n_routed").cast("bigint").alias("n_routed"),
            F.round("frac_routed", 6).alias("frac_routed"),
            F.round("mean_prob", 6).alias("mean_prob"),
            F.round("aux_loss", 6).alias("aux_loss"),
        )
        .orderBy("expert")
    )


# --- Efraimidis-Spirakis weighted sampling -----------------------------------

_ES_K = 20
_ES_U_SQL = (
    "(" + _POLY_SQL.format(e="'es:' || CAST(doc_id AS VARCHAR)") + " % 1000000 + 1) / 1000001.0"
)


@query(
    "sample_weighted_es",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, n_chars, LN({_ES_U_SQL}) / n_chars AS k
        FROM documents)
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS weight,
           ROUND(k * 1000000, 6) AS es_key_ppm
    FROM keyed
    ORDER BY k DESC, doc_id ASC
    LIMIT {_ES_K}
    """,
)
def sample_weighted_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement in one distributed pass —
    Efraimidis-Spirakis (2006): each row gets key u^(1/w) for uniform
    u and weight w; the k largest keys ARE a weighted sample without
    replacement. Equivalently (monotone transform, numerically safer)
    rank by ln(u)/w descending.

    This is the primitive behind weight-proportional corpus subsetting
    (sample long documents more often, or quality-score-proportional
    retention) that needs NO global state: the key is a map-side
    expression, selection is a TakeOrderedAndProject (per-partition
    top-k, then a k*P-row merge on the driver — never a global sort),
    and determinism comes from the same portable polynomial hash both
    engines compute, not an RNG. At 100 TB: one scan, k rows out.

    Weight here is ``n_chars`` (longer docs proportionally likelier);
    u is (poly_hash % 1e6 + 1)/ (1e6+1), bounded away from 0 and 1 so
    ln(u) is finite. The es_key is emitted in ppm rounded to 6 dp —
    last-ulp libm differences between engines sit far below both the
    rounding grain and typical key gaps."""
    d = table(spark, sf_dir, "documents")
    u = (
        F.pmod(
            poly_hash(F.concat(F.lit("es:"), F.col("doc_id").cast("string"))),
            F.lit(1_000_000),
        )
        + 1
    ) / 1_000_001.0
    k = F.log(u) / F.col("n_chars")
    return (
        d.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            k.alias("_k"),
        )
        .orderBy(F.col("_k").desc(), F.col("doc_id").asc())
        .limit(_ES_K)
        .select(
            "doc_id",
            "weight",
            F.round(F.col("_k") * 1_000_000, 6).alias("es_key_ppm"),
        )
    )


# --- DPO implicit-reward audit ---------------------------------------------------

_DPO_BETA = 0.1


@query(
    "rlhf_dpo_implicit_reward",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
        SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        FROM words, unnest(generate_series(1, len(w) - 1)) AS t(i)),
    uni AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
    bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    nxt AS (SELECT w2, COUNT(*) AS c2 FROM bg GROUP BY w2),
    v AS (SELECT CAST(COUNT(DISTINCT w2) AS DOUBLE) AS vocab,
                 CAST(COUNT(*) AS DOUBLE) AS total FROM bg),
    scored AS (
        SELECT b.doc_id,
               CAST(SUM(CAST(LN((m.c12 + 1.0) / (u.c1 + v.vocab))
                             AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS lp_pol,
               CAST(SUM(CAST(LN((n.c2 + 1.0) / (v.total + v.vocab))
                             AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS lp_ref
        FROM bg b
        JOIN bi m ON b.w1 = m.w1 AND b.w2 = m.w2
        JOIN uni u ON b.w1 = u.w1
        JOIN nxt n ON b.w2 = n.w2
        CROSS JOIN v
        GROUP BY b.doc_id),
    rewards AS (
        SELECT doc_id, {_DPO_BETA} * (lp_pol - lp_ref) AS r FROM scored),
    prs AS (
        SELECT CASE WHEN ca.n_chars >= cb.n_chars THEN ca.doc_id
                    ELSE cb.doc_id END AS chosen,
               CASE WHEN ca.n_chars >= cb.n_chars THEN cb.doc_id
                    ELSE ca.doc_id END AS rejected
        FROM documents ca JOIN documents cb ON cb.doc_id = ca.doc_id + 1
        WHERE ca.doc_id % 2 = 0),
    m AS (
        SELECT rc.r - rr.r AS margin
        FROM prs p JOIN rewards rc ON rc.doc_id = p.chosen
                   JOIN rewards rr ON rr.doc_id = p.rejected)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(CASE WHEN margin > 0 THEN 1.0 ELSE 0.0 END), 6)
               AS dpo_accuracy,
           ROUND(CAST(SUM(CAST(margin AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_margin
    FROM m
    """,
)
def rlhf_dpo_implicit_reward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO implicit-reward audit (Rafailov et al. 2023): the quantity
    DPO training monitors is r(x) = beta * (log pi_policy(x) -
    log pi_ref(x)), and its ACCURACY on preference pairs — how often
    the chosen completion's implicit reward beats the rejected one's —
    is the go/no-go signal before a checkpoint ships. Here the policy
    is the corpus Laplace-smoothed bigram LM, the reference the
    unigram LM (the exact model pair of doc_bigram_logprob /
    lm_stupid_backoff), and preference pairs are even/odd documents
    with the LONGER document preferred (a fixed, declared heuristic
    label — the audit machinery is what the operator demonstrates).

    Plan: one bigram explode feeds all three count tables AND the
    scoring stream (the relational-KenLM move); every count/probe join
    shuffles on xxhash64-encoded 8-byte keys, never prose strings (the
    lm_stupid_backoff discipline); per-doc log-scores reduce with
    DECIMAL sums so partition order can't move them; the pair join is
    key arithmetic."""
    d = table(spark, sf_dir, "documents")
    bg = (
        d.select("doc_id", tokens("text").alias("_w"))
        .select("doc_id", F.explode(shingles(F.col("_w"), 2)).alias("bigram"))
        .select(
            "doc_id",
            # keys dictionary-encoded to xxhash64 longs at the scan (the
            # lm_stupid_backoff discipline): the output carries only
            # per-doc aggregates, so the oracle's string joins and these
            # long joins agree by injectivity
            F.xxhash64(F.split(F.col("bigram"), " ").getItem(0)).alias("w1"),
            F.xxhash64(F.split(F.col("bigram"), " ").getItem(1)).alias("w2"),
        )
        .transform(_persisted)
    )
    uni = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    bi = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    nxt = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    v = bg.agg(
        F.countDistinct("w2").cast("double").alias("vocab"),
        F.count(F.lit(1)).cast("double").alias("total"),
    )
    dec12 = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    scored = (
        bg.join(bi, ["w1", "w2"])
        .join(uni.hint("shuffle_hash"), "w1")
        .join(nxt.hint("shuffle_hash"), "w2")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            (dec12(F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("vocab"))))
             / F.count(F.lit(1))).alias("lp_pol"),
            (dec12(F.log((F.col("c2") + 1.0) / (F.col("total") + F.col("vocab"))))
             / F.count(F.lit(1))).alias("lp_ref"),
        )
    )
    rewards = scored.select(
        "doc_id", (F.lit(_DPO_BETA) * (F.col("lp_pol") - F.col("lp_ref"))).alias("r")
    )
    ca = d.select(F.col("doc_id").alias("da"), F.col("n_chars").alias("na"))
    cb = d.select((F.col("doc_id") - 1).alias("da"), F.col("doc_id").alias("db"),
                  F.col("n_chars").alias("nb"))
    prs = (
        ca.filter(F.col("da") % 2 == 0)
        .join(cb, "da")
        .select(
            F.when(F.col("na") >= F.col("nb"), F.col("da")).otherwise(F.col("db")).alias("chosen"),
            F.when(F.col("na") >= F.col("nb"), F.col("db")).otherwise(F.col("da")).alias("rejected"),
        )
    )
    rc = rewards.select(F.col("doc_id").alias("chosen"), F.col("r").alias("rc"))
    rr = rewards.select(F.col("doc_id").alias("rejected"), F.col("r").alias("rr"))
    m = prs.join(rc, "chosen").join(rr, "rejected").select(
        (F.col("rc") - F.col("rr")).alias("margin")
    )
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.avg(F.when(F.col("margin") > 0, 1.0).otherwise(0.0)), 6).alias(
            "dpo_accuracy"
        ),
        F.round(dec12(F.col("margin")) / F.count(F.lit(1)), 6).alias("mean_margin"),
    )
