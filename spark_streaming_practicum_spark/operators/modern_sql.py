"""Modern-SQL pack: the Spark 4 surface a DuckDB-shell user of the
reference would expect when moving their ad-hoc query layer
(reference `src/duckdb/.duckdbrc:19-26` delegates ALL querying to a
DuckDB shell) onto the engine itself.

Everything here is a Spark 4.x built-in — no UDFs, no driver loops —
so each query stays inside Catalyst/whole-stage-codegen and scales by
partitioning like any other relational plan:

- VARIANT (`parse_json`/`variant_get`): binary semi-structured
  encoding; typed-path extraction is evaluated columnar-side, unlike
  string re-parsing per row.
- Recursive CTEs (`WITH RECURSIVE`, Spark 4.0+): iterative plans
  expressed declaratively; each recursion step is a distributed join.
- SQL pipe syntax (`|>`): same logical plan as nested SQL, linear
  notation.
- `listagg ... WITHIN GROUP` ordered string aggregation.
- `approx_top_k`: sketch-based heavy hitters (mergeable across
  partitions -> one shuffle of sketch bytes, not raw rows).
- Theta sketches: mergeable distinct-count sketches that, unlike HLL,
  support INTERSECTION/DIFFERENCE set algebra — at 100 TB, audience
  overlap is computed from KB-sized sketches instead of a
  multi-terabyte distinct join.
- `from_xml`: schema-bound XML record parsing (the XML sibling of the
  reference's `from_json` ingest at `src/consumer/batch_parsers.py:134-141`).
- SQL scalar UDFs (`CREATE FUNCTION ... RETURN expr`): reusable logic
  that Catalyst INLINES into the calling plan (still codegen'd; not a
  black-box Python UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from ..functions.ranks import persisted as _persisted


@query(
    "scalar_variant_json",
    oracle="""
    SELECT event_type,
           COUNT(*)                                          AS n,
           CAST(SUM(k_val) AS BIGINT)                        AS sum_k,
           MIN(k_val)                                        AS min_k,
           MAX(k_val)                                        AS max_k
    FROM (SELECT event_type,
                 CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
          FROM events)
    WHERE k_val IS NOT NULL
    GROUP BY event_type
    """,
)
def scalar_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ingestion of the `events.props` JSON payload: parse once
    into the binary variant encoding, then typed-path extraction with
    `variant_get`. At scale this replaces per-query string re-parsing —
    variant decode is a columnar kernel, and the extraction result is a
    plain BIGINT column the optimizer can push around. Integer SUM, so
    no float-order concern in the oracle hash."""
    e = table(spark, sf_dir, "events")
    k = e.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k_val"),
    )
    return (
        k.filter(F.col("k_val").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k_val").alias("sum_k"),
            F.min("k_val").alias("min_k"),
            F.max("k_val").alias("max_k"),
        )
    )


_REACH_SQL = """
    WITH RECURSIVE edges AS (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM {lineitem} l
        JOIN {orders}   o ON l.l_orderkey = o.o_orderkey
        JOIN {customer} c ON o.o_custkey  = c.c_custkey
        JOIN {supplier} s ON l.l_suppkey  = s.s_suppkey
        WHERE c.c_nationkey < s.s_nationkey
    ),
    reach(dst, hops) AS (
        SELECT dst, 1 FROM edges WHERE src = 0
        UNION ALL
        SELECT e.dst, r.hops + 1
        FROM reach r JOIN edges e ON e.src = r.dst
        WHERE r.hops < 3
    )
    SELECT dst AS nationkey, MIN(hops) AS min_hops
    FROM reach
    GROUP BY dst
"""


@query(
    "recursive_cte_reachability",
    oracle=_REACH_SQL.format(
        lineitem="lineitem", orders="orders", customer="customer", supplier="supplier"
    ),
)
def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.0+): shortest hop count from nation 0 over
    the directed (src < dst, hence acyclic) trade graph derived from
    lineitem⋈orders⋈customer⋈supplier, bounded at 3 hops. The recursion
    is declared in SQL — each step is a distributed hash join against the
    (tiny, reusable) edge table, the same frontier-expansion plan our
    hand-rolled connected-components loop builds imperatively
    (operators/graph.py). The MIN/GROUP BY collapse makes the result
    path-order independent, so it is exactly oracle-able."""
    return spark.sql(
        _REACH_SQL,
        lineitem=table(spark, sf_dir, "lineitem"),
        orders=table(spark, sf_dir, "orders"),
        customer=table(spark, sf_dir, "customer"),
        supplier=table(spark, sf_dir, "supplier"),
    )


@query(
    "agg_listagg_ordered",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*)                                AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`listagg ... WITHIN GROUP (ORDER BY ...)` (Spark 4.0+): ordered
    string aggregation — deterministic (hash-stable) because the in-group
    order is total. The WITHIN GROUP sort is per-group, after the hash
    aggregate's shuffle, so it scales with group size, not table size."""
    return spark.sql(
        """
        SELECT r_name,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
               COUNT(*)                                            AS n_nations
        FROM {nation} JOIN {region} ON n_regionkey = r_regionkey
        GROUP BY r_name
        """,
        nation=table(spark, sf_dir, "nation"),
        region=table(spark, sf_dir, "region"),
    )


@query(
    "pipe_syntax_revenue",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0+): the same scan->filter->extend->
    aggregate->sort logical plan as nested SQL, written as a linear
    pipeline. Catalyst output is identical — filters still push to the
    parquet scan — so this is purely a query-surface feature. Sum rides
    the house DECIMAL(38,6) policy for order-independent hashes."""
    return spark.sql(
        """
        FROM {lineitem}
        |> WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |> EXTEND CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)) AS rev
        |> AGGREGATE CAST(SUM(rev) AS DOUBLE) AS revenue, COUNT(*) AS n_items
           GROUP BY l_linestatus
        |> ORDER BY l_linestatus
        """,
        lineitem=table(spark, sf_dir, "lineitem"),
    )


@query(
    "approx_topk_event_types",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt
    FROM events
    GROUP BY event_type
    ORDER BY cnt DESC, event_type
    """,
)
def approx_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`approx_top_k` heavy-hitters sketch, exploded to rows. The sketch
    is mergeable: each partition ships a bounded-size summary instead of
    raw rows, so at 100 TB the shuffle is KBs per partition. Exactly
    oracle-able HERE because the domain (5 event types) is far below the
    sketch width (10 000) — the sketch degenerates to exact counts; on a
    real heavy-hitters domain this would be a rows-only entry."""
    e = table(spark, sf_dir, "events")
    topk = e.agg(F.expr("approx_top_k(event_type, 10)").alias("tk"))
    return (
        topk.select(F.explode("tk").alias("t"))
        .select(
            F.col("t.item").alias("event_type"),
            F.col("t.count").alias("cnt"),
        )
        .orderBy(F.desc("cnt"), "event_type")
    )


@query(
    "sketch_theta_distinct",
    oracle="""
    WITH per AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS n
        FROM events GROUP BY event_type),
    u AS (SELECT COUNT(DISTINCT user_id) AS n FROM events),
    i AS (SELECT COUNT(*) AS n FROM
          (SELECT DISTINCT user_id FROM events WHERE event_type = 'view') v
          JOIN (SELECT DISTINCT user_id FROM events
                WHERE event_type = 'purchase') p USING (user_id))
    SELECT event_type, n AS approx_users, n AS exact_users,
           TRUE AS within_bound
    FROM per
    UNION ALL SELECT '__union_all__', n, n, TRUE FROM u
    UNION ALL SELECT '__view_and_purchase__', n, n, TRUE FROM i
    """,
)
def sketch_theta_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (Spark 4.1 DataSketches bindings): per-event-type
    distinct-user sketches, merged two ways — UNION across all types
    (the mergeable-rollup path, same topology as our HLL query) and
    INTERSECTION of 'view' and 'purchase' audiences. Intersection is the
    theta feature HLL lacks: audience overlap at 100 TB from KB-size
    sketches, no distinct-join of raw ids.

    Invariant-oracle form (round-2 rows-only): ``approx_users`` is the
    REAL theta estimate (rounded to bigint), ``exact_users`` the exact
    distinct count, ``within_bound`` the error envelope
    (|est−exact| <= max(3, 3.5% exact)). The oracle pins
    approx == exact: below the sketch's nominal-entry capacity (4096 at
    the default lgK=12) a theta sketch retains every hash and theta=1,
    so estimate and intersection are integer-EXACT — the driver SFs
    (<=150 distinct users, and ~1.5k at sf0.1) sit deep inside exact
    mode and the equality is deterministic, not luck. Above ~4k
    distinct per key the oracle would switch to the envelope-boolean
    form alone (as rolling_wau_hll does)."""
    e = table(spark, sf_dir, "events")
    sk = e.groupBy("event_type").agg(
        F.expr("theta_sketch_agg(user_id)").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    sk = sk.transform(_persisted)
    per_type = sk.select(
        "event_type",
        F.expr("theta_sketch_estimate(sk)").alias("est"),
        "exact_users",
    )
    union_all = (
        sk.agg(F.expr("theta_union_agg(sk)").alias("u"))
        .crossJoin(
            F.broadcast(e.agg(F.countDistinct("user_id").alias("exact_users")))
        )
        .select(
            F.lit("__union_all__").alias("event_type"),
            F.expr("theta_sketch_estimate(u)").alias("est"),
            "exact_users",
        )
    )
    view_users = e.filter(F.col("event_type") == "view").select("user_id").distinct()
    buy_users = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    overlap_exact = view_users.join(buy_users, "user_id").agg(
        F.count(F.lit(1)).alias("exact_users")
    )
    overlap = (
        sk.filter(F.col("event_type") == "view")
        .select("sk")
        .crossJoin(
            sk.filter(F.col("event_type") == "purchase").select(
                F.col("sk").alias("sk2")
            )
        )
        .crossJoin(F.broadcast(overlap_exact))
        .select(
            F.lit("__view_and_purchase__").alias("event_type"),
            F.expr("theta_sketch_estimate(theta_intersection(sk, sk2))").alias("est"),
            "exact_users",
        )
    )
    return (
        per_type.unionAll(union_all)
        .unionAll(overlap)
        .select(
            "event_type",
            F.round("est").cast("bigint").alias("approx_users"),
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= F.greatest(F.lit(3.0), 0.035 * F.col("exact_users"))
            ).alias("within_bound"),
        )
    )


@query(
    "scalar_xml_roundtrip",
    oracle="""
    SELECT doc_id, lang AS xml_lang, source AS xml_source, n_chars AS xml_n_chars
    FROM documents
    WHERE doc_id < 200
    """,
)
def scalar_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-bound XML parsing (`from_xml`, built-in since Spark 4.0) —
    the XML sibling of the reference's JSON ingest contract
    (`src/consumer/batch_parsers.py:134-141`: declared schema, permissive
    nulls on mismatch). Documents are serialized to XML records from
    XML-safe columns and parsed back; the oracle checks the roundtrip
    against the base columns directly."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    xml = d.select(
        "doc_id",
        F.concat(
            F.lit("<doc><lang>"),
            "lang",
            F.lit("</lang><source>"),
            "source",
            F.lit("</source><n>"),
            F.col("n_chars").cast("string"),
            F.lit("</n></doc>"),
        ).alias("xml"),
    )
    parsed = xml.select(
        "doc_id",
        F.from_xml("xml", "lang STRING, source STRING, n BIGINT").alias("p"),
    )
    return parsed.select(
        "doc_id",
        F.col("p.lang").alias("xml_lang"),
        F.col("p.source").alias("xml_source"),
        F.col("p.n").alias("xml_n_chars"),
    )


@query(
    "sql_udf_net_revenue",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                         AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sql_udf_net_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (`CREATE FUNCTION ... RETURN expr`, Spark 3.5+/4.x):
    reusable business logic that Catalyst INLINES into the calling plan —
    the aggregate below compiles to the same whole-stage-codegen as the
    hand-expanded expression (no serialization wall, unlike a Python
    UDF). The right tool for shared expression libraries at scale."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_revenue(ext DOUBLE, disc DOUBLE, tax DOUBLE)
        RETURNS DOUBLE
        RETURN ext * (1 - disc) * (1 + tax)
        """
    )
    df = spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(CAST(net_revenue(l_extendedprice, l_discount, l_tax)
                             AS DECIMAL(38,6))) AS DOUBLE) AS net_revenue,
               COUNT(*) AS n_items
        FROM {lineitem}
        GROUP BY l_returnflag
        """,
        lineitem=table(spark, sf_dir, "lineitem"),
    )
    spark.sql("DROP TEMPORARY FUNCTION net_revenue")  # the plan keeps it inlined
    return df


@query(
    "sql_group_order_by_all",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def sql_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 3.4+/4.0): the analyst
    shorthand that infers grouping keys from the non-aggregate SELECT
    items and the sort order from the full select list. Purely a
    binding-time feature — Catalyst resolves it to the same two-phase
    hash aggregate + range-partitioned sort as the explicit form, so
    the physical plan (and its scale behavior) is unchanged."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        FROM {lineitem}
        GROUP BY ALL
        ORDER BY ALL
        """,
        lineitem=table(spark, sf_dir, "lineitem"),
    )


@query(
    "sql_lateral_column_alias",
    oracle="""
    WITH chained AS (
        SELECT l_orderkey, l_linenumber,
               ROUND(CAST(l_extendedprice AS DECIMAL(14,2))
                     * (1 - CAST(l_discount AS DECIMAL(14,2))), 2) AS net,
               ROUND(net * CAST(l_tax AS DECIMAL(14,2)), 2)        AS tax_amt,
               ROUND(net + tax_amt, 2)                             AS total
        FROM lineitem)
    SELECT l_orderkey, l_linenumber,
           CAST(net AS DOUBLE)     AS net,
           CAST(tax_amt AS DOUBLE) AS tax_amt,
           CAST(total AS DOUBLE)   AS total
    FROM chained
    """,
)
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+): later SELECT items reference
    earlier aliases in the same list (net -> tax_amt -> total) — the
    derived-metric chain that otherwise needs nested subqueries or
    repeated expressions. Catalyst inlines the chain into one Project,
    so everything stays in a single codegen stage and each value is
    computed once per row. Money math runs in DECIMAL end-to-end (the
    2-dp inputs cast exactly), so the chained rounds are bit-identical
    across engines; the final cast surfaces plain doubles."""
    return spark.sql(
        """
        WITH chained AS (
            SELECT l_orderkey, l_linenumber,
                   ROUND(CAST(l_extendedprice AS DECIMAL(14,2))
                         * (1 - CAST(l_discount AS DECIMAL(14,2))), 2) AS net,
                   ROUND(net * CAST(l_tax AS DECIMAL(14,2)), 2)        AS tax_amt,
                   ROUND(net + tax_amt, 2)                             AS total
            FROM {lineitem})
        SELECT l_orderkey, l_linenumber,
               CAST(net AS DOUBLE)     AS net,
               CAST(tax_amt AS DOUBLE) AS tax_amt,
               CAST(total AS DOUBLE)   AS total
        FROM chained
        """,
        lineitem=table(spark, sf_dir, "lineitem"),
    )


@query(
    "sql_scripting_control_flow",
    oracle="""
    WITH a AS (SELECT AVG(o_totalprice) AS avg_p FROM orders),
    r AS (SELECT CASE WHEN avg_p <= 1000 THEN 0
                      ELSE CAST(CEIL(LOG2(avg_p / 1000.0)) AS INT) END AS rounds,
                 avg_p
          FROM a)
    SELECT r.rounds,
           ROUND(1000.0 * POWER(2, r.rounds), 2) AS final_budget,
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_totalprice <= 1000.0 * POWER(2, r.rounds)) AS BIGINT)
               AS n_within
    FROM r
    """,
)
def sql_scripting_control_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0 BEGIN/END compound statements): session
    variables + a WHILE loop doubling a budget until it clears the mean
    order price, then a data query parameterized by the loop result —
    procedural control flow INSIDE the SQL surface, no driver round
    trips per iteration. The oracle is the loop's closed form
    (ceil(log2(avg/1000)) doublings), so the script's control flow is
    verified against arithmetic, not another loop."""
    return spark.sql(
        """
        BEGIN
          DECLARE budget DOUBLE DEFAULT 1000;
          DECLARE rounds INT DEFAULT 0;
          DECLARE avg_p DOUBLE;
          SET avg_p = (SELECT AVG(o_totalprice) FROM {orders});
          WHILE budget < avg_p DO
            SET budget = budget * 2;
            SET rounds = rounds + 1;
          END WHILE;
          SELECT rounds,
                 ROUND(budget, 2) AS final_budget,
                 (SELECT COUNT(*) FROM {orders}
                  WHERE o_totalprice <= budget) AS n_within;
        END
        """,
        orders=table(spark, sf_dir, "orders"),
    )


@query(
    "sql_pivot_clause",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL PIVOT clause (vs the DataFrame ``pivot()`` used by
    pivot_event_counts): status counts spread into columns per
    priority. Catalyst rewrites PIVOT into the same conditional
    aggregate the oracle states manually, so the clause is purely
    surface syntax — same two-phase hash aggregate underneath.
    COALESCE pins empty cells to 0 like the CASE form."""
    df = spark.sql(
        """
        SELECT * FROM (SELECT o_orderstatus, o_orderpriority FROM {orders})
        PIVOT (COUNT(*) FOR o_orderstatus IN ('O' AS o, 'F' AS f, 'P' AS p))
        """,
        orders=table(spark, sf_dir, "orders"),
    )
    return df.select(
        "o_orderpriority",
        F.coalesce(F.col("o"), F.lit(0)).alias("o"),
        F.coalesce(F.col("f"), F.lit(0)).alias("f"),
        F.coalesce(F.col("p"), F.lit(0)).alias("p"),
    )


@query(
    "sql_unpivot_clause",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def sql_unpivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL UNPIVOT clause (vs DataFrame ``unpivot()`` used by
    unpivot_lineitem_metrics): three measure columns melt into
    (metric, val) rows. Catalyst plans an Expand — one scan emitting
    three rows per input, NOT three scans (the UNION ALL oracle is the
    semantic statement; the physical plan is strictly better)."""
    return spark.sql(
        """
        SELECT * FROM (
          SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
          FROM {lineitem})
        UNPIVOT (val FOR metric IN (l_quantity, l_discount, l_tax))
        """,
        lineitem=table(spark, sf_dir, "lineitem"),
    )


@query(
    "sql_parameterized_identifier",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders
    WHERE o_totalprice > 100000
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 3.4+): named parameter markers for
    VALUES and the IDENTIFIER() clause for table/column names — the
    injection-safe templating that replaces f-string SQL assembly in
    multi-tenant pipelines (a value parameter can never smuggle SQL;
    an identifier parameter resolves through the catalog, not the
    parser). Binding happens at analysis time, so the plan is
    identical to the literal query the oracle states."""
    # IDENTIFIER(:tbl) resolves a catalog name: a view until the plan is analysed.
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_param_v")
    df = spark.sql(
        "SELECT o_orderpriority, COUNT(*) AS n "
        "FROM IDENTIFIER(:tbl) WHERE o_totalprice > :floor "
        "GROUP BY o_orderpriority",
        args={"tbl": "orders_param_v", "floor": 100000},
    )
    spark.catalog.dropTempView("orders_param_v")
    return df


# --- MATCH_RECOGNIZE emulation (row-pattern matching) ------------------------

# pattern: one-or-more views, then one-or-more clicks, then a purchase
# (greedy, non-overlapping) — V+ C+ P in MATCH_RECOGNIZE terms
_MR_PATTERN = "v+c+p"


@query(
    "seq_match_recognize_emulation",
    oracle=f"""
    WITH seq AS (
        SELECT user_id,
               string_agg(CASE event_type WHEN 'view' THEN 'v'
                                          WHEN 'click' THEN 'c'
                                          WHEN 'purchase' THEN 'p'
                                          ELSE 'x' END, ''
                          ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id),
    matched AS (
        SELECT user_id,
               CAST(len(regexp_extract_all(s, '{_MR_PATTERN}')) AS BIGINT)
                   AS n_matches,
               LENGTH(s) AS n_events
        FROM seq)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS users_with_match,
           CAST(SUM(n_matches) AS BIGINT) AS total_matches,
           CAST(MAX(n_matches) AS BIGINT) AS max_matches_per_user,
           ROUND(SUM(n_matches) * 1.0 / SUM(n_events), 6) AS matches_per_event
    FROM matched
    """,
)
def seq_match_recognize_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern matching (SQL:2016 MATCH_RECOGNIZE, which Spark does
    not ship) emulated with the standard relational trick: each user's
    event history collapses to an ORDERED symbol string (v/c/p/x, total
    order by (ts, event_id)), and the row pattern ``V+ C+ P`` becomes
    the regex ``{_MR_PATTERN}`` counted per user with greedy
    non-overlapping semantics — exactly MATCH_RECOGNIZE's default
    ONE ROW PER MATCH / AFTER MATCH SKIP PAST LAST ROW behavior. The
    funnel ops (window_funnel_within_time, seq_pattern_followed_by)
    answer fixed-shape questions; this one takes an arbitrary
    quantified pattern.

    One shuffle to the per-user sequence (bounded by per-user history,
    the same frame every sessionization op builds), then the regex runs
    map-side per user; the rollup is a scalar aggregate."""
    sym = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .otherwise("x")
    )
    seq = (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", sym.alias("sym"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "sym"))
                    ),
                    lambda r: r["sym"],
                ),
                "",
            ).alias("s")
        )
    )
    matched = seq.select(
        "user_id",
        F.regexp_count("s", F.lit(_MR_PATTERN)).cast("bigint").alias("n_matches"),
        F.length("s").alias("n_events"),
    )
    return matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum((F.col("n_matches") > 0).cast("int")).cast("bigint").alias(
            "users_with_match"
        ),
        F.sum("n_matches").cast("bigint").alias("total_matches"),
        F.max("n_matches").cast("bigint").alias("max_matches_per_user"),
        F.round(F.sum("n_matches") / F.sum("n_events"), 6).alias(
            "matches_per_event"
        ),
    )


@query(
    "sql_collation_case_insensitive",
    oracle="""
    WITH mixed AS (
        SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_type) ELSE p_type END AS t
        FROM part),
    grp AS (
        SELECT lower(t) AS k, COUNT(DISTINCT t) AS n_forms
        FROM mixed GROUP BY 1)
    SELECT CAST((SELECT COUNT(DISTINCT t) FROM mixed) AS BIGINT) AS n_binary,
           CAST(COUNT(*) AS BIGINT) AS n_ci,
           CAST(SUM(CASE WHEN n_forms > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_groups_with_variants
    FROM grp
    """,
)
def sql_collation_case_insensitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATION support (`collate(col, 'UTF8_LCASE')`): distinct
    counts and grouping under a case-insensitive collation, demonstrated
    on a deterministically case-perturbed p_type column (even partkeys
    upper-cased).

    Collation-aware comparison happens INSIDE the binary comparator —
    grouping/distinct on a collated column hashes the collation key
    directly, with no `lower()` projection materialized, and at 100 TB
    that also means the shuffle key is the collation key (one shuffle,
    same as any keyed agg). The oracle mirrors the UTF8_LCASE semantics
    with `lower()`, which is exactly the mapping this collation defines."""
    mixed = table(spark, sf_dir, "part").select(
        F.when(F.col("p_partkey") % 2 == 0, F.upper("p_type"))
        .otherwise(F.col("p_type"))
        .alias("t")
    )
    grp = mixed.groupBy(F.expr("collate(t, 'UTF8_LCASE')").alias("k")).agg(
        F.countDistinct("t").alias("n_forms")
    )
    return mixed.agg(F.countDistinct("t").cast("bigint").alias("n_binary")).crossJoin(
        grp.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ci"),
            F.sum((F.col("n_forms") > 1).cast("int")).cast("bigint").alias(
                "n_groups_with_variants"
            ),
        )
    )


@query(
    "sql_session_variables",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_totalprice > 150000.0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_above_threshold
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL session variables (DECLARE / SET VAR): the threshold
    and date cutoff live in typed session variables referenced by the
    query text — the parameterization mechanism that replaces string
    interpolation for dashboard/report SQL (injection-safe, typed,
    Catalyst sees constants and still folds/pushes them down).

    The variable references resolve at analysis time, so the plan is
    IDENTICAL to literal SQL — predicate pushdown into the scan
    included. The oracle inlines the same constants."""
    spark.sql("DECLARE OR REPLACE VARIABLE price_threshold DOUBLE")
    spark.sql("SET VAR price_threshold = 150000.0")
    spark.sql("DECLARE OR REPLACE VARIABLE date_cutoff TIMESTAMP")
    spark.sql("SET VAR date_cutoff = TIMESTAMP '1996-01-01 00:00:00'")
    df = spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o_totalprice > price_threshold THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_above_threshold
        FROM {orders}
        WHERE o_orderdate >= date_cutoff
        GROUP BY o_orderpriority
        """,
        orders=table(spark, sf_dir, "orders"),
    )
    spark.sql("DROP TEMPORARY VARIABLE price_threshold")
    spark.sql("DROP TEMPORARY VARIABLE date_cutoff")
    return df
