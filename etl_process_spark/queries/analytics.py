"""Multi-dimensional aggregation + set-operation surface.

The reference has no GROUP BY at all (SURVEY §2.4) and only UNION ALL
(§2.7); these queries round out the general analytics surface a user of
the engine expects — rollup / cube / grouping sets (one shuffle each,
grouping-set expansion happens map-side in the Expand operator) and the
set operations INTERSECT / EXCEPT (hash-based set semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_process_spark.queries.registry import query, tbl
from etl_process_spark.session import checkpoint

# Heavy-basket guard for the co-purchase graph family: per order, only
# the cap smallest partkeys generate pairs (deterministic truncation —
# documented sampling, not silent). The in-array pair explosion is
# quadratic in BASKET size; TPC-H baskets hold ≤ 7 lineitems so the cap
# never binds at any test SF (hashes unchanged), but a marketplace
# basket with 10k items would otherwise emit 10⁸ pairs from one row.
COPURCHASE_BASKET_CAP = 256


def copurchase_pairs(
    li: DataFrame, cap: int = COPURCHASE_BASKET_CAP, oriented: bool = False
) -> DataFrame:
    """Per-order co-purchase part pairs with bounded fan-out.

    ``oriented=True`` emits each unordered pair once (u < v) — half the
    explode fan-out; callers needing both directions either pass
    ``oriented=False`` (reverse appended with a narrow unionAll — the
    exact multiset the old dual-explode produced) or let the consuming
    graph operator symmetrize. Per-order pair count ≤ cap·(cap−1)/2
    oriented (cap·(cap−1) symmetric).
    """
    per_order = li.groupBy("l_orderkey").agg(
        F.slice(F.sort_array(F.collect_set("l_partkey")), 1, cap).alias("ps")
    )
    orient = per_order.select(F.explode("ps").alias("u"), "ps").select(
        "u",
        F.explode(F.filter("ps", lambda x: x > F.col("u"))).alias("v"),
    )
    if oriented:
        return orient
    return orient.unionAll(
        orient.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


@query(
    "rollup_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS grp_id,
           count(*) AS n_items,
           CAST(floor(sum(CAST(l_extendedprice AS DECIMAL(12,4))) * 100)
                AS BIGINT) AS revenue_cents
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag → flag+status → grand total).

    The Expand operator emits one row per grouping set map-side, then a
    single hash aggregate — the shuffle still carries only partial
    aggregates, so a 100 TB rollup costs one pass + one exchange.
    """
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("grp_id"),
            F.count(F.lit(1)).alias("n_items"),
            F.floor(
                F.sum(F.col("l_extendedprice").cast("decimal(12,4)")) * 100
            ).cast("bigint").alias("revenue_cents"),
        )
        .select(
            "l_returnflag", "l_linestatus", "grp_id", "n_items",
            "revenue_cents",
        )
    )


@query(
    "cube_order_counts",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS grp_id,
           count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping sets in one pass."""
    od = tbl(spark, sf_dir, "orders")
    return (
        od.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("int").alias("grp_id"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("o_orderstatus", "o_orderpriority", "grp_id", "n_orders")
    )


@query(
    "grouping_sets_mix",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def grouping_sets_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the engine's SQL entry point (two
    disjoint single-column sets — neither rollup nor cube)."""
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM parquet.`{sf_dir}/orders.parquet`
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@query(
    "distinct_users_per_type",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (two-phase: dedup shuffle then count)."""
    ev = tbl(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "approx_distinct_users",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS estimate_ok
    FROM events
    GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the sketch path for 100 TB where
    exact distinct's dedup shuffle is the bottleneck (HLL partials are
    fixed-size sketches merged map-side; no dedup shuffle).

    HLL implementations are engine-specific, so the raw estimate cannot
    be hash-compared against DuckDB. The checkable contract instead: emit
    the exact count plus ``estimate_ok`` = |approx − exact| / exact ≤ 5%
    (rsd=0.01 ⇒ ~1% standard error, so 5% is a ≥5-sigma bound). The
    oracle asserts ``estimate_ok`` is TRUE for every group — the sketch's
    accuracy IS the hashed value, without demanding bit-identical HLL.
    """
    ev = tbl(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users_exact"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("n_users_approx"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("n_users_approx") - F.col("n_users_exact"))
                <= 0.05 * F.col("n_users_exact")
            ).alias("estimate_ok"),
        )
    )


@query(
    "salted_hot_key_agg",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,4))) * 10000 AS BIGINT)
             AS total_value_e4
    FROM events
    GROUP BY event_type
    """,
)
def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation: identical semantics to a plain groupBy (the
    oracle IS the plain GROUP BY) but computed in two phases over 16
    deterministic salt lanes, so a hot key never funnels one reducer."""
    from etl_process_spark.operators.skew import salted_agg

    ev = tbl(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(12,4)")
    )
    out = salted_agg(
        ev,
        ["event_type"],
        [("count", "event_id", "n_events"), ("sum", "value_dec", "total_value")],
        salt_col="event_id",
        n_salts=16,
    )
    return out.select(
        "event_type", "n_events",
        (F.col("total_value") * 10000).cast("bigint").alias("total_value_e4"),
    )


@query(
    "json_typed_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           CAST(json_extract_string(props, '$.k') AS INTEGER) BETWEEN 10 AND 50 AS k_mid
    FROM events
    """,
)
def json_typed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON: from_json with a declared struct schema (the
    typed sibling of get_json_object — parse once, project fields)."""
    ev = tbl(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT")
    return ev.select(
        "event_id",
        parsed["k"].alias("k"),
        parsed["k"].between(10, 50).alias("k_mid"),
    )


@query(
    "priority_customers_intersect",
    """
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
)
def priority_customers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): customers with both URGENT and HIGH
    orders — plans as a left-semi aggregate join, no row explosion."""
    od = tbl(spark, sf_dir, "orders")
    urgent = od.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = od.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    return urgent.intersect(high)


@query(
    "parts_never_returned_except",
    """
    SELECT l_partkey FROM lineitem
    EXCEPT
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def parts_never_returned_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): parts shipped but never returned — a
    left-anti aggregate join over the same scan."""
    li = tbl(spark, sf_dir, "lineitem")
    shipped = li.select("l_partkey")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    return shipped.subtract(returned)


# ---------------------------------------------------------------------------
# Ordered-statistics, reshaping, and per-group top-k
# ---------------------------------------------------------------------------

@query(
    "brand_price_quantiles",
    """
    SELECT p_brand,
           CAST(floor(quantile_cont(p_retailprice, 0.25) * 1000000) AS BIGINT)
             AS q1_e6,
           CAST(floor(quantile_cont(p_retailprice, 0.50) * 1000000) AS BIGINT)
             AS median_e6,
           CAST(floor(quantile_cont(p_retailprice, 0.75) * 1000000) AS BIGINT)
             AS q3_e6
    FROM part
    GROUP BY p_brand
    """,
)
def brand_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (percentile requires a full
    sort per group — one shuffle; for 100 TB where exactness is not needed,
    approx_percentile computes a mergeable KLL-style sketch map-side
    instead, same call shape)."""
    pt = tbl(spark, sf_dir, "part")
    q = lambda f: F.floor(  # noqa: E731
        F.percentile("p_retailprice", F.lit(f)) * F.lit(1000000.0)
    ).cast("long")
    return pt.groupBy("p_brand").agg(
        q(0.25).alias("q1_e6"), q(0.50).alias("median_e6"),
        q(0.75).alias("q3_e6"),
    )


@query(
    "approx_price_quantiles",
    """
    SELECT p_brand,
           CAST(floor(quantile_cont(p_retailprice, 0.25) * 1000000) AS BIGINT)
             AS q1_e6,
           CAST(floor(quantile_cont(p_retailprice, 0.75) * 1000000) AS BIGINT)
             AS q3_e6,
           TRUE AS estimate_ok
    FROM part
    GROUP BY p_brand
    """,
)
def approx_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile SKETCH with a checkable contract — the approx twin of
    brand_price_quantiles, following the approx_distinct_users pattern:
    sketch internals are engine-specific, so the hashed value is the
    sketch's ACCURACY, not its raw output.

    approx_percentile builds a mergeable sketch map-side (no per-group
    sort shuffle — the 100 TB path); at accuracy=10000 its rank error is
    ~1e-4, so the estimated median must land within the exact [q1, q3]
    band with enormous margin. The oracle asserts that band check TRUE
    per group alongside the exact quartiles.
    """
    pt = tbl(spark, sf_dir, "part")
    qf = lambda f: F.floor(  # noqa: E731
        F.percentile("p_retailprice", F.lit(f)) * F.lit(1000000.0)
    ).cast("long")
    agg = pt.groupBy("p_brand").agg(
        qf(0.25).alias("q1_e6"),
        qf(0.75).alias("q3_e6"),
        F.approx_percentile("p_retailprice", F.lit(0.5), F.lit(10000)).alias("am"),
    )
    return agg.select(
        "p_brand", "q1_e6", "q3_e6",
        (
            (F.col("q1_e6") <= F.col("am") * 1000000)
            & (F.col("am") * 1000000 <= F.col("q3_e6") + 1)
        ).alias("estimate_ok"),
    )


@query(
    "order_priority_pivot",
    """
    SELECT o_orderstatus,
           count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
           count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
           count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
           count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
           count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def order_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (long → wide reshape). Values are declared up front — with an
    explicit value list the pivot is a single groupBy shuffle (no extra
    distinct-values job), which is the only sane form at 100 TB."""
    od = tbl(spark, sf_dir, "orders")
    wide = (
        od.groupBy("o_orderstatus")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .agg(F.count(F.lit(1)))
    )
    names = [
        ("1-URGENT", "urgent"), ("2-HIGH", "high"), ("3-MEDIUM", "medium"),
        ("4-NOT SPECIFIED", "not_specified"), ("5-LOW", "low"),
    ]
    return wide.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{src}`"), F.lit(0)).alias(dst) for src, dst in names],
    )


@query(
    "topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    )
    WHERE rk <= 3
    """,
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: row_number + filter. Catalyst rewrites the
    rank-then-filter into a WindowGroupLimit, so each map task keeps only
    its local top-3 per key before the shuffle — the per-group analog of
    a global ORDER BY … LIMIT."""
    od = tbl(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        od.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@query(
    "parts_above_type_avg",
    """
    WITH t AS (
      SELECT p_type, count(*) AS n,
             CAST(sum(CAST(p_retailprice AS DECIMAL(12,4))) * 10000 AS BIGINT)
               AS sx_e4
      FROM part GROUP BY p_type
    )
    SELECT p.p_partkey, p.p_type, p.p_retailprice,
           CAST((100 * sx_e4 - (100 * sx_e4) % n) / n AS BIGINT) AS avg_price_e6
    FROM part p JOIN t ON p.p_type = t.p_type
    WHERE CAST(CAST(p.p_retailprice AS DECIMAL(12,4)) * 10000 AS BIGINT)
            * n * 10
          > 11 * sx_e4
    """,
)
def parts_above_type_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group average compared back to rows (TPC-H Q17 shape): the
    decorrelated form — aggregate once, broadcast-join the tiny per-group
    result back — not a correlated per-row subquery. Both the threshold
    comparison (price·n·10 > 11·Σprice, cross-multiplied so no division
    exists to round) and the emitted average (e6 via exact integer
    division) are pure BIGINT arithmetic — nothing engine-sensitive."""
    pt = tbl(spark, sf_dir, "part")
    avg = pt.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("p_retailprice").cast("decimal(12,4)")) * 10000)
        .cast("bigint").alias("sx_e4"),
    )
    price_e4 = (F.col("p_retailprice").cast("decimal(12,4)") * 10000).cast(
        "bigint"
    )
    return (
        pt.join(F.broadcast(avg), "p_type")
        .filter(price_e4 * F.col("n") * 10 > 11 * F.col("sx_e4"))
        .select(
            "p_partkey", "p_type", "p_retailprice",
            F.expr("(100 * sx_e4) div n").alias("avg_price_e6"),
        )
    )


@query(
    "stratified_hash_sample",
    """
    SELECT event_id, event_type
    FROM (
      SELECT event_id, event_type,
             substring(md5(CAST(event_id AS VARCHAR)), 1, 1) AS d
      FROM events
    )
    WHERE CASE WHEN event_type = 'purchase' THEN d <= '7' ELSE d <= '1' END
    """,
)
def stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling by deterministic hash, not rand(): md5 of the
    row id gives every engine, retry, and re-run the same sample (rand()
    breaks retry-idempotence on a real cluster — a task retry would draw a
    different sample). Rates per stratum via hex-digit thresholds:
    'purchase' keeps digits 0-7 (50%), everything else 0-1 (12.5%).
    Embarrassingly parallel — a pure map-side filter, zero shuffle."""
    ev = tbl(spark, sf_dir, "events")
    d = F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
    keep = F.when(F.col("event_type") == "purchase", d <= "7").otherwise(d <= "1")
    return ev.filter(keep).select("event_id", "event_type")


@query(
    "nation_metrics_unpivot",
    """
    WITH w AS (
      SELECT c_nationkey AS n_nationkey,
             count(*) FILTER (WHERE c_acctbal >= 0) AS n_pos,
             count(*) FILTER (WHERE c_acctbal < 0) AS n_neg
      FROM customer GROUP BY c_nationkey
    ), u AS (
      SELECT n_nationkey, 'n_pos' AS metric, n_pos AS v FROM w
      UNION ALL
      SELECT n_nationkey, 'n_neg' AS metric, n_neg AS v FROM w
    )
    SELECT n_nationkey, metric, v FROM u
    """,
)
def nation_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long, the inverse reshape of pivot). Spark's
    ``unpivot``/melt expands columns to rows map-side — no shuffle beyond
    the aggregation that built the wide frame."""
    cust = tbl(spark, sf_dir, "customer").withColumnRenamed(
        "c_nationkey", "n_nationkey"
    )
    wide = cust.groupBy("n_nationkey").agg(
        F.count(F.when(F.col("c_acctbal") >= 0, 1)).alias("n_pos"),
        F.count(F.when(F.col("c_acctbal") < 0, 1)).alias("n_neg"),
    )
    return wide.unpivot(
        ids=["n_nationkey"], values=["n_pos", "n_neg"],
        variableColumnName="metric", valueColumnName="v",
    )


@query(
    "top_revenue_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY … LIMIT — the one query shape where a total order
    matters. Spark plans it as TakeOrderedAndProject: each task keeps a
    local top-100 heap and the driver merges K heaps — no global sort, no
    single-reducer shuffle, O(K·100) driver memory at any scale. The
    (price DESC, orderkey) tie-break makes the result set deterministic."""
    od = tbl(spark, sf_dir, "orders")
    return (
        od.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@query(
    "region_return_share",
    """
    SELECT n.n_name,
           CAST((1000000 * CAST(floor(sum(CASE WHEN l.l_returnflag = 'R'
                         THEN CAST(l.l_extendedprice AS DECIMAL(12,4))
                         ELSE 0 END) * 100) AS BIGINT)
                 - (1000000 * CAST(floor(sum(CASE WHEN l.l_returnflag = 'R'
                         THEN CAST(l.l_extendedprice AS DECIMAL(12,4))
                         ELSE 0 END) * 100) AS BIGINT))
                   % CAST(floor(sum(CAST(l.l_extendedprice AS DECIMAL(12,4)))
                                * 100) AS BIGINT))
                / CAST(floor(sum(CAST(l.l_extendedprice AS DECIMAL(12,4)))
                             * 100) AS BIGINT) AS BIGINT) AS return_ppm,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def region_return_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-ratio aggregation (TPC-H Q8 market-share shape):
    sum(CASE)/sum over a fact→dim join chain. The dims broadcast, so the
    fact is never shuffled for the joins — only once for the final
    groupBy; both sums are exact decimals before the double division."""
    li = tbl(spark, sf_dir, "lineitem")
    od = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = F.broadcast(tbl(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    na = F.broadcast(tbl(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    price = F.col("l_extendedprice").cast("decimal(12,4)")
    returned = F.when(F.col("l_returnflag") == "R", price).otherwise(
        F.lit(0).cast("decimal(12,4)")
    )
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(na, cu.c_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.floor(F.sum(returned) * 100).cast("bigint").alias("__rc"),
            F.floor(F.sum(price) * 100).cast("bigint").alias("__tc"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "n_name",
            F.expr("(1000000 * __rc) div __tc").alias("return_ppm"),
            "n_items",
        )
    )


@query(
    "order_date_features",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(quarter(o_orderdate) AS INT) AS q,
           CAST(isodow(o_orderdate) AS INT) AS iso_dow,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_ts,
           CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start,
           CAST(datediff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS INT) AS days_since_95
    FROM orders
    """,
)
def order_date_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function surface (F1/F8/F9 family breadth): calendar
    parts, interval arithmetic, week truncation, day diffs. Dialect
    corners pinned explicitly: ISO day-of-week (Spark's dayofweek is
    1=Sunday, so weekday()+1 is used for ISO 1=Monday), and Spark
    date_trunc('week') is already ISO-Monday like DuckDB."""
    od = tbl(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return od.select(
        "o_orderkey",
        F.year(d).cast("int").alias("y"),
        F.month(d).cast("int").alias("m"),
        F.quarter(d).cast("int").alias("q"),
        (F.weekday(d) + 1).cast("int").alias("iso_dow"),
        (d + F.expr("INTERVAL 30 DAYS")).alias("due_ts"),
        F.date_trunc("week", d).alias("week_start"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_95"),
    )


@query(
    "heavy_hitter_order_groups",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    HAVING count(*) >= ceil(0.015625 * (SELECT count(*) FROM orders))
    """,
)
def heavy_hitter_order_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (groups covering ≥ 1/64 of all orders) via the
    Misra-Gries candidate phase + exact verify (operators/heavy.py): the
    shuffle carries O(partitions × capacity) sketch rows instead of one
    row per distinct key, then a broadcast semi-join re-counts only the
    candidates — the 100 TB plan for hot-key discovery. The oracle is
    the naive full GROUP BY … HAVING, proving identical semantics.
    min_frac = 1/64 is binary-exact, so ceil() agrees across engines."""
    from etl_process_spark.operators.heavy import heavy_hitters

    return heavy_hitters(
        tbl(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority"],
        min_frac=0.015625,
    )


@query(
    "customer_order_distribution",
    """
    SELECT n_orders, count(*) AS n_customers
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-count distribution per customer (TPC-H Q13 shape): outer
    join preserving order-less customers, per-key count (count(col)
    skips the nulls the outer join introduces), then a re-aggregation
    over the counts. Two shuffles; the second one is tiny (cardinality =
    distinct order counts), so the plan scales with the first shuffle
    only."""
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "trailing_week_user_value",
    """
    SELECT event_id, user_id, ts,
           CAST(sum(CAST(value AS DECIMAL(12,4))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
           ) * 10000 AS BIGINT) AS value_7d_e4
    FROM events
    """,
)
def trailing_week_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user trailing-7-day value sum. RANGE
    frames bound by event time (not row position) are tie-stable — every
    row with the same ts gets the same frame — so no unique total order
    is needed for determinism. Decimal sums keep both engines exact;
    one shuffle on user_id."""
    ev = tbl(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(12,4)")
    )
    return ev.selectExpr(
        "event_id",
        "user_id",
        "ts",
        """CAST(sum(value_dec) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
           ) * 10000 AS BIGINT) AS value_7d_e4""",
    )


@query(
    "returned_surplus_parts_exceptall",
    """
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
    """,
)
def returned_surplus_parts_exceptall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference (each part key keeps
    max(returns - non-returns, 0) copies), completing the set-operation
    family beyond INTERSECT/EXCEPT's set semantics. Spark plans it as a
    single hash aggregation on the key with per-side counts — one
    shuffle, no join."""
    li = tbl(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    kept = li.filter(F.col("l_returnflag") == "N").select("l_partkey")
    return returned.exceptAll(kept)


@query(
    "order_price_rank_features",
    """
    SELECT o_orderkey,
           CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS pr_e6,
           CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cd_e6
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def order_price_rank_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions (percent_rank / cume_dist) within
    each order priority — the feature-engineering normalization path.
    Partitioned by priority so no single task owns a global sort; the
    (o_totalprice, o_orderkey) order is a unique total order, making
    both engines' ranks identical. The single rank division crosses the
    boundary as floor(x·10⁶) BIGINT — engine-exact on identical
    doubles, unlike round(DOUBLE, 6)."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return tbl(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.percent_rank().over(w) * 1000000.0).cast("long").alias("pr_e6"),
        F.floor(F.cume_dist().over(w) * 1000000.0).cast("long").alias("cd_e6"),
    )


@query(
    "priciest_order_per_customer",
    """
    SELECT o_custkey,
           arg_max(o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) * 1000000000
                   + o_orderkey) AS top_orderkey,
           CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
               AS top_totalprice_cents
    FROM orders
    GROUP BY o_custkey
    """,
)
def priciest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / arg_max — the "row for the max" aggregate, the single-
    shuffle alternative to a row_number window for top-1-per-group.
    Ties on price are broken by orderkey through an exact integer
    composite (price-cents · 10⁹ + orderkey) — float ordering keys with
    duplicate values would make the chosen row engine-dependent."""
    orders = tbl(spark, sf_dir, "orders")
    ordkey = (
        F.round(F.col("o_totalprice") * 100).cast("bigint") * F.lit(1000000000)
        + F.col("o_orderkey")
    )
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", ordkey).alias("top_orderkey"),
        (F.max(F.col("o_totalprice").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .alias("top_totalprice_cents"),
    )


@query(
    "resampled_user_values",
    """
    WITH obs AS (
      SELECT user_id, ts,
             CAST(sum(CAST(value AS DECIMAL(12,4))) AS DOUBLE) / count(*) AS v
      FROM events
      GROUP BY user_id, ts
    ),
    b AS (
      SELECT user_id, date_trunc('day', min(ts)) AS lo, max(ts) AS hi
      FROM obs GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 6 HOUR)) AS ts
      FROM b
    ),
    u AS (
      SELECT user_id, ts, v, 1 AS is_obs FROM obs
      UNION ALL
      SELECT user_id, ts, NULL, 0 FROM grid
    ),
    w AS (
      SELECT user_id, ts, is_obs,
        last_value((CASE WHEN is_obs = 1
                         THEN {'t': epoch_us(ts), 'v': v} END) IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, is_obs DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
        first_value((CASE WHEN is_obs = 1
                          THEN {'t': epoch_us(ts), 'v': v} END) IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, is_obs DESC
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
      FROM u
    )
    SELECT user_id, ts AS grid_ts,
           CAST(floor(CASE
                   WHEN prev IS NOT NULL AND prev.t = epoch_us(ts) THEN prev.v
                   WHEN prev IS NULL OR nxt IS NULL THEN NULL
                   WHEN nxt.t = prev.t THEN prev.v
                   ELSE prev.v + (nxt.v - prev.v)
                        * (CAST(epoch_us(ts) - prev.t AS DOUBLE)
                           / (nxt.t - prev.t))
                 END * 1000000) AS BIGINT) AS value_interp_e6
    FROM w WHERE is_obs = 0
    """,
)
def resampled_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's irregular event values onto a 6-hour grid
    with linear interpolation (operators/timeseries.py): ONE shuffle —
    grid rows are unioned into the stream and both surrounding
    observations recovered by frame-bounded window functions over a
    single sort. The oracle mirrors the same union-window construction,
    pinning boundary semantics (NULL before first observation,
    exact-hit grid points take the observation value)."""
    from etl_process_spark.operators.timeseries import resample_interpolate

    ev = tbl(spark, sf_dir, "events")
    return resample_interpolate(ev, "user_id", "ts", F.col("value"), step="6 hours")


@query(
    "salted_hot_key_join",
    """
    SELECT l.l_orderkey, l.l_linenumber, s.s_name
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """,
)
def salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join (operators/skew.py::salted_join): the fact
    side's hot keys are sharded across 8 deterministic lanes and the
    dimension replicated ×8, so no reducer owns a whole hot key — the
    explicit fallback when a dim is too big to broadcast and AQE's
    skew splitting doesn't apply. The oracle is the PLAIN join: salting
    must change distribution only, never results."""
    from etl_process_spark.operators.skew import salted_join

    li = (
        tbl(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", F.col("l_suppkey").alias("suppkey"))
        .withColumn(
            "__rid",
            F.col("l_orderkey") * F.lit(10000) + F.col("l_linenumber"),
        )
    )
    sup = tbl(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    return (
        salted_join(li, sup, "suppkey", salt_col="__rid", n_salts=8)
        .select("l_orderkey", "l_linenumber", "s_name")
    )


@query(
    "sole_failing_supplier_per_order",
    """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey AND l1.l_returnflag = 'R'
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
)
def sole_failing_supplier_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: correlated EXISTS + NOT EXISTS with an
    inequality correlation (same order, DIFFERENT supplier), decorrelated
    into a semi-join then an anti-join on (orderkey, suppkey≠) — returned
    line items where other suppliers shared the order but none of THEM
    had a return. Both probe joins shuffle on l_orderkey (one key reuse);
    the supplier name attach is a broadcast."""
    li = tbl(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    ).alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey", "l_returnflag").alias("l2")
    multi = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    ).alias("l3")
    sole = multi.alias("m").join(
        l3,
        (F.col("m.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("m.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    sup = F.broadcast(tbl(spark, sf_dir, "supplier"))
    return (
        sole.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "price_moments_exact",
    """
    WITH u AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100 AS BIGINT)
               AS xc,
             CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT) AS yc
      FROM lineitem),
    s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(xc AS DECIMAL(38,0))) AS sx,
             sum(CAST(xc * xc AS DECIMAL(38,0))) AS sxx,
             sum(CAST(yc AS DECIMAL(38,0))) AS sy,
             sum(CAST(yc * yc AS DECIMAL(38,0))) AS syy,
             sum(CAST(xc * yc AS DECIMAL(38,0))) AS sxy
      FROM u GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(floor(CAST(sx AS DOUBLE) / n / 100 * 1000000) AS BIGINT)
             AS price_mean_e6,
           CAST(floor((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                      / (n - 1) / 10000 * 1000000) AS BIGINT) AS price_var_e6,
           CAST(floor((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                      * 1000000) AS BIGINT) AS corr_e6
    FROM s
    """,
)
def price_moments_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moments (mean / sample variance / correlation) computed
    EXACTLY: built-in var_samp/corr stream floating-point partials whose
    merge order varies per run and per engine, so this query derives the
    moments from exact decimal power sums (Σx, Σx², Σxy — algebraic, so
    map-side combine still applies) and converts to double only at the
    end. One shuffle, bit-identical across engines AND across re-runs —
    the form to use when a metric feeds a regression test or a drift
    alarm. (Dialect corner: the oracle casts prices to DECIMAL(19,4) —
    DuckDB clamps a (12,4)×(12,4) product to int64-backed DECIMAL(18,8),
    which overflows; pushing precision past 18 forces int128. Spark's
    (12,4) product is DECIMAL(25,8), exact either way.)"""
    li = tbl(spark, sf_dir, "lineitem")
    # quantize rows to exact integer units (cents / basis points): the
    # power sums are then scale-0 DECIMAL(38,0) integers whose DOUBLE
    # casts are a SINGLE correctly-rounded conversion — bit-identical in
    # every engine (a scale-8 decimal cast double-rounds through the
    # 10^-8 divide and differed by 1 ulp between DuckDB and the JVM,
    # flipping floor at e6: the round-3 price_var_e6 off-by-one)
    u = li.select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(12,4)") * 100)
        .cast("bigint").alias("xc"),
        (F.col("l_discount").cast("decimal(6,4)") * 10000)
        .cast("bigint").alias("yc"),
    )
    d38 = "decimal(38,0)"
    s = u.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xc").cast(d38)).alias("sx"),
        F.sum((F.col("xc") * F.col("xc")).cast(d38)).alias("sxx"),
        F.sum(F.col("yc").cast(d38)).alias("sy"),
        F.sum((F.col("yc") * F.col("yc")).cast(d38)).alias("syy"),
        F.sum((F.col("xc") * F.col("yc")).cast(d38)).alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    e6 = lambda c: F.floor(c * F.lit(1000000.0)).cast("long")  # noqa: E731
    return s.select(
        "l_returnflag",
        "n",
        e6(sx / n / 100).alias("price_mean_e6"),
        # cents² → dollars²: /10⁴ (units cancel exactly in corr)
        e6((sxx - sx * sx / n) / (n - 1) / 10000).alias("price_var_e6"),
        e6(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_e6"),
    )


@query(
    "orders_table_profile",
    """
    SELECT 'o_orderkey' AS col_name, count(*) - count(o_orderkey) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*) - count(o_custkey), count(DISTINCT o_custkey) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*) - count(o_orderstatus), count(DISTINCT o_orderstatus) FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*) - count(o_totalprice), count(DISTINCT o_totalprice) FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*) - count(o_orderdate), count(DISTINCT o_orderdate) FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*) - count(o_orderpriority), count(DISTINCT o_orderpriority) FROM orders
    """,
)
def orders_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (ANALYZE-style column statistics) in ONE pass:
    exact null and distinct counts for every column of orders, emitted
    long-format via stack().

    The multi-distinct aggregate plans as a single Expand + aggregate
    job — one scan of the table regardless of column count (the oracle
    does six scans; same numbers). At 100 TB swap count_distinct for
    approx_count_distinct to trade the expand shuffle for HLL sketches
    (see approx_distinct_users); exact mode is the correctness anchor.
    """
    od = tbl(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    aggs = []
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nn_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
    wide = od.agg(*aggs)
    stack_args = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in cols)
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (col_name, n_nulls, n_distinct)"
        )
    )


@query(
    "orders_quality_report",
    """
    WITH base AS (SELECT count(*) AS n FROM orders)
    SELECT 'not_null_o_custkey' AS rule, 'not_null' AS kind,
           (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS n_violations,
           n AS n_checked FROM base
    UNION ALL
    SELECT 'accepted_values_o_orderstatus', 'accepted_values',
           (SELECT count(*) FROM orders
            WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('P','O','F')),
           n FROM base
    UNION ALL
    SELECT 'in_range_o_totalprice', 'in_range',
           (SELECT count(*) FROM orders
            WHERE o_totalprice IS NOT NULL
              AND o_totalprice NOT BETWEEN 0 AND 10000000),
           n FROM base
    UNION ALL
    SELECT 'orderdate_in_operating_window', 'expr',
           (SELECT count(*) FROM orders
            WHERE NOT coalesce(o_orderdate >= TIMESTAMP '1995-01-01', FALSE)),
           n FROM base
    UNION ALL
    SELECT 'unique_o_orderkey', 'unique',
           (SELECT CAST(coalesce(sum(c), 0) AS BIGINT)
            FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey) WHERE c > 1),
           n FROM base
    UNION ALL
    SELECT 'fk_o_custkey', 'foreign_key',
           (SELECT count(*) FROM orders o
            WHERE o_custkey IS NOT NULL AND NOT EXISTS
              (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
           (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL) FROM base
    """,
)
def orders_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations over orders (pipeline/expectations.py):
    the dbt-test/Deequ-style constraint layer the reference never had.

    Cost model, not rule count, drives the plan: the four row-level rules
    (not_null / accepted_values / in_range / SQL predicate) compile into
    ONE global aggregate — a single scan and no shuffle regardless of how
    many such rules are declared; `unique` pays the one groupBy-key
    shuffle; the FK check is a broadcast anti join against the customer
    key. At 100 TB the whole report costs one scan + one key shuffle —
    the same as the cheapest possible manual audit.
    """
    from etl_process_spark.pipeline import expectations as ex

    od = tbl(spark, sf_dir, "orders")
    cust = tbl(spark, sf_dir, "customer")
    rules = [
        ex.not_null("o_custkey"),
        ex.accepted_values("o_orderstatus", "P", "O", "F"),
        ex.in_range("o_totalprice", 0, 10_000_000),
        ex.expect_expr(
            "orderdate_in_operating_window",
            "o_orderdate >= TIMESTAMP '1995-01-01'",
        ),
        ex.unique("o_orderkey"),
        ex.foreign_key("o_custkey", cust, "c_custkey"),
    ]
    return ex.check_expectations(od, rules)


@query(
    "order_price_histogram",
    """
    SELECT CAST(least(floor(o_totalprice / 50000.0), 19) AS BIGINT) AS bucket,
           count(*) AS n_orders,
           CAST(min(o_totalprice) AS DOUBLE) AS lo,
           CAST(max(o_totalprice) AS DOUBLE) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (equi-width buckets, clamped top bucket) —
    the profiling primitive behind range-partition planning and UI
    distribution charts.

    The bucket id is a pure map-side expression (floor-divide + clamp,
    identical IEEE arithmetic in every engine — no width_bucket dialect
    dependence), so the only shuffle is the ≤20-row aggregate; per-bucket
    min/max ride the same single pass. At 100 TB: scan-bound, like Q6.
    """
    od = tbl(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000.0), F.lit(19)).cast(
        "bigint"
    )
    return (
        od.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("lo"),
            F.max("o_totalprice").cast("double").alias("hi"),
        )
    )


@query(
    "part_pagerank",
    """
    WITH e AS MATERIALIZED (
      -- MATERIALIZED: referenced by deg/nodes/c1/c2/c3; DuckDB inlines
      -- multi-referenced CTEs, re-running the lineitem self-join per
      -- reference — at the 10x replica (6M rows) the un-pinned form
      -- exhausts the spill volume (the BFS oracle's round-7 failure
      -- mode). One evaluation is cheap; five are not.
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    deg AS MATERIALIZED (SELECT u, count(*) AS d FROM e GROUP BY u),
    nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM e),
    params AS (SELECT count(*) AS n,
                      (15 * 1000000000000) // (100 * count(*)) AS base,
                      1000000000000 // count(*) AS r_init
               FROM nodes),
    r0 AS (SELECT node, CAST(r_init AS BIGINT) AS r FROM nodes, params),
    c1 AS (SELECT e.v AS node, sum(r0.r // deg.d) AS s
           FROM e JOIN deg USING (u) JOIN r0 ON r0.node = e.u GROUP BY e.v),
    r1 AS (SELECT nodes.node,
                  CAST(base + (85 * coalesce(s, 0)) // 100 AS BIGINT) AS r
           FROM nodes CROSS JOIN params LEFT JOIN c1 ON c1.node = nodes.node),
    c2 AS (SELECT e.v AS node, sum(r1.r // deg.d) AS s
           FROM e JOIN deg USING (u) JOIN r1 ON r1.node = e.u GROUP BY e.v),
    r2 AS (SELECT nodes.node,
                  CAST(base + (85 * coalesce(s, 0)) // 100 AS BIGINT) AS r
           FROM nodes CROSS JOIN params LEFT JOIN c2 ON c2.node = nodes.node),
    c3 AS (SELECT e.v AS node, sum(r2.r // deg.d) AS s
           FROM e JOIN deg USING (u) JOIN r2 ON r2.node = e.u GROUP BY e.v)
    SELECT nodes.node AS part_key,
           CAST(base + (85 * coalesce(s, 0)) // 100 AS BIGINT) AS rank_units
    FROM nodes CROSS JOIN params LEFT JOIN c3 ON c3.node = nodes.node
    """,
)
def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, damping 0.85) over the part co-purchase
    graph — parts sharing an order are neighbors — in fixed-point
    BIGINT arithmetic (operators/graph.py::pagerank_fixed_point).

    Floating PageRank can't be oracle-checked exactly (partial-sum order
    moves the low bits); integer units make every engine agree to the
    last digit.

    Edge derivation avoids the lineitem self-join: group parts per order
    (one orderkey shuffle of the base table), explode the k×(k-1) pairs
    map-side, and let the adjacency ``collect_set`` dedup pairs inside
    its aggregation — no separate DISTINCT shuffle, and the iteration
    input checkpoint is O(nodes) adjacency rows, not O(edges) pairs.
    Co-purchase degree is bounded (parts per order × orders per part),
    so the adjacency layout is safe; rank and contribution tables
    broadcast (20k parts), leaving one partial-agg shuffle per round.
    """
    from etl_process_spark.operators.graph import pagerank_fixed_point

    li = tbl(spark, sf_dir, "lineitem")
    # both directions, same multiset the old dual-explode emitted, at
    # half the explode fan-out and basket-capped (copurchase_pairs)
    pairs = copurchase_pairs(li, oriented=False)
    return pagerank_fixed_point(
        pairs, iterations=3, src="u", dst="v",
        broadcast_ranks=True,
        # (u,v) and (v,u) both emitted by copurchase_pairs
        symmetric_input=True,
        adjacency=True,
        # 3 lazy rounds nest only 3 broadcast layers — no mid-run
        # checkpoint needed
        checkpoint_interval=4,
    ).select(
        F.col("node").alias("part_key"), F.col("r").alias("rank_units")
    )


@query(
    "daily_order_counts_dense",
    """
    WITH b AS (SELECT min(CAST(o_orderdate AS DATE)) AS lo,
                      max(CAST(o_orderdate AS DATE)) AS hi FROM orders),
    days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day FROM b),
    c AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
          FROM orders GROUP BY 1)
    SELECT days.day, CAST(coalesce(c.n, 0) AS BIGINT) AS n_orders
    FROM days LEFT JOIN c ON c.day = days.day
    """,
)
def daily_order_counts_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-scaffold densification: daily order counts with explicit
    zero rows for orderless days — the gap-filling every reporting layer
    needs before charting or window math (a missing day silently skews
    moving averages).

    The scaffold is generated, not stored: one (min, max) aggregate, then
    ``sequence``+``explode`` of the date range — a few thousand rows from
    a 2-row input, broadcast into the left join against the per-day
    counts. The fact table is touched exactly once (the count aggregate);
    at 100 TB the scaffold side is still a few thousand rows.
    """
    od = tbl(spark, sf_dir, "orders")
    bounds = od.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    counts = (
        od.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        F.broadcast(days)
        .join(counts, on="day", how="left")
        .select("day", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders"))
    )


@query(
    "similar_part_names",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM names a JOIN names b
      ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
     AND abs(length(a.p_name) - length(b.p_name)) <= 1
     AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def similar_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string join with blocking keys — the approximate-match
    sibling of the trim-join (J5): find name pairs within edit distance
    2 WITHOUT an all-pairs comparison.

    Candidates must share a blocking key (first character + length
    within 1 — both necessary conditions for small edit distance), and
    length is part of the SHUFFLE key (lane emission under meeting keys
    (char, greatest-length)), so one hot first letter does not become
    one hot partition. Blocks whose population exceeds the cap switch
    to the exact PassJoin chunk-signature join instead of in-block
    quadratic scoring (`operators/fuzzy.py`) — on a corpus where every
    name starts with "S" the cost is O(n·k²) candidates, never O(n²).
    Dedup to distinct names first — repeated strings would multiply
    every pair through the join.
    """
    from etl_process_spark.operators.fuzzy import blocked_levenshtein_pairs

    part = tbl(spark, sf_dir, "part")
    return blocked_levenshtein_pairs(
        part, "p_name", max_dist=2, len_band=1, block_cap=4096
    )


@query(
    "nation_presence_full_outer",
    """
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_supp
               FROM supplier WHERE s_acctbal > 4000 GROUP BY s_nationkey)
    SELECT coalesce(c.nk, s.nk) AS nationkey,
           CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
           CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp,
           c.nk IS NOT NULL AND s.nk IS NOT NULL AS both_present
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def nation_presence_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER equi join — the one join shape the reference lacks
    entirely (SURVEY §2.3 'not present'): nations with customers only,
    rich suppliers only, or both, null-extended from either side and
    keyed via coalesce across sides.

    Both inputs are pre-aggregated to ≤25 rows before the join, so the
    expensive scans feed map-combined aggregates and the full-outer
    itself joins dimension-sized frames. (Spark plans full outer as
    SMJ/shuffle-hash — it cannot broadcast a full outer — which is why
    aggregating FIRST matters: full-outer-then-aggregate would shuffle
    the raw tables.)
    """
    cust = tbl(spark, sf_dir, "customer")
    supp = tbl(spark, sf_dir, "supplier")
    c = cust.groupBy(F.col("c_nationkey").alias("c_nk")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s = (
        supp.filter(F.col("s_acctbal") > 4000)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, c.c_nk == s.s_nk, "full_outer")
        .select(
            F.coalesce(F.col("c_nk"), F.col("s_nk")).alias("nationkey"),
            F.coalesce(F.col("n_cust"), F.lit(0)).cast("bigint").alias("n_cust"),
            F.coalesce(F.col("n_supp"), F.lit(0)).cast("bigint").alias("n_supp"),
            (F.col("c_nk").isNotNull() & F.col("s_nk").isNotNull()).alias(
                "both_present"
            ),
        )
    )


@query(
    "price_band_running_sum",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW) * 100 AS BIGINT)
             AS band_sum_cents,
           count(*) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW) AS band_n
    FROM orders
    """,
)
def price_band_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based RANGE frame (the numeric sibling of the time-interval
    frame in trailing_week_user_value): for each order, the sum and count
    of the customer's orders priced within 50k below it.

    RANGE frames are defined on the ORDER BY VALUE, not row positions —
    peers (exact price ties) are always fully included, which makes the
    result deterministic even though the tie ORDER is not. One shuffle
    on the partition key; the frame scan is a sliding two-pointer over
    each sorted partition, O(rows), not O(rows × frame width).
    """
    od = tbl(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-50000, Window.currentRow)
    )
    return od.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        (F.sum(F.col("o_totalprice").cast("decimal(12,2)")).over(w) * 100)
        .cast("bigint").alias("band_sum_cents"),
        F.count(F.lit(1)).over(w).alias("band_n"),
    )


# ---------------------------------------------------------------------------
# Data layout: Z-order (Morton) clustering
# ---------------------------------------------------------------------------

def _zorder_oracle_terms(xcol: str, ycol: str, bits: int) -> str:
    """The Morton interleave as portable integer arithmetic (same formula
    `operators/zorder.py::zorder_key` emits as Spark expressions)."""
    terms = []
    for i in range(bits):
        terms.append(f"(({xcol} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({ycol} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@query(
    "zorder_cluster_stats",
    f"""
    WITH coords AS (
      SELECT o_orderkey,
             o_custkey % 256 AS x,
             date_diff('day', DATE '1992-01-01', o_orderdate) % 256 AS y
      FROM orders),
    keyed AS (
      SELECT o_orderkey, x, y,
             {_zorder_oracle_terms('x', 'y', 8)} AS z
      FROM coords)
    SELECT z // 256 AS zbucket,
           count(*) AS n_orders,
           min(x) AS x_lo, max(x) AS x_hi,
           min(y) AS y_lo, max(y) AS y_hi
    FROM keyed
    GROUP BY 1
    """,
)
def zorder_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (custkey, orderdate) with
    per-bucket bounding rectangles.

    Each 256-key Z-prefix bucket covers a 16x16 rectangle of the 256x256
    (custkey-bin, day-bin) space -- the locality that lets a file layout
    range-partitioned on ``z`` prune on EITHER dimension
    (``tests/test_plans.py::test_zorder_layout_prunes_on_both_dimensions``
    proves the file-skipping; this query pins the key math against the
    oracle). The interleave is pure JVM bit arithmetic from
    ``operators/zorder.py::zorder_key`` -- one scan, one small agg
    shuffle, no UDF at 100 TB.
    """
    from etl_process_spark.operators.zorder import zorder_key

    od = tbl(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("x"),
        (F.datediff("o_orderdate", F.lit("1992-01-01").cast("date")) % 256)
        .alias("y"),
    )
    return (
        od.withColumn("z", zorder_key(F.col("x"), F.col("y"), bits=8))
        .groupBy((F.col("z") / 256).cast("long").alias("zbucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("x").alias("x_lo"), F.max("x").alias("x_hi"),
            F.min("y").alias("y_lo"), F.max("y").alias("y_hi"),
        )
    )


@query(
    "copurchase_triangles",
    """
    WITH e AS (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
             greatest(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    tri AS (
      SELECT count(*) AS triangles
      FROM e e1 JOIN e e2 ON e2.u = e1.v
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY 1),
    wed AS (SELECT sum(d * (d - 1) / 2) AS wedges FROM deg)
    SELECT triangles, CAST(wedges AS BIGINT) AS wedges,
           CAST((3000000 * triangles - (3000000 * triangles)
                                 % CAST(wedges AS BIGINT))
         / CAST(wedges AS BIGINT) AS BIGINT) AS global_cc_ppm
    FROM tri CROSS JOIN wed
    """,
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (parts are adjacent when they share an order).

    Edges come from the same per-order ``collect_set`` explosion as
    ``part_pagerank`` (no lineitem self-join), canonically ordered
    u < v. Counting uses ``operators/graph.py::triangle_count`` —
    degree-ordered orientation, so no reducer ever squares a hub's
    full neighborhood (the wedge side is bounded by out-degree ≤
    O(√m), the WWW'11 "last reducer" fix) — while the oracle states
    the same count as the textbook two-hop self-join, which DuckDB
    can afford at sf0.01. Wedge counts (d choose 2) make the
    clustering coefficient a pure degree aggregate.
    """
    from etl_process_spark.operators.graph import triangle_count

    li = tbl(spark, sf_dir, "lineitem")
    # oriented (u < v) pairs straight from the basket-capped explode —
    # half the fan-out of the old dual explode + where(u < v)
    pairs = copurchase_pairs(li, oriented=True)
    # lazy local checkpoint: the deduped edge set feeds four plan
    # references (orientation, two degree attaches, wedge close + the
    # degree/wedge aggregates below); materialize it once, at first use
    e = checkpoint(pairs.distinct(), eager=False)
    tri = triangle_count(e)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    wed = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("wedges")
    )
    return tri.crossJoin(F.broadcast(wed)).select(
        "triangles", "wedges",
        F.expr("(3000000 * triangles) div wedges").alias("global_cc_ppm"),
    )


@query(
    "snapshot_diff_changes",
    """
    WITH v1 AS (SELECT o_orderkey AS k, o_totalprice AS price,
                       o_orderstatus AS status
                FROM orders),
    v2 AS (
      SELECT k,
             CASE WHEN k % 7 = 0 THEN price + 10 ELSE price END AS price,
             status
      FROM v1 WHERE k % 13 <> 0
      UNION ALL
      SELECT -k, price * 2, status FROM v1 WHERE k % 11 = 0)
    SELECT coalesce(a.k, b.k) AS k,
           CASE WHEN a.k IS NULL THEN 'insert'
                WHEN b.k IS NULL THEN 'delete'
                WHEN a.price <> b.price OR a.status <> b.status
                  THEN 'update' END AS change_type,
           a.price AS old_price, b.price AS new_price,
           a.status AS old_status, b.status AS new_status
    FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k
    WHERE a.k IS NULL OR b.k IS NULL
       OR a.price <> b.price OR a.status <> b.status
    """,
)
def snapshot_diff_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC: diff two table versions into insert/update/delete
    rows with old/new column images (the `table_changes` primitive of
    lakehouse formats, derived from plain snapshots by
    `operators/merge.py::snapshot_diff`).

    The second snapshot is synthesized deterministically from the first
    (key%7 price bump, key%13 deletes, key%11 inserts), so both engines
    diff identical inputs. One co-partitioned full-outer join on the
    key; unchanged rows are dropped, making the output the small side
    at any scale.
    """
    from etl_process_spark.operators.merge import snapshot_diff

    v1 = tbl(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    v2 = v1.where(F.col("k") % 13 != 0).select(
        "k",
        F.when(F.col("k") % 7 == 0, F.col("price") + 10)
        .otherwise(F.col("price")).alias("price"),
        "status",
    ).unionAll(
        v1.where(F.col("k") % 11 == 0).select(
            (-F.col("k")).alias("k"),
            (F.col("price") * 2).alias("price"),
            "status",
        )
    )
    return snapshot_diff(v1, v2, "k", ["price", "status"])


@query(
    "daily_from_hourly_rollup",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             count(*) AS n_events,
             sum(CAST(value AS DECIMAL(12,4))) AS sum_value,
             min(value) AS min_value, max(value) AS max_value
      FROM events
      GROUP BY 1, 2)
    SELECT CAST(date_trunc('day', h) AS DATE) AS day, event_type,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(sum_value) * 10000 AS BIGINT) AS total_value_e4,
           CAST((CAST(sum(sum_value) * 10000 AS BIGINT) * 100
                 - CAST(sum(sum_value) * 10000 AS BIGINT) * 100
                   % sum(n_events))
                / sum(n_events) AS BIGINT) AS avg_micro,
           min(min_value) AS min_value, max(max_value) AS max_value
    FROM hourly
    GROUP BY 1, 2
    """,
)
def daily_from_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup-lattice re-aggregation (the hypertable continuous-aggregate
    pattern): daily metrics derived FROM the hourly rollup, never from
    raw events — sum-of-sums, sum-of-counts, min-of-mins, max-of-maxes,
    and avg recomposed as Σsum/Σcount (avg itself does not re-aggregate;
    the decomposition is what makes the lattice valid).

    At 100 TB this is the difference between scanning the raw corpus and
    scanning a table ~1000× smaller: the second aggregation's input is
    (hours × types) rows. Sums ride DECIMAL so the hour→day
    re-aggregation is exactly associative — double partial sums would
    make the lattice path and the direct path disagree in low bits.
    The recomposed average is emitted as exact integer MICRO-units
    (the scale-4 DECIMAL sum shifted to an exact BIGINT, then integer
    division — Spark ``div`` ≡ DuckDB ``//``): round(DOUBLE, 6) at this
    boundary hash-failed in round 2 because engines round to different
    ulps; integer arithmetic cannot.
    """
    ev = tbl(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,4)")).alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    return (
        hourly.groupBy(
            F.date_trunc("day", "h").cast("date").alias("day"), "event_type"
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sv"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
        .select(
            "day",
            "event_type",
            "n_events",
            (F.col("sv") * 10000).cast("bigint").alias("total_value_e4"),
            F.expr("CAST(sv * 10000 AS BIGINT) * 100 div n_events").alias(
                "avg_micro"
            ),
            "min_value",
            "max_value",
        )
    )


@query(
    "pareto_frontier_orders",
    """
    WITH r AS (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
             max(o_orderdate) OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_dt
      FROM orders)
    SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate
    FROM r
    WHERE best_dt IS NULL OR o_orderdate > best_dt
    """,
)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer Pareto frontier on (cheaper, more recent): an order
    survives iff no strictly cheaper order (price tie → lower key) is at
    least as recent.

    The skyline operator without the O(n²) dominance self-join: sort
    each partition by price and keep rows whose date beats the running
    max date of everything cheaper — one window pass, one exchange,
    linear per customer. The (price, key) total order makes the
    frontier deterministic under price ties in both engines.
    """
    od = tbl(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = od.select(
        "o_custkey", "o_orderkey", "o_totalprice", "o_orderdate",
        F.max("o_orderdate").over(w).alias("best_dt"),
    )
    return r.where(
        F.col("best_dt").isNull() | (F.col("o_orderdate") > F.col("best_dt"))
    ).drop("best_dt")


@query(
    "copurchase_communities",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM e),
    c1 AS (SELECT e.u AS node, l0.label, count(*) AS cnt
           FROM e JOIN l0 ON e.v = l0.node GROUP BY 1, 2),
    l1 AS (SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                   ORDER BY cnt DESC, label) AS rn
        FROM c1) WHERE rn = 1),
    c2 AS (SELECT e.u AS node, l1.label, count(*) AS cnt
           FROM e JOIN l1 ON e.v = l1.node GROUP BY 1, 2),
    l2 AS (SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                   ORDER BY cnt DESC, label) AS rn
        FROM c2) WHERE rn = 1)
    SELECT label AS community, count(*) AS n_members
    FROM l2 GROUP BY 1
    """,
)
def copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes after two synchronous label-propagation rounds on
    the part co-purchase graph (`operators/graph.py::label_propagation`
    — most-frequent neighbor label, ties to the smallest).

    The third iterative graph family next to min-label CC (merges
    everything reachable) and fixed-point PageRank (ranks): LPA finds
    DENSE regions, the community notion a recommender wants. The
    deterministic (count desc, label asc) tie order makes a fixed round
    count hash-match the oracle's unrolled replay exactly.
    """
    from etl_process_spark.operators.graph import label_propagation

    li = tbl(spark, sf_dir, "lineitem")
    e = copurchase_pairs(li, oriented=True).distinct()
    # 20k part labels broadcast; the 2x|E| sym list is never
    # reshuffled per round
    labels = label_propagation(e, "u", "v", rounds=2, broadcast_labels=True)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").alias("n_members")
    )


@query(
    "open_orders_over_time",
    """
    WITH span AS (
      SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS ds,
             max(CAST(l.l_shipdate AS DATE)) AS de
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
      HAVING max(CAST(l.l_shipdate AS DATE)) >= CAST(o.o_orderdate AS DATE)),
    days AS (SELECT DISTINCT d FROM (
      SELECT ds AS d FROM span UNION ALL SELECT de + 1 FROM span))
    SELECT days.d AS day, count(s.o_orderkey) AS open_orders
    FROM days LEFT JOIN span s ON s.ds <= days.d AND s.de >= days.d
    GROUP BY 1
    """,
)
def open_orders_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting: how many orders are open (placed,
    not yet fully shipped) on each day the count changes.

    The oracle states it naively — join every candidate day against
    every interval, O(days × orders) — which is exactly what does NOT
    survive scale. The engine uses the sweep-line event trick: each
    interval becomes (+1 at start, −1 at end+1), one date-keyed
    aggregate collapses deltas, and a running sum over the ~unique-days
    table yields the open count. The only non-distributed step is the
    final running sum over the ALREADY-AGGREGATED day table (rows =
    distinct days, thousands at any corpus size); everything
    order-sized stays in partial-agg shuffles.
    """
    od = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    span = (
        li.groupBy("l_orderkey")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("de"))
        .join(
            od.select(
                F.col("o_orderkey").alias("l_orderkey"),
                F.col("o_orderdate").cast("date").alias("ds"),
            ),
            "l_orderkey",
        )
        # synthetic data contains spans whose last shipment precedes the
        # order date; they cover no day (both formulations must drop them
        # -- the naive join skips them implicitly, the sweep-line would
        # otherwise emit a stray -1/+1 pair)
        .where(F.col("de") >= F.col("ds"))
    )
    deltas = span.select(
        F.col("ds").alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        span.select(F.date_add("de", 1).alias("day"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("d"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day", F.sum("d").over(w).cast("bigint").alias("open_orders")
    )


@query(
    "part_bfs_reach",
    """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
             greatest(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    sym AS MATERIALIZED (SELECT u AS a, v AS b FROM e
                         UNION ALL SELECT v, u FROM e),
    d0 AS MATERIALIZED (SELECT DISTINCT p_partkey AS n FROM part
                        WHERE p_size = 1),
    d1 AS MATERIALIZED (SELECT DISTINCT s.b AS n FROM sym s JOIN d0 ON s.a = d0.n
           WHERE s.b NOT IN (SELECT n FROM d0)),
    d2 AS MATERIALIZED (SELECT DISTINCT s.b AS n FROM sym s JOIN d1 ON s.a = d1.n
           WHERE s.b NOT IN (SELECT n FROM d0)
             AND s.b NOT IN (SELECT n FROM d1)),
    d3 AS (SELECT DISTINCT s.b AS n FROM sym s JOIN d2 ON s.a = d2.n
           WHERE s.b NOT IN (SELECT n FROM d0)
             AND s.b NOT IN (SELECT n FROM d1)
             AND s.b NOT IN (SELECT n FROM d2))
    SELECT n AS part_key, 0 AS dist FROM d0
    UNION ALL SELECT n, 1 FROM d1
    UNION ALL SELECT n, 2 FROM d2
    UNION ALL SELECT n, 3 FROM d3
    """,
)
def part_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (<= 3 hops) from the p_size=1 seed
    parts over the part co-purchase graph — the k-hop-neighborhood /
    blast-radius query shape (`operators/graph.py::bfs_distances`), the
    fourth iterative graph family after CC, PageRank and label
    propagation.

    Frontier expansion settles each node exactly once at its minimal
    hop, moving O(frontier-incident edges) per round; the oracle states
    the same distances as level-wise DISTINCT set differences, which is
    the affordable SQL formulation at sf0.01. The edge/frontier CTEs
    are ``AS MATERIALIZED`` (DuckDB dialect): ``sym`` is referenced by
    all three hop levels and DuckDB inlines multi-referenced CTEs, so
    the un-pinned form recomputes the 6M-row self-join per level and
    exhausts spill disk at the 10x replica (890s -> 5s with the pin). Distances are exact
    integers — no float canonicalization surface at all.

    Seeds outside the co-purchase graph (parts never co-ordered) still
    report dist 0: distance-from-seed-set is defined on the seed table,
    not the edge list — both formulations agree on that by
    construction.

    Edge generation fan-out is bounded: per-order pair count ≤
    COPURCHASE_BASKET_CAP²/2 regardless of basket size (see
    ``copurchase_pairs``; the cap never binds on TPC-H's ≤7-item
    baskets, so the oracle — which pairs the FULL basket — stays
    hash-equal at every test SF).
    """
    from etl_process_spark.operators.graph import bfs_distances

    li = tbl(spark, sf_dir, "lineitem")
    pt = tbl(spark, sf_dir, "part")
    # oriented explode halves the fan-out; bfs_distances appends the
    # reverse direction with a narrow unionAll (symmetric=False). BFS
    # tolerates duplicate edges — no canonicalizing distinct (that
    # shuffle alone costs more than all three BFS rounds on this graph)
    pairs = copurchase_pairs(li, oriented=True)
    seeds = pt.where(F.col("p_size") == 1).select(
        F.col("p_partkey").alias("node")
    )
    return bfs_distances(pairs, seeds, max_hops=3, symmetric=False).select(
        F.col("node").alias("part_key"), F.col("dist").cast("int").alias("dist")
    )


@query(
    "weekly_distinct_rollup_hll",
    """
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           count(DISTINCT user_id) AS n_users,
           TRUE AS estimate_ok
    FROM events GROUP BY 1
    """,
)
def weekly_distinct_rollup_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count ROLLUP via sketch MERGE: daily HyperLogLog
    partials union into weekly estimates WITHOUT re-scanning the raw
    events — the lattice path for COUNT(DISTINCT) (a continuous
    aggregate can store per-day sketches and serve any coarser grain by
    merging; exact distincts don't compose, sketches do). At 100 TB the
    raw-event re-scan per rollup grain is exactly what this avoids —
    the weekly numbers here derive from 7 sketch rows each.

    The checkable contract (same device as ``approx_distinct_users``):
    the engine emits the exact weekly count alongside and asserts the
    MERGED estimate lands within 5% of it; the hashed value is the
    assertion, since raw HLL estimates are engine-specific. DataSketches
    HLL at lgK=12 is ~1% rse — 5% is a deliberately loose alarm bound.
    """
    ev = tbl(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    weekly_sketch = daily.groupBy(
        F.date_trunc("week", "day").cast("date").alias("week")
    ).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    weekly_exact = ev.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("week")
    ).agg(F.count_distinct("user_id").alias("n_users"))
    return weekly_exact.join(weekly_sketch, "week").select(
        "week",
        "n_users",
        (
            F.abs(F.col("est") - F.col("n_users"))
            <= 0.05 * F.col("n_users")
        ).alias("estimate_ok"),
    )


@query(
    "nation_revenue_trend",
    """
    WITH yearly AS (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) - 1990 AS BIGINT) AS x,
             sum(CAST(o.o_totalprice AS DECIMAL(12,2))) AS y
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2),
    m AS (
      SELECT nation, count(*) AS n, sum(x) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             sum(y) AS sy, sum(CAST(x AS DECIMAL(6,0)) * y) AS sxy
      FROM yearly GROUP BY nation)
    SELECT nation, CAST(n AS BIGINT) AS n_years,
           CAST((CAST((n * sxy - sx * sy) * 100 AS BIGINT)
                 - CAST((n * sxy - sx * sy) * 100 AS BIGINT)
                   % (n * sxx - sx * sx))
                / (n * sxx - sx * sx) AS BIGINT) AS slope_e2
    FROM m WHERE n * sxx - sx * sx <> 0
    """,
)
def nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation ordinary-least-squares revenue trend (slope of yearly
    revenue over years) from EXACT moment sums — the grouped-regression
    feature a forecasting pipeline derives per entity.

    Same exactness discipline as ``price_moments_exact``: every moment
    (Σx, Σx², Σy, Σxy) accumulates in DECIMAL/BIGINT — associative,
    partition-order-independent — and doubles appear only in the one
    final slope division, rounded to 2 (cents per year). Two shuffles
    total: the (nation, year) revenue agg, then a 25-row moment agg;
    the dims broadcast onto orders. Degenerate single-year nations
    (zero variance in x) are excluded by both formulations.
    """
    od = tbl(spark, sf_dir, "orders")
    cu = tbl(spark, sf_dir, "customer")
    na = tbl(spark, sf_dir, "nation")
    yearly = (
        od.join(
            F.broadcast(cu.select("c_custkey", "c_nationkey")),
            od.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") - 1990).cast("bigint").alias("x"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("y"))
    )
    m = yearly.groupBy("nation").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(6,0)") * F.col("y")).alias("sxy"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.where(denom != 0).select(
        "nation",
        F.col("n").cast("bigint").alias("n_years"),
        # exact: scale-2 DECIMAL numerator shifted to BIGINT cents, then
        # integer division (both engines truncate toward zero)
        F.expr(
            "CAST((n * sxy - sx * sy) * 100 AS BIGINT)"
            " div (n * sxx - sx * sx)"
        ).alias("slope_e2"),
    )


@query(
    "orders_table_checksum",
    """
    SELECT count(*) AS n_rows,
           bit_xor(CAST(concat('0x', substr(md5(concat_ws('|',
                     coalesce(CAST(o_orderkey AS VARCHAR), '\\N'),
                     coalesce(CAST(o_custkey AS VARCHAR), '\\N'),
                     coalesce(o_orderstatus, '\\N'),
                     coalesce(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                   AS VARCHAR), '\\N'),
                     coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), '\\N'),
                     coalesce(o_orderpriority, '\\N'))), 1, 15)) AS BIGINT))
             AS xor_sig,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
             AS total_price_cents
    FROM orders
    """,
)
def orders_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint: XOR of per-row 60-bit md5
    digests + row count + exact price sum — the reconciliation
    primitive for verifying a migration / replica / backfill without
    sorting or moving the table (XOR and sums are commutative, so any
    partitioning and any engine produce the same signature; one scan,
    one 1-row aggregate).

    Every hashed field is pinned to a canonical string first (BIGINTs,
    DECIMAL(12,2) for the price, ISO date) — the same representation
    discipline as ``euro_decimal_parse``, because raw double/timestamp
    rendering is exactly what engines disagree on. 60 bits (15 hex
    chars) keeps the XOR inside BIGINT range portably. The operator is
    ``operators/merge.py::table_checksum`` (unit-tested for mutation
    sensitivity and row-order/partitioning invariance).
    """
    from etl_process_spark.operators.merge import table_checksum

    od = tbl(spark, sf_dir, "orders").withColumn(
        "o_orderday", F.col("o_orderdate").cast("date")
    )
    return (
        table_checksum(
            od,
            cols=[
                "o_orderkey", "o_custkey", "o_orderstatus",
                "o_totalprice", "o_orderday", "o_orderpriority",
            ],
            decimal_cols=["o_totalprice"],
        )
        # exact integer cents at the boundary: a DECIMAL(18,2) renders
        # '…,60' as Decimal but '…,6' through a float64 pandas path —
        # trailing-zero hash hazard; BIGINT cents cannot diverge
        .withColumn(
            "total_price_cents",
            (F.col("sum_o_totalprice") * 100).cast("long"),
        )
        .drop("sum_o_totalprice")
    )


@query(
    "price_equidepth_histogram",
    """
    WITH t AS (
      SELECT o_totalprice,
             ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders)
    SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_rows,
           CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
             AS lo_cents,
           CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
             AS hi_cents
    FROM t GROUP BY bucket
    """,
)
def price_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (equal row count per bucket, data-dependent
    bounds) — the statistic cost-based optimizers and range
    partitioners actually want, vs ``order_price_histogram``'s
    fixed-WIDTH buckets. The bucket bounds are exactly the split points
    ``write_sorted``'s range partitioning uses.

    ntile over the (price, orderkey) total order pins every tie, so
    bucket membership is identical across engines; bounds come out as
    exact DECIMAL min/max. The oracle states it as ``ntile(8)`` over an
    unpartitioned window — which Spark would plan as ONE partition
    holding the whole orders table. The engine instead rides
    ``operators/ordinals.py::global_ordinals`` (price-range buckets →
    tiny count/offset table → parallel per-bucket ``row_number``) and
    derives the ntile bucket from the global rank with exact integer
    arithmetic: with ``n`` rows, ``q = n div 8`` and ``r = n % 8``,
    ntile gives buckets ``1..r`` size ``q+1`` and ``r+1..8`` size
    ``q``, so ``bucket(rn) = (rn + q) div (q + 1)`` in the first span
    and ``r + (rn - r*(q+1) + q - 1) div q`` after — bit-identical to
    the serial window with no corpus-sized single-partition stage. At
    scale the same statistic comes from approx_percentile split points
    (``approx_price_quantiles`` carries that sketch's contract); this
    is the exact formulation that oracle-checks the bucketing rule
    itself.
    """
    from etl_process_spark.operators.ordinals import global_ordinals

    od = tbl(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("decimal(12,2)").alias("p"),
        F.col("o_orderkey").alias("k"),
    )
    ranked = global_ordinals(
        od,
        order_by=[F.col("p"), F.col("k")],
        bucket=F.expr("p div 4096"),
        ordinal_name="rn",
    )
    total = od.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(
            "bucket",
            F.expr(
                "CAST(CASE WHEN rn <= (n % 8) * ((n div 8) + 1)"
                " THEN (rn + (n div 8)) div ((n div 8) + 1)"
                " ELSE (n % 8) + (rn - (n % 8) * ((n div 8) + 1)"
                "      + (n div 8) - 1) div (n div 8)"
                " END AS BIGINT)"
            ),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            (F.min("p") * 100).cast("long").alias("lo_cents"),
            (F.max("p") * 100).cast("long").alias("hi_cents"),
        )
    )


@query(
    "orders_checksum_batched",
    """
    SELECT count(*) AS n_rows,
           bit_xor(CAST(concat('0x', substr(md5(concat_ws('|',
                     coalesce(CAST(o_orderkey AS VARCHAR), '\\N'),
                     coalesce(CAST(o_custkey AS VARCHAR), '\\N'),
                     coalesce(o_orderstatus, '\\N'),
                     coalesce(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                   AS VARCHAR), '\\N'),
                     coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), '\\N'),
                     coalesce(o_orderpriority, '\\N'))), 1, 15)) AS BIGINT))
             AS xor_sig,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
             AS total_price_cents
    FROM orders
    """,
)
def orders_checksum_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-reconciliation theorem as a driver-checkable
    query: checksum the orders table in three hash-disjoint batches
    (``o_orderkey % 3``), FOLD the three 1-row fingerprints with
    `operators/merge.py::combine_checksums` — and the oracle computes
    the whole-table checksum directly. Hash equality IS the proof that
    batchwise folding (counts/totals add, signatures XOR) reproduces
    the full recompute bit-for-bit across engines — the property that
    lets a 100 TB ingest maintain a verifiable signature at O(batch)
    cost per day, never re-reading history.
    """
    from etl_process_spark.operators.merge import combine_checksums, table_checksum

    od = tbl(spark, sf_dir, "orders").withColumn(
        "o_orderday", F.col("o_orderdate").cast("date")
    )
    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderday", "o_orderpriority",
    ]
    parts = None
    for i in range(3):
        ck = table_checksum(
            od.where(F.col("o_orderkey") % 3 == i),
            cols=cols, decimal_cols=["o_totalprice"],
        )
        parts = ck if parts is None else parts.unionByName(ck)
    return (
        combine_checksums(parts)
        .withColumn(
            "total_price_cents",
            (F.col("sum_o_totalprice") * 100).cast("long"),
        )
        .drop("sum_o_totalprice")
    )


@query(
    "cms_user_event_counts",
    """
    WITH cells AS (
      SELECT t.r,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                      1 + 8 * t.r, 8)) AS BIGINT) % 256
               AS bucket
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS r) t),
    sk AS (SELECT r, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
    exact AS (SELECT user_id, count(*) AS exact_n FROM events
              GROUP BY 1 ORDER BY exact_n DESC, user_id LIMIT 10),
    probe AS (
      SELECT e.user_id, e.exact_n,
             CAST(concat('0x', substr(md5(CAST(e.user_id AS VARCHAR)),
                                      1, 8)) AS BIGINT) % 256 AS b0,
             CAST(concat('0x', substr(md5(CAST(e.user_id AS VARCHAR)),
                                      9, 8)) AS BIGINT) % 256 AS b1
      FROM exact e)
    SELECT p.user_id, p.exact_n,
           least(coalesce(s0.cnt, 0), coalesce(s1.cnt, 0)) AS cms_n,
           least(coalesce(s0.cnt, 0), coalesce(s1.cnt, 0)) - p.exact_n
             AS overcount
    FROM probe p
    LEFT JOIN sk s0 ON s0.r = 0 AND s0.bucket = p.b0
    LEFT JOIN sk s1 ON s1.r = 1 AND s1.bucket = p.b1
    """,
)
def cms_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch point estimates for the 10 most active users —
    the mergeable frequency sketch next to HLL (distinct) and
    Misra-Gries (heavy hitters): a d=2 × w=256 counter grid whose
    shuffle is ≤ d·w rows per partition REGARDLESS of key cardinality,
    and whose per-day/per-shard instances roll up by cell-wise addition
    (linearity is unit-tested as exact equality).

    The md5-slice bucket hashing is engine-portable integer arithmetic,
    so the oracle replays the ENTIRE sketch bit-for-bit — estimates are
    hash-compared exactly, not bounded. ``overcount = cms_n - exact_n``
    exhibits the one-sided error contract (≥ 0 always; ≤ N/w per
    independent colliding key in expectation — the accuracy the d·w
    sizing buys).
    """
    from etl_process_spark.operators.sketch import cms_build, cms_estimate

    ev = tbl(spark, sf_dir, "events")
    sk = cms_build(ev, F.col("user_id"), w=256, d=2)
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(10)
    )
    est = cms_estimate(sk, exact, F.col("user_id"), w=256, d=2)
    return est.select(
        "user_id",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
    )


@query(
    "ivm_join_delta",
    """
    SELECT date_trunc('month', CAST(o.o_orderdate AS DATE)) AS month,
           count(*) AS n_rows,
           CAST(floor(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4))))
                      * 100) AS BIGINT) AS revenue_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view (the delta-join
    algebra): with base tables split into old + appended-batch slices,
    the view over the union is the old view PLUS the three delta terms

        Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB,

    each aggregated and cell-wise added into the stored monthly rollup
    (counts and DECIMAL revenue sums are additive). The oracle computes
    the view over the full tables directly — hash equality is the IVM
    theorem: a nightly append maintains a 100 TB join view at
    O(Δ ⋈ …) cost, never re-joining history with history.

    Slices here: ΔO = orders with o_orderkey % 5 = 0, ΔL = lineitem
    with l_orderkey % 7 = 0 (overlapping, so every delta term is
    non-empty — checked at sf0.01). All four joins share the orderkey
    equi-join key, so at scale they reuse one co-partitioned layout
    (bucketed base tables make the old-side joins zero-exchange).
    """
    od = tbl(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month"),
    )
    li = tbl(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        (
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
        ).alias("rev"),
    )
    o_old, o_new = od.where(F.col("o_orderkey") % 5 != 0), od.where(
        F.col("o_orderkey") % 5 == 0
    )
    l_old, l_new = li.where(F.col("o_orderkey") % 7 != 0), li.where(
        F.col("o_orderkey") % 7 == 0
    )

    def agg(j: DataFrame) -> DataFrame:
        return j.groupBy("month").agg(
            F.count(F.lit(1)).alias("n"), F.sum("rev").alias("r")
        )

    terms = [
        agg(o_old.join(l_old, "o_orderkey")),
        agg(o_new.join(l_old, "o_orderkey")),
        agg(o_old.join(l_new, "o_orderkey")),
        agg(o_new.join(l_new, "o_orderkey")),
    ]
    merged = terms[0]
    for t in terms[1:]:
        merged = merged.unionByName(t)
    return (
        merged.groupBy("month")
        .agg(F.sum("n").alias("n_rows"), F.sum("r").alias("rv"))
        .select(
            "month",
            "n_rows",
            # DECIMAL floor — integer arithmetic, no double at the edge
            F.floor(F.col("rv") * 100).cast("bigint").alias("revenue_cents"),
        )
    )


@query(
    "exact_value_median",
    """
    SELECT count(*) AS n_total,
           quantile_disc(value, 0.5) AS median
    FROM events
    """,
)
def exact_value_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median of a 100 TB column by distributed selection — the
    scale path where a global sort is unaffordable and
    ``approx_percentile`` (`approx_price_quantiles`) is not exact
    enough (SLA thresholds, billing boundaries).

    Two passes, no global sort: (1) histogram the column into value-range
    buckets (map-side partials; the histogram is tiny however large the
    input) and prefix-sum it to locate the bucket holding the k-th
    smallest (k = (N+1)//2, the lower median — `quantile_disc(0.5)`'s
    contract); (2) rank ONLY that bucket's rows (a partition-local
    window over ~N/buckets rows) and take rank k − cum_before. Classic
    distributed selection: the only full-width stages are two scans;
    sorting work is confined to one bucket. Skewed distributions recurse
    on the bucket instead — one level suffices here.
    """
    ev = tbl(spark, sf_dir, "events").select("value")
    tot = ev.agg(F.count(F.lit(1)).alias("n_total")).withColumn(
        "k", F.expr("CAST((n_total + 1) div 2 AS BIGINT)")
    )
    hist = ev.groupBy(F.floor(F.col("value") * 10).alias("b")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    target = (
        hist.withColumn("cum_before", F.coalesce(F.sum("cnt").over(wcum), F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .where(
            (F.col("cum_before") < F.col("k"))
            & (F.col("k") <= F.col("cum_before") + F.col("cnt"))
        )
        .select("b", "cum_before", "k", "n_total")
    )
    in_bucket = ev.join(
        F.broadcast(target), F.floor(F.col("value") * 10) == F.col("b")
    )
    wr = Window.partitionBy("b").orderBy("value")
    picked = in_bucket.withColumn("rn", F.row_number().over(wr)).where(
        F.col("rn") == F.col("k") - F.col("cum_before")
    )
    # the median is a SOURCE value (quantile_disc semantics) — emit it
    # verbatim; a pass-through double is engine-exact, rounding is not
    return picked.select("n_total", F.col("value").alias("median"))


@query(
    "exact_median_by_type",
    """
    SELECT event_type, count(*) AS n,
           quantile_disc(value, 0.5) AS median
    FROM events GROUP BY event_type
    """,
)
def exact_median_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED exact median by distributed selection — the per-group
    generalization of `exact_value_median`: histogram buckets keyed by
    (group, bucket), per-group prefix sums over the tiny histogram
    locate each group's k-th-smallest bucket, and ranking runs only
    inside each group's one median bucket. No group's values are ever
    globally sorted, and a skewed group costs only its own bucket —
    the shape that survives GROUP BY medians over 100 TB with hot keys.
    """
    ev = tbl(spark, sf_dir, "events").select("event_type", "value")
    tot = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).withColumn(
        "k", F.expr("CAST((n + 1) div 2 AS BIGINT)")
    )
    hist = ev.groupBy(
        "event_type", F.floor(F.col("value") * 10).alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    target = (
        hist.withColumn(
            "cum_before", F.coalesce(F.sum("cnt").over(wcum), F.lit(0))
        )
        .join(F.broadcast(tot), "event_type")
        .where(
            (F.col("cum_before") < F.col("k"))
            & (F.col("k") <= F.col("cum_before") + F.col("cnt"))
        )
        .select(
            F.col("event_type").alias("et"), "b", "cum_before", "k", "n"
        )
    )
    in_bucket = ev.join(
        F.broadcast(target),
        (F.col("event_type") == F.col("et"))
        & (F.floor(F.col("value") * 10) == F.col("b")),
    ).select("event_type", "value", "b", "cum_before", "k", "n")
    wr = Window.partitionBy("event_type", "b").orderBy("value")
    picked = in_bucket.withColumn("rn", F.row_number().over(wr)).where(
        F.col("rn") == F.col("k") - F.col("cum_before")
    )
    # source-value pass-through, same contract as exact_value_median
    return picked.select("event_type", "n", F.col("value").alias("median"))


@query(
    "part_entity_clusters",
    """
    WITH RECURSIVE names AS (SELECT DISTINCT p_name FROM part),
    pairs AS (
      SELECT a.p_name AS pa, b.p_name AS pb
      FROM names a JOIN names b
        ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
       AND abs(length(a.p_name) - length(b.p_name)) <= 1
       AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 2),
    edges AS (SELECT pa AS ea, pb AS eb FROM pairs
              UNION SELECT pb, pa FROM pairs),
    reach(n, m) AS (
      SELECT ea, eb FROM edges
      UNION
      SELECT r.n, e.eb FROM reach r JOIN edges e ON r.m = e.ea),
    comp AS (SELECT n, least(n, min(m)) AS c FROM reach GROUP BY n)
    SELECT nm.p_name,
           coalesce(c.c, nm.p_name) AS entity_id,
           count(*) OVER (PARTITION BY coalesce(c.c, nm.p_name))
             AS n_members
    FROM names nm LEFT JOIN comp c ON c.n = nm.p_name
    """,
)
def part_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: blocking (`similar_part_names`'s
    first-char + length-band block) → edit-distance≤2 match edges →
    connected components → every name labeled with its entity's
    canonical (smallest) name plus entity size; names matching nothing
    stay singleton entities of themselves.

    The composition that makes pairwise fuzzy matching USABLE: pairs
    alone can't deduplicate (A~B, B~C but A≁C), the transitive closure
    can. All three stages are the audited scale shapes — skew-capped
    block-local matching (`operators/fuzzy.py`: oversized blocks take
    the exact PassJoin chunk-signature path), digest-sized CC
    iterations (`operators/graph.py`), and the singleton pass-through
    is one anti join. Oracle replays blocking + closure with a
    recursive CTE.
    """
    from etl_process_spark.operators.fuzzy import blocked_levenshtein_pairs
    from etl_process_spark.operators.graph import connected_components

    part = tbl(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    edges = blocked_levenshtein_pairs(
        part, "p_name", max_dist=2, len_band=1, block_cap=4096
    ).select(F.col("name_a").alias("pa"), F.col("name_b").alias("pb"))
    cc = connected_components(edges, "pa", "pb").select(
        F.col("node").alias("p_name"), F.col("component").alias("c")
    )
    labeled = names.join(cc, "p_name", "left").select(
        "p_name", F.coalesce("c", F.col("p_name")).alias("entity_id")
    )
    w = Window.partitionBy("entity_id")
    return labeled.select(
        "p_name", "entity_id", F.count(F.lit(1)).over(w).alias("n_members")
    )


@query(
    "winsorized_price_stats",
    """
    WITH cents AS (
      SELECT p.p_brand AS brand,
             CAST(CAST(l.l_extendedprice AS DECIMAL(12,4)) * 100 AS BIGINT) AS c,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    ranked AS (
      SELECT brand, c,
             row_number() OVER (PARTITION BY brand
                                ORDER BY c, l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY brand) AS n
      FROM cents
    ),
    cuts AS (
      SELECT brand, any_value(n) AS n,
             max(CASE WHEN rn = ((n - 1) * 5) // 100 + 1 THEN c END) AS lo_cents,
             max(CASE WHEN rn = ((n - 1) * 95) // 100 + 1 THEN c END) AS hi_cents
      FROM ranked GROUP BY brand
    )
    SELECT r.brand, any_value(t.n) AS n,
           any_value(t.lo_cents) AS lo_cents,
           any_value(t.hi_cents) AS hi_cents,
           CAST(sum(CASE WHEN r.c < t.lo_cents THEN t.lo_cents
                         WHEN r.c > t.hi_cents THEN t.hi_cents
                         ELSE r.c END) AS BIGINT) AS wsum_cents,
           CAST((100 * sum(CASE WHEN r.c < t.lo_cents THEN t.lo_cents
                                WHEN r.c > t.hi_cents THEN t.hi_cents
                                ELSE r.c END)) // any_value(t.n)
                AS BIGINT) AS wmean_centicents
    FROM ranked r JOIN cuts t USING (brand)
    GROUP BY r.brand
    """,
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand winsorized price statistics: clamp prices at the exact
    discrete p5/p95 ranks, then the robust mean — the outlier-resistant
    aggregate a data-quality monitor tracks instead of a raw mean one
    fat-finger order can drag.

    Shape: ONE rank window per brand partition (rn + partition count in
    the same window pass), a brand-sized cutoff table joined back
    broadcast-style, and a final partial-agg shuffle. Percentiles are
    rank-discrete with integer index math — no interpolation, no double
    anywhere: prices live as exact cents and the winsorized mean ships
    as ×100 centi-cents via integer division.
    """
    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part")
    cents = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        (F.col("l_extendedprice").cast("decimal(12,4)") * 100)
        .cast("bigint").alias("c"),
        "l_orderkey", "l_linenumber",
    )
    w_rank = Window.partitionBy("brand").orderBy("c", "l_orderkey", "l_linenumber")
    w_all = Window.partitionBy("brand")
    ranked = cents.select(
        "brand", "c",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    lo_idx = F.expr("((n - 1) * 5) DIV 100 + 1")
    hi_idx = F.expr("((n - 1) * 95) DIV 100 + 1")
    cuts = ranked.groupBy("brand").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == lo_idx, F.col("c"))).alias("lo_cents"),
        F.max(F.when(F.col("rn") == hi_idx, F.col("c"))).alias("hi_cents"),
    )
    clamped = ranked.select("brand", "c").join(F.broadcast(cuts), "brand").select(
        "brand", "n", "lo_cents", "hi_cents",
        F.when(F.col("c") < F.col("lo_cents"), F.col("lo_cents"))
        .when(F.col("c") > F.col("hi_cents"), F.col("hi_cents"))
        .otherwise(F.col("c")).alias("wc"),
    )
    return clamped.groupBy("brand").agg(
        F.max("n").alias("n"),
        F.max("lo_cents").alias("lo_cents"),
        F.max("hi_cents").alias("hi_cents"),
        F.sum("wc").alias("wsum_cents"),
        F.expr("(100 * sum(wc)) DIV max(n)").alias("wmean_centicents"),
    )
