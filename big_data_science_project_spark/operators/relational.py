"""Relational core: scan → project/filter → agg → join → window → set ops.

The reference has no relational surface beyond scan/limit/count (SURVEY.md
§2.4-2.5: "no joins, no window functions, no set operations"); these
operators are the engine-mandated generic DataFrame/SQL layer, each verified
against a DuckDB oracle. Every query is expressed declaratively so Catalyst
supplies pushdown, pruning, join planning and whole-stage codegen; comments
call out the scale-relevant plan choices.

Naming convention: every computed column is aliased identically in the
DataFrame plan and the oracle SQL (driver hashes columns sorted by name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.numeric import davg, davg_expr, dsum, dsum_expr
from ..sources.tables import load_table, register_views

QUERIES: dict = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = (fn, oracle)
        return fn
    return deco


# ---------------------------------------------------------------------------
# q01: pricing summary (TPC-H Q1 shape) — the canonical partial+final
# hash aggregation. At 100 TB this is a map-side-combine over ~4 groups:
# shuffle volume is O(partitions × groups), essentially free.
# ---------------------------------------------------------------------------
@q("q01_pricing_summary", f"""
SELECT l_returnflag, l_linestatus,
       {dsum_expr('l_quantity')}                                    AS sum_qty,
       {dsum_expr('l_extendedprice')}                               AS sum_base_price,
       {dsum_expr('l_extendedprice * (1 - l_discount)')}            AS sum_disc_price,
       {dsum_expr('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {davg_expr('l_quantity')}                                    AS avg_qty,
       {davg_expr('l_extendedprice')}                               AS avg_price,
       {davg_expr('l_discount')}                                    AS avg_disc,
       COUNT(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q02: projection + predicate — both must reach the parquet scan
# (PushedFilters / ReadSchema in .explain). No shuffle at all.
# ---------------------------------------------------------------------------
@q("q02_filter_project", """
SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_quantity > 45
""")
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_quantity") > 45)
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")


# ---------------------------------------------------------------------------
# q03: 3-way join + agg + deterministic top-k (TPC-H Q3 shape).
# customer is small → broadcast; orders⋈lineitem is the big shuffle and
# joins on the natural key, so AQE can split a skewed o_orderkey.
# Top-k = orderBy().limit(): Spark plans TakeOrderedAndProject — no full sort.
# ---------------------------------------------------------------------------
@q("q03_revenue_topn", f"""
SELECT l_orderkey, o_orderdate_s, revenue
FROM (
  SELECT l.l_orderkey,
         CAST(o.o_orderdate AS VARCHAR) AS o_orderdate_s,
         {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
  FROM customer c
  JOIN orders o   ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
  GROUP BY l.l_orderkey, CAST(o.o_orderdate AS VARCHAR)
) t
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""")
def q03_revenue_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("string").alias("o_orderdate_s"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q04: EXISTS → left-semi join (TPC-H Q4 shape). Semi join ships only the
# join key of the probe side, and duplicate keys never multiply rows.
# ---------------------------------------------------------------------------
@q("q04_order_priority", """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 40)
GROUP BY o_orderpriority
""")
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 40)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# q05: star join across all dims (TPC-H Q5 shape). region/nation/customer/
# supplier are dimensions → broadcast chain; only lineitem⋈orders shuffles.
# ---------------------------------------------------------------------------
@q("q05_region_revenue", f"""
SELECT n.n_name,
       {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM lineitem l
JOIN orders o    ON l.l_orderkey = o.o_orderkey
JOIN customer c  ON o.o_custkey = c.c_custkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n    ON c.c_nationkey = n.n_nationkey
JOIN region r    ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""")
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ---------------------------------------------------------------------------
# q06: pure filter + global sum (TPC-H Q6 shape). The whole query is one
# scan with every predicate pushed to parquet; result is a single row.
# ---------------------------------------------------------------------------
@q("q06_forecast_revenue", f"""
SELECT {dsum_expr('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


# ---------------------------------------------------------------------------
# q07: ranking window — the engine-mandated analogue of the reference's
# per-channel argmax (SURVEY.md A7/§2.5). Deterministic tiebreak on the key.
# ---------------------------------------------------------------------------
@q("q07_window_rank", """
SELECT n_name, c_custkey, c_acctbal, rnk FROM (
  SELECT n.n_name, c.c_custkey, c.c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY n.n_name
                            ORDER BY c.c_acctbal DESC, c.c_custkey) AS rnk
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
) t WHERE rnk <= 3
""")
def q07_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = W.partitionBy("n_name").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "c_custkey", "c_acctbal",
                F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# q08: frame window — running total per customer. Fully-ordered frame makes
# the double accumulation order deterministic; decimal keeps it exact.
# ---------------------------------------------------------------------------
@q("q08_running_total", """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       AS running_spend
FROM orders
""")
def q08_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(28,6)")).over(w)
        .cast("double").alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# q09: lag/lead analytics — days since a customer's previous order.
# ---------------------------------------------------------------------------
@q("q09_order_gaps", """
SELECT o_custkey, o_orderkey,
       CAST(date_diff('day',
            LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey),
            o_orderdate) AS BIGINT) AS days_since_prev
FROM orders
""")
def q09_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return o.select(
        "o_custkey", "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), prev.cast("date"))
        .cast("bigint").alias("days_since_prev"),
    )


# ---------------------------------------------------------------------------
# q10: set operations on key sets (engine-mandated, SURVEY.md §2.5).
# ---------------------------------------------------------------------------
@q("q10_set_ops", """
WITH buyers AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
     rich   AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
SELECT c_custkey, 'both' AS tag FROM (SELECT * FROM buyers INTERSECT SELECT * FROM rich) t1
UNION ALL
SELECT c_custkey, 'rich_no_order' AS tag FROM (SELECT * FROM rich EXCEPT SELECT * FROM buyers) t2
""")
def q10_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    buyers = o.select(F.col("o_custkey").alias("c_custkey")).distinct()
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    both = buyers.intersect(rich).withColumn("tag", F.lit("both"))
    only_rich = rich.exceptAll(buyers).distinct().withColumn("tag", F.lit("rich_no_order"))
    return both.unionByName(only_rich)


# ---------------------------------------------------------------------------
# q11: distinct aggregates. countDistinct expands to a two-phase aggregate;
# at scale prefer approx_count_distinct (see q24) when exactness is optional.
# ---------------------------------------------------------------------------
@q("q11_distinct_agg", """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*)                  AS n_rows
FROM lineitem
GROUP BY l_returnflag
""")
def q11_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# q12: rollup / grouping sets (engine-mandated, SURVEY.md §2.3 tail).
# ---------------------------------------------------------------------------
@q("q12_rollup", f"""
SELECT l_returnflag, l_linestatus,
       {dsum_expr('l_quantity')} AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def q12_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# q13: scalar string functions over part names.
# ---------------------------------------------------------------------------
@q("q13_string_fns", """
SELECT UPPER(p_brand) AS brand_u,
       SUBSTRING(p_type, 1, 5) AS type5,
       COUNT(*) AS n,
       CAST(SUM(LENGTH(p_name)) AS BIGINT) AS name_chars,
       CAST(SUM(CASE WHEN REGEXP_MATCHES(p_name, '(red|blue)') THEN 1 ELSE 0 END) AS BIGINT) AS colored
FROM part
GROUP BY UPPER(p_brand), SUBSTRING(p_type, 1, 5)
""")
def q13_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.groupBy(
            F.upper("p_brand").alias("brand_u"),
            F.substring("p_type", 1, 5).alias("type5"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("p_name")).cast("bigint").alias("name_chars"),
            F.sum(F.when(F.col("p_name").rlike("(red|blue)"), 1).otherwise(0))
            .cast("bigint").alias("colored"),
        )
    )


# ---------------------------------------------------------------------------
# q14: date/time functions — monthly revenue. Year/month extracted as ints
# (timestamp-free output avoids engine timezone-render differences).
# ---------------------------------------------------------------------------
@q("q14_monthly_revenue", f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT)  AS yr,
       CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mth,
       {dsum_expr('o_totalprice')} AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY 1, 2
""")
def q14_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mth"),
        )
        .agg(dsum("o_totalprice", "revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# q15: JSON extraction from the events.props payload (SURVEY.md §2.6 tail).
# get_json_object stays JVM-side; no Python in the plan.
# ---------------------------------------------------------------------------
@q("q15_json_props", f"""
SELECT event_type,
       CAST(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) AS avg_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       COUNT(*) AS n
FROM events
GROUP BY event_type
""")
def q15_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.avg(k).alias("avg_k"),
        F.max(k).cast("bigint").alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# q16: AS-OF join (engine extension, SURVEY.md §2.4). For each 'purchase'
# event, the most recent prior-or-equal 'signup' value for the same user.
# Spark lacks a native as-of join; the scalable pattern is union → window
# last_value over (user, ts) → filter back to the probe side. One shuffle
# on user_id, no cross product — survives arbitrarily large event tables.
# ---------------------------------------------------------------------------
@q("q16_asof_join", """
SELECT p.event_id, p.user_id,
       CAST(p.ts AS VARCHAR)  AS ts_s,
       s.value                AS signup_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts >= s.ts
""")
def q16_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # the carried payload is a STRUCT of the signup row, not the bare
    # value: last(..., ignorenulls) must pick the newest signup EVENT even
    # when that signup's value is NULL (a bare-double carry would skip it
    # and wrongly fall back to an older signup — ASOF matches rows, not
    # non-null values)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.lit(None).cast("struct<value:double>").alias("s_row"),
        F.lit(1).alias("is_probe"))
    signups = e.filter(F.col("event_type") == "signup").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.struct(F.col("value").alias("value")).alias("s_row"),
        F.lit(0).alias("is_probe"))
    # order signups before probes at identical ts so "prior-or-equal" matches
    unioned = purchases.unionByName(signups)
    w = (W.partitionBy("user_id").orderBy("ts", "is_probe")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        unioned
        .withColumn("signup_value",
                    F.last("s_row", ignorenulls=True).over(w)["value"])
        .filter(F.col("is_probe") == 1)
        .select("event_id", "user_id",
                F.col("ts").cast("string").alias("ts_s"), "signup_value")
    )


# ---------------------------------------------------------------------------
# q17: flagship — the reference's outlier-vote pipeline re-expressed
# relationally (SURVEY.md §7 Milestone 0; reference outlier_detection.py:41-61).
# fit = groupBy avg/var_samp (the hand-rolled Welford/Chan combineByKey at
# outlier_detection.py:64-101 collapses to CentralMomentAgg built-ins);
# score = broadcast join of the tiny stats table + vote aggregation
# (outlier_detection.py:41-53); keep rows with votes < 0 (majority of values
# within mean ± 0.5σ — the reference keeps inliers despite the name).
# ---------------------------------------------------------------------------
@q("q17_outlier_votes", f"""
WITH stats AS (
  SELECT l_returnflag,
         {davg_expr('l_extendedprice')} AS mean_price,
         VAR_SAMP(l_extendedprice) AS var_price
  FROM lineitem GROUP BY l_returnflag
),
votes AS (
  SELECT l.l_orderkey,
         CAST(SUM(CASE WHEN ABS(l.l_extendedprice - s.mean_price)
                            < 0.5 * SQRT(s.var_price)
                       THEN -1 ELSE 1 END) AS BIGINT) AS votes
  FROM lineitem l JOIN stats s ON l.l_returnflag = s.l_returnflag
  GROUP BY l.l_orderkey
)
SELECT l_orderkey, votes FROM votes WHERE votes < 0
""")
def q17_outlier_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        davg("l_extendedprice", "mean_price"),
        F.var_samp("l_extendedprice").alias("var_price"),
    )
    vote = F.when(
        F.abs(F.col("l_extendedprice") - F.col("mean_price"))
        < 0.5 * F.sqrt(F.col("var_price")), -1).otherwise(1)
    return (
        li.join(F.broadcast(stats), "l_returnflag")
        .groupBy("l_orderkey")
        .agg(F.sum(vote).cast("bigint").alias("votes"))
        .filter(F.col("votes") < 0)
    )


# ---------------------------------------------------------------------------
# q18: correlated scalar subquery (TPC-H Q17 shape) — small-quantity orders
# vs per-part average. The subquery becomes an aggregate + re-join; at scale
# the per-part aggregate is tiny relative to lineitem → broadcast.
# ---------------------------------------------------------------------------
@q("q18_small_qty_vs_avg", f"""
SELECT {dsum_expr('l.l_extendedprice')} AS total_price, COUNT(*) AS n
FROM lineitem l
JOIN (SELECT l_partkey, 0.5 * AVG(l_quantity) AS half_avg_qty
      FROM lineitem GROUP BY l_partkey) a
  ON l.l_partkey = a.l_partkey
WHERE l.l_quantity < a.half_avg_qty
""")
def q18_small_qty_vs_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty"))
    return (
        li.join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(dsum("l_extendedprice", "total_price"),
             F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# q19: anti join — customers with no orders (NOT EXISTS).
# ---------------------------------------------------------------------------
@q("q19_customers_no_orders", """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def q19_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


# ---------------------------------------------------------------------------
# q20: argmax per group via max_by (SURVEY.md A7 — the grid-search argmax
# pattern as a single aggregate instead of a driver loop).
# ---------------------------------------------------------------------------
@q("q20_top_order_per_cust", """
SELECT o_custkey, o_orderkey AS best_orderkey, best_price FROM (
  SELECT o_custkey, o_orderkey,
         MAX(o_totalprice) OVER (PARTITION BY o_custkey) AS best_price,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
  FROM orders
) t WHERE rn = 1
""")
def q20_top_order_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.expr("max_by(o_orderkey, struct(o_totalprice, o_orderkey))")
        .alias("best_orderkey"),
        F.max("o_totalprice").alias("best_price"),
    )


# ---------------------------------------------------------------------------
# q21: full outer join with null-handling — nation order volume including
# nations with no customers.
# ---------------------------------------------------------------------------
@q("q21_nation_order_volume", """
SELECT n.n_name, COALESCE(t.n_orders, 0) AS n_orders
FROM nation n
LEFT JOIN (
  SELECT c.c_nationkey, COUNT(*) AS n_orders
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey
) t ON n.n_nationkey = t.c_nationkey
""")
def q21_nation_order_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_nation = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        F.broadcast(n).join(per_nation, n.n_nationkey == per_nation.c_nationkey, "left")
        .select("n_name", F.coalesce("cnt", F.lit(0)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# q22: conditional aggregation (TPC-H Q12 shape, on orderpriority).
# ---------------------------------------------------------------------------
@q("q22_priority_case_agg", """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY l_linestatus
""")
def q22_priority_case_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# q23: CUBE + GROUPING() — all 4 grouping combinations in one pass
# (engine-mandated grouping sets, SURVEY.md §2.3 tail). grouping_id
# distinguishes "rolled-up" nulls from data nulls.
# ---------------------------------------------------------------------------
@q("q23_cube", f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
       {dsum_expr('l_quantity')} AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def q23_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        dsum("l_quantity", "sum_qty"),
        F.count(F.lit(1)).alias("n"),
    ).select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")


# ---------------------------------------------------------------------------
# q24: ordered-set / statistical aggregates — exact percentiles (Spark
# `percentile` == DuckDB `quantile_cont`, both linear interpolation),
# Pearson correlation, sample covariance. Exact percentile sorts within
# groups, O(n log n) per group with every group value buffered: lineitem
# beyond a few hundred MiB of parquet is not a supported workload here
# (the largest fixture, sf0.1, is 10.8 MB). The sketch form lives in its
# own query, q52. corr/covar are single-pass exact at any scale.
# ---------------------------------------------------------------------------
@q("q24_percentiles", """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6)  AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
       ROUND(corr(l_extendedprice, l_quantity), 6)    AS corr_price_qty,
       ROUND(covar_samp(l_extendedprice, l_quantity), 6) AS covar_price_qty
FROM lineitem
GROUP BY l_returnflag
""")
def q24_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # BOTH quantiles from ONE aggregate buffer: percentile(col,
    # array(p...)) sorts the group's values once and reads two
    # interpolation points, where two scalar percentile() calls each
    # buffered every value (Catalyst dedupes identical aggregate
    # expressions, so the [0]/[1] extractions below share one
    # partial_percentile — plan-asserted).
    pcts = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)))
    p50, p95 = pcts.getItem(0), pcts.getItem(1)
    return li.groupBy("l_returnflag").agg(
        F.round(p50, 6).alias("p50"),
        F.round(p95, 6).alias("p95"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 6).alias("covar_price_qty"),
    )


# ---------------------------------------------------------------------------
# q25: range join — clicks within the hour before each purchase, same
# user. Equi key (user_id) + bounded time range: Catalyst plans a
# sort-merge join on the equi key with the range as a post-join filter,
# so there is no cross product; the 1-hour bound keeps per-key fan-out
# finite at any scale.
# ---------------------------------------------------------------------------
@q("q25_range_join", """
SELECT p.event_id, COUNT(c.event_id) AS clicks_before
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
GROUP BY p.event_id
""")
def q25_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"))
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"))
    return (
        p.join(c, (F.col("c_user") == F.col("p_user"))
               & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
               & (F.col("c_ts") < F.col("p_ts")), "left")
        .groupBy(F.col("p_id").alias("event_id"))
        .agg(F.count("c_id").alias("clicks_before"))
    )


# ---------------------------------------------------------------------------
# q26: sketch validation — approx_count_distinct (HLL++) checked against
# the exact count. HLL internals differ across engines, so the oracle
# checks the CONTRACT (≤5% relative error) rather than the sketch value:
# the Spark side emits the exact count plus a within-bound flag; the
# oracle emits the exact count plus literal TRUE. At 100 TB the sketch is
# the only viable option — this query keeps it honest.
# ---------------------------------------------------------------------------
@q("q26_approx_distinct", """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_exact,
       TRUE AS approx_within_5pct
FROM lineitem
GROUP BY l_returnflag
""")
def q26_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n_exact"),
             F.approx_count_distinct("l_partkey", rsd=0.02).alias("n_approx"))
        .select(
            "l_returnflag", "n_exact",
            (F.abs(F.col("n_approx") - F.col("n_exact"))
             <= 0.05 * F.col("n_exact")).alias("approx_within_5pct"))
    )


# ---------------------------------------------------------------------------
# q28: the remaining window-function families in one pass — dense_rank,
# ntile, and a time-RANGE frame (30-day trailing spend). One shuffle on
# o_custkey serves all three window specs.
# ---------------------------------------------------------------------------
@q("q28_window_suite", """
SELECT o_custkey, o_orderkey,
       DENSE_RANK() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC)              AS price_rank,
       NTILE(4) OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey)      AS quartile,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate
            RANGE BETWEEN INTERVAL '30 days' PRECEDING AND CURRENT ROW)
         AS DOUBLE)                                                AS spend_30d
FROM orders
""")
def q28_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w_rank = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    w_tile = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    spend = F.expr(
        "SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER ("
        "PARTITION BY o_custkey ORDER BY o_orderdate "
        "RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW)")
    return o.select(
        "o_custkey", "o_orderkey",
        F.dense_rank().over(w_rank).alias("price_rank"),
        F.ntile(4).over(w_tile).alias("quartile"),
        spend.cast("double").alias("spend_30d"),
    )


# ---------------------------------------------------------------------------
# q29: semi-structured scalars — from_json into a typed struct plus
# date/time extraction, all JVM-side expressions over the events table.
# ---------------------------------------------------------------------------
@q("q29_json_struct", """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT)              AS k_val,
       CAST(EXTRACT(hour FROM ts) AS INT)                          AS hr,
       CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT)
                                                                   AS days_since_2024
FROM events
""")
def q29_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k int")
    return e.select(
        "event_id",
        parsed["k"].alias("k_val"),
        F.hour("ts").alias("hr"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .alias("days_since_2024"),
    )


# ---------------------------------------------------------------------------
# q30: NOT IN with a nullable subquery — Spark plans a NULL-AWARE anti
# join (one NULL in the subquery empties the result, per SQL three-
# valued logic). The filter keeps the semantics honest on both engines.
# ---------------------------------------------------------------------------
@q("q30_notin_nullaware", """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderpriority = '1-URGENT')
""")
def q30_notin_nullaware(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql("""
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                WHERE o_orderpriority = '1-URGENT')
    """)


# ---------------------------------------------------------------------------
# q31: disjunctive multi-branch predicate (TPC-H Q19 shape) — OR across
# bracketed AND groups; Catalyst pushes the common conjuncts and leaves
# the disjunction as a single filter, not a union of scans.
# ---------------------------------------------------------------------------
@q("q31_disjunctive_pred", f"""
SELECT {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       COUNT(*) AS n
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND l.l_quantity BETWEEN 20 AND 30)
""")
def q31_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
             F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# q32: correlated EXISTS + NOT EXISTS in one query (TPC-H Q21 shape,
# simplified): lineitems whose order has another lineitem from a
# different supplier (EXISTS) but none with an earlier shipdate
# (NOT EXISTS) — a semi join and an anti join stacked on the same scan.
# ---------------------------------------------------------------------------
@q("q32_exists_notexists", """
SELECT l1.l_suppkey, COUNT(*) AS numwait
FROM lineitem l1
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate < l1.l_shipdate)
GROUP BY l1.l_suppkey
""")
def q32_exists_notexists(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "lineitem")
    return spark.sql("""
        SELECT l1.l_suppkey, COUNT(*) AS numwait
        FROM lineitem l1
        WHERE EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate < l1.l_shipdate)
        GROUP BY l1.l_suppkey
    """)


# ---------------------------------------------------------------------------
# q27: skew-mitigation by explicit salting — q17's vote pipeline with the
# stats join salted. l_returnflag has 3 values, so EVERY fact row hits one
# of 3 join keys: the worst-case skew shape. The fact side gets a
# deterministic salt in [0, 16); the 3-row stats side is replicated ×16
# (explode), and the join key becomes (l_returnflag, salt) — 48 evenly
# loaded keys instead of 3 hot ones. Result is identical to q17 (same
# oracle), only the physical key distribution changes. At bench scale the
# stats side broadcasts anyway; the pattern is what a 1000-executor
# shuffle join on skewed keys needs when the dim is too big to broadcast.
# ---------------------------------------------------------------------------
N_SALT = 16


@q("q27_skew_salted_votes", f"""
WITH stats AS (
  SELECT l_returnflag,
         {davg_expr('l_extendedprice')} AS mean_price,
         VAR_SAMP(l_extendedprice) AS var_price
  FROM lineitem GROUP BY l_returnflag
),
votes AS (
  SELECT l.l_orderkey,
         CAST(SUM(CASE WHEN ABS(l.l_extendedprice - s.mean_price)
                            < 0.5 * SQRT(s.var_price)
                       THEN -1 ELSE 1 END) AS BIGINT) AS votes
  FROM lineitem l JOIN stats s ON l.l_returnflag = s.l_returnflag
  GROUP BY l.l_orderkey
)
SELECT l_orderkey, votes FROM votes WHERE votes < 0
""")
def q27_skew_salted_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        davg("l_extendedprice", "mean_price"),
        F.var_samp("l_extendedprice").alias("var_price"),
    )
    salted_stats = stats.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1))))
    salted_li = li.withColumn(
        "salt", F.pmod(F.col("l_orderkey") + F.col("l_linenumber"), F.lit(N_SALT))
        .cast("int"))
    vote = F.when(
        F.abs(F.col("l_extendedprice") - F.col("mean_price"))
        < 0.5 * F.sqrt(F.col("var_price")), -1).otherwise(1)
    return (
        salted_li.join(salted_stats, ["l_returnflag", "salt"])
        .groupBy("l_orderkey")
        .agg(F.sum(vote).cast("bigint").alias("votes"))
        .filter(F.col("votes") < 0)
    )


# ---------------------------------------------------------------------------
# q33: pivot (wide cross-tab). The pivot values are DECLARED, not
# discovered: without an explicit value list Spark runs an extra
# collect-distinct job over the full table just to learn the column set —
# at 100 TB that is a complete scan before the real query starts. The
# declared list also fixes the output schema for downstream consumers.
# Empty (status, priority) combos are coalesced to 0 to match SQL's
# SUM(CASE ...) semantics (pivot-count yields NULL for no-row cells).
# ---------------------------------------------------------------------------
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@q("q33_pivot", """
SELECT o_orderstatus,
""" + ",\n".join(
    f"""       CAST(SUM(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END)
            AS BIGINT) AS "{p}\"""" for p in PRIORITIES) + """
FROM orders
GROUP BY o_orderstatus
""")
def q33_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").pivot("o_orderpriority", PRIORITIES).count()
    return wide.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(p) for p in PRIORITIES])


# ---------------------------------------------------------------------------
# q34: single-pass column profiling — the data-quality scan every
# ingestion pipeline runs first. ALL per-column statistics (non-null
# count, exact distinct, min, max) come from ONE aggregate over ONE scan,
# then `stack` tidies the single wide row into per-column rows; the naive
# per-column loop would re-scan the table once per column. Exact distinct
# on two columns expands via Spark's aggregate expansion (one shuffle),
# which is the price of exactness — q26 shows the sketch alternative.
# ---------------------------------------------------------------------------
@q("q34_profile", """
SELECT 'o_custkey' AS col,
       COUNT(o_custkey) AS n_nonnull,
       COUNT(DISTINCT o_custkey) AS n_distinct,
       CAST(MIN(o_custkey) AS DOUBLE) AS min_v,
       CAST(MAX(o_custkey) AS DOUBLE) AS max_v
FROM orders
UNION ALL
SELECT 'o_totalprice',
       COUNT(o_totalprice),
       COUNT(DISTINCT o_totalprice),
       MIN(o_totalprice),
       MAX(o_totalprice)
FROM orders
""")
def q34_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = o.agg(
        F.count("o_custkey").alias("ck_n"),
        F.countDistinct("o_custkey").alias("ck_d"),
        F.min("o_custkey").cast("double").alias("ck_min"),
        F.max("o_custkey").cast("double").alias("ck_max"),
        F.count("o_totalprice").alias("tp_n"),
        F.countDistinct("o_totalprice").alias("tp_d"),
        F.min("o_totalprice").alias("tp_min"),
        F.max("o_totalprice").alias("tp_max"),
    )
    return wide.select(F.expr(
        "stack(2, 'o_custkey', ck_n, ck_d, ck_min, ck_max, "
        "'o_totalprice', tp_n, tp_d, tp_min, tp_max) "
        "AS (col, n_nonnull, n_distinct, min_v, max_v)"))


# ---------------------------------------------------------------------------
# q35: batch sessionization — the classic gaps-and-islands assignment
# (streaming twin: streaming/events.py session_window). Two window passes
# over ONE shuffle on user_id: lag() marks session starts (gap > 30 min),
# a running sum over the same (user, ts) ordering numbers the sessions, so
# AQE/Catalyst reuses the exchange — the sort is paid once. Event-time
# arithmetic stays in integer microseconds (unix_micros/epoch_us): exact,
# no float drift, no timezone dependence. event_id breaks equal-ts ties so
# the assignment is deterministic under any partitioning.
# ---------------------------------------------------------------------------
SESSION_GAP_US = 30 * 60 * 1_000_000


@q("q35_sessionize", f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) <= {SESSION_GAP_US}
              THEN 0 ELSE 1 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
       {dsum_expr('value')} AS total_value
FROM sess
GROUP BY user_id, session_id
""")
def q35_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # With configure_reads applied, events.ts is already TIMESTAMP; the cast
    # is defensive for sessions missing inferTimestampNTZ=false (where ts
    # scans as NTZ, which unix_micros rejects). Under the UTC session
    # timezone the cast is exact — identical to DuckDB epoch_us.
    ts_us = F.col("ts").cast("timestamp")
    gap = F.unix_micros(ts_us) - F.unix_micros(F.lag(ts_us).over(w))
    new_s = F.when(gap <= SESSION_GAP_US, 0).otherwise(1)  # NULL gap → 1
    sess = e.withColumn(
        "session_id",
        F.sum(new_s).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             (F.unix_micros(F.max("ts").cast("timestamp"))
              - F.unix_micros(F.min("ts").cast("timestamp")))
             .alias("duration_us"),
             dsum("value", "total_value"))
    )


# ---------------------------------------------------------------------------
# q36: incremental aggregate maintenance — the materialized-view pattern.
# The "existing" rollup state (9/10ths of lineitem) and a "delta" batch
# (the remaining tenth) are each reduced to algebraic partial aggregates
# (count, decimal sum), then MERGED by re-aggregating the two partial
# states — the full fact table is never rescanned to refresh the view.
# The oracle computes the same result directly over the whole table, so
# the hash-match PROVES the merge is lossless: at 100 TB this is the
# difference between touching a day's partition and touching the corpus.
# Sums stay decimal until after the merge — merging doubles would
# reintroduce order-dependent rounding.
# ---------------------------------------------------------------------------
@q("q36_incremental_agg", f"""
SELECT l_returnflag,
       COUNT(*) AS n,
       {dsum_expr('l_quantity')} AS sum_qty,
       {dsum_expr('l_extendedprice')} AS sum_price
FROM lineitem
GROUP BY l_returnflag
""")
def q36_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    is_delta = (F.col("l_orderkey") % 10) == 0

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("l_quantity").cast("decimal(28,6)")).alias("pqty"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).alias("pprice"),
        )

    existing = partial(li.filter(~is_delta))   # the standing view state
    delta = partial(li.filter(is_delta))       # the newly arrived batch
    return (
        existing.unionByName(delta)
        .groupBy("l_returnflag")
        .agg(F.sum("pn").alias("n"),
             F.sum("pqty").cast("double").alias("sum_qty"),
             F.sum("pprice").cast("double").alias("sum_price"))
    )


# ---------------------------------------------------------------------------
# q37: CDC merge (upsert/delete apply) — the lakehouse MERGE INTO pattern
# as a single hash join. The change feed (here: a deterministic slice of
# orders re-keyed as updates and deletes) joins the base table on the
# primary key; deletes drop, updates override via coalesce, everything
# else passes through untouched. One shuffle on the join key — at scale
# the base side is bucketed/partitioned by key so the merge is co-located
# and the untouched partitions are never rewritten.
# ---------------------------------------------------------------------------
@q("q37_cdc_merge", """
WITH changes AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 100 = 0 THEN 'U' ELSE 'D' END AS op
  FROM orders
  WHERE o_orderkey % 100 <= 1
)
SELECT o.o_orderstatus,
       CASE WHEN c.op = 'U' THEN 'X' ELSE o.o_orderpriority END AS priority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
FROM orders o
LEFT JOIN changes c USING (o_orderkey)
WHERE c.op IS NULL OR c.op = 'U'
GROUP BY 1, 2
""")
def q37_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    changes = (
        o.filter((F.col("o_orderkey") % 100) <= 1)
        .select("o_orderkey",
                F.when((F.col("o_orderkey") % 100) == 0, F.lit("U"))
                .otherwise(F.lit("D")).alias("op"))
    )
    merged = (
        o.join(changes, "o_orderkey", "left")
        .filter(F.col("op").isNull() | (F.col("op") == "U"))
        .select(
            "o_orderstatus",
            F.when(F.col("op") == "U", F.lit("X"))
            .otherwise(F.col("o_orderpriority")).alias("priority"),
            "o_totalprice")
    )
    return merged.groupBy("o_orderstatus", "priority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "total"))


# ---------------------------------------------------------------------------
# q38: error-safe scalar function family — try_cast / try_divide,
# null-safe equality (<=>), NULLIF, interval arithmetic. These are the
# functions that decide whether a 100 TB job survives dirty data: the
# try_* forms turn per-row failures into NULLs instead of killing the
# stage, and every one of them stays a JVM-side expression inside
# whole-stage codegen. Outputs are integer counts so cross-engine parity
# is exact.
# ---------------------------------------------------------------------------
@q("q38_safe_functions", """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_value,
       CAST(SUM(CASE WHEN event_id // NULLIF(event_id % 7, 0) IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
       CAST(SUM(CASE WHEN TRY_CAST(
                  CASE WHEN event_id % 3 = 0 THEN 'x'
                       ELSE CAST(event_id AS VARCHAR) END AS BIGINT)
                IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_castable,
       CAST(SUM(CASE WHEN value IS NOT DISTINCT FROM NULLIF(value, 0)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
       CAST(SUM(EXTRACT(hour FROM ts + INTERVAL 90 MINUTE)) AS BIGINT)
         AS sum_shifted_hour
FROM events
GROUP BY event_type
""")
def q38_safe_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    div_null = F.try_divide(
        F.col("event_id"), F.nullif(F.col("event_id") % 7, F.lit(0))).isNull()
    castable = F.expr(
        "try_cast(CASE WHEN event_id % 3 = 0 THEN 'x' "
        "ELSE CAST(event_id AS STRING) END AS BIGINT)").isNotNull()
    nullsafe_eq = F.col("value").eqNullSafe(F.nullif(F.col("value"), F.lit(0.0)))
    shifted_hour = F.hour(F.col("ts") + F.expr("INTERVAL 90 MINUTE"))
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").isNull().cast("int")).cast("bigint")
            .alias("n_null_value"),
            F.sum(div_null.cast("int")).cast("bigint").alias("n_div_null"),
            F.sum(castable.cast("int")).cast("bigint").alias("n_castable"),
            F.sum(nullsafe_eq.cast("int")).cast("bigint").alias("n_nullsafe_eq"),
            F.sum(shifted_hour).cast("bigint").alias("sum_shifted_hour"),
        )
    )


# ---------------------------------------------------------------------------
# q39: pure non-equi (theta) band join — a tiny tier table joined ONLY on
# a range predicate, no equi key. Spark plans BroadcastNestedLoopJoin:
# the 4-row dimension broadcasts and every lineitem row probes it
# map-side, so the corpus never shuffles — the one theta-join shape that
# is scale-safe, and the physical operator (BNLJ) no other query here
# exercises. The band table is inlined as literals on BOTH sides so the
# oracle shares it exactly.
# ---------------------------------------------------------------------------
PRICE_BANDS = [
    (0.0, 20000.0, "low"),
    (20000.0, 50000.0, "mid"),
    (50000.0, 100000.0, "high"),
    (100000.0, 1e9, "lux"),
]


@q("q39_band_join", f"""
SELECT tier, COUNT(*) AS n, {dsum_expr('l_extendedprice')} AS band_revenue
FROM lineitem
JOIN (VALUES {', '.join(f"(CAST({lo} AS DOUBLE), CAST({hi} AS DOUBLE), '{t}')"
                        for lo, hi, t in PRICE_BANDS)}) b(lo, hi, tier)
  ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY tier
""")
def q39_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(PRICE_BANDS, "lo double, hi double, tier string")
    return (
        li.join(F.broadcast(bands),
                (F.col("l_extendedprice") >= F.col("lo"))
                & (F.col("l_extendedprice") < F.col("hi")))
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum("l_extendedprice", "band_revenue"))
    )


# ---------------------------------------------------------------------------
# q40: the SQL front-end — the identical ANSI text runs on Spark
# (spark.sql over registered views) and on DuckDB as the oracle. TPC-H
# Q14 shape (promo revenue share): one fact-dim equi join + conditional
# aggregate; Catalyst gets the full statement, so pushdown/broadcast
# decisions are made from SQL exactly as they are from the DataFrame API.
# ---------------------------------------------------------------------------
_Q40_SQL = f"""
SELECT CAST(100.00 AS DOUBLE) * {dsum_expr(
    "CASE WHEN p_type LIKE 'PROMO%' "
    "THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
       / {dsum_expr('l_extendedprice * (1 - l_discount)')} AS promo_share,
       COUNT(*) AS n
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
"""


@q("q40_sql_promo", _Q40_SQL)
def q40_sql_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q40_SQL)


# ---------------------------------------------------------------------------
# q41: explicit GROUPING SETS — the irregular-hierarchy cousin of q12's
# rollup / q23's cube, completing the multi-granularity agg family. One
# shared ANSI text runs on both engines (Spark parses GROUPING SETS in
# SQL only; the DataFrame API stops at rollup/cube). grouping_id
# disambiguates real NULL keys from subtotal rows. Same single-pass
# partial-agg execution as rollup: Spark expands the sets map-side, so
# the shuffle carries one partial per (set, group), never a rescan per
# set.
# ---------------------------------------------------------------------------
_Q41_SQL = """
SELECT l_returnflag, l_linestatus,
       GROUPING_ID(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@q("q41_grouping_sets", _Q41_SQL)
def q41_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_Q41_SQL)


# ---------------------------------------------------------------------------
# q42: advanced statistical aggregates — exact median, higher central
# moments (skewness, excess kurtosis) and the linear-regression family
# (regr_slope/intercept/r2/count), all per group in ONE partial+final
# hash aggregate. Spark's CentralMomentAgg keeps merge-stable running
# moments (the correct version of the reference's hand-rolled
# Welford/Chan combiner, outlier_detection.py:64-101), so a 100 TB
# scan needs no second pass; the oracle mirrors the population-moment
# definitions with an explicit two-pass mean to avoid cancellation.
# Median is the only non-algebraic member (Spark sorts per group);
# at scale prefer approx_percentile — kept exact here for the oracle.
# ---------------------------------------------------------------------------
@q("q42_adv_stats", """
WITH m AS (SELECT l_returnflag, AVG(l_quantity) AS mu FROM lineitem GROUP BY 1)
SELECT l.l_returnflag,
       ROUND(CAST(MEDIAN(l.l_quantity) AS DOUBLE), 6) AS med_qty,
       ROUND(AVG(POWER(l.l_quantity - m.mu, 3))
         / POWER(AVG(POWER(l.l_quantity - m.mu, 2)), 1.5), 6) AS skew_qty,
       ROUND(AVG(POWER(l.l_quantity - m.mu, 4))
         / POWER(AVG(POWER(l.l_quantity - m.mu, 2)), 2) - 3, 6) AS kurt_qty,
       ROUND(REGR_SLOPE(l.l_extendedprice, l.l_quantity), 6)     AS price_qty_slope,
       ROUND(REGR_INTERCEPT(l.l_extendedprice, l.l_quantity), 6) AS price_qty_icept,
       ROUND(REGR_R2(l.l_extendedprice, l.l_quantity), 9)        AS price_qty_r2,
       CAST(REGR_COUNT(l.l_extendedprice, l.l_quantity) AS BIGINT) AS n_pairs
FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
GROUP BY l.l_returnflag
""")
def q42_adv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Outputs are ROUNDed (6dp; r2 at 9dp for its ~1e-5 magnitude): the
    # central moments are merge-stable but their low bits legitimately
    # depend on partition merge order, so bit-exact cross-engine (or even
    # cross-partitioning) equality is impossible for the raw doubles —
    # rounding at a precision far above the ~1e-12 accumulation drift
    # makes the result deterministic, the same contract outlier_fit uses.
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(F.median("l_quantity"), 6).alias("med_qty"),
             F.round(F.skewness("l_quantity"), 6).alias("skew_qty"),
             F.round(F.kurtosis("l_quantity"), 6).alias("kurt_qty"),
             F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6)
              .alias("price_qty_slope"),
             F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 6)
              .alias("price_qty_icept"),
             F.round(F.regr_r2("l_extendedprice", "l_quantity"), 9)
              .alias("price_qty_r2"),
             F.regr_count("l_extendedprice", "l_quantity").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# q43: unpivot / melt — wide→long reshape of an aggregated table.
# Spark's unpivot is a zero-shuffle Expand node (each input row emits
# one row per value column, map-side); the only shuffle is the 4-group
# aggregate that builds the wide input. The long layout is what the
# profiling (q34) and tidy-stats operators consume at scale.
# ---------------------------------------------------------------------------
@q("q43_unpivot", f"""
WITH wide AS (
  SELECT l_returnflag,
         {dsum_expr('l_quantity')}      AS sum_qty,
         {dsum_expr('l_extendedprice')} AS sum_price,
         {dsum_expr('l_discount')}      AS sum_disc
  FROM lineitem GROUP BY 1)
SELECT l_returnflag, metric, val
FROM wide UNPIVOT (val FOR metric IN (sum_qty, sum_price, sum_disc))
""")
def q43_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_price"),
        dsum("l_discount", "sum_disc"))
    return wide.unpivot(["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"],
                        "metric", "val")


# ---------------------------------------------------------------------------
# q44: higher-order array functions over the embeddings table — the
# zero-shuffle path for vector columns: aggregate (fold), filter+size,
# and sort+slice+fold all run inside whole-stage codegen per row, no
# Python, no explode. At 100 TB this is the pattern for embedding
# feature engineering: O(rows) map-only work, shuffle-free. The fold
# is sequential within each array on both engines, so float sums are
# order-identical (oracle-exact without decimal quantization).
# ---------------------------------------------------------------------------
@q("q44_array_hof", """
SELECT vec_id,
       len(embedding) AS dim,
       list_aggregate(embedding, 'sum') AS emb_sum,
       len(list_filter(embedding, x -> x > 0)) AS n_pos,
       list_aggregate(list_reverse_sort(embedding)[1:3], 'sum') AS top3_sum
FROM embeddings
""")
def q44_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.expr("aggregate(embedding, cast(0 as double), (acc, x) -> acc + x)")
         .alias("emb_sum"),
        F.expr("size(filter(embedding, x -> x > 0))").alias("n_pos"),
        F.expr("aggregate(slice(array_sort(embedding, (a, b) -> "
               "case when a > b then -1 when a < b then 1 else 0 end), 1, 3), "
               "cast(0 as double), (acc, x) -> acc + x)").alias("top3_sum"))


# ---------------------------------------------------------------------------
# q45: customer order-count distribution (TPC-H Q13 shape) — LEFT join
# keeps zero-order customers, COUNT(col) counts only matches, then a
# second tiny aggregate histograms the counts. The first shuffle is the
# big one (orders by o_custkey); the histogram input is |customers|
# rows and the output ~tens of groups, so the second exchange is free.
# ---------------------------------------------------------------------------
@q("q45_cust_order_hist", """
SELECT n_orders, COUNT(*) AS n_cust
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey) per_cust
GROUP BY n_orders
""")
def q45_cust_order_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("n_orders")))
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_cust"))


# ---------------------------------------------------------------------------
# q46: top supplier by quarterly revenue (TPC-H Q15 shape) — the
# "rows equal to a computed extremum" pattern. The revenue rollup is
# one fact-table aggregate (|suppliers| output rows); its max is a
# 1-row DataFrame broadcast back, so the tie-preserving selection is
# a map-side comparison, not a window over the whole rollup. Exact
# decimal sums make the equality safe across engines/partitionings.
# ---------------------------------------------------------------------------
@q("q46_top_supplier", f"""
WITH rev AS (
  SELECT l_suppkey,
         {dsum_expr('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
""")
def q46_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp")))
        .groupBy("l_suppkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
            .drop("mx")
            .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_revenue"))


# ---------------------------------------------------------------------------
# q47: VARIANT semi-structured aggregation — Spark 4's native
# open-schema type: parse_json once into a shredded binary VARIANT,
# then typed-path extraction (variant_get) feeds a plain hash
# aggregate. Unlike get_json_object (q15, string re-parse per call),
# the parse happens once per row and paths are binary field lookups —
# the idiomatic 100 TB shape for heterogeneous event payloads.
# Integer sums keep the oracle exact.
# ---------------------------------------------------------------------------
@q("q47_variant_json", """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
FROM events GROUP BY event_type
""")
def q47_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return (ev.select("event_type", F.parse_json("props").alias("v"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(k).alias("k_sum"),
                 F.max(k).alias("k_max")))


# ---------------------------------------------------------------------------
# q48: distribution-rank window suite — percent_rank, cume_dist,
# running IGNORE NULLS first_value and lead-with-default share ONE
# window spec, so Spark plans a single sort+Window node (one exchange
# on o_orderpriority). The unique (price, key) ordering makes every
# rank deterministic; the default RANGE frame equals a ROWS frame
# under unique ordering, so both engines agree row-for-row.
# ---------------------------------------------------------------------------
@q("q48_window_extras", """
SELECT o_orderkey,
       percent_rank() OVER w AS pr,
       cume_dist()    OVER w AS cd,
       first_value(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END
                   IGNORE NULLS) OVER w AS first_f,
       lead(o_totalprice, 1, 0.0) OVER w AS next_price
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
""")
def q48_window_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.first(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")),
                ignorenulls=True).over(w).alias("first_f"),
        F.lead("o_totalprice", 1, 0.0).over(w).alias("next_price"))


# ---------------------------------------------------------------------------
# q49: LATERAL correlated subquery (Spark 4 SQL) — per-customer top-2
# orders. One shared ANSI text runs on both engines (q40 pattern).
# Catalyst decorrelates the LATERAL + LIMIT into a ranked window over
# the join — one shuffle on the correlation key, no per-customer
# re-execution, so the plan scales exactly like q20's max_by argmax.
# ---------------------------------------------------------------------------
_Q49_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2) t
WHERE c.c_custkey <= 100
"""


@q("q49_lateral_topn", _Q49_SQL)
def q49_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_Q49_SQL)


# ---------------------------------------------------------------------------
# q50: recursive CTE (Spark 4 SQL) — a 12-month calendar spine generated
# by UNION ALL recursion, LEFT-joined to monthly revenue so empty months
# survive with 0. Shared ANSI text on both engines. The recursion is
# driver-cheap (12 rows); the fact-side aggregate is the only real work,
# and the spine join is a broadcast. The bounded, acyclic recursion is
# the supported Spark shape (cyclic closures need UNION, which Spark's
# recursive CTEs don't take yet — dedup_clusters keeps its iterative
# min-label loop for that).
# ---------------------------------------------------------------------------
_Q50_SQL = """
WITH RECURSIVE months(m) AS (
  SELECT DATE '1996-01-01'
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months WHERE m < DATE '1996-12-01'
),
monthly AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS m2,
         CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(28,6))) AS DOUBLE) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY 1
)
SELECT CAST(months.m AS STRING) AS month_s,
       CAST(COALESCE(monthly.rev, 0) AS DOUBLE) AS revenue
FROM months LEFT JOIN monthly ON monthly.m2 = months.m
"""


@q("q50_recursive_spine", _Q50_SQL)
def q50_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_Q50_SQL)


# ---------------------------------------------------------------------------
# q51: SCD Type-2 versioning — turn a change stream into effective-dated
# dimension rows: version = row_number, effective_to = lead(ts), open
# rows flagged current. One window spec → one shuffle on the business
# key; at 100 TB this is the standard dimension-build pass, and the
# event-time ordering (ts, event_id) is total so versions are stable
# under any partitioning. Complements q37 (CDC merge applies the latest
# state; SCD2 keeps the full history).
# ---------------------------------------------------------------------------
@q("q51_scd2", """
SELECT user_id, ROW_NUMBER() OVER w AS version,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CAST(ts AS VARCHAR) AS eff_from_s,
       CAST(LEAD(ts) OVER w AS VARCHAR) AS eff_to_s,
       LEAD(ts) OVER w IS NULL AS is_current
FROM events WHERE user_id <= 100
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def q51_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 100)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts", 1).over(w)
    return ev.select(
        "user_id",
        F.row_number().over(w).alias("version"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        F.col("ts").cast("string").alias("eff_from_s"),
        nxt.cast("string").alias("eff_to_s"),
        nxt.isNull().alias("is_current"))


# ---------------------------------------------------------------------------
# q52: approximate percentile validated against the exact one (q26's
# pattern for sketches): approx_percentile runs as a mergeable
# KLL-style sketch — one partial+final pass, fixed memory per group —
# while the exact percentile sorts per group. The query asserts the
# sketch lands within 1% of truth; at 100 TB only the sketch is viable
# and this is the verification harness for swapping it in.
# ---------------------------------------------------------------------------
@q("q52_approx_percentile", """
SELECT l_returnflag,
       CAST(MEDIAN(l_extendedprice) AS DOUBLE) AS p50_exact,
       COUNT(*) AS n,
       TRUE AS approx_within_1pct
FROM lineitem GROUP BY 1
""")
def q52_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.percentile("l_extendedprice", 0.5).alias("p50_exact"),
             F.expr("approx_percentile(l_extendedprice, 0.5, 10000)")
              .alias("p50_approx"),
             F.count(F.lit(1)).alias("n"))
        .select("l_returnflag", "p50_exact", "n",
                (F.abs(F.col("p50_approx") - F.col("p50_exact"))
                 <= 0.01 * F.col("p50_exact")).alias("approx_within_1pct"))
    )


# ---------------------------------------------------------------------------
# q53: ordered string aggregation — listagg WITHIN GROUP (Spark 4) /
# STRING_AGG: the canonical "denormalize a dimension into a label"
# op. The explicit ORDER BY inside the aggregate makes the result
# deterministic under any partitioning — without it, concat order is
# whatever the shuffle delivered, a classic 1000-executor flake.
# ---------------------------------------------------------------------------
@q("q53_listagg", """
SELECT r_name,
       STRING_AGG(n_name, ',' ORDER BY n_name) AS nations,
       COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""")
def q53_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.expr("listagg(n_name, ',') within group (order by n_name)")
              .alias("nations"),
             F.count(F.lit(1)).alias("n_nations"))
    )


# ---------------------------------------------------------------------------
# q54: HLL sketch partials — the distributed-distinct-count pattern for
# 100 TB: per-shard hll_sketch_agg partials (fixed ~16 KB each at
# lgConfigK=14), hll_union_agg merge, estimate at the end. The query
# PROVES the sketch workflow's accuracy contract: both the merged
# two-shard estimate and the one-pass estimate land within 5% of the
# exact count (union and single-pass estimates may differ by a few
# counts — the datasketches union path uses a different estimator —
# which is exactly why the contract is a tolerance, not equality).
# ---------------------------------------------------------------------------
@q("q54_hll_mergeable", """
SELECT COUNT(DISTINCT l_partkey) AS n_exact,
       TRUE AS merged_within_5pct,
       TRUE AS full_within_5pct
FROM lineitem
""")
def q54_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    shard_sketches = (li.withColumn("h", F.col("l_orderkey") % 2)
                      .groupBy("h")
                      .agg(F.expr("hll_sketch_agg(l_partkey, 14)").alias("sk")))
    merged = shard_sketches.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk, true))").alias("est_merged"))
    full = li.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(l_partkey, 14))").alias("est_full"),
        F.countDistinct("l_partkey").alias("n_exact"))
    return (merged.crossJoin(full).select(
        "n_exact",
        (F.abs(F.col("est_merged") - F.col("n_exact"))
         <= 0.05 * F.col("n_exact")).alias("merged_within_5pct"),
        (F.abs(F.col("est_full") - F.col("n_exact"))
         <= 0.05 * F.col("n_exact")).alias("full_within_5pct")))


# ---------------------------------------------------------------------------
# q55: explicit NULL ordering — Spark sorts NULLS FIRST ascending /
# NULLS LAST descending by default, DuckDB the opposite; any top-k over
# a nullable ranking expression silently diverges across engines unless
# the ordering is pinned. Shared ANSI text with explicit NULLS LAST on
# both engines (and a unique tie-break) — the portability discipline
# every cross-engine pipeline needs. Plans as TakeOrderedAndProject,
# same as q03.
# ---------------------------------------------------------------------------
_Q55_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS f_price
FROM orders
WHERE o_custkey <= 20
ORDER BY f_price DESC NULLS LAST, o_orderkey
LIMIT 100
"""


@q("q55_null_ordering", _Q55_SQL)
def q55_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "orders")
    return spark.sql(_Q55_SQL)


# ---------------------------------------------------------------------------
# q56: map-type functions — build a map column from aggregated entries
# (sorted first, so construction order is deterministic under any
# partitioning), then typed lookups, cardinality, a fold over
# map_values, and ordered key rendering. Maps are the natural shape for
# per-key feature bundles at serving time; everything here is JVM
# expression work on top of one partial+final aggregate. DuckDB's map
# subscript yields a single-element list — the oracle unwraps with
# [1] to keep the schema scalar on both engines.
# ---------------------------------------------------------------------------
@q("q56_map_funcs", """
WITH c AS (
  SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2),
m AS (
  SELECT l_returnflag,
         map_from_entries(list_sort(list(
           struct_pack(l_linestatus := l_linestatus, cnt := cnt)))) AS m
  FROM c GROUP BY 1)
SELECT l_returnflag,
       m['O'][1] AS n_open,
       m['F'][1] AS n_full,
       CAST(cardinality(m) AS BIGINT) AS n_keys,
       CAST(list_aggregate(map_values(m), 'sum') AS BIGINT) AS n_total,
       array_to_string(map_keys(m), ',') AS keys_s
FROM m
""")
def q56_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("l_returnflag")
        .agg(F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("l_linestatus", "cnt"))))
            .alias("m"))
        .select("l_returnflag",
                F.expr("element_at(m, 'O')").alias("n_open"),
                F.expr("element_at(m, 'F')").alias("n_full"),
                F.expr("cardinality(m)").alias("n_keys"),
                F.expr("aggregate(map_values(m), 0L, (a, x) -> a + x)")
                 .alias("n_total"),
                F.expr("concat_ws(',', map_keys(m))").alias("keys_s"))
    )


# ---------------------------------------------------------------------------
# q57: bitwise and boolean aggregates + filtered count — flag/bitmap
# analytics (bit_and/or/xor fold per group) and predicate rollups
# (bool_and/bool_or, count_if). All algebraic: constant state per
# group, map-side combined, same scale shape as q01.
# ---------------------------------------------------------------------------
@q("q57_bit_bool_aggs", """
SELECT l_returnflag,
       BIT_AND(l_linenumber) AS band,
       BIT_OR(l_linenumber) AS bor,
       BIT_XOR(l_linenumber) AS bxor,
       BOOL_AND(l_quantity > 0) AS all_pos,
       BOOL_OR(l_discount > 0.09) AS any_big_disc,
       COUNT(*) FILTER (l_tax = 0) AS n_notax
FROM lineitem GROUP BY 1
""")
def q57_bit_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.expr("bit_and(l_linenumber)").alias("band"),
             F.expr("bit_or(l_linenumber)").alias("bor"),
             F.expr("bit_xor(l_linenumber)").alias("bxor"),
             F.expr("bool_and(l_quantity > 0)").alias("all_pos"),
             F.expr("bool_or(l_discount > 0.09)").alias("any_big_disc"),
             F.expr("count_if(l_tax = 0)").alias("n_notax"))
    )


# ---------------------------------------------------------------------------
# q58: ordered conversion funnel (view → click → purchase) — the product
# -analytics staple. Strict ordering via staged conditional minima: the
# earliest view, the earliest click AFTER that view, the earliest
# purchase after that click. Three narrow per-user aggregates chained by
# broadcast-sized joins (user-id cardinality ≪ event count); lags are
# exact integer micros. At 100 TB each stage is a map-side-combined
# aggregate over the user key — the same shuffle the sessionizer (q35)
# already pays, and the per-stage tables only shrink.
# ---------------------------------------------------------------------------
@q("q58_funnel", """
WITH tv AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id),
tc AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN tv USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > tv.t_view
  GROUP BY e.user_id),
tp AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN tc USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > tc.t_click
  GROUP BY e.user_id)
SELECT COUNT(*) AS n_view,
       COUNT(tc.t_click) AS n_click,
       COUNT(tp.t_purchase) AS n_purchase,
       CAST(SUM(CASE WHEN tc.t_click IS NOT NULL
            THEN epoch_us(tc.t_click) - epoch_us(tv.t_view) END) AS BIGINT)
         AS click_lag_us_total,
       CAST(SUM(CASE WHEN tp.t_purchase IS NOT NULL
            THEN epoch_us(tp.t_purchase) - epoch_us(tc.t_click) END) AS BIGINT)
         AS purchase_lag_us_total
FROM tv LEFT JOIN tc USING (user_id) LEFT JOIN tp USING (user_id)
""")
def q58_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tv = (ev.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    tc = (ev.filter(F.col("event_type") == "click")
          .join(tv, "user_id")
          .filter(F.col("ts") > F.col("t_view"))
          .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    tp = (ev.filter(F.col("event_type") == "purchase")
          .join(tc, "user_id")
          .filter(F.col("ts") > F.col("t_click"))
          .groupBy("user_id").agg(F.min("ts").alias("t_purchase")))
    joined = (tv.join(tc, "user_id", "left").join(tp, "user_id", "left"))
    lag = lambda a, b: F.unix_micros(F.col(a)) - F.unix_micros(F.col(b))
    return joined.agg(
        F.count(F.lit(1)).alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
        F.sum(F.when(F.col("t_click").isNotNull(), lag("t_click", "t_view")))
         .cast("bigint").alias("click_lag_us_total"),
        F.sum(F.when(F.col("t_purchase").isNotNull(),
                     lag("t_purchase", "t_click")))
         .cast("bigint").alias("purchase_lag_us_total"))


# ---------------------------------------------------------------------------
# q59: count-min sketch heavy hitters — the mandate's "novel sketch"
# beyond HLL (q54). Build: one map-side explode to D=4 (row, bucket)
# cells per event, then a ≤D×W-group aggregate — shuffle volume is
# O(partitions × 256 cells), like the HLL partials. Probe: estimate(key)
# = min over rows of cell[row][h_row(key)], always ≥ the true count
# (one-sided error) — asserted in-query by emitting estimate alongside
# the exact count. Hashing is the engine's standard md5→integer trick,
# reproduced verbatim in the oracle, so sketch contents are bit-identical
# cross-engine. At 100 TB the sketch is 256 bigints — a broadcast-sized
# summary of an arbitrarily large stream, mergeable across partitions/
# days by cell-wise addition.
# ---------------------------------------------------------------------------
CMS_D, CMS_W = 4, 64


def _cms_bucket(j, key):
    """md5(j:key) → bucket in [0, W) — identical expression in the oracle."""
    return (F.conv(F.substring(F.md5(F.concat_ws(":", j, key)), 1, 8),
                   16, 10).cast("bigint") % CMS_W)


@q("q59_countmin_sketch", f"""
WITH cells AS (
  SELECT j,
         CAST(('0x' || SUBSTRING(md5(j || ':' || event_type), 1, 8))
              AS BIGINT) % {CMS_W} AS bucket,
         COUNT(*) AS cnt
  FROM events, (SELECT unnest(generate_series(0, {CMS_D - 1})) AS j)
  GROUP BY 1, 2),
keys AS (SELECT event_type, COUNT(*) AS exact_n FROM events GROUP BY 1),
probes AS (
  SELECT k.event_type, k.exact_n, c.cnt
  FROM keys k, (SELECT unnest(generate_series(0, {CMS_D - 1})) AS j) js
  JOIN cells c
    ON c.j = js.j
   AND c.bucket = CAST(('0x' || SUBSTRING(md5(js.j || ':' || k.event_type),
                                          1, 8)) AS BIGINT) % {CMS_W})
SELECT event_type, exact_n,
       CAST(MIN(cnt) AS BIGINT) AS cms_estimate,
       CAST(MIN(cnt) - exact_n AS BIGINT) AS overestimate
FROM probes
GROUP BY event_type, exact_n
""")
def q59_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    js = F.explode(F.array(*[F.lit(j) for j in range(CMS_D)])).alias("j")
    cells = (ev.select("event_type").select(js, "event_type")
             .select("j", _cms_bucket(F.col("j"), F.col("event_type"))
                     .alias("bucket"))
             .groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt")))
    keys = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_n"))
    probes = (keys.select("event_type", "exact_n", js)
              .select("event_type", "exact_n", "j",
                      _cms_bucket(F.col("j"), F.col("event_type"))
                      .alias("bucket")))
    return (probes.join(F.broadcast(cells), ["j", "bucket"])
            .groupBy("event_type", "exact_n")
            .agg(F.min("cnt").cast("bigint").alias("cms_estimate"),
                 (F.min("cnt") - F.first("exact_n")).cast("bigint")
                 .alias("overestimate")))


# ---------------------------------------------------------------------------
# q60: grouped-aggregate pandas UDF (UDAF) — the §2.9 surface where a
# custom aggregate no built-in covers runs as ONE Arrow batch per group:
# a 10%-trimmed mean (drop floor(n/10) lowest+highest, average the
# rest). Values are sorted inside the UDF and summed left-to-right
# (np.cumsum), so the result is independent of shuffle arrival order;
# the oracle reproduces the identical fold over DuckDB's ordered
# list(x ORDER BY x). At scale: trimmed means can't partial-aggregate
# (they need the group's order statistics), so the group's values DO
# move — the right call only for bounded group sizes; for corpus-sized
# groups use approx_percentile filtering (q52) instead. Both designs in
# one engine is the point.
# ---------------------------------------------------------------------------
@q("q60_udaf_trimmed_mean", """
WITH s AS (
  SELECT l_returnflag, list(l_extendedprice ORDER BY l_extendedprice) AS v,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       ROUND(list_aggregate(v[(n // 10) + 1 : n - (n // 10)], 'sum')
             / (n - 2 * (n // 10)), 6) AS trimmed_mean
FROM s
""")
def q60_udaf_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    # explicit GROUPED_AGG functionType: the module's `from __future__
    # import annotations` stringifies signatures, which breaks
    # pandas_udf's annotation-based kind inference
    from pyspark.sql.functions import PandasUDFType

    @F.pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trimmed_mean(v):
        x = np.sort(v.to_numpy(dtype=np.float64))
        k = len(x) // 10
        kept = x[k:len(x) - k]
        return float(np.cumsum(kept)[-1] / len(kept))

    # grouped-agg UDFs can't mix with JVM aggregates in one agg(), so the
    # count rides along as a second pandas UDAF
    @F.pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return len(v)

    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(n_rows("l_extendedprice").alias("n"),
                 F.round(trimmed_mean("l_extendedprice"), 6)
                 .alias("trimmed_mean")))


# ---------------------------------------------------------------------------
# q61: grouped-map applyInPandas — the per-group transform surface
# (one pandas frame per group in, any frame out): per-returnflag min-max
# normalization emitting one normalized row per input row. The kernel
# uses only order-independent group statistics (min/max), and the
# normalized value is floor-quantized to integer micros, so the
# row-level output is exact under any partitioning; the outer rollup
# keeps the registry output bounded. Oracle: the same normalization as
# window min/max over the partition. At scale each group must fit one
# executor's Arrow batch — the same bounded-group caveat as q60,
# documented rather than hidden.
# ---------------------------------------------------------------------------
@q("q61_grouped_map_minmax", """
WITH norm AS (
  SELECT l_returnflag,
         CAST(FLOOR((l_extendedprice - MIN(l_extendedprice) OVER w)
              / (MAX(l_extendedprice) OVER w - MIN(l_extendedprice) OVER w)
              * 1000000) AS BIGINT) AS nm
  FROM lineitem
  WINDOW w AS (PARTITION BY l_returnflag))
SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM(nm) AS BIGINT) AS norm_micro_sum,
       CAST(MAX(nm) AS BIGINT) AS norm_micro_max
FROM norm GROUP BY l_returnflag
""")
def q61_grouped_map_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def minmax(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["l_extendedprice"].to_numpy(dtype=np.float64)
        lo, hi = x.min(), x.max()
        nm = np.floor((x - lo) / (hi - lo) * 1e6).astype(np.int64)
        return pd.DataFrame({"l_returnflag": pdf["l_returnflag"], "nm": nm})

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice")
    normed = li.groupBy("l_returnflag").applyInPandas(
        minmax, "l_returnflag string, nm bigint")
    return (normed.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("nm").cast("bigint").alias("norm_micro_sum"),
                 F.max("nm").cast("bigint").alias("norm_micro_max")))


# ---------------------------------------------------------------------------
# q62: exact mode + median per group — the order-statistics aggregates
# q24/q52 approximate. Spark's `mode(col, deterministic=true)` pins tie
# resolution engine-side; the oracle pins the identical rule (highest
# count, then lowest value) explicitly with a windowed argmax rather than
# DuckDB's order-dependent `mode()`. Median over integral quantities is
# exact in double (midpoints land on .5). Both are single-pass partial+
# final aggregates in Spark — no sort of the corpus; at 100 TB mode's
# state is bounded by distinct values per group (50 here) and median
# falls back to percentile's one-pass summary.
# ---------------------------------------------------------------------------
@q("q62_mode_median", """
WITH counts AS (
  SELECT l_returnflag, CAST(FLOOR(l_quantity) AS INT) AS qty, COUNT(*) AS c
  FROM lineitem GROUP BY 1, 2
), best AS (
  SELECT l_returnflag, qty,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY c DESC, qty ASC) AS rn
  FROM counts
)
SELECT b.l_returnflag,
       b.qty AS mode_qty,
       CAST(m.med AS DOUBLE) AS median_qty,
       CAST(m.n AS BIGINT) AS n
FROM best b
JOIN (SELECT l_returnflag, median(CAST(FLOOR(l_quantity) AS INT)) AS med,
             COUNT(*) AS n
      FROM lineitem GROUP BY 1) m USING (l_returnflag)
WHERE b.rn = 1
ORDER BY l_returnflag
""")
def q62_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit floor: Spark's double→int cast truncates while DuckDB's
    # rounds — floor on both sides removes the divergence (latent only:
    # fixture quantities are integral)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.floor("l_quantity").cast("int").alias("qty"))
    return (li.groupBy("l_returnflag")
            .agg(F.mode("qty", True).alias("mode_qty"),
                 F.median("qty").alias("median_qty"),
                 F.count(F.lit(1)).alias("n"))
            .orderBy("l_returnflag"))


# ---------------------------------------------------------------------------
# q63: time-based RANGE frame — a sliding 1-hour look-back window keyed
# by the ORDER BY *value* (timestamp), not row position: every event sees
# the count/sum of its user's events in the preceding hour, gaps and ties
# handled by value semantics (q28/q48 cover ROWS and numeric RANGE; the
# interval-bounded time frame is the distinct feature). Declared in SQL —
# the one frame spec the DataFrame Window API can't express directly.
# State per task is one hour of one user's events, so the window never
# spills regardless of corpus size.
# ---------------------------------------------------------------------------
@q("q63_time_range_frame", f"""
SELECT event_id, user_id,
       COUNT(*) OVER w AS n_prev_hour,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
         AS sum_prev_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
""")
def q63_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "events")
    return spark.sql("""
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n_prev_hour,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
                 AS sum_prev_hour
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                               AND CURRENT ROW)
    """)


# ---------------------------------------------------------------------------
# q64: nearest as-of join — q16 matches backward only; here each purchase
# takes the CLOSEST signup in either direction within a tolerance,
# tie-break backward. Same single-shuffle merge as q16 (signups and
# probes union-sorted per user; one window pass per direction — Spark
# plans both over one hash exchange), so no row explosion and no range
# join: the standard sensor-alignment primitive. Time distances are
# integer microseconds (unix_micros / epoch_us) — Spark's second-level
# unix_timestamp would truncate where DuckDB's epoch rounds.
#
# Determinism boundary (shared with q16 and with DuckDB's own ASOF):
# if two signups carried identical (user_id, ts), which one's value is
# carried would be arbitrary on BOTH engines. The fixtures contain no
# duplicate (user_id, ts) at any SF (verified 0.001/0.01/0.1); a
# production deployment would add a final unique column to the sort key
# and a MAX_BY rule to the oracle.
# ---------------------------------------------------------------------------
ASOF_TOL_US = 24 * 3600 * 1_000_000  # 1 day


@q("q64_asof_nearest", f"""
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
s AS (SELECT * FROM events WHERE event_type = 'signup'),
b AS (
  SELECT p.event_id, s.ts AS bts, s.value AS bval
  FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts),
f AS (
  SELECT p.event_id, s.ts AS fts, s.value AS fval
  FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts <= s.ts),
j AS (
  SELECT p.event_id, p.user_id, p.ts,
         epoch_us(p.ts) - epoch_us(b.bts) AS bdt,
         epoch_us(f.fts) - epoch_us(p.ts) AS fdt,
         b.bval, f.fval
  FROM p JOIN b USING (event_id) JOIN f USING (event_id)),
picked AS (
  SELECT event_id, user_id, ts,
         CASE WHEN bdt IS NOT NULL AND bdt <= {ASOF_TOL_US}
                   AND (fdt IS NULL OR fdt > {ASOF_TOL_US} OR bdt <= fdt)
              THEN 'prev'
              WHEN fdt IS NOT NULL AND fdt <= {ASOF_TOL_US} THEN 'next'
         END AS dir,
         bdt, fdt, bval, fval
  FROM j)
SELECT event_id, user_id, CAST(ts AS VARCHAR) AS ts_s,
       dir,
       CAST(CASE dir WHEN 'prev' THEN bdt WHEN 'next' THEN fdt END
            AS BIGINT) AS dt_us,
       CASE dir WHEN 'prev' THEN bval WHEN 'next' THEN fval END
         AS signup_value
FROM picked
""")
def q64_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.lit(None).cast("struct<us:bigint,value:double>").alias("s_row"),
        F.lit(1).alias("is_probe"))
    signups = e.filter(F.col("event_type") == "signup").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.struct(F.unix_micros("ts").alias("us"),
                 F.col("value").alias("value")).alias("s_row"),
        F.lit(0).alias("is_probe"))
    unioned = purchases.unionByName(signups)
    # backward: signups sort BEFORE probes at equal ts (prior-or-equal);
    # forward: probes sort before signups, so an equal-ts signup is ahead
    wb = (W.partitionBy("user_id").orderBy("ts", "is_probe")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    wf = (W.partitionBy("user_id").orderBy("ts", F.desc("is_probe"))
          .rowsBetween(W.currentRow, W.unboundedFollowing))
    us = F.unix_micros("ts")
    both = (unioned
            .withColumn("b_row", F.last("s_row", ignorenulls=True).over(wb))
            .withColumn("f_row", F.first("s_row", ignorenulls=True).over(wf))
            .filter(F.col("is_probe") == 1))
    bdt = us - F.col("b_row.us")
    fdt = F.col("f_row.us") - us
    tol = F.lit(ASOF_TOL_US)
    direction = (
        F.when(bdt.isNotNull() & (bdt <= tol)
               & (fdt.isNull() | (fdt > tol) | (bdt <= fdt)), F.lit("prev"))
        .when(fdt.isNotNull() & (fdt <= tol), F.lit("next")))
    return both.select(
        "event_id", "user_id", F.col("ts").cast("string").alias("ts_s"),
        direction.alias("dir"),
        (F.when(direction == "prev", bdt)
         .when(direction == "next", fdt)).cast("bigint").alias("dt_us"),
        (F.when(direction == "prev", F.col("b_row.value"))
         .when(direction == "next", F.col("f_row.value"))).alias("signup_value"))


# ---------------------------------------------------------------------------
# q65: DYNAMIC-gap session windows — the gap is a per-event expression
# (interactive clicks/views time out in 5 min, background types in 15),
# which plain sessionize (q35, fixed 30 min) can't express. Spark:
# session_window with a CalendarInterval gap expression (make_interval —
# day-time interval types are rejected). Oracle: sessions merge while
# the next event starts before the running MAX of (ts + gap) — windows
# are [ts, ts+gap), touching endpoints do NOT merge (>= starts a new
# session; semantics confirmed empirically against session_window). All
# integer microseconds; the session id cumsum is CAST BIGINT (the q35
# HUGEINT lesson).
# ---------------------------------------------------------------------------
DYN_GAP_FAST_S = 300   # click/view
DYN_GAP_SLOW_S = 900   # everything else


@q("q65_dynamic_session", f"""
WITH e AS (
  SELECT user_id, ts, epoch_us(ts) AS eu,
         CASE WHEN event_type IN ('click', 'view')
              THEN {DYN_GAP_FAST_S}::BIGINT * 1000000
              ELSE {DYN_GAP_SLOW_S}::BIGINT * 1000000 END AS gap_us
  FROM events),
o AS (
  SELECT user_id, ts, eu, gap_us,
         MAX(eu + gap_us) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
  FROM e),
s AS (
  SELECT user_id, ts, eu, gap_us,
         CAST(SUM(CASE WHEN mx IS NULL OR eu >= mx THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS sid
  FROM o)
SELECT user_id,
       CAST(MIN(ts) AS VARCHAR) AS session_start_s,
       CAST(make_timestamp(MAX(eu + gap_us)) AS VARCHAR) AS session_end_s,
       COUNT(*) AS n_events
FROM s
GROUP BY user_id, sid
""")
def q65_dynamic_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    gap = F.expr(
        f"make_interval(0, 0, 0, 0, 0, 0, case when event_type in"
        f" ('click', 'view') then {DYN_GAP_FAST_S} else {DYN_GAP_SLOW_S}"
        f" end)")
    return (ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.col("w.start").cast("string").alias("session_start_s"),
                    F.col("w.end").cast("string").alias("session_end_s"),
                    "n_events"))


# ---------------------------------------------------------------------------
# q66: GROUP BY ALL / ORDER BY ALL — the DuckDB-originated shorthand
# Spark 4 adopted; like q40, the IDENTICAL ANSI text runs through both
# engines (spark.sql over registered views and DuckDB), proving the SQL
# front-end accepts the modern dialect, not just classic GROUP BY
# ordinals. Plan-wise it's q01's partial+final hash aggregate.
# ---------------------------------------------------------------------------
_Q66_SQL = f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       {dsum_expr('l_quantity')} AS sum_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY ALL
ORDER BY ALL
"""


@q("q66_group_by_all", _Q66_SQL)
def q66_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_Q66_SQL)


# ---------------------------------------------------------------------------
# q67: approx_top_k heavy hitters — the third sketch family beside HLL
# (q54) and count-min (q59): Spark 4's DataSketches frequent-items
# aggregate. Validation follows the q54/q59 pattern: the sketch result is
# compared against the exact answer IN-QUERY and only tie-invariant
# aggregates are emitted. With maxItemsTracked >= distinct keys the
# sketch never evicts, so every returned (item, count) is exact and the
# only nondeterminism left is WHICH of several count-tied items fill the
# k-th slots — so the query emits the k-th count and the top-k count sum
# (identical for any tie choice), never the boundary items themselves.
# At 100 TB the capacity would be << distinct keys and the counts become
# one-sided estimates; the merge stays a fixed-size sketch union — the
# same O(partitions x capacity) shuffle profile as the HLL partials.
# ---------------------------------------------------------------------------
TOPK_K = 50
TOPK_CAP = 100_000  # >= distinct user_ids at every test sf => exact counts


@q("q67_approx_topk", f"""
WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
top AS (SELECT n FROM c ORDER BY n DESC LIMIT {TOPK_K})
SELECT CAST({TOPK_K} AS INT) AS k,
       CAST((SELECT COUNT(*) FROM top) AS BIGINT) AS n_returned,
       CAST((SELECT MIN(n) FROM top) AS BIGINT) AS kth_count,
       CAST((SELECT SUM(CAST(n AS BIGINT)) FROM top) AS BIGINT)
         AS topk_count_sum,
       TRUE AS sketch_exact
""")
def q67_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "events")
    return spark.sql(f"""
WITH sk AS (SELECT approx_top_k(user_id, {TOPK_K}, {TOPK_CAP}) AS tk
            FROM events),
items AS (SELECT inline(tk) FROM sk),
ex AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
ext AS (SELECT n FROM ex ORDER BY n DESC LIMIT {TOPK_K})
SELECT CAST({TOPK_K} AS INT) AS k,
       CAST((SELECT COUNT(*) FROM items) AS BIGINT) AS n_returned,
       CAST((SELECT MIN(count) FROM items) AS BIGINT) AS kth_count,
       CAST((SELECT SUM(count) FROM items) AS BIGINT) AS topk_count_sum,
       CAST((SELECT MIN(count) FROM items) = (SELECT MIN(n) FROM ext)
            AND (SELECT SUM(count) FROM items) = (SELECT SUM(n) FROM ext)
            AS BOOLEAN) AS sketch_exact
""")


# ---------------------------------------------------------------------------
# q68: bag-semantics set operators — INTERSECT ALL / EXCEPT ALL, the
# multiplicity-preserving complements of q10's distinct set ops. Spark
# plans both as a single hash aggregate over the union with per-side
# counts (min/difference of multiplicities), not a join — shuffle keyed
# by the row value, O(distinct values) state. The result is rolled up to
# (custkey, op, n) so the multiplicities themselves are what the oracle
# certifies. 1995 buyers ∩ (all) 1996 buyers with repetition = customers
# ordering in both years, counted min(n95, n96) times — the bag algebra
# DISTINCT erases.
# ---------------------------------------------------------------------------
@q("q68_bag_set_ops", """
WITH a AS (SELECT o_custkey FROM orders
           WHERE o_orderdate >= DATE '1995-01-01'
             AND o_orderdate < DATE '1996-01-01'),
b AS (SELECT o_custkey FROM orders
      WHERE o_orderdate >= DATE '1996-01-01'
        AND o_orderdate < DATE '1997-01-01'),
ia AS (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b),
ea AS (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
SELECT 'intersect_all' AS op, o_custkey, COUNT(*) AS n
FROM ia GROUP BY o_custkey
UNION ALL
SELECT 'except_all' AS op, o_custkey, COUNT(*) AS n
FROM ea GROUP BY o_custkey
""")
def q68_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = (o.filter((F.col("o_orderdate") >= "1995-01-01")
                  & (F.col("o_orderdate") < "1996-01-01"))
         .select("o_custkey"))
    b = (o.filter((F.col("o_orderdate") >= "1996-01-01")
                  & (F.col("o_orderdate") < "1997-01-01"))
         .select("o_custkey"))
    ia = (a.intersectAll(b).groupBy("o_custkey")
          .agg(F.count(F.lit(1)).alias("n"))
          .select(F.lit("intersect_all").alias("op"), "o_custkey", "n"))
    ea = (a.exceptAll(b).groupBy("o_custkey")
          .agg(F.count(F.lit(1)).alias("n"))
          .select(F.lit("except_all").alias("op"), "o_custkey", "n"))
    return ia.unionByName(ea)


# ---------------------------------------------------------------------------
# q69: SQL UDF (Spark 4 CREATE FUNCTION ... RETURN) — business logic
# defined ONCE in the catalog and reused across queries, instead of
# copy-pasted expressions. Catalyst INLINES the function body at plan
# time, so this is pure codegen'd arithmetic — zero UDF-call overhead,
# unlike external UDFs (the right default for scalar logic; Python
# enters only when expressions can't say it). The oracle inlines the
# same bodies, proving the catalog indirection changes nothing.
# Registration is a construction-time catalog effect.
# ---------------------------------------------------------------------------
@q("q69_sql_udf", f"""
SELECT l_returnflag,
       {dsum_expr('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {dsum_expr('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}
         AS sum_charge
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag
""")
def q69_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "lineitem")
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)
      RETURNS DOUBLE RETURN p * (1 - d)""")
    spark.sql("""
      CREATE OR REPLACE TEMPORARY FUNCTION charge(
        p DOUBLE, d DOUBLE, t DOUBLE)
      RETURNS DOUBLE RETURN p * (1 - d) * (1 + t)""")
    return spark.sql("""
      SELECT l_returnflag,
             CAST(SUM(CAST(disc_price(l_extendedprice, l_discount)
                           AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(charge(l_extendedprice, l_discount, l_tax)
                           AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag""")


# ---------------------------------------------------------------------------
# q70: parameterized SQL — spark.sql(text, args={...}) named-marker
# binding: the TEXT stays constant (one plan-cache entry, no SQL
# injection surface) while literals bind at parse time; the bound plan
# still constant-folds and pushes the predicates to the scan like
# hand-inlined literals. The oracle is the same query with the
# parameters inlined — equality proves binding is semantically
# transparent.
# ---------------------------------------------------------------------------
_Q70_PARAMS = {"lo": "1995-06-01", "hi": "1995-09-01", "minqty": 25}


@q("q70_named_params", f"""
SELECT l_returnflag, COUNT(*) AS n, {dsum_expr('l_quantity')} AS sum_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{_Q70_PARAMS["lo"]} 00:00:00'
  AND l_shipdate < TIMESTAMP '{_Q70_PARAMS["hi"]} 00:00:00'
  AND l_quantity >= {_Q70_PARAMS["minqty"]}
GROUP BY l_returnflag
""")
def q70_named_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                 AS sum_qty
        FROM lineitem
        WHERE l_shipdate >= CAST(:lo AS TIMESTAMP)
          AND l_shipdate < CAST(:hi AS TIMESTAMP)
          AND l_quantity >= :minqty
        GROUP BY l_returnflag""",
        args={"lo": f"{_Q70_PARAMS['lo']} 00:00:00",
              "hi": f"{_Q70_PARAMS['hi']} 00:00:00",
              "minqty": _Q70_PARAMS["minqty"]})


# ---------------------------------------------------------------------------
# q71: runtime-adaptive salted aggregation — the dynamic version of
# q27's static salt recipe: a first bounded job reads per-key counts
# (rows = key cardinality), the driver derives each key's salt factor
# (ceil(count/target), capped), and the main aggregate pre-shuffles on
# (key, salt) before merging per key. The hottest key gets the most
# subtasks; keys under target stay unsalted — no tuning constant to
# guess. The salt is md5(event_id) — deterministic, and the final
# re-aggregate makes the result independent of the salt entirely (the
# oracle is the plain GROUP BY). The stats collect() is bounded by key
# cardinality — the same broadcast-sized-artifact rule as the IVF
# centroids. It runs at construction time.
# ---------------------------------------------------------------------------
SALT_TARGET_ROWS = 500
SALT_CAP = 16


@q("q71_skew_autosalt", f"""
SELECT event_type, COUNT(*) AS n, {dsum_expr('value')} AS sum_value
FROM events
GROUP BY event_type
""")
def q71_skew_autosalt(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = (ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
             .collect())  # rows = key cardinality (5) — broadcast-sized
    factors = {r["event_type"]:
               max(1, min(SALT_CAP, -(-r["c"] // SALT_TARGET_ROWS)))
               for r in stats}
    fcol = F.lit(1)
    for k, v in sorted(factors.items()):
        fcol = F.when(F.col("event_type") == k, F.lit(v)).otherwise(fcol)
    salt = (F.conv(F.substring(F.md5(F.col("event_id").cast("string")),
                               1, 8), 16, 10).cast("bigint") % fcol)
    partial = (ev.select("event_type", salt.alias("salt"), "value")
               .groupBy("event_type", "salt")
               .agg(F.count(F.lit(1)).alias("pn"),
                    F.sum(F.col("value").cast("decimal(28,6)")).alias("pv")))
    return (partial.groupBy("event_type")
            .agg(F.sum("pn").cast("bigint").alias("n"),
                 F.sum("pv").cast("double").alias("sum_value")))


# ---------------------------------------------------------------------------
# q72: session variables (Spark 4 DECLARE / SET VAR) — the scripting
# surface for multi-statement flows: a first statement computes a
# scalar into a session variable, the second uses it as a predicate.
# The variable is resolved to a literal at parse time of the consuming
# query, so the filter pushes to the scan exactly like a constant. The
# oracle inlines the defining subquery. DECLARE/SET execute at
# construction.
# ---------------------------------------------------------------------------
@q("q72_session_variable", f"""
SELECT COUNT(*) AS n_above,
       ROUND(MAX(o_totalprice) / 2, 6) AS cutoff
FROM orders
WHERE o_totalprice > (SELECT MAX(o_totalprice) / 2 FROM orders)
""")
def q72_session_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "orders")
    spark.sql("DECLARE OR REPLACE VARIABLE price_cut DOUBLE")
    spark.sql(
        "SET VAR price_cut = (SELECT MAX(o_totalprice) / 2 FROM orders)")
    return spark.sql("""
      SELECT COUNT(*) AS n_above,
             ROUND(MAX(o_totalprice) / 2, 6) AS cutoff
      FROM orders
      WHERE o_totalprice > price_cut""")


# ---------------------------------------------------------------------------
# q73: rolling 7-day distinct users per event type — windowed
# COUNT(DISTINCT) over event time, the retention/engagement metric
# ("7-day actives") every analytics stack computes. Distinct-inside-a-
# sliding-window can't partial-aggregate directly, so the scalable shape
# is: (1) collapse the corpus to the (type, day, user) distinct grid —
# the ONLY corpus-sized shuffle; (2) range-join that compacted grid to
# the day spine (7 days per row); (3) count distinct users per (type,
# day) — all post-corpus work is |types × days × actives| sized. At
# 100 TB step (1)'s output is orders of magnitude smaller than the
# input, which is what makes the rolling distinct feasible at all.
# ---------------------------------------------------------------------------
ROLL_DAYS = 7


@q("q73_rolling_distinct", f"""
WITH grid AS (
  SELECT DISTINCT event_type, date_trunc('day', ts) AS day, user_id
  FROM events),
days AS (SELECT DISTINCT event_type, day FROM grid)
SELECT d.event_type,
       CAST(CAST(d.day AS TIMESTAMP) AS VARCHAR) AS day_s,
       CAST(COUNT(DISTINCT g.user_id) AS BIGINT) AS actives_7d
FROM days d
JOIN grid g
  ON g.event_type = d.event_type
 AND g.day > d.day - INTERVAL {ROLL_DAYS} DAY
 AND g.day <= d.day
GROUP BY d.event_type, d.day
""")
def q73_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    grid = (ev.select("event_type",
                      F.date_trunc("day", "ts").alias("day"),
                      "user_id")
            .distinct())
    days = grid.select("event_type", "day").distinct()
    g = grid.alias("g")
    d = days.alias("d")
    return (d.join(g,
                   (F.col("g.event_type") == F.col("d.event_type"))
                   & (F.col("g.day")
                      > F.col("d.day") - F.expr(f"INTERVAL {ROLL_DAYS} DAY"))
                   & (F.col("g.day") <= F.col("d.day")))
            .groupBy(F.col("d.event_type").alias("event_type"),
                     F.col("d.day").alias("day"))
            .agg(F.countDistinct("g.user_id").cast("bigint")
                 .alias("actives_7d"))
            .select("event_type",
                    F.col("day").cast("string").alias("day_s"),
                    "actives_7d"))


# ---------------------------------------------------------------------------
# q74: multi-aggregate pivot — each declared pivot value produces
# SEVERAL output columns (count + exact-decimal revenue), the wide
# report shape q33's single-agg pivot can't express. Spark plans the
# whole thing as ONE partial+final aggregate whose expressions are the
# pivot-value filters (no per-value scans); the oracle is DuckDB's
# FILTER-clause equivalent of the same single pass. Values are
# declared, never discovered — no extra job at any scale.
# ---------------------------------------------------------------------------
PIV_STATUSES = ("F", "O", "P")


_Q74_COLS = ", ".join(
    "COUNT(*) FILTER (o_orderstatus = '{s}') AS n_{s}, ".format(s=s)
    + dsum_expr("CASE WHEN o_orderstatus = '{s}' THEN o_totalprice "
                "ELSE 0 END".format(s=s))
    + " AS rev_{s}".format(s=s)
    for s in PIV_STATUSES)


@q("q74_pivot_multiagg", f"""
SELECT o_orderpriority, {_Q74_COLS}
FROM orders
GROUP BY o_orderpriority
""")
def q74_pivot_multiagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = (o.groupBy("o_orderpriority")
            .pivot("o_orderstatus", list(PIV_STATUSES))
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("o_totalprice", "rev")))
    cols = [F.col("o_orderpriority")]
    for s in PIV_STATUSES:
        cols.append(F.coalesce(F.col(f"`{s}_n`"), F.lit(0))
                    .cast("bigint").alias(f"n_{s}"))
        cols.append(F.coalesce(F.col(f"`{s}_rev`"), F.lit(0.0))
                    .alias(f"rev_{s}"))
    return wide.select(*cols)
