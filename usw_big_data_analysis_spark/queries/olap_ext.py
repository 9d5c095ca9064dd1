"""OLAP surface extensions: multi-level grouping (ROLLUP / CUBE / GROUPING
SETS), the star-schema broadcast join, semi-join chains, RANGE-framed
trailing windows, and per-group ntile — the relational operators a BI layer
issues on top of the SURVEY §2 aggregate inventory (reference analogs: the
pivot/crosstab margin passes and per-class EDA rollups).

Determinism: money flows as exact cents (`round(x*100)::bigint`) summed as
plain bigints (test-SF safe; the integer-split isum form in
functions/numeric.py is the documented swap once a single group can exceed
~1e9 rows), revenue uses the integer-split sums directly, and every window
orders by a unique composite key so ntile/frames are tie-free.

Scale notes (100 TB):
- rollup/cube/grouping-sets: Spark evaluates these as ONE Expand + hash
  aggregate — the fact table is scanned once regardless of level count,
  with partial aggregation before the single shuffle.
- star_sales_by_region: nation/region broadcast (no shuffle); the
  lineitem⋈orders and ⋈customer shuffles are on the natural keys and AQE
  re-plans them; dims prune to join keys + rollup columns before shipping.
- window_range_7d / ntile_quartiles: windows partition by o_custkey —
  never a global sort.
- semi_join_returned: each hop is a left-semi on a pre-distinct key set,
  the smallest possible shuffle payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import numeric as N
from ..registry import query
from ..sources import load_table

_US_DAY = 86_400_000_000
_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"
# Spark-side twin: primitive floor(abs+0.5) rounding (no per-row BigDecimal
# boxing — see functions/numeric.spark_fround_int); o_totalprice >= 0 so the
# value is identical to the oracle's round()
_CENTS_S = N.spark_fround_int("o_totalprice * 100")


# --- ROLLUP -----------------------------------------------------------------
@query(
    "rollup_sales",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus, count(*) AS n,
           CAST(sum({_CENTS}) AS BIGINT) AS sum_cents
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals priority → status → grand total via ROLLUP.
    One Expand + single-shuffle hash aggregate; NULL group keys mark the
    subtotal levels exactly as in the oracle (both columns are non-null in
    the data, so NULL is unambiguous)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("cents", F.expr(_CENTS_S))
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("sum_cents"))
    )


# --- CUBE -------------------------------------------------------------------
@query(
    "cube_sales",
    oracle=f"""
    SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS order_year,
           count(*) AS n, CAST(sum({_CENTS}) AS BIGINT) AS sum_cents
    FROM orders
    GROUP BY CUBE (o_orderstatus, order_year)
    """,
)
def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^2 grouping combinations of status × order year via CUBE —
    same one-scan Expand plan as rollup_sales with four level masks."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderstatus",
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.expr(_CENTS_S).alias("cents"),
        )
        .cube("o_orderstatus", "order_year")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("sum_cents"))
    )


# --- GROUPING SETS ----------------------------------------------------------
@query(
    "grouping_sets_sales",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus, count(*) AS n,
           CAST(sum({_CENTS}) AS BIGINT) AS sum_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the by-priority and by-status marginals
    plus the grand total, without the full cube. The DataFrame API has no
    grouping-sets verb, so this goes through Spark SQL over a temp view —
    same Expand + single-aggregate physical plan."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderpriority, o_orderstatus, count(*) AS n,
               CAST(sum({_CENTS_S}) AS BIGINT) AS sum_cents
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


# --- star-schema join -------------------------------------------------------
@query(
    "star_sales_by_region",
    oracle=f"""
    WITH g AS (
      SELECT r_name, CAST(year(o_orderdate) AS INT) AS order_year,
             count(*) AS n_items,
             {N.sql_isum_items(N.sql_iscaled('l_extendedprice * (1 - l_discount)', 4), 'rev')}
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, order_year
    )
    SELECT r_name, order_year, n_items,
           {N.sql_isum_value('rev', 4)} AS sum_revenue
    FROM g
    """,
)
def star_sales_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical star join: fact lineitem through orders → customer →
    nation → region, revenue rolled up by region × order year. nation and
    region broadcast explicitly (tiny dims — zero shuffle); the two big
    joins shuffle on their natural keys and every input is pruned to join
    keys + rollup columns before the exchange. Revenue uses the
    integer-split exact sums (scale-4 products)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        N.iscaled(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "rev"
        ),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").cast("int").alias("order_year")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    g = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "order_year")
        .agg(
            F.count("*").alias("n_items"),
            *N.isum_aggs(F.col("rev"), "rev"),
        )
    )
    return g.select(
        "r_name", "order_year", "n_items", N.isum_value("rev", 4).alias("sum_revenue")
    )


# --- semi-join chain --------------------------------------------------------
@query(
    "semi_join_returned",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'))
    """,
)
def semi_join_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one order containing a returned line — the
    EXISTS / left-semi chain. Each hop distincts its key set before the
    semi shuffle, so the payload shrinks monotonically up the chain."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ret_orders = (
        li.filter(F.col("l_returnflag") == "R").select("l_orderkey").distinct()
    )
    hit_orders = orders.join(
        ret_orders, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    )
    custkeys = hit_orders.select("o_custkey").distinct()
    return cust.join(
        custkeys, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


# --- RANGE-framed trailing window -------------------------------------------
@query(
    "window_range_7d",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             epoch_us(o_orderdate) // {_US_DAY} AS d,
             {_CENTS} AS cents
      FROM orders
    )
    SELECT o_orderkey, o_custkey, d,
           count(*) OVER w AS n_7d,
           CAST(sum(cents) OVER w AS BIGINT) AS cents_7d
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY d
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer trailing-7-day order count and spend using a true
    RANGE frame over the integer day index (value-based, so ties on the
    same day all see the same frame — identical semantics both engines;
    bigint cents keep the sliding sums exact where double sliding sums
    would be order-dependent). Window partitions by customer — one shuffle,
    no global sort."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        F.expr(f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_US_DAY}").alias(
            "d"
        ),
        F.expr(_CENTS_S).alias("cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d").rangeBetween(-6, 0)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "d",
        F.count("*").over(w).alias("n_7d"),
        F.sum("cents").over(w).alias("cents_7d"),
    )


# --- per-group ntile --------------------------------------------------------
@query(
    "ntile_quartiles",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           ntile(4) OVER (PARTITION BY o_custkey
                          ORDER BY {_CENTS}, o_orderkey) AS quartile
    FROM orders
    """,
)
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend quartile of each order WITHIN its customer — ntile(4) over a
    key-partitioned window (the scalable form; a global ntile would demand
    a total sort). The (cents, o_orderkey) order key is unique, so bucket
    assignment is tie-free and engine-independent."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.expr(_CENTS_S), F.col("o_orderkey"))
    return orders.select(
        "o_custkey", "o_orderkey", F.ntile(4).over(w).alias("quartile")
    )


# --- UNPIVOT / melt ---------------------------------------------------------
_MELT_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@query(
    "melt_unpivot",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, metric, value
    FROM (SELECT l_orderkey, l_linenumber, {', '.join(_MELT_COLS)}
          FROM lineitem)
    UNPIVOT (value FOR metric IN ({', '.join(_MELT_COLS)}))
    """,
)
def melt_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of the lineitem numerics (pandas .melt / SQL UNPIVOT
    — the reshape every metrics store ingests). Spark's native unpivot is
    a narrow Expand projection: rows × metrics with ZERO shuffles; values
    pass through untouched (bit-exact trivially)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"], list(_MELT_COLS), "metric", "value"
    )


# --- percent_rank / cume_dist ------------------------------------------------
@query(
    "percent_rank_cume",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY {_CENTS}, o_orderkey)
    """,
)
def percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative standing of each order within its customer: percent_rank
    ((rank-1)/(n-1)) and cume_dist (rows≤current / n). Both are a SINGLE
    IEEE division of exact integers — bit-stable across engines (unlike
    accumulated float sums); the (cents, orderkey) order key is unique so
    ranks are tie-free. Key-partitioned window — no global sort."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.expr(_CENTS_S), F.col("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


# --- Q18: large-volume customers --------------------------------------------
_Q18_MIN_QTY_SCALED = 18_000  # sum(quantity) > 180.00, in exact 2-decimal units


@query(
    "q18_large_volume",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey, sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sq
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > {_Q18_MIN_QTY_SCALED}
    )
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(sq AS DOUBLE) / 100.0 AS total_qty
    FROM big JOIN orders ON l_orderkey = o_orderkey
    """,
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds the
    threshold, joined back to the order header. The HAVING filter runs on
    the pre-join aggregate (map-side combined, exact 2-decimal integer
    units), so only qualifying keys reach the join — the aggregate-then-
    semi-join pattern that keeps Q18 cheap at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.expr(N.spark_fround_int("l_quantity * 100"))).alias("sq"))
        .filter(F.col("sq") > _Q18_MIN_QTY_SCALED)
    )
    return big.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        (F.col("sq").cast("double") / 100.0).alias("total_qty"),
    )


# --- null-safe join (<=> / IS NOT DISTINCT FROM) ----------------------------
@query(
    "join_null_safe",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT CASE WHEN c_custkey % 50 = 0 THEN NULL
                           ELSE c_custkey % 50 END AS k
      FROM customer
    ),
    fact AS (
      SELECT CASE WHEN o_custkey % 50 = 0 THEN NULL
                  ELSE o_custkey % 50 END AS k
      FROM orders
    )
    SELECT dim.k, count(*) AS n
    FROM fact JOIN dim ON fact.k IS NOT DISTINCT FROM dim.k
    GROUP BY dim.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (Spark `eqNullSafe` / SQL IS NOT DISTINCT FROM):
    NULL keys match NULL keys instead of dropping — the semantics sentinel
    recoding produces (the reference's recode-to-NaN passes,
    `legacy/modeling.py` sentinel handling). Still a hash-partitionable
    equi-join: NULL hashes as one key (a skew candidate at scale — salt it
    if the null bucket dominates)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    key = lambda c: F.when(F.col(c) % 50 == 0, F.lit(None)).otherwise(F.col(c) % 50)
    dim = cust.select(key("c_custkey").alias("k")).distinct()
    fact = orders.select(key("o_custkey").alias("fk"))
    return (
        fact.join(dim, F.col("fk").eqNullSafe(F.col("k")))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )


# --- calendar bucketing -----------------------------------------------------
@query(
    "monthly_revenue",
    oracle=f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           count(*) AS n_orders, CAST(sum({_CENTS}) AS BIGINT) AS sum_cents
    FROM orders GROUP BY month
    """,
)
def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month revenue rollup via date_trunc — the canonical
    time-bucketed aggregate (hypertable-style rollup). Bucketing happens
    in the projection, so the aggregate is an ordinary single-shuffle
    hash group-by on ~months keys; cents stay exact bigints."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
            F.expr(_CENTS_S).alias("cents"),
        )
        .groupBy("month")
        .agg(F.count("*").alias("n_orders"), F.sum("cents").alias("sum_cents"))
    )


# --- first/last value windows ------------------------------------------------
@query(
    "first_last_order",
    oracle=f"""
    SELECT DISTINCT o_custkey,
      first_value({_CENTS}) OVER w AS first_cents,
      last_value({_CENTS})  OVER w AS last_cents,
      first_value(o_orderkey) OVER w AS first_orderkey,
      last_value(o_orderkey)  OVER w AS last_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def first_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's first and last order (cents + key) via
    first_value/last_value over the FULL frame (explicit unbounded ROWS
    frame — last_value under the default frame is a classic cross-engine
    trap, pinned identical here), deduplicated to one row per customer.
    The (o_orderdate, o_orderkey) order key is unique → deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cents = F.expr(_CENTS_S)
    return orders.select(
        "o_custkey",
        F.first(cents).over(w).alias("first_cents"),
        F.last(cents).over(w).alias("last_cents"),
        F.first("o_orderkey").over(w).alias("first_orderkey"),
        F.last("o_orderkey").over(w).alias("last_orderkey"),
    ).distinct()


# --- conditional aggregates (FILTER clause) ----------------------------------
@query(
    "agg_filter_clause",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           CAST(sum({_CENTS}) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS open_cents
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (SQL FILTER clause / Spark count-when): one
    grouped pass computing per-predicate counts and sums — no per-condition
    rescans, no joins of separate aggregates. The conditions fold into the
    partial aggregates map-side; NULL-when rows simply don't accumulate."""
    orders = load_table(spark, sf_dir, "orders")
    is_open = F.col("o_orderstatus") == "O"
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.count(F.when(is_open, 1)).alias("n_open"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.sum(F.when(is_open, F.expr(_CENTS_S))).alias("open_cents"),
    )


# --- dynamic pivot (runtime-discovered columns) -----------------------------
@query(
    "pivot_dynamic",
    oracle="""
    SELECT o_orderstatus,
           CAST(sum(CAST(o_orderpriority = '1-URGENT' AS BIGINT)) AS BIGINT) AS "1-URGENT",
           CAST(sum(CAST(o_orderpriority = '2-HIGH' AS BIGINT)) AS BIGINT) AS "2-HIGH",
           CAST(sum(CAST(o_orderpriority = '3-MEDIUM' AS BIGINT)) AS BIGINT) AS "3-MEDIUM",
           CAST(sum(CAST(o_orderpriority = '4-NOT SPECIFIED' AS BIGINT)) AS BIGINT)
             AS "4-NOT SPECIFIED",
           CAST(sum(CAST(o_orderpriority = '5-LOW' AS BIGINT)) AS BIGINT) AS "5-LOW"
    FROM orders GROUP BY o_orderstatus
    """,
)
def pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with columns DISCOVERED at runtime: `.pivot(col)` with no
    value list runs a distinct pre-scan, then plans the conditional
    aggregates — the two-pass shape pandas pivot_table users expect when
    the category set isn't known ahead. (Static-list pivot, the one-pass
    variant, is `pivot_table`.) Count cells are exact bigints; missing
    cells fill 0."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority")
        .count()
        .na.fill(0)
    )


# --- ratio-to-report: each nation's share of its region's revenue ------------
@query(
    "region_revenue_share",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS nat_rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    ),
    tot AS (
      SELECT region, CAST(sum(CAST(nat_rev AS DECIMAL(25,6))) AS DOUBLE)
               AS reg_rev
      FROM rev GROUP BY region
    )
    SELECT rev.region, rev.nation, round(rev.nat_rev, 2) AS nat_rev,
           round(rev.nat_rev / tot.reg_rev, 6) AS share
    FROM rev JOIN tot ON rev.region = tot.region
    """,
)
def region_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's order revenue
    (the window-function RATIO_TO_REPORT idiom, expressed as an aggregate
    re-join so no per-row window touches the fact). Dimensions broadcast;
    the fact shuffles once on the grouping key; the share divides two
    decimal-exact sums (second-level sum re-cast through DECIMAL so
    partial-order differences can't leak into the double)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)"
                " AS nat_rev"
            )
        )
    )
    tot = rev.groupBy("region").agg(
        F.expr(
            "CAST(sum(CAST(nat_rev AS DECIMAL(25,6))) AS DOUBLE) AS reg_rev"
        )
    )
    return (
        rev.join(F.broadcast(tot), "region")
        .selectExpr(
            "region",
            "nation",
            "round(nat_rev, 2) AS nat_rev",
            "round(nat_rev / reg_rev, 6) AS share",
        )
    )


# --- ABC inventory classification (80/15/5 cumulative revenue) ---------------
_ABC_NB = 1024


@query(
    "abc_classification",
    oracle="""
    WITH pr AS (
      SELECT l_partkey AS pk,
             sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS rev
      FROM lineitem GROUP BY l_partkey
    ),
    run AS (
      SELECT pk, rev,
             CAST(sum(rev) OVER (ORDER BY rev DESC, pk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS cum,
             CAST(sum(rev) OVER () AS DOUBLE) AS total
      FROM pr
    ),
    cls AS (
      SELECT pk, rev,
             CASE WHEN cum / total <= 0.8 THEN 'A'
                  WHEN cum / total <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc
      FROM run
    )
    SELECT abc, count(*) AS n_parts,
           round(CAST(sum(rev) AS DOUBLE), 2) AS class_rev
    FROM cls GROUP BY abc
    """,
)
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, class A =
    first 80% of cumulative revenue, B = next 15%, C = tail — the
    inventory-policy primitive next to cumsum_curve's curve.

    Scale shape (cumsum_curve's two-phase prefix on the AGGREGATED
    per-part table): per-part decimal revenue (one fact shuffle,
    map-side combined), descending range-buckets on revenue, per-bucket
    (count, sum) histogram, exclusive prefix sums via the bounded_seq
    triangular join, bucket-partitioned in-bucket running sums — the
    running revenue is exact decimal everywhere, one double division at
    the class boundary."""
    from ..operators.bounded_seq import exclusive_prefix_sums

    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.expr("sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS rev")
    )
    mm = pr.agg(
        F.expr("CAST(min(rev) AS DOUBLE) AS mn"),
        F.expr("CAST(max(rev) AS DOUBLE) AS mx"),
    )
    bounds = mm.selectExpr(
        "mx", f"CASE WHEN mx = mn THEN 1.0D ELSE (mx - mn) / {_ABC_NB}.0D END AS w"
    )
    wb = pr.crossJoin(F.broadcast(bounds)).selectExpr(
        "pk",
        "rev",
        f"least(CAST(floor((mx - CAST(rev AS DOUBLE)) / w) AS INT), {_ABC_NB - 1})"
        " AS b",
    )
    hist = wb.groupBy("b").agg(F.expr("sum(rev) AS bs"))
    offs = exclusive_prefix_sums(hist, "b", ["bs"]).withColumnRenamed(
        "prev_bs", "prev_sum"
    )
    tot = hist.agg(F.expr("CAST(sum(bs) AS DOUBLE) AS total"))
    wv = Window.partitionBy("b").orderBy(F.desc("rev"), F.asc("pk")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cls = (
        wb.join(F.broadcast(offs), "b")
        .crossJoin(F.broadcast(tot))
        .withColumn("run", F.sum("rev").over(wv))
        .selectExpr(
            "rev",
            "CASE WHEN CAST(prev_sum + run AS DOUBLE) / total <= 0.8D THEN 'A'"
            " WHEN CAST(prev_sum + run AS DOUBLE) / total <= 0.95D THEN 'B'"
            " ELSE 'C' END AS abc",
        )
    )
    return cls.groupBy("abc").agg(
        F.expr("count(*) AS n_parts"),
        F.expr("round(CAST(sum(rev) AS DOUBLE), 2) AS class_rev"),
    )


# --- month-over-month revenue growth -----------------------------------------
@query(
    "monthly_revenue_growth",
    oracle=f"""
    WITH m AS (
      SELECT epoch_us(date_trunc('month', o_orderdate)) AS mo_us,
             CAST(sum({_CENTS}) AS BIGINT) AS cents
      FROM orders GROUP BY mo_us
    )
    SELECT cur.mo_us, cur.cents,
           prev.cents AS prev_cents,
           CAST((cur.cents - prev.cents) * 1000000 // prev.cents AS BIGINT)
             AS growth_ppm
    FROM m cur JOIN m prev
      ON prev.mo_us = epoch_us(date_trunc('month',
           CAST(to_timestamp(cur.mo_us / 1000000.0) AS TIMESTAMP)
           - INTERVAL 1 DAY))
    """,
)
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth without a lag() window: the monthly
    rollup self-joins on previous-calendar-month (month-start minus one
    day re-truncated — correct across year boundaries and variable month
    lengths). Growth in integer ppm over exact cent sums. The rollup
    table is ~months-sized, so the self-join is a broadcast; first month
    drops out (no prior) as in pandas pct_change().dropna()."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.expr(
            "unix_micros(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)))"
        ).alias("mo_us")
    ).agg(F.expr(f"CAST(sum({_CENTS_S}) AS BIGINT) AS cents"))
    prev = m.selectExpr("mo_us AS pmo_us", "cents AS prev_cents")
    cur = m.withColumn(
        "pkey",
        F.expr(
            "unix_micros(date_trunc('month',"
            " timestamp_micros(mo_us) - INTERVAL 1 DAY))"
        ),
    )
    return (
        cur.join(F.broadcast(prev), cur.pkey == prev.pmo_us)
        .selectExpr(
            "mo_us",
            "cents",
            "prev_cents",
            "CAST((cents - prev_cents) * 1000000 div prev_cents AS BIGINT)"
            " AS growth_ppm",
        )
    )


# --- Herfindahl-Hirschman concentration of supplier share --------------------
@query(
    "supplier_hhi",
    oracle="""
    WITH s AS (
      SELECT p.p_brand, l.l_suppkey,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, l.l_suppkey
    ),
    t AS (
      SELECT p_brand, CAST(sum(cents) AS BIGINT) AS total
      FROM s GROUP BY p_brand
    )
    SELECT s.p_brand,
           count(*) AS n_suppliers,
           CAST(sum(CAST(s.cents AS HUGEINT) * s.cents) * 10000
                // (CAST(max(t.total) AS HUGEINT) * max(t.total))
                AS BIGINT) AS hhi_bp
    FROM s JOIN t ON s.p_brand = t.p_brand
    GROUP BY s.p_brand
    """,
)
def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue share
    per brand (0..10000 basis points; >2500 = concentrated supply — the
    procurement-risk audit). HHI = Σ share², computed as an EXACT integer:
    (Σ cents²)·10⁴ integer-divided by total² in 128-bit arithmetic
    (DECIMAL(38,0) on Spark, HUGEINT in the oracle) — one truncating
    division, no floating shares, no rounding convention.

    Scale shape: part dim broadcast into the fact join, two
    map-side-combined aggregates (supplier cells, brand totals), totals
    broadcast back; every share stays a pair of bigints."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    s = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_suppkey")
        .agg(
            F.expr(
                f"CAST(sum({N.spark_fround_int('l_extendedprice * 100')})"
                " AS BIGINT) AS cents"
            )
        )
    )
    t = s.groupBy("p_brand").agg(F.expr("CAST(sum(cents) AS BIGINT) AS total"))
    return (
        s.join(F.broadcast(t), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.expr("count(*) AS n_suppliers"),
            F.expr(
                "CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents) * 10000"
                " div (CAST(max(total) AS DECIMAL(38,0)) * max(total))"
                " AS BIGINT) AS hhi_bp"
            ),
        )
    )


# --- trending items: recent vs prior 30-day demand ---------------------------
_TREND_D_US = 30 * 86_400_000_000


@query(
    "trending_items",
    oracle=f"""
    WITH mx AS (SELECT max(epoch_us(l_shipdate)) AS m FROM lineitem),
    c AS (
      SELECT l.l_partkey,
             CAST(sum(CAST(epoch_us(l.l_shipdate) > mx.m - {_TREND_D_US}
                           AS INT)) AS BIGINT) AS recent,
             CAST(sum(CAST(epoch_us(l.l_shipdate) <= mx.m - {_TREND_D_US}
                           AND epoch_us(l.l_shipdate) > mx.m - {2 * _TREND_D_US}
                           AS INT)) AS BIGINT) AS prior
      FROM lineitem l CROSS JOIN mx
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, recent, prior,
           CAST((recent - prior) * 1000000 // prior AS BIGINT) AS growth_ppm
    FROM c WHERE prior > 0
    ORDER BY growth_ppm DESC, l_partkey LIMIT 10
    """,
)
def trending_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 trending parts: shipment count in the trailing 30 days vs
    the 30 days before, integer-ppm growth — the demand-shift shortlist.
    One scalar max broadcast onto one conditional-sum scan (both windows
    from the same pass — no second scan, no join of two period
    aggregates); top-k compiles to TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    mx = li.agg(
        F.expr("max(unix_micros(CAST(l_shipdate AS TIMESTAMP))) AS m")
    )
    c = (
        li.crossJoin(F.broadcast(mx))
        .groupBy("l_partkey")
        .agg(
            F.expr(
                "CAST(sum(CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP))"
                f" > m - {_TREND_D_US} AS INT)) AS BIGINT) AS recent"
            ),
            F.expr(
                "CAST(sum(CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP))"
                f" <= m - {_TREND_D_US}"
                " AND unix_micros(CAST(l_shipdate AS TIMESTAMP))"
                f" > m - {2 * _TREND_D_US} AS INT)) AS BIGINT) AS prior"
            ),
        )
    )
    return (
        c.filter("prior > 0")
        .selectExpr(
            "l_partkey",
            "recent",
            "prior",
            "CAST((recent - prior) * 1000000 div prior AS BIGINT) AS growth_ppm",
        )
        .orderBy(F.desc("growth_ppm"), F.asc("l_partkey"))
        .limit(10)
    )


# --- month-of-year seasonal index --------------------------------------------
@query(
    "orders_seasonal_index",
    oracle=f"""
    WITH m AS (
      SELECT CAST(month(o_orderdate) AS INT) AS moy,
             CAST(sum({_CENTS}) AS BIGINT) AS cents,
             count(*) AS n_orders
      FROM orders GROUP BY moy
    ),
    t AS (
      SELECT CAST(sum(cents) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_months
      FROM m
    )
    SELECT m.moy, m.n_orders, m.cents,
           CAST(CAST(m.cents AS HUGEINT) * 1000000 * t.n_months // t.total
                AS BIGINT) AS index_ppm
    FROM m CROSS JOIN t
    """,
)
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonal index: each calendar month's revenue versus
    a flat-seasonality baseline (1e6 ppm = exactly average; the
    seasonality profile behind demand planning and the sanity gate on
    seasonal_decompose_daily). One 12-key rollup + a broadcast totals
    row; the index is exact 128-bit integer arithmetic."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.expr("CAST(month(CAST(o_orderdate AS TIMESTAMP)) AS INT)").alias("moy")
    ).agg(
        F.expr(f"CAST(sum({_CENTS_S}) AS BIGINT) AS cents"),
        F.expr("count(*) AS n_orders"),
    )
    t = m.agg(
        F.expr("CAST(sum(cents) AS BIGINT) AS total"),
        F.expr("CAST(count(*) AS BIGINT) AS n_months"),
    )
    return m.crossJoin(F.broadcast(t)).selectExpr(
        "moy",
        "n_orders",
        "cents",
        "CAST(CAST(cents AS DECIMAL(38,0)) * 1000000 * n_months div total"
        " AS BIGINT) AS index_ppm",
    )


# --- shipping-SLA breach rate by priority ------------------------------------
@query(
    "sla_breach_rate",
    oracle=f"""
    WITH sla AS (
      SELECT o.o_orderpriority,
             CASE substring(o.o_orderpriority, 1, 1)
               WHEN '1' THEN 30 WHEN '2' THEN 45 WHEN '3' THEN 60
               WHEN '4' THEN 75 ELSE 90 END AS sla_days,
             (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
               // {86_400_000_000} AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority, CAST(max(sla_days) AS INT) AS sla_days,
           count(*) AS n_lines,
           CAST(sum(CAST(lag_days > sla_days AS INT)) AS BIGINT) AS n_breach,
           CAST(sum(CAST(lag_days > sla_days AS INT)) * 1000000 // count(*)
                AS BIGINT) AS breach_ppm
    FROM sla GROUP BY o_orderpriority
    """,
)
def sla_breach_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-SLA breach rate: order-to-ship lag in whole days versus a
    priority-dependent SLA ladder (30/45/60/75/90 days), per priority —
    the fulfillment-ops scorecard. One fact-dim join (orders side
    broadcastable at fixture scale, shuffle-hash at 100 TB — AQE picks),
    integer day arithmetic, ppm output."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sla = li.join(orders, li.l_orderkey == orders.o_orderkey).selectExpr(
        "o_orderpriority",
        "CASE substring(o_orderpriority, 1, 1)"
        " WHEN '1' THEN 30 WHEN '2' THEN 45 WHEN '3' THEN 60"
        " WHEN '4' THEN 75 ELSE 90 END AS sla_days",
        "(unix_micros(CAST(l_shipdate AS TIMESTAMP))"
        " - unix_micros(CAST(o_orderdate AS TIMESTAMP)))"
        f" div {86_400_000_000} AS lag_days",
    )
    return sla.groupBy("o_orderpriority").agg(
        F.expr("CAST(max(sla_days) AS INT) AS sla_days"),
        F.expr("count(*) AS n_lines"),
        F.expr("CAST(sum(CAST(lag_days > sla_days AS INT)) AS BIGINT) AS n_breach"),
        F.expr(
            "CAST(sum(CAST(lag_days > sla_days AS INT)) * 1000000"
            " div count(*) AS BIGINT) AS breach_ppm"
        ),
    )


# --- shared-attribute fraud-ring candidates ----------------------------------
@query(
    "fraud_ring_candidates",
    oracle="""
    WITH g AS (
      SELECT c_nationkey,
             (CAST(round(c_acctbal * 100) AS BIGINT) + 100000000) // 10000 AS bal_band,
             count(*) AS n_members,
             CAST(min(c_custkey) AS BIGINT) AS ring_id
      FROM customer
      GROUP BY c_nationkey, bal_band
      HAVING count(*) >= 3
    )
    SELECT ring_id, CAST(c_nationkey AS INT) AS nation, bal_band, n_members
    FROM g
    """,
)
def fraud_ring_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-attribute ring candidates: groups of 3+ customers in the
    same nation whose balances fall in the same 100-currency-unit band —
    the blocking pass of entity-resolution / fraud-ring detection
    (coarse-attribute collision first, graph expansion second —
    dedup_clusters' machinery takes it from there). One map-side
    aggregate; the band is exact integer arithmetic on cents, offset
    non-negative first because Spark's div truncates while DuckDB's //
    floors (they agree only above zero — negative balances exist)."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy(
            "c_nationkey",
            F.expr(
                f"({N.spark_fround_int('c_acctbal * 100')} + 100000000) div 10000"
            ).alias("bal_band"),
        )
        .agg(
            F.expr("count(*) AS n_members"),
            F.expr("CAST(min(c_custkey) AS BIGINT) AS ring_id"),
        )
        .filter("n_members >= 3")
        .selectExpr("ring_id", "CAST(c_nationkey AS INT) AS nation",
                    "bal_band", "n_members")
    )


# --- revenue waterfall: gross -> discount -> net -> tax -> charged -----------
@query(
    "revenue_waterfall",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS gross_c,
           CAST(sum(CAST(round(l_extendedprice * l_discount * 10000)
                         AS BIGINT)) AS BIGINT) AS discount_e4,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                         AS BIGINT)) AS BIGINT) AS net_e4,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * l_tax
                               * 1000000) AS BIGINT)) AS BIGINT) AS tax_e6,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                               * (1 + l_tax) * 1000000) AS BIGINT)) AS BIGINT)
             AS charged_e6
    FROM lineitem GROUP BY l_returnflag
    """,
)
def revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue waterfall per flag: gross price, discount given, net,
    tax collected, total charged — each stage as an EXACT scaled integer
    (cents / 1e-4 / 1e-6 units matching each product's decimal depth, the
    q1 integer-split convention without the hi/lo splits since the sums
    stay under 2^63 at fixture scale; at 100 TB switch to isum_aggs).
    One map-side aggregate — the finance bridge table."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr(
            f"CAST(sum({N.spark_fround_int('l_extendedprice * 100')}) AS BIGINT)"
            " AS gross_c"
        ),
        F.expr(
            f"CAST(sum({N.spark_fround_int('l_extendedprice * l_discount * 10000')})"
            " AS BIGINT) AS discount_e4"
        ),
        F.expr(
            f"CAST(sum({N.spark_fround_int('l_extendedprice * (1 - l_discount) * 10000')})"
            " AS BIGINT) AS net_e4"
        ),
        F.expr(
            f"CAST(sum({N.spark_fround_int('l_extendedprice * (1 - l_discount) * l_tax * 1000000')})"
            " AS BIGINT) AS tax_e6"
        ),
        F.expr(
            f"CAST(sum({N.spark_fround_int('l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000')})"
            " AS BIGINT) AS charged_e6"
        ),
    )


# --- cold-start fallback: top parts per nation -------------------------------
@query(
    "recs_popularity_fallback",
    oracle="""
    WITH cnt AS (
      SELECT c.c_nationkey AS nation, l.l_partkey,
             CAST(count(*) AS BIGINT) AS n_bought
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY nation, l.l_partkey
    )
    SELECT CAST(nation AS INT) AS nation, l_partkey, n_bought, rnk FROM (
      SELECT nation, l_partkey, n_bought,
             CAST(row_number() OVER (PARTITION BY nation
               ORDER BY n_bought DESC, l_partkey) AS INT) AS rnk
      FROM cnt
    ) WHERE rnk <= 3
    """,
)
def recs_popularity_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start recommendation fallback: the 3 most-purchased parts per
    customer nation — what a recommender serves users recsys_als_factors
    has no history for (the popularity prior every production system
    keeps beside the model). Dim joins broadcast; counts combine
    map-side; the per-nation top-3 is a window over 25 nation partitions
    of pre-aggregated counts (never raw rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cnt = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nation"), "l_partkey")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS n_bought"))
    )
    w = Window.partitionBy("nation").orderBy(
        F.desc("n_bought"), F.asc("l_partkey")
    )
    return (
        cnt.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter("rnk <= 3")
        .selectExpr("CAST(nation AS INT) AS nation", "l_partkey", "n_bought", "rnk")
    )


# --- duplicate order submissions ---------------------------------------------
@query(
    "duplicate_order_detection",
    oracle="""
    SELECT o_custkey,
           epoch_us(o_orderdate) AS date_us,
           count(*) AS n_orders,
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
                - min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents_spread
    FROM orders
    GROUP BY o_custkey, date_us
    HAVING count(*) >= 2
    """,
)
def duplicate_order_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential duplicate submissions: customers with 2+ orders on the
    SAME day, with the price spread inside each group (near-zero spread
    = the strongest double-charge suspicion) — the order-hygiene audit
    that runs before revenue reporting. One map-side aggregate with a
    HAVING prune; exact cents."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            "o_custkey",
            F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").alias(
                "date_us"
            ),
        )
        .agg(
            F.expr("count(*) AS n_orders"),
            F.expr(
                f"CAST(max({N.spark_fround_int('o_totalprice * 100')})"
                f" - min({N.spark_fround_int('o_totalprice * 100')}) AS BIGINT)"
                " AS cents_spread"
            ),
        )
        .filter("n_orders >= 2")
    )


# --- exponential-smoothing level over the monthly series ----------------------
# Forecasting cap for the time-series family (acf / seasonal decompose /
# Mann-Kendall / Theil-Sen are diagnostics; this is the smoother). alpha is
# FIXED at 1/2 so every weight is a power of two: the windowed weighted sum
# stays an exact dyadic integer in both engines (monthly cents < 2^46,
# weights <= 2^11, 12 terms -> < 2^53), the 2^k divisions only shift the
# exponent, and the single /100 rounding is the one IEEE operation — so the
# level is bit-identical cross-engine with NO decimal machinery.
_SES_ORACLE = """
    WITH mo AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS mi,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ),
    w AS (
      SELECT month, mi, cents,
             list(mi)    OVER fr AS mis,
             list(cents) OVER fr AS vs
      FROM mo
      WINDOW fr AS (ORDER BY mi RANGE BETWEEN 11 PRECEDING AND CURRENT ROW)
    )
    SELECT month, cents,
           CAST(len(vs) AS INT) AS n_window,
           CAST(list_sum(list_transform(range(1, len(vs) + 1),
                  i -> CAST(vs[i] AS DOUBLE)
                       * (2 ** greatest(len(vs) - (mi - mis[i]) - 2, 0))))
                AS DOUBLE)
             / (2 ** (len(vs) - 1)) / 100.0 AS ses_level
    FROM w
    """


@query("forecast_ses_monthly", oracle=_SES_ORACLE)
def forecast_ses_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple exponential smoothing (alpha = 1/2) of monthly revenue over a
    trailing 12-calendar-month window; `ses_level` is the smoothed level =
    the flat one-step-ahead forecast.

    Semantics (both engines compute the same closed form of the SES
    recursion s := (s + y)/2 seeded at the window's oldest month): with
    frame values v_1..v_n oldest-to-newest,
        level = ( v_1 + sum_{i>=2} v_i * 2^(i-2) ) / 2^(n-1).

    Plan: the monthly rollup is the only full-table shuffle; the trailing
    window is a broadcast self-join of the BOUNDED month series on a
    calendar-month band (never an unpartitioned window), aggregated back
    with struct-min for the oldest term. The oracle formulates the same
    series through DuckDB's native RANGE frame + list fold — independent
    implementations, identical dyadic arithmetic."""
    orders = load_table(spark, sf_dir, "orders")
    mo = (
        orders.select(
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
            F.expr(
                "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT)"
            ).alias("mi"),
            F.expr(_CENTS_S).alias("c"),
        )
        .groupBy("month", "mi")
        .agg(F.expr("CAST(sum(c) AS BIGINT) AS cents"))
    )
    right = mo.select(F.col("mi").alias("mi2"), F.col("cents").alias("v2"))
    j = mo.join(
        F.broadcast(right),
        (F.col("mi2") >= F.col("mi") - 11) & (F.col("mi2") <= F.col("mi")),
    )
    # U = sum(v * 2^(11-g)) + v_oldest * 2^(12-n)  ==  level * 2^12 exactly
    g = j.groupBy("month", "mi", "cents").agg(
        F.expr("CAST(count(*) AS INT) AS n_window"),
        F.expr("sum(v2 * shiftleft(CAST(1 AS BIGINT), 11 - (mi - mi2))) AS part"),
        F.expr("min(struct(mi2, v2)).v2 AS v_oldest"),
    )
    return g.select(
        "month",
        "cents",
        "n_window",
        F.expr(
            "CAST(part + v_oldest * shiftleft(CAST(1 AS BIGINT), 12 - n_window)"
            " AS DOUBLE) / 4096.0 / 100.0"
        ).alias("ses_level"),
    )


# --- Holt linear-trend smoothing over the monthly series ----------------------
# The trend-aware sibling of forecast_ses_monthly: alpha = beta = 1/2, zero
# initial trend (l_1 = y_1, b_1 = 0). Unlike SES (whose dyadic closed form
# fits a windowed weighted sum), the coupled (level, trend) recursion has no
# power-of-two closed form — so BOTH engines run the IDENTICAL sequential
# left fold over the calendar-bounded monthly series (~80 rows at every SF:
# the orders table spans the same calendar range regardless of scale) in
# float64. Same operations in the same
# order => bit-identical doubles; every multiply-by-0.5 is an exact IEEE
# exponent shift, the only rounding is in the adds.
_HOLT_ORACLE = """
    WITH RECURSIVE mo AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS mi,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ),
    s AS (
      SELECT month, cents, ROW_NUMBER() OVER (ORDER BY mi) AS p FROM mo
    ),
    rec AS (
      SELECT p, month, cents, CAST(cents AS DOUBLE) AS l,
             CAST(0 AS DOUBLE) AS b
      FROM s WHERE p = 1
      UNION ALL
      SELECT s.p, s.month, s.cents,
             0.5e0 * CAST(s.cents AS DOUBLE) + 0.5e0 * (rec.l + rec.b),
             0.25e0 * (CAST(s.cents AS DOUBLE) - rec.l) + 0.75e0 * rec.b
      FROM rec JOIN s ON s.p = rec.p + 1
    )
    SELECT month, cents,
           l / 100.0e0 AS holt_level,
           b / 100.0e0 AS holt_trend,
           (l + b) / 100.0e0 AS forecast_next
    FROM rec
    """


# The per-month prefix-fold expression (shared with the randomized
# bitwise property test in tests/test_smoothing_property.py — the test
# must exercise the EXACT expression the query runs, not a copy).
_HOLT_FOLD_SQL = """
            aggregate(
              transform(slice(a, 1, p0 + 1),
                e -> struct(CAST(e.cents AS DOUBLE) AS l, 0.0D AS b)),
              struct(CAST(0.0D AS DOUBLE) AS l, CAST(0.0D AS DOUBLE) AS b,
                     CAST(0 AS INT) AS i),
              (s, v) -> IF(s.i = 0,
                struct(v.l AS l, 0.0D AS b, 1 AS i),
                struct(
                  0.5D * v.l + 0.5D * (s.l + s.b) AS l,
                  0.25D * (v.l - s.l) + 0.75D * s.b AS b,
                  s.i + 1 AS i)),
              s -> s
            ) AS st
            """


@query("forecast_holt_monthly", oracle=_HOLT_ORACLE)
def forecast_holt_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing (alpha = beta = 1/2) of
    monthly revenue; `forecast_next` = level + trend is the one-step-ahead
    forecast (the SES column can't see drift; this one tracks it).

    Recursion (both engines, same op order, fold seeded by the oldest
    month as (l, b) = (y_1, 0)):
        l_t = 0.5*y_t + 0.5*(l_{t-1} + b_{t-1})
        b_t = 0.25*(y_t - l_{t-1}) + 0.75*b_{t-1}
    The b_t form is the algebraic expansion of the textbook
    0.5*(l_t - l_{t-1}) + 0.5*b_{t-1}, so neither engine references l_t
    while computing b_t (Spark's struct fields must not cross-reference
    within one fold step, and DuckDB 1.0's list_reduce aliases the
    accumulator with its output vector from the third step on — a
    struct-state fold there reads partially-updated fields, which is why
    the oracle uses a recursive CTE instead of a list fold).

    Plan: the monthly rollup is the only fact-scale stage (map-side
    combined groupBy); the series then collapses to a calendar-bounded
    array (<= ~84 rows REGARDLESS of SF — more data widens the rollup,
    never this array), and each month's state is a JVM-side aggregate()
    fold over the array prefix — O(n^2) on n<=84, zero extra shuffles.
    The oracle chains the identical per-step arithmetic through a
    recursive CTE (state_t from state_{t-1}); each prefix fold replays
    exactly the op sequence the recursion accumulates, so the doubles
    agree bit-for-bit."""
    orders = load_table(spark, sf_dir, "orders")
    mo = (
        orders.select(
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
            F.expr(
                "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT)"
            ).alias("mi"),
            F.expr(_CENTS_S).alias("c"),
        )
        .groupBy("month", "mi")
        .agg(F.expr("CAST(sum(c) AS BIGINT) AS cents"))
    )
    arr = mo.agg(
        F.expr("array_sort(collect_list(struct(mi, month, cents))) AS a")
    )
    ex = arr.select(F.expr("posexplode(a) AS (p0, x)"), F.col("a"))
    # i = 0 marks the empty state; the first element seeds (y_1, 0.0) so the
    # merge arithmetic below starts at t = 2 exactly like the oracle's
    # recursion, whose anchor row carries (y_1, 0).
    return ex.select(
        F.expr("x.month AS month"),
        F.expr("x.cents AS cents"),
        F.expr(_HOLT_FOLD_SQL),
    ).select(
        "month",
        "cents",
        F.expr("st.l / 100.0D AS holt_level"),
        F.expr("st.b / 100.0D AS holt_trend"),
        F.expr("(st.l + st.b) / 100.0D AS forecast_next"),
    )


# --- Holt-Winters additive seasonal smoothing over the monthly series --------
# Completes the smoothing ladder (SES level -> Holt trend -> HW seasonality):
# alpha = beta = gamma = 1/2, 12-month additive season, ZERO-seeDED seasonal
# indices (pure Holt during the first year; the seasonal recursion learns the
# cycle from month 2 on). State is (level, trend, rolling 12-vector of
# seasonal indices) — both engines carry the vector through the identical
# float64 op sequence: Spark folds each month's array prefix with an
# array-valued struct state; the oracle chains a LIST column through a
# recursive CTE. Every update is written with NO intra-step reference to
# another updated field (the expansions below are verified equal to the
# textbook l_t/b_t/s_t forms), per the struct-fold rule forecast_holt_monthly
# established:
#   l_t = 0.5*(y - s12) + 0.5*(l + b)
#   b_t = 0.25*(y - s12) + 0.25*(l + b) - 0.5*l + 0.5*b
#   s_t = 0.5*y - 0.25*(y - s12) - 0.25*(l + b) + 0.5*s12
_HW_ORACLE = """
    WITH RECURSIVE mo AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS mi,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ),
    s AS (
      SELECT month, cents, ROW_NUMBER() OVER (ORDER BY mi) AS p FROM mo
    ),
    rec AS (
      SELECT p, month, cents, CAST(cents AS DOUBLE) AS l,
             CAST(0 AS DOUBLE) AS b,
             [CAST(0 AS DOUBLE) FOR x IN range(12)] AS sl
      FROM s WHERE p = 1
      UNION ALL
      SELECT s.p, s.month, s.cents,
             0.5e0 * (CAST(s.cents AS DOUBLE) - rec.sl[1])
               + 0.5e0 * (rec.l + rec.b),
             0.25e0 * (CAST(s.cents AS DOUBLE) - rec.sl[1])
               + 0.25e0 * (rec.l + rec.b) - 0.5e0 * rec.l + 0.5e0 * rec.b,
             rec.sl[2:12] || [
               0.5e0 * CAST(s.cents AS DOUBLE)
                 - 0.25e0 * (CAST(s.cents AS DOUBLE) - rec.sl[1])
                 - 0.25e0 * (rec.l + rec.b) + 0.5e0 * rec.sl[1]
             ]
      FROM rec JOIN s ON s.p = rec.p + 1
    )
    SELECT month, cents,
           l / 100.0e0 AS hw_level,
           b / 100.0e0 AS hw_trend,
           sl[12] / 100.0e0 AS hw_seasonal,
           (l + b + sl[1]) / 100.0e0 AS forecast_next
    FROM rec
    """


_HW_FOLD_SQL = """
            aggregate(
              slice(a, 1, p0 + 1),
              struct(CAST(0.0D AS DOUBLE) AS l, CAST(0.0D AS DOUBLE) AS b,
                     array_repeat(CAST(0.0D AS DOUBLE), 12) AS sl,
                     CAST(0 AS INT) AS i),
              (s, v) -> IF(s.i = 0,
                struct(CAST(v.cents AS DOUBLE) AS l, 0.0D AS b,
                       s.sl AS sl, 1 AS i),
                struct(
                  0.5D * (CAST(v.cents AS DOUBLE) - element_at(s.sl, 1))
                    + 0.5D * (s.l + s.b) AS l,
                  0.25D * (CAST(v.cents AS DOUBLE) - element_at(s.sl, 1))
                    + 0.25D * (s.l + s.b) - 0.5D * s.l + 0.5D * s.b AS b,
                  concat(slice(s.sl, 2, 11), array(
                    0.5D * CAST(v.cents AS DOUBLE)
                      - 0.25D * (CAST(v.cents AS DOUBLE)
                                 - element_at(s.sl, 1))
                      - 0.25D * (s.l + s.b)
                      + 0.5D * element_at(s.sl, 1)
                  )) AS sl,
                  s.i + 1 AS i)),
              s -> s
            ) AS st
            """


@query("forecast_hw_monthly", oracle=_HW_ORACLE)
def forecast_hw_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive smoothing (alpha = beta = gamma = 1/2,
    period 12) of monthly revenue. `hw_seasonal` is the seasonal index
    learned THIS month (0 for the seed month); `forecast_next` =
    level + trend + the index that applies next month (the rolling
    vector's oldest slot after the update).

    Seed: (l, b) = (y_1, 0), all 12 seasonal indices 0 — the recursion is
    pure Holt until seasonal indices accumulate, then each month's index
    is refreshed once per cycle. Plan shape is forecast_holt_monthly's:
    one fact-scale monthly rollup, then per-month JVM aggregate() folds
    over the calendar-bounded array prefix with an array<double>-valued
    state; the oracle carries the same 12-slot LIST through a recursive
    CTE, and every fold step runs the identical float64 op sequence, so
    the doubles agree bit-for-bit."""
    orders = load_table(spark, sf_dir, "orders")
    mo = (
        orders.select(
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
            F.expr(
                "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT)"
            ).alias("mi"),
            F.expr(_CENTS_S).alias("c"),
        )
        .groupBy("month", "mi")
        .agg(F.expr("CAST(sum(c) AS BIGINT) AS cents"))
    )
    arr = mo.agg(
        F.expr("array_sort(collect_list(struct(mi, month, cents))) AS a")
    )
    ex = arr.select(F.expr("posexplode(a) AS (p0, x)"), F.col("a"))
    return ex.select(
        F.expr("x.month AS month"),
        F.expr("x.cents AS cents"),
        F.expr(_HW_FOLD_SQL),
    ).select(
        "month",
        "cents",
        F.expr("st.l / 100.0D AS hw_level"),
        F.expr("st.b / 100.0D AS hw_trend"),
        F.expr("element_at(st.sl, 12) / 100.0D AS hw_seasonal"),
        F.expr(
            "(st.l + st.b + element_at(st.sl, 1)) / 100.0D AS forecast_next"
        ),
    )


# --- one-step-ahead backtest: model selection across the smoothing ladder ----
_BACKTEST_ORACLE = f"""
    WITH ses_q AS ({_SES_ORACLE}),
    holt_q AS ({_HOLT_ORACLE}),
    hw_q AS ({_HW_ORACLE}),
    u AS (
      SELECT 'ses' AS model, a.cents, p.ses_level AS f
      FROM ses_q a JOIN ses_q p ON a.month = p.month + INTERVAL 1 MONTH
      UNION ALL
      SELECT 'holt' AS model, a.cents, p.forecast_next AS f
      FROM holt_q a JOIN holt_q p ON a.month = p.month + INTERVAL 1 MONTH
      UNION ALL
      SELECT 'hw' AS model, a.cents, p.forecast_next AS f
      FROM hw_q a JOIN hw_q p ON a.month = p.month + INTERVAL 1 MONTH
    ),
    e AS (
      SELECT model,
             CAST(round((CAST(cents AS DOUBLE) / 100.0e0 - f) * 100.0e0)
                  AS BIGINT) AS ec,
             CAST(round(abs(CAST(cents AS DOUBLE) / 100.0e0 - f)
                        / (CAST(cents AS DOUBLE) / 100.0e0)
                        * 1000000000.0e0) AS BIGINT) AS pct
      FROM u
      WHERE cents > 0
    ),
    g AS (
      SELECT model, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(abs(ec)) AS BIGINT) AS sae,
             CAST(sum(ec) AS BIGINT) AS se,
             CAST(sum(pct) AS BIGINT) AS spct
      FROM e GROUP BY model
    )
    SELECT model, n AS n_forecasts,
           CAST(sae AS DOUBLE) / CAST(n AS DOUBLE) / 100.0e0 AS mae,
           CAST(se AS DOUBLE) / CAST(n AS DOUBLE) / 100.0e0 AS bias,
           CAST(spct AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000.0e0 AS mape
    FROM g
    """


@query("forecast_backtest", oracle=_BACKTEST_ORACLE)
def forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead backtest across the smoothing ladder: each model's
    month-(t-1) forecast (SES: the flat level; Holt/HW: level + trend
    [+ seasonal]) meets month t's actual revenue, and per-model MAE, bias,
    and MAPE come out as exact quantized-integer sums (errors to cents,
    relative errors to 1e-9) so the aggregation is order-independent and
    bit-equal to the oracle, which recomputes all three models by
    composing their own oracle CTEs — the whole comparison is
    independently derived on both engines end to end.

    The model-selection read at a glance: HW < Holt < SES in MAE iff the
    series carries real trend + seasonality; a negative bias means the
    model lags a growing series. Plan: three calendar-bounded series
    frames (each one fact-scale rollup), a month+1 self-join on the
    calendar key (never a window over an unpartitioned series), one
    map-side-combined group-by(model)."""
    ses = forecast_ses_monthly(spark, sf_dir).select(
        "month", "cents", F.col("ses_level").alias("f")
    )
    holt = forecast_holt_monthly(spark, sf_dir).select(
        "month", "cents", F.col("forecast_next").alias("f")
    )
    hw = forecast_hw_monthly(spark, sf_dir).select(
        "month", "cents", F.col("forecast_next").alias("f")
    )
    parts = []
    for name, fr in (("ses", ses), ("holt", holt), ("hw", hw)):
        a = fr.select(F.col("month").alias("am"), "cents")
        p = fr.select(
            (F.col("month") + F.expr("INTERVAL 1 MONTH")).alias("am"),
            F.col("f"),
        )
        parts.append(
            a.join(p, "am").select(
                F.lit(name).alias("model"),
                F.expr("CAST(cents AS DOUBLE) / 100.0D - f").alias("e"),
                F.expr("CAST(cents AS DOUBLE) / 100.0D").alias("y"),
            )
        )
    # A zero-revenue month would make the MAPE term divide by zero (NULL in
    # Spark ANSI vs inf in DuckDB) — drop it identically on both sides.
    u = (
        parts[0]
        .unionByName(parts[1])
        .unionByName(parts[2])
        .filter(F.expr("y > 0.0D"))
    )
    e = u.select(
        "model",
        N.fround_int(F.col("e") * 100.0).alias("ec"),
        N.fround_int(F.abs(F.col("e")) / F.col("y") * 1000000000.0).alias(
            "pct"
        ),
    )
    g = e.groupBy("model").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n"),
        F.expr("CAST(sum(abs(ec)) AS BIGINT) AS sae"),
        F.expr("CAST(sum(ec) AS BIGINT) AS se"),
        F.expr("CAST(sum(pct) AS BIGINT) AS spct"),
    )
    return g.select(
        "model",
        F.col("n").alias("n_forecasts"),
        F.expr("CAST(sae AS DOUBLE) / CAST(n AS DOUBLE) / 100.0D AS mae"),
        F.expr("CAST(se AS DOUBLE) / CAST(n AS DOUBLE) / 100.0D AS bias"),
        F.expr(
            "CAST(spct AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000.0D AS mape"
        ),
    )


# --- daily open-order backlog via the +1/-1 interval sweep -------------------
@query(
    "orders_open_backlog_daily",
    oracle=f"""
    WITH opens AS (
      SELECT epoch_us(o_orderdate) // {_US_DAY} AS day, 1 AS delta
      FROM orders
    ),
    closes AS (
      SELECT max(epoch_us(l_shipdate)) // {_US_DAY} + 1 AS day, -1 AS delta
      FROM lineitem GROUP BY l_orderkey
    ),
    ev AS (SELECT * FROM opens UNION ALL SELECT * FROM closes),
    byday AS (
      SELECT day,
             CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_opened,
             CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_closed,
             CAST(sum(delta) AS BIGINT) AS d_net
      FROM ev GROUP BY day
    )
    SELECT a.day, a.n_opened, a.n_closed,
           CAST(sum(b.d_net) AS BIGINT) AS backlog
    FROM byday a JOIN byday b ON b.day <= a.day
    GROUP BY a.day, a.n_opened, a.n_closed
    """,
)
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog (orders placed but not yet fully shipped)
    by the classic interval sweep: +1 at the order day, −1 the day after
    the order's LAST line ships, cumulative net over event days. The
    operational series behind queue-depth/SLA dashboards — and the pattern
    that answers any "how many intervals cover day d" question without
    exploding intervals into their covered days.

    Scale shape: the close events come from one per-order max-shipdate agg
    (map-side combined); the sweep then lives on the calendar-bounded
    event-day table (~2.5k rows), cumulated by a broadcast triangular
    join — the fact is scanned twice, never carried per-day. Orders with
    no lineitem rows (possible in degenerate partitions) simply never
    close — the open count stays truthful. All integer arithmetic."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    opens = orders.select(
        F.expr(f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_US_DAY}").alias(
            "day"
        ),
        F.lit(1).alias("delta"),
    )
    closes = (
        li.groupBy("l_orderkey")
        .agg(
            (
                F.expr(f"max(unix_micros(CAST(l_shipdate AS TIMESTAMP))) div {_US_DAY}")
                + 1
            ).alias("day")
        )
        .select("day", F.lit(-1).alias("delta"))
    )
    byday = (
        opens.unionByName(closes)
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_opened"),
            F.sum(F.when(F.col("delta") == -1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_closed"),
            F.sum("delta").cast("bigint").alias("d_net"),
        )
    )
    b = byday.select(F.col("day").alias("day2"), F.col("d_net").alias("dn2"))
    return (
        byday.join(F.broadcast(b), F.col("day2") <= F.col("day"))
        .groupBy("day", "n_opened", "n_closed")
        .agg(F.sum("dn2").cast("bigint").alias("backlog"))
    )


# --- item-item cosine neighbors (collaborative filtering core) ---------------
_IIC_K = 3


@query(
    "recsys_item_cosine_topk",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    freq AS (
      SELECT pk, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY pk
      HAVING count(*) >= 2
    ),
    fitems AS (SELECT i.ok, i.pk FROM items i JOIN freq ON i.pk = freq.pk),
    pairs AS (
      SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS cooc
      FROM fitems a JOIN fitems b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
    ),
    sym AS (
      SELECT pa AS item, pb AS neighbor, cooc FROM pairs
      UNION ALL SELECT pb, pa, cooc FROM pairs
    ),
    scored AS (
      SELECT s.item, s.neighbor, s.cooc,
             CAST(s.cooc AS DOUBLE)
               / sqrt(CAST(fa.cnt AS DOUBLE) * CAST(fb.cnt AS DOUBLE)) AS sim
      FROM sym s JOIN freq fa ON s.item = fa.pk
                 JOIN freq fb ON s.neighbor = fb.pk
    ),
    rk AS (
      SELECT item, neighbor, cooc, sim,
             row_number() OVER (PARTITION BY item
                                ORDER BY sim DESC, neighbor ASC) AS rk
      FROM scored
    )
    SELECT item, neighbor, cooc, round(sim, 6) AS sim, CAST(rk AS BIGINT) AS rk
    FROM rk WHERE rk <= {_IIC_K}
    """,
)
def recsys_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity over basket
    co-occurrence (sim = cooc/√(n_i·n_j)) and each item's top-{k}
    neighbors — the similarity table an item-to-item recommender serves
    at request time (Linden et al. 2003). The support ≥ 2 A-priori prune
    bounds the quadratic pair step to frequent items; similarity is one
    identical int→double expression so the per-item ranking (tie-break:
    smaller part key) is engine-stable; the rank window is PARTITIONED by
    item — parallel at scale, never a global sort.""".format(k=_IIC_K)
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    freq = (
        items.groupBy("pk")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .filter("cnt >= 2")
    )
    fitems = items.join(freq.select("pk"), "pk")
    a, b = fitems.alias("a"), fitems.alias("b")
    pairs = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .groupBy(F.col("a.pk").alias("pa"), F.col("b.pk").alias("pb"))
        .agg(F.count("*").cast("bigint").alias("cooc"))
    )
    sym = pairs.select(
        F.col("pa").alias("item"), F.col("pb").alias("neighbor"), "cooc"
    ).unionAll(
        pairs.select(F.col("pb").alias("item"), F.col("pa").alias("neighbor"), "cooc")
    )
    scored = (
        # no broadcast hint: freq spans the part domain, which scales with
        # SF (ADVICE r6) — these are plain equi-joins; AQE broadcasts them
        # automatically while they fit under autoBroadcastJoinThreshold.
        sym.join(
            freq.select(F.col("pk").alias("item"), F.col("cnt").alias("ca")),
            "item",
        )
        .join(
            freq.select(F.col("pk").alias("neighbor"), F.col("cnt").alias("cb")),
            "neighbor",
        )
        .select(
            "item",
            "neighbor",
            "cooc",
            (
                F.col("cooc").cast("double")
                / F.sqrt(F.col("ca").cast("double") * F.col("cb").cast("double"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.col("sim").desc(), F.col("neighbor").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _IIC_K)
        .select("item", "neighbor", "cooc", F.round("sim", 6).alias("sim"), "rk")
    )


# --- XYZ demand-volatility classification --------------------------------------
# ABC (value concentration, abc_classification) and XYZ (demand volatility)
# are the two axes of the classic inventory segmentation. XYZ classes by the
# coefficient of variation of monthly demand: X steady (cv < 0.5), Y variable
# (cv < 1.0), Z erratic.
@query(
    "xyz_volatility_class",
    oracle=f"""
    WITH monthly AS (
      SELECT l_partkey AS pk,
             epoch_us(l_shipdate) // {_US_DAY} // 31 AS m,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY pk, m
    ),
    per_part AS (
      SELECT pk, CAST(count(*) AS BIGINT) AS n_months,
             CAST(sum(q) AS BIGINT) AS sq,
             CAST(sum(CAST(q * q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sqq
      FROM monthly GROUP BY pk
      HAVING count(*) >= 2
    ),
    cvp AS (
      SELECT pk, n_months,
             sqrt(greatest((CAST(sqq AS DOUBLE)
                   - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
                     / CAST(n_months AS DOUBLE))
                  / (CAST(n_months AS DOUBLE) - 1.0), 0.0))
             / nullif(CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE), 0.0) AS cv
      FROM per_part
    ),
    cls AS (
      SELECT CASE WHEN cv < 0.5 THEN 'X' WHEN cv < 1.0 THEN 'Y'
                  ELSE 'Z' END AS xyz, cv
      FROM cvp
    )
    SELECT xyz, CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(CAST(round(cv, 9) AS DECIMAL(25,12))) AS DOUBLE)
                 / count(*), 6) AS avg_cv,
           round(min(cv), 6) AS min_cv, round(max(cv), 6) AS max_cv
    FROM cls GROUP BY xyz
    """,
)
def xyz_volatility_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ inventory segmentation — the volatility axis that pairs with
    abc_classification's value axis: per part, the coefficient of
    variation of monthly shipped quantity classes it X (steady, cv<0.5),
    Y (variable, cv<1) or Z (erratic). Parts with a single active month
    have no variance to speak of and are excluded (n_months >= 2).

    Exactness: monthly quantities are integer sums; per-part variance
    comes from exact DECIMAL moments (guarded against the tiny negative
    cancellation sqrt would reject); per-class avg_cv sums 9dp-quantized
    decimals. Two map-side-combined groupBys, nothing wider than the part
    domain."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.expr(
            f"unix_micros(CAST(l_shipdate AS TIMESTAMP)) div {_US_DAY} div 31"
        ).alias("m"),
    ).agg(
        F.expr(
            f"CAST(sum({N.spark_fround_int('l_quantity')}) AS BIGINT)"
        ).alias("q")
    )
    per_part = (
        monthly.groupBy("pk")
        .agg(
            F.count("*").cast("bigint").alias("n_months"),
            F.sum("q").cast("bigint").alias("sq"),
            F.sum(F.expr("CAST(q AS DECIMAL(38,0)) * q").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("sqq"),
        )
        .filter("n_months >= 2")
    )
    cv = F.sqrt(
        F.greatest(
            (
                F.col("sqq").cast("double")
                - F.col("sq").cast("double")
                * F.col("sq").cast("double")
                / F.col("n_months").cast("double")
            )
            / (F.col("n_months").cast("double") - 1.0),
            F.lit(0.0),
        )
    ) / F.nullif(
        F.col("sq").cast("double") / F.col("n_months").cast("double"),
        F.lit(0.0),
    )
    cls = per_part.select(
        F.when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z").alias("xyz"),
        cv.alias("cv"),
    )
    return cls.groupBy("xyz").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.round(
            F.sum(N.fround(F.col("cv"), 9).cast("decimal(25,12)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_cv"),
        F.round(F.min("cv"), 6).alias("min_cv"),
        F.round(F.max("cv"), 6).alias("max_cv"),
    )


# --- exact periodogram at candidate calendar periods --------------------------
# Which cycle does the daily order series actually carry? DFT power at a
# few candidate periods. Exactness trick: the only transcendentals are
# cos/sin(2*pi*k/P) for k < P — a FIXED set of literals per period, so they
# are precomputed in Python to 12dp and inlined as identical constants in
# both engines; each term x_d * c[(d % P)] is then quantized to 6dp DECIMAL
# before summing (order-free), and no engine libm is ever consulted.
import math as _m

_PGRAM_PERIODS = (5, 7, 11, 30)


def _pgram_lits(P: int):
    cos = [round(_m.cos(2 * _m.pi * k / P), 12) for k in range(P)]
    sin = [round(_m.sin(2 * _m.pi * k / P), 12) for k in range(P)]
    return cos, sin


def _pgram_case(vals, P: int, var: str) -> str:
    return (
        "CASE " + " ".join(
            f"WHEN {var} % {P} = {k} THEN {vals[k]!r}" for k in range(P)
        ) + " ELSE 0.0 END"
    ).replace("'", "")


def _pgram_oracle() -> str:
    rows = []
    for P in _PGRAM_PERIODS:
        cos, sin = _pgram_lits(P)
        ccase = _pgram_case(cos, P, "d")
        scase = _pgram_case(sin, P, "d")
        rows.append(f"""SELECT {P} AS period,
          CAST(sum(CAST(round(xn * ({ccase}), 6) AS DECIMAL(25,6)))
               AS DOUBLE) AS a,
          CAST(sum(CAST(round(xn * ({scase}), 6) AS DECIMAL(25,6)))
               AS DOUBLE) AS b
        FROM centered""")
    return f"""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // {86400000000} AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY d
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
            FROM daily),
    centered AS (
      SELECT d, CAST(n * x - s AS DOUBLE) AS xn FROM daily, tot
    ),
    ab AS ({" UNION ALL ".join(rows)}),
    pw AS (SELECT period, a, b, a * a + b * b AS power FROM ab),
    tp AS (SELECT CAST(sum(CAST(round(power, 3) AS DECIMAL(38,6))) AS DOUBLE)
             AS ptot FROM pw)
    SELECT period, round(a, 3) AS a, round(b, 3) AS b,
           round(power, 3) AS power,
           round(power / nullif(ptot, 0.0), 6) AS power_share
    FROM pw, tp
    """


@query("seasonal_periodogram", oracle=_pgram_oracle())
def seasonal_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT power of the (mean-centered, n-scaled) daily order series at
    candidate periods {periods}: the spectral answer to "is the weekly
    cycle real, and is it the dominant one?" — cross-checking
    seasonal_decompose_daily's assumed dow component. All cos/sin values
    are Python-precomputed literals inlined identically in both engines
    (no libm divergence possible); every product quantizes to 6dp DECIMAL
    before the order-free sum. One fact scan to the calendar-bounded
    daily table; each period is one bounded aggregation.""".format(
        periods=list(_PGRAM_PERIODS)
    )
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
        .alias("d")
    ).agg(F.count("*").cast("bigint").alias("x"))
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    centered = daily.crossJoin(F.broadcast(tot)).selectExpr(
        "d", "CAST(n * x - s AS DOUBLE) AS xn"
    )
    ab = None
    for P in _PGRAM_PERIODS:
        cos, sin = _pgram_lits(P)
        ccase = _pgram_case(cos, P, "d")
        scase = _pgram_case(sin, P, "d")
        r = centered.agg(
            F.expr(
                f"CAST(sum(CAST({N.spark_fround(f'xn * ({ccase})', 6)}"
                f" AS DECIMAL(25,6))) AS DOUBLE) AS a"
            ),
            F.expr(
                f"CAST(sum(CAST({N.spark_fround(f'xn * ({scase})', 6)}"
                f" AS DECIMAL(25,6))) AS DOUBLE) AS b"
            ),
        ).selectExpr(f"{P} AS period", "a", "b")
        ab = r if ab is None else ab.unionByName(r)
    pw = ab.selectExpr("period", "a", "b", "a * a + b * b AS power")
    tp = pw.agg(
        F.expr(
            f"CAST(sum(CAST({N.spark_fround('power', 3)} AS DECIMAL(38,6)))"
            " AS DOUBLE) AS ptot"
        )
    )
    return pw.crossJoin(F.broadcast(tp)).selectExpr(
        "period",
        "round(a, 3) AS a",
        "round(b, 3) AS b",
        "round(power, 3) AS power",
        "round(power / nullif(ptot, 0.0), 6) AS power_share",
    )


# --- Little's law consistency audit (L = lambda * W) --------------------------
@query(
    "ops_littles_law_audit",
    oracle=f"""
    WITH iv AS (
      SELECT o.o_orderkey,
             epoch_us(o.o_orderdate) // {_US_DAY} AS od,
             max(epoch_us(l.l_shipdate)) // {_US_DAY} + 1 AS cd
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, od
    ),
    span AS (
      SELECT CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cd - od) AS BIGINT) AS sum_dur,
             CAST(min(od) AS BIGINT) AS d0, CAST(max(cd) AS BIGINT) AS d1
      FROM iv
    ),
    ev AS (
      SELECT od AS day, 1 AS delta FROM iv
      UNION ALL SELECT cd AS day, -1 FROM iv
    ),
    byday AS (SELECT day, CAST(sum(delta) AS BIGINT) AS d_net FROM ev
              GROUP BY day),
    stepped AS (
      SELECT a.day,
             CAST(sum(b.d_net) AS BIGINT) AS backlog,
             lead(a.day) OVER (ORDER BY a.day) AS next_day
      FROM byday a JOIN byday b ON b.day <= a.day
      GROUP BY a.day
    ),
    integral AS (
      SELECT CAST(sum(backlog * (next_day - day)) AS BIGINT) AS area
      FROM stepped WHERE next_day IS NOT NULL
    )
    SELECT n_orders, sum_dur, d1 - d0 AS span_days,
           round(CAST(area AS DOUBLE) / CAST(d1 - d0 AS DOUBLE), 6) AS l_avg,
           round(CAST(n_orders AS DOUBLE) / CAST(d1 - d0 AS DOUBLE), 6)
             AS lambda_rate,
           round(CAST(sum_dur AS DOUBLE) / CAST(n_orders AS DOUBLE), 6)
             AS w_avg,
           round(CAST(area AS DOUBLE) / CAST(sum_dur AS DOUBLE), 6)
             AS littles_ratio
    FROM span, integral
    """,
)
def ops_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law (L = λ·W) verified on the order system, the queueing
    identity every ops dashboard implicitly assumes: time-averaged open
    orders (the step-function INTEGRAL of the +1/−1 sweep, gap-weighted —
    not the per-event-day average) against arrival rate × mean time in
    system. Over the complete horizon the two sides are the same integral
    computed by two unrelated plans — littles_ratio must be exactly 1 —
    so the audit pins the whole sweep/duration machinery, the same way
    dq_referential pins join keys.

    Scale shape: one per-order reduction, then everything lives on the
    calendar-bounded event-day table (triangular cumulative + one
    ordered lead over ~2.5k rows in the oracle; the Spark side uses the
    same bounded triangular joins). All integer until the final
    divisions."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            orders["o_orderkey"],
            F.expr(
                f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_US_DAY}"
            ).alias("od"),
        )
        .agg(
            (
                F.expr(
                    f"max(unix_micros(CAST(l_shipdate AS TIMESTAMP))) div {_US_DAY}"
                )
                + 1
            ).alias("cd")
        )
    )
    span = iv.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("cd") - F.col("od")).cast("bigint").alias("sum_dur"),
        F.min("od").cast("bigint").alias("d0"),
        F.max("cd").cast("bigint").alias("d1"),
    )
    ev = iv.select(F.col("od").alias("day"), F.lit(1).alias("delta")).unionByName(
        iv.select(F.col("cd").alias("day"), F.lit(-1).alias("delta"))
    )
    byday = ev.groupBy("day").agg(F.sum("delta").cast("bigint").alias("d_net"))
    bd2 = byday.select(F.col("day").alias("day2"), F.col("d_net").alias("dn2"))
    backlog = (
        byday.join(F.broadcast(bd2), F.col("day2") <= F.col("day"))
        .groupBy("day")
        .agg(F.sum("dn2").cast("bigint").alias("backlog"))
    )
    nxt = (
        byday.select("day")
        .join(
            F.broadcast(byday.select(F.col("day").alias("dn"))),
            F.col("dn") > F.col("day"),
            "left",
        )
        .groupBy("day")
        .agg(F.min("dn").alias("next_day"))
    )
    integral = (
        backlog.join(nxt, "day")
        .filter(F.col("next_day").isNotNull())
        .agg(
            F.sum(F.col("backlog") * (F.col("next_day") - F.col("day")))
            .cast("bigint")
            .alias("area")
        )
    )
    return span.crossJoin(F.broadcast(integral)).selectExpr(
        "n_orders",
        "sum_dur",
        "d1 - d0 AS span_days",
        "round(CAST(area AS DOUBLE) / CAST(d1 - d0 AS DOUBLE), 6) AS l_avg",
        "round(CAST(n_orders AS DOUBLE) / CAST(d1 - d0 AS DOUBLE), 6)"
        " AS lambda_rate",
        "round(CAST(sum_dur AS DOUBLE) / CAST(n_orders AS DOUBLE), 6) AS w_avg",
        "round(CAST(area AS DOUBLE) / CAST(sum_dur AS DOUBLE), 6)"
        " AS littles_ratio",
    )


# --- Croston intermittent-demand forecast --------------------------------------
# The smoothing ladder (SES/Holt/HW) assumes a dense series; spare-parts-style
# INTERMITTENT demand (most months zero) breaks it — SES of mostly-zeros
# drifts to zero and under-forecasts. Croston (1972) smooths the nonzero
# demand SIZES and the inter-demand INTERVALS separately (both SES, alpha =
# 1/2 dyadic like forecast_ses_monthly) and forecasts size/interval. Window:
# the trailing 16 demand EVENTS per part (dyadic weights stay under 2^15).
_CRO_W = 16


@query(
    "forecast_croston_intermittent",
    oracle=f"""
    WITH monthly AS (
      SELECT l_partkey AS pk,
             CAST(strftime(l_shipdate, '%Y') AS BIGINT) * 12
               + CAST(strftime(l_shipdate, '%m') AS BIGINT) AS mi,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS z
      FROM lineitem GROUP BY pk, mi
    ),
    ranked AS (
      SELECT pk, mi, z,
             row_number() OVER (PARTITION BY pk ORDER BY mi DESC) AS rdesc,
             lag(mi) OVER (PARTITION BY pk ORDER BY mi) AS prev_mi
      FROM monthly
    ),
    win AS (
      SELECT pk, mi, z, mi - prev_mi AS gap,
             count(*) OVER (PARTITION BY pk) AS k0
      FROM ranked WHERE rdesc <= {_CRO_W}
    ),
    idx AS (
      SELECT pk, z, gap,
             row_number() OVER (PARTITION BY pk ORDER BY mi) AS j,
             count(*) OVER (PARTITION BY pk) AS k
      FROM win
    ),
    folded AS (
      SELECT pk, CAST(max(k) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN j = 1 THEN z
                           ELSE z * (1 << (j - 2)) END) AS BIGINT) AS uz,
             CAST(sum(CASE WHEN j = 2 THEN gap
                           WHEN j >= 3 THEN gap * (1 << (j - 3))
                           ELSE 0 END) AS BIGINT) AS up
      FROM idx GROUP BY pk
      HAVING max(k) >= 2
    )
    SELECT pk, n_events,
           round(CAST(uz AS DOUBLE) / CAST(1 << (n_events - 1) AS DOUBLE), 6)
             AS z_level,
           round(CAST(up AS DOUBLE) / CAST(1 << (n_events - 2) AS DOUBLE), 6)
             AS p_level,
           round((CAST(uz AS DOUBLE) / CAST(1 << (n_events - 1) AS DOUBLE))
                 / nullif(CAST(up AS DOUBLE)
                          / CAST(1 << (n_events - 2) AS DOUBLE), 0.0), 6)
             AS croston_forecast
    FROM folded
    """,
)
def forecast_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method per part over the trailing {w} demand events:
    SES (alpha = 1/2, exact dyadic closed form — the forecast_ses_monthly
    arithmetic) of the nonzero monthly demand sizes, SES of the
    inter-demand intervals (first event seeds, so k-1 interval terms),
    forecast = size-level / interval-level in units per month. The
    intermittent-demand closer of the forecast ladder — SES on the raw
    sparse series under-forecasts by averaging in the zero months.

    Scale shape: one monthly rollup shuffle, then windows PARTITIONED BY
    part over at most {w} rows each; all folding is integer shifts until
    the two final divisions.""".format(w=_CRO_W)
    li = load_table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.expr(
            "CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)"
        ).alias("mi"),
    ).agg(
        F.expr(f"CAST(sum({N.spark_fround_int('l_quantity')}) AS BIGINT)").alias(
            "z"
        )
    )
    w_desc = Window.partitionBy("pk").orderBy(F.col("mi").desc())
    w_asc = Window.partitionBy("pk").orderBy("mi")
    ranked = monthly.select(
        "pk",
        "mi",
        "z",
        F.row_number().over(w_desc).alias("rdesc"),
        F.lag("mi").over(w_asc).alias("prev_mi"),
    )
    win = ranked.filter(F.col("rdesc") <= _CRO_W).select(
        "pk", "mi", "z", (F.col("mi") - F.col("prev_mi")).alias("gap")
    )
    idx = win.select(
        "pk",
        "z",
        "gap",
        F.row_number().over(Window.partitionBy("pk").orderBy("mi")).alias("j"),
        F.count("*").over(Window.partitionBy("pk")).alias("k"),
    )
    folded = (
        idx.groupBy("pk")
        .agg(
            F.max("k").cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("j") == 1, F.col("z")).otherwise(
                    F.col("z") * F.expr("shiftleft(CAST(1 AS BIGINT), j - 2)")
                )
            )
            .cast("bigint")
            .alias("uz"),
            F.sum(
                F.when(F.col("j") == 2, F.col("gap"))
                .when(
                    F.col("j") >= 3,
                    F.col("gap") * F.expr("shiftleft(CAST(1 AS BIGINT), j - 3)"),
                )
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("up"),
        )
        .filter("n_events >= 2")
    )
    zl = F.col("uz").cast("double") / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(n_events AS INT) - 1) AS DOUBLE)"
    )
    pl = F.col("up").cast("double") / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(n_events AS INT) - 2) AS DOUBLE)"
    )
    return folded.select(
        "pk",
        "n_events",
        F.round(zl, 6).alias("z_level"),
        F.round(pl, 6).alias("p_level"),
        F.round(zl / F.nullif(pl, F.lit(0.0)), 6).alias("croston_forecast"),
    )


# --- distinct-count rollup (the non-decomposable aggregate) --------------------
@query(
    "rollup_count_distinct",
    oracle="""
    SELECT coalesce(r_name, '__ALL__') AS r_name,
           coalesce(o_orderpriority, '__ALL__') AS o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, o_orderpriority)
    """,
)
def rollup_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT customer) under ROLLUP — the aggregate that does NOT
    decompose: a region's distinct customers is not the sum of its
    priority cells' distinct customers, so unlike rollup_sales the engine
    cannot reuse child partials. Spark plans this as Expand (one replica
    of each row per grouping set) + a two-phase distinct aggregate —
    the honest cost is the grouping-set fan-out, which is why production
    rollups of distincts switch to mergeable HLL sketches
    (approx_distinct_audit's contract) past a handful of sets.

    The dimension joins broadcast (region/nation are tiny; customer is
    the standard dim-side); the fact is scanned once."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    j = (
        orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"]
        )
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return (
        j.rollup("r_name", "o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("__ALL__")).alias("r_name"),
            F.coalesce(F.col("o_orderpriority"), F.lit("__ALL__")).alias(
                "o_orderpriority"
            ),
            "n_customers",
            "n_orders",
        )
    )


# --- hierarchical forecast reconciliation (bottom-up vs top-down) --------------
# Forecasting region series independently and the total independently gives
# INCOHERENT numbers (children don't sum to the parent). The two classical
# fixes: bottom-up (total := sum of child levels) and top-down (child :=
# total level x historical share). SES levels use forecast_ses_monthly's
# exact dyadic closed form at the latest month, so the coherence gap is an
# exact INTEGER in U-space (level = U/4096 cents) — no float summation of
# child forecasts anywhere.
_FHR_REV = """
      SELECT r_name,
             CAST(strftime(o_orderdate, '%Y') AS BIGINT) * 12
               + CAST(strftime(o_orderdate, '%m') AS BIGINT) AS mi,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, mi
"""

_FHR_FOLD = """
      SELECT {key} AS gk, CAST(count(*) AS INT) AS n_w,
             CAST(sum(cents * (1 << (11 - CAST(m1 - mi AS INT)))) AS BIGINT)
               + CAST(min_by(cents, mi) AS BIGINT)
                 * (1 << (12 - CAST(count(*) AS INT))) AS u,
             CAST(sum(cents) AS BIGINT) AS hist_cents
      FROM {src}, lastm WHERE mi > m1 - 12 GROUP BY {key}
"""


@query(
    "forecast_hierarchical_reconcile",
    oracle=f"""
    WITH rev AS ({_FHR_REV}),
    lastm AS (SELECT max(mi) AS m1 FROM rev),
    per_r AS ({_FHR_FOLD.format(key="r_name", src="rev")}),
    tot_series AS (
      SELECT mi, CAST(sum(cents) AS BIGINT) AS cents FROM rev GROUP BY mi
    ),
    per_t AS ({_FHR_FOLD.format(key="'__TOTAL__'", src="tot_series")}),
    shares AS (
      SELECT r.gk AS r_name, r.u AS u_r, r.hist_cents,
             t.u AS u_t,
             (SELECT CAST(sum(u) AS BIGINT) FROM per_r) AS u_bu,
             (SELECT CAST(sum(hist_cents) AS BIGINT) FROM per_r) AS hist_tot
      FROM per_r r, per_t t
    )
    SELECT r_name,
           round(CAST(u_r AS DOUBLE) / 4096.0 / 100.0, 6) AS level_region,
           round(CAST(u_t AS DOUBLE) / 4096.0 / 100.0
                 * CAST(hist_cents AS DOUBLE) / CAST(hist_tot AS DOUBLE), 6)
             AS level_topdown,
           round(CAST(u_t AS DOUBLE) / 4096.0 / 100.0, 6) AS level_total,
           round(CAST(u_bu AS DOUBLE) / 4096.0 / 100.0, 6) AS level_bottomup,
           round(CAST(u_bu - u_t AS DOUBLE) / 4096.0 / 100.0, 6)
             AS coherence_gap
    FROM shares
    """,
)
def forecast_hierarchical_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical forecast reconciliation over the region → total
    hierarchy: per-region and total SES levels (the forecast_ses_monthly
    dyadic closed form at the latest month), the bottom-up total (exact
    integer sum in U-space — child forecasts are dyadic rationals, so
    coherence is computed without a single float addition), and the
    top-down re-allocation by 12-month historical revenue share. The
    coherence_gap column IS the incoherence the reconciliation removes.

    Scale shape: one fact scan to the (region x month) rollup (dimension
    joins broadcast); everything after lives on a ≤ 5x12-row table."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(
            "r_name",
            F.expr(
                "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)"
            ).alias("mi"),
        )
        .agg(F.expr(f"CAST(sum({_CENTS_S}) AS BIGINT)").alias("cents"))
    )
    lastm = rev.agg(F.max("mi").alias("m1"))

    def fold(src: DataFrame, key_expr: str) -> DataFrame:
        return (
            src.crossJoin(F.broadcast(lastm))
            .filter(F.col("mi") > F.col("m1") - 12)
            .groupBy(F.expr(key_expr).alias("gk"))
            .agg(
                F.expr("CAST(count(*) AS INT) AS n_w"),
                F.expr(
                    "CAST(sum(cents * shiftleft(CAST(1 AS BIGINT),"
                    " 11 - CAST(m1 - mi AS INT))) AS BIGINT)"
                    " + CAST(min_by(cents, mi) AS BIGINT)"
                    " * shiftleft(CAST(1 AS BIGINT), 12 - CAST(count(*) AS INT))"
                    " AS u"
                ),
                F.expr("CAST(sum(cents) AS BIGINT) AS hist_cents"),
            )
        )

    per_r = fold(rev, "r_name")
    tot_series = rev.groupBy("mi").agg(
        F.sum("cents").cast("bigint").alias("cents")
    )
    per_t = fold(tot_series, "'__TOTAL__'").select(
        F.col("u").alias("u_t")
    )
    bu = per_r.agg(
        F.sum("u").cast("bigint").alias("u_bu"),
        F.sum("hist_cents").cast("bigint").alias("hist_tot"),
    )
    return (
        per_r.crossJoin(F.broadcast(per_t))
        .crossJoin(F.broadcast(bu))
        .selectExpr(
            "gk AS r_name",
            "round(CAST(u AS DOUBLE) / 4096.0 / 100.0, 6) AS level_region",
            "round(CAST(u_t AS DOUBLE) / 4096.0 / 100.0"
            " * CAST(hist_cents AS DOUBLE) / CAST(hist_tot AS DOUBLE), 6)"
            " AS level_topdown",
            "round(CAST(u_t AS DOUBLE) / 4096.0 / 100.0, 6) AS level_total",
            "round(CAST(u_bu AS DOUBLE) / 4096.0 / 100.0, 6) AS level_bottomup",
            "round(CAST(u_bu - u_t AS DOUBLE) / 4096.0 / 100.0, 6)"
            " AS coherence_gap",
        )
    )


# --- HLL distinct rollup audit (the scalable path of rollup_count_distinct) ----
@query(
    "rollup_distinct_hll_audit",
    oracle="""
    SELECT coalesce(r_name, '__ALL__') AS r_name,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
           TRUE AS within_5pct
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name)
    """,
)
def rollup_distinct_hll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The escape hatch rollup_count_distinct's docstring promises: the
    same distinct-customer rollup with HLL (rsd 2%) next to the exact
    count and a 5% contract the oracle pins TRUE. Past a handful of
    grouping sets the Expand+distinct plan multiplies the shuffle by the
    set count; the sketch version keeps one mergeable state per cell and
    the subtotal cells MERGE child sketches instead of re-scanning — the
    only way distinct rollups survive 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    j = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    # exact and HLL rollups split into two aggregations joined on the
    # coalesced cell key: one Aggregate holding both the distinct count
    # and the sketch routes everything through the distinct-Expand
    # (measured 1.42s combined vs 0.34s + 0.48s apart at sf0.1 — the
    # same pathology as approx_distinct_audit; optimization r07, §1.1)
    ex = (
        j.rollup("r_name")
        .agg(F.countDistinct("o_custkey").cast("bigint").alias("n_exact"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("__ALL__")).alias("r_name"),
            "n_exact",
        )
    )
    ap = (
        j.rollup("r_name")
        .agg(F.approx_count_distinct("o_custkey", 0.02).alias("a"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("__ALL__")).alias("r_name"),
            "a",
        )
    )
    return (
        ex.join(ap, "r_name")
        .select(
            "r_name",
            "n_exact",
            # The oracle pins this flag TRUE, so it is an asserted accuracy
            # invariant, not an oracle-compared value: the Spark side derives
            # it from approx_count_distinct (HLL++, deterministic given the
            # pinned pyspark==4.1.2 xxhash64 seed). If a Spark upgrade
            # changes the sketch implementation and the 5% contract ever
            # fails, that is a genuine accuracy regression to investigate —
            # not a parity artifact (ADVICE r6).
            (F.abs(F.col("a") - F.col("n_exact")) * 20 <= F.col("n_exact")).alias(
                "within_5pct"
            ),
        )
    )


# --- join-strategy planning artifact -------------------------------------------
# The skew_salt_plan pattern applied to the OTHER join decision: which
# tables broadcast? The estimator is deterministic (row count x fixed
# per-type widths — the same class of estimate Catalyst's statistics use),
# so the plan is oracle-checkable; the 10 MB default threshold is the knob.
_JSP_THRESHOLD = 10 * 1024 * 1024
_JSP_TABLES = (
    ("region", 8 + 24),
    ("nation", 8 + 24 + 8),
    ("supplier", 8 + 24 + 8),
    ("customer", 8 + 24 + 8 + 8),
    ("part", 8 + 24 + 8),
)


@query(
    "join_strategy_plan",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{t}' AS table_name,
            CAST(count(*) AS BIGINT) AS n_rows,
            CAST(count(*) * {w} AS BIGINT) AS est_bytes,
            CAST(count(*) * {w} <= {_JSP_THRESHOLD} AS INT) AS broadcastable
        FROM {t}"""
        for t, w in _JSP_TABLES
    ),
)
def join_strategy_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy planning artifact: per dimension table, the
    deterministic size estimate (rows x fixed per-type widths — the same
    estimator class Catalyst's column statistics feed) and the broadcast
    verdict against the 10 MiB default autoBroadcastJoinThreshold. The
    skew_salt_plan pattern applied to the other big join decision: make
    the choice auditable DATA instead of a silent planner heuristic —
    at 100 TB the customer/part rows cross the threshold and the verdict
    flips, which is exactly what this artifact is for."""
    out = None
    for t, w in _JSP_TABLES:
        df = load_table(spark, sf_dir, t).agg(
            F.count("*").cast("bigint").alias("n_rows")
        )
        r = df.selectExpr(
            f"'{t}' AS table_name",
            "n_rows",
            f"CAST(n_rows * {w} AS BIGINT) AS est_bytes",
            f"CAST(n_rows * {w} <= {_JSP_THRESHOLD} AS INT) AS broadcastable",
        )
        out = r if out is None else out.unionByName(r)
    return out


# --- supplier scorecard (weighted z-score composite) ---------------------------
# The vendor-management artifact: each supplier scored on revenue (up is
# good), ship latency and discount depth (down is good), z-scored across
# the supplier population and combined with fixed business weights; top 10
# by composite. The z-standardization is what makes KPIs of different
# units commensurable — the same reason ML pipelines standardize features.
_SSC_W = (0.5, -0.3, -0.2)  # revenue, latency, discount weights


@query(
    "supplier_scorecard",
    oracle=f"""
    WITH kpi AS (
      SELECT l_suppkey AS sk,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c,
             CAST(sum(epoch_us(l_shipdate) // 86400000000
                      - epoch_us(o_orderdate) // 86400000000) AS BIGINT)
               AS lat_days,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS disc_c,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_suppkey
    ),
    vals AS (
      SELECT sk,
             CAST(rev_c AS DOUBLE) / 100.0 AS rev,
             CAST(lat_days AS DOUBLE) / CAST(n AS DOUBLE) AS lat,
             CAST(disc_c AS DOUBLE) / CAST(n AS DOUBLE) AS disc
      FROM kpi
    ),
    mo AS (
      SELECT CAST(count(*) AS DOUBLE) AS k,
             {" , ".join(
               f"CAST(sum(CAST(round({c}, 6) AS DECIMAL(30,9))) AS DOUBLE) AS s_{c},"
               f" CAST(sum(CAST(round({c} * {c}, {q}) AS DECIMAL(30,9))) AS DOUBLE) AS ss_{c}"
               for c, q in (("rev", 0), ("lat", 6), ("disc", 9)))}
      FROM vals
    ),
    z AS (
      SELECT sk, rev, lat, disc,
             {" , ".join(
               f"({c} - s_{c} / k) / nullif(sqrt(greatest(ss_{c} / k"
               f" - (s_{c} / k) * (s_{c} / k), 0.0)), 0.0) AS z_{c}"
               for c in ("rev", "lat", "disc"))}
      FROM vals, mo
    )
    SELECT sk AS s_suppkey, round(rev, 2) AS revenue,
           round(lat, 6) AS avg_latency_days, round(disc, 6) AS avg_discount,
           round(z_rev, 6) AS z_revenue, round(z_lat, 6) AS z_latency,
           round(z_disc, 6) AS z_discount,
           round({_SSC_W[0]} * z_rev + {_SSC_W[1]} * z_lat
                 + {_SSC_W[2]} * z_disc, 6) AS composite
    FROM z
    ORDER BY {_SSC_W[0]} * z_rev + {_SSC_W[1]} * z_lat
             + {_SSC_W[2]} * z_disc DESC, sk ASC
    LIMIT 10
    """,
)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 supplier scorecard: revenue, mean ship latency, mean
    discount depth per supplier, z-scored across the supplier population
    (population std from 6dp-quantized decimal moments — order-free) and
    combined with the fixed business weights {w}. Ordering uses
    TakeOrderedAndProject on the bit-identical composite (tie-break:
    supplier key) — no global sort materializes.

    Scale shape: one fact-join scan (orders side carries only the date)
    compressed to supplier-keyed KPIs; the population moments are one
    supplier-table aggregate broadcast back.""".format(w=_SSC_W)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    kpi = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(F.col("l_suppkey").alias("sk"))
        .agg(
            F.expr(
                f"CAST(sum({N.spark_fround_int('l_extendedprice * 100')}) AS BIGINT)"
            ).alias("rev_c"),
            F.expr(
                f"CAST(sum(unix_micros(CAST(l_shipdate AS TIMESTAMP)) div {_US_DAY}"
                f" - unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_US_DAY})"
                " AS BIGINT)"
            ).alias("lat_days"),
            F.expr(
                f"CAST(sum({N.spark_fround_int('l_discount * 100')}) AS BIGINT)"
            ).alias("disc_c"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    vals = kpi.selectExpr(
        "sk",
        "CAST(rev_c AS DOUBLE) / 100.0 AS rev",
        "CAST(lat_days AS DOUBLE) / CAST(n AS DOUBLE) AS lat",
        "CAST(disc_c AS DOUBLE) / CAST(n AS DOUBLE) AS disc",
    )
    mo = vals.agg(
        F.count("*").cast("double").alias("k"),
        *[
            a
            for c in ("rev", "lat", "disc")
            for a in (
                F.sum(N.fround(F.col(c), 6).cast("decimal(30,9)"))
                .cast("double")
                .alias(f"s_{c}"),
                # per-KPI square scales: revenue^2 at 6dp would overflow
                # fround's 2^63 integer stage, while discount^2 at 0dp
                # would quantize to zero — scale to each KPI's magnitude
                F.sum(
                    N.fround(
                        F.col(c) * F.col(c),
                        {"rev": 0, "lat": 6, "disc": 9}[c],
                    ).cast("decimal(30,9)")
                )
                .cast("double")
                .alias(f"ss_{c}"),
            )
        ],
    )
    z = vals.crossJoin(F.broadcast(mo)).selectExpr(
        "sk",
        "rev",
        "lat",
        "disc",
        *[
            f"({c} - s_{c} / k) / nullif(sqrt(greatest(ss_{c} / k"
            f" - (s_{c} / k) * (s_{c} / k), 0.0)), 0.0) AS z_{c}"
            for c in ("rev", "lat", "disc")
        ],
    )
    comp = (
        F.lit(_SSC_W[0]) * F.col("z_rev")
        + F.lit(_SSC_W[1]) * F.col("z_lat")
        + F.lit(_SSC_W[2]) * F.col("z_disc")
    )
    return (
        z.withColumn("composite_raw", comp)
        .orderBy(F.col("composite_raw").desc(), F.col("sk").asc())
        .limit(10)
        .select(
            F.col("sk").alias("s_suppkey"),
            F.round("rev", 2).alias("revenue"),
            F.round("lat", 6).alias("avg_latency_days"),
            F.round("disc", 6).alias("avg_discount"),
            F.round("z_rev", 6).alias("z_revenue"),
            F.round("z_lat", 6).alias("z_latency"),
            F.round("z_disc", 6).alias("z_discount"),
            F.round("composite_raw", 6).alias("composite"),
        )
    )
