"""Incremental / runtime-filter operators — the maintenance patterns that
separate a 100 TB deployment from a rerun-everything one.

- ``mview_incremental``: materialized-view maintenance by MERGING partial
  aggregates. The persisted MV state is the (hi, lo, count) integer-split
  partial — mergeable by plain summation — so refreshing after a delta
  partition lands costs one scan of the DELTA only, never the base. This is
  the reason the repo's exact-sum convention stores hi/lo pairs rather than
  finished doubles: a finished double is not mergeable; the split is.

- ``bloom_prune_join``: a distributed Bloom-filter semi-join. The build side
  (filtered customers) is folded into a ~1k-row bitmap RELATION (word index
  -> 63-bit word) with ``bit_or`` — no driver collect, no UDF; the probe
  side tests its k=3 bit positions via broadcast joins against that bitmap
  and only survivors reach the exact semi join. At scale this is the
  explicit form of Spark's runtime bloom pushdown: the expensive shuffle
  moves ~(selectivity + fp) of the probe instead of all of it, and false
  positives are removed by the exact join, so the RESULT is exact — the
  oracle is the plain EXISTS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import numeric as N
from ..registry import query
from ..sources import load_table

# --- incremental materialized view ------------------------------------------
_CUTOFF = "2000-01-01"


@query(
    "mview_incremental",
    oracle=f"""
    WITH g AS (
      SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n_orders,
             {N.sql_isum_items(N.sql_iscaled('o_totalprice', 2), 'rev')}
      FROM orders GROUP BY 1
    )
    SELECT month, n_orders, {N.sql_isum_value('rev', 2)} AS revenue FROM g
    """,
)
def mview_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue MV refreshed incrementally: partials from the base
    partition (orders before the cutoff — in production, the PERSISTED MV
    state) merged with partials from the newly-arrived delta (orders after
    the cutoff) by summing (hi, lo, n) per month. Merging partials is exact
    because the integer split keeps independent bigint sums; the oracle is
    the full recompute, proving merge == rebuild. At 100 TB the base scan
    disappears from the refresh path entirely."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        N.iscaled(F.col("o_totalprice"), 2).alias("rev"),
        (F.col("o_orderdate") < F.lit(_CUTOFF).cast("timestamp")).alias("is_base"),
    )

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("month").agg(
            F.count("*").alias("n_orders"), *N.isum_aggs(F.col("rev"), "rev")
        )

    state = partials(orders.filter(F.col("is_base")))          # persisted MV
    delta = partials(orders.filter(~F.col("is_base")))         # new partition
    merged = (
        state.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("rev__hi").alias("rev__hi"),
            F.sum("rev__lo").alias("rev__lo"),
        )
    )
    return merged.select("month", "n_orders", N.isum_value("rev", 2).alias("revenue"))


# --- Bloom-filter-pruned semi join ------------------------------------------
_BLOOM_SEG = "BUILDING"
_BLOOM_BITS = 64 * 1024          # positions; ~300 keys * k=3 at sf0.01 -> fp ~ 2e-6
_WORD = 63                       # bits per word: avoids 1<<63 sign pitfalls
_K = 3


def _pos_spark(key: F.Column, i: int) -> F.Column:
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"b{i}_"), key.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return h % _BLOOM_BITS


@query(
    "bloom_prune_join",
    oracle=f"""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM customer
      WHERE c_custkey = o_custkey AND c_mktsegment = '{_BLOOM_SEG}'
    )
    GROUP BY o_orderpriority
    """,
)
def bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders of one market segment's customers, counted per priority —
    computed through an explicit distributed Bloom filter. Build: each
    build key sets k=3 md5-derived positions; ``bit_or`` folds them into a
    (word -> 63-bit word) bitmap relation (~1k rows — broadcast). Probe:
    orders test all k positions via broadcast joins (a missing word row ==
    bit definitely 0 -> inner join drops the row); only bloom-survivors
    (true matches + ~2e-6 false positives) reach the exact semi join that
    guarantees the final answer. The oracle is the plain EXISTS — layout
    and pruning must be invisible in the result."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == _BLOOM_SEG
    ).select("c_custkey")

    # build bitmap: explode k positions per key, fold into words
    positions = cust.select(
        F.explode(
            F.array(*[_pos_spark(F.col("c_custkey"), i) for i in range(_K)])
        ).alias("p")
    )
    bitmap = (
        positions.select(
            (F.col("p") / _WORD).cast("bigint").alias("word"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {_WORD} AS INT))").alias(
                "m"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("bm"))
    )

    probe = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        *[
            _pos_spark(F.col("o_custkey"), i).alias(f"p{i}")
            for i in range(_K)
        ],
    )
    for i in range(_K):
        bm_i = bitmap.select(
            F.col("word").alias(f"w{i}"), F.col("bm").alias(f"bm{i}")
        )
        probe = probe.join(
            F.broadcast(bm_i),
            (F.col(f"p{i}") / _WORD).cast("bigint") == F.col(f"w{i}"),
        ).filter(
            F.expr(
                f"(bm{i} & shiftleft(CAST(1 AS BIGINT), CAST(p{i} % {_WORD} AS INT))) != 0"
            )
        )

    # exact verify: false positives die here; result == plain semi join
    survivors = probe.select("o_custkey", "o_orderpriority")
    exact = survivors.join(
        cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    )
    return exact.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


# --- mergeable moments: variance across partitions without a re-scan ---------
@query(
    "mview_moments_merge",
    oracle=f"""
    WITH g AS (
      SELECT o_orderpriority,
             count(o_totalprice) AS n,
             {N.sql_isum_items(N.sql_iscaled('o_totalprice', 2), 'sx')},
             {N.sql_isum_items(
                 'CAST(' + N.sql_iscaled('o_totalprice', 2) + ' AS BIGINT)'
                 ' * CAST(' + N.sql_iscaled('o_totalprice', 2) + ' AS BIGINT)'
                 ' // 10000', 'sxx')}
      FROM orders GROUP BY 1
    )
    SELECT o_orderpriority, n,
           round({N.sql_isum_value('sx', 2)} / CAST(n AS DOUBLE), 6) AS mean_price,
           round(({N.sql_isum_value('sxx', 0)}
                  - {N.sql_isum_value('sx', 2)} * {N.sql_isum_value('sx', 2)}
                    / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0), 6) AS var_price
    FROM g
    """,
)
def mview_moments_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/variance per priority maintained as MERGEABLE sufficient
    statistics (n, Σx, Σx² — all exact integer-split sums): the base and
    delta partitions each produce partials, merged by plain summation, and
    the float mean/variance are derived only at read time (two IEEE
    divisions, round 6). The x² term divides the 4-decimal cents product by
    10^4 once per row (exact — products of 2-decimal values), keeping the
    per-row magnitude < 2^53 for the hi/lo split. Oracle = full recompute:
    merge must equal rebuild bit-for-bit."""
    cents = N.iscaled(F.col("o_totalprice"), 2)
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            cents.alias("x"),
            (F.col("o_orderdate") < F.lit(_CUTOFF).cast("timestamp")).alias(
                "is_base"
            ),
        )
        # bigint DIV keeps the x^2 term exact (floor(double/1e4) would be
        # one ulp from wrong at this magnitude); matches DuckDB's `//`.
        .withColumn("xx", F.expr("(x * x) DIV 10000"))
    )

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("x").alias("n"),
            *N.isum_aggs(F.col("x"), "sx"),
            *N.isum_aggs(F.col("xx"), "sxx"),
        )

    merged = (
        partials(orders.filter(F.col("is_base")))
        .unionByName(partials(orders.filter(~F.col("is_base"))))
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sx__hi").alias("sx__hi"),
            F.sum("sx__lo").alias("sx__lo"),
            F.sum("sxx__hi").alias("sxx__hi"),
            F.sum("sxx__lo").alias("sxx__lo"),
        )
    )
    n_d = F.col("n").cast("double")
    sx = N.isum_value("sx", 2)
    sxx = N.isum_value("sxx", 0)
    return merged.select(
        "o_orderpriority",
        "n",
        F.round(sx / n_d, 6).alias("mean_price"),
        F.round((sxx - sx * sx / n_d) / (n_d - 1.0), 6).alias("var_price"),
    )
