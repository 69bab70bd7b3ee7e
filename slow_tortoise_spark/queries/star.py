"""Ad-hoc analytics over the star schema (joins, windows, set ops,
sort/limit)."""
from __future__ import annotations

from slow_tortoise_spark.queries._shared import (
    Callable,
    F,
    _DSUM,
    _dsum,
    _t,
)

# ---------------------------------------------------------------------------
# Ad-hoc analytics over the star schema (joins, windows, set ops, sort/limit)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan + filter + hash aggregate (fixed small groups)."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    disc_price = price * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(price).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            (_dsum(F.col("l_quantity")) / F.count("*")).alias("avg_qty"),
            (_dsum(price) / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q_PRICING_SUMMARY = f"""
  SELECT l_returnflag, l_linestatus,
         {_DSUM.format(x='l_quantity')} AS sum_qty,
         {_DSUM.format(x='l_extendedprice')} AS sum_base_price,
         {_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
         {_DSUM.format(x='l_quantity')} / COUNT(*) AS avg_qty,
         {_DSUM.format(x='l_extendedprice')} / COUNT(*) AS avg_price,
         COUNT(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
  ORDER BY l_returnflag, l_linestatus
"""


def q_top_orders(spark, sf_dir):
    """Fact pre-aggregation below the join, then broadcast dims + top-k.

    Aggregating lineitem by l_orderkey *before* joining shrinks the join
    input from |lineitem| to |orders| rows — the partial-agg-pushdown
    Catalyst won't do on its own; at 100 TB it's the difference between
    shuffling the fact table and shuffling the order-level summary.

    orders/customer scale with the fact data, so they carry NO broadcast
    hint: AQE broadcasts them when they actually fit and falls back to a
    shuffled join when they don't.  A forced broadcast hint here would
    OOM at large scale factors.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(25,6)"
            )
        ).alias("_rev")
    )
    return (
        per_order.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_mktsegment", "_rev")
        .orderBy(F.desc("_rev"), "o_orderkey")
        .limit(10)
        .select(
            "o_orderkey", "c_mktsegment", F.col("_rev").cast("double").alias("revenue")
        )
    )


_Q_TOP_ORDERS = """
  SELECT o_orderkey, c_mktsegment, CAST(_rev AS DOUBLE) AS revenue
  FROM (
    SELECT o_orderkey, c_mktsegment,
           SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS _rev
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY o_orderkey, c_mktsegment
  )
  ORDER BY _rev DESC, o_orderkey
  LIMIT 10
"""


def q_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-table join, revenue per region/nation."""
    for name in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        f"""
        SELECT r_name, n_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lineitems
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY revenue DESC, n_name
        """
    )


_Q_REGION_REVENUE = """
  SELECT r_name, n_name,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_lineitems
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
  ORDER BY revenue DESC, n_name
"""


def q_semi_join(spark, sf_dir):
    """Left-semi join (EXISTS): customers having orders, per segment."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


_Q_SEMI_JOIN = """
  SELECT c_mktsegment, COUNT(*) AS n_customers
  FROM customer
  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_anti_join(spark, sf_dir):
    """Left-anti join (NOT EXISTS): customers who never placed an urgent
    order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


_Q_ANTI_JOIN = """
  SELECT c_custkey, c_name FROM customer
  WHERE NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
  ORDER BY c_custkey
"""


def q_set_ops(spark, sf_dir):
    """INTERSECT + EXCEPT over (user, day) keys: days a user clicked and
    purchased but hit no error."""
    ev = _t(spark, sf_dir, "events")

    def pairs(kind):
        return (
            ev.filter(F.col("event_type") == kind)
            .select(
                "user_id",
                F.unix_millis(F.date_trunc("day", F.col("ts"))).alias("day"),
            )
            .distinct()
        )

    return (
        pairs("click")
        .intersect(pairs("purchase"))
        .exceptAll(pairs("error"))
        .orderBy("user_id", "day")
    )


_Q_SET_OPS = """
  SELECT DISTINCT user_id, epoch_ms(date_trunc('day', ts)) AS day
  FROM events WHERE event_type = 'click'
  INTERSECT
  SELECT DISTINCT user_id, epoch_ms(date_trunc('day', ts))
  FROM events WHERE event_type = 'purchase'
  EXCEPT
  SELECT DISTINCT user_id, epoch_ms(date_trunc('day', ts))
  FROM events WHERE event_type = 'error'
  ORDER BY user_id, day
"""


def q_window_topn(spark, sf_dir):
    """T1-style windowed top-k: top 3 orders per customer."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


_Q_WINDOW_TOPN = """
  SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
  ) WHERE rn <= 3 ORDER BY o_custkey, rn
"""


def q_window_running(spark, sf_dir):
    """Running per-supplier quantity (window sum over a total order)."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity").over(w).alias("running_qty"),
    )


_Q_WINDOW_RUNNING = """
  SELECT l_suppkey, l_orderkey, l_linenumber,
         SUM(l_quantity) OVER (PARTITION BY l_suppkey
                               ORDER BY l_shipdate, l_orderkey, l_linenumber
                               ROWS UNBOUNDED PRECEDING) AS running_qty
  FROM lineitem
"""


def q_harmonized_union(spark, sf_dir):
    """S2 semantics: schema-drifted shards unioned by name, padded columns."""
    ev = _t(spark, sf_dir, "events")
    a = ev.select("event_id", "event_type", "value")
    b = ev.select("event_id", "user_id")
    return (
        a.unionByName(b, allowMissingColumns=True)
        .orderBy("event_id", "event_type")
    )


_Q_HARMONIZED_UNION = """
  SELECT event_id, event_type, value, NULL AS user_id FROM events
  UNION ALL
  SELECT event_id, NULL, NULL, user_id FROM events
  ORDER BY event_id, event_type
"""


# ---------------------------------------------------------------------------
# Catalog entries, merged by catalog.py: name -> (Spark callable, oracle SQL)
# ---------------------------------------------------------------------------

ENTRIES: dict[str, tuple[Callable, str]] = {
    "pricing_summary": (q_pricing_summary, _Q_PRICING_SUMMARY),
    "top_orders": (q_top_orders, _Q_TOP_ORDERS),
    "region_revenue": (q_region_revenue, _Q_REGION_REVENUE),
    "semi_join": (q_semi_join, _Q_SEMI_JOIN),
    "anti_join": (q_anti_join, _Q_ANTI_JOIN),
    "set_ops": (q_set_ops, _Q_SET_OPS),
    "window_topn": (q_window_topn, _Q_WINDOW_TOPN),
    "window_running": (q_window_running, _Q_WINDOW_RUNNING),
    "harmonized_union": (q_harmonized_union, _Q_HARMONIZED_UNION),
}
