"""Relational query battery (SURVEY.md §2 Part B, B1–B12).

The reference engine has no query capability (it is a sink connector —
see /root/reference/src/bytewax_iceberg_connector/connector.py); the north
star mandates full relational coverage over the test corpus. Everything here
is declarative DataFrame code: Catalyst handles pushdown/pruning/join
selection, AQE handles runtime skew and partition coalescing.

Cross-engine parity rules (DuckDB oracle):
- every computed column aliased IDENTICALLY on both sides;
- money/measure aggregates via exact decimal (functions/numeric.py) so the
  result double is independent of partitioning / reduction order;
- computed integer columns cast to ``long`` (Spark INT != DuckDB BIGINT in
  the schema check);
- window orderings made total with a unique tiebreaker column.

Scale notes inline per query: what shuffles, what broadcasts, what prunes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import (davg, dec, dsum, finite,
                                 finite_expr, measure_domain, sql_davg,
                                 sql_dsum, sql_finite, sql_measure_domain)
from ..sources.tables import load_table, register_views

# ---------------------------------------------------------------------------
# shared expressions (Spark + SQL mirrors)
# ---------------------------------------------------------------------------

#: l_extendedprice * (1 - l_discount), exact in decimal (scale 4)
_DISC_PRICE = (
    f"{dec.sql('l_extendedprice')}"
    f" * (cast(1 as decimal(18,2)) - {dec.sql('l_discount')})"
)
_SUM_DISC_PRICE = f"cast(sum({_DISC_PRICE}) as double)"


_SQL_DISC_PRICE = (
    "(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2))))"
)

# ---------------------------------------------------------------------------
# B1 scan → project → filter
# ---------------------------------------------------------------------------

def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate on the fact table.

    Scale: Catalyst pushes both the filter and the 4-column projection into
    the parquet scan (PushedFilters + ReadSchema); at 100 TB this is the
    difference between reading 4 columns of a few partitions and the whole
    table. No shuffle at all.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
        )
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    )


_SQL_SCAN = """
SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05
"""

# ---------------------------------------------------------------------------
# B2 pricing_summary — flagship (TPC-H Q1 shape)
# ---------------------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aggregate over lineitem with computed measures (TPC-H Q1 shape).

    Scale: single hash-aggregate — partial (map-side) agg then one shuffle of
    only |groups| rows per partition (4 groups here), so shuffle volume is
    O(partitions), not O(rows). The filter prunes at the scan. Decimal sums
    keep the result deterministic under any reduction order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    charge = (
        f"cast({_DISC_PRICE} as decimal(18,4))"
        f" * (cast(1 as decimal(18,2)) + {dec.sql('l_tax')})"
    )
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.expr(_SUM_DISC_PRICE).alias("sum_disc_price"),
            F.expr(f"cast(sum({charge}) as double)").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_SQL_PRICING = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum('l_quantity')} AS sum_qty,
  {sql_dsum('l_extendedprice')} AS sum_base_price,
  CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST({_SQL_DISC_PRICE} AS DECIMAL(18,4))
           * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  {sql_davg('l_quantity')} AS avg_qty,
  {sql_davg('l_extendedprice')} AS avg_price,
  {sql_davg('l_discount')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

# ---------------------------------------------------------------------------
# B3 multi-way join (TPC-H Q5 shape)
# ---------------------------------------------------------------------------

def join_inner_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈ region revenue.

    Scale: the two big tables (orders, lineitem) meet in ONE shuffle join on
    orderkey; every dimension (supplier/nation/region, and customer relative
    to lineitem) is broadcast, so no additional shuffles. Catalyst reorders
    the dimension joins; AQE demotes to broadcast automatically when a side
    is small, but we mark the always-small dims explicitly.
    """
    t = {n: load_table(spark, sf_dir, n)
         for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    return (
        t["lineitem"]
        .join(t["orders"].where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]).where(F.col("r_name") == "AMERICA"),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.expr(_SUM_DISC_PRICE).alias("revenue"),
             F.count("*").alias("n_items"))
        .orderBy("n_name")
    )


_SQL_JOIN_MULTI = f"""
SELECT n_name,
       CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'AMERICA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY n_name
"""

# ---------------------------------------------------------------------------
# B4 outer / semi / anti joins
# ---------------------------------------------------------------------------

def join_left_outer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order stats keeping order-less customers (left outer).

    Scale: aggregate orders BEFORE the join (pre-aggregation pushdown) so the
    join input is |customers-with-orders| rows, not |orders|; then a single
    equi-join, broadcastable when the aggregated side is small.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_spent")
    )
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("total_spent"), F.lit(0.0)).alias("total_spent"),
        )
    )


_SQL_LEFT_OUTER = f"""
SELECT c_custkey, c_mktsegment,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(total_spent, 0.0) AS total_spent
FROM customer
LEFT JOIN (
  SELECT o_custkey, COUNT(*) AS n_orders,
         {sql_dsum('o_totalprice')} AS total_spent
  FROM orders GROUP BY o_custkey
) po ON c_custkey = po.o_custkey
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having at least one URGENT order (left-semi join).

    Scale: semi-join never duplicates rows and only ships the join key of the
    right side; with AQE it becomes a broadcast-semi when the filtered orders
    side is small.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


_SQL_SEMI = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no high-value (>400k) order (left-anti join).

    Scale: anti-join ships only the filtered right side's key; the totalprice
    predicate prunes at the orders scan before the join.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400_000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


_SQL_ANTI = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
"""

# ---------------------------------------------------------------------------
# B5 window: top-k per group
# ---------------------------------------------------------------------------

def window_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice (row_number window).

    Scale: one shuffle on o_custkey; within-partition sort only. A total
    ordering (price DESC, orderkey ASC) makes ranks deterministic. At scale,
    skewed customers are handled by AQE; for pathological skew use a
    two-phase top-k (partial top-k per partition, then final).
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


_SQL_TOPK = """
SELECT o_custkey, o_orderkey, o_totalprice, rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey ASC)
              AS BIGINT) AS rk
  FROM orders
) t WHERE rk <= 3
"""

# ---------------------------------------------------------------------------
# B6 window: lag / lead / running sum
# ---------------------------------------------------------------------------

def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event timeline: previous value, next event type, running sum.

    Scale: one shuffle on user_id. Running sum in exact decimal so the
    left-to-right accumulation is engine- and partitioning-independent.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        F.sum(dec("value")).over(run).cast("double").alias("running_value"),
        F.row_number().over(w).cast("long").alias("seq"),
    )


_SQL_WINDOW_ANALYTIC = """
SELECT user_id, event_id, ts, value,
       LAG(value, 1) OVER w AS prev_value,
       LEAD(event_type, 1) OVER w AS next_type,
       CAST(SUM(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_value,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
"""

def window_range_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour moving aggregate per user: a RANGE frame over event
    time (every event sees the count/sum of the preceding hour of its own
    user's activity).

    RANGE frames need a numeric order key in Spark — epoch seconds; the
    frame state is a sliding deque per partition, O(events-in-frame)
    memory, so a hot user with dense traffic bounds the cost, not table
    size. One shuffle on user_id, same exchange as window_analytic.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_micros(F.col("ts")) / F.lit(1_000_000)
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.sum(dec("value")).over(w).cast("double").alias("sum_trailing_1h"),
    )


_SQL_WINDOW_RANGE = """
SELECT user_id, event_id, ts,
       COUNT(*) OVER w AS n_trailing_1h,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY EPOCH_US(ts) / 1000000.0
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""

# ---------------------------------------------------------------------------
# B7 rollup subtotals
# ---------------------------------------------------------------------------

def grouping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue rollup region → nation → grand total.

    Scale: Spark expands rollup into a single expand+aggregate — one shuffle;
    dims broadcast into the fact before aggregation.

    Empty-input contract (r07 empty-corpus sweep): Spark's Expand-based
    rollup emits NOTHING on a 0-row input, but the SQL standard (and
    DuckDB) still produce the () grand-total row (COUNT 0, SUM NULL). The
    grand total is therefore REBUILT from the detail rows of the same
    aggregate — over 0 detail rows the rebuild is exactly the standard
    () row, over N it is decimal-exact equal to the one Expand made (which
    is dropped). Both consumers read one shuffle (AQE exchange reuse);
    the rebuild input is group-count-sized, never the fact.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    # the measure stays DECIMAL through the rebuild (cast to double only
    # at output): re-summing a double intermediate would drop cents once
    # the grand total passes 2^53/100 — exact at any SF this way
    rolled = joined.rollup("r_name", "n_name").agg(
        F.sum(dec("o_totalprice", 2)).alias("_rev"),
        F.count("*").alias("n_orders"),
        F.grouping_id().alias("_gid"),
    )
    total = rolled.where(F.col("_gid") == 0).agg(
        F.lit(None).cast("string").alias("r_name"),
        F.lit(None).cast("string").alias("n_name"),
        F.sum("_rev").alias("_rev"),
        F.coalesce(F.sum("n_orders"), F.lit(0)).alias("n_orders"),
    )
    return (
        rolled.where(F.col("_gid") != 3)
        .drop("_gid")
        .unionByName(total)
        .select(
            "r_name",
            "n_name",
            F.col("_rev").cast("double").alias("revenue"),
            "n_orders",
        )
    )


_SQL_ROLLUP = f"""
SELECT r_name, n_name,
       {sql_dsum('o_totalprice')} AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""

def grouping_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event volume CUBE over (event_type, user bucket): all four grouping
    combinations in one pass — the slice-and-dice companion to the rollup.

    Scale: like rollup, CUBE compiles to one Expand + one aggregate — a
    single shuffle regardless of how many grouping sets the cube implies;
    grouping_id() disambiguates the NULL-as-total rows exactly as the
    oracle's GROUPING() does.

    Empty-input contract: Spark's Expand emits nothing on 0 rows, the
    standard's () set still produces one row — the gid=3 grand total is
    rebuilt from the gid=0 detail rows of the same aggregate (see
    grouping_rollup; on empty input the marginal sets correctly stay
    absent on both engines).
    """
    ev = load_table(spark, sf_dir, "events")
    src = ev.select(
        "event_type", (F.col("user_id") % 4).alias("user_bucket"), "value"
    )
    cubed = src.cube("event_type", "user_bucket").agg(
        F.count("*").alias("n_events"),
        F.sum(dec("value", 2)).alias("_tv"),
        F.grouping_id("event_type", "user_bucket").cast("long").alias("gid"),
    )
    total = cubed.where(F.col("gid") == 0).agg(
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("long").alias("user_bucket"),
        F.coalesce(F.sum("n_events"), F.lit(0)).alias("n_events"),
        F.sum("_tv").alias("_tv"),
        F.lit(3).cast("long").alias("gid"),
    )
    return (
        cubed.where(F.col("gid") != 3)
        .unionByName(total)
        .select(
            "event_type",
            "user_bucket",
            "n_events",
            F.col("_tv").cast("double").alias("total_value"),
            "gid",
        )
        .orderBy("gid", "event_type", "user_bucket")
    )


_SQL_CUBE = f"""
SELECT event_type, user_id % 4 AS user_bucket,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value,
       CAST(GROUPING(event_type) * 2 + GROUPING(user_id % 4) AS BIGINT) AS gid
FROM events
GROUP BY CUBE (event_type, user_id % 4)
ORDER BY gid, event_type, user_bucket
"""

# ---------------------------------------------------------------------------
# B8 distinct: exact + approximate
# ---------------------------------------------------------------------------

def distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users + event count per event_type.

    Scale: count-distinct expands to a two-phase aggregate (partial distinct
    on (type,user) then count) — two shuffles max, both on low-cardinality
    keys. For 100 TB interactive use prefer distinct_approx (one pass, no
    per-key state explosion).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .orderBy("event_type")
    )


_SQL_DISTINCT_EXACT = f"""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-users CONTRACT audit per event_type —
    round-6 upgrade from rows-only to ORACLE-CHECKED via the
    ``percentile_approx_check`` differential trick: the engine-specific
    sketch estimate never appears in the output; instead each group
    carries the exact distinct count plus a 0/1 flag asserting
    ``approx_count_distinct(rsd=1%)`` landed within 3·rsd (+1 absolute
    slack for tiny groups) of it. The DuckDB oracle states the flag as a
    literal 1, so a sketch drifting past its 3σ band fails the driver's
    hash compare loudly — the bound the old pytest-only pin asserted,
    now driver-enforced. Observed worst deviation 0.67% across
    sf 0.001/0.01/0.1 (probed before conversion).

    Scale, stated honestly: the SKETCH half is THE scalable form (fixed
    -size sketch per group, mergeable across 1000 executors); the exact
    half is the audit's non-mergeable price (same trade as
    ``percentile_approx_check`` / ``percentile_rollup``) — at 100 TB you
    run the pure-sketch form (``sketch_rollup``) for dashboards and THIS
    query as the periodic contract audit.

    Plan shape: an explicit two-stage aggregate — pre-aggregate to
    distinct (type, user) pairs (map-side combinable), then ONE pass
    over the deduped pairs computes exact = COUNT(*) and the HLL over
    the deduped user ids. HLL registers are duplicate-insensitive, so
    the estimate is BIT-IDENTICAL to sketching the raw multiset, while
    the mixed distinct+non-distinct single aggregate Spark would
    otherwise plan measured 2.3× slower (2.7 s vs 1.2 s at sf0.1).
    """
    ev = load_table(spark, sf_dir, "events")
    # COUNT(DISTINCT user_id) ignores NULLs on both engines; the pair
    # pre-aggregate would keep a NULL-user group as a phantom distinct —
    # filter symmetrically (HLL skips NULL inputs either way)
    pairs = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users_exact"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("_approx"),
        )
        .select(
            "event_type",
            "n_users_exact",
            F.expr(
                "cast(case when abs(_approx - n_users_exact) * 100"
                " <= 3 * n_users_exact + 100 then 1 else 0 end as bigint)"
            ).alias("approx_ok"),
        )
        .orderBy("event_type")
    )


_SQL_DISTINCT_APPROX = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       CAST(1 AS BIGINT) AS approx_ok
FROM events
WHERE user_id IS NOT NULL  -- symmetric with the Spark pre-filter: an
                           -- event_type with only NULL users drops on
                           -- BOTH engines (not a 0-count phantom group)
GROUP BY event_type
ORDER BY event_type
"""

def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (``DataFrame.unpivot`` / SQL ``stack``): lineitem
    measure columns melt into (measure, value) rows, then per-measure
    accounting per return flag.

    Scale: unpivot is a zero-shuffle Expand (each input row emits k
    measure rows inside the same task) followed by the usual partial-agged
    group-by — the long table never materializes; only the k×groups
    aggregate shuffles.
    """
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return (
        long.groupBy("l_returnflag", "measure")
        .agg(
            F.count("*").alias("n"),
            dsum("val", 2).alias("total"),
        )
        .orderBy("l_returnflag", "measure")
    )


_SQL_UNPIVOT = f"""
WITH long AS (
  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
)
SELECT l_returnflag, measure, COUNT(*) AS n, {sql_dsum('val')} AS total
FROM long
GROUP BY 1, 2
ORDER BY 1, 2
"""


_Q3_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, o_orderkey
LIMIT 10
"""


def sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) run through the PLAIN SQL surface:
    ``register_views`` + ``spark.sql`` with the SAME ANSI text the DuckDB
    oracle executes — proving the engine's SQL entry point is a
    first-class peer of the DataFrame API (identical Catalyst plan, no
    dialect fork; the decimal-exact revenue expression is portable
    verbatim).

    Scale: Catalyst broadcast-joins the filtered BUILDING customers,
    pushes both date predicates into the scans, and runs a TopK
    (TakeOrderedAndProject) instead of a global sort for the LIMIT.
    """
    register_views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(_Q3_SQL)


def sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-DAY HLL sketches of distinct users,
    unioned upward into WEEKLY estimates — the continuous-aggregate
    pattern for distinct counts (Datasketches `hll_sketch_agg` /
    `hll_union_agg`, the same mechanism Iceberg stores as theta sketches
    in puffin files).

    Why it matters at 100 TB: exact distincts don't roll up (day-level
    distinct counts can't be summed into weeks), so dashboards either
    re-scan raw data per window or store sketches. The day sketches here
    are what you'd MATERIALIZE to the lake: any coarser window (week,
    month, arbitrary range) is then a cheap union of fixed-size sketches
    — no raw-data re-scan, one narrow shuffle of ~1.5 KB sketch blobs.

    ORACLE-CHECKED since r06 via the contract-flag differential
    (``distinct_approx``'s pattern): the engine-specific estimate leaves
    the output; each week carries the day count, the EXACT weekly
    distinct, and a 0/1 flag asserting the union-of-day-sketches
    estimate landed within 5% (+1) of it — the MERGEABILITY property the
    old pytest-only pin asserted, now driver-enforced (the estimate is
    produced by unioning day sketches, never by sketching the week
    directly, so an over-lossy union breaks the flag). NULL timestamps
    are excluded symmetrically (an unknown event time lands in no
    window); a week whose users are all NULL keeps its day rows with an
    exact count of 0.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    weekly = daily.groupBy(F.date_trunc("week", "day").alias("week")).agg(
        F.count("*").cast("long").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_approx"),
    )
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy(
            F.date_trunc("week", F.date_trunc("day", "ts")).alias("week"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("week")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users_exact"))
    )
    return (
        weekly.join(exact, "week", "left")
        .select(
            "week",
            "n_days",
            F.coalesce("n_users_exact", F.lit(0)).cast("long").alias(
                "n_users_exact"
            ),
            F.expr(
                "cast(case when abs(cast(round(_approx) as bigint)"
                " - coalesce(n_users_exact, 0)) * 20"
                " <= coalesce(n_users_exact, 0) + 20"
                " then 1 else 0 end as bigint)"
            ).alias("approx_ok"),
        )
        .orderBy("week")
    )


_SQL_SKETCH_ROLLUP = """
SELECT CAST(DATE_TRUNC('week', DATE_TRUNC('day', ts)) AS TIMESTAMP) AS week,
       CAST(COUNT(DISTINCT DATE_TRUNC('day', ts)) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       CAST(1 AS BIGINT) AS approx_ok
FROM events
WHERE ts IS NOT NULL
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# B9 set operations
# ---------------------------------------------------------------------------

def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over two customer cohorts, tagged.

    Cohort A: BUILDING-segment customers. Cohort B: customers with an URGENT
    order. Scale: set ops hash-shuffle on the full row; keep the projected
    key narrow (single bigint) so the shuffle is cheap.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        a.intersect(b).withColumn("tag", F.lit("in_both"))
        .unionAll(a.exceptAll(b.distinct()).withColumn("tag", F.lit("building_only")))
        .unionAll(b.distinct().exceptAll(a).withColumn("tag", F.lit("urgent_only")))
    )


_SQL_SET_OPS = """
WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     b AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
           WHERE o_orderpriority = '1-URGENT')
SELECT c_custkey, 'in_both' AS tag FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
UNION ALL
SELECT c_custkey, 'building_only' AS tag FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
UNION ALL
SELECT c_custkey, 'urgent_only' AS tag FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
"""

# ---------------------------------------------------------------------------
# B10 global sort + limit
# ---------------------------------------------------------------------------

def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 orders by totalprice, globally.

    Scale: Spark compiles orderBy().limit(k) to TakeOrderedAndProject —
    per-partition top-k then a single-driver merge of k*partitions rows;
    no global sort materialization. Unique tiebreaker makes it deterministic.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


_SQL_SORT_LIMIT = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
"""

# ---------------------------------------------------------------------------
# B11 scalar function battery
# ---------------------------------------------------------------------------

def scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String / date / math scalar battery over orders.

    All pure row-wise JVM expressions — whole-stage-codegen'd, zero shuffle.
    Integer-producing funcs cast to long for cross-engine schema parity.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper(F.col("o_orderstatus")).alias("status_upper"),
        F.substring(F.col("o_orderpriority"), 1, 1).alias("prio_code"),
        F.regexp_extract(F.col("o_orderpriority"), r"(\d+)", 1).alias("prio_digit"),
        F.length(F.col("o_orderpriority")).cast("long").alias("prio_len"),
        F.concat(F.col("o_orderstatus"), F.lit("/"), F.col("o_orderpriority")).alias("status_prio"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("order_month"),
        F.year(F.col("o_orderdate")).cast("long").alias("order_year"),
        F.datediff(F.lit("1999-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_to_1999"),
        F.round(F.col("o_totalprice"), 1).alias("price_round1"),
        # measure_domain: floor(double)->bigint saturates silently on
        # NaN/Inf/1e307 where DuckDB CAST aborts (r12 measure sweep)
        F.floor(measure_domain("o_totalprice")).cast("long")
        .alias("price_floor"),
        F.abs(F.col("o_totalprice") - 1000.0).alias("price_dist_1k"),
        F.sqrt(F.col("o_totalprice")).alias("price_sqrt"),
    )


_SQL_SCALAR = rf"""
SELECT
  o_orderkey,
  UPPER(o_orderstatus) AS status_upper,
  SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
  REGEXP_EXTRACT(o_orderpriority, '(\d+)', 1) AS prio_digit,
  CAST(LENGTH(o_orderpriority) AS BIGINT) AS prio_len,
  o_orderstatus || '/' || o_orderpriority AS status_prio,
  CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS order_month,
  CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
  CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS BIGINT) AS days_to_1999,
  ROUND(o_totalprice, 1) AS price_round1,
  CAST(FLOOR({sql_measure_domain('o_totalprice')}) AS BIGINT) AS price_floor,
  ABS(o_totalprice - 1000.0) AS price_dist_1k,
  SQRT(o_totalprice) AS price_sqrt
FROM orders
"""

# ---------------------------------------------------------------------------
# B12 JSON extraction (reference's JSON-in-VARCHAR convention,
# operators.py:197-199: nested values are JSON-stringified)
# ---------------------------------------------------------------------------

def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse events.props JSON → typed field, aggregate by it.

    Mirrors the reference's convention of demoting nested data to JSON
    strings (/root/reference/src/bytewax_iceberg_connector/operators.py:197-199);
    the engine upgrade is that parsing happens ONCE in the plan, JVM-side
    (get_json_object), not per-consumer in Python.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object(F.col("props"), "$.k").cast("long"))
        .groupBy((F.col("k") % 10).cast("long").alias("k_bucket"))
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .orderBy("k_bucket")
    )


_SQL_JSON = f"""
SELECT CAST(CAST(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS BIGINT) % 10 AS BIGINT) AS k_bucket,
       COUNT(*) AS n,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY k_bucket
ORDER BY k_bucket
"""

# ---------------------------------------------------------------------------
# B7b: time-hierarchy rollup (hypertable-style continuous aggregate)
# ---------------------------------------------------------------------------

def time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: event volumes at hour,
    day, and grand-total resolutions from ONE pass over the fact table
    (rollup → a single expand + aggregate, one shuffle) — the batch form
    of a continuous aggregate that maintains hour/day materializations.

    grouping_id disambiguates levels (a real NULL hour vs the day
    subtotal); at 100 TB you'd persist each level partitioned by its own
    time column and serve dashboards from the day level.
    """
    ev = load_table(spark, sf_dir, "events")
    bucketed = ev.select(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        "value",
    )
    rolled = bucketed.rollup("day", "hour").agg(
        F.grouping_id().cast("long").alias("lvl"),
        F.count("*").alias("n_events"),
        F.sum(dec("value", 2)).alias("_tv"),
    )
    # standard empty-input () row, rebuilt from the hour-level details
    # (see grouping_rollup's empty-input contract; decimal until output)
    total = rolled.where(F.col("lvl") == 0).agg(
        F.lit(None).cast("timestamp").alias("day"),
        F.lit(None).cast("timestamp").alias("hour"),
        F.lit(3).cast("long").alias("lvl"),
        F.coalesce(F.sum("n_events"), F.lit(0)).alias("n_events"),
        F.sum("_tv").alias("_tv"),
    )
    return (
        rolled.where(F.col("lvl") != 3)
        .unionByName(total)
        .select(
            "day",
            "hour",
            "lvl",
            "n_events",
            F.col("_tv").cast("double").alias("total_value"),
        )
    )


_SQL_TIME_ROLLUP = f"""
WITH b AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
         CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour,
         value
  FROM events
)
SELECT day, hour,
       CAST(GROUPING(day) * 2 + GROUPING(hour) AS BIGINT) AS lvl,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM b
GROUP BY ROLLUP (day, hour)
"""

# ---------------------------------------------------------------------------
# B25: pivot (conditional aggregation)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event counts per user-bucket pivoted into one column per type.

    The pivot values are DECLARED, not discovered — at 100 TB an
    auto-pivot first runs a distinct job over the fact table; pinning the
    columns keeps this a single expand+aggregate pass (and a stable
    schema, which an auto-pivot can't guarantee).
    """
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy((F.col("user_id") % 10).cast("long").alias("user_bucket"))
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .orderBy("user_bucket")
    )
    # pivot emits NULL for an empty (bucket, type) cell; the oracle's
    # COUNT(*) FILTER emits 0 — coalesce so sparser corpora still hash-match
    return out.select(
        "user_bucket",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


_SQL_PIVOT = """
SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
       COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
       COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
       COUNT(*) FILTER (WHERE event_type = 'view') AS n_view
FROM events
GROUP BY user_bucket
ORDER BY user_bucket
"""

# ---------------------------------------------------------------------------
# B26: percentiles — exact interpolated + approximate sketch
# ---------------------------------------------------------------------------

def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of value per event_type (linear interpolation on
    the sorted multiset — deterministic: interpolation touches exactly two
    order statistics, no accumulation order to vary).

    Scale: exact percentile materializes each group's values — fine for
    bounded groups; for 100 TB-wide groups switch to approx_percentile
    (t-digest sketch, mergeable, bounded memory), the same trade as
    distinct_exact → distinct_approx.
    """
    ev = load_table(spark, sf_dir, "events")
    # finite(): order statistics have NO cross-engine NaN contract —
    # Spark ranks NaN greatest, DuckDB's quantile_cont skips it, so one
    # poisoned value silently shifts every quantile; abort on both
    # engines instead (r09 family #12 sweep)
    ev = ev.withColumn("value", finite("value"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
        .orderBy("event_type")
    )


_SQL_PERCENTILES = f"""
WITH ev AS (SELECT event_type, {sql_finite('value')} AS value FROM events)
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99,
       MIN(value) AS v_min,
       MAX(value) AS v_max
FROM ev
GROUP BY event_type
ORDER BY event_type
"""

# ---------------------------------------------------------------------------
# B24: subqueries through the SQL surface (EXISTS + correlated scalar)
# ---------------------------------------------------------------------------

def exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-flavored EXISTS: orders per priority having ≥1 returned
    line item — exercised through ``spark.sql`` on registered views.

    Catalyst decorrelates EXISTS into a left-semi join (check .explain: a
    single SortMergeJoin LeftSemi on l_orderkey, NOT a per-row subquery) —
    declaring the subquery and letting the optimizer pick the join is
    exactly the engine's Spark-first contract.
    """
    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_SQL_EXISTS)


# ONE text, both engines (the register_views pattern): no engine/oracle
# copy to drift apart
_SQL_EXISTS = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries: orders priced >1.5× their customer's
    average order value, counted per priority.

    The comparison is cross-multiplied into exact decimal (price·count >
    1.5·sum) so no engine ever divides — boundary rows can't flip on FP
    rounding. Catalyst decorrelates both scalar subqueries into one
    aggregate-then-join of orders with per-customer (count, sum).
    """
    register_views(spark, sf_dir, "orders")
    return spark.sql(_SQL_CORRELATED_SPARK)


def _correlated_sql(cast_fn) -> str:
    """One template, two decimal-cast dialects: the oracle's bare CAST
    aborts on non-finite input natively; the Spark arm needs dec.sql's
    raise_error guard or a NaN price silently NULLs out of the sum
    (r12 measure-poisoning sweep)."""
    c = cast_fn("o_totalprice")
    return f"""
SELECT o_orderpriority, COUNT(*) AS n_above
FROM orders o
WHERE {c} *
      (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    > 1.5 * (SELECT SUM({c})
             FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


_SQL_CORRELATED = _correlated_sql(lambda c: f"CAST({c} AS DECIMAL(18,2))")
_SQL_CORRELATED_SPARK = _correlated_sql(dec.sql)

# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "scan_project_filter": scan_project_filter,
    "pricing_summary": pricing_summary,
    "join_inner_multi": join_inner_multi,
    "join_left_outer_agg": join_left_outer_agg,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "window_rank_topk": window_rank_topk,
    "window_analytic": window_analytic,
    "window_range_trailing": window_range_trailing,
    "grouping_rollup": grouping_rollup,
    "grouping_cube": grouping_cube,
    "distinct_exact": distinct_exact,
    "distinct_approx": distinct_approx,
    "sketch_rollup": sketch_rollup,
    "set_ops": set_ops,
    "sort_limit": sort_limit,
    "sql_shipping_priority": sql_shipping_priority,
    "unpivot_measures": unpivot_measures,
    "scalar_funcs": scalar_funcs,
    "json_extract": json_extract,
    "exists_subquery": exists_subquery,
    "correlated_subquery": correlated_subquery,
    "time_rollup": time_rollup,
    "pivot_event_types": pivot_event_types,
    "percentiles": percentiles,
}

ORACLE = {
    "scan_project_filter": _SQL_SCAN,
    "pricing_summary": _SQL_PRICING,
    "join_inner_multi": _SQL_JOIN_MULTI,
    "join_left_outer_agg": _SQL_LEFT_OUTER,
    "join_semi": _SQL_SEMI,
    "join_anti": _SQL_ANTI,
    "window_rank_topk": _SQL_TOPK,
    "window_analytic": _SQL_WINDOW_ANALYTIC,
    "window_range_trailing": _SQL_WINDOW_RANGE,
    "grouping_rollup": _SQL_ROLLUP,
    "grouping_cube": _SQL_CUBE,
    "distinct_exact": _SQL_DISTINCT_EXACT,
    # distinct_approx: oracle-checked since r06 via the contract-flag
    # trick (exact count + literal-1 flag; the sketch estimate itself
    # stays out of the output)
    "distinct_approx": _SQL_DISTINCT_APPROX,
    # sketch_rollup: oracle-checked since r06, same contract-flag trick —
    # the flag specifically certifies the union-of-DAY-sketches estimate
    # (the mergeability property), not a direct weekly sketch
    "sketch_rollup": _SQL_SKETCH_ROLLUP,
    "set_ops": _SQL_SET_OPS,
    "sort_limit": _SQL_SORT_LIMIT,
    "sql_shipping_priority": _Q3_SQL,
    "unpivot_measures": _SQL_UNPIVOT,
    "scalar_funcs": _SQL_SCALAR,
    "json_extract": _SQL_JSON,
    "exists_subquery": _SQL_EXISTS,
    "correlated_subquery": _SQL_CORRELATED,
    "time_rollup": _SQL_TIME_ROLLUP,
    "pivot_event_types": _SQL_PIVOT,
    "percentiles": _SQL_PERCENTILES,
}


def grouping_sets_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the arbitrary-combination form rollup and
    cube are sugar for: per (type, bucket), per type, and grand total,
    skipping the per-bucket-only set a CUBE would also compute.

    Scale: same single Expand + one aggregate as rollup/cube — grouping
    sets never multiply shuffles, only Expand's row fan-out (here 2x +
    a group-count-sized rebuild).

    Empty-input contract: the () set is expressed as a UNION ALL rebuild
    from the finest set's rows (one shared SQL text, both engines), so a
    0-row input still yields the standard grand-total row — Spark's
    Expand alone would emit nothing (see grouping_rollup). Spark reuses
    the grouping-sets exchange for both CTE consumers; DuckDB inlines
    the tiny CTE twice.
    """
    register_views(spark, sf_dir, "events")
    return spark.sql(_SQL_GROUPING_SETS)


_SQL_GROUPING_SETS = """
WITH g AS (
  SELECT event_type, user_id % 4 AS user_bucket,
         COUNT(*) AS n_events,
         CAST(GROUPING(event_type) * 2 + GROUPING(user_id % 4) AS BIGINT)
           AS gid
  FROM events
  GROUP BY GROUPING SETS ((event_type, user_id % 4), (event_type))
)
SELECT event_type, user_bucket, n_events, gid FROM g
UNION ALL
SELECT CAST(NULL AS STRING), CAST(NULL AS BIGINT),
       CAST(COALESCE(SUM(n_events), 0) AS BIGINT), CAST(3 AS BIGINT)
FROM g WHERE gid = 0
ORDER BY gid, event_type, user_bucket
"""

QUERIES["grouping_sets_mix"] = grouping_sets_mix
ORACLE["grouping_sets_mix"] = _SQL_GROUPING_SETS


# ---------------------------------------------------------------------------
# full-outer join: per-user click/purchase reconciliation
# ---------------------------------------------------------------------------

def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation of per-user click counts vs purchase
    counts, with a coalesced key and a both/click_only/purchase_only
    segment — the ledger-reconciliation shape (rows survive from BOTH
    unmatched sides, unlike B4's left outer).

    Scale: both sides are pre-aggregated before the join (map-side partial
    agg, then one narrow (user_id, count) shuffle each), so the full-outer
    sort-merge join sees one row per user per side — never the raw fact
    rows. Full outer cannot broadcast (either side may produce unmatched
    rows), so SMJ on the shared user_id distribution is the right 100 TB
    plan; the two aggregates and the join reuse the same hash partitioning.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_clicks"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_purchases"))
    )
    j = clicks.join(purchases, ["user_id"], "full_outer")
    return (
        j.select(
            "user_id",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.when(
                F.col("n_clicks").isNotNull() & F.col("n_purchases").isNotNull(),
                "both",
            )
            .when(F.col("n_clicks").isNotNull(), "click_only")
            .otherwise("purchase_only")
            .alias("segment"),
        )
        .orderBy("user_id")
    )


_SQL_FULL_OUTER = """
WITH c AS (SELECT user_id, COUNT(*) AS n_clicks
           FROM events WHERE event_type = 'click' GROUP BY user_id),
p AS (SELECT user_id, COUNT(*) AS n_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY user_id)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       COALESCE(n_clicks, 0) AS n_clicks,
       COALESCE(n_purchases, 0) AS n_purchases,
       CASE WHEN c.user_id IS NOT NULL AND p.user_id IS NOT NULL THEN 'both'
            WHEN c.user_id IS NOT NULL THEN 'click_only'
            ELSE 'purchase_only' END AS segment
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
ORDER BY user_id
"""

QUERIES["join_full_outer"] = join_full_outer
ORACLE["join_full_outer"] = _SQL_FULL_OUTER


# ---------------------------------------------------------------------------
# window: distribution analytics (ntile / percent_rank / cume_dist)
# ---------------------------------------------------------------------------

def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucket, percent_rank, and cume_dist of each order's
    totalprice within its priority class — the distribution-analytic
    window family (B6 covers lag/lead/running aggregates; this covers the
    rank-distribution trio).

    Parity: the ordering is made total with the unique o_orderkey
    tiebreaker, so ntile boundaries and cumulative fractions are
    identical in both engines; percent_rank/cume_dist are single IEEE
    divisions of exact integers. Scale: one hash exchange on the
    5-value priority key feeds all three window functions (same
    partitioning + ordering -> one sort, one Window operator); the
    final ORDER BY is presentation-only.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
        )
        .orderBy("o_orderpriority", "o_orderkey")
    )


_SQL_WINDOW_DISTRIBUTION = """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cum_dist
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderpriority, o_orderkey
"""

QUERIES["window_distribution"] = window_distribution
ORACLE["window_distribution"] = _SQL_WINDOW_DISTRIBUTION


# ---------------------------------------------------------------------------
# plain-SQL surface #2: TPC-H Q5 (local supplier volume, 6-table join graph)
# ---------------------------------------------------------------------------

_Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def sql_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 verbatim through the plain SQL surface — the 6-table join
    graph (two facts, four dims, plus the cross-fact c_nationkey =
    s_nationkey equality) that exercises Catalyst's join REORDERING: the
    declared join order (customer->orders->lineitem->supplier->nation->
    region) is not the efficient one, and the optimizer is free to start
    from the region filter and broadcast the pruned dims instead. Same
    ANSI text runs on DuckDB (decimal-exact revenue is portable).

    Scale: region/nation/supplier broadcast; the orders date filter pushes
    to the scan so the one big shuffle (orders x lineitem on orderkey)
    sees a year's slice only; final agg is 5 rows.
    """
    register_views(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    return spark.sql(_Q5_SQL)


QUERIES["sql_local_supplier_volume"] = sql_local_supplier_volume
ORACLE["sql_local_supplier_volume"] = _Q5_SQL


# ---------------------------------------------------------------------------
# plain-SQL surface #3: TPC-H Q10 (returned-item report)
# ---------------------------------------------------------------------------

_Q10_SQL = """
SELECT c_custkey, c_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE) AS c_acctbal,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def sql_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 verbatim through the plain SQL surface: rank customers by
    revenue lost to returned items in one quarter. Exercises a fact-fact
    join (orders⋈lineitem) UNDER a selective pushed filter pair
    (one-quarter date range + returnflag='R'), a wide GROUP BY (4 keys),
    and TopK-by-aggregate. Same ANSI text runs on DuckDB (decimal-exact
    revenue; acctbal round-tripped through DECIMAL so both engines emit
    the same 2-dp value).

    Scale: both filters reach the scans (quarter slice of orders, 'R'
    slice of lineitem ≈ 1/3), nation broadcasts, the orderkey shuffle
    carries only the filtered slices, and the LIMIT compiles to
    TakeOrderedAndProject (no global sort of the aggregate).
    """
    register_views(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return spark.sql(_Q10_SQL)


QUERIES["sql_returned_item_report"] = sql_returned_item_report
ORACLE["sql_returned_item_report"] = _Q10_SQL


# ---------------------------------------------------------------------------
# plain-SQL surface #4: recursive CTE (hierarchical rollup)
# ---------------------------------------------------------------------------

_RECURSIVE_SQL = """
WITH RECURSIVE walk AS (
  SELECT p_partkey AS orig, p_partkey AS cur,
         CAST(p_retailprice AS DECIMAL(18,2)) AS price
  FROM part
  UNION ALL
  SELECT orig, cur DIV 10, price FROM walk WHERE cur >= 10
)
SELECT cur AS root,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(price) AS DOUBLE) AS total_price
FROM walk
WHERE cur < 10
GROUP BY cur
ORDER BY cur
"""


def sql_recursive_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup through a RECURSIVE CTE (Spark 4's WITH
    RECURSIVE): every part climbs its derived decimal-digit hierarchy
    (parent = key div 10) to its single-digit root, and each root
    aggregates the subtree's count and decimal-exact retail price — the
    BOM-explosion / org-chart recursion pattern on the SQL surface.

    Scale: recursion depth is log10(maxkey) — ~7 iterations at any
    realistic key space, each a narrow (orig, cur, price) frame; the
    step is a pure projection (no join), so each iteration is a scan of
    the frontier only, and the final aggregate is 10 rows. Unbounded-
    depth recursion over long chains (e.g. event-at-a-time
    sessionization) stays with the window-islands formulation
    (streaming_session) — recursion iterations serialize on the driver.

    The DuckDB oracle runs the same recursion with its `//` integer
    division (the one dialect difference).
    """
    register_views(spark, sf_dir, "part")
    return spark.sql(_RECURSIVE_SQL)


_SQL_RECURSIVE_ORACLE = _RECURSIVE_SQL.replace("cur DIV 10", "cur // 10")

QUERIES["sql_recursive_rollup"] = sql_recursive_rollup
ORACLE["sql_recursive_rollup"] = _SQL_RECURSIVE_ORACLE


# ---------------------------------------------------------------------------
# VARIANT: schema-on-read semi-structured extraction (Spark 4 native)
# ---------------------------------------------------------------------------


def variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through the VARIANT type: ``parse_json`` once
    into Spark 4's binary variant encoding, ``variant_get`` typed paths
    out — the modern schema-on-read path (shredded binary access, no
    per-query string re-parse, no declared struct schema).

    vs json_extract (B12): get_json_object re-walks the JSON TEXT per
    extraction; variant parses once and every subsequent path get is a
    binary probe — at 100 TB the parse cost is paid at ingest and
    amortized across all consumers (store the variant column in the
    lake). Aggregation: events bucketed by the extracted k mod 10,
    decimal-exact value sums.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.expr("variant_get(try_parse_json(props), '$.k', 'int')").alias("k"),
        "value",
    )
    return (
        v.where(F.col("k").isNotNull())
        .groupBy((F.col("k") % 10).cast("long").alias("k_bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            dsum("value").alias("total_value"),
        )
        .orderBy("k_bucket")
    )


_SQL_VARIANT = f"""
SELECT CAST(CAST(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS INTEGER) % 10 AS BIGINT)
         AS k_bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sql_dsum('value')} AS total_value
FROM events
WHERE CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END IS NOT NULL
GROUP BY 1
ORDER BY 1
"""

QUERIES["variant_extract"] = variant_extract
ORACLE["variant_extract"] = _SQL_VARIANT


# ---------------------------------------------------------------------------
# plain-SQL surface #5: TPC-H Q6 (forecast revenue change)
# ---------------------------------------------------------------------------

_Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24
"""


def sql_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 verbatim: the pure scan-side query — three pushed
    predicates, zero joins, one global decimal-exact aggregate. The
    benchmark's canonical test that selective filters actually reach the
    columnar scan: the plan must be FileScan(PushedFilters: shipdate
    range + discount range + quantity) → partial agg → single exchange
    → final 1-row agg. At 100 TB this is the difference between reading
    a year's row groups and reading the table.
    """
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_Q6_SQL)


QUERIES["sql_forecast_revenue"] = sql_forecast_revenue
ORACLE["sql_forecast_revenue"] = _Q6_SQL


# ---------------------------------------------------------------------------
# plain-SQL surface #6: TPC-H Q14 (promotion effect)
# ---------------------------------------------------------------------------

_Q14_SQL = """
SELECT CAST(ROUND(
         100.00 * SUM(CASE WHEN p_type = 'PROMO'
                           THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                           ELSE CAST(0 AS DECIMAL(18,2)) END)
         / SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))), 4) AS DOUBLE)
         AS promo_revenue_pct,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
"""


def sql_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 verbatim (promotion effect): one month of lineitem joined
    to part, conditional decimal aggregation into a single ratio row —
    the CASE-inside-SUM conditional-aggregate pattern plus a
    broadcastable dimension join under a pushed month filter. The ratio
    divides two decimal-exact sums, so both engines compute the same
    IEEE quotient; ROUND(…, 4) makes the printed percentage stable.
    """
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q14_SQL)


QUERIES["sql_promo_revenue"] = sql_promo_revenue
ORACLE["sql_promo_revenue"] = _Q14_SQL


# ---------------------------------------------------------------------------
# plain-SQL surface #7: TPC-H Q18 (large-volume customers)
# ---------------------------------------------------------------------------

_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE)
         AS o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 20
"""


def sql_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 verbatim (large-volume customers): the IN-subquery over a
    grouped HAVING aggregate — Catalyst rewrites it to an aggregate +
    left-semi join, so the outer 3-table join runs only over qualifying
    orderkeys. Decimal-exact quantity sums on both engines; TopK by
    totalprice.

    Scale: the semi-join side is the aggregated (orderkey, qty) frame —
    narrow and shuffle-partitioned on the same key as the main join, and
    the HAVING filter cuts it to the rare heavy tail before anything
    wide happens.
    """
    register_views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(_Q18_SQL)


QUERIES["sql_large_orders"] = sql_large_orders
ORACLE["sql_large_orders"] = _Q18_SQL


# ---------------------------------------------------------------------------
# plain-SQL surface #8: TPC-H Q15 (top supplier)
# ---------------------------------------------------------------------------

_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def sql_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 verbatim (top supplier): the CTE-reused-twice pattern —
    ``revenue`` feeds both the join and the scalar MAX subquery, and the
    decimal-exact revenue makes the equality predicate safe (the reason
    the spec's float version is notoriously flaky across engines).

    Scale: Catalyst evaluates the CTE's aggregate per reference (or
    reuses the exchange under AQE); both consumers are supplier-sized
    frames, and the scalar subquery broadcasts one row. The quarter
    filter pushes to the lineitem scan on both paths.
    """
    register_views(spark, sf_dir, "lineitem", "supplier")
    return spark.sql(_Q15_SQL)


QUERIES["sql_top_supplier"] = sql_top_supplier
ORACLE["sql_top_supplier"] = _Q15_SQL


# ---------------------------------------------------------------------------
# plain-SQL surface #9: TPC-H Q7 (volume shipping between two nations)
# ---------------------------------------------------------------------------

_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_11')
      OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_20'))
    AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                       AND TIMESTAMP '1996-12-31 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def sql_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 verbatim (volume shipping): the SELF-ALIASED dimension —
    nation joins in twice (n1 for the supplier side, n2 for the customer
    side) under a symmetric disjunctive nation-pair predicate, with a
    per-year decimal-exact revenue rollup. The query the reference's
    row-at-a-time pipeline cannot express without two passes; here both
    nation aliases broadcast and the pair predicate evaluates inside the
    joined stream. (Reference scope: connector.py has no query engine —
    this is north-star surface.)

    Scale: nation is tiny (both aliases broadcast), the two-year shipdate
    filter pushes to the lineitem scan, and the only wide shuffles are the
    fact-fact joins on orderkey/custkey — each carrying the filtered
    slice. Catalyst pushes the nation-pair disjunction below the final
    join as residual filter on the broadcast rows.
    """
    register_views(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation"
    )
    return spark.sql(_Q7_SQL)


QUERIES["sql_volume_shipping"] = sql_volume_shipping
ORACLE["sql_volume_shipping"] = _Q7_SQL


# ---------------------------------------------------------------------------
# plain-SQL surface #10: TPC-H Q8 (national market share)
# ---------------------------------------------------------------------------

_Q8_SQL = """
SELECT o_year,
       CAST(ROUND(
         CAST(SUM(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)
              AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE), 6) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA'
    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                        AND TIMESTAMP '1996-12-31 00:00:00'
    AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


def sql_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 verbatim (national market share): the widest join graph in
    the suite — 8 relations including nation twice (customer region
    gating vs supplier nationality labeling) — with a conditional-
    aggregate ratio per year. Both SUMs are exact DECIMAL; the one
    division happens once per output row on the exact sums (then ROUND 6),
    so the ratio is bit-stable across engines and partitionings.

    Scale: part/supplier/nation/region broadcast; the two fact-fact
    shuffles (lineitem⋈orders on orderkey, ⋈customer on custkey) carry
    only the date-filtered slice; the ECONOMY filter pushes into the part
    scan BEFORE the join, cutting the probe side by ~1/6. The final agg
    is |years| rows.
    """
    register_views(
        spark, sf_dir,
        "part", "lineitem", "supplier", "orders", "customer", "nation", "region",
    )
    return spark.sql(_Q8_SQL)


QUERIES["sql_market_share"] = sql_market_share
ORACLE["sql_market_share"] = _Q8_SQL


# ---------------------------------------------------------------------------
# plain-SQL surface #11: TPC-H Q13 (customer order-count distribution)
# ---------------------------------------------------------------------------

_Q13_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def sql_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution), adapted: the synthetic orders
    table has no o_comment, so the spec's NOT LIKE exclusion becomes an
    o_orderpriority exclusion — the PLAN SHAPE is unchanged: a left outer
    join with the filter in the JOIN CONDITION (not a WHERE, which would
    defeat the outer join), COUNT of a nullable column (counts 0 for
    customers with no qualifying orders), then a second aggregation over
    the first's result — the double-aggregate histogram pattern.

    Scale: both aggregations shuffle on narrow keys (custkey, then the
    count value); the first agg's map side runs combine on custkey, and
    the histogram is |distinct counts| rows. Skew risk is the histogram
    key (many customers share an order count) — partial aggregation
    absorbs it map-side.
    """
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_Q13_SQL)


QUERIES["sql_customer_distribution"] = sql_customer_distribution
ORACLE["sql_customer_distribution"] = _Q13_SQL


# ---------------------------------------------------------------------------
# plain-SQL surface #12: TPC-H Q17 (small-quantity-order revenue)
# ---------------------------------------------------------------------------

_Q17_SQL = """
SELECT CAST(ROUND(
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0,
       2) AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (
    SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
"""


def sql_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue), p_container swapped for
    p_brand (the synthetic part table has no container column; the plan
    shape — a CORRELATED scalar aggregate subquery over the same fact
    table — is the point and is unchanged). Catalyst decorrelates the
    subquery into a per-partkey aggregate joined back to the filtered
    fact; DuckDB does the equivalent rewrite, so the same text runs on
    both engines.

    Float-determinism note: l_quantity is integral (verified in testdata),
    so AVG's double sum is EXACT (integers ≪ 2^53) and 0.2·avg is the
    same IEEE double on both engines — the strict < threshold cannot
    diverge. The revenue sum is decimal-exact; the single /7.0 division
    happens once on the exact total.

    Scale: the decorrelated aggregate is partkey-partitioned (same key as
    the join — no extra shuffle under co-partitioning), brand filter
    prunes the part side before the join, and the result is ONE row.
    """
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q17_SQL)


QUERIES["sql_small_qty_revenue"] = sql_small_qty_revenue
ORACLE["sql_small_qty_revenue"] = _Q17_SQL


# ---------------------------------------------------------------------------
# plain-SQL surface #13: TPC-H Q19 (disjunctive predicate revenue)
# ---------------------------------------------------------------------------

_Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


def sql_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue), p_container terms adapted to
    p_size bands: the OR-of-conjunctions predicate that straddles BOTH
    join sides — the classic test of disjunctive predicate handling.
    Catalyst derives single-side implied filters from the disjunction
    (brand IN (...) pushes to the part scan, quantity range union to
    lineitem) while keeping the full residual on the joined rows.

    Scale: the derived pushdowns shrink the part build side to three
    brands (broadcastable) and the probe side to the quantity envelope;
    without them this is a full fact scan against a full dim scan. One
    decimal-exact output row.
    """
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q19_SQL)


QUERIES["sql_disjunctive_revenue"] = sql_disjunctive_revenue
ORACLE["sql_disjunctive_revenue"] = _Q19_SQL


# ---------------------------------------------------------------------------
# Exact per-group percentiles (the histogram sketch's exact twin)
# ---------------------------------------------------------------------------

def _pctl_sql(guard) -> str:
    """One template, two finite-guard dialects (r12 measure sweep):
    with a NaN measure Spark's percentile_disc ranks it GREATEST while
    DuckDB's skips it — silently different quantiles on what used to be
    shared text. Both arms now abort on non-finite input."""
    g = guard("o_totalprice")
    return f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY {g})
            AS DOUBLE) AS p25,
       CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY {g})
            AS DOUBLE) AS p50,
       CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY {g})
            AS DOUBLE) AS p75,
       CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY {g})
            AS DOUBLE) AS p95
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


_PCTL_SQL = _pctl_sql(sql_finite)
_PCTL_SQL_SPARK = _pctl_sql(finite_expr)


def percentile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group order-statistics: discrete p25/p50/p75/p95 of order
    totalprice per priority — the EXACT baseline twin of the mergeable
    ``value_histogram`` sketch (the same pairing discipline as
    similarity_topk ↔ the ANN family and distinct_exact ↔ HLL).

    ``percentile_disc`` returns an actual data value (no interpolation,
    no float accumulation), so the comparison is deterministic on any
    engine; the ANSI WITHIN GROUP text runs verbatim on both.

    Scale contract, stated honestly: exact percentiles DO NOT merge — 
    this aggregate must see each group's full value set (Spark sorts
    per group after a key shuffle), so at 100 TB you materialize
    ``value_histogram``'s fixed bins (mergeable map-side) for dashboards
    and reserve this exact form for per-partition audits or final
    reports. That trade is the reason both queries exist.
    """
    register_views(spark, sf_dir, "orders")
    return spark.sql(_PCTL_SQL_SPARK)


QUERIES["percentile_rollup"] = percentile_rollup
ORACLE["percentile_rollup"] = _PCTL_SQL


# ---------------------------------------------------------------------------
# percentile_approx_check — approx-vs-exact differential (distinct_approx
# pattern, made oracle-checkable)
# ---------------------------------------------------------------------------

_PCTL_APPROX_ACCURACY = 1000  # rank error ≤ n/accuracy per the Spark contract


def percentile_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-percentile CONTRACT audit: per priority, the exact
    discrete p50/p90 of order totalprice (integer cents) alongside a
    0/1 flag asserting Spark's ``approx_percentile(·, q, 1000)`` landed
    inside the exact value band ``[percentile_disc(q−2ε),
    percentile_disc(q+2ε)]`` with ε = 1/accuracy — the rank-error
    guarantee the sketch documents, converted to a value interval (if
    rank(v) ∈ [lo, hi] then v lies between the values AT lo and hi; the
    2ε width absorbs the ceil/floor slack of rank→position rounding).

    The differential trick (``distinct_approx``'s pattern, upgraded from
    rows-only to ORACLE-CHECKED): the approx estimate itself never
    appears in the output — only exact order statistics and the contract
    flags, which the DuckDB oracle states as literal 1s. A sketch that
    ever violates its bound flips a flag to 0 and the driver's hash
    compare fails loudly. Empirically the band holds at sf 0.001/0.01/0.1
    (probed all three before registration).

    Scale: one groupBy over |priorities| groups. The exact percentiles
    are the non-mergeable half (full per-group value sets, see
    ``percentile_rollup``'s honesty note); the approx half is the
    mergeable scale path being audited — at 100 TB you'd sample or
    per-partition-audit the exact side, and this query IS that audit.
    """
    register_views(spark, sf_dir, "orders")
    return spark.sql(_PCTL_APPROX_SPARK)


_PCTL_APPROX_CENTS = """
  SELECT o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
"""

# Spark arm of the cents CTE: the oracle's bare decimal cast aborts on
# non-finite input natively; Spark's silently NULLs (r12 measure sweep)
_PCTL_APPROX_CENTS_SPARK = f"""
  SELECT o_orderpriority,
         CAST({dec.sql('o_totalprice')} * 100 AS BIGINT) AS cents
  FROM orders
"""

_PCTL_APPROX_SPARK = f"""
WITH c AS ({_PCTL_APPROX_CENTS_SPARK})
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT)
         AS p50_exact_cents,
       CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY cents) AS BIGINT)
         AS p90_exact_cents,
       CAST(CASE WHEN percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
                      IS NULL THEN 1  -- all-NULL group: vacuously inside
                 WHEN approx_percentile(cents, 0.5, {_PCTL_APPROX_ACCURACY})
                 BETWEEN percentile_disc(0.498) WITHIN GROUP (ORDER BY cents)
                     AND percentile_disc(0.502) WITHIN GROUP (ORDER BY cents)
            THEN 1 ELSE 0 END AS BIGINT) AS p50_approx_ok,
       CAST(CASE WHEN percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)
                      IS NULL THEN 1
                 WHEN approx_percentile(cents, 0.9, {_PCTL_APPROX_ACCURACY})
                 BETWEEN percentile_disc(0.898) WITHIN GROUP (ORDER BY cents)
                     AND percentile_disc(0.902) WITHIN GROUP (ORDER BY cents)
            THEN 1 ELSE 0 END AS BIGINT) AS p90_approx_ok
FROM c
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# oracle: exact order statistics verbatim; the contract flags are literal
# 1 — the Spark side must EARN them (a violated sketch bound flips the
# Spark flag to 0 and the value-hash compare fails)
_SQL_PCTL_APPROX = f"""
WITH c AS ({_PCTL_APPROX_CENTS})
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT)
         AS p50_exact_cents,
       CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY cents) AS BIGINT)
         AS p90_exact_cents,
       CAST(1 AS BIGINT) AS p50_approx_ok,
       CAST(1 AS BIGINT) AS p90_approx_ok
FROM c
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

QUERIES["percentile_approx_check"] = percentile_approx_check
ORACLE["percentile_approx_check"] = _SQL_PCTL_APPROX


# ---------------------------------------------------------------------------
# semi_reduced_join — the semi-join reduction pattern, pinned as a plan shape
# ---------------------------------------------------------------------------


def semi_reduced_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by brand for a selective part subset, executed with the
    classic SEMI-JOIN REDUCTION: the dimension's qualifying KEY SET
    (8 bytes/row) broadcasts as a LEFT SEMI prefilter on the fact scan,
    so the shuffled main join only ever moves the matching fact slice.

    This is the distributed-DB pattern for the middle regime the other
    join queries don't pin: a dimension too wide to broadcast whole rows
    at 100 TB (so the main join must shuffle — forced here with a
    shuffle_merge hint) but whose KEYS fit an executor easily — broadcast
    the keys, drop the 99% of fact rows that can't match BEFORE the
    exchange (Spark's runtime bloom-filter injection approximates the
    same reduction probabilistically; this form is exact and explicit,
    and fires at any scale). Oracle states the plain join — the reduction
    must be row-invisible.

    Plan gate: BroadcastHashJoin(LeftSemi) below the fact-side Exchange,
    SortMergeJoin above it, lineitem scan pruned to 3 columns.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sel = part.where(F.col("p_size") <= 2).select("p_partkey", "p_brand")
    keys = F.broadcast(sel.select("p_partkey"))
    reduced = li.select("l_partkey", "l_extendedprice", "l_discount").join(
        keys, li.l_partkey == keys.p_partkey, "left_semi"
    )
    return (
        reduced.join(
            sel.hint("shuffle_merge"),
            reduced.l_partkey == sel.p_partkey,
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            dsum(
                f"{dec.sql('l_extendedprice')}"
                f" * (1 - {dec.sql('l_discount')})", 4
            ).alias("revenue"),
        )
        .orderBy("p_brand")
    )


_SQL_SEMI_REDUCED = f"""
SELECT p.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {sql_dsum('CAST(l.l_extendedprice AS DECIMAL(18,2))'
                 ' * (1 - CAST(l.l_discount AS DECIMAL(18,2)))', 4)}
         AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size <= 2
GROUP BY p.p_brand
ORDER BY p.p_brand
"""

QUERIES["semi_reduced_join"] = semi_reduced_join
ORACLE["semi_reduced_join"] = _SQL_SEMI_REDUCED


# ---------------------------------------------------------------------------
# copurchase_affinity — market-basket pair mining without a self-join
# ---------------------------------------------------------------------------


def _basket_pairs(li: DataFrame) -> DataFrame:
    """Undirected co-purchase pair table (pa < pb, w = shared-order
    count) from lineitem — the ONE basket fan-out shared by
    ``copurchase_affinity`` and ``pagerank_copurchase`` (and mirrored by
    ``_SQL_BASKET_PAIRS``), so basket-key hygiene (the NULL-l_orderkey
    phantom-basket fix) can never diverge between consumers.

    NULL basket keys: Spark's groupBy would pool every NULL l_orderkey
    into one phantom basket and emit pairs from it, while the oracles'
    equi-self-joins drop NULL keys — filtered symmetrically here.
    The pair space never rides a self-join: per-order distinct part sets
    are bounded by order width, so the JVM-side array fan-out emits
    O(width²) pairs per order into one map-side-combinable count.
    """
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    return (
        baskets.where(F.size("ps") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    "  transform(slice(ps, i + 2, size(ps)),"
                    "            y -> struct(x as pa, y as pb))))"
                )
            ).alias("p")
        )
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


#: oracle twin of _basket_pairs — the readable quadratic self-join form
_SQL_BASKET_PAIRS = """po AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_orderkey IS NOT NULL
), und AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS w
  FROM po a JOIN po b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)"""


_AFFINITY_TOPK = 20


def copurchase_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the ``_AFFINITY_TOPK`` part pairs most
    often bought in the SAME order, with exact order counts and support
    in ppm of all orders — the classic co-purchase/recommendation
    statistic (the frequent-itemset k=2 tier).

    Scale: the pair space never rides a self-join — per-order distinct
    part sets are bounded by order width (≤ 7 lines in this schema; tens
    at worst in real baskets), so the JVM-side array fan-out
    (``cooccurrence_pmi``/``source_overlap_matrix``'s construction)
    emits O(width²) pairs per order into one map-side-combinable count;
    one (orderkey) exchange for the basket build, one pair-count
    exchange, TakeOrdered cut, rank window on ≤ k rows. The oracle
    deliberately states the readable quadratic self-join — the green row
    proves the fan-out loses nothing.
    """
    li = load_table(spark, sf_dir, "lineitem")
    total = li.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders_total")
    )
    pairs = _basket_pairs(li).withColumnRenamed("w", "n_orders")
    w = Window.orderBy(F.desc("n_orders"), "pa", "pb")
    return (
        pairs.orderBy(F.desc("n_orders"), "pa", "pb")
        .limit(_AFFINITY_TOPK)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "rnk",
            "pa",
            "pb",
            "n_orders",
            F.expr(
                "cast(n_orders * 1000000 div nullif(n_orders_total, 0)"
                " as long)"
            ).alias("support_ppm"),
        )
        .orderBy("rnk")
    )


_SQL_AFFINITY = f"""
WITH {_SQL_BASKET_PAIRS}, tot AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders_total
  FROM lineitem
), top AS (
  SELECT pa, pb, w AS n_orders FROM und
  ORDER BY n_orders DESC, pa, pb LIMIT {_AFFINITY_TOPK}
)
SELECT CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
       pa, pb, n_orders,
       CAST(n_orders * 1000000 // NULLIF(n_orders_total, 0) AS BIGINT)
         AS support_ppm
FROM top, tot
WINDOW w AS (ORDER BY n_orders DESC, pa, pb)
ORDER BY rnk
"""

QUERIES["copurchase_affinity"] = copurchase_affinity
ORACLE["copurchase_affinity"] = _SQL_AFFINITY


# ---------------------------------------------------------------------------
# pagerank_copurchase — iterative graph centrality over the basket graph
# ---------------------------------------------------------------------------

_PR_ITERS = 5
_PR_TOPK = 20
_PR_DAMP_PPM = 850_000  # d = 0.85 in ppm — integer PageRank throughout


def _pr_graph(spark: SparkSession, sf_dir: str) -> tuple:
    """PageRank build phase: returns ``(ew, pr, caches)`` — the
    out-weighted edge table cached hashpartitioned by DESTINATION node
    and MATERIALIZED (one count job populates every cache below it), the
    LAZY uniform rank seed (node-sized, read once as the first
    iteration's broadcast input), and the persisted frames the caller
    must scope to its result's lifetime (_cache.scoped)."""
    li = load_table(spark, sf_dir, "lineitem")
    # persist the undirected pair table FIRST: the edge union, the
    # out-weight aggregate, and the initial rank vector all derive from
    # it — without the persist each branch replays the basket fan-out
    # (measured 3 replays = ~2/3 of the whole query's cost at sf0.1)
    und = _basket_pairs(li).persist()
    edges = und.select(
        F.col("pa").alias("u"), F.col("pb").alias("v"), "w"
    ).unionByName(und.select(F.col("pb").alias("u"), F.col("pa").alias("v"), "w"))
    # node-sized out-weight table: persisted once, broadcast into the
    # edge join AND the rank-vector seed (computing it per consumer would
    # replay the union+aggregate twice)
    outw = (
        edges.groupBy("u")
        .agg(F.sum("w").cast("long").alias("ow"))
        .persist()
    )
    # pre-partition the cached edge table by the DESTINATION node: the
    # per-iteration broadcast join on u preserves this partitioning, so
    # every iteration's groupBy(v) aggregates exchange-free — one shuffle
    # at build time replaces _PR_ITERS shuffles of the contribution table.
    # ONE materialization job: the broadcast(outw) build scans und
    # (populating its cache), the edge union then reads the cache, and
    # the count pins ew — r12 dropped the three extra count jobs (und,
    # outw, pr) the old build paid per query (guide §1.2: per-task work
    # only after the job shape is right; here the shape WAS four
    # driver-synchronized jobs where one suffices).
    ew = edges.join(F.broadcast(outw), "u").repartition("v").persist()
    ew.count()
    # und (the edge-scale basket-pair table, the largest intermediate) is
    # fully consumed once ew and outw are materialized by the count above
    # — release it NOW instead of scoping it to the result lifetime
    # (r12 ADVICE: keeping it pinned through the whole query was a memory
    # regression vs the old early unpersist, relevant at scale)
    und.unpersist()
    # the seed stays LAZY: it is consumed exactly once, as the broadcast
    # input of iteration 1 inside the caller's single chained plan —
    # persisting it bought nothing and cost a job. Width is irrelevant
    # for a broadcast input, so the old node_width coalesce is gone too.
    pr = outw.select(
        F.col("u").alias("v"), F.lit(1_000_000).cast("long").alias("p")
    )
    return ew, pr, (ew, outw)


def _pr_step(ew: DataFrame, pr: DataFrame) -> DataFrame:
    """One damped power iteration: edges⋈rank broadcast join + per-node
    integer aggregate. The rank vector is NODE-sized (one long per part)
    — broadcast it so the cached edge list never re-shuffles across
    iterations; past broadcast budget (≫10⁸ nodes) flip to co-hash-
    partitioning of ew and pr on u, which keeps the same per-iteration
    shape. Deliberately NO coalesce on the aggregate: a post-aggregate
    coalesce is a narrow dependency that would collapse the whole
    exchange-free iteration stage (cached-edge scan → broadcast join →
    agg) to that width — the single-task regression round-5 ADVICE
    flagged. Plan gate: tests/test_plan_quality.py::
    test_pagerank_iteration_parallel_and_exchange_free."""
    return (
        ew.join(F.broadcast(pr.withColumnRenamed("v", "u")), "u")
        .select("v", F.expr("p * w div ow").alias("c"))
        .groupBy("v")
        .agg(
            F.expr(
                f"cast(150000 + ({_PR_DAMP_PPM} * sum(c)) div 1000000"
                " as long)"
            ).alias("p")
        )
    )


def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the part co-purchase graph (nodes = parts,
    symmetric edges weighted by shared-order counts, the
    ``copurchase_affinity`` fan-out): ``_PR_ITERS`` damped power
    iterations in EXACT integer micro-units — contribution =
    ``pr·w div W(u)``, update = ``150000 + (850000·Σ) div 10⁶`` — so the
    fixpoint trajectory is bit-identical on any engine and the oracle is
    a recursive-CTE replay, not a float approximation. Output: top-20
    parts by centrality — "importance in the purchase graph", the
    recommendation-seed ranking.

    Scale: the edge list with out-weights is built once and persisted
    (result-scoped); every iteration is ONE edges⋈rank join + one
    per-node aggregate. The iteration count is FIXED (no fixpoint
    check), so all ``_PR_ITERS`` steps chain into ONE lazily-built plan
    executed by the final action: iteration t's node-sized aggregate
    feeds iteration t+1 as a broadcast input, a LINEAR chain Spark
    executes stage by stage — each stage runs exactly once, nothing
    replays, and the driver never synchronizes between iterations. r12
    measure at sf0.1 (2.39 M directed edges, 20 k nodes): 8.5 s → 4.9 s
    warm — the removed cost was 5 persist jobs + 5 count jobs + the
    per-iteration Python↔JVM round-trips, not compute (guide §1.2: fix
    the job shape first). Contrast dedup_clusters, whose DYNAMIC
    fixpoint genuinely needs per-iteration materialization, and
    bfs_reach, whose frontiers are read 3× each (A/B'd 4× SLOWER
    un-persisted). Symmetric edges mean no dangling nodes, so the
    update needs no left-join patch. At 100 TB the edge build dominates
    (one basket fan-out, no self-join); iterations touch only
    (u, v, w, W) — 32 bytes/edge; past broadcast budget (≫10⁸ nodes)
    flip the rank frame to per-iteration persisted co-hash-partitioning
    (see _pr_step), which restores the old shape.
    """
    from ._cache import scoped

    ew, pr, caches = _pr_graph(spark, sf_dir)
    for _ in range(_PR_ITERS):
        pr = _pr_step(ew, pr)
    wnd = Window.orderBy(F.desc("p"), F.asc("v"))
    result = (
        pr.orderBy(F.desc("p"), "v")
        .limit(_PR_TOPK)
        .withColumn("rank", F.row_number().over(wnd).cast("long"))
        .select(
            "rank",
            F.col("v").alias("part_key"),
            F.col("p").alias("pr_micro"),
        )
        .orderBy("rank")
    )
    return scoped(result, *caches)


_SQL_PAGERANK = f"""
WITH RECURSIVE {_SQL_BASKET_PAIRS}, ed AS (
  SELECT pa AS u, pb AS v, w FROM und
  UNION ALL
  SELECT pb, pa, w FROM und
), ow AS (
  SELECT u, CAST(SUM(w) AS BIGINT) AS ow FROM ed GROUP BY u
), ew AS (
  SELECT e.u, e.v, e.w, o.ow FROM ed e JOIN ow o USING (u)
), pr AS (
  SELECT 0 AS t, u AS v, CAST(1000000 AS BIGINT) AS p FROM ow
  UNION ALL
  SELECT pr.t + 1, e.v,
         CAST(150000 + ({_PR_DAMP_PPM} * SUM(pr.p * e.w // e.ow)) // 1000000
              AS BIGINT)
  FROM pr JOIN ew e ON e.u = pr.v
  WHERE pr.t < {_PR_ITERS}
  GROUP BY pr.t, e.v
)
SELECT CAST(ROW_NUMBER() OVER w AS BIGINT) AS rank,
       v AS part_key, p AS pr_micro
FROM pr WHERE t = {_PR_ITERS}
WINDOW w AS (ORDER BY p DESC, v ASC)
QUALIFY rank <= {_PR_TOPK}
ORDER BY rank
"""

# ---------------------------------------------------------------------------
# copurchase_cosine — normalized item-item similarity (recsys scoring)
# ---------------------------------------------------------------------------

_COS_TOPK = 20


def copurchase_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine similarity over the co-purchase graph: for the
    top-``_COS_TOPK`` part pairs, ``cos = w(i,j) / √(W(i)·W(j))`` where
    ``W`` is a part's total co-occurrence mass — the normalization that
    separates "popular with everything" from "specifically bought
    together" (the item-item collaborative-filtering score;
    ``copurchase_affinity`` reports the raw support this normalizes).

    Determinism: w and W are exact integers from the shared
    ``_basket_pairs`` build, and ``floor(10⁶·w/√(Wi·Wj))`` is one
    correctly-rounded multiply+sqrt+divide — bit-identical on any IEEE
    engine, so the micro-unit score is oracle-exact, not approximate.

    Scale: the pair table is the one basket fan-out (no self-join); the
    strength table is node-sized and broadcasts into the two joins; the
    top-k cut is TakeOrdered. Ranking by the float score would tie
    fragilely — the ORDER key is the integer micro score with (pa, pb)
    tie-breaks on both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    und = _basket_pairs(li)
    edges = und.select(F.col("pa").alias("u"), "w").unionByName(
        und.select(F.col("pb").alias("u"), "w")
    )
    ow = edges.groupBy("u").agg(F.sum("w").cast("long").alias("ow"))
    scored = (
        und.join(
            F.broadcast(ow.select(F.col("u").alias("pa"), F.col("ow").alias("wa"))),
            "pa",
        )
        .join(
            F.broadcast(ow.select(F.col("u").alias("pb"), F.col("ow").alias("wb"))),
            "pb",
        )
        .select(
            "pa",
            "pb",
            "w",
            F.expr(
                "cast(floor(1000000.0 * w / sqrt(cast(wa as double)"
                " * cast(wb as double))) as long)"
            ).alias("cos_micro"),
        )
    )
    wnd = Window.orderBy(F.desc("cos_micro"), "pa", "pb")
    return (
        scored.orderBy(F.desc("cos_micro"), "pa", "pb")
        .limit(_COS_TOPK)
        .withColumn("rank", F.row_number().over(wnd).cast("long"))
        .select("rank", "pa", "pb", "w", "cos_micro")
        .orderBy("rank")
    )


_SQL_COPURCHASE_COSINE = f"""
WITH {_SQL_BASKET_PAIRS}, ed AS (
  SELECT pa AS u, w FROM und UNION ALL SELECT pb, w FROM und
), ow AS (
  SELECT u, CAST(SUM(w) AS BIGINT) AS ow FROM ed GROUP BY u
), scored AS (
  SELECT und.pa, und.pb, und.w,
         CAST(FLOOR(1000000.0 * und.w
                    / SQRT(CAST(a.ow AS DOUBLE) * CAST(b.ow AS DOUBLE)))
              AS BIGINT) AS cos_micro
  FROM und JOIN ow a ON und.pa = a.u JOIN ow b ON und.pb = b.u
), top AS (
  SELECT * FROM scored ORDER BY cos_micro DESC, pa, pb LIMIT {_COS_TOPK}
)
SELECT CAST(ROW_NUMBER() OVER w AS BIGINT) AS rank, pa, pb, w, cos_micro
FROM top
WINDOW w AS (ORDER BY cos_micro DESC, pa, pb)
ORDER BY rank
"""

QUERIES["copurchase_cosine"] = copurchase_cosine
ORACLE["copurchase_cosine"] = _SQL_COPURCHASE_COSINE


QUERIES["pagerank_copurchase"] = pagerank_copurchase
ORACLE["pagerank_copurchase"] = _SQL_PAGERANK


# ---------------------------------------------------------------------------
# triangle_count — degree-oriented triangle census of the basket graph
# ---------------------------------------------------------------------------


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (the
    ``_basket_pairs`` fan-out): exact node/edge/wedge/triangle counts and
    the global clustering coefficient in ppm (3·triangles·10⁶ div
    wedges) — the standard graph-cohesion report, and the third member of
    the basket-graph family (affinity = edges, pagerank = centrality,
    this = closure).

    Algorithm (Spark side): the node-degree table (node-sized) broadcasts
    back onto the canonical ``pa < pb`` edge list to ORIENT every edge
    from its (degree, id)-smaller endpoint to the larger — the classic
    degree-orientation bound: every out-neighborhood is O(√m). Triangles
    are then counted by ADJACENCY INTERSECTION: group the oriented edges
    into per-node out-neighbor arrays (node-sized frame, O(m) total
    payload) and, for each oriented edge (u, v), count
    ``|N⁺(u) ∩ N⁺(v)|`` with one JVM ``array_intersect`` — each triangle
    has exactly one (deg,id)-minimum vertex u with both other corners in
    N⁺(u), and the closing corner w appears in N⁺(v) exactly when (v, w)
    is oriented v→w, so every triangle is counted exactly once. Work is
    Σ_(u,v)∈E (deg⁺u + deg⁺v) = O(m^1.5) worst-case — the same bound as
    the classic wedge self-join, but the O(m^1.5) wedge-candidate table
    is never MATERIALIZED or shuffled (r12 measure at sf0.1: 41 M wedge
    rows → 8.9 s for wedge+closure vs 2.5 s for the intersection on the
    identical 1,884,488-triangle census; guide §2.3/§2.4 — the biggest
    exchange deleted outright). The oracle deliberately states the
    readable unoriented 3-way self-join — the green row proves
    orientation+intersection loses nothing.

    Scale: one basket fan-out (shared shape with copurchase_affinity),
    ONE adjacency groupBy shuffle on ``src`` (edge-sized, 16 B rows),
    two node-sized adjacency joins; degree/wedge/node totals are 1-row
    broadcast crossJoins. The edge list is persisted result-scoped —
    three branches (degrees, orientation, edge totals) read it; the
    adjacency table is persisted result-scoped and read by both sides
    of the intersection join.
    """
    from ._cache import scoped

    li = load_table(spark, sf_dir, "lineitem")
    edges = _basket_pairs(li).select("pa", "pb").persist()
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .persist()
    )
    da = F.broadcast(deg.select(F.col("node").alias("pa"),
                                F.col("deg").alias("da")))
    db = F.broadcast(deg.select(F.col("node").alias("pb"),
                                F.col("deg").alias("db")))
    # orient src -> dst by (deg, id): src is the smaller endpoint
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    oriented = (
        edges.join(da, "pa")
        .join(db, "pb")
        .select(
            F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        )
    )
    # per-node out-neighborhoods: node-sized frame, O(m) array payload,
    # read by both sides of the intersection join (persist, scoped)
    adj = (
        oriented.groupBy("src")
        .agg(F.collect_list("dst").alias("nb"))
        .persist()
    )
    tri = (
        oriented.join(
            adj.select(F.col("src").alias("u_"), F.col("nb").alias("nb_u")),
            F.col("src") == F.col("u_"),
        )
        .join(
            adj.select(F.col("src").alias("v_"), F.col("nb").alias("nb_v")),
            F.col("dst") == F.col("v_"),
        )
        .select(F.size(F.array_intersect("nb_u", "nb_v")).alias("c"))
        # coalesce: SUM over an edgeless graph is NULL; the census must
        # report 0 like the old closure-join count did
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long")
             .alias("n_triangles"))
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_wedges = deg.agg(
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("long").alias("n_wedges")
    )
    result = (
        tri.crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_wedges))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "cast(n_triangles * 3 * 1000000 div nullif(n_wedges, 0)"
                " as long)"
            ).alias("global_clustering_ppm"),
        )
    )
    return scoped(result, edges, deg, adj)


_SQL_TRIANGLES = f"""
WITH {_SQL_BASKET_PAIRS}, e AS (
  SELECT pa, pb FROM und
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT pa AS node FROM e UNION ALL SELECT pb AS node FROM e
  ) GROUP BY 1
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
  JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg)
         AS n_wedges,
       n_triangles,
       CAST(n_triangles * 3 * 1000000
            // NULLIF((SELECT SUM(deg * (deg - 1) // 2) FROM deg), 0)
            AS BIGINT) AS global_clustering_ppm
FROM tri
"""

QUERIES["triangle_count"] = triangle_count
ORACLE["triangle_count"] = _SQL_TRIANGLES


# ---------------------------------------------------------------------------
# plain-SQL surface #15: TPC-H Q4 shape (order-priority checking)
# ---------------------------------------------------------------------------

_Q4_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 45 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def sql_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking), lateness adapted to the
    synthetic schema (no l_commitdate/l_receiptdate): an order counts
    when ANY line shipped >45 days after the order date. The plan shape
    is Q4's point and is unchanged: a correlated EXISTS against the fact
    table that must decorrelate to a LEFT SEMI join on orderkey — the
    lineitem side is touched once, never aggregated per order.

    Scale: the one-quarter date filter pushes to the orders scan, so the
    semi join's build side is a quarter's orders; lineitem streams
    through the semi join without materializing per-order state; the
    final agg is 5 rows. Same ANSI text runs on DuckDB (integral
    timestamps + day intervals are engine-portable).
    """
    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_Q4_SQL)


QUERIES["sql_order_priority"] = sql_order_priority
ORACLE["sql_order_priority"] = _Q4_SQL


# ---------------------------------------------------------------------------
# plain-SQL surface #16: TPC-H Q21 shape (suppliers who kept orders waiting)
# ---------------------------------------------------------------------------

_Q21_SQL = """
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM late t
JOIN supplier ON s_suppkey = t.l_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = t.l_orderkey
                AND l2.l_suppkey <> t.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = t.l_orderkey
                    AND l3.l_suppkey <> t.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def sql_late_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), lateness adapted as
    in ``sql_order_priority``: on finished multi-supplier orders, blame
    the supplier who was the ONLY late one. The signature plan shape is
    intact — one EXISTS plus one NOT EXISTS, both correlated on the same
    fact, that must decorrelate into a semi join AND an anti join on
    orderkey with a same-order-different-supplier residual; the classic
    stress test of correlated-subquery planning.

    Scale: supplier broadcasts; the `late` build is filtered by order
    status + lateness before any correlation; both decorrelated joins key
    on orderkey (high-cardinality, skew-free). Spark and DuckDB both
    inline the CTE into its two consumers — the double scan is the
    honest Q21 cost (the original references lineitem three times).
    """
    register_views(spark, sf_dir, "lineitem", "orders", "supplier")
    return spark.sql(_Q21_SQL)


QUERIES["sql_late_supplier_blame"] = sql_late_supplier_blame
ORACLE["sql_late_supplier_blame"] = _Q21_SQL


# ---------------------------------------------------------------------------
# plain-SQL surface #17: TPC-H Q22 shape (lapsed high-balance customers)
# ---------------------------------------------------------------------------

_Q22_SQL = """
WITH pos AS (
  SELECT CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer WHERE c_acctbal > 0
), thr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pos,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM pos
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_custs,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
CROSS JOIN thr
WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) * n_pos
        > sum_cents
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY n_name
ORDER BY n_name
"""


def sql_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), phone-cntrycode swapped for
    nation (no c_phone column): above-average-balance customers with no
    RECENT orders, rolled up by nation. The two signature shapes are
    intact: a scalar aggregate subquery gating the scan, and a NOT
    EXISTS that must decorrelate to an anti join on custkey.

    Float-determinism note: the "above average" comparison is multiplied
    through — ``cents · n_pos > sum_cents`` in exact BIGINT cents — so no
    engine ever divides (Spark's decimal AVG and DuckDB's double AVG
    round differently at the boundary; the multiplied form cannot).

    Scale: the 1-row threshold broadcasts via the cross join; the date
    filter prunes the orders side of the anti join BEFORE the shuffle;
    nation broadcasts; final agg is |nations| rows.
    """
    register_views(spark, sf_dir, "customer", "orders", "nation")
    return spark.sql(_Q22_SQL)


QUERIES["sql_idle_customer_balance"] = sql_idle_customer_balance
ORACLE["sql_idle_customer_balance"] = _Q22_SQL


# ---------------------------------------------------------------------------
# basket_lift — association rules (support / confidence / lift) at k=2
# ---------------------------------------------------------------------------

_LIFT_TOPK = 20
_LIFT_MIN_W = 2  # rules need >= 2 co-occurrences (1 is noise, and ties
                 # at w=1 make the top-k cut fixture-fragile)


def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining at k=2 (the Apriori confidence/lift tier
    over ``copurchase_affinity``'s frequent pairs): for each directed
    rule a→b with pair support ≥ ``_LIFT_MIN_W``, exact integer
    support (shared orders), confidence_ppm = ``w·10⁶ div orders(a)``
    and lift_milli = ``w·N·1000 div (orders(a)·orders(b))`` — lift > 1000
    means b is genuinely MORE likely given a (the recommendation
    signal); top-``_LIFT_TOPK`` rules by lift.

    Every ratio is a single integer division of exact counts — no
    engine-order float products (``w·N`` and ``ca·cb`` are BIGINT
    products bounded far under 2⁶³ at any plausible catalog size).

    Scale: ONE basket fan-out (the shared ``_basket_pairs`` shape) +
    one per-item count aggregate; the item-count table is catalog-sized
    and broadcasts into both rule directions, so nothing re-shuffles
    after the pair build; TakeOrdered cuts to k before the rank window.
    """
    li = load_table(spark, sf_dir, "lineitem")
    und = _basket_pairs(li).where(F.col("w") >= _LIFT_MIN_W)
    rules = und.select(
        F.col("pa").alias("a"), F.col("pb").alias("b"), "w"
    ).unionByName(
        und.select(F.col("pb").alias("a"), F.col("pa").alias("b"), "w")
    )
    po = (
        li.select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey").isNotNull())
        .distinct()
    )
    ic = po.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n_orders = li.where(F.col("l_orderkey").isNotNull()).agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    wnd = Window.orderBy(F.desc("lift_milli"), "a", "b")
    return (
        rules.join(
            F.broadcast(ic.select(F.col("l_partkey").alias("a"),
                                  F.col("c").alias("ca"))), "a"
        )
        .join(
            F.broadcast(ic.select(F.col("l_partkey").alias("b"),
                                  F.col("c").alias("cb"))), "b"
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "a",
            "b",
            F.col("w").alias("support"),
            F.expr("cast(w * 1000000 div ca as long)").alias(
                "confidence_ppm"
            ),
            F.expr(
                "cast((w * n_orders * 1000) div (ca * cb) as long)"
            ).alias("lift_milli"),
        )
        .orderBy(F.desc("lift_milli"), "a", "b")
        .limit(_LIFT_TOPK)
        .withColumn("rnk", F.row_number().over(wnd).cast("long"))
        .select("rnk", "a", "b", "support", "confidence_ppm", "lift_milli")
        .orderBy("rnk")
    )


_SQL_BASKET_LIFT = f"""
WITH {_SQL_BASKET_PAIRS}, rules AS (
  SELECT pa AS a, pb AS b, w FROM und WHERE w >= {_LIFT_MIN_W}
  UNION ALL
  SELECT pb AS a, pa AS b, w FROM und WHERE w >= {_LIFT_MIN_W}
), ic AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM po GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
  FROM lineitem WHERE l_orderkey IS NOT NULL
), scored AS (
  SELECT r.a, r.b, r.w AS support,
         CAST(r.w * 1000000 // ia.c AS BIGINT) AS confidence_ppm,
         CAST((r.w * tot.n_orders * 1000) // (ia.c * ib.c) AS BIGINT)
           AS lift_milli
  FROM rules r
  JOIN ic ia ON ia.l_partkey = r.a
  JOIN ic ib ON ib.l_partkey = r.b
  CROSS JOIN tot
), top AS (
  SELECT * FROM scored ORDER BY lift_milli DESC, a, b LIMIT {_LIFT_TOPK}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY lift_milli DESC, a, b) AS BIGINT)
         AS rnk,
       a, b, support, confidence_ppm, lift_milli
FROM top
ORDER BY rnk
"""

QUERIES["basket_lift"] = basket_lift
ORACLE["basket_lift"] = _SQL_BASKET_LIFT


# ---------------------------------------------------------------------------
# supplier_share_trend — year-over-year supplier revenue share + rank moves
# ---------------------------------------------------------------------------

_TREND_TOPK = 10


def supplier_share_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year market structure: each ship-year's
    top-``_TREND_TOPK`` suppliers by discounted revenue, with exact
    revenue cents, share of the year's total in ppm, and the supplier's
    rank MOVEMENT vs the previous year (NULL for first appearance) — the
    "who is gaining" trend report built from two stacked windows.

    Revenue is exact integer cents — FLOOR(decimal sum × 100), floored
    explicitly because Spark's decimal→bigint cast truncates where
    DuckDB's rounds — so ranks and shares cannot drift between engines;
    rank ties break on suppkey.

    Scale: ONE (year, suppkey) aggregate shuffles the fact table once
    (map-side combined to |years|·|suppliers| rows — everything after
    runs on that reduced table): year totals via a window over it, the
    in-year rank window partitions by year (|suppliers| rows per
    partition), the YoY lag partitions by supplier (|years| rows), and
    the top-k filter applies LAST so rank deltas see the full field.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ys = (
        li.where(F.col("l_shipdate").isNotNull())
        .groupBy(
            F.year("l_shipdate").cast("long").alias("yr"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.sum(
                (dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            ).alias("rev_dec")
        )
        .select(
            "yr",
            "suppkey",
            F.expr("cast(floor(rev_dec * 100) as bigint)").alias("rev_cents"),
        )
    )
    wy = Window.partitionBy("yr")
    wr = Window.partitionBy("yr").orderBy(F.desc("rev_cents"), "suppkey")
    wl = Window.partitionBy("suppkey").orderBy("yr")
    return (
        ys.withColumn(
            "year_cents", F.sum("rev_cents").over(wy).cast("long")
        )
        .withColumn("rnk", F.row_number().over(wr).cast("long"))
        .withColumn("prev_rnk", F.lag("rnk").over(wl).cast("long"))
        .where(F.col("rnk") <= _TREND_TOPK)
        .select(
            "yr",
            "rnk",
            "suppkey",
            "rev_cents",
            F.expr(
                "cast(rev_cents * 1000000 div nullif(year_cents, 0) as long)"
            ).alias("share_ppm"),
            "prev_rnk",
            F.expr("cast(prev_rnk - rnk as long)").alias("rank_gain"),
        )
        .orderBy("yr", "rnk")
    )


_SQL_SUPPLIER_TREND = f"""
WITH ys AS (
  SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
         l_suppkey AS suppkey,
         CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 100)
              AS BIGINT) AS rev_cents
  FROM lineitem WHERE l_shipdate IS NOT NULL
  GROUP BY 1, 2
), r AS (
  SELECT yr, suppkey, rev_cents,
         CAST(SUM(rev_cents) OVER (PARTITION BY yr) AS BIGINT) AS year_cents,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY yr ORDER BY rev_cents DESC, suppkey) AS BIGINT)
           AS rnk
  FROM ys
), d AS (
  SELECT *, CAST(lag(rnk) OVER (
              PARTITION BY suppkey ORDER BY yr) AS BIGINT) AS prev_rnk
  FROM r
)
SELECT yr, rnk, suppkey, rev_cents,
       CAST(rev_cents * 1000000 // NULLIF(year_cents, 0) AS BIGINT)
         AS share_ppm,
       prev_rnk,
       CAST(prev_rnk - rnk AS BIGINT) AS rank_gain
FROM d WHERE rnk <= {_TREND_TOPK}
ORDER BY yr, rnk
"""

QUERIES["supplier_share_trend"] = supplier_share_trend
ORACLE["supplier_share_trend"] = _SQL_SUPPLIER_TREND


# ---------------------------------------------------------------------------
# skyline_pareto — Pareto-optimal frontier (minimize price AND size)
# ---------------------------------------------------------------------------


def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skyline operator: parts not DOMINATED on (retail price, size)
    — x dominates y iff x is ≤ on both dimensions and < on at least one.
    The classic multi-criteria "best tradeoffs" query (cheapest for its
    size class), exact, with duplicates of an optimal point all kept.

    Algorithm — the distributive two-phase sweep: the 2-D skyline test
    reduces to window minima (a point survives iff no strictly-cheaper
    point has size ≤ its own — a RANGE-frame running min over price —
    and no same-price point is strictly smaller — a per-price min).
    Phase 1 applies that test WITHIN each input partition
    (``spark_partition_id`` keys the windows, so the sweep runs in
    parallel with no global sort); domination within a partition implies
    global domination, so pruning is lossless, and the true skyline is a
    subset of every partition's survivors. Phase 2 re-runs the identical
    test globally on the surviving fraction (skyline-of-skylines =
    skyline) — the single-partition window touches only survivors, never
    the catalog. The oracle states the quadratic NOT EXISTS definition;
    the green row proves the sweep equals it.

    Price is exact integer cents (FLOOR(decimal × 100), the
    supplier_share_trend pinning); NULL price/size rows are excluded on
    both engines (unknown coordinates cannot be ranked).
    """
    part = load_table(spark, sf_dir, "part")
    pts = part.where(
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
    ).select(
        "p_partkey",
        F.expr(
            f"cast(floor({dec.sql('p_retailprice')} * 100)"
            " as bigint)"
        ).alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )

    def survivors(df, *extra_keys):
        wc = (
            Window.partitionBy(*[F.col(k) for k in extra_keys])
            .orderBy("price_cents")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        wp = Window.partitionBy(*extra_keys, "price_cents")
        return (
            df.withColumn("m_cheaper", F.min("size").over(wc))
            .withColumn("m_same", F.min("size").over(wp))
            .where(
                (F.col("m_cheaper").isNull()
                 | (F.col("m_cheaper") > F.col("size")))
                & (F.col("m_same") == F.col("size"))
            )
            .drop("m_cheaper", "m_same")
        )

    local = survivors(
        pts.withColumn("pid", F.spark_partition_id()), "pid"
    ).drop("pid")
    return survivors(local).select(
        "p_partkey", "price_cents", "size"
    ).orderBy("price_cents", "size", "p_partkey")


_SQL_SKYLINE = """
WITH pts AS (
  SELECT p_partkey,
         CAST(FLOOR(CAST(p_retailprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS price_cents,
         CAST(p_size AS BIGINT) AS size
  FROM part
  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
)
SELECT p_partkey, price_cents, size
FROM pts y
WHERE NOT EXISTS (
  SELECT 1 FROM pts x
  WHERE x.price_cents <= y.price_cents AND x.size <= y.size
    AND (x.price_cents < y.price_cents OR x.size < y.size)
)
ORDER BY price_cents, size, p_partkey
"""

QUERIES["skyline_pareto"] = skyline_pareto
ORACLE["skyline_pareto"] = _SQL_SKYLINE


# ---------------------------------------------------------------------------
# graph_degree_profile — degree histogram + neighbor-degree assortativity
# ---------------------------------------------------------------------------


def graph_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree profile of the part co-purchase graph: for each degree
    value, the node count and the exact mean NEIGHBOR degree in milli
    (the k → knn(k) assortativity curve — rising = assortative hubs
    cluster with hubs, falling = disassortative hub-and-spoke). The
    fourth member of the basket-graph family (affinity = edges, pagerank
    = centrality, triangles = closure, this = topology shape).

    Exactness: all integers; mean neighbor degree is ``sum(nbr_deg) *
    1000 div (deg * n_nodes)`` — the denominator is exactly the number of
    (node, neighbor) incidences at that degree, so the division is a
    single floor at the end.

    Scale: one basket fan-out (shared with the siblings), a node-sized
    degree table that BROADCASTS back onto the directed incidence list
    (graph dimension vs fact-edge asymmetry — part-node cardinality is
    dimension-sized even at 100 TB), one shuffle on the degree key for
    the histogram. No self-joins.
    """
    from ._cache import scoped

    li = load_table(spark, sf_dir, "lineitem")
    # both orientations in ONE pass over the basket fan-out (a unionAll
    # of the un-persisted pair frame would run the fan-out twice)
    directed = (
        _basket_pairs(li)
        .select(
            F.explode(
                F.expr(
                    "array(struct(pa as node, pb as nbr),"
                    "      struct(pb as node, pa as nbr))"
                )
            ).alias("e")
        )
        .select("e.node", "e.nbr")
        .persist()
    )
    deg = (
        directed.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .persist()
    )
    nbr_deg = F.broadcast(
        deg.select(F.col("node").alias("nbr"), F.col("deg").alias("nbr_deg"))
    )
    result = (
        directed.join(F.broadcast(deg), "node")
        .join(nbr_deg, "nbr")
        .groupBy("deg")
        .agg(
            F.expr("count(1) div deg").cast("long").alias("n_nodes"),
            F.sum("nbr_deg").cast("long").alias("sum_nbr_deg"),
            F.expr("sum(nbr_deg) * 1000 div count(1)").cast("long").alias(
                "mean_nbr_deg_milli"
            ),
        )
        .orderBy("deg")
    )
    return scoped(result, directed, deg)


_SQL_DEGREE_PROFILE = f"""
WITH {_SQL_BASKET_PAIRS}, e AS (
  SELECT pa, pb FROM und
), d AS (
  SELECT pa AS node, pb AS nbr FROM e
  UNION ALL
  SELECT pb AS node, pa AS nbr FROM e
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM d GROUP BY 1
)
SELECT dn.deg,
       CAST(COUNT(*) // dn.deg AS BIGINT) AS n_nodes,
       CAST(SUM(dnb.deg) AS BIGINT) AS sum_nbr_deg,
       CAST(SUM(dnb.deg) * 1000 // COUNT(*) AS BIGINT)
         AS mean_nbr_deg_milli
FROM d
JOIN deg dn ON dn.node = d.node
JOIN deg dnb ON dnb.node = d.nbr
GROUP BY dn.deg
ORDER BY dn.deg
"""

QUERIES["graph_degree_profile"] = graph_degree_profile
ORACLE["graph_degree_profile"] = _SQL_DEGREE_PROFILE


# ---------------------------------------------------------------------------
# bfs_reach — 3-hop shortest-distance frontiers from the top hub
# ---------------------------------------------------------------------------


def bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reach from the co-purchase graph's top hub (highest
    degree, smallest part id on ties): exact shortest-distance frontier
    sizes at hops 0..3 — the "how much of the catalog is within k
    recommendation steps of the flagship product" reachability report.

    Algorithm: fixed-depth BFS as three hash joins on the directed
    incidence list, each frontier anti-joined against the union of all
    closer frontiers (shortest distance, not mere reachability). The
    3-hop bound makes the plan STATIC — no driver loop, no fixpoint;
    for unbounded reach the dedup_clusters checkpointed-fixpoint pattern
    applies instead (plans/llm.py).

    Scale: frontiers are node-sized and broadcast onto the edge list
    (dimension-vs-fact asymmetry as in graph_degree_profile); each hop is
    one broadcast join + one distinct over the new frontier. The root
    pick is a 1-row aggregate.
    """
    from ._cache import scoped

    li = load_table(spark, sf_dir, "lineitem")
    # one-pass double orientation (graph_degree_profile's shape): a
    # unionAll over the un-persisted pair frame would pay the basket
    # fan-out twice
    directed = (
        _basket_pairs(li)
        .select(
            F.explode(
                F.expr(
                    "array(struct(pa as node, pb as nbr),"
                    "      struct(pb as node, pa as nbr))"
                )
            ).alias("e")
        )
        .select("e.node", "e.nbr")
        .persist()
    )
    deg = directed.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    root = (
        deg.orderBy(F.col("deg").desc(), F.col("node"))
        .limit(1)
        .select("node")
        .persist()
    )
    f1 = (
        directed.join(F.broadcast(root), "node")
        .select(F.col("nbr").alias("node"))
        .distinct()
        .join(F.broadcast(root), "node", "left_anti")
        .persist()
    )
    seen1 = root.unionAll(f1)
    f2 = (
        directed.join(F.broadcast(f1), "node")
        .select(F.col("nbr").alias("node"))
        .distinct()
        .join(F.broadcast(seen1), "node", "left_anti")
        .persist()
    )
    seen2 = seen1.unionAll(f2)
    f3 = (
        directed.join(F.broadcast(f2), "node")
        .select(F.col("nbr").alias("node"))
        .distinct()
        .join(F.broadcast(seen2), "node", "left_anti")
    )
    counts = None
    for hop, fr in ((0, root), (1, f1), (2, f2), (3, f3)):
        c = fr.agg(
            F.lit(hop).cast("long").alias("hop"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        )
        counts = c if counts is None else counts.unionAll(c)
    return scoped(counts.orderBy("hop"), directed, root, f1, f2)


_SQL_BFS = f"""
WITH {_SQL_BASKET_PAIRS}, e AS (
  SELECT pa, pb FROM und
), d AS (
  SELECT pa AS node, pb AS nbr FROM e
  UNION ALL
  SELECT pb AS node, pa AS nbr FROM e
), root AS (
  SELECT node FROM (
    SELECT node, COUNT(*) AS deg FROM d GROUP BY 1
  ) ORDER BY deg DESC, node LIMIT 1
), f1 AS (
  SELECT DISTINCT d.nbr AS node FROM d JOIN root ON d.node = root.node
  WHERE d.nbr NOT IN (SELECT node FROM root)
), f2 AS (
  SELECT DISTINCT d.nbr AS node FROM d JOIN f1 ON d.node = f1.node
  WHERE d.nbr NOT IN (SELECT node FROM root UNION ALL SELECT node FROM f1)
), f3 AS (
  SELECT DISTINCT d.nbr AS node FROM d JOIN f2 ON d.node = f2.node
  WHERE d.nbr NOT IN (SELECT node FROM root UNION ALL SELECT node FROM f1
                      UNION ALL SELECT node FROM f2)
)
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS hop,
         CAST((SELECT COUNT(*) FROM root) AS BIGINT) AS n_nodes
  UNION ALL
  SELECT CAST(1 AS BIGINT), CAST((SELECT COUNT(*) FROM f1) AS BIGINT)
  UNION ALL
  SELECT CAST(2 AS BIGINT), CAST((SELECT COUNT(*) FROM f2) AS BIGINT)
  UNION ALL
  SELECT CAST(3 AS BIGINT), CAST((SELECT COUNT(*) FROM f3) AS BIGINT)
)
ORDER BY hop
"""

QUERIES["bfs_reach"] = bfs_reach
ORACLE["bfs_reach"] = _SQL_BFS


# ---------------------------------------------------------------------------
# basket_triples — 3-itemset mining (the k=3 tier of the basket family)
# ---------------------------------------------------------------------------

_TRIPLES_TOPK = 20
_TRIPLES_MIN_SUPPORT = 2


def basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets: the ``a < b < c`` triples
    co-purchased in at least ``_TRIPLES_MIN_SUPPORT`` orders, top
    ``_TRIPLES_TOPK`` by support — the k=3 tier of the association
    family (affinity/lift mine pairs; bundles of three are where
    "frequently bought together" displays come from).

    Algorithm: the per-order sorted DISTINCT part array fans out its
    C(w,3) triples JVM-side (order width w is bounded by line count per
    order — ≤ 35 triples at TPC-H widths — so the fan-out is linear in
    lineitem, never a 3-way table self-join); one map-side-combinable
    count per canonical triple; bounded TakeOrdered. The oracle states
    the readable 3-way equi-self-join — the green row proves the
    fan-out form equivalent. NULL basket keys and NULL parts drop on
    both engines (the _basket_pairs hygiene).

    Scale: one basket aggregate + one triple-key shuffle; at 100 TB the
    triple-key space is the cost driver and the min-support HAVING runs
    map-side-combined BEFORE the top-k. A degenerate mega-basket (w in
    the thousands) would cube — production guards cap basket width at
    ingest (the quality_filter tier), as the docstring contract.
    """
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .where(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .where(F.size("ps") >= 3)
    )
    triples = baskets.select(
        F.explode(
            F.expr(
                "flatten(flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps)), (y, j) ->"
                "  transform(slice(ps, i + j + 3, size(ps)), z ->"
                "   struct(x as a, y as b, z as c))))))"
            )
        ).alias("t")
    ).select("t.a", "t.b", "t.c")
    return (
        triples.groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= _TRIPLES_MIN_SUPPORT)
        .orderBy(F.col("support").desc(), "a", "b", "c")
        .limit(_TRIPLES_TOPK)
    )


# NOTE: po/pr are MATERIALIZED — inlined, DuckDB's planner turns the
# 3-way inequality self-join into a >200 s pathology at sf0.01; the
# staged pair CTE runs in ~2 s (plain CTEs are inlined — the repo's
# standing DuckDB gotcha).
_SQL_BASKET_TRIPLES = f"""
WITH po AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
), pr AS MATERIALIZED (
  SELECT x.l_orderkey, x.l_partkey AS a, y.l_partkey AS b
  FROM po x JOIN po y
    ON y.l_orderkey = x.l_orderkey AND y.l_partkey > x.l_partkey
)
SELECT a, b, z.l_partkey AS c,
       CAST(COUNT(*) AS BIGINT) AS support
FROM pr JOIN po z
  ON z.l_orderkey = pr.l_orderkey AND z.l_partkey > pr.b
GROUP BY 1, 2, 3
HAVING COUNT(*) >= {_TRIPLES_MIN_SUPPORT}
ORDER BY support DESC, a, b, c
LIMIT {_TRIPLES_TOPK}
"""

QUERIES["basket_triples"] = basket_triples
ORACLE["basket_triples"] = _SQL_BASKET_TRIPLES


# ---------------------------------------------------------------------------
# plain-SQL surface: TPC-H Q9 (product-type profit, schema-adapted)
# ---------------------------------------------------------------------------

_Q9_SQL = """
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2)))
           - CAST(p_retailprice AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2)) AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


def sql_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit by nation and year), adapted to the
    synthetic schema: the testdata has no partsupp table, so
    ``ps_supplycost`` becomes ``p_retailprice`` as the per-unit cost
    proxy — the query SHAPE (the 5-way star join, the name-substring
    part filter, the decimal-exact profit expression, the
    nation × year rollup) is Q9 verbatim. (Reference scope: the
    connector has no query engine — north-star surface.)

    Scale: part filters on the LIKE predicate before joining (Catalyst
    pushes the residual to the scan); part/supplier/nation broadcast
    against the lineitem stream; the only wide shuffle is
    lineitem ⋈ orders on orderkey carrying the already-filtered slice;
    the final rollup is nations × years — tiny.
    """
    register_views(
        spark, sf_dir, "part", "lineitem", "supplier", "orders", "nation"
    )
    return spark.sql(_Q9_SQL)


QUERIES["sql_product_profit"] = sql_product_profit
ORACLE["sql_product_profit"] = _Q9_SQL


# ---------------------------------------------------------------------------
# plain-SQL surface: TPC-H Q16 (parts/supplier relationship, adapted)
# ---------------------------------------------------------------------------

_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT ps.suppkey) AS BIGINT) AS supplier_cnt
FROM (
  SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey FROM lineitem
) ps
JOIN part ON p_partkey = ps.partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def sql_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (how many suppliers can furnish each surviving part
    class), adapted: the partsupp relation is derived as the DISTINCT
    (partkey, suppkey) pairs observed in lineitem, and the spec's
    supplier-complaint NOT-IN arm is dropped (the synthetic supplier
    table carries no comment column); brand/type exclusion and the
    8-size IN list are Q16 verbatim.

    Scale: the distinct pair derivation is ONE shuffle on the pair key
    (map-side combine collapses repeat orders); part is broadcast with
    the brand/type/size predicate pushed to its scan; COUNT(DISTINCT)
    over the joined pairs re-uses the pair exchange (the group key is a
    prefix extension). No row explosion anywhere — pairs only ever
    shrink.
    """
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q16_SQL)


QUERIES["sql_parts_supplier"] = sql_parts_supplier
ORACLE["sql_parts_supplier"] = _Q16_SQL


# ---------------------------------------------------------------------------
# plain-SQL surface: TPC-H Q20 (potential part promotion, adapted)
# ---------------------------------------------------------------------------

_Q20_SQL = """
WITH shipped AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
  GROUP BY 1, 2
),
part_year AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
  GROUP BY 1
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_9'
  AND s_suppkey IN (
    SELECT sh.suppkey
    FROM shipped sh
    JOIN part ON p_partkey = sh.partkey AND p_name LIKE '%blue%'
    JOIN part_year py ON py.partkey = sh.partkey
    WHERE sh.qty * 2 > py.total_qty
  )
ORDER BY s_suppkey
"""


def sql_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (suppliers positioned to promote a part class), adapted:
    without partsupp, "availqty exceeds half a year's demand" becomes
    "this supplier shipped MORE THAN HALF of the part's total 1995
    volume" — same dominant-supplier semantics, derived from lineitem.
    The half-share test multiplies through (qty·2 > total) so the whole
    pipeline stays in exact decimal arithmetic — no division, no floats
    until output. (Reference scope: north-star surface.)

    Scale: both CTEs aggregate the SAME filtered lineitem slice — one
    scan each, keyed shuffles with map-side combine; the dominant-pair
    semi-join ships only (partkey, suppkey, qty) triples; part and
    supplier⋈nation broadcast. The IN compiles to a semi-join on
    suppkey, so supplier rows never duplicate.
    """
    register_views(spark, sf_dir, "lineitem", "part", "supplier", "nation")
    return spark.sql(_Q20_SQL)


QUERIES["sql_potential_promotion"] = sql_potential_promotion
ORACLE["sql_potential_promotion"] = _Q20_SQL


# ---------------------------------------------------------------------------
# TPC-H Q2 / Q11 / Q12 adaptations — these three complete the 22-query
# battery (Q1=pricing_summary … Q22=sql_idle_customer_balance).
# ---------------------------------------------------------------------------

_Q2_SQL = """
WITH ps AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS supplycost
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       CAST(ps.supplycost AS DOUBLE) AS supplycost
FROM part
JOIN ps ON p_partkey = ps.partkey
JOIN supplier ON s_suppkey = ps.suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE p_size = 15 AND r_name = 'EUROPE'
  AND ps.supplycost = (
    SELECT MIN(ps2.supplycost)
    FROM ps ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.suppkey
    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.partkey = p_partkey AND r2.r_name = 'EUROPE'
  )
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def sql_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (the region's minimum-cost supplier for each surviving
    part), adapted: without a partsupp table, ``ps_supplycost`` is
    derived per observed (partkey, suppkey) pair as the MINIMUM line
    price that supplier ever quoted for that part — deterministic and
    decimal-exact; the spec's ``p_type LIKE '%BRASS'`` arm is dropped
    (the synthetic type domain is disjoint words) while the size
    equality, region restriction, and the correlated min-cost scalar
    subquery are Q2 verbatim, LIMIT 100 included (the ORDER BY carries
    a unique (…, p_partkey) tie-break so the cut is deterministic).
    (Reference scope: the connector has no query engine — north-star
    surface.)

    Scale: the pair derivation is one keyed shuffle with map-side
    combine (pairs only shrink); Catalyst decorrelates the scalar
    subquery into a per-part min aggregate joined back — both sides of
    that join are the SAME region-filtered pair slice, so no second
    lineitem scan shape is introduced; part (size-filtered at the scan)
    and supplier⋈nation⋈region broadcast. The LIMIT is a TakeOrdered —
    no global sort materializes.
    """
    register_views(
        spark, sf_dir, "lineitem", "part", "supplier", "nation", "region"
    )
    return spark.sql(_Q2_SQL)


QUERIES["sql_min_cost_supplier"] = sql_min_cost_supplier
ORACLE["sql_min_cost_supplier"] = _Q2_SQL


_Q11_SQL = """
WITH val AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS stock_value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
)
SELECT partkey, CAST(stock_value AS DOUBLE) AS stock_value
FROM val
WHERE stock_value * 1000 > (SELECT SUM(stock_value) FROM val)
ORDER BY stock_value DESC, partkey
"""


def sql_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (parts representing a significant share of one
    nation's stock value), adapted: ``ps_supplycost * ps_availqty``
    becomes the discounted revenue each part moved through the
    nation's suppliers, derived from lineitem. The significance test
    multiplies through (value·1000 > total) so the share threshold is
    evaluated in exact decimal — no division, floats only at output.
    The HAVING-vs-global-scalar shape is Q11 verbatim. (Reference
    scope: north-star surface.)

    Scale: ONE nation-filtered lineitem aggregation feeds both the
    per-part values and the grand total (Catalyst reuses the exchange
    across the two consumers of the CTE); supplier⋈nation broadcasts
    into the lineitem scan, so the only wide shuffle is the partkey
    rollup of the already-filtered slice. The scalar total is a 1-row
    broadcast into the filter.
    """
    register_views(spark, sf_dir, "lineitem", "supplier", "nation")
    return spark.sql(_Q11_SQL)


QUERIES["sql_important_stock"] = sql_important_stock
ORACLE["sql_important_stock"] = _Q11_SQL


_Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def sql_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (did late shipments hit high-priority orders?),
    adapted: the synthetic lineitem has no shipmode/commitdate/
    receiptdate columns, so the mode grouping becomes l_returnflag and
    "received after commit date" becomes "shipped more than 90 days
    after the order date" — the priority CASE-pivot pair and the
    one-year window are Q12 verbatim. (Reference scope: north-star
    surface.)

    Scale: the year window pushes to the lineitem scan; the join is
    the orderkey shuffle carrying only (orderkey, returnflag, shipdate)
    against (orderkey, orderdate, priority); the lateness predicate is
    a post-join codegen'd comparison (it references both sides, so no
    plan can push it further); the rollup output is 3 rows.
    """
    register_views(spark, sf_dir, "lineitem", "orders")
    return spark.sql(_Q12_SQL)


QUERIES["sql_shipmode_priority"] = sql_shipmode_priority
ORACLE["sql_shipmode_priority"] = _Q12_SQL
