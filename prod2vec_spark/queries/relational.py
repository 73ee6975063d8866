"""Relational and events queries: scans and projections, global,
pivot and cube aggregates, joins (multi-way, semi, as-of, range and
interval), window frames and ranks, a union, the events table's JSON
and sessions, and the mergeable sketches (HyperLogLog bound, approx
percentiles, count-min, Bloom, bottom-k) checked against their exact
counterparts."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from prod2vec_spark.operators import relational as R
from prod2vec_spark.operators import text as TX
from prod2vec_spark.queries.common import _TOKS, register
from prod2vec_spark.sources.io import read_table


# ----------------------------------------------------------------- S1/P1
def q_part_scan_project(spark, sf_dir):
    """S1+P1+P6: projection + range predicate; both reach the parquet
    reader (PushedFilters / ReadSchema — see tests/test_plans.py)."""
    part = read_table(spark, sf_dir, "part")
    return R.project(
        R.theta_filter(part, F.col("p_size") > 25),
        "p_partkey", "p_name", "p_retailprice",
    )


SQL_PART_SCAN = """
SELECT p_partkey, p_name, p_retailprice FROM part WHERE p_size > 25
"""

register(q_part_scan_project, SQL_PART_SCAN)


# ------------------------------------------------------------------- A1
def q_pricing_summary(spark, sf_dir):
    """A2/A4/A5-class global agg (TPC-H Q1 shape) on lineitem.
    Sums go through decimal so the value is partition-order exact."""
    li = read_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""

register(q_pricing_summary, SQL_PRICING_SUMMARY)


# ---------------------------------------------------------------- A3/D1
def q_distinct_parts(spark, sf_dir):
    """A3+A5 and A3's 100 TB twin in one row: exact distinct products
    vs total rows (data_prep.py:254-259) PLUS the HyperLogLog++
    approx_count_distinct error-bound assertion.  The sketch value
    itself is engine-specific, so the oracle-checkable output is the
    exact count plus the DOCUMENTED BOUND: rsd=0.05 ⇒
    |approx−exact|/exact < 0.15 (3σ) with overwhelming probability —
    both engines' own estimates must satisfy it."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
        (
            (
                F.abs(
                    F.approx_count_distinct("l_partkey", rsd=0.05)
                    - F.countDistinct("l_partkey")
                )
                / F.countDistinct("l_partkey")
            )
            < 0.15
        ).alias("approx_ok"),
    )


SQL_DISTINCT_PARTS = """
SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       count(*) AS n_rows,
       (abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
        / CAST(count(DISTINCT l_partkey) AS DOUBLE)) < 0.15 AS approx_ok
FROM lineitem
"""

register(q_distinct_parts, SQL_DISTINCT_PARTS)


# ------------------------------------------------------------------- W2
def q_window_rank(spark, sf_dir):
    """W2: top-3 per key via row_number window (model_train.py:37-48
    shape, generalized)."""
    part = read_table(spark, sf_dir, "part")
    out = R.top_k_per_key(
        part, ["p_brand"], [F.desc("p_retailprice"), F.asc("p_partkey")], 3, "rk"
    )
    return out.select("p_brand", "p_partkey", "p_retailprice", "rk")


SQL_WINDOW_RANK = """
SELECT p_brand, p_partkey, p_retailprice, CAST(rk AS INT) AS rk
FROM (SELECT p_brand, p_partkey, p_retailprice,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rk
      FROM part)
WHERE rk <= 3
"""

register(q_window_rank, SQL_WINDOW_RANK)


# ------------------------------------------------------------------- O1
def q_topk_orders(spark, sf_dir):
    """O1/O3: global top-k — TakeOrderedAndProject, not a full sort."""
    orders = read_table(spark, sf_dir, "orders")
    out = R.top_k(orders, [F.desc("o_totalprice"), F.asc("o_orderkey")], 20)
    return out.select("o_orderkey", "o_totalprice")


SQL_TOPK_ORDERS = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""

register(q_topk_orders, SQL_TOPK_ORDERS)


# --------------------------------------------------------- as-of join
def q_asof_latest_event(spark, sf_dir):
    """As-of join: each order annotated with the customer's most
    recent event value at-or-before the order date (point-in-time
    feature lookup).  The right side is pre-deduped to one row per
    (user, ts) so the at-tie pick is well-defined in both engines;
    the oracle uses DuckDB's native ASOF LEFT JOIN."""
    from prod2vec_spark.operators.asof import asof_join

    orders = read_table(spark, sf_dir, "orders")
    ev = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = asof_join(
        orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        ev.select(F.col("user_id").alias("o_custkey"), "ts", "value"),
        on="o_custkey",
        left_ts="o_orderdate",
        right_ts="ts",
        value_cols=["value"],
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        F.round("value", 4).alias("last_event_value"),
    )


SQL_ASOF_LATEST_EVENT = """
WITH e AS (
  SELECT user_id, ts, max(value) AS value
  FROM events GROUP BY 1, 2)
SELECT o.o_orderkey, o.o_custkey, round(e.value, 4) AS last_event_value
FROM orders o
ASOF LEFT JOIN e ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
"""

register(q_asof_latest_event, SQL_ASOF_LATEST_EVENT)


# -------------------------------------------------------- sessionize
def q_sessionize(spark, sf_dir):
    """Session counting via lag(): a new session starts after a >30 min
    gap.  The analytic-window + aggregate composition the reference
    never needed but the capability class includes."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    # ts arrives as TIMESTAMP or TIMESTAMP_NTZ depending on how the
    # parquet writer stamped isAdjustedToUTC; unix_millis only takes
    # TIMESTAMP, and with the session pinned to UTC (session.py) the
    # cast is exact for both inputs.
    ms = lambda c: F.unix_millis(c.cast("timestamp"))
    gap = ms(F.col("ts")) - ms(F.lag("ts").over(w))
    return (
        ev.withColumn("gap_ms", gap)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("gap_ms").isNull() | (F.col("gap_ms") > 1_800_000), 1).otherwise(0)
            ).alias("n_sessions"),
        )
    )


SQL_SESSIONIZE = """
WITH x AS (
  SELECT user_id,
         epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms
  FROM events)
SELECT user_id, count(*) AS n_events,
       CAST(sum(CASE WHEN gap_ms IS NULL OR gap_ms > 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM x GROUP BY user_id
"""

register(q_sessionize, SQL_SESSIONIZE)


# ------------------------------------------------------- revenue topk
def q_revenue_topk(spark, sf_dir):
    """TPC-H Q3-shaped 3-way join: customer ⋈ orders ⋈ lineitem,
    revenue per order, top 10.  Customer dim broadcasts; the
    orders⋈lineitem join shuffles on orderkey."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("o_orderkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


SQL_REVENUE_TOPK = """
SELECT o_orderkey,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey LIMIT 10
"""

register(q_revenue_topk, SQL_REVENUE_TOPK)


# ------------------------------------------------------------- set ops
def q_union_nation_counts(spark, sf_dir):
    """Set-op surface: stack customer and supplier by nation
    (unionByName) and count per side."""
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    u = cust.select(
        F.lit("customer").alias("side"), F.col("c_nationkey").alias("nationkey")
    ).unionByName(
        supp.select(F.lit("supplier").alias("side"), F.col("s_nationkey").alias("nationkey"))
    )
    return u.groupBy("side", "nationkey").agg(F.count(F.lit(1)).alias("n"))


SQL_UNION_NATIONS = """
SELECT side, nationkey, count(*) AS n FROM (
  SELECT 'customer' AS side, c_nationkey AS nationkey FROM customer
  UNION ALL
  SELECT 'supplier' AS side, s_nationkey AS nationkey FROM supplier)
GROUP BY side, nationkey
"""

register(q_union_nation_counts, SQL_UNION_NATIONS)


# ------------------------------------------------- F9 ranked string agg
def q_string_agg_names(spark, sf_dir):
    """F9: rank-ordered name aggregation with a separator — the
    engine's form of the reference's neighbor-name report
    (model_train.py:48, ``Series.str.cat(sep='; ')`` over the top-20
    names): top-3 part names per brand, '; '-joined in rank order.
    collect_list is order-nondeterministic across partitions, so the
    (rank, name) structs are sorted in-array before joining."""
    from prod2vec_spark.operators.relational import top_k_per_key

    part = read_table(spark, sf_dir, "part")
    top = top_k_per_key(
        part, ["p_brand"], [F.desc("p_retailprice"), F.asc("p_partkey")], 3, "rk"
    )
    names = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("rk"), F.col("p_name").alias("nm")))
            ),
            lambda s: s["nm"],
        ),
        "; ",
    )
    return top.groupBy("p_brand").agg(names.alias("top_names"))


SQL_STRING_AGG_NAMES = """
SELECT p_brand, string_agg(p_name, '; ' ORDER BY rk) AS top_names
FROM (SELECT p_brand, p_name,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rk
      FROM part)
WHERE rk <= 3
GROUP BY p_brand
"""

register(q_string_agg_names, SQL_STRING_AGG_NAMES)


# ------------------------------------------------------- range join
PRICE_BANDS = [
    ("micro", 0.0, 50_000.0),
    ("small", 50_000.0, 150_000.0),
    ("mid", 150_000.0, 300_000.0),
    ("large", 300_000.0, 1_000_000_000.0),
]


def q_range_join_bands(spark, sf_dir):
    """Range join (point-in-interval) as a binned equi-join: orders
    priced into irregular bands, then per-band stats.  Spark's native
    plan for BETWEEN predicates is a nested-loop join — the binned
    form is the shape that survives a large interval table
    (operators/ranges.py)."""
    from prod2vec_spark.operators.ranges import bin_range_join

    orders = read_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(PRICE_BANDS, "band string, lo double, hi double")
    joined = bin_range_join(
        orders.select("o_orderkey", "o_totalprice"),
        bands,
        point_col="o_totalprice",
        lo_col="lo",
        hi_col="hi",
        bin_width=50_000.0,
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


SQL_RANGE_JOIN_BANDS = """
WITH bands(band, lo, hi) AS (VALUES
  ('micro', 0.0, 50000.0),
  ('small', 50000.0, 150000.0),
  ('mid', 150000.0, 300000.0),
  ('large', 300000.0, 1000000000.0))
SELECT band, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders o JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
GROUP BY band
"""

register(q_range_join_bands, SQL_RANGE_JOIN_BANDS)


def _dec(c, p=18, s=2):
    return F.col(c).cast(f"decimal({p},{s})")


# ------------------------------------------------------------ JSON (F-ext)
def q_events_json(spark, sf_dir):
    """JSON extraction on the events.props column: get_json_object
    stays JVM-side (Jackson path eval, codegen-friendly) — never a
    Python UDF.  Reference has no JSON plane; SURVEY §2.8 names this
    pass-through."""
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_EVENTS_JSON = """
SELECT event_type,
       count(*) AS n_events,
       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
"""

register(q_events_json, SQL_EVENTS_JSON)


# ------------------------------------------------------------- semi join (J)
def q_semi_parts(spark, sf_dir):
    """Left-semi join: parts that ship in any high-quantity line item.
    The filtered fact side collapses to distinct keys and broadcasts —
    at 100 TB the part scan never shuffles (plan-locked in
    tests/test_plans.py)."""
    part = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 48)
    return part.join(
        F.broadcast(li.select(F.col("l_partkey").alias("p_partkey")).distinct()),
        "p_partkey",
        "left_semi",
    ).select("p_partkey", "p_name", "p_retailprice")


SQL_SEMI_PARTS = """
SELECT p_partkey, p_name, p_retailprice FROM part p
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 48)
"""

register(q_semi_parts, SQL_SEMI_PARTS)


# ----------------------------------------------------------------- pivot (A)
PIVOT_STATUSES = ["F", "O", "P"]


def q_pivot_status(spark, sf_dir):
    """Pivot with an explicit value list (no extra distinct-scan job to
    discover pivot values — at scale that pre-pass is a full shuffle).
    Single partial+final hash agg; sums staged as decimal."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", PIVOT_STATUSES)
        .agg(F.sum(_dec("o_totalprice")).cast("double"))
    )


SQL_PIVOT_STATUS = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "O",
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "P"
FROM orders GROUP BY o_orderpriority
"""

register(q_pivot_status, SQL_PIVOT_STATUS)


# ------------------------------------------------------------------ cube (A)
def q_cube_pricing(spark, sf_dir):
    """CUBE over (returnflag, linestatus) with grouping_id — the
    grouping-sets plane SURVEY §2.4 notes Spark provides natively.
    Cube is one Expand (4x rows map-side) + one hash agg shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


SQL_CUBE_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag, l_linestatus) AS INT) AS gid,
       count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""

register(q_cube_pricing, SQL_CUBE_PRICING)


# ------------------------------------------------------ window frames (W-ext)
def q_running_revenue(spark, sf_dir):
    """Running per-customer revenue — explicit ROWS frame (SURVEY §2.5
    notes frames are available natively; this makes them a checked
    catalog capability).  One shuffle on o_custkey; the frame sum is a
    single sort-based window pass, no self-join."""
    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


SQL_RUNNING_REVENUE = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_total
FROM orders
"""

register(q_running_revenue, SQL_RUNNING_REVENUE)


# ------------------------------------------- approx-percentile twin
def q_order_percentiles_approx(spark, sf_dir):
    """The 100 TB swap of exact per-key percentiles (the exact form
    becomes approx_percentile, t-digest) as a CHECKED claim, mirroring
    the A3 exact/HLL twin: each engine computes its own approx
    estimate and asserts it lands between the exact quantiles at
    p±0.05 — sketch values differ across engines, the bound must hold
    in both."""
    orders = read_table(spark, sf_dir, "orders")
    ex = lambda p: F.percentile("o_totalprice", F.lit(p))  # noqa: E731
    ap = lambda p: F.approx_percentile(  # noqa: E731
        "o_totalprice", F.lit(p), F.lit(10_000)
    )
    ok = lambda p: (  # noqa: E731
        ap(p).between(ex(p - 0.05), ex(p + 0.05))
    )
    return orders.groupBy("o_orderpriority").agg(
        F.round(ex(0.50), 4).alias("p50_exact"),
        ok(0.25).alias("p25_ok"),
        ok(0.50).alias("p50_ok"),
        ok(0.75).alias("p75_ok"),
    )


SQL_ORDER_PERCENTILES_APPROX = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.50), 4) AS p50_exact,
       approx_quantile(o_totalprice, 0.25)
         BETWEEN quantile_cont(o_totalprice, 0.20) AND quantile_cont(o_totalprice, 0.30) AS p25_ok,
       approx_quantile(o_totalprice, 0.50)
         BETWEEN quantile_cont(o_totalprice, 0.45) AND quantile_cont(o_totalprice, 0.55) AS p50_ok,
       approx_quantile(o_totalprice, 0.75)
         BETWEEN quantile_cont(o_totalprice, 0.70) AND quantile_cont(o_totalprice, 0.80) AS p75_ok
FROM orders GROUP BY o_orderpriority
"""

register(q_order_percentiles_approx, SQL_ORDER_PERCENTILES_APPROX)


# -------------------------------------------- interval-overlap join
OVR_DAYS = 14.0


def q_order_window_overlaps(spark, sf_dir):
    """Interval-overlap join on real data: urgent-order fulfillment
    windows [orderdate, +14d) vs low-priority ones — per urgent order,
    how many low-priority windows it overlaps (top 20).  Exercises
    operators/ranges.overlap_range_join: both interval sides bin to
    14-day buckets, bin-ownership dedups, the naive theta join is the
    oracle."""
    from prod2vec_spark.operators.ranges import overlap_range_join

    orders = read_table(spark, sf_dir, "orders")
    days = F.unix_timestamp("o_orderdate") / 86400.0

    def windows(prio, key, pricemin):
        return (
            orders.where(
                (F.col("o_orderpriority") == prio)
                & (F.col("o_totalprice") > pricemin)
            )
            .select(
                F.col("o_orderkey").alias(key),
                days.alias(f"{key}_lo"),
                (days + OVR_DAYS).alias(f"{key}_hi"),
            )
        )

    a = windows("1-URGENT", "a_key", 400_000.0)
    b = windows("5-LOW", "b_key", 400_000.0)
    joined = overlap_range_join(
        a, b, "a_key_lo", "a_key_hi", "b_key_lo", "b_key_hi", bin_width=OVR_DAYS
    )
    return (
        joined.groupBy("a_key")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
        .orderBy(F.desc("n_overlaps"), F.asc("a_key"))
        .limit(20)
        .select(F.col("a_key").alias("urgent_orderkey"), "n_overlaps")
    )


SQL_ORDER_WINDOW_OVERLAPS = f"""
WITH a AS (
  SELECT o_orderkey AS k, epoch(o_orderdate) / 86400.0 AS lo,
         epoch(o_orderdate) / 86400.0 + {OVR_DAYS} AS hi
  FROM orders WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000),
b AS (
  SELECT o_orderkey AS k, epoch(o_orderdate) / 86400.0 AS lo,
         epoch(o_orderdate) / 86400.0 + {OVR_DAYS} AS hi
  FROM orders WHERE o_orderpriority = '5-LOW' AND o_totalprice > 400000)
SELECT a.k AS urgent_orderkey, count(*) AS n_overlaps
FROM a JOIN b ON a.lo < b.hi AND b.lo < a.hi
GROUP BY a.k ORDER BY n_overlaps DESC, a.k LIMIT 20
"""

register(q_order_window_overlaps, SQL_ORDER_WINDOW_OVERLAPS)


# ---------------------------------------- skew-safe distinct count
def q_skew_safe_distinct(spark, sf_dir):
    """skew_safe_count_distinct on the basket fact: distinct parts per
    returnflag via value-hash salting — must equal plain
    COUNT(DISTINCT) exactly (the salting is an internal partitioning
    detail)."""
    from prod2vec_spark.operators.relational import skew_safe_count_distinct

    li = read_table(spark, sf_dir, "lineitem")
    return skew_safe_count_distinct(li, ["l_returnflag"], "l_partkey", n_salts=16)


SQL_SKEW_SAFE_DISTINCT = """
SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct
FROM lineitem GROUP BY l_returnflag
"""

register(q_skew_safe_distinct, SQL_SKEW_SAFE_DISTINCT)


HH_TOP = 20
HH_BOUND_MULT = 4.0  # bound: est ≤ cnt + 4N/width (ε·N at ε = 4/width)


def q_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters over document tokens: exact
    top-20 term counts (the oracle-checkable truth) + the CMS estimate
    from the md5-derived sketch TABLE + a checked error-bound
    indicator (est ≥ cnt always; est ≤ cnt + 4N/width).  Because the
    sketch hashing is engine-portable, the ESTIMATES hash-match the
    DuckDB replay — the sketch itself is under oracle, not just its
    bound (unlike HLL/t-digest, which are engine-specific and only
    bound-checked).

    Scale shape: two scans of the exploded terms (exact top-k funnel +
    sketch build whose agg output is bounded by depth×width); N comes
    from summing one sketch row-set, not a third scan; probes
    broadcast."""
    from prod2vec_spark.operators import text as TX
    from prod2vec_spark.operators.sketches import (
        CMS_WIDTH,
        cms_estimate,
        cms_sketch,
    )

    docs = read_table(spark, sf_dir, "documents")
    terms = docs.select(F.explode(TX.tokens(F.col("text"))).alias("term"))
    top = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(HH_TOP)
    )
    sketch = cms_sketch(terms)
    est = cms_estimate(sketch, top.select("term"))
    # N = total items = the sum of any single depth's counters
    total = sketch.where(F.col("depth") == 0).agg(
        F.sum("cnt").alias("n_total")
    )
    return (
        top.join(est, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            "cnt",
            "cms_est",
            (
                (F.col("cms_est") >= F.col("cnt"))
                & (
                    F.col("cms_est")
                    <= F.col("cnt") + HH_BOUND_MULT * F.col("n_total") / CMS_WIDTH
                )
            )
            .cast("long")
            .alias("cms_ok"),
        )
    )


def _sql_heavy_hitters() -> str:
    from prod2vec_spark.operators.sketches import CMS_DEPTH, CMS_WIDTH

    ds = ",".join(f"({d})" for d in range(CMS_DEPTH))
    return f"""
WITH t AS (
  SELECT unnest({_TOKS}) AS term FROM documents),
top AS (
  SELECT term, count(*) AS cnt FROM t
  GROUP BY term ORDER BY cnt DESC, term LIMIT {HH_TOP}),
cells AS (
  SELECT d, ('0x' || substr(md5(d || '|' || term), 1, 8))::BIGINT
             % {CMS_WIDTH} AS bucket
  FROM t CROSS JOIN (VALUES {ds}) v(d)),
sk AS (SELECT d, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM sk WHERE d = 0),
probe AS (
  SELECT term, d,
         ('0x' || substr(md5(d || '|' || term), 1, 8))::BIGINT
           % {CMS_WIDTH} AS bucket
  FROM top CROSS JOIN (VALUES {ds}) v(d)),
est AS (
  SELECT p.term, min(sk.cnt) AS cms_est
  FROM probe p JOIN sk ON p.d = sk.d AND p.bucket = sk.bucket
  GROUP BY p.term)
SELECT top.term, top.cnt, est.cms_est,
       CAST(est.cms_est >= top.cnt
            AND est.cms_est <= top.cnt + {HH_BOUND_MULT} * n.n_total / {CMS_WIDTH}
            AS BIGINT) AS cms_ok
FROM top JOIN est ON top.term = est.term CROSS JOIN n
"""


register(q_heavy_hitters, _sql_heavy_hitters())


def q_bloom_blocklist(spark, sf_dir):
    """Bloom-filter blocklist membership (the contamination-screen
    shape when the blocklist is too big to broadcast exactly): build
    the bit table over blocked part names, probe EVERY part name, and
    emit the audit row — members found (no-false-negative contract),
    measured false positives among non-members, and the theoretical
    FP-rate bound as a checked indicator.  md5 bit positions make the
    verdicts oracle-replayable bit-for-bit, so the MEASURED fp count
    hash-matches, not just the bound."""
    from prod2vec_spark.operators.sketches import (
        BLOOM_K,
        BLOOM_M,
        bloom_bits,
        bloom_maybe_contains,
    )

    part = read_table(spark, sf_dir, "part")
    # blocklist identity = part KEY (p_name has only ~64 distinct
    # values in the fixture — keys give a unique, ~10%-selective set)
    members = part.where(F.col("p_size") > 45).select(
        F.col("p_partkey").cast("string").alias("term")
    ).distinct()
    probes = part.select(
        F.col("p_partkey").cast("string").alias("term")
    ).distinct()
    verdicts = bloom_maybe_contains(bloom_bits(members), probes)
    joined = verdicts.join(
        members.withColumn("is_member", F.lit(1)), "term", "left"
    ).select("term", "maybe", F.coalesce("is_member", F.lit(0)).alias("is_member"))
    # expected FP probability p = (1 - e^{-k·n/m})^k; assert measured
    # count within 2x expectation (+5 absolute slack for small counts)
    return joined.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum("is_member").alias("n_members"),
        F.sum("maybe").alias("n_maybe"),
        F.sum(((F.col("maybe") == 1) & (F.col("is_member") == 0)).cast("long")).alias(
            "n_false_pos"
        ),
        (
            F.sum(((F.col("is_member") == 1) & (F.col("maybe") == 0)).cast("long"))
            == 0
        )
        .cast("long")
        .alias("no_false_neg"),
    ).select(
        "n_probes",
        "n_members",
        "n_maybe",
        "n_false_pos",
        "no_false_neg",
        (
            F.col("n_false_pos")
            <= 2.0
            * F.pow(
                1.0 - F.exp(-(float(BLOOM_K) * F.col("n_members")) / BLOOM_M),
                float(BLOOM_K),
            )
            * (F.col("n_probes") - F.col("n_members"))
            + 5.0
        )
        .cast("long")
        .alias("fp_bound_ok"),
    )


def _sql_bloom_blocklist() -> str:
    from prod2vec_spark.operators.sketches import BLOOM_K, BLOOM_M

    js = ",".join(f"({j})" for j in range(BLOOM_K))
    return f"""
WITH members AS (
  SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS term
  FROM part WHERE p_size > 45),
bits AS (
  SELECT DISTINCT ('0x' || substr(md5(j || '|' || term), 1, 8))::BIGINT
                    % {BLOOM_M} AS bit
  FROM members CROSS JOIN (VALUES {js}) v(j)),
probes AS (SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS term FROM part),
cells AS (
  SELECT term, ('0x' || substr(md5(j || '|' || term), 1, 8))::BIGINT
                 % {BLOOM_M} AS bit
  FROM probes CROSS JOIN (VALUES {js}) v(j)),
verdict AS (
  SELECT c.term,
         min(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS maybe
  FROM cells c LEFT JOIN bits b ON c.bit = b.bit
  GROUP BY c.term),
joined AS (
  SELECT v.term, v.maybe,
         CASE WHEN m.term IS NULL THEN 0 ELSE 1 END AS is_member
  FROM verdict v LEFT JOIN members m ON v.term = m.term),
agg AS (
  SELECT count(*) AS n_probes,
         CAST(sum(is_member) AS BIGINT) AS n_members,
         CAST(sum(maybe) AS BIGINT) AS n_maybe,
         CAST(sum(CASE WHEN maybe = 1 AND is_member = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_false_pos,
         CAST(sum(CASE WHEN is_member = 1 AND maybe = 0 THEN 1 ELSE 0 END) = 0
              AS BIGINT) AS no_false_neg
  FROM joined)
SELECT n_probes, n_members, n_maybe, n_false_pos, no_false_neg,
       CAST(n_false_pos
            <= 2.0 * pow(1.0 - exp(-({BLOOM_K}.0 * n_members) / {BLOOM_M}),
                         {BLOOM_K}.0)
                   * (n_probes - n_members)
               + 5.0
            AS BIGINT) AS fp_bound_ok
FROM agg
"""


register(q_bloom_blocklist, _sql_bloom_blocklist())


# ----------------------------------------------------- quantile sketch
_BK_K = 256
_BK_PS = [0.25, 0.5, 0.75, 0.9]
# DKW: sup|F_k − F| ≤ sqrt(ln(2/δ)/(2k)) w.p. ≥ 1−δ; δ=0.01, k=256
# → 0.1018, plus 1/k interpolation slack.
_BK_BOUND = 0.1018 + 1.0 / _BK_K


def q_quantile_sketch(spark, sf_dir):
    """Bottom-k sketch quantile audit (E-A14): a 256-row md5-order
    uniform sample of orders (TakeOrdered — k rows move, never a full
    sort), linear-interpolation quantile estimates from the sample,
    and the CHECKED DKW bound: the exact CDF of each estimate must sit
    within sqrt(ln(2/δ)/(2k)) + 1/k of its target p.  Deterministic
    end-to-end, so the oracle hash-matches the estimates themselves,
    not just the bound verdicts (operators/sketches.py
    bottomk_sketch/bottomk_quantiles)."""
    from prod2vec_spark.operators.sketches import (
        bottomk_quantiles,
        bottomk_sketch,
    )

    orders = read_table(spark, sf_dir, "orders")
    sk = bottomk_sketch(orders, "o_totalprice", ["o_orderkey"], k=_BK_K)
    est = bottomk_quantiles(sk, _BK_PS)
    # one corpus pass computes the exact CDF at all 4 estimates: the
    # 4-row estimate table broadcasts into the scan
    cdf = (
        orders.crossJoin(F.broadcast(est))
        .groupBy("p", "est_q")
        .agg(
            F.round(
                F.sum((F.col("o_totalprice") <= F.col("est_q")).cast("long"))
                / F.count(F.lit(1)),
                4,
            ).alias("cdf_at_est")
        )
    )
    return cdf.select(
        "p",
        "est_q",
        "cdf_at_est",
        F.round(F.abs(F.col("cdf_at_est") - F.col("p")), 4).alias("abs_err"),
        (F.abs(F.col("cdf_at_est") - F.col("p")) <= F.lit(_BK_BOUND))
        .cast("long")
        .alias("within_dkw_bound"),
    )


def _sql_quantile_sketch() -> str:
    return f"""
WITH sk AS (SELECT o_totalprice AS v FROM orders
            ORDER BY md5('bk|' || o_orderkey), o_totalprice LIMIT {_BK_K}),
est AS (SELECT 0.25 AS p, round(quantile_cont(v, 0.25), 2) AS est_q FROM sk
        UNION ALL
        SELECT 0.5, round(quantile_cont(v, 0.5), 2) FROM sk
        UNION ALL
        SELECT 0.75, round(quantile_cont(v, 0.75), 2) FROM sk
        UNION ALL
        SELECT 0.9, round(quantile_cont(v, 0.9), 2) FROM sk),
cdf AS (SELECT p, est_q,
          round(CAST(sum(CASE WHEN o_totalprice <= est_q THEN 1 ELSE 0 END)
                     AS DOUBLE) / count(*), 4) AS cdf_at_est
        FROM orders CROSS JOIN est
        GROUP BY p, est_q)
SELECT p, est_q, cdf_at_est,
       round(abs(cdf_at_est - p), 4) AS abs_err,
       CAST(abs(cdf_at_est - p) <= {_BK_BOUND} AS BIGINT) AS within_dkw_bound
FROM cdf
"""


register(q_quantile_sketch, _sql_quantile_sketch())
