"""Relational surface, part 3: the remaining classic TPC-H shapes the
fixture schema can express — EXISTS semi-joins, single-scalar filtered
aggregates, left-join distributions, HAVING top-k, group-share ratios.
Predicates are adapted where the fixture lacks a TPC-H column (no
l_commitdate/l_receiptdate/partsupp): the late-shipment EXISTS uses
l_shipdate vs o_orderdate + 90 days instead of commit/receipt."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vspace_spark.io.tables import load_table
from vspace_spark.operators.relational import dec, money
from vspace_spark.queries import query


@query(
    "q6_forecast_revenue",
    oracle="""
SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_discount AS DECIMAL(8,4))), 2)::DOUBLE AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single filtered scalar aggregate — every predicate
    pushes to the parquet scan (range + between + less-than), no join,
    no shuffle beyond the final partial-agg merge. Exact decimal
    product/sum per float discipline."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        money(
            F.sum(dec("l_extendedprice", 2) * dec("l_discount", 4))
        ).alias("revenue")
    )


@query(
    "q4_priority_late_orders",
    oracle="""
SELECT o_orderpriority, count(*)::BIGINT AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY
)
GROUP BY o_orderpriority
""",
)
def q4_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → LEFT SEMI join with a
    non-equi residual (shipped > 90 days after order). The semi join
    keeps each order once regardless of how many lineitems are late —
    the distinguishing semantics vs an inner join + distinct."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


@query(
    "q10_returned_revenue",
    oracle="""
SELECT c_custkey, c_name, n_name,
       round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(8,4))), 2)::DOUBLE
           AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue, top 20 customers. Fact scan
    carries both pushed filters; customer and nation broadcast; the
    only big shuffle is the per-customer aggregation. Deterministic
    top-k tie-break on c_custkey."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = dec("l_extendedprice", 2) * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(money(F.sum(rev)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q13_customer_distribution",
    oracle="""
WITH co AS (
  SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, count(*)::BIGINT AS custdist
FROM co GROUP BY c_count
""",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: order-count distribution including zero-order
    customers (LEFT join + count of the nullable key — count(col)
    skips nulls, so no-order customers land in bucket 0). Two
    aggregations; the second is #distinct-counts-sized."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    co = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q18_large_quantity_orders",
    oracle="""
WITH big AS (
  SELECT l_orderkey, sum(l_quantity)::BIGINT AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
)
SELECT c_custkey, o_orderkey, total_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 100
""",
)
def q18_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: HAVING on a pre-aggregate, then join back. The
    filtered big-order list is tiny → broadcast into orders, so the
    orders/customer side never shuffles. l_quantity values are whole
    numbers ≤ 50 with short sums — double addition is exact here, and
    the BIGINT cast happens after the exact sum on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 250)
        .select(
            "l_orderkey", F.col("_qty").cast("long").alias("total_qty")
        )
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(big), orders.o_orderkey == big.l_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        joined.select("c_custkey", "o_orderkey", "total_qty")
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
WITH pa AS (
  SELECT l_partkey, avg(l_quantity) AS aq FROM lineitem GROUP BY l_partkey
)
SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE / 7.0,
             2) AS avg_yearly
FROM lineitem JOIN pa USING (l_partkey)
WHERE l_quantity < 0.2 * aq
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-group average threshold —
    computed as a self-aggregate join (one pass builds per-part
    averages, the fact scan filters against them). The per-part
    average table is |parts|-sized → broadcast; quantities are
    integer-valued doubles so avg = exact-sum / exact-count is
    deterministic cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("aq"))
    joined = li.join(F.broadcast(pa), "l_partkey").filter(
        F.col("l_quantity") < 0.2 * F.col("aq")
    )
    return joined.agg(
        F.round(
            F.sum(dec("l_extendedprice", 2)).cast("double") / 7.0, 2
        ).alias("avg_yearly")
    )


@query(
    "q15_top_supplier",
    oracle="""
WITH sr AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l_discount AS DECIMAL(8,4))) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(rev, 2)::DOUBLE AS total_revenue
FROM sr JOIN supplier ON s_suppkey = l_suppkey
WHERE rev = (SELECT max(rev) FROM sr)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top supplier(s) by quarterly revenue — the
    view-plus-scalar-subquery shape. The revenue table aggregates
    once and is reused for both the max (one-row broadcast) and the
    equality filter; EXACT decimal revenue makes the `rev = max(rev)`
    tie semantics deterministic (double revenue could drop a true
    co-maximum on either engine)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = dec("l_extendedprice", 2) * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    sr = li.groupBy("l_suppkey").agg(F.sum(rev).alias("rev"))
    mx = sr.agg(F.max("rev").alias("_mx"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        sr.crossJoin(F.broadcast(mx))
        .filter(F.col("rev") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            money(F.col("rev")).alias("total_revenue"),
        )
    )


@query(
    "q8_market_share",
    oracle="""
WITH rev AS (
  SELECT n_c.n_name AS market,
         year(o_orderdate)::INT AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l_discount AS DECIMAL(8,4)) AS volume,
         n_s.n_name = 'NATION_3' AS from_n3
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n_c ON c_nationkey = n_c.n_nationkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n_s ON s_nationkey = n_s.n_nationkey
)
SELECT market, o_year,
       round(sum(CASE WHEN from_n3 THEN volume ELSE 0 END) / sum(volume),
             6) AS n3_share
FROM rev GROUP BY market, o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a nation's share of each market's yearly revenue
    (supplier nation NATION_3 within every customer-nation market).
    Customer, supplier, and nation broadcast twice under distinct
    aliases; the fact table shuffles once, for the (market, year)
    aggregation. Share = one double division of exact decimal sums,
    then round(6)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("market")
    )
    n_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"),
        F.col("n_name").alias("supp_nation"),
    )
    vol = dec("l_extendedprice", 2) * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_c), cust.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_s), supp.s_nationkey == F.col("s_nkey"))
        .select(
            "market",
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            (F.col("supp_nation") == "NATION_3").alias("from_n3"),
        )
    )
    return joined.groupBy("market", "o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("from_n3"), F.col("volume")).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("n3_share")
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 90 DAY AS late,
         o_orderstatus
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT s_name, count(*)::BIGINT AS numwait
FROM lo l1 JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.o_orderstatus = 'F' AND l1.late
  AND EXISTS (SELECT 1 FROM lo l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lo l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.late)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    finished multi-supplier order — the EXISTS + NOT-EXISTS pair over
    the same fact table. Lateness is adapted to the fixture (no
    l_commitdate/l_receiptdate): late := shipped > 90 days after the
    order date, which joins orders once into a shared ``lo`` relation
    reused by the outer scan and both correlated subqueries.

    Plan shape: EXISTS → LEFT SEMI on (orderkey, suppkey<>), NOT
    EXISTS → LEFT ANTI on (orderkey, suppkey<>, late) — both equi on
    l_orderkey with a non-equi residual, so they hash-shuffle on the
    order key (no cartesian anywhere). The supplier dim broadcasts;
    numwait counts qualifying LINEITEMS per the TPC-H semantics (an
    order with two late co-suppliers is disqualified by the anti
    side, not double-counted).

    At 100 TB the three orderkey shuffles dominate; with lineitem and
    orders BUCKETED by orderkey the same plan runs exchange-free
    (``_q21_plan`` takes the inputs directly;
    PERF.md "Round 5: q21 bucketed layout" measures the layout's
    effect at the 100× replica scale)."""
    return _q21_plan(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
    )


_Q21_PERSIST_BYTES = 512 << 20


def _q21_plan(li: DataFrame, orders: DataFrame, supp: DataFrame) -> DataFrame:
    """The q21 logical plan over caller-supplied inputs — identical
    for parquet scans and bucketed tables (the layout changes the
    physical exchanges, never the semantics).

    The shared ``lo`` relation feeds three consumers (outer scan +
    both correlated sides). Above ``_Q21_PERSIST_BYTES`` of
    decompressed fact input it is persisted and materialized: one
    orders join + one lineitem scan instead of three, and AQE plans
    the self-joins from the cache's honest size — measured 59.5→9.8 s
    at the 100× replica (1.46 GB decompressed). Below the threshold
    the cache write + eager count cost MORE than the repeated scans
    they save (sf0.1: 2.4→3.6 s, 10×/153 MB: 8.3→11.4 s), so small
    inputs keep the recompute plan. At 100 TB the fact side is always
    far above the floor.

    Storage level is DISK_ONLY, chosen by a storage×JVM-state A/B
    (PERF.md "Round 8: q21 persist↔GC pinned"): fresh-JVM all
    cache levels tie (~12–21 s at 100×), but after a GC-aging
    preamble (pagerank at 100×) heap-resident levels stay inflated
    EVERY execution (MEMORY_AND_DISK, serialized bytes but still
    on-heap: 40–79 s aged vs 12–21 fresh) while DISK_ONLY returns to
    the fresh steady state (13–15 s aged) — cache files ride the OS
    page cache and keep multi-GB allocations off the aged old-gen.
    That in-suite/standalone gap was the r7 driver artifact's 109.8 s
    outlier. Eager localCheckpoint (69–134 s: checkpoint-file write
    dominates) and recompute (89–168 s) measured and rejected. On a
    real cluster with executor-managed storage memory either level
    works; the long-lived single-JVM driver is where heap residency
    couples the query to old-gen state."""
    from vspace_spark.operators.scale import (
        _uncompressed_input_bytes,
        persist_shared,
    )

    lo = li.join(
        orders.select("o_orderkey", "o_orderdate", "o_orderstatus"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 90 DAYS"))
        .alias("late"),
        "o_orderstatus",
    )
    est = _uncompressed_input_bytes(li)
    if est is not None and est >= _Q21_PERSIST_BYTES:
        # persist_shared picks DISK_ONLY here (est >= its floor —
        # same 512 MB constant)
        lo = persist_shared(lo, est, eager=True)
    l1 = lo.filter((F.col("o_orderstatus") == "F") & F.col("late"))
    others = lo.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    late_others = lo.filter("late").select(
        F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3")
    )
    sole_late = l1.join(
        others,
        (l1.l_orderkey == F.col("_ok2"))
        & (l1.l_suppkey != F.col("_sk2")),
        "left_semi",
    ).join(
        late_others,
        (l1.l_orderkey == F.col("_ok3"))
        & (l1.l_suppkey != F.col("_sk3")),
        "left_anti",
    )
    return (
        sole_late.join(
            F.broadcast(supp), l1.l_suppkey == supp.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "q22_lapsed_customer_balance",
    oracle="""
WITH thr AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
         count(*)::BIGINT AS n
  FROM customer WHERE c_acctbal > 0.0
)
SELECT n_name, count(*)::BIGINT AS numcust,
       round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2)::DOUBLE
           AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey CROSS JOIN thr
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY n_name
""",
)
def q22_lapsed_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: positive-balance-above-average customers who
    have LAPSED, grouped by nation (the fixture's every customer has
    at least one order, so the classic "never ordered" anti-join is
    vacuous — adapted to "no order since 1999-01-01", which keeps the
    correlated NOT EXISTS non-degenerate at every fixture scale).

    Float discipline: the above-average threshold avoids division
    entirely — ``c_acctbal * n > s`` over exact decimals (a decimal
    quotient's scale differs between engines; the cross-multiplied
    form is exact on both). The one-row (sum, count) aggregate
    broadcasts; the anti-join's order side is pre-filtered by the
    pushed date predicate before its shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    thr = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(dec("c_acctbal", 2)).alias("_s"),
        F.count("*").alias("_n"),
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("_ck"))
    lapsed = (
        cust.crossJoin(F.broadcast(thr))
        .filter(dec("c_acctbal", 2) * F.col("_n") > F.col("_s"))
        .join(recent, F.col("c_custkey") == F.col("_ck"), "left_anti")
    )
    return (
        lapsed.join(
            F.broadcast(nation),
            F.col("c_nationkey") == nation.n_nationkey,
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            money(F.sum(dec("c_acctbal", 2))).alias("totacctbal"),
        )
    )


@query(
    "q9_product_profit",
    oracle="""
SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
       round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(1 - l_discount AS DECIMAL(8,4))
                 - CAST(p_retailprice AS DECIMAL(18,2))
                   * CAST(0.5 AS DECIMAL(8,4))
                   * CAST(l_quantity AS DECIMAL(18,2))), 2)::DOUBLE
           AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and
    order year. Adapted to the fixture (no partsupp): supply cost is
    half the part's retail price instead of ps_supplycost, keeping
    the distinguishing structure — a five-way join where the part
    filter (name LIKE) prunes the fact scan through a broadcast
    dimension, and profit mixes revenue and cost terms inside ONE
    exact-decimal aggregate (ref workload: per-key aggregates over a
    joined fact table, /root/reference/vspace/pipelines/base.py).

    Plan shape: part/supplier/nation broadcast; orders joins shuffle
    on the order key ONLY because both sides are fact-sized; the
    single wide shuffle is the (nation, year) aggregation of the
    pre-combined profit term (map-side partial agg applies — the
    expression folds to one decimal per row before the exchange)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    profit = dec("l_extendedprice", 2) * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)") - dec("p_retailprice", 2) * F.lit(0.5).cast(
        "decimal(8,4)"
    ) * dec("l_quantity", 2)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(money(F.sum(profit)).alias("profit"))
    )


@query(
    "q12_late_priority_counts",
    oracle="""
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
""",
)
def q12_late_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: how many critical- vs normal-priority orders
    ride each shipping class, restricted to late shipments. Adapted to
    the fixture (no l_shipmode/l_commitdate/l_receiptdate): the
    grouping class is l_returnflag and "late" is shipped > 60 days
    after the order date. The distinguishing structure is intact —
    a fact-fact equi-join with a non-equi residual predicate, then
    conditional CASE-sums splitting one count by a dimension of the
    OTHER join side.

    The shipdate range pushes to the parquet scan; the residual
    late predicate evaluates join-side. Both CASE branches aggregate
    in one pass (no second scan), with map-side partial agg on the
    3-value grouping key."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    joined = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 60 DAYS")),
    )
    return joined.groupBy("l_returnflag").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
WITH excluded AS (
  SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7'
),
sp AS (
  SELECT DISTINCT p_brand, p_type, l_suppkey
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_size IN (1, 9, 17, 25, 33, 41, 49)
    AND p_brand <> 'Brand#13'
    AND l_suppkey NOT IN (SELECT s_suppkey FROM excluded)
)
SELECT p_brand, p_type, count(*)::BIGINT AS supplier_cnt
FROM sp GROUP BY p_brand, p_type
""",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can serve each
    (brand, type) part class, excluding a complained-about supplier
    set. Adapted to the fixture (no partsupp): the part–supplier
    relation derives from lineitem history, and the exclusion list is
    a name pattern (suffix '7' ≈ 10% of suppliers) instead of the
    comment-field complaint scan. The distinguishing shape is intact:
    a NOT IN anti-join against a subquery, DISTINCT over a three-
    column relation, then a count-distinct-by-proxy aggregation.

    Plan: part (size-filtered, pushed IN predicate) and the exclusion
    list broadcast; distinct is one hash-shuffle of the pruned
    (brand, type, suppkey) triple — the count then aggregates the
    ALREADY-distinct relation, avoiding count_distinct's second
    expand-shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 9, 17, 25, 33, 41, 49)
        & (F.col("p_brand") != "Brand#13")
    )
    excluded = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_name").like("%7")
    ).select("s_suppkey")
    sp = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(excluded),
            li.l_suppkey == excluded.s_suppkey,
            "left_anti",
        )
        .select("p_brand", "p_type", "l_suppkey")
        .distinct()
    )
    return sp.groupBy("p_brand", "p_type").agg(
        F.count("*").alias("supplier_cnt")
    )


@query(
    "q20_dominant_suppliers",
    oracle="""
WITH pq AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
),
pt AS (SELECT l_partkey, sum(sq) AS tq FROM pq GROUP BY 1),
dominant AS (
  SELECT DISTINCT l_suppkey
  FROM pq JOIN pt USING (l_partkey)
  WHERE pq.sq * 10 > pt.tq * 3
)
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
""",
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding a dominant position
    (> 30% of 1997 shipped quantity) in at least one part. Adapted to
    the fixture (no partsupp): dominance is measured against lineitem
    history instead of available stock. The distinguishing structure —
    a NESTED aggregate (per (part, supplier) then per part) feeding a
    threshold comparison inside an IN/semi-join — survives the
    adaptation.

    Float discipline: quantities sum as exact DECIMAL and the 30%
    threshold is the cross-multiplied integer form (sq·10 > tq·3) —
    no division, no rounding. Plan: the rollup pt reuses pq's shuffle
    partitioning (one partial-agg tree); the dominant set is tiny and
    broadcast into the supplier semi-join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pq = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(dec("l_quantity", 2)).alias("sq")
    )
    pt = pq.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    dominant = (
        pq.join(pt, "l_partkey")
        .filter(F.col("sq") * 10 > F.col("tq") * 3)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(
            F.broadcast(dominant),
            supp.s_suppkey == dominant.l_suppkey,
            "left_semi",
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_name", "n_name")
    )


@query(
    "q11_important_stock",
    oracle="""
WITH v AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2)))
              AS DECIMAL(28,4)) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
),
t AS (SELECT CAST(sum(val) AS DECIMAL(28,4)) AS tot,
             count(*)::BIGINT AS n FROM v)
SELECT l_partkey AS partkey, round(val, 2)::DOUBLE AS value
FROM v CROSS JOIN t
WHERE val * n > tot * 2
""",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): per-part
    traded value from one nation's suppliers, kept only where the
    part's share exceeds a global threshold — the classic
    HAVING-vs-scalar-subquery pattern. Adapted to the fixture (no
    partsupp): value = Σ extendedprice·quantity over lineitem, and
    the threshold is 2× the average per-part value (cross-multiplied
    ``val·n > tot·2``), which unlike Q11's fixed 1/10000 fraction
    stays non-vacuous at every fixture scale.

    Float discipline: exact DECIMAL sums; the share test is
    cross-multiplied (no division — a decimal quotient's scale
    differs between engines, q22's proven form). Scale shape: the
    nation's supplier set broadcasts into the lineitem scan, the
    per-part agg is one shuffle, and the (sum, count) scalar
    broadcasts back over the part-sized aggregate — nothing but the
    filtered fact scan is data-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    nat_sup = sup.join(
        F.broadcast(nation), sup.s_nationkey == nation.n_nationkey
    ).select("s_suppkey")
    v = (
        li.join(F.broadcast(nat_sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(dec("l_extendedprice", 2) * dec("l_quantity", 2))
            .cast("decimal(28,4)")
            .alias("val")
        )
    )
    t = v.agg(
        F.sum("val").cast("decimal(28,4)").alias("_tot"),
        F.count("*").alias("_n"),
    )
    return (
        v.crossJoin(F.broadcast(t))
        .filter(F.col("val") * F.col("_n") > F.col("_tot") * F.lit(2))
        .select(
            F.col("l_partkey").alias("partkey"),
            money(F.col("val")).alias("value"),
        )
    )
