"""Relational operator surface: named DataFrame queries + ANSI-SQL oracles.

One entry per operator category of SURVEY.md §2.2, exercised over the
driver's deterministic testdata (TESTDATA.md). Each Spark query is written
declaratively (DataFrame API / SQL) so Catalyst does pushdown, pruning,
broadcast selection and AQE — see ``tests/test_plans.py`` for the plan
assertions (PushedFilters, broadcast, partial agg).

Conventions for oracle agreement (the driver hashes values after sorting
columns by name):
- every computed column is aliased identically on both sides;
- double aggregates are ``round(x, 4)`` on both sides;
- DuckDB ``sum(INTEGER)`` returns HUGEINT → always cast to BIGINT;
- timestamps are never emitted raw: formatted to 'yyyy-MM-dd' strings;
- every ORDER BY carries a unique tiebreaker so LIMIT cuts are stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.window import Window as W

from .functions import md5_long


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "documents":
        # Ingestion canonicalization (data contract, SPEC.md §0): NULL
        # text (a failed upstream extract) behaves exactly like the
        # empty string, and NULL lang/source like the empty label.
        # Normalizing ONCE at the scan keeps all ~40 text ops
        # NULL-robust without per-op guards (NULL fuzz sweeps found 14
        # text + 2 lang/source ops whose engine/oracle NULL behavior
        # diverged before this); the DuckDB oracle harnesses replay the
        # identical canonicalization in their `documents` view
        # (SELECT * REPLACE coalesce(...) ...).
        # Schema-gated: test fixtures may carry a projected documents
        # table (doc_id+text only) — canonicalize what's present.
        for c in ("text", "lang", "source"):
            if c in df.columns:
                df = df.withColumn(c, F.coalesce(c, F.lit("")))
    elif name == "embeddings":
        # A NULL vector is unusable in any distance computation — the
        # contract DROPS it at ingestion (both engines crashed on it
        # before: DuckDB list_inner_product, numpy iteration). Element-
        # level nulls are out of contract (vectors are whole or absent).
        df = df.where(F.col("embedding").isNotNull())
    return df


# --------------------------------------------------------------------------
# Aggregation: TPC-H Q1 shape — filter + groupBy + 8 aggregates + sort.
# Catalyst gives partial (map-side) aggregation; the shipdate filter is
# pushed into the parquet scan.
# --------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 with EXACT money arithmetic, rounded in integer space.

    Money/discount/tax columns are scaled to integer ten-thousandths
    (they carry ≤4 decimal digits by construction) and summed as
    decimal(38,0) — exact and ORDER-INDEPENDENT, so the result is
    invariant under partitioning/AQE re-planning and bit-identical to
    the DuckDB oracle (whose BIGINT sums promote to HUGEINT). Summing
    raw doubles is order-dependent: at a rounding boundary the 4-digit
    round flips between runs and engines (caught by
    tools/fuzz_correctness.py on avg_disc at 0.05625).

    The 4-dp ROUNDING also happens in integer space: ``round(double,
    4)`` itself is engine-ambiguous at representable half-way points
    (Spark rounds the shortest decimal string HALF_UP; DuckDB scales
    the double and std::round()s it — r5 fuzz caught avg_price
    39183.73875 flipping .7388 vs .7387). Half-up of the exact
    rational s/d is computed as ``(2s + d) div (2d)`` on decimals —
    integral, exact, identical in both engines — and only the final
    ≤4-dp result is cast to double (exactly representable ÷1e4)."""
    li = t(spark, sf_dir, "lineitem")
    price_i = F.round(F.col("l_extendedprice") * 10000).cast("long")
    disc_i = F.round(F.col("l_discount") * 10000).cast("long")
    tax_i = F.round(F.col("l_tax") * 10000).cast("long")
    big = "decimal(38,0)"
    n = F.count("*")
    qty_i = F.round(F.col("l_quantity")).cast("long")  # integral per spec
    # qty/disc sums stay LONG (decimal(38,0) aggregation is the
    # measured 2x cost of this query — BENCH/BASELINE.md, "Q1
    # decimal-vs-double A/B"): qty ≤ 50 and
    # disc_i ≤ 10^4 per row keep the long exact past 10^14 rows, with
    # ANSI overflow as the backstop; the price family can exceed int64
    # at 10^12 rows, so those three stay decimal. The post-agg rounding
    # needs decimals, so the 6-row result casts up — free.
    sum_qty = F.sum(qty_i).cast(big)
    sum_price = F.sum(price_i.cast(big))
    sum_disc = F.sum(disc_i).cast(big)
    # per-row integer products fit int64 (price ≤ 1e5 → price_i ≤ 1e9;
    # ×2e4 ≤ 2e13; ×2e4 ≤ 4e17); the cross-row sum goes decimal(38,0)
    sum_disc_price = F.sum((price_i * (10000 - disc_i)).cast(big))
    sum_charge = F.sum(
        (price_i * (10000 - disc_i) * (10000 + tax_i)).cast(big)
    )

    def r4dp(s, d):
        """Exact half-up of s/d (positive decimals) in 1e-4 units, then
        the exactly-representable double s4/1e4. floor((2s+d)/(2d)) is
        computed as (x - pmod(x, y)) / y — the division is then EXACT
        (integer quotient, no scale-6 decimal rounding in play)."""
        two = F.lit(2).cast("decimal(38,0)")
        x, y = two * s + d, two * d
        return (
            ((x - F.pmod(x, y)) / y).cast("decimal(38,0)")
            .cast("double") / 1e4
        )

    one = F.lit(1).cast("decimal(38,0)")
    nd = n.cast("decimal(38,0)")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty.cast("double").alias("sum_qty"),
            (sum_price.cast("double") / 1e4).alias("sum_base_price"),
            r4dp(sum_disc_price, F.lit(10000).cast("decimal(38,0)")).alias(
                "sum_disc_price"
            ),
            r4dp(sum_charge, F.lit(10**8).cast("decimal(38,0)")).alias(
                "sum_charge"
            ),
            r4dp(sum_qty * 10000, nd).alias("avg_qty"),
            r4dp(sum_price, nd).alias("avg_price"),
            r4dp(sum_disc, nd).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
-- exact-integer money arithmetic mirroring the engine: BIGINT sums
-- promote to HUGEINT (exact, order-independent), and the 4-dp rounding
-- is exact integer half-up ((2s + d) // (2d)) so no engine ever
-- rounds an ambiguous double
WITH s AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity, 0) AS BIGINT)               AS qty_i,
         CAST(round(l_extendedprice * 10000, 0) AS BIGINT) AS price_i,
         CAST(round(l_discount * 10000, 0) AS BIGINT)      AS disc_i,
         CAST(round(l_tax * 10000, 0) AS BIGINT)           AS tax_i
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
)
SELECT l_returnflag, l_linestatus,
       CAST(sum(qty_i) AS DOUBLE)                           AS sum_qty,
       CAST(sum(price_i) AS DOUBLE) / 1e4                   AS sum_base_price,
       CAST((2 * sum(price_i * (10000 - disc_i)) + 10000)
            // CAST(2 * 10000 AS HUGEINT) AS DOUBLE) / 1e4  AS sum_disc_price,
       CAST((2 * sum(price_i * (10000 - disc_i) * (10000 + tax_i)) + 100000000)
            // CAST(200000000 AS HUGEINT) AS DOUBLE) / 1e4  AS sum_charge,
       CAST((2 * sum(qty_i) * 10000 + count(*))
            // (2 * count(*)) AS DOUBLE) / 1e4              AS avg_qty,
       CAST((2 * sum(price_i) + count(*))
            // (2 * count(*)) AS DOUBLE) / 1e4              AS avg_price,
       CAST((2 * sum(disc_i) + count(*))
            // (2 * count(*)) AS DOUBLE) / 1e4              AS avg_disc,
       count(*)                                             AS count_order
FROM s
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# Multi-join + agg + top-k: TPC-H Q3 shape. customer is the small side;
# Catalyst broadcast-joins it under the default threshold.
# --------------------------------------------------------------------------


def q3_shipping_priority(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1999-01-01")
    li = t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1999-01-01")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.date_format(F.first("o_orderdate"), "yyyy-MM-dd").alias("o_date"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       strftime(min(o_orderdate), '%Y-%m-%d')            AS o_date
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-01-01'
  AND l_shipdate  > TIMESTAMP '1999-01-01'
GROUP BY l_orderkey, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# 6-way star join: TPC-H Q5 shape. region/nation/supplier broadcast;
# orders⋈lineitem is the one shuffle join.
# --------------------------------------------------------------------------


def q5_region_revenue(spark, sf_dir):
    region = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .where(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --------------------------------------------------------------------------
# Explicit broadcast-hash join of a small dimension (R8's relational form:
# the reference's dict lookup == broadcast hash join).
# --------------------------------------------------------------------------


def q_broadcast_part_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(
            F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "p_brand", "p_type")
        .limit(20)
    )


Q_BROADCAST_SQL = """
SELECT p_brand, p_type,
       round(sum(l_extendedprice), 4) AS revenue,
       count(*)                       AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand, p_type
ORDER BY revenue DESC, p_brand, p_type
LIMIT 20
"""


# --------------------------------------------------------------------------
# Semi / anti joins (R17's resume-skip is exactly a left-anti join).
# --------------------------------------------------------------------------


def q_semi_customers_with_urgent(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
        .orderBy("c_mktsegment")
    )


Q_SEMI_SQL = """
SELECT c_mktsegment, count(*) AS n_customers, round(avg(c_acctbal), 4) AS avg_bal
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_anti_customers_without_orders(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


Q_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


# --------------------------------------------------------------------------
# Window functions: top-k per group, running totals, lag deltas
# (the relational forms of R3's ±2-page window and R11's token context).
# --------------------------------------------------------------------------


def q_window_topk_orders(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .where(F.col("o_custkey") < 200)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("price"),
            F.col("rn").cast("int").alias("rn"),
        )
        .orderBy("o_custkey", "rn", "o_orderkey")
    )


Q_WINDOW_TOPK_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS price, CAST(rn AS INT) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3 AND o_custkey < 200
ORDER BY o_custkey, rn, o_orderkey
"""


def q_window_running_revenue(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 4).alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


Q_WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
         AS running_total
FROM orders WHERE o_custkey < 50
ORDER BY o_custkey, o_orderkey
"""


def q_window_event_gaps(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "gap_us",
        F.unix_micros(F.col("ts").cast("timestamp")) - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w),
    )
    return (
        gaps.where(F.col("gap_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.round(F.avg("gap_us") / F.lit(1000000.0), 4).alias("avg_gap_s"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


Q_WINDOW_GAPS_SQL = """
SELECT event_type, round(avg(gap_us) / 1000000.0, 4) AS avg_gap_s, count(*) AS n
FROM (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
) WHERE gap_us IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Rollup / cube (grouping sets).
# --------------------------------------------------------------------------


def q_rollup_lineitem(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "qty",
        )
        .orderBy("returnflag", "linestatus")
    )


Q_ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n, round(sum(l_quantity), 4) AS qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""


def q_cube_orders(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
        .orderBy("status", "priority")
    )


Q_CUBE_SQL = """
SELECT coalesce(o_orderstatus, 'ALL')  AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n, round(sum(o_totalprice), 4) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


# --------------------------------------------------------------------------
# Set operations.
# --------------------------------------------------------------------------


def q_set_ops_segments(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    big_spenders = (
        orders.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("s"))
        .where(F.col("s") > 50000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    machinery = cust.where(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    spender_non_building = big_spenders.intersect(
        cust.select("c_custkey")
    ).exceptAll(building)
    return (
        spender_non_building.union(machinery)
        .distinct()
        .orderBy("c_custkey")
        .select("c_custkey")
    )


Q_SET_OPS_SQL = """
SELECT DISTINCT c_custkey FROM (
  (SELECT c_custkey FROM (
     SELECT o_custkey AS c_custkey FROM orders GROUP BY o_custkey
     HAVING sum(o_totalprice) > 50000
   ) INTERSECT SELECT c_custkey FROM customer)
  EXCEPT ALL
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION ALL
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
) ORDER BY c_custkey
"""


# --------------------------------------------------------------------------
# Sort / limit (TakeOrdered), distinct aggregates.
# --------------------------------------------------------------------------


def q_topk_parts(spark, sf_dir):
    part = t(spark, sf_dir, "part")
    return (
        part.orderBy(F.desc("p_retailprice"), "p_partkey")
        .limit(15)
        .select("p_partkey", "p_name", F.round("p_retailprice", 4).alias("price"))
    )


Q_TOPK_SQL = """
SELECT p_partkey, p_name, round(p_retailprice, 4) AS price
FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 15
"""


def q_distinct_agg(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


Q_DISTINCT_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS n_suppliers,
       count(DISTINCT l_partkey) AS n_parts,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# String / date / JSON / array function surfaces.
# --------------------------------------------------------------------------


def q_string_funcs(spark, sf_dir):
    part = t(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.upper("p_name").alias("uname"),
            F.substring("p_name", 1, 4).alias("prefix"),
            F.regexp_extract("p_name", "(red|blue|hot|small|large)", 1).alias("color"),
            F.levenshtein("p_brand", F.lit("Brand#10")).alias("lev"),
            F.length("p_name").alias("len"),
        )
        .where(F.col("p_partkey") < 100)
        .orderBy("p_partkey")
    )


Q_STRING_SQL = """
SELECT p_partkey, upper(p_name) AS uname, substring(p_name, 1, 4) AS prefix,
       regexp_extract(p_name, '(red|blue|hot|small|large)', 1) AS color,
       levenshtein(p_brand, 'Brand#10') AS lev,
       length(p_name) AS len
FROM part WHERE p_partkey < 100 ORDER BY p_partkey
"""


def q_date_funcs(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
        .where(F.col("yr") < 1997)
        .orderBy("yr", "mo")
    )


Q_DATE_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
       count(*) AS n, round(sum(o_totalprice), 4) AS total
FROM orders GROUP BY 1, 2 HAVING yr < 1997 ORDER BY yr, mo
"""


def q_json_extract(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


Q_JSON_SQL = """
SELECT event_type,
       round(avg(k), 4) AS avg_k,
       CAST(max(k) AS INT) AS max_k,
       count(*) AS n
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
GROUP BY event_type ORDER BY event_type
"""


def q_array_funcs(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast(T.ArrayType(T.DoubleType()))
    return (
        emb.select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.round(F.element_at(vec, 1), 4).alias("first"),
            F.round(
                F.aggregate(
                    F.slice(vec, 1, 8), F.lit(0.0), lambda acc, x: acc + x
                ),
                4,
            ).alias("head_sum"),
        )
        .where(F.col("vec_id") < 100)
        .orderBy("vec_id")
    )


Q_ARRAY_SQL = """
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       round((embedding::DOUBLE[])[1], 4) AS first,
       round(list_sum((embedding::DOUBLE[])[1:8]), 4) AS head_sum
FROM embeddings WHERE vec_id < 100 ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# Range join (Catalyst handles BETWEEN join predicates; DuckDB likewise).
# --------------------------------------------------------------------------


def _qty_bins(spark):
    rows = [(i, float(i * 10), float((i + 1) * 10)) for i in range(5)]
    return spark.createDataFrame(rows, "bin_id int, lo double, hi double")


def q_range_join_bins(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    bins = _qty_bins(spark)
    return (
        li.join(
            F.broadcast(bins),
            (li.l_quantity >= bins.lo) & (li.l_quantity < bins.hi),
        )
        .groupBy("bin_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 4).alias("value"),
        )
        .orderBy("bin_id")
    )


Q_RANGE_SQL = """
SELECT bin_id, count(*) AS n, round(sum(l_extendedprice), 4) AS value
FROM lineitem
JOIN (SELECT i AS bin_id, i*10.0 AS lo, (i+1)*10.0 AS hi
      FROM range(5) r(i)) bins
  ON l_quantity >= lo AND l_quantity < hi
GROUP BY bin_id ORDER BY bin_id
"""


# --------------------------------------------------------------------------
# As-of join — Spark lacks a native one (SURVEY.md §2.2): composed from a
# tagged union + running last_value window, which is shuffle-optimal (one
# exchange on user_id vs. two for the naive join+re-aggregate form).
# Oracle: DuckDB's native ASOF JOIN.
# --------------------------------------------------------------------------


def q_asof_join(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"),
        F.col("value").alias("p_value"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("value").alias("c_value")
    )
    # tag and union: clicks carry their own value; purchases pick up the
    # last non-null click value at or before their ts.
    tagged = purchases.select(
        "user_id",
        F.col("p_ts").alias("ts"),
        F.lit(1).alias("is_p"),
        F.col("p_id"),
        F.col("p_value"),
        F.lit(None).cast("double").alias("c_value"),
        F.lit(None).cast("timestamp").alias("c_ts"),
    ).unionByName(
        clicks.select(
            "user_id",
            F.col("c_ts").alias("ts"),
            F.lit(0).alias("is_p"),
            F.lit(None).cast("long").alias("p_id"),
            F.lit(None).cast("double").alias("p_value"),
            "c_value",
            "c_ts",
        )
    )
    # clicks sort before purchases at equal ts (is_p asc) => ties match,
    # mirroring ASOF JOIN's >= semantics.
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_p")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    joined = (
        tagged.withColumn("last_c_value", F.last("c_value", ignorenulls=True).over(w))
        .withColumn("last_c_ts", F.last("c_ts", ignorenulls=True).over(w))
        .where((F.col("is_p") == 1) & F.col("last_c_value").isNotNull())
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count("*").alias("n_matched"),
            F.round(F.avg(F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(F.col("last_c_ts").cast("timestamp"))) / F.lit(1000000.0), 4)
            .alias("avg_lag_s"),
            F.round(F.sum("last_c_value"), 4).alias("sum_click_value"),
        )
        .where(F.col("user_id") < 40)
        .orderBy("user_id")
    )


Q_ASOF_SQL = """
SELECT user_id, count(*) AS n_matched,
       round(avg(epoch_us(p_ts) - epoch_us(c_ts)) / 1000000.0, 4) AS avg_lag_s,
       round(sum(c_value), 4) AS sum_click_value
FROM (
  SELECT p.user_id, p.ts AS p_ts, c.ts AS c_ts, c.value AS c_value
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND p.ts >= c.ts
)
WHERE user_id < 40
GROUP BY user_id ORDER BY user_id
"""


# --------------------------------------------------------------------------
# Pivot.
# --------------------------------------------------------------------------


def q_pivot_status(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 4))
        .select(
            "c_mktsegment",
            F.coalesce("F", F.lit(0.0)).alias("total_f"),
            F.coalesce("O", F.lit(0.0)).alias("total_o"),
            F.coalesce("P", F.lit(0.0)).alias("total_p"),
        )
        .orderBy("c_mktsegment")
    )


Q_PIVOT_SQL = """
SELECT c_mktsegment,
       coalesce(round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 4), 0.0) AS total_f,
       coalesce(round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 4), 0.0) AS total_o,
       coalesce(round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 4), 0.0) AS total_p
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Sessionization: gap > 30 min starts a new session (lag + running sum —
# the classic pattern; same SQL shape runs on both engines).
# --------------------------------------------------------------------------


def q_sessionize_events(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "new_session",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.coalesce(
                F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w),
                F.lit(-(10**18)),
            )
            > 1800000000
        ).cast("int"),
    )
    sess = gaps.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("events_in_session"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.round(F.avg("events_in_session"), 4).alias("avg_events"),
            F.max("events_in_session").alias("max_events"),
        )
        .where(F.col("user_id") < 40)
        .orderBy("user_id")
    )


Q_SESSIONIZE_SQL = """
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts)
                   - coalesce(lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id),
                     -1000000000000000000) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sess AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM gaps
), per AS (
  SELECT user_id, session_id, count(*) AS events_in_session
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, count(*) AS n_sessions,
       round(avg(events_in_session), 4) AS avg_events,
       max(events_in_session) AS max_events
FROM per WHERE user_id < 40
GROUP BY user_id ORDER BY user_id
"""


# --------------------------------------------------------------------------
# Tumbling time window (batch form of the streaming windowed agg; the
# streaming variant with watermark lives in streaming/jobs.py).
# --------------------------------------------------------------------------


def q_tumbling_window_events(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 day").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n",
            "total",
        )
        .orderBy("day", "event_type")
    )


Q_TUMBLING_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
       event_type, count(*) AS n, round(sum(value), 4) AS total
FROM events GROUP BY 1, 2 ORDER BY day, event_type
"""


# --------------------------------------------------------------------------
# Sliding (hopping) time window — every event lands in size/hop = 3
# overlapping windows. Spark's native F.window(ts, size, slide) does
# the multi-assignment inside codegen (an internal explode over the
# covering window starts); the oracle replays it with an explicit
# LATERAL unnest over k in [0, 3). Both engines are epoch-aligned at
# midnight so the 2 h bucket grids coincide. Scale shape: the fan-out
# is x3 BEFORE the partial aggregation, but the map-side combine
# collapses it to (windows x types) rows per partition — the shuffle
# carries the aggregated frame, not the exploded events.
# --------------------------------------------------------------------------


def q_sliding_window_events(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "6 hours", "2 hours").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias(
                "wstart"
            ),
            "event_type",
            "n",
            "total",
        )
        .orderBy("wstart", "event_type")
    )


Q_SLIDING_SQL = """
WITH assigned AS (
  SELECT time_bucket(INTERVAL '2 hours', ts) - k * INTERVAL '2 hours'
           AS ws,
         event_type, value
  FROM events, LATERAL (SELECT unnest(range(0, 3)) AS k) r
)
SELECT strftime(ws, '%Y-%m-%d %H:%M') AS wstart, event_type,
       count(*) AS n, round(sum(value), 4) AS total
FROM assigned GROUP BY 1, 2 ORDER BY wstart, event_type
"""


# --------------------------------------------------------------------------
# TPC-H Q9 shape (product-type profit) — the join-REORDERING stress
# query: a 5-table star (part is the selective filter, lineitem the
# fact) grouped by (nation, order year). The testdata has no partsupp,
# so profit is the revenue measure l_extendedprice * (1 - l_discount)
# (the supplycost term is dropped; join shape and group-by match Q9).
# Catalyst's CBO/AQE ordering note: the selective p_name filter must
# reach the part scan (pushed) and part/supplier/nation should
# broadcast — lineitem never builds a hash table (plan-asserted).
# --------------------------------------------------------------------------


def q9_product_profit(spark, sf_dir):
    part = t(spark, sf_dir, "part").where(F.col("p_name").contains("red"))
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    orders = t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


# --------------------------------------------------------------------------
# TPC-H Q21 shape (suppliers who kept orders waiting) — the hardest
# relational pattern in the suite: a correlated EXISTS and a correlated
# NOT EXISTS against the same fact table. The testdata has no
# l_receiptdate/l_commitdate, so "this supplier was late" is proxied by
# l_returnflag = 'R'; the double-correlation shape is exact Q21: count
# per supplier the multi-supplier orders where EXISTS another supplier
# on the order AND NOT EXISTS another supplier who also failed.
# Execution: both correlations compile to one LEFT SEMI + one LEFT ANTI
# join on l_orderkey with a non-equi supplier guard — never a
# per-row subquery (plan-asserted).
# --------------------------------------------------------------------------


def q21_waiting_suppliers(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    l1 = li.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    cand = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    return (
        cand.join(F.broadcast(supp), cand.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


Q21_SQL = """
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


# --------------------------------------------------------------------------
# Catalog
# --------------------------------------------------------------------------

RELATIONAL_QUERIES: dict[str, tuple] = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "q5_region_revenue": (q5_region_revenue, Q5_SQL),
    "broadcast_part_revenue": (q_broadcast_part_revenue, Q_BROADCAST_SQL),
    "semi_customers_with_urgent": (q_semi_customers_with_urgent, Q_SEMI_SQL),
    "anti_customers_without_orders": (q_anti_customers_without_orders, Q_ANTI_SQL),
    "window_topk_orders": (q_window_topk_orders, Q_WINDOW_TOPK_SQL),
    "window_running_revenue": (q_window_running_revenue, Q_WINDOW_RUNNING_SQL),
    "window_event_gaps": (q_window_event_gaps, Q_WINDOW_GAPS_SQL),
    "rollup_lineitem": (q_rollup_lineitem, Q_ROLLUP_SQL),
    "cube_orders": (q_cube_orders, Q_CUBE_SQL),
    "set_ops_segments": (q_set_ops_segments, Q_SET_OPS_SQL),
    "topk_parts": (q_topk_parts, Q_TOPK_SQL),
    "distinct_agg": (q_distinct_agg, Q_DISTINCT_SQL),
    "string_funcs": (q_string_funcs, Q_STRING_SQL),
    "date_funcs": (q_date_funcs, Q_DATE_SQL),
    "json_extract": (q_json_extract, Q_JSON_SQL),
    "array_funcs": (q_array_funcs, Q_ARRAY_SQL),
    "range_join_bins": (q_range_join_bins, Q_RANGE_SQL),
    "asof_join": (q_asof_join, Q_ASOF_SQL),
    "pivot_status": (q_pivot_status, Q_PIVOT_SQL),
    "sessionize_events": (q_sessionize_events, Q_SESSIONIZE_SQL),
    "tumbling_window_events": (q_tumbling_window_events, Q_TUMBLING_SQL),
    "sliding_window_events": (q_sliding_window_events, Q_SLIDING_SQL),
    "q9_product_profit": (q9_product_profit, Q9_SQL),
    "q21_waiting_suppliers": (q21_waiting_suppliers, Q21_SQL),
}


# --------------------------------------------------------------------------
# Second wave: subqueries, explode/lateral, statistical aggregates,
# percentiles, listagg, conditional aggregation, null-safe semantics.
# --------------------------------------------------------------------------


def q_scalar_subquery(spark, sf_dir):
    """Customers with above-average account balance (scalar subquery)."""
    cust = t(spark, sf_dir, "customer")
    avg_bal = cust.agg(F.avg("c_acctbal").alias("a"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("a"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), F.round(F.min("c_acctbal"), 4).alias("min_bal"))
        .orderBy("c_mktsegment")
    )


Q_SCALAR_SUBQ_SQL = """
SELECT c_mktsegment, count(*) AS n, round(min(c_acctbal), 4) AS min_bal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_correlated_subquery(spark, sf_dir):
    """Orders above their customer's average order value (correlated
    subquery == window-average comparison, the shuffle-optimal form)."""
    orders = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey")
    return (
        orders.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .where(F.col("o_totalprice") > F.col("cust_avg") * 1.5)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("price"))
        .orderBy("o_orderkey")
    )


Q_CORRELATED_SQL = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS price
FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
         avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
  FROM orders
) WHERE o_totalprice > cust_avg * 1.5
ORDER BY o_orderkey
"""


def q_explode_word_counts(spark, sf_dir):
    """Lateral explode: global top-25 words over documents."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(25)
    )


Q_EXPLODE_SQL = """
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word ORDER BY n DESC, word LIMIT 25
"""


def q_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per order status."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
        )
        .orderBy("o_orderstatus")
    )


Q_PERCENTILES_SQL = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4)  AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_stats_aggregates(spark, sf_dir):
    """Statistical aggregate surface: stddev/variance/corr/covar.

    Every rounded double gets ``+ 0.0`` on BOTH sides: DuckDB's
    covar_samp can return -0.0 where Spark returns 0.0, and the
    driver's value hash distinguishes the sign of zero. IEEE 754
    guarantees -0.0 + 0.0 == +0.0, so this canonicalizes without
    changing any non-zero value.
    """
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(
            (F.round(F.stddev_samp("l_extendedprice"), 4) + F.lit(0.0)).alias("sd_price"),
            (F.round(F.var_samp("l_quantity"), 4) + F.lit(0.0)).alias("var_qty"),
            (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + F.lit(0.0)).alias("corr_qp"),
            (F.round(F.covar_samp("l_discount", "l_tax"), 4) + F.lit(0.0)).alias("cov_dt"),
        )
        .orderBy("l_linestatus")
    )


Q_STATS_SQL = """
SELECT l_linestatus,
       round(stddev_samp(l_extendedprice), 4) + 0.0 AS sd_price,
       round(var_samp(l_quantity), 4) + 0.0         AS var_qty,
       round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qp,
       round(covar_samp(l_discount, l_tax), 4) + 0.0     AS cov_dt
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
"""


def q_listagg(spark, sf_dir):
    """Ordered string aggregation (listagg/string_agg)."""
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations")
        )
        .orderBy("r_name")
    )


Q_LISTAGG_SQL = """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def q_conditional_agg(spark, sf_dir):
    """FILTER / count_if / bool aggregates."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("n_big"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_f"),
            F.max((F.col("o_totalprice") > 400000).cast("boolean")).alias("any_huge"),
            F.min((F.col("o_totalprice") > 0).cast("boolean")).alias("all_positive"),
        )
        .orderBy("o_orderpriority")
    )


Q_CONDITIONAL_SQL = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
       count(*) FILTER (WHERE o_orderstatus = 'F')   AS n_f,
       bool_or(o_totalprice > 400000)                AS any_huge,
       bool_and(o_totalprice > 0)                    AS all_positive
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_null_semantics(spark, sf_dir):
    """NULL-generating outer join + null-safe handling + coalesce."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("rows_total"),
            F.count("o_orderkey").alias("rows_matched"),
            F.sum(
                F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
            ).alias("rows_null"),
            F.round(F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))), 4).alias(
                "total_coalesced"
            ),
        )
        .orderBy("c_mktsegment")
    )


Q_NULL_SQL = """
SELECT c_mktsegment,
       count(*) AS rows_total,
       count(o_orderkey) AS rows_matched,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS rows_null,
       round(sum(coalesce(o_totalprice, 0.0)), 4) AS total_coalesced
FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
  ON c_custkey = o.o_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_union_by_name(spark, sf_dir):
    """unionByName across differently-shaped projections."""
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    a = cust.select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.lit("customer").alias("side"),
    )
    b = supp.select(
        F.lit("supplier").alias("side"),
        F.col("s_acctbal").alias("bal"),
        F.col("s_name").alias("name"),
    )
    return (
        a.unionByName(b)
        .groupBy("side")
        .agg(F.count("*").alias("n"), F.round(F.avg("bal"), 4).alias("avg_bal"))
        .orderBy("side")
    )


Q_UNION_BY_NAME_SQL = """
SELECT side, count(*) AS n, round(avg(bal), 4) AS avg_bal FROM (
  SELECT c_name AS name, c_acctbal AS bal, 'customer' AS side FROM customer
  UNION ALL
  SELECT s_name, s_acctbal, 'supplier' FROM supplier
) GROUP BY side ORDER BY side
"""


RELATIONAL_QUERIES.update(
    {
        "scalar_subquery": (q_scalar_subquery, Q_SCALAR_SUBQ_SQL),
        "correlated_subquery": (q_correlated_subquery, Q_CORRELATED_SQL),
        "explode_word_counts": (q_explode_word_counts, Q_EXPLODE_SQL),
        "percentiles": (q_percentiles, Q_PERCENTILES_SQL),
        "stats_aggregates": (q_stats_aggregates, Q_STATS_SQL),
        "listagg": (q_listagg, Q_LISTAGG_SQL),
        "conditional_agg": (q_conditional_agg, Q_CONDITIONAL_SQL),
        "null_semantics": (q_null_semantics, Q_NULL_SQL),
        "union_by_name": (q_union_by_name, Q_UNION_BY_NAME_SQL),
    }
)


# --------------------------------------------------------------------------
# Third wave: grouping sets, full-outer join, cross join, higher-order
# array functions, time-series gap-fill, salted two-phase aggregation.
# --------------------------------------------------------------------------


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS: per-status, per-priority, and grand total in
    one pass (Spark expands to a single shuffle, not three scans)."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


Q_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n, round(sum(o_totalprice), 4) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus, o_orderpriority
"""


def q_full_outer_balance(spark, sf_dir):
    """FULL OUTER join of two pre-aggregated sides (customer vs supplier
    balance per nation); pre-aggregating before the join keeps the shuffled
    payload to one row per nation on each side."""
    cust = (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 4).alias("cust_bal"),
        )
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_supp"),
            F.round(F.sum("s_acctbal"), 4).alias("supp_bal"),
        )
    )
    return (
        cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full_outer")
        .select(
            F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("cust_bal", F.lit(0.0)).alias("cust_bal"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
            F.coalesce("supp_bal", F.lit(0.0)).alias("supp_bal"),
        )
        .orderBy("nationkey")
    )


Q_FULL_OUTER_SQL = """
SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
       CAST(coalesce(c.n_cust, 0) AS BIGINT)  AS n_cust,
       coalesce(c.cust_bal, 0.0)              AS cust_bal,
       CAST(coalesce(s.n_supp, 0) AS BIGINT)  AS n_supp,
       coalesce(s.supp_bal, 0.0)              AS supp_bal
FROM (SELECT c_nationkey, count(*) AS n_cust, round(sum(c_acctbal), 4) AS cust_bal
      FROM customer GROUP BY c_nationkey) c
FULL OUTER JOIN
     (SELECT s_nationkey, count(*) AS n_supp, round(sum(s_acctbal), 4) AS supp_bal
      FROM supplier GROUP BY s_nationkey) s
  ON c.c_nationkey = s.s_nationkey
ORDER BY nationkey
"""


def q_cross_join_pairs(spark, sf_dir):
    """Explicit cross join of two small dims (region x supplier). Spark
    plans BroadcastNestedLoopJoin; only sane when one side is tiny."""
    region = t(spark, sf_dir, "region")
    supp = t(spark, sf_dir, "supplier")
    return (
        region.crossJoin(F.broadcast(supp))
        .select("r_name", "s_name", F.round("s_acctbal", 4).alias("bal"))
        .orderBy("r_name", "s_name")
    )


Q_CROSS_JOIN_SQL = """
SELECT r_name, s_name, round(s_acctbal, 4) AS bal
FROM region CROSS JOIN supplier
ORDER BY r_name, s_name
"""


def q_hof_embeddings(spark, sf_dir):
    """Higher-order array functions over the embedding column: transform /
    filter / aggregate run inside codegen — no explode, no shuffle, no UDF."""
    emb = t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x), 4
        ).alias("sq_norm"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x)
            / F.size("embedding"),
            4,
        ).alias("mean_val"),
    ).orderBy("vec_id")


Q_HOF_SQL = """
SELECT vec_id,
       round(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS sq_norm,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT)   AS n_pos,
       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
             / len(embedding), 4)                             AS mean_val
FROM embeddings WHERE vec_id < 100 ORDER BY vec_id
"""


def q_gapfill_events(spark, sf_dir):
    """Time-series gap fill: dense hourly grid (sequence + explode) per
    event type, left-joined against observed hourly counts, missing hours
    filled with 0. The grid is tiny → broadcast; only the count aggregation
    shuffles."""
    ev = t(spark, sf_dir, "events")
    hours = (
        ev.agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("hour_ts")
        )
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(hours))
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count("*").alias("n"))
    return (
        grid.join(counts, ["event_type", "hour_ts"], "left")
        .select(
            "event_type",
            F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
        .orderBy("event_type", "hour")
    )


Q_GAPFILL_SQL = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
hours AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT t.event_type,
       strftime(h.hour_ts, '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM types t
CROSS JOIN hours h
LEFT JOIN counts c ON c.event_type = t.event_type AND c.hour_ts = h.hour_ts
ORDER BY t.event_type, hour
"""


def q_salted_heavy_hitters(spark, sf_dir):
    """Skew-safe two-phase aggregation: partial agg on (user_id, salt)
    spreads a hot key over 16 reducers, final agg merges the partials.
    Result is identical to the plain groupBy (the oracle) — sums use
    DECIMAL so re-association cannot change the value."""
    ev = t(spark, sf_dir, "events")
    partial = (
        ev.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(16)))
        .groupBy("user_id", "_salt")
        .agg(
            F.count("*").alias("pn"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("pv"),
        )
    )
    return (
        partial.groupBy("user_id")
        .agg(
            F.sum("pn").alias("n_events"),
            F.round(F.sum("pv").cast("double"), 4).alias("total_value"),
        )
        .orderBy(F.desc("n_events"), "user_id")
        .limit(20)
    )


Q_SALTED_SQL = """
SELECT user_id, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM events GROUP BY user_id
ORDER BY n_events DESC, user_id LIMIT 20
"""


def q_map_funcs(spark, sf_dir):
    """Map-typed column surface: parse the JSON props into
    map<string,string>, explode entries, aggregate per key. At scale the
    from_json + explode is a generated-column scan — no UDF, no extra
    shuffle beyond the aggregation."""
    ev = t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return (
        ev.select(F.explode(m).alias("key", "value"))
        .groupBy("key")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(F.col("value").cast("int")), 4).alias("avg_val"),
        )
        .orderBy("key")
    )


Q_MAP_FUNCS_SQL = """
SELECT k.key AS key, count(*) AS n,
       round(avg(CAST(json_extract_string(e.props, '$.' || k.key) AS INT)), 4)
           AS avg_val
FROM events e, unnest(json_keys(e.props)) AS k(key)
GROUP BY 1 ORDER BY 1
"""


RELATIONAL_QUERIES.update(
    {
        "map_funcs": (q_map_funcs, Q_MAP_FUNCS_SQL),
        "grouping_sets": (q_grouping_sets, Q_GROUPING_SETS_SQL),
        "full_outer_balance": (q_full_outer_balance, Q_FULL_OUTER_SQL),
        "cross_join_pairs": (q_cross_join_pairs, Q_CROSS_JOIN_SQL),
        "hof_embeddings": (q_hof_embeddings, Q_HOF_SQL),
        "gapfill_events": (q_gapfill_events, Q_GAPFILL_SQL),
        "salted_heavy_hitters": (q_salted_heavy_hitters, Q_SALTED_SQL),
    }
)


# --------------------------------------------------------------------------
# Unpivot (wide -> long): Spark's native unpivot/melt vs DuckDB UNPIVOT.
# At scale this is a zero-shuffle projection (Expand node), unlike the
# UNION-ALL-of-selects formulation which scans the table once per metric.
# --------------------------------------------------------------------------


def q_unpivot_part_metrics(spark, sf_dir):
    part = t(spark, sf_dir, "part").where(F.col("p_partkey") < 100)
    wide = part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return wide.unpivot(
        ids=["p_partkey"],
        values=["size", "retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    ).orderBy("p_partkey", "metric")


Q_UNPIVOT_SQL = """
SELECT p_partkey, metric, value FROM (
  UNPIVOT (
    SELECT p_partkey,
           CAST(p_size AS DOUBLE) AS size,
           p_retailprice AS retailprice
    FROM part WHERE p_partkey < 100
  ) ON size, retailprice INTO NAME metric VALUE value
) ORDER BY p_partkey, metric
"""


# --------------------------------------------------------------------------
# Robust/ordinal aggregates: exact interpolated median + deterministic
# mode per group. Exact median needs a per-group sort (unlike mean) — at
# 100 TB prefer approx_percentile (t-digest, mergeable partial aggs)
# unless exactness is contractual. Mode is computed as "smallest value
# among the most frequent" via a two-level count + window — the native
# mode() aggregate in both engines is tie-arbitrary, which breaks
# cross-engine reproducibility (this dataset ties at sf0.001).
# --------------------------------------------------------------------------


def q_robust_stats(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    w = W.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), F.asc("o_orderpriority")
    )
    modes = (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderstatus", F.col("o_orderpriority").alias("mode_priority")
        )
    )
    med = orders.groupBy("o_orderstatus").agg(
        F.round(F.median("o_totalprice"), 4).alias("med_price"),
        F.count("*").alias("n"),
    )
    return (
        med.join(F.broadcast(modes), "o_orderstatus")
        .select("o_orderstatus", "med_price", "mode_priority", "n")
        .orderBy("o_orderstatus")
    )


Q_ROBUST_STATS_SQL = """
WITH counts AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
  FROM orders GROUP BY 1, 2
),
modes AS (
  SELECT o_orderstatus, o_orderpriority AS mode_priority
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY o_orderstatus ORDER BY cnt DESC, o_orderpriority
    ) AS rn FROM counts
  ) WHERE rn = 1
)
SELECT o.o_orderstatus,
       round(median(o.o_totalprice), 4) AS med_price,
       m.mode_priority,
       count(*) AS n
FROM orders o JOIN modes m USING (o_orderstatus)
GROUP BY 1, 3 ORDER BY 1
"""


RELATIONAL_QUERIES.update(
    {
        "unpivot_part_metrics": (q_unpivot_part_metrics, Q_UNPIVOT_SQL),
        "robust_stats": (q_robust_stats, Q_ROBUST_STATS_SQL),
    }
)


# --------------------------------------------------------------------------
# Ranking-function family: rank / dense_rank / percent_rank / ntile /
# cume_dist in one window pass (one shuffle + one per-partition sort).
# --------------------------------------------------------------------------


def q_window_rank_funcs(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").where(F.col("o_custkey") < 30)
    w = W.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_orderstatus",
            "o_orderkey",
            F.rank().over(w).alias("rk"),
            F.dense_rank().over(w).alias("drk"),
            F.round(F.percent_rank().over(w), 6).alias("prk"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
        .orderBy("o_orderstatus", "rk")
    )


Q_WINDOW_RANK_SQL = """
SELECT o_orderstatus, o_orderkey,
       CAST(rank()         OVER w AS BIGINT) AS rk,
       CAST(dense_rank()   OVER w AS BIGINT) AS drk,
       round(percent_rank() OVER w, 6) AS prk,
       CAST(ntile(4)       OVER w AS BIGINT) AS quartile,
       round(cume_dist()   OVER w, 6) AS cd
FROM orders WHERE o_custkey < 30
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_orderstatus, rk
"""


RELATIONAL_QUERIES["window_rank_funcs"] = (q_window_rank_funcs, Q_WINDOW_RANK_SQL)


# --------------------------------------------------------------------------
# Ordered funnel analysis (late-r5 extension). The event-analytics
# operator every warehouse keeps next to sessionization: of the users who
# did stage 1, how many went on to stage 2 AFTER stage 1, then stage 3
# AFTER stage 2? Naive per-stage EXISTS ignores ordering (a purchase
# BEFORE the first click must not convert); the correct sequential
# semantics is a chain of running firsts:
#   t1 = running min ts of stage-1 events;
#   t2 = running min ts of stage-2 events seen while t1 is already set;
#   t3 = likewise gated on t2 —
# three window passes over ONE HashPartitioning(user_id) + one sort
# (Catalyst chains the Window operators without re-exchanging), then the
# per-user groupBy reuses the same partitioning. At 10^9 users the only
# corpus-sized shuffle is that single hash exchange; the global stage
# totals are a partial-agg tree into one row, and the 3-row stage frame
# is driver-sized. Conversion ratios are integer ppm (x * 1000000 DIV y)
# — no float at any result boundary, so retries / partitioning can never
# flip a value.
#
# Conversion-window semantics (strict first-touch): stage k counts only
# if it happens within FUNNEL_WINDOW_H hours of the FIRST completion of
# stage k-1 — the standard product-analytics windowed funnel. A stage-2
# event following a LATER stage-1 repeat but outside the window of the
# first one does NOT convert (documented; both engines implement the
# identical rule).
# --------------------------------------------------------------------------

FUNNEL_STAGES = ["view", "click", "purchase"]
FUNNEL_WINDOW_H = 6  # conversion window, hours between consecutive stages


def funnel_user_flags(ev):
    """Per-user funnel completion flags (user_id, r1, r2, r3) from an
    events frame with (user_id, event_id, ts, event_type) — shared by
    the batch query and streaming.jobs.run_streaming_funnel so the two
    can never drift on the window/ordering semantics."""
    s1, s2, s3 = FUNNEL_STAGES
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    # running first-completion time per stage, each gated on the previous
    # stage's running completion (the same-row gate is safe: a stage-k
    # event never contributes to t_{k-1}'s min, so "t_{k-1} IS NOT NULL
    # at this row" means stage k-1 completed at or before this event)
    step1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == s1, F.col("ts"))).over(w)
    )
    within = F.expr(f"INTERVAL {FUNNEL_WINDOW_H} HOURS")
    step2 = step1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == s2)
                & F.col("t1").isNotNull()
                & (F.col("ts") <= F.col("t1") + within),
                F.col("ts"),
            )
        ).over(w),
    )
    step3 = step2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == s3)
                & F.col("t2").isNotNull()
                & (F.col("ts") <= F.col("t2") + within),
                F.col("ts"),
            )
        ).over(w),
    )
    return step3.groupBy("user_id").agg(
        F.max(F.col("t1").isNotNull().cast("int")).alias("r1"),
        F.max(F.col("t2").isNotNull().cast("int")).alias("r2"),
        F.max(F.col("t3").isNotNull().cast("int")).alias("r3"),
    )


def funnel_triangle(flags):
    """3-row funnel triangle (stage counts + integer-ppm conversion)
    from a per-user flags frame — the presentation half of the funnel,
    shared with the streaming twin."""
    s1, s2, s3 = FUNNEL_STAGES
    # coalesce: an empty flags frame (no stage-relevant user yet) means
    # zero completions, not NULL counts — keeps the streaming twin and
    # the empty-corpus batch case exact (oracle mirrors the coalesce)
    totals = flags.agg(
        F.coalesce(F.sum("r1"), F.lit(0)).cast("long").alias("n1"),
        F.coalesce(F.sum("r2"), F.lit(0)).cast("long").alias("n2"),
        F.coalesce(F.sum("r3"), F.lit(0)).cast("long").alias("n3"),
    )
    stages = totals.selectExpr(
        f"stack(3, 1, '{s1}', n1, n1, 2, '{s2}', n2, n1, 3, '{s3}', n3, n2) "
        "AS (stage, event_type, users, prev)"
    )
    return stages.select(
        "stage",
        "event_type",
        "users",
        F.when(F.col("prev") > 0, F.expr("(users * 1000000) DIV prev"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("conv_from_prev_ppm"),
    ).orderBy("stage")


def q_funnel_events(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    return funnel_triangle(funnel_user_flags(ev))


Q_FUNNEL_SQL = f"""
WITH w1 AS (
  SELECT user_id, event_id, ts, event_type,
         min(CASE WHEN event_type = '{FUNNEL_STAGES[0]}' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t1
  FROM events
),
w2 AS (
  SELECT *, min(CASE WHEN event_type = '{FUNNEL_STAGES[1]}'
                      AND t1 IS NOT NULL
                      AND ts <= t1 + INTERVAL {FUNNEL_WINDOW_H} HOUR THEN ts END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t2
  FROM w1
),
w3 AS (
  SELECT *, min(CASE WHEN event_type = '{FUNNEL_STAGES[2]}'
                      AND t2 IS NOT NULL
                      AND ts <= t2 + INTERVAL {FUNNEL_WINDOW_H} HOUR THEN ts END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t3
  FROM w2
),
per_user AS (
  SELECT user_id,
         max(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS r1,
         max(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS r2,
         max(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS r3
  FROM w3 GROUP BY user_id
),
tot AS (
  SELECT CAST(coalesce(sum(r1), 0) AS BIGINT) AS n1,
         CAST(coalesce(sum(r2), 0) AS BIGINT) AS n2,
         CAST(coalesce(sum(r3), 0) AS BIGINT) AS n3
  FROM per_user
),
stages AS (
  SELECT 1 AS stage, '{FUNNEL_STAGES[0]}' AS event_type, n1 AS users,
         n1 AS prev FROM tot
  UNION ALL
  SELECT 2, '{FUNNEL_STAGES[1]}', n2, n1 FROM tot
  UNION ALL
  SELECT 3, '{FUNNEL_STAGES[2]}', n3, n2 FROM tot
)
SELECT stage, event_type, users,
       CAST(CASE WHEN prev > 0 THEN (users * 1000000) // prev ELSE 0 END
            AS BIGINT) AS conv_from_prev_ppm
FROM stages ORDER BY stage
"""


RELATIONAL_QUERIES["funnel_events"] = (q_funnel_events, Q_FUNNEL_SQL)


# --------------------------------------------------------------------------
# SCD2 history reconstruction (late-r5 extension). The warehouse-side
# twin of catalog.merge_upsert: given a change LOG of dimension versions
# (customer segment changes, md5-synthesized — testdata has no change
# feed; both engines build the identical log), produce the type-2
# slowly-changing-dimension table: change-compress consecutive equal
# values, then number the surviving versions and derive
# [valid_from, valid_to] / is_current from each version's successor.
# Classic lag-filter-lead: ONE HashPartitioning(c_custkey) exchange
# serves the lag window, the post-filter re-sort, and the combined
# row_number+lead window (Catalyst adds Sorts, never a second hash
# shuffle). Same-day changes (eff_day ties, ordered by version j) yield
# valid_to = valid_from - 1 — the empty interval records a same-day
# supersede, the standard SCD2 convention. At 10^9 dimension keys the
# only corpus-sized move is that single hash shuffle; no join anywhere.
# --------------------------------------------------------------------------

SCD_VERSIONS = 4
SCD_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]


def q_scd2_history(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    log = cust.select(
        "c_custkey",
        F.explode(F.array(*[F.lit(j) for j in range(SCD_VERSIONS)])).alias("j"),
    ).select(
        "c_custkey",
        "j",
        (
            md5_long(F.concat_ws(":", F.lit("scd:day"), "c_custkey", "j")) % 1000
        )
        .cast("int")
        .alias("eff_day"),
        F.element_at(
            F.array(*[F.lit(s) for s in SCD_SEGMENTS]),
            (
                md5_long(F.concat_ws(":", F.lit("scd:seg"), "c_custkey", "j"))
                % len(SCD_SEGMENTS)
                + 1
            ).cast("int"),
        ).alias("segment"),
    )
    w = W.partitionBy("c_custkey").orderBy("eff_day", "j")
    changed = log.withColumn("prev_seg", F.lag("segment").over(w)).where(
        F.col("prev_seg").isNull() | (F.col("prev_seg") != F.col("segment"))
    )
    return (
        changed.select(
            "c_custkey",
            F.row_number().over(w).cast("int").alias("version"),
            "segment",
            F.col("eff_day").alias("valid_from"),
            (F.lead("eff_day").over(w) - 1).cast("int").alias("valid_to"),
            F.lead("eff_day").over(w).isNull().cast("int").alias("is_current"),
        )
        .orderBy("c_custkey", "version")
    )


def _scd2_sql() -> str:
    def h(tag: str) -> str:
        return (
            f"CAST(concat('0x', substr(md5(concat('{tag}:', "
            f"CAST(c_custkey AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 15)) "
            f"AS BIGINT)"
        )

    seglit = "[" + ", ".join(f"'{s}'" for s in SCD_SEGMENTS) + "]"
    return f"""
WITH log AS (
  SELECT c_custkey, j,
         CAST({h('scd:day')} % 1000 AS INT) AS eff_day,
         ({seglit})[CAST({h('scd:seg')} % {len(SCD_SEGMENTS)} + 1 AS INT)]
           AS segment
  FROM customer, range({SCD_VERSIONS}) r(j)
),
changed AS (
  SELECT * FROM (
    SELECT *, lag(segment) OVER (PARTITION BY c_custkey ORDER BY eff_day, j)
                AS prev_seg
    FROM log
  ) WHERE prev_seg IS NULL OR prev_seg <> segment
)
SELECT c_custkey,
       CAST(row_number() OVER w AS INT) AS version,
       segment,
       eff_day AS valid_from,
       CAST(lead(eff_day) OVER w - 1 AS INT) AS valid_to,
       CAST(CASE WHEN lead(eff_day) OVER w IS NULL THEN 1 ELSE 0 END AS INT)
         AS is_current
FROM changed
WINDOW w AS (PARTITION BY c_custkey ORDER BY eff_day, j)
ORDER BY c_custkey, version
"""


RELATIONAL_QUERIES["scd2_history"] = (q_scd2_history, _scd2_sql())


# --------------------------------------------------------------------------
# Cohort retention triangle (late-r5 extension). The other half of the
# event-analytics pair with funnel_events: users cohorted by the ISO
# week of their FIRST signup event; for each (cohort_week, weeks-since-
# signup) cell, the count of distinct active users and the retention
# ratio vs the cohort size. Join-free: the per-user signup timestamp is
# a full-partition window min over the SAME HashPartitioning(user_id)
# the corpus needs anyway (no self-join of events against firsts — at
# 10^12 events that join would shuffle the corpus twice). The cohort
# size needs no extra pass either: every signed-up user is active in
# week 0 (the signup event itself), so size = the offset-0 cell, read
# back with a window over the already-aggregated triangle (a handful of
# rows). Retention is integer ppm — no float at any result boundary.
# --------------------------------------------------------------------------


def q_retention_cohorts(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    wu = W.partitionBy("user_id")
    signed = ev.withColumn(
        "signup_ts",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(wu),
    ).where(F.col("signup_ts").isNotNull() & (F.col("ts") >= F.col("signup_ts")))
    cells = (
        signed.select(
            F.date_format(F.date_trunc("week", F.col("signup_ts")), "yyyy-MM-dd")
            .alias("cohort_week"),
            (
                F.datediff(F.col("ts").cast("date"), F.col("signup_ts").cast("date"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("active_users"))
    )
    wc = W.partitionBy("cohort_week")
    size = F.max(
        F.when(F.col("week_offset") == 0, F.col("active_users"))
    ).over(wc)
    return (
        cells.withColumn("cohort_size", size.cast("long"))
        .select(
            "cohort_week",
            "week_offset",
            "active_users",
            "cohort_size",
            F.expr("(active_users * 1000000) DIV cohort_size")
            .cast("long")
            .alias("retention_ppm"),
        )
        .orderBy("cohort_week", "week_offset")
    )


Q_RETENTION_SQL = """
WITH signed AS (
  SELECT user_id, ts,
         min(CASE WHEN event_type = 'signup' THEN ts END)
           OVER (PARTITION BY user_id) AS signup_ts
  FROM events
  QUALIFY signup_ts IS NOT NULL AND ts >= signup_ts
),
cells AS (
  SELECT strftime(date_trunc('week', signup_ts), '%Y-%m-%d') AS cohort_week,
         CAST(date_diff('day', CAST(signup_ts AS DATE), CAST(ts AS DATE)) // 7
              AS INT) AS week_offset,
         CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
  FROM signed GROUP BY 1, 2
)
SELECT cohort_week, week_offset, active_users,
       CAST(max(CASE WHEN week_offset = 0 THEN active_users END)
              OVER (PARTITION BY cohort_week) AS BIGINT) AS cohort_size,
       CAST((active_users * 1000000)
            // max(CASE WHEN week_offset = 0 THEN active_users END)
               OVER (PARTITION BY cohort_week) AS BIGINT) AS retention_ppm
FROM cells ORDER BY cohort_week, week_offset
"""


RELATIONAL_QUERIES["retention_cohorts"] = (q_retention_cohorts, Q_RETENTION_SQL)


# --------------------------------------------------------------------------
# CDC apply (late-r5 extension). The snapshot-side twin of scd2_history
# and catalog.merge_upsert: given an ordered change feed of
# insert/update/delete ops per key (md5-synthesized from the customer
# keys — seq 0 is always the insert, later ops are updates with a 10%
# delete rate), materialize the CURRENT snapshot: latest op per key
# wins, a latest 'D' removes the key. Latest-wins is a per-key window
# (row_number over seq DESC) and the audit columns (n_ops, n_updates)
# ride the SAME HashPartitioning(c_custkey) as full-partition windows —
# one corpus-sized shuffle total, no join (plan-asserted). At 10^12
# keys this is exactly Iceberg/Delta MERGE flattening a CDC backlog:
# one hash shuffle on the key, latest-wins reduction, delete filter.
# --------------------------------------------------------------------------

CDC_OPS = 4  # feed entries per key (seq 0..3)


def q_cdc_apply(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    feed = cust.select(
        "c_custkey",
        F.explode(F.array(*[F.lit(j) for j in range(CDC_OPS)])).alias("seq"),
    ).select(
        "c_custkey",
        "seq",
        F.when(F.col("seq") == 0, F.lit("I"))
        .when(
            md5_long(F.concat_ws(":", F.lit("cdc:op"), "c_custkey", "seq")) % 10
            == 9,
            F.lit("D"),
        )
        .otherwise(F.lit("U"))
        .alias("op"),
        F.element_at(
            F.array(*[F.lit(s) for s in SCD_SEGMENTS]),
            (
                md5_long(F.concat_ws(":", F.lit("cdc:val"), "c_custkey", "seq"))
                % len(SCD_SEGMENTS)
                + 1
            ).cast("int"),
        ).alias("segment"),
    )
    wk = W.partitionBy("c_custkey")
    wseq = wk.orderBy(F.desc("seq"))
    latest = feed.select(
        "c_custkey",
        "seq",
        "op",
        "segment",
        F.row_number().over(wseq).alias("rn"),
        F.count("*").over(wk).cast("long").alias("n_ops"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
        .over(wk)
        .cast("long")
        .alias("n_updates"),
    ).where(F.col("rn") == 1)
    return (
        latest.where(F.col("op") != "D")
        .select(
            "c_custkey",
            "segment",
            F.col("seq").cast("int").alias("last_seq"),
            "n_ops",
            "n_updates",
        )
        .orderBy("c_custkey")
    )


def _cdc_apply_sql() -> str:
    def h(tag: str) -> str:
        return (
            f"CAST(concat('0x', substr(md5(concat('{tag}:', "
            f"CAST(c_custkey AS VARCHAR), ':', CAST(seq AS VARCHAR))), 1, 15)) "
            f"AS BIGINT)"
        )

    seglit = "[" + ", ".join(f"'{s}'" for s in SCD_SEGMENTS) + "]"
    return f"""
WITH feed AS (
  SELECT c_custkey, seq,
         CASE WHEN seq = 0 THEN 'I'
              WHEN {h('cdc:op')} % 10 = 9 THEN 'D'
              ELSE 'U' END AS op,
         ({seglit})[CAST({h('cdc:val')} % {len(SCD_SEGMENTS)} + 1 AS INT)]
           AS segment
  FROM customer, range({CDC_OPS}) r(seq)
),
latest AS (
  SELECT c_custkey, seq, op, segment,
         row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn,
         CAST(count(*) OVER (PARTITION BY c_custkey) AS BIGINT) AS n_ops,
         CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END)
                OVER (PARTITION BY c_custkey) AS BIGINT) AS n_updates
  FROM feed
)
SELECT c_custkey, segment, CAST(seq AS INT) AS last_seq, n_ops, n_updates
FROM latest WHERE rn = 1 AND op <> 'D'
ORDER BY c_custkey
"""


RELATIONAL_QUERIES["cdc_apply"] = (q_cdc_apply, _cdc_apply_sql())
