"""Extended TPC-H-shape relational coverage (SURVEY §2.3-2.7 planned rows,
phase 6 of §7.2) — the join/subquery/conditional-aggregation shapes missing
from ``relational_queries.py``: EXISTS/NOT-EXISTS semi/anti joins with
non-equi residuals, outer-join histograms, scalar subqueries, disjunctive
multi-table predicates, CUBE grouping sets, ntile/median analytics.

Fixture adaptations (no ``partsupp``/``l_commitdate``/``l_shipmode`` columns
— see FIXTURES.md): Q4's commit-vs-receipt lateness becomes ship-after-order
lateness; Q12 groups by ``l_linestatus`` instead of shipmode; Q14's promo
class is ``p_type = 'PROMO'`` (the fixture's literal value).

Float parity: same DECIMAL(18,4) discipline as ``relational_queries.py`` —
exact decimal sums, final cast to DOUBLE rounded to 4dp on both engines.

Scale shapes (the point of each query at 100 TB):
- dims broadcast; the lineitem/orders facts never shuffle for a join unless
  both sides are facts (q13 customer×orders shuffles on the join key once);
- EXISTS/IN compile to left-semi joins (no row multiplication, no distinct);
- scalar subqueries (q17 avg-per-part, q22 global avg) materialize tiny
  aggregates that broadcast back against the fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from modal_vector_db_spark.harness import load, register

DEC = "decimal(18,4)"


def _disc_price():
    return F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume)::DOUBLE, 4) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year,
             (l.l_extendedprice::DECIMAL(18,4)) * (1 - l.l_discount::DECIMAL(18,4)) AS volume
      FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: nation self-pair analysis — the same dim (nation)
    broadcast twice under different roles, disjunctive cross-filter, year
    bucketing.  Only the final (2×2×years) groupBy shuffles."""
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    # Hints only on the fixed-size nation dim (both roles); supplier/orders/
    # customer are data-sized — AQE picks broadcast when runtime stats allow.
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(_disc_price()).cast("double"), 4).alias("revenue"))
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           round(sum((l.l_extendedprice::DECIMAL(18,4)) * (1 - l.l_discount::DECIMAL(18,4)))::DOUBLE, 4) AS revenue,
           n.n_name
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top-20.
    Filters push to both fact scans; dims broadcast; final top-k is a
    TakeOrderedAndProject."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    # orders (filtered) and customer grow with the data — no forced
    # broadcast; only the 25-row nation dim keeps its hint.
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(_disc_price()).cast("double"), 4).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "q12_priority_by_status",
    oracle="""
    SELECT l.l_linestatus,
           sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
)
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode→linestatus per FIXTURES.md): conditional
    CASE-WHEN counts — a manual pivot that stays one partial-agg pass."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    # orders is a fact — join strategy left to AQE (broadcast at small SF).
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderstatus <> 'P'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with an ON-clause residual predicate
    (NULL-preserving), two-level aggregation → order-count histogram."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderstatus")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderstatus != "P"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-fraction scalar — two decimal sums in one
    pass, divided as doubles only at the end (identical on both engines)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(F.lit(0).cast(DEC))
    # part (unfiltered) scales with the data — no forced broadcast.
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(_disc_price()).cast("double"),
                4,
            ).alias("promo_revenue")
        )
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated avg-per-group subquery decorrelated into
    an aggregate self-join.  The per-partkey avg table is small (|parts|) and
    broadcasts; lineitem is scanned twice but never shuffled.  avg is rounded
    to 6dp on both engines before the threshold compare so the borderline
    rows agree."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12").select("p_partkey")
    avg_q = (
        li.groupBy(F.col("l_partkey").alias("a_partkey"))
        .agg(F.round(F.avg("l_quantity"), 6).alias("avg_qty"))
    )
    # p keeps its hint (brand-filtered ~1/25 of part — a genuinely small
    # dim); avg_q is an ALL-partkeys aggregate that grows linearly with the
    # data, so its join strategy is left to AQE.
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(avg_q, li.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0, 4).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "q18_large_volume_customers",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           round(sum(l.l_quantity::DECIMAL(18,4))::DOUBLE, 4) AS sum_qty
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 10
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a HAVING aggregate → left-semi join
    against the (tiny) qualifying-order set, which broadcasts."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 300)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    # big (HAVING sum>300 orders), orders, customer all scale with the data
    # — no forced broadcasts; AQE broadcasts `big` at runtime when its
    # actual size qualifies.
    return (
        li.join(big, li.l_orderkey == F.col("big_orderkey"), "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum(F.col("l_quantity").cast(DEC)).cast("double"), 4).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides — Catalyst still
    pushes the per-table residuals (brand/size to part, quantity bounds to
    lineitem) below the join as derived disjunctions."""
    li = load(spark, sf_dir, "lineitem")
    # part (unfiltered — the OR-of-ANDs predicate spans both sides and only
    # derived residuals push down) scales with the data: no forced broadcast
    # hint, same policy as q14.  AQE still broadcasts at small SF.
    p = load(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    arm = lambda brand, size_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, size_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    return j.filter(
        arm("Brand#12", 15, 1, 11) | arm("Brand#23", 25, 10, 20) | arm("Brand#34", 35, 20, 30)
    ).agg(F.round(F.sum(_disc_price()).cast("double"), 4).alias("revenue"))


@register(
    "q_scalar_aggregates",
    oracle="""
    SELECT 'q14' AS tag, round(
             100.00 * (sum(CASE WHEN p.p_type = 'PROMO'
                           THEN (l.l_extendedprice::DECIMAL(18,4)) * (1 - l.l_discount::DECIMAL(18,4))
                           ELSE 0 END)::DOUBLE)
             / (sum((l.l_extendedprice::DECIMAL(18,4)) * (1 - l.l_discount::DECIMAL(18,4)))::DOUBLE),
           4) AS value
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
    UNION ALL
    SELECT 'q17' AS tag, round(sum(l.l_extendedprice::DECIMAL(18,4))::DOUBLE / 7.0, 4) AS value
    FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN (SELECT l_partkey, round(avg(l_quantity), 6) AS avg_qty
            FROM lineitem GROUP BY l_partkey) a
        ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#12'
      AND l.l_quantity < 0.2 * a.avg_qty
    UNION ALL
    SELECT 'q19' AS tag, round(sum((l.l_extendedprice::DECIMAL(18,4)) * (1 - l.l_discount::DECIMAL(18,4)))::DOUBLE, 4) AS value
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_scalar_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of the three single-row TPC-H scalar shapes (Q14
    conditional fraction, Q17 decorrelated correlated-avg subquery, Q19
    OR-of-ANDs across join sides) — folded into one registry entry so the
    WARC/HTML web-ingest query fits the driver's 50-query checked window
    (the round-3 consolidation convention; each arm keeps its own plan
    and its own docstring below)."""
    arms = [
        ("q14", q14_promo_revenue, "promo_revenue"),
        ("q17", q17_small_quantity_revenue, "avg_yearly"),
        ("q19", q19_disjunctive_predicates, "revenue"),
    ]
    out = None
    for tag, fn, col in arms:
        d = fn(spark, sf_dir).select(
            F.lit(tag).alias("tag"), F.col(col).alias("value")
        )
        out = d if out is None else out.unionByName(d)
    return out


@register(
    "q22_idle_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT round(avg(c_acctbal), 4) AS ab FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey AS nation, count(*) AS numcust,
           round(sum(c.c_acctbal::DECIMAL(18,4))::DOUBLE, 4) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    GROUP BY c.c_nationkey
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global avg, broadcast as a 1-row
    cross join) + NOT EXISTS anti-join.  avg rounded to 4dp on both engines
    so threshold membership agrees despite summation-order drift."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000).select("o_custkey")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.round(F.avg("c_acctbal"), 4).alias("ab"))
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast(DEC)).cast("double"), 4).alias("totacctbal"),
        )
    )


@register(
    "window_ntile_range",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ntile(4) OVER w AS quartile,
           count(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal
                          RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS n_peers_below,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           first_value(c_custkey) OVER w AS poorest_cust
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
)
def window_ntile_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution + value-frame windows in one pass: ntile(4)
    account-balance quartile per segment, a RANGE frame (value-based, not
    row-based) counting same-nation customers within 500 balance units
    below, plus the cumulative-distribution trio (percent_rank, cume_dist,
    first_value) on the same tie-broken spec — one shared Window operator
    for the four same-spec functions, a second for the RANGE frame, one
    scan.  The composite ORDER BY (c_acctbal, c_custkey) is tie-free, so
    rank-family semantics agree cross-engine with no peer-group ambiguity."""
    c = load(spark, sf_dir, "customer")
    w_ntile = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    w_range = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("c_acctbal"))
        .rangeBetween(-500, Window.currentRow)
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w_ntile).alias("quartile"),
        F.count(F.lit(1)).over(w_range).alias("n_peers_below"),
        F.round(F.percent_rank().over(w_ntile), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w_ntile), 6).alias("cume"),
        F.first("c_custkey").over(w_ntile).alias("poorest_cust"),
    )


def agg_median_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median / continuous quantile per group (both
    engines use the same linear interpolation for even counts)."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.median("c_acctbal"), 4).alias("med_bal"),
        F.round(F.percentile("c_acctbal", F.lit(0.75)), 4).alias("p75_bal"),
    )


def agg_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one row per priority, one column set per order status.
    Explicit value list keeps it a single pass (no extra distinct-values job)
    and makes the output schema deterministic."""
    o = load(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.coalesce(F.sum(F.col("o_totalprice").cast(DEC)), F.lit(0).cast(DEC)).cast(
                    "double"
                ),
                4,
            ).alias("sum"),
        )
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F_n"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O_n"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P_n"), F.lit(0)).alias("n_p"),
        F.coalesce(F.col("F_sum"), F.lit(0.0)).alias("sum_f"),
        F.coalesce(F.col("O_sum"), F.lit(0.0)).alias("sum_o"),
        F.coalesce(F.col("P_sum"), F.lit(0.0)).alias("sum_p"),
    )


@register(
    "agg_stats_pivot",
    oracle="""
    SELECT 'median' AS kind, c_mktsegment AS key,
           round(median(c_acctbal), 4) AS v1,
           round(quantile_cont(c_acctbal, 0.75), 4) AS v2,
           NULL::DOUBLE AS v3, NULL::DOUBLE AS v4, NULL::DOUBLE AS v5, NULL::DOUBLE AS v6
    FROM customer GROUP BY c_mktsegment
    UNION ALL
    SELECT 'pivot', o_orderpriority,
           count(*) FILTER (o_orderstatus = 'F')::DOUBLE,
           count(*) FILTER (o_orderstatus = 'O')::DOUBLE,
           count(*) FILTER (o_orderstatus = 'P')::DOUBLE,
           round(coalesce(sum(o_totalprice::DECIMAL(18,4)) FILTER (o_orderstatus = 'F'), 0)::DOUBLE, 4),
           round(coalesce(sum(o_totalprice::DECIMAL(18,4)) FILTER (o_orderstatus = 'O'), 0)::DOUBLE, 4),
           round(coalesce(sum(o_totalprice::DECIMAL(18,4)) FILTER (o_orderstatus = 'P'), 0)::DOUBLE, 4)
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'distinct', 'lineitem',
           count(DISTINCT l_partkey)::DOUBLE,
           count(DISTINCT l_suppkey)::DOUBLE,
           round(min(l_extendedprice), 4),
           round(max(l_extendedprice), 4),
           NULL::DOUBLE, NULL::DOUBLE
    FROM lineitem
    UNION ALL
    SELECT 'moments', c_mktsegment,
           round(stddev_samp(c_acctbal), 3),
           round(var_samp(c_acctbal), 3),
           round(corr(c_acctbal, c_nationkey::DOUBLE), 3),
           round(covar_samp(c_acctbal, c_nationkey::DOUBLE), 3),
           NULL::DOUBLE, NULL::DOUBLE
    FROM customer GROUP BY c_mktsegment
    UNION ALL
    SELECT 'unpivot', o_orderpriority || '_' || status, cnt::DOUBLE,
           NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE
    FROM (
      UNPIVOT (
        SELECT o_orderpriority,
               count(*) FILTER (o_orderstatus = 'F') AS n_f,
               count(*) FILTER (o_orderstatus = 'O') AS n_o,
               count(*) FILTER (o_orderstatus = 'P') AS n_p
        FROM orders GROUP BY o_orderpriority
      ) ON n_f, n_o, n_p INTO NAME status VALUE cnt
    )
    """,
)
def agg_stats_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of the statistical-aggregate shapes: per-segment exact
    median / continuous p75 (:func:`agg_median_quantiles`; v1=median,
    v2=p75), the status pivot (:func:`agg_pivot_status`; v1..v3 = counts
    F/O/P, v4..v6 = sums F/O/P), and the multi-distinct one-pass aggregate
    (:func:`relational_queries.agg_distinct_stats`; v1=n_parts, v2=n_supps,
    v3=min_price, v4=max_price), all values as double; the moment
    aggregates per segment (stddev/variance/corr/covar, 3dp — sum-of-squares
    accumulation is float-order-sensitive across engines, and 3dp sits far
    above that noise at any SF); plus the inverse
    reshape — the pivot's wide counts melted back to long form with native
    ``DataFrame.unpivot`` (one row per (priority, status), key =
    ``priority_statuscol``) against DuckDB's ``UNPIVOT``."""
    from modal_vector_db_spark.queries.relational_queries import agg_distinct_stats

    med = agg_median_quantiles(spark, sf_dir).select(
        F.lit("median").alias("kind"),
        F.col("c_mktsegment").alias("key"),
        F.col("med_bal").alias("v1"),
        F.col("p75_bal").alias("v2"),
        *[F.lit(None).cast("double").alias(f"v{i}") for i in (3, 4, 5, 6)],
    )
    piv = agg_pivot_status(spark, sf_dir).select(
        F.lit("pivot").alias("kind"),
        F.col("o_orderpriority").alias("key"),
        F.col("n_f").cast("double").alias("v1"),
        F.col("n_o").cast("double").alias("v2"),
        F.col("n_p").cast("double").alias("v3"),
        F.col("sum_f").alias("v4"),
        F.col("sum_o").alias("v5"),
        F.col("sum_p").alias("v6"),
    )
    dst = agg_distinct_stats(spark, sf_dir).select(
        F.lit("distinct").alias("kind"),
        F.lit("lineitem").alias("key"),
        F.col("n_parts").cast("double").alias("v1"),
        F.col("n_supps").cast("double").alias("v2"),
        F.col("min_price").alias("v3"),
        F.col("max_price").alias("v4"),
        *[F.lit(None).cast("double").alias(f"v{i}") for i in (5, 6)],
    )
    mom = (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.stddev_samp("c_acctbal"), 3).alias("v1"),
            F.round(F.var_samp("c_acctbal"), 3).alias("v2"),
            F.round(F.corr("c_acctbal", F.col("c_nationkey").cast("double")), 3).alias("v3"),
            F.round(F.covar_samp("c_acctbal", F.col("c_nationkey").cast("double")), 3).alias("v4"),
        )
        .select(
            F.lit("moments").alias("kind"),
            F.col("c_mktsegment").alias("key"),
            "v1",
            "v2",
            "v3",
            "v4",
            *[F.lit(None).cast("double").alias(f"v{i}") for i in (5, 6)],
        )
    )
    unp = (
        agg_pivot_status(spark, sf_dir)
        .select("o_orderpriority", "n_f", "n_o", "n_p")
        .unpivot("o_orderpriority", ["n_f", "n_o", "n_p"], "status", "cnt")
        .select(
            F.lit("unpivot").alias("kind"),
            F.concat_ws("_", "o_orderpriority", "status").alias("key"),
            F.col("cnt").cast("double").alias("v1"),
            *[F.lit(None).cast("double").alias(f"v{i}") for i in (2, 3, 4, 5, 6)],
        )
    )
    return med.union(piv).union(dst).union(mom).union(unp)




# ---------------------------------------------------------------------------
# Subquery / decorrelation coverage — the TPC-H shapes built on subqueries
# (q4 EXISTS, q15 argmax-over-view, q11 scalar-fraction HAVING, q16 NOT IN,
# q20 IN-over-grouped-HAVING), each expressed in the decorrelated join form
# Catalyst actually executes.
# ---------------------------------------------------------------------------
@register(
    "subquery_coverage",
    oracle="""
    SELECT 'exists_semi' AS tag, o_orderpriority AS k, count(*) AS n, 0.0::DOUBLE AS val
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'argmax_view', s.s_name, s.s_suppkey,
           round(r.total_rev::DOUBLE, 4)
    FROM (
      SELECT l_suppkey,
             sum((l_extendedprice::DECIMAL(18,4)) * (1 - l_discount::DECIMAL(18,4))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    ) r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (
      SELECT max(total_rev) FROM (
        SELECT sum((l_extendedprice::DECIMAL(18,4)) * (1 - l_discount::DECIMAL(18,4))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey) m)
    UNION ALL
    SELECT 'scalar_frac', n_name, count(*),
           round(sum(s_acctbal::DECIMAL(18,4))::DOUBLE, 4)
    FROM supplier JOIN nation ON s_nationkey = n_nationkey,
         (SELECT sum(s_acctbal::DECIMAL(18,4)) AS tot FROM supplier) t
    GROUP BY n_name, t.tot
    HAVING sum(s_acctbal::DECIMAL(18,4)) * 25 > t.tot
    UNION ALL
    SELECT 'not_in', p_brand, count(DISTINCT l_suppkey), 0.0
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 15
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand
    UNION ALL
    SELECT 'in_agg', n_name, count(*), 0.0
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      GROUP BY l_suppkey
      HAVING sum(l_quantity::DECIMAL(18,4)) > 15700)
    GROUP BY n_name
    """,
)
def subquery_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquery surface in one tagged union, each arm in the decorrelated
    form that scales (reference parity: the filter DSL never needs these,
    but a user migrating arbitrary SQL does):

    - ``exists_semi``   — TPC-H Q4: EXISTS -> left-semi with a non-equi
      residual; semi join never multiplies rows, no DISTINCT pass.
    - ``argmax_view``   — Q15: revenue view -> scalar-max subquery -> filter;
      the 1-row max broadcasts, the view computes ONCE per branch (at 100 TB
      the view is the expensive side; both branches share the scan via
      Spark's plan-level reuse).
    - ``scalar_frac``   — Q11: global-total scalar broadcast into a HAVING;
      compared via ``sum*25 > tot`` (integer multiply, no division-rounding
      drift cross-engine).
    - ``not_in``        — Q16: NOT IN over a not-null key subquery == anti
      join (the decorrelation Catalyst applies when nullability allows).
    - ``in_agg``        — Q20: IN over a grouped-HAVING subquery == semi
      join against the aggregate.
    """
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li_all = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")

    li = li_all.select("l_orderkey", "l_shipdate")
    exists_semi = (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("exists_semi").alias("tag"),
            F.col("o_orderpriority").alias("k"),
            "n",
            F.lit(0.0).alias("val"),
        )
    )

    rev = (
        li_all.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_disc_price()).alias("total_rev"))
    )
    # 1-row scalar aggregates (max_rev, tot) and the negative-balance
    # supplier filter carry no explicit hint: the hint-policy test only
    # whitelists fixed-cardinality dims, and AQE broadcasts these from
    # runtime size stats anyway (1 row / tiny filtered set at any SF).
    max_rev = rev.agg(F.max("total_rev").alias("max_rev"))
    argmax_view = (
        rev.join(max_rev, F.col("total_rev") == F.col("max_rev"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.lit("argmax_view").alias("tag"),
            F.col("s_name").alias("k"),
            F.col("s_suppkey").cast("long").alias("n"),
            F.round(F.col("total_rev").cast("double"), 4).alias("val"),
        )
    )

    tot = supp.agg(
        F.sum(F.col("s_acctbal").cast(DEC)).alias("tot")
    )
    scalar_frac = (
        supp.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .crossJoin(tot)
        .groupBy("n_name", "tot")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("s_acctbal").cast(DEC)).alias("bal"),
        )
        .filter(F.col("bal") * 25 > F.col("tot"))
        .select(
            F.lit("scalar_frac").alias("tag"),
            F.col("n_name").alias("k"),
            "n",
            F.round(F.col("bal").cast("double"), 4).alias("val"),
        )
    )

    neg_supp = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    small_part = load(spark, sf_dir, "part").filter(F.col("p_size") <= 15).select(
        "p_partkey", "p_brand"
    )
    not_in = (
        li_all.select("l_partkey", "l_suppkey")
        .join(neg_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(small_part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.count_distinct("l_suppkey").alias("n"))
        .select(
            F.lit("not_in").alias("tag"),
            F.col("p_brand").alias("k"),
            "n",
            F.lit(0.0).alias("val"),
        )
    )

    heavy = (
        li_all.groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("qty"))
        .filter(F.col("qty") > 15700)
        .select("l_suppkey")
    )
    in_agg = (
        supp.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("in_agg").alias("tag"),
            F.col("n_name").alias("k"),
            "n",
            F.lit(0.0).alias("val"),
        )
    )

    return (
        exists_semi.union(argmax_view).union(scalar_frac).union(not_in).union(in_agg)
    )
