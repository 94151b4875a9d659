"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship near-duplicate pair query at sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL per query (correctness gate).

Column names + rounding are aligned on both sides so the driver's
order-insensitive value hash matches; money aggregates run in DECIMAL
(order-independent addition) so Spark's partial-agg order can't flip a
rounded digit — but every FINAL projection emits round(double, n),
never DECIMAL: the driver hashes through pandas, where Spark Decimal
and DuckDB DECIMAL/HUGEINT render engine-dependently (the round-1
lesson: 12 hash fails with value-identical results).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from job_post_similarity_spark.caching import cache_auto

from job_post_similarity_spark.functions import strings as S
from job_post_similarity_spark.functions import vectors as V
from job_post_similarity_spark.operators import (
    curation,
    dedup,
    knn,
    preprocess,
    profiling,
    sampling,
    text_analysis,
    topk,
)
from job_post_similarity_spark.sources.io import load_table


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: near-duplicate document pairs by embedding cosine
    (the reference's whole pipeline, app/main.py:201-279) on sf0.001.

    Threshold 0.40 on the synthetic random-unit-vector fixtures (their
    cosine population peaks at 0; the reference's 0.90 applies to real
    model embeddings — config-driven either way).

    Routed through the size-dispatched facade: exact blocked-BLAS here
    (1k vectors), SRP-LSH/IVF beyond the broadcast budget — the
    default path is scale-safe, not just the test path."""
    from job_post_similarity_spark.operators import ann

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    return ann.auto_similarity_join(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.40
    )


# --------------------------------------------------------------------------
# queries: each takes (spark, sf_dir) → DataFrame
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (A-series aggregates on lineitem).

    DECIMAL sums internally (order-independent addition), but the FINAL
    projection is round(double, 4): the driver's value hash pipes
    results through pandas, where Spark Decimal and DuckDB DECIMAL
    render differently (round-1 lesson — 12 hash fails, values
    identical). The source values carry ≤4 decimal digits and ≤13
    significant digits, so decimal→double→round(4) is exact and
    bit-identical on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).alias("__sq"),
            F.sum(d("l_extendedprice")).alias("__sbp"),
            F.sum(
                (d("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - d("l_discount")))
            ).alias("__sdp"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.round(F.col("__sq").cast("double"), 4).alias("sum_qty"),
            F.round(F.col("__sbp").cast("double"), 4).alias("sum_base_price"),
            F.round(F.col("__sdp").cast("double"), 4).alias("sum_disc_price"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: filtered 3-way join (customer⋈orders⋈lineitem)
    + revenue agg + top-10. The two fact joins shuffle on the order
    key; the customer side is dim-sized after its filter and AQE picks
    a broadcast."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    d = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1997-06-30"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1997-06-30"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(d("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - d("l_discount")))
            .alias("__rev")
        )
        # order + limit on the EXACT decimal, then project round(double)
        # — so the top-10 cut can't flip on a double tie
        .orderBy(F.desc("__rev"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "o_orderdate",
            "o_orderpriority",
            F.round(F.col("__rev").cast("double"), 4).alias("revenue"),
        )
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with the co-location predicate
    (customer and supplier in the same nation) + per-nation revenue.
    region/nation broadcast; the supplier join carries the theta
    condition on nationkey equality."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    d = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(d("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - d("l_discount")))
            .alias("__rev")
        )
        .select(
            "nation", F.round(F.col("__rev").cast("double"), 4).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("nation"))
    )


def sql_interface_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface: same engine, ANSI SQL text via spark.sql over
    registered views — proof the DataFrame and SQL planes share one
    Catalyst plan space."""
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql("""
        SELECT c_mktsegment,
               count(*) AS order_cnt,
               ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
                   AS revenue
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """)


def sql_parameterized_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parameterized SQL surface (Spark 4 named-parameter markers —
    ``spark.sql(sql, args={...})``): the injection-safe text-query
    API a serving layer uses. Same plan space as the literal-SQL
    twin `sql_interface_revenue`; parameters bind a segment filter
    and a price floor. (The oracle inlines the parameters as
    literals — binding is the surface under test, the PLAN must be
    identical.)"""
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"vp_{t}")
    return spark.sql(
        """
        SELECT c_mktsegment,
               count(*) AS order_cnt,
               ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                          AS DOUBLE), 4) AS revenue
        FROM vp_orders JOIN vp_customer ON o_custkey = c_custkey
        WHERE c_mktsegment <> :excluded AND o_totalprice >= :floor
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """,
        args={"excluded": "MACHINERY", "floor": 1000.0},
    )


def event_user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set semantics beyond the reference (SURVEY §2.7 notes it has no
    intersect/except): users who click AND view (INTERSECT) minus
    users who purchase (EXCEPT), via Spark's set operators."""
    ev = load_table(spark, sf_dir, "events")
    u = lambda t, v: (  # noqa: E731
        ev.filter((F.col("event_type") == t) & (F.col("value") > v))
        .select("user_id")
    )
    both = u("click", 150.0).intersect(u("view", 150.0))
    return both.exceptAll(u("purchase", 150.0).distinct()).distinct().orderBy("user_id")


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders in 1997 (relational
    completeness beyond the reference's three join specializations)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 1997
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def rollup_orders_by_year_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregate (year, priority) with subtotal + grand-total
    rows — the grouping-sets surface Spark gives for free
    (SURVEY.md §2.4 notes the reference lacks it)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup(F.year("o_orderdate").alias("order_year"), "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
            ).alias("sum_price"),
        )
        .orderBy(
            F.col("order_year").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def token_explode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/UDTF surface: posexplode of whitespace tokens into a
    (doc_id, pos, token) table for a doc slice."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "token")
    )


def q16_distinct_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: DISTINCT aggregation behind an anti-subquery —
    distinct suppliers per return flag, excluding parts of a type
    family. Distinct-agg plans the two-phase expand+aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    excluded = p.filter(F.col("p_type").startswith("STANDARD")).select(
        "p_partkey"
    )
    return (
        li.join(excluded, li.l_partkey == excluded.p_partkey, "left_anti")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy("l_returnflag")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average)
    decorrelated into a groupBy + join — revenue from line items below
    20% of their part's average quantity."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    )
    return (
        li.join(per_part, li.l_partkey == per_part.pk)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double"),
                4,
            ).alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-subquery → left-semi join — orders in a
    window having at least one late lineitem, counted per priority.
    The semi join shuffles once on the order key and short-circuits
    per match (no fan-out on multi-lineitem orders)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_shipdate") > F.lit("1997-01-15")).select(
        "l_orderkey"
    )
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-07-01"))
            & (F.col("o_orderdate") < F.lit("1996-10-01"))
        )
        .join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional (CASE) aggregation —
    line-status buckets split into high/low priority counts per
    status. One shuffle for the join, one for the agg; the CASE stays
    in whole-stage codegen."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hi = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(hi).alias("high_line_count"),
            F.sum(1 - hi).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: 3-fact join + dim broadcast + top-20 by an
    aggregated measure — customers ranked by revenue lost to returned
    items in a quarter. Order/limit on the exact DECIMAL, project
    round(double, 4) (the driver-hash contract)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    d = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-10-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_returnflag") == "R")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(d("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - d("l_discount")))
            .alias("__rev")
        )
        .orderBy(F.desc("__rev"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("__rev").cast("double"), 4).alias("revenue"),
        )
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio — the share of a
    month's revenue from PROMO parts. Both sums run in DECIMAL; the
    ratio is computed in double with the same operation order as the
    oracle ((sp × 100) / st) so the IEEE result is bit-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    d = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    rev = d("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - d("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-03-01"))
            & (F.col("l_shipdate") < F.lit("1997-04-01"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type").startswith("PROMO"), rev)).alias("__sp"),
            F.sum(rev).alias("__st"),
            F.count(F.lit(1)).alias("line_cnt"),
        )
        .select(
            F.round(
                F.col("__sp").cast("double") * 100.0 / F.col("__st").cast("double"),
                4,
            ).alias("promo_revenue_pct"),
            "line_cnt",
        )
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate across both join sides —
    the disjunction can't be pushed wholesale, but Catalyst extracts
    the common l_quantity/p_size bounds below the join. One broadcast
    join, one scalar aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    d = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    c1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    c2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    c3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(c1 | c2 | c3)
        .agg(
            F.round(
                F.sum(
                    d("l_extendedprice")
                    * (F.lit(1).cast("decimal(18,4)") - d("l_discount"))
                ).cast("double"),
                4,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("line_cnt"),
        )
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume — revenue
    shipped between two nations (either direction) per year. The two
    nation dims broadcast under distinct aliases; the fact joins
    shuffle once on custkey and once on orderkey; the year bucket and
    pair filter stay in codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n_supp = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n_cust = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    d = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    pair = (("NATION_1", "NATION_2"), ("NATION_2", "NATION_1"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == pair[0][0]) & (F.col("cust_nation") == pair[0][1]))
            | ((F.col("supp_nation") == pair[1][0]) & (F.col("cust_nation") == pair[1][1]))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.sum(d("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - d("l_discount")))
            .alias("__rev")
        )
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            F.round(F.col("__rev").cast("double"), 4).alias("revenue"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a nation's market share — the fraction of ASIA
    customers' ECONOMY-part revenue supplied by NATION_3, per order
    year. Numerator and denominator both aggregate in DECIMAL; the
    ratio divides in double with the oracle's operation order
    (the q14 contract)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part")
    d = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    rev = d("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - d("l_discount"))
    n_supp = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    parts = p.filter(F.col("p_type").startswith("ECONOMY")).select("p_partkey")
    return (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", rev)).alias("__num"),
            F.sum(rev).alias("__den"),
        )
        .select(
            "o_year",
            F.round(
                F.coalesce(F.col("__num").cast("double"), F.lit(0.0))
                / F.col("__den").cast("double"),
                6,
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by supplier nation and year.
    The testdata has no partsupp, so unit supply cost is proxied as
    10% of the part's retail price: profit = ep·(1−disc) −
    qty·retail·0.1, aggregated EXACTLY in DECIMAL. Widths are kept
    narrow (14,4 / 9,4 / 2,1) so the product types stay inside both
    engines' 38-digit cap with no precision-loss rescale — every term
    needs ≤ 9 fractional digits and both engines carry ≥ that."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part")
    parts = p.filter(F.col("p_name").contains("widget")).select(
        "p_partkey", "p_retailprice"
    )
    rev = F.col("l_extendedprice").cast("decimal(14,4)") * (
        F.lit(1).cast("decimal(5,4)") - F.col("l_discount").cast("decimal(5,4)")
    )
    cost = (
        F.col("l_quantity").cast("decimal(9,4)")
        * F.col("p_retailprice").cast("decimal(14,4)")
        * F.lit("0.1").cast("decimal(2,1)")
    )
    return (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year")
        )
        .agg(F.sum(rev - cost).alias("__profit"))
        .select(
            "nation",
            "o_year",
            F.round(F.col("__profit").cast("double"), 4).alias("profit"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups exceeding a fraction of the global total
    (HAVING against a scalar subquery). No partsupp table, so the
    measure is per-part revenue; kept are parts above a 0.075% share
    (1.5× the mean share at 2000 parts), compared EXACTLY in DECIMAL
    as val·4000 > total·3 (scale-4 integers — no double boundary
    wobble). Two aggregates over one scan; the scalar total
    broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    d = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    rev = (d("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - d("l_discount"))).cast(
        "decimal(28,4)"
    )
    per_part = li.groupBy("l_partkey").agg(F.sum(rev).alias("__val"))
    total = li.agg(F.sum(rev).alias("__total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("__val") * 4000 > F.col("__total") * 3)
        .select(
            "l_partkey",
            F.round(F.col("__val").cast("double"), 4).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: argmax over an aggregated CTE — the supplier(s)
    whose quarterly revenue equals the maximum. Revenue stays DECIMAL
    through the max and the equality join (exact tie semantics), then
    projects round(double, 4). The one-row max broadcasts back against
    the per-supplier aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    d = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    per_supp = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(d("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - d("l_discount")))
            .alias("__rev")
        )
    )
    mx = per_supp.agg(F.max("__rev").alias("__mx"))
    return (
        per_supp.crossJoin(F.broadcast(mx))
        .filter(F.col("__rev") == F.col("__mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("__rev").cast("double"), 4).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a per-order aggregate, joined back
    to its parents — customers whose order totals more than 300 units.
    One shuffle groups lineitem by order key; the qualifying key set
    is order-count-sized and broadcasts into orders⋈customer.
    l_quantity is integer-valued, so the double sum is exact and the
    HAVING cut is deterministic on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(50)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice").cast("double"), 4).alias("totalprice"),
            F.round(F.col("sum_qty").cast("double"), 4).alias("sum_qty"),
        )
    )


def q20_heavy_part_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: semi-join chain gated by a correlated aggregate
    — suppliers who shipped over 350 units of STANDARD parts in 1997,
    decorrelated into a filtered groupBy + left-semi join, then
    annotated with their nation. The part dim prunes before the
    shuffle; the qualifying supplier set broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part")
    parts = p.filter(F.col("p_type").startswith("STANDARD")).select("p_partkey")
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("shipped_qty"))
        .filter(F.col("shipped_qty") > 350)
    )
    return (
        s.join(F.broadcast(heavy), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation"),
            F.round(F.col("shipped_qty").cast("double"), 4).alias("shipped_qty"),
        )
        .orderBy("s_suppkey")
    )


def q21_sole_late_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: multi-EXISTS / NOT-EXISTS correlation folded
    into conditional distinct aggregates — for multi-supplier orders
    where EXACTLY ONE supplier shipped late (>90 days after the order
    date), charge that supplier; rank suppliers by how many orders
    they alone held up. One shuffle joins lineitem⋈orders on the order
    key; one groupBy per order computes both existence tests; the
    supplier dim broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    per_order = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("__n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("__n_late"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("__late_supp"),
        )
        .filter((F.col("__n_supp") >= 2) & (F.col("__n_late") == 1))
    )
    return (
        per_order.groupBy(F.col("__late_supp").alias("s_suppkey"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), "s_suppkey")
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(20)
    )


def q22_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar AVG subquery + anti-join + substring
    grouping. No phone column in the testdata, so the country code is
    the deterministic c_custkey % 7 bucket; kept are above-average-
    balance customers with no order after 1998. The average divides
    decimal-sum by count in double with the oracle's operation order;
    balances aggregate in DECIMAL."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    d = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    avg_row = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(d("c_acctbal")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__avg")
    )
    recent = o.filter(F.col("o_orderdate") >= F.lit("1998-01-01")).select(
        "o_custkey"
    )
    return (
        c.crossJoin(F.broadcast(avg_row))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy((F.col("c_custkey") % 7).alias("cust_group"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(d("c_acctbal")).cast("double"), 4).alias("totacctbal"),
        )
        .orderBy("cust_group")
    )


def running_total_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) order total per customer — explicit ROWS
    frame, unique (orderdate, orderkey) ordering, DECIMAL accumulation
    inside the frame, round(double, 4) out. One shuffle on custkey."""
    from job_post_similarity_spark.operators import windows as W

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    run = W.running_agg(
        o,
        ["o_custkey"],
        [F.asc("o_orderdate"), F.asc("o_orderkey")],
        F.col("o_totalprice").cast("decimal(18,4)"),
        "__run",
    )
    return run.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("__run").cast("double"), 4).alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


def ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) balance quartiles within each market segment, then a
    per-(segment, quartile) rollup. Partitioned by segment — the
    global-ntile single-task trap doesn't apply."""
    from job_post_similarity_spark.operators import windows as W

    c = load_table(spark, sf_dir, "customer")
    q = W.ntile_buckets(
        c,
        ["c_mktsegment"],
        [F.asc("c_acctbal"), F.asc("c_custkey")],
        4,
        "quartile",
    )
    return (
        q.groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double"), 4
            ).alias("sum_bal"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


def order_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist of order value within each priority
    class (customer slice). Tie-stable by definition; the ratios are
    exact small-integer divisions, identical IEEE on both engines."""
    from job_post_similarity_spark.operators import windows as W

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 20)
    r = W.rank_stats(o, ["o_orderpriority"], [F.asc("o_totalprice")])
    return r.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("pct_rank"), 6).alias("pct_rank"),
        F.round(F.col("cume_dist"), 6).alias("cume_dist"),
    ).orderBy("o_orderpriority", "o_orderkey")


def rolling_value_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling sum of event value per user — a RANGE frame over
    integer epoch-µs (tie-deterministic when timestamps collide;
    integer bounds sidestep engine interval arithmetic). DECIMAL
    accumulation, round(double, 4) out."""
    from job_post_similarity_spark.operators import windows as W

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    roll = W.range_frame_agg(
        ev,
        ["user_id"],
        F.unix_micros(F.col("ts")),
        F.col("value").cast("decimal(18,4)"),
        6 * 86400 * 1_000_000,
        "__roll",
    )
    return roll.select(
        "event_id",
        "user_id",
        F.round(F.col("__roll").cast("double"), 4).alias("rolling_value"),
    ).orderBy("event_id")


def quantile_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped exact percentile profile (describe()-style continuous
    percentiles) of extended price per return flag. Rounded to 4 on
    both engines; the summary_stats gate established percentile ↔
    quantile_cont parity."""
    li = load_table(spark, sf_dir, "lineitem")
    prof = profiling.quantile_profile(li, "l_returnflag", "l_extendedprice")
    rounded = [
        F.round(F.col(c), 4).alias(c)
        for c in prof.columns
        if c.startswith("p")
    ]
    return prof.select("l_returnflag", "cnt", *rounded)


def quantile_disc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_DISC per event type — actual data values selected by
    cume_dist threshold, bit-identical across engines by construction
    (no interpolation)."""
    ev = load_table(spark, sf_dir, "events")
    return profiling.quantile_disc(ev, "event_type", "value")


def quantile_profile_approx_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The t-digest sketch tier of the percentile profile (rows-only:
    sketch estimates are engine-specific; the tolerance-vs-exact test
    carries the accuracy claim)."""
    li = load_table(spark, sf_dir, "lineitem")
    return profiling.quantile_profile(
        li, "l_returnflag", "l_extendedprice", approx=True
    )


def sketch_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier profiling (rows-only: sketch estimates are
    engine-specific by construction): mergeable per-group DataSketches
    HLL with a union rollup row, alongside the one-row HLL++
    approx-distinct profile — the 100 TB stand-in for exact
    countDistinct."""
    from job_post_similarity_spark.operators import profiling as prof

    ev = load_table(spark, sf_dir, "events")
    per = prof.hll_distinct_by_group(ev, "event_type", "user_id")
    wide = prof.approx_distinct_counts(ev, ["user_id", "event_type"])
    return per.crossJoin(F.broadcast(wide)).orderBy(
        F.col("group_value").asc_nulls_first()
    )


def curate_corpus_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation (FineWeb/Dolma shape): strip →
    quality gate → lang gate → PII scrub → digest dedup → annotate —
    the whole composition oracle-verified as one query."""
    from job_post_similarity_spark.plans import pipeline as P

    docs = load_table(spark, sf_dir, "documents")
    return P.curate_corpus(docs)


def curation_funnel_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage surviving-row counts of the curation pipeline."""
    from job_post_similarity_spark.plans import pipeline as P

    docs = load_table(spark, sf_dir, "documents")
    return P.curation_funnel(docs)


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery decorrelated into a
    per-key min aggregate + join-back — for every part in a type
    family, the supplier row(s) achieving the minimum extended price.
    Rounds out the decorrelation family next to Q16 (anti-subquery)
    and Q17 (correlated average). The part dim is broadcast; the min
    aggregate and join-back shuffle on the part key."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    parts = p.filter(F.col("p_type").startswith("ECONOMY")).select(
        "p_partkey", "p_type"
    )
    li2 = li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
    per_part = li2.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    return (
        li2.join(
            per_part,
            (li2.l_partkey == per_part.pk)
            & (li2.l_extendedprice == per_part.min_price),
        )
        .select(
            "p_partkey",
            "p_type",
            "l_suppkey",
            F.round(F.col("l_extendedprice").cast("double"), 4).alias(
                "min_price"
            ),
        )
        .orderBy("p_partkey", "l_suppkey")
    )


def srp_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall gate the driver can grade (reference behavior:
    app/evaluation.py:103-180's qualitative check, made quantitative):
    exact top-1 neighbor per query (vec_id < 50) vs the relational
    SRP-LSH search's top-1, emitting (n_queries, n_found, recall_x100).

    SRP params (2 bits × 32 bands) make candidate recall on the
    fixtures deterministically 100% (per-query miss probability
    (1-(1-θ/π)²)³² < 1e-6 at the fixtures' top-1 cosine range), so the
    DuckDB oracle derives the same single row from the exact
    computation alone — hash equality asserts the whole SRP path
    (signatures → banding → candidate join → verify → rank)
    reproduces the exact result."""
    from job_post_similarity_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 50)
    exact = knn.knn_join(
        queries_df, "vec_id", "embedding", k=1, right=emb
    ).select("query_id", F.col("neighbor_id").alias("exact_nbr"))
    srp = ann.srp_topk_search(
        queries_df, emb, k=1, bits_per_band=2, num_bands=32
    ).select("query_id", F.col("neighbor_id").alias("srp_nbr"))
    joined = exact.join(srp, "query_id", "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum((F.col("srp_nbr") == F.col("exact_nbr")).cast("long")).alias(
            "n_found"
        ),
    ).select(
        "n_queries",
        "n_found",
        F.floor(F.col("n_found") * 100 / F.col("n_queries")).alias(
            "recall_x100"
        ),
    )


def _planted_twin_recall(spark, sf_dir, ann_topk) -> DataFrame:
    """Shared harness for the ANN recall gates: queries are PLANTED
    TWINS — the first 50 corpus vectors re-keyed to ``vec_id+100000``
    — so the exact top-1 neighbor is the twin at cosine ~1.0 (max
    cross cosine on the fixtures ≈ 0.55: a ≥0.45 margin), and every
    correctly-implemented ANN tier must retrieve it:

    - IVF(-Flat/-PQ): the query vector is bit-identical to the twin,
      so its nearest coarse centroid IS the twin's build bucket
      (same BLAS expression + stable tie-break on both sides) — the
      twin is always a candidate;
    - PQ/IVF-PQ ADC: the twin's asymmetric distance is exactly its
      own quantization error (ε² ≈ 0.25 at m=8/bits=8 on 64-dim
      vectors, rate-distortion 256^(-2/8)·‖x‖²), far below any other
      vector's ≈ ‖q−u‖² + ε_u² ≥ 0.9 — and the k>1 tiers only need
      the twin within top-k.

    Recall is therefore deterministically 100 for any same-
    distribution regeneration of the fixtures, which is what lets the
    DuckDB oracle derive the single output row from the exact side
    alone (the ``srp_recall_vs_exact`` pattern, made non-vacuous: the
    bucket routing under test is real, not probed-everywhere)."""
    emb = load_table(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    exact = knn.knn_join(
        twins, "vec_id", "embedding", k=1, right=emb
    ).select("query_id", F.col("neighbor_id").alias("exact_nbr"))
    approx = ann_topk(twins, emb).select(
        "query_id", F.col("neighbor_id").alias("ann_nbr")
    )
    per_q = (
        exact.join(approx, "query_id", "left")
        .groupBy("query_id")
        .agg(
            F.max(
                F.coalesce(
                    (F.col("ann_nbr") == F.col("exact_nbr")).cast("long"),
                    F.lit(0),
                )
            ).alias("hit")
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("hit").alias("n_found"),
    ).select(
        "n_queries",
        "n_found",
        F.floor(F.col("n_found") * 100 / F.col("n_queries")).alias(
            "recall_x100"
        ),
    )


def ivf_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat search recall vs the exact tier (driver-gradable twin
    of the rows-only ``ivf_similarity_pairs``; reference index family
    app/vector_search.py:42-47 'IVF…,Flat'): planted-twin queries
    through ``ann.ivf_topk_search`` (16 coarse centroids, 2 probes —
    real pruning: ~7/8 of the corpus is never scored per query)."""
    from job_post_similarity_spark.operators import ann

    return _planted_twin_recall(
        spark,
        sf_dir,
        lambda q, c: ann.ivf_topk_search(
            q, c, k=1, n_centroids=16, n_probe=2
        ),
    )


def pq_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC search recall vs the exact tier (driver-gradable twin of
    the rows-only ``pq_adc_search``): the corpus is COMPRESSED to
    8-byte codes (m=8 × 8-bit codebooks), planted-twin queries scored
    by asymmetric distance only — the gate proves the whole
    train→encode→ADC-search path ranks the twin into the top-3
    despite quantization."""
    from job_post_similarity_spark.operators import ann

    def run(q, c):
        books = ann.pq_train(c, "embedding", m=8, bits=8)
        codes = ann.pq_encode(c, books, "vec_id", "embedding")
        return ann.pq_topk_search(q, codes, books, k=3)

    return _planted_twin_recall(spark, sf_dir, run)


def ivfpq_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (residual) search recall vs the exact tier
    (driver-gradable twin of the rows-only ``ivfpq_search``; Faiss
    IndexIVFPQ shape): coarse-probe 2 of √n buckets, residual-encode,
    per-(query,bucket) ADC tables — twin must rank top-3."""
    from job_post_similarity_spark.operators import ann

    return _planted_twin_recall(
        spark,
        sf_dir,
        lambda q, c: ann.ivfpq_topk_search(
            q, c, k=3, m=8, bits=8, n_probe=2, residual=True
        ),
    )


# per-(sf_dir, limit) memo for the clustered graph fixture: the
# corpus derivation, entry points and query ids are INDEX-BUILD-time
# constants (default_graph_entries: "compute once per index build and
# reuse across serving batches") — re-deriving them per serving batch
# would charge fixture prep to every serve call
_CLUSTERED_EMB_CACHE: dict = {}


def _serve_plan_memo(key: tuple, states: tuple, build):
    """A memoized serve plan, reused only while every state object it
    closes over is still the one it was built from (identity, not
    equality — ADVICE r13 #3): a rebuilt or replaced state entry gets
    a fresh plan instead of one that reads its predecessor's
    (possibly released) relations."""
    memo = _CLUSTERED_EMB_CACHE.get(key)
    if memo is None or any(a is not b for a, b in zip(memo[0], states)):
        memo = (states, build())
        _CLUSTERED_EMB_CACHE[key] = memo
    return memo[1]


def _spark_key(spark: SparkSession) -> str:
    """Cache key for per-session fixture memos: the application id is
    unique per SparkContext, unlike id(spark) — a recycled object
    address from a stopped session must never serve persisted
    DataFrames bound to a dead context."""
    return spark.sparkContext.applicationId


def _clustered_emb_corpus(
    spark: SparkSession, sf_dir: str, limit: int | None = None,
    n_clusters: int = 32,
):
    """The graph-tier fixture: a 32-cluster corpus derived
    DETERMINISTICALLY from the embeddings table (+2.0 on dimension c
    before renorm, c = rank block) — the navigable regime NN-Descent
    and beam search are documented for (random unit vectors admit no
    graph structure). Rank-based clusters so the derivation is
    id-LAYOUT independent (identical to an id stride on consecutive-id
    driver fixtures; still a real clustered workload on the
    key-shifted sf1x corpus in tools/scale_curve.py). Returns
    (persisted (vec_id, rk, embedding), n, cluster step)."""
    import math

    from job_post_similarity_spark.operators.windows import (
        global_rank_with_total,
    )

    key = (_spark_key(spark), sf_dir, limit, n_clusters)
    hit = _CLUSTERED_EMB_CACHE.get(key)
    if hit is not None:
        return hit
    raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    if limit is not None:
        raw = raw.filter(F.col("vec_id") < limit)
    ranked, n = global_rank_with_total(raw, [F.col("vec_id")], out_col="rk")
    step = math.ceil(n / n_clusters)
    c = ((F.col("rk") - 1) / F.lit(step)).cast("int")
    arr = F.col("embedding").cast("array<double>")
    v2 = F.transform(
        arr,
        lambda x, i: x + F.when(i == c, F.lit(2.0)).otherwise(F.lit(0.0)),
    )
    norm = F.sqrt(F.aggregate(v2, F.lit(0.0), lambda a, x: a + x * x))
    clustered = ranked.select(
        "vec_id",
        "rk",
        F.transform(v2, lambda x: x / norm).alias("embedding"),
    ).transform(cache_auto)  # feeds graph build, entry/query picks, and scoring
    out = (clustered, n, step)
    _CLUSTERED_EMB_CACHE[key] = out
    return out


def _graph_fixture_picks(clustered, n: int, step: int):
    """The graph gates' shared entry/query selection (one beam entry
    per rank-block cluster — HNSW's upper-layer role — and 50
    stride-spread query ids). ONE definition so the serve bench and
    the recall gate provably grade/serve the same sets (two drifting
    copies would silently decouple the bench from its correctness
    gate). Bounded collects: ≤ n_clusters + 50 driver scalars."""
    entries = [
        r["vec_id"]
        for r in clustered.filter((F.col("rk") - 1) % step == 0)
        .select("vec_id")
        .collect()
    ]
    qstep = max(1, n // 50)
    qids = [
        r["vec_id"]
        for r in clustered.filter((F.col("rk") - 1) % qstep == 0)
        .orderBy("rk")
        .limit(50)
        .select("vec_id")
        .collect()
    ]
    return entries, qids


def graph_recall_vs_exact_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Closed-loop GRAPH-INDEX serving benchmark at SF scale (VERDICT
    r6 item 4; the reference default is HNSW32, app/main.py:47):
    NN-Descent builds the k=8 graph over a CLUSTERED corpus derived
    deterministically from the embeddings table (32 contiguous-RANK
    clusters: +2.0 on dimension c before renorm — the graph tier's
    documented regime, like IVF; random unit vectors admit no
    navigable structure), then ``graph_beam_search`` serves 50
    stride-spread queries with one entry point per cluster (the
    ``entries`` API — HNSW's upper-layer role) and 4 hops. recall@1
    vs the exact tier is 50/50 at sf0.001/0.01/0.1 (measured,
    deterministic: integer micro-dots + total order); the gate emits
    the floor form (≥ 0.9) so a fixture regeneration that costs one
    borderline query cannot red-shift the hash."""
    from job_post_similarity_spark.operators import ann

    clustered, n, step = _clustered_emb_corpus(spark, sf_dir)
    emb = clustered.select("vec_id", "embedding")
    graph = ann.nn_descent_knn_graph(emb, k=8, iters=3)
    entries, qids = _graph_fixture_picks(clustered, n, step)
    served = ann.graph_beam_search(
        emb, graph, qids, k=1, beam=40, hops=4, entries=entries
    )
    exact = knn.knn_join(
        emb.filter(F.col("vec_id").isin(qids)),
        "vec_id",
        "embedding",
        k=1,
        right=emb,
    ).select("query_id", F.col("neighbor_id").alias("exact_nbr"))
    joined = exact.join(
        served.select("query_id", F.col("neighbor_id").alias("g_nbr")),
        "query_id",
        "left",
    )
    agg = joined.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(
            F.coalesce(
                (F.col("g_nbr") == F.col("exact_nbr")).cast("long"),
                F.lit(0),
            )
        ).alias("n_found"),
    )
    return agg.select(
        "n_queries",
        F.lit(900000).cast("long").alias("recall_floor_ppm"),
        (
            F.col("n_found") * 1000000 >= F.col("n_queries") * 900000
        ).alias("floor_met"),
    )


def graph_refresh_equals_cold_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental graph maintenance gate (VERDICT r7 item 5): after
    appending 50 bit-identical twins to a 400-row clustered corpus,
    ``ann.nn_descent_refresh`` (warm-start from the old graph's edges,
    2 rounds) must produce EXACTLY the cold 3-round rebuild over the
    union — both converge to the unique kNN graph (integer micro-dots
    + (dot DESC, id ASC) total order make the converged answer
    engine-independent and tie-free). Closed-form expectation:
    450·8 = 3600 edges each, zero differing rows."""
    from job_post_similarity_spark.operators import ann

    clustered, n, step = _clustered_emb_corpus(spark, sf_dir, limit=400)
    emb = clustered.select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"), "embedding"
    )
    union = emb.unionByName(twins)
    old = ann.nn_descent_knn_graph(emb, k=8, iters=3)
    cold = ann.nn_descent_knn_graph(union, k=8, iters=3).transform(cache_auto)
    ref = ann.nn_descent_refresh(union, old, k=8, iters=2).transform(cache_auto)
    cols = ["id", "neighbor_id", "rank", "sim_ppm"]
    try:
        # eager scalars so the persisted edge tables can be released
        # before returning (a lazy plan over them would either leak
        # the persists or recompute both builds at collect time)
        n_cold = cold.count()
        n_ref = ref.count()
        n_diff = (
            cold.select(*cols)
            .exceptAll(ref.select(*cols))
            .unionAll(ref.select(*cols).exceptAll(cold.select(*cols)))
            .count()
        )
    finally:
        cold.unpersist()
        ref.unpersist()
    return spark.createDataFrame(
        [(n_cold, n_ref, n_diff, n_diff == 0)],
        "n_edges_cold long, n_edges_refresh long, n_diff long, "
        "refresh_equals_cold boolean",
    )


def graph_build_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLD NN-Descent build over the full clustered corpus — the
    BUILD half of the graph bench split (VERDICT r7 item 4: the fused
    graph_recall_vs_exact gate hid serving latency inside 23% of the
    bench; the reference logs build and search time separately,
    app/main.py:226-230). Returns the n·k edge table. Rows-only by
    scale (the build algorithm itself is hash-graded by the unrolled
    replay in ``nn_descent_graph_embeddings``)."""
    from job_post_similarity_spark.operators import ann

    clustered, n, step = _clustered_emb_corpus(spark, sf_dir)
    return ann.nn_descent_knn_graph(
        clustered.select("vec_id", "embedding"), k=8, iters=3
    )


def graph_serve_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure SERVING latency against the MEMOIZED graph artifact — the
    SERVE half of the bench split: ``index_store.load_or_build_knn_
    graph`` builds + stores on the first invocation and every later
    call loads the parquet edge table (the reference's
    load-instead-of-rebuild, app/main.py:177-194), so bench's
    min-of-3 measures beam search alone. The artifact path carries a
    corpus content fingerprint — a regenerated fixture can never be
    served a stale graph. Rows-only by scale (serving correctness is
    hash-graded by ``graph_beam_search_embeddings`` and the
    ``graph_recall_vs_exact_embeddings`` floor gate)."""
    import os as _os
    import tempfile

    from job_post_similarity_spark.operators import ann, index_store

    clustered, n, step = _clustered_emb_corpus(spark, sf_dir)
    emb = clustered.select("vec_id", "embedding")
    # entry points, query ids, and the content-fingerprinted artifact
    # path are index-build-time constants — memoized beside the corpus
    # so repeated serving batches pay beam search only
    ck = (_spark_key(spark), sf_dir, "serve_fixture")
    hit = _CLUSTERED_EMB_CACHE.get(ck)
    if hit is None:
        fp = emb.select(
            F.sum(
                F.pmod(
                    F.xxhash64("vec_id", "embedding"),
                    F.lit(1_000_000_007),
                )
            ).alias("fp")
        ).first()["fp"]
        path = _os.path.join(
            tempfile.gettempdir(), f"jps_graph_store_{n}_{fp}"
        )
        entries, qids = _graph_fixture_picks(clustered, n, step)
        hit = (path, entries, qids)
        _CLUSTERED_EMB_CACHE[ck] = hit
    path, entries, qids = hit
    # the loaded edge table is RAM-resident across serving batches —
    # HNSW serves from memory; the reference loads the index once and
    # searches many times (app/main.py:177-194). First call pays
    # build+store+load, every later call is pure beam search.
    gk = (_spark_key(spark), sf_dir, "serve_graph")
    hit2 = _CLUSTERED_EMB_CACHE.get(gk)
    if hit2 is None:
        graph, _ = index_store.load_or_build_knn_graph(
            spark, emb, path, k=8, iters=3, n_rows=n
        )
        graph = graph.transform(cache_auto)
        graph.count()
        # flat-tier warm-serving state (r10): the (node, qv, nxts)
        # navigation table is corpus-invariant — materialize once
        # beside the graph so min-of-N measures navigation alone,
        # not per-batch adjacency grouping/planning
        nav_tab = ann.graph_nav_table(emb, graph).localCheckpoint()
        hit2 = (graph, nav_tab)
        _CLUSTERED_EMB_CACHE[gk] = hit2
    graph, nav_tab = hit2
    # resolved-plan reuse (NOT result caching): the serving batch is
    # fixed per session, so the analyzed/optimized beam-search plan is
    # serving state like the nav table — a warm server keeps its
    # compiled query plan; re-resolving the 4-hop plan per batch cost
    # ~0.6-1.5 s of pure Catalyst/py4j work. The returned DataFrame is
    # never persisted: EVERY action on it re-executes the full beam
    # search from the RAM-resident graph (per-run job/task counts are
    # unchanged — only plan construction is amortized).
    return _serve_plan_memo(
        (_spark_key(spark), sf_dir, "graph_serve_plan"),
        (hit, hit2),
        lambda: ann.graph_beam_search(
            emb, graph, qids, k=1, beam=40, hops=4, entries=entries,
            corpus_rows=n, nav_tab=nav_tab,
        ).select("query_id", "neighbor_id"),
    )


def graph_auto_entry_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OUT-OF-THE-BOX graph serving gate (VERDICT r8 item 2): the
    public facade ``ann.graph_topk_search`` with NO entry points
    passed must navigate the whole 32-cluster fixture — entries are
    provisioned ENGINE-SIDE (``ann.default_graph_entries``' global-
    rank stride, one id per coarse region: the role HNSW's layer
    hierarchy plays for the reference, app/vector_search.py:42-47,
    where the caller never supplies entries either). A converged kNN
    graph over clustered data has no inter-cluster edges, so without
    this provisioning the beam-smallest default strands every cluster
    its entries miss — ``graph_recall_vs_exact_embeddings`` proves
    the MANUAL entries API; this gate proves the caller doesn't need
    to know it exists. recall@1 vs the exact tier is 50/50 at
    sf0.001/0.01/0.1 (measured, deterministic); floor form so a
    borderline fixture regeneration cannot red-shift the hash. The
    facade's own defaults throughout (beam 16, 4 hops) — weaker than
    the manual gate's beam=40, so this also pins that default knobs
    serve clustered corpora."""
    from job_post_similarity_spark.operators import ann, index_store

    clustered, n, step = _clustered_emb_corpus(spark, sf_dir)
    emb = clustered.select("vec_id", "embedding")
    hit = _CLUSTERED_EMB_CACHE.get((_spark_key(spark), sf_dir, "serve_fixture"))
    if hit is None:
        # build + store the artifact through the serve entry's path
        graph_serve_embeddings(spark, sf_dir)
        hit = _CLUSTERED_EMB_CACHE[(_spark_key(spark), sf_dir, "serve_fixture")]
    path, _entries, qids = hit
    graph, _ = index_store.load_or_build_knn_graph(
        spark, emb, path, k=8, iters=3
    )
    queries = emb.filter(F.col("vec_id").isin(qids))
    served = ann.graph_topk_search(queries, emb, k=1, graph=graph)
    exact = knn.knn_join(
        queries, "vec_id", "embedding", k=1, right=emb
    ).select("query_id", F.col("neighbor_id").alias("exact_nbr"))
    joined = exact.join(
        served.filter(F.col("rank") == 1).select(
            "query_id", F.col("neighbor_id").alias("g_nbr")
        ),
        "query_id",
        "left",
    )
    agg = joined.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(
            F.coalesce(
                (F.col("g_nbr") == F.col("exact_nbr")).cast("long"),
                F.lit(0),
            )
        ).alias("n_found"),
    )
    return agg.select(
        "n_queries",
        F.lit(900000).cast("long").alias("recall_floor_ppm"),
        (
            F.col("n_found") * 1000000 >= F.col("n_queries") * 900000
        ).alias("floor_met"),
    )


def hnsw_descent_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL-HNSW-SHAPE serving gate (round 9): the layered hierarchy
    (``ann.hnsw_hierarchy_build`` — deterministic md5 geometric
    levels, exact tiny upper layers, the stored NN-Descent graph as
    layer 0) serves the 32-cluster fixture by TOP-DOWN DESCENT
    (``ann.hnsw_topk_search``) with NO entries, NO rank stride, NO
    kmeans++ provisioning — the upper layers themselves are the
    navigability mechanism, exactly the role they play in the
    reference's default HNSW32 index (app/vector_search.py:42-47,
    app/main.py:47). recall@1 vs the exact tier is 50/50 at
    sf0.001/0.01/0.1 (measured, deterministic); floor form so a
    borderline fixture regeneration cannot red-shift the hash."""
    from job_post_similarity_spark.operators import ann, index_store

    clustered, n, step = _clustered_emb_corpus(spark, sf_dir)
    emb = clustered.select("vec_id", "embedding")
    hit = _CLUSTERED_EMB_CACHE.get((_spark_key(spark), sf_dir, "serve_fixture"))
    if hit is None:
        # build + store the artifact through the serve entry's path
        graph_serve_embeddings(spark, sf_dir)
        hit = _CLUSTERED_EMB_CACHE[(_spark_key(spark), sf_dir, "serve_fixture")]
    path, _entries, qids = hit
    graph, _ = index_store.load_or_build_knn_graph(
        spark, emb, path, k=8, iters=3
    )
    hier_meta: dict = {}
    hier = ann.hnsw_hierarchy_build(
        emb, k=8, iters=3, corpus_rows=n, base_graph=graph,
        meta=hier_meta,
    )
    queries = emb.filter(F.col("vec_id").isin(qids))
    served = ann.hnsw_topk_search(
        queries, emb, k=1, hierarchy=hier, corpus_rows=n,
        query_rows=len(qids), top_layer=hier_meta["top_layer"],
        layer_sizes=hier_meta["layer_sizes"],
        size_cap=hier_meta.get("size_cap"),
    )
    exact = knn.knn_join(
        queries, "vec_id", "embedding", k=1, right=emb
    ).select("query_id", F.col("neighbor_id").alias("exact_nbr"))
    joined = exact.join(
        served.filter(F.col("rank") == 1).select(
            "query_id", F.col("neighbor_id").alias("g_nbr")
        ),
        "query_id",
        "left",
    )
    agg = joined.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(
            F.coalesce(
                (F.col("g_nbr") == F.col("exact_nbr")).cast("long"),
                F.lit(0),
            )
        ).alias("n_found"),
    )
    return agg.select(
        "n_queries",
        F.lit(900000).cast("long").alias("recall_floor_ppm"),
        (
            F.col("n_found") * 1000000 >= F.col("n_queries") * 900000
        ).alias("floor_met"),
    )


def hnsw_serve_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm LAYERED-DESCENT serving latency — the bench row for the
    full-HNSW tier: the hierarchy is built once per session (layer 0
    adopted from the shared stored graph artifact, upper layers +
    skip edges on top) and kept RAM-resident; min-of-N then measures
    the top-down descent alone — the per-batch number a
    VectorSearch('HNSW32') user would pay once the index is loaded
    (reference loads once and searches many, app/main.py:177-194).
    Rows-only by scale (recall is hash-graded by
    ``hnsw_descent_recall_embeddings``)."""
    from job_post_similarity_spark.operators import ann, index_store

    clustered, n, step = _clustered_emb_corpus(spark, sf_dir)
    emb = clustered.select("vec_id", "embedding")
    hit = _CLUSTERED_EMB_CACHE.get((_spark_key(spark), sf_dir, "serve_fixture"))
    if hit is None:
        graph_serve_embeddings(spark, sf_dir)
        hit = _CLUSTERED_EMB_CACHE[(_spark_key(spark), sf_dir, "serve_fixture")]
    path, _entries, qids = hit
    hk = (_spark_key(spark), sf_dir, "hnsw_hier")
    cached = _CLUSTERED_EMB_CACHE.get(hk)
    if cached is None:
        graph, _ = index_store.load_or_build_knn_graph(
            spark, emb, path, k=8, iters=3, n_rows=n
        )
        meta: dict = {}
        # localCheckpoint (not persist): the hierarchy is SERVING
        # STATE — lineage-free, so the descent/insert plans that
        # reference it 3-4 times each stay shallow (a cached-but-
        # lineaged hierarchy re-pays Catalyst optimization of the
        # whole build plan per serving call — measured 15 s vs 5 s
        # on the insert path at 2k rows)
        hier = ann.hnsw_hierarchy_build(
            emb, k=8, iters=3, corpus_rows=n, base_graph=graph,
            meta=meta,
        ).localCheckpoint()
        # the navigation state is SERVING STATE (VERDICT r9 item 2),
        # built once with the hierarchy: the membership table (the
        # insert row's warm state) and, within the broadcast cap, the
        # HnswSnapshot that serves each batch from driver-held arrays
        # (a loaded Faiss HNSW pays zero per-query setup —
        # app/vector_search.py:241-294)
        nav = ann.hnsw_nav_members(
            emb, m=2, top_layer=meta["top_layer"]
        ).transform(cache_auto)
        nav.count()
        state = ann.hnsw_serving_state(
            emb, hier, meta["top_layer"], nav_members=nav,
            corpus_rows=n, layer_sizes=meta["layer_sizes"],
            size_cap=meta.get("size_cap"),
        )
        cached = (hier, meta["top_layer"], meta["layer_sizes"],
                  meta.get("size_cap"), nav, state)
        _CLUSTERED_EMB_CACHE[hk] = cached
    hier, top, sizes, cap, nav, state = cached

    def serve():
        return ann.hnsw_topk_search(
            emb.filter(F.col("vec_id").isin(qids)), emb, k=1,
            hierarchy=hier, corpus_rows=n, query_rows=len(qids),
            top_layer=top, layer_sizes=sizes, size_cap=cap,
            nav_members=nav, serving_state=state,
        ).select("query_id", "neighbor_id")

    if isinstance(state, ann.HnswSnapshot):
        # the snapshot serves a 50-query batch on the driver when
        # hnsw_topk_search is called, so the call IS the descent:
        # memoizing its frame would memoize the answer
        return serve()
    # resolved-plan reuse, like graph_serve_embeddings: the descent
    # plan over the RAM-resident hierarchy is serving state; every
    # action still re-executes the full descent (no persist on the
    # output), only per-batch Catalyst/py4j plan construction is
    # amortized.
    return _serve_plan_memo(
        (_spark_key(spark), sf_dir, "hnsw_serve_plan"), (hit, cached), serve
    )


def graph_refresh_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-start REFRESH latency against the stored graph — the
    maintenance half of the bench split (VERDICT r7 item 5's "refresh
    ≪ rebuild" evidence): 50 twin rows are appended to the full
    clustered corpus and ``ann.nn_descent_refresh`` re-converges the
    union in 2 warm rounds from the memoized artifact
    (``graph_serve_embeddings`` builds/stores it), vs
    ``graph_build_embeddings``'s 3 cold rounds. Rows-only by scale
    (refresh ≡ cold is hash-graded by
    ``graph_refresh_equals_cold_embeddings``)."""
    from job_post_similarity_spark.operators import ann, index_store

    clustered, n, step = _clustered_emb_corpus(spark, sf_dir)
    emb = clustered.select("vec_id", "embedding")
    hit = _CLUSTERED_EMB_CACHE.get((_spark_key(spark), sf_dir, "serve_fixture"))
    if hit is None:
        # build + store the artifact through the serve entry's path
        graph_serve_embeddings(spark, sf_dir)
        hit = _CLUSTERED_EMB_CACHE[(_spark_key(spark), sf_dir, "serve_fixture")]
    path = hit[0]
    # resident stored graph (VERDICT r10 item 5: the refresh path
    # reused nothing from the warm server) — a warm server keeps the
    # edge table in RAM beside its nav state; re-reading the parquet
    # artifact per refresh call paid a scan + re-plan each time
    rk = (_spark_key(spark), sf_dir, "refresh_old_graph")
    old = _CLUSTERED_EMB_CACHE.get(rk)
    if old is None:
        old, _ = index_store.load_or_build_knn_graph(
            spark, emb, path, k=8, iters=3
        )
        old = old.localCheckpoint()
        _CLUSTERED_EMB_CACHE[rk] = old
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"), "embedding"
    )
    union = emb.unionByName(twins)
    return ann.nn_descent_refresh(union, old, k=8, iters=2)


def hnsw_insert_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental HIERARCHY maintenance latency — the bench row for
    ``ann.hnsw_hierarchy_insert`` (VERDICT r9 item 4): 50 twin rows
    appended to the full clustered corpus repair the RAM-resident
    layered hierarchy per layer (layer 0 via graph_insert into the
    stored edge artifact, upper layers only where a twin's md5 level
    reaches), vs ``hnsw_serve_embeddings``'s build half which pays
    the full hierarchy. Cost ∝ new rows — the add-amortization claim
    a VectorSearch('HNSW32') user relies on (reference index.add,
    app/vector_search.py:85-141). Rows-only by scale (insert ≡
    rebuilt is hash-graded by ``hierarchy_insert_exact_embeddings``)."""
    from job_post_similarity_spark.operators import ann, index_store

    clustered, n, step = _clustered_emb_corpus(spark, sf_dir)
    emb = clustered.select("vec_id", "embedding")
    hit = _CLUSTERED_EMB_CACHE.get((_spark_key(spark), sf_dir, "serve_fixture"))
    if hit is None:
        graph_serve_embeddings(spark, sf_dir)
        hit = _CLUSTERED_EMB_CACHE[(_spark_key(spark), sf_dir, "serve_fixture")]
    path, _entries, qids = hit
    hk = (_spark_key(spark), sf_dir, "hnsw_hier")
    cached = _CLUSTERED_EMB_CACHE.get(hk)
    if cached is None:
        hnsw_serve_embeddings(spark, sf_dir)
        cached = _CLUSTERED_EMB_CACHE[hk]
    hier, top, sizes, cap, nav, state = cached
    # warm-maintenance sizes: the builder's meta stops at the stored
    # top, so the repair's stopping-rule check at layer top+1 paid a
    # bounded count probe PER CALL; the membership table (persisted
    # serving state) covers top+1, so its size is an index-build-time
    # constant — memoized beside the rest of the warm state. One job
    # once instead of one per insert; the probed value is identical.
    sk = (_spark_key(spark), sf_dir, "hnsw_sizes_ins")
    sizes_ins = _CLUSTERED_EMB_CACHE.get(sk)
    if sizes_ins is None:
        sizes_ins = dict(sizes)
        sizes_ins[top + 1] = (
            nav.filter(F.col("layer") == top + 1).count()
        )
        _CLUSTERED_EMB_CACHE[sk] = sizes_ins
    # the flat tier's cached (node, qv, nxts) table covers exactly
    # the hierarchy's layer 0 (the hierarchy adopts the same stored
    # artifact as its base graph) — warm maintenance reuses it for
    # the insert navigation
    gk = (_spark_key(spark), sf_dir, "serve_graph")
    flat = _CLUSTERED_EMB_CACHE.get(gk)
    nav_tab = flat[1] if flat is not None else None
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"), "embedding"
    )
    return ann.hnsw_hierarchy_insert(
        emb, hier, twins, corpus_rows=n, nav_tab=nav_tab,
        # warm serving state: the resident membership table + stored
        # layer sizes make each repaired layer probe only the 50 new
        # rows instead of md5-rescanning the corpus per layer.
        # entries: the fixture's memoized picks ARE
        # default_graph_entries(emb) — _graph_fixture_picks applies
        # the same ceil(n/32) stride over the same vec_id global rank
        # (pinned by test_fixture_entries_equal_default_graph_entries)
        # — so passing them skips the per-call rank job + collect the
        # layer-0 repair paid to re-derive them.
        nav_members=nav, old_layer_sizes=sizes_ins, old_top_layer=top,
        entries=_entries,
    ).groupBy("layer").agg(
        F.count(F.lit(1)).alias("n_edges")
    ).orderBy("layer")


def graph_insert_exact_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HNSW-style per-row insert gate (``ann.graph_insert``): after
    inserting 50 planted twins into the exact 400-row clustered graph
    via beam navigation + reverse fan-in repair, the result must equal
    the BRUTE-FORCE exact kNN graph of the union — a STRICTLY STRONGER
    contract than refresh-equals-cold (the 3-round cold build misses
    ~100 twin edges on this fixture; insert finds them all). The exact
    reference is an all-pairs integer micro-dot top-k — quadratic, but
    over a 450-row bounded gate fixture only (the knn-oracle-tier
    pattern). Closed-form expectation: 3600 edges each, zero diffs."""
    from job_post_similarity_spark.operators import ann
    from job_post_similarity_spark.operators.ann import (
        _SIM_PPM_SQL,
        _int_dot,
        _micro_quant,
    )
    from pyspark.sql.window import Window

    clustered, n, step = _clustered_emb_corpus(spark, sf_dir, limit=400)
    emb = clustered.select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"), "embedding"
    )
    union = emb.unionByName(twins)
    old = ann.nn_descent_knn_graph(emb, k=8, iters=3)
    entries, _qids = _graph_fixture_picks(clustered, n, step)
    ins = ann.graph_insert(
        emb, old, twins, k=8, beam=40, hops=4, entries=entries
    ).transform(cache_auto)

    q = union.select(
        F.col("vec_id").alias("id"), _micro_quant("embedding").alias("q")
    )
    w = Window.partitionBy("src").orderBy(F.desc("dot"), F.asc("dst"))
    exact = (
        q.alias("a")
        .join(q.alias("b"), F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("src"),
            F.col("b.id").alias("dst"),
            _int_dot("a.q", "b.q").alias("dot"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .select(
            F.col("src").alias("id"),
            F.col("dst").alias("neighbor_id"),
            F.col("rn").cast("int").alias("rank"),
            F.expr(_SIM_PPM_SQL).cast("long").alias("sim_ppm"),
        )
        .transform(cache_auto)
    )
    cols = ["id", "neighbor_id", "rank", "sim_ppm"]
    try:
        n_ins = ins.count()
        n_exact = exact.count()
        n_diff = (
            ins.select(*cols)
            .exceptAll(exact.select(*cols))
            .unionAll(exact.select(*cols).exceptAll(ins.select(*cols)))
            .count()
        )
    finally:
        ins.unpersist()
        exact.unpersist()
    return spark.createDataFrame(
        [(n_ins, n_exact, n_diff, n_diff == 0)],
        "n_edges_insert long, n_edges_exact long, n_diff long, "
        "insert_equals_exact boolean",
    )


def hierarchy_insert_exact_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental HIERARCHY maintenance gate (round 10 —
    ``ann.hnsw_hierarchy_insert``):
    insert 50 planted twins into the layered hierarchy built over the
    exact 400-row clustered graph, repairing each layer the twins'
    md5 levels touch — the result must equal the hierarchy REBUILT
    over the union from the brute-force exact union layer-0 graph,
    byte for byte across every layer (skip edges included; the
    exact-tier layers rebuild over union members, layer 0 carries the
    r9 insert gate's strictly-stronger-than-cold contract). The
    reference keeps its HNSW levels incremental on add
    (app/vector_search.py:85-141) — this proves ours does too."""
    from pyspark.sql.window import Window

    from job_post_similarity_spark.operators import ann
    from job_post_similarity_spark.operators.ann import (
        _SIM_PPM_SQL,
        _int_dot,
        _micro_quant,
    )

    clustered, n, step = _clustered_emb_corpus(spark, sf_dir, limit=400)
    emb = clustered.select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"), "embedding"
    )
    union = emb.unionByName(twins)
    entries, _qids = _graph_fixture_picks(clustered, n, step)

    def exact_topk(frame):
        # plain exact top-8 (no skips) — the layer-0 reference
        q = frame.select(
            F.col("vec_id").alias("id"),
            _micro_quant("embedding").alias("q"),
        )
        w = Window.partitionBy("src").orderBy(F.desc("dot"), F.asc("dst"))
        return (
            q.alias("a")
            .join(q.alias("b"), F.col("a.id") != F.col("b.id"))
            .select(
                F.col("a.id").alias("src"),
                F.col("b.id").alias("dst"),
                _int_dot("a.q", "b.q").alias("dot"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 8)
            .select(
                F.col("src").alias("id"),
                F.col("dst").alias("neighbor_id"),
                F.col("rn").cast("int").alias("rank"),
                F.expr(_SIM_PPM_SQL).cast("long").alias("sim_ppm"),
            )
        )

    meta: dict = {}
    hier = ann.hnsw_hierarchy_build(
        emb, k=8, iters=3, entry_budget=8,
        base_graph=exact_topk(emb), corpus_rows=400, meta=meta,
    )
    ins_meta: dict = {}
    ins = ann.hnsw_hierarchy_insert(
        emb, hier, twins, k=8, entry_budget=8, corpus_rows=400,
        entries=entries, meta=ins_meta,
    ).transform(cache_auto)
    want_meta: dict = {}
    want = ann.hnsw_hierarchy_build(
        union, k=8, iters=3, entry_budget=8,
        base_graph=exact_topk(union), corpus_rows=450, meta=want_meta,
    ).transform(cache_auto)
    cols = ["layer", "id", "neighbor_id", "rank", "sim_ppm"]
    try:
        n_diff = (
            ins.select(*cols)
            .exceptAll(want.select(*cols))
            .unionAll(want.select(*cols).exceptAll(ins.select(*cols)))
            .count()
        )
    finally:
        ins.unpersist()
        want.unpersist()
    return spark.createDataFrame(
        [(
            n_diff,
            ins_meta["top_layer"] == want_meta["top_layer"],
            n_diff == 0,
        )],
        "n_diff long, tops_match boolean, insert_equals_rebuild boolean",
    )


# unigram-LM gate knobs, shared by both gates and the SQL replay
# generator (one definition so they cannot drift)
_UNIGRAM_KNOBS = dict(
    vocab_size=40, iters=1, max_piece_len=3, seed_pool=60
)
# shrink-cycle gate knobs: same vocab/pool/piece-len (the DP unroll
# and seed CTEs are shared), 2 EM rounds with a 0.75 per-round prune
_UNIGRAM_SHRINK_KNOBS = dict(
    vocab_size=40, iters=2, max_piece_len=3, seed_pool=60
)
_UNIGRAM_SHRINK_FACTOR = 0.75


def unigram_train_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training
    (``text_analysis.unigram_lm_train``, Kudo 2018) — the subword
    family BPE doesn't cover. Fully deterministic (integer micro-log
    Viterbi, total-ordered cuts, add-one single-char smoothing), so
    the ENTIRE trainer — substring seeding, the EM round's distributed
    Viterbi E-step and usage M-step, the vocab prune — replays as one
    generated DuckDB query (unrolled positional DP; see
    ``_unigram_oracle``). Output: the final (piece, freq, lp6)
    vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.unigram_lm_train(docs, "text", **_UNIGRAM_KNOBS)


def unigram_loss_prune_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SentencePiece-FAITHFUL vocab prune (VERDICT r8 item 5): the
    final multi-char cut ranks by LIKELIHOOD LOSS — per piece, the
    integer micro-log corpus-likelihood drop when every word using it
    re-segments without it (Kudo 2018 §3.2's prune criterion; the
    default tier ranks by raw Viterbi usage frequency, which keeps
    cheaply-substitutable pieces the loss criterion prunes). Same
    knobs as ``unigram_train_documents``; the oracle replays the
    what-if DP with a banned-piece block per (word, path piece) pair."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.unigram_lm_train(
        docs, "text", prune="loss", **_UNIGRAM_KNOBS
    )


def unigram_shrink_train_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SentencePiece's ACTUAL training loop (Kudo §3.2 step 3): prune
    BETWEEN EM rounds — after each round's M-step, keep the top
    ``shrink_factor`` of the multi pool by likelihood loss, re-EM
    over the shrunk pool so survivors re-absorb the pruned pieces'
    probability mass, cut to vocab_size on the last round. The
    one-shot tiers (``unigram_train_documents`` frequency cut,
    ``unigram_loss_prune_documents`` loss cut) miss that trajectory
    effect — on the gate corpus all three select different
    vocabularies. Oracle: 2 rounds unrolled to 6 DP blocks."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.unigram_lm_train(
        docs, "text", prune="loss",
        shrink_factor=_UNIGRAM_SHRINK_FACTOR, **_UNIGRAM_SHRINK_KNOBS
    )


def unigram_token_count_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM ENCODE over the doc_id < 200 slice with the
    corpus-trained vocabulary: per document, the Viterbi piece count
    and summed micro-log likelihood (``unigram_viterbi_encode`` — the
    Arrow-batched serving shape). The oracle replays training AND
    re-segments every distinct word under the final scores with a
    second unrolled DP block."""
    docs = load_table(spark, sf_dir, "documents")
    pieces = text_analysis.unigram_lm_train(
        docs, "text", **_UNIGRAM_KNOBS
    )
    sl = docs.filter(F.col("doc_id") < 200).select("doc_id", "text")
    return text_analysis.unigram_viterbi_encode(
        sl, pieces, "doc_id", "text",
        max_piece_len=_UNIGRAM_KNOBS["max_piece_len"],
    )


def semantic_dedup_planted_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end (dedup.semantic_dedup, Abbas et al. 2023)
    made driver-gradable by the planted-twin contract: the corpus is
    embeddings ∪ re-keyed copies of the first 50 vectors
    (vec_id+100000). At threshold 0.99 the ONLY within-cluster pairs
    are the 50 twin pairs (max natural cosine ≈ 0.55), identical
    vectors always share an IVF bucket, and min-id representatives
    are the originals — so the survivor set is exactly the original
    table with component = own id, derivable in SQL without running
    the pipeline. Proves cluster routing, within-cluster verify,
    connected components, and the keep-one policy in one hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    out = dedup.semantic_dedup(
        emb.unionByName(twins), "vec_id", "embedding",
        threshold=0.99, n_centroids=16,
    )
    return out.select("vec_id", "semdedup_component").orderBy("vec_id")


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left-outer join + two-level aggregation —
    customers bucketed by how many orders they placed (zero included)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + single aggregate — the scan-bound
    query whose whole plan should be one codegen stage over a pruned,
    filter-pushed parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    d = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(d("l_extendedprice") * d("l_discount")).cast("double"), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def group_count_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: value_counts top-N (notebook cell 13) on o_orderpriority."""
    return profiling.group_count_topn(
        load_table(spark, sf_dir, "orders"), "o_orderpriority", n=5
    )


def null_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-column null profile (notebook cells 6/9) on events."""
    return profiling.null_profile(
        load_table(spark, sf_dir, "events"), ["value", "props", "event_type"]
    )


def distinct_counts_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: nunique (notebook cell 7) on lineitem keys."""
    return profiling.distinct_counts(
        load_table(spark, sf_dir, "lineitem"), ["l_orderkey", "l_partkey", "l_suppkey"]
    )


def summary_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: describe() (notebook cell 15) on document char lengths."""
    return profiling.summary_stats(
        load_table(spark, sf_dir, "documents"), "n_chars"
    )


def duplicate_count_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: duplicated().sum() (notebook cell 11) on (user_id, event_type)."""
    return profiling.duplicate_count(
        load_table(spark, sf_dir, "events"), ["user_id", "event_type"]
    )


def dedup_keep_first_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: drop_duplicates(keep='first') with deterministic order
    (reference: app/preprocess_data.py:59-71) — first event per
    (user_id, event_type) by (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events")
    out = preprocess.dedup_keep_first(
        ev, ["user_id", "event_type"], [F.col("ts"), F.col("event_id")]
    )
    return out.select("event_id", "user_id", "event_type", "value")


def broadcast_lookup_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: broadcast dimension lookup (reference: id→title lookups,
    app/evaluation.py:147-149) — customers per region via two broadcast
    hops."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("customer_cnt"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double"), 4
            ).alias("sum_acctbal"),
        )
        .orderBy("region_name")
    )


def window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: top-2 per group (reference: k-NN rank,
    app/vector_search.py:182-183) — top-2 orders per customer by price."""
    o = load_table(spark, sf_dir, "orders")
    out = topk.topk_per_group(
        o,
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=2,
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice").cast("double"), 4).alias("totalprice"),
        "rank",
    )


def neighbor_pivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: ranked-neighbor pivot (reference: app/evaluation.py:133-171)
    — top-3 order keys per customer widened into slot columns."""
    o = load_table(spark, sf_dir, "orders")
    ranked = topk.topk_per_group(
        o, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], k=3
    )
    return topk.neighbor_pivot(
        ranked, "o_custkey", "rank", 3, {"ID": "o_orderkey"}
    )


def sort_limit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O2: global sort desc + limit (reference: app/main.py:270,275)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        topk.sort_desc(o, "o_totalprice", ["o_orderkey"])
        .limit(10)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice").cast("double"), 4).alias("totalprice"),
        )
    )


def first_last_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: first/last row by explicit order (reference iloc[0]/iloc[-1],
    app/fetech_jd.py:79-80)."""
    docs = load_table(spark, sf_dir, "documents")
    return topk.first_last(docs, "doc_id").select("doc_id", "source", "n_chars")


def string_clean_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3/F5/F6 string cleaning on part names."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        S.strip_trailing_comma("p_name").alias("name_nocomma"),
        S.normalize_remote("p_type").alias("type_remote_norm"),
        S.clean_text("p_name").alias("name_clean"),
    )


def date_extract_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 family: timestamp parts + group count per order year."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
            ).alias("sum_price"),
        )
        .orderBy("order_year")
    )


def deterministic_sample_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 (scale tier): engine-agnostic multiplicative-hash sample, ~2%
    of lineitem rows, reproducible on any engine."""
    li = load_table(spark, sf_dir, "lineitem")
    key = F.col("l_orderkey") * 1_000_000 + F.col("l_linenumber")
    out = sampling.deterministic_sample(li, key, 0.02)
    return out.select("l_orderkey", "l_linenumber", "l_quantity")


# ------------------------------------------------------------- vector ops


def knn_exact_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 exact tier: top-1 cosine neighbor per vector, self excluded
    (reference: k=2 self-search, app/main.py:226-263)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = knn.knn_join(emb, "vec_id", "embedding", k=1)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("similarity", 4).alias("similarity"),
    )


def filtered_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED ANN (round 9 — the Faiss IDSelector role):
    top-3 neighbors among label=0 corpus rows only, for the first 30
    query vectors, via ``ann.filtered_topk_search``'s selectivity
    dispatch. label=0 is ~10% of the corpus, under the 0.15
    threshold, so the gate grades the EXACT branch (brute force over
    the filtered subset — deterministic blocked-BLAS tie contract,
    fully SQL-replayable); the unselective oversample-and-post-filter
    branch is pinned by unit test (an index filtered BEFORE
    navigation severs paths — the operator keeps the graph intact).
    The exact branch is PINNED here: the gate measures selectivity
    itself and raises if a fixture regeneration pushes label=0 past
    the threshold — dispatch silently flipping to the oversample
    branch would otherwise surface as an opaque oracle hash drift."""
    from job_post_similarity_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 30).select(
        "vec_id", "embedding"
    )
    n = emb.count()
    budget = int(n * 0.15)
    mrows = (
        emb.filter(F.col("label") == 0).limit(budget + 1).count()
    )
    if mrows > budget:
        raise AssertionError(
            "filtered_topk_embeddings gate pins the EXACT branch: "
            f"label=0 matches {mrows} rows > {budget} "
            "(15% of the corpus) — the fixture was rebalanced; "
            "re-pick the gate predicate instead of letting dispatch "
            "flip branches under the oracle"
        )
    out = ann.filtered_topk_search(
        queries,
        emb,
        F.col("label") == 0,
        k=3,
        selectivity_threshold=0.15,
        corpus_rows=n,
        matched_rows=mrows,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("similarity", 4).alias("similarity"),
        "rank",
    ).orderBy("query_id", "rank")


def similarity_pairs_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship D2+P5 chain: canonical duplicate pairs at cosine ≥ 0.4."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn.similarity_pairs(emb, "vec_id", "embedding", threshold=0.40)


def l2_cosine_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3: the L2→cosine bridge (app/evaluation.py:24-27) — verifies
    1 - L2²/2 == dot for unit vectors, per pair of consecutive ids."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("v1"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("v2"))
    pairs = a.join(b, a.id1 + 1 == b.id2)
    return pairs.select(
        "id1",
        "id2",
        F.round(V.dot_cosine("v1", "v2"), 4).alias("cos_dot"),
        F.round(V.l2_to_cosine(F.sqrt(V.sq_l2_distance("v1", "v2"))), 4).alias(
            "cos_from_l2"
        ),
    )


def cosine_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search baseline: brute-force cosine top-3 for a fixed
    query set (vec_id < 5) over the full embedding table."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    out = knn.knn_join(queries_df, "vec_id", "embedding", k=3, right=emb)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("similarity", 4).alias("similarity"),
        "rank",
    )


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector norm + normalize check: unit-norm invariant the cosine
    math relies on (reference: app/generate_embeddings.py:25-50)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(V.norm("embedding"), 4).alias("l2_norm"),
        F.round(V.norm(V.l2_normalize("embedding")), 4).alias("unit_norm"),
    )


# ---------------------------------------------------------------- text ops


def token_count_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text_analysis.token_count("text").alias("n_tokens"),
    )


def quality_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text_analysis.quality_score("text").alias("quality"),
    )


def doc_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text_analysis.doc_fingerprint("text").alias("fingerprint"),
    )


def top_ngram_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition gate: most-frequent word bigram share per document
    (doc_id < 50 slice)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return text_analysis.top_ngram_fraction(docs, "doc_id", "text", n=2)


def gopher_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gates (word count / mean word length /
    symbol ratio) over documents — integer measurements + boolean
    flags, oracle-backed."""
    docs = load_table(spark, sf_dir, "documents")
    out = text_analysis.gopher_quality_flags(docs, "text")
    return out.select(
        "doc_id", "n_words", "mean_word_len_x100", "symbol_ratio_x100",
        "pass_word_count", "pass_mean_word_len", "pass_symbol_ratio", "keep",
    )


def text_annotate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass text-annotation profile: integer counts (tokens,
    stopword hits, punct/total chars) + language + fingerprint —
    the per-document metadata a training-data pipeline attaches
    before filtering."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    sw = F.array(*[F.lit(w) for w in
                   __import__("job_post_similarity_spark.operators.text_analysis",
                              fromlist=["_LANG_MARKERS"])._LANG_MARKERS["en"]])
    return docs.select(
        "doc_id",
        text_analysis.token_count("text").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).alias("sw_hits"),
        (F.length("text")
         - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
         ).alias("n_punct"),
        F.length("text").alias("n_chars"),
        text_analysis.lang_id("text").alias("lang_pred"),
        text_analysis.doc_fingerprint("text").alias("fingerprint"),
    )


def exact_dup_clusters_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content digest on the repeating events.props."""
    ev = load_table(spark, sf_dir, "events")
    return dedup.exact_dup_clusters(ev, "props")


def ngram_jaccard_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-2-gram Jaccard pairs over a doc_id<40 slice (bigrams:
    the synthetic word-soup corpus has measurable bigram overlap but
    near-zero trigram overlap)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.05)


def tfidf_top_terms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 TF-IDF terms (score rounded BEFORE ranking so the
    chosen set is libm-independent; token asc tie-break)."""
    from job_post_similarity_spark.operators.text_analysis import (
        tf_idf_top_terms,
    )

    docs = load_table(spark, sf_dir, "documents")
    return tf_idf_top_terms(docs, "text", "doc_id", top_n=3)


def keep_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/upsert compaction: latest event per (user_id, event_type)
    by ts, event_id tie-break — the apply-changes-to-snapshot shape."""
    from job_post_similarity_spark.operators.preprocess import keep_latest

    ev = load_table(spark, sf_dir, "events")
    return (
        keep_latest(
            ev,
            ["user_id", "event_type"],
            [F.col("ts").desc(), F.col("event_id").desc()],
        )
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type")
    )


def merge_upsert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics over snapshots: target = events below id
    8000, changelog = events from id 6000 up ('error' rows are
    tombstones, others full-row upserts with a value bump). Matched
    rows update, new keys insert, tombstones delete."""
    from job_post_similarity_spark.operators.cdc import merge_upsert

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    target = ev.filter(F.col("event_id") < 8000)
    source = (
        ev.filter(F.col("event_id") >= 6000)
        .withColumn("value", F.col("value") + F.lit(1000.0))
        .withColumn("is_del", F.col("event_type").eqNullSafe("error"))
    )
    return merge_upsert(target, source, "event_id", "is_del").orderBy(
        "event_id"
    )


def scd2_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension build: per-user runs of consecutive equal
    event_type collapsed into validity ranges (gaps-and-islands, one
    Exchange)."""
    from job_post_similarity_spark.operators.cdc import scd2_build

    ev = load_table(spark, sf_dir, "events")
    return scd2_build(
        ev, key="user_id", attr="event_type", ts="ts", tiebreak="event_id"
    ).orderBy("user_id", "valid_from_us")


def pagerank_lineitem_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-ppm PageRank, 3 iterations, over the order↔supplier
    bipartite graph from lineitem: top-20 nodes by rank. Integer
    floor-div damping makes every iteration bit-exact cross-engine.
    Iterations run on PACKED LONG node ids (8-byte shuffle keys);
    the display 'O…'/'S…' strings are rebuilt map-side after the
    last iteration, before the same string-ordered top-20 cut —
    output identical to the string-keyed oracle."""
    from job_post_similarity_spark.operators.graph import (
        bipartite_edges_packed,
        pagerank,
        unpack_node_expr,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = bipartite_edges_packed(li, "l_orderkey", "l_suppkey")
    return (
        pagerank(edges, iterations=3, every_node_receives=True)
        .select(unpack_node_expr("node", ("O", "S")).alias("node"), "pr")
        .orderBy(F.desc("pr"), F.asc("node"))
        .limit(20)
    )


def inverted_index_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical inverted index: token -> df + sorted capped posting
    list. The posting array is emitted comma-joined as a STRING: the
    driver's pandas canonicalization cannot sort/hash list cells
    (r4 lesson — unhashable type 'list'), and the join preserves
    element order so the hash still proves the full nested value."""
    from job_post_similarity_spark.operators.text_analysis import (
        inverted_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        inverted_index(docs, min_df=5, max_postings=50)
        .withColumn(
            "postings",
            F.array_join(F.col("postings").cast("array<string>"), ","),
        )
        .orderBy("token")
    )


def bm25_rank_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the query [spark, join, window]: per-term
    integer-micro contributions, integer-summed per doc."""
    from job_post_similarity_spark.operators.text_analysis import bm25_rank

    docs = load_table(spark, sf_dir, "documents")
    return bm25_rank(docs, ["spark", "join", "window"], top_n=20)


def skew_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics on events.user_id: cardinality, hottest
    key, top-5 mass, exact discrete Gini in millionths."""
    from job_post_similarity_spark.operators.skew import skew_profile

    ev = load_table(spark, sf_dir, "events")
    return skew_profile(ev, "user_id", top_n=5)


def sq8_encode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar quantization of the embedding corpus (Faiss
    ScalarQuantizer QT_8bit model): per-dim min/max grid trained in
    one agg pass, codes via a pure-JVM transform — 1 byte/dim at
    rest. Full encode is DuckDB-checkable (per-dim grid + affine
    round are engine-exact in double). Codes emitted comma-joined as
    a STRING (driver canon can't hash list cells — r4 lesson);
    element order preserved, so the hash proves every byte."""
    from job_post_similarity_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    vmin, vmax = ann.sq8_train(emb)
    return (
        ann.sq8_encode(emb, vmin, vmax)
        .withColumn(
            "sq8_code",
            F.array_join(F.col("sq8_code").cast("array<string>"), ","),
        )
        .orderBy("vec_id")
    )


def sq8_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 search recall vs the exact tier: corpus compressed to
    1 byte/dim, planted-twin queries scored against the decoded grid
    points (asymmetric, like ADC) — the twin's reconstruction error
    (~1e-5 squared at 8 bits) is negligible vs the >=0.45 cosine
    margin, so recall is deterministically 100."""
    from job_post_similarity_spark.operators import ann

    def run(q, c):
        vmin, vmax = ann.sq8_train(c)
        codes = ann.sq8_encode(c, vmin, vmax)
        return ann.sq8_topk_search(q, codes, vmin, vmax, k=3)

    return _planted_twin_recall(spark, sf_dir, run)


def winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization of value to the [p05, p95] exact
    percentiles — broadcast bounds, map-side clip."""
    from job_post_similarity_spark.operators.profiling import (
        winsorize_by_group,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    return (
        winsorize_by_group(ev, "event_type", "value", lo=0.05, hi=0.95)
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value_w"), 4).alias("value_w"),
        )
        .orderBy("event_id")
    )


def hash_split_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split on event_id (LCG
    hash bucket — leakage-proof under appends): per-split counts."""
    from job_post_similarity_spark.operators.sampling import hash_split

    ev = load_table(spark, sf_dir, "events")
    return (
        hash_split(ev, "event_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("split")
    )


def zorder_key_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) interleave key over (o_custkey, o_orderkey) —
    the clustering key behind write_zordered's multi-dimensional data
    skipping; pure shift-and-mask JVM exprs, bit-exact cross-engine."""
    from job_post_similarity_spark.sources.io import morton_key

    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            morton_key("o_custkey", "o_orderkey").alias("zvalue"),
        )
        .orderBy("zvalue", "o_orderkey")
        .limit(100)
    )


def funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who did signup -> click -> purchase as an
    in-order subsequence. Array arithmetic, no regex/UDF."""
    from job_post_similarity_spark.operators.windows import funnel_counts

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "event_id",
        )
    )
    return funnel_counts(
        ev,
        key="user_id",
        step_col="event_type",
        order_cols=["ts_us", "event_id"],
        steps=["signup", "click", "purchase"],
    ).orderBy("stage")


def table_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: events vs a mutated copy (ids < 500
    dropped, clicks' value bumped, 100 renumbered rows added) —
    keyed added/removed/changed diff, null-safe, no row hashing."""
    from job_post_similarity_spark.operators.profiling import table_diff

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    mutated = ev.filter(F.col("event_id") >= 500).withColumn(
        "value",
        F.when(
            F.col("event_type").eqNullSafe("click"), F.col("value") + 1.0
        ).otherwise(F.col("value")),
    )
    added = ev.filter(F.col("event_id") < 100).withColumn(
        "event_id", F.col("event_id") + 1_000_000
    )
    right = mutated.unionByName(added)
    return table_diff(ev, right, ["event_id"]).orderBy("event_id")


def normalize_unicode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization (pre-dedup hygiene). The fixture
    text is ASCII, so a decomposed-accent + ligature suffix is
    appended on BOTH engines: NFC must compose e+U+0301 into é while
    leaving the ﬁ ligature alone (that fold is NFKC's job)."""
    from job_post_similarity_spark.functions.strings import normalize_unicode

    docs = load_table(spark, sf_dir, "documents")
    suffixed = F.concat(F.col("text"), F.lit(" cafe\u0301 \ufb01le"))
    return docs.select(
        "doc_id", normalize_unicode(suffixed).alias("text_nfc")
    ).orderBy("doc_id")


def substring_dup_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2022 shape): maximal
    token spans whose 8-gram windows recur in >= 2 distinct documents.
    Catches shared boilerplate document-level dedup misses."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.substring_dup_spans(docs, "text", "doc_id", k=8, min_docs=2)


def chunk_documents_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-bounded chunking: 32-token chunks, 8-token overlap —
    the split-long-docs complement of pack_sequences."""
    from job_post_similarity_spark.operators.curation import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", max_tokens=32, overlap=8)


def quality_classifier_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped linear quality filter (rows-only: weights are a
    seeded stand-in for an offline-trained model): per-doc sigmoid
    score over hashed-token bucket weights, map-side."""
    import numpy as np

    from job_post_similarity_spark.operators.text_analysis import (
        linear_text_classifier,
    )

    rng = np.random.default_rng(7)
    scorer = linear_text_classifier(rng.standard_normal(256) * 0.5, bias=0.1)
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(scorer(F.col("text")), 4).alias("quality_prob")
    ).orderBy("doc_id")


def strip_dup_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply step of substring dedup (rows-only: output is rebuilt
    text): min-doc owner keeps each duplicated span, others drop it."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.strip_dup_spans(docs, "text", "doc_id", k=8, min_docs=2)


def line_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide segment dedup: keep the first occurrence
    of each 6-token segment, rebuild docs from survivors."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.segment_dedup(docs, "text", "doc_id", seg_tokens=6).orderBy(
        "doc_id"
    )


def decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 50th doc plays the held-out
    benchmark; training docs sharing >= 2 distinct bigrams with it are
    flagged with their overlap count. Benchmark gram set is broadcast —
    the corpus side never shuffles by gram."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    out = curation.contaminated_ids(train, bench, n=2, min_shared=2)
    return out.orderBy("doc_id")


def mixture_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mixture sampling: three sources at
    distinct target fractions, everything else dropped — map-side LCG
    hash filter, engine-reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.mixture_sample(
        docs,
        {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1},
        source_col="source",
        key="doc_id",
    )
    return out.select("doc_id", "source").orderBy("doc_id")


def pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing at a 512-token budget per
    source shard: (doc, offset, pack) assignment via one partitioned
    window sum."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.pack_sequences(docs, max_tokens=512).orderBy("doc_id")


def dedup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: exact bigram-Jaccard pairs (doc_id < 40)
    → connected components via iterative min-label propagation →
    (id, component). Oracle: DuckDB recursive-CTE transitive closure."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.05)
    return dedup.connected_components(pairs)


def lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword-marker language-ID over documents."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text_analysis.lang_id("text").alias("lang_pred")
    )


def rolling_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint (Horner fold mod prime)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text_analysis.rolling_fingerprint("text").alias("rhash"),
    )


def strip_html_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 builtin tier: tag-strip + whitespace collapse over documents
    text wrapped in synthetic markup (fixtures carry no HTML)."""
    docs = load_table(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id",
        F.concat(F.lit("<div><p>"), F.col("text"), F.lit("</p></div>")).alias(
            "html"
        ),
    )
    return wrapped.select("doc_id", S.strip_html("html").alias("text_clean"))


def strip_html_fidelity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 fidelity tier: stdlib html.parser Pandas UDF (entity-exact
    BS4 analog). Oracle-graded since r6: the DuckDB oracle replays the
    BUILTIN regexp strip chain (tags → space, the 7 standard entities,
    whitespace collapse), so a green hash proves the HTMLParser tier
    agrees with the SQL-expressible tier byte-for-byte on this corpus
    — the cross-implementation fidelity check the rows-only gate could
    only assert by row count."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit("<div><p>Hello &amp; welcome.</p> "), F.col("text"),
            F.lit(" <br/>&lt;end&gt;</div>"),
        ).alias("html"),
    )
    return wrapped.select(
        "doc_id", S.strip_html_pandas_udf()(F.col("html")).alias("text_clean")
    )


def bpe_token_count_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE token counts for a corpus slice: train 3 merges with
    the distributed trainer, encode with the JVM replace-chain encoder,
    count subwords. Oracle-graded since r6 (was rows-only r1): the
    oracle replays the trainer CTEs + replace chain and counts the same
    way — the deterministic-twin repoint VERDICT r5 item 3 asked for.
    The Java-regex GPT-2-ish estimator the name used to run lives on as
    ``bpe_ish_token_estimate_documents`` (rows-only — lookaheads have
    no RE2/DuckDB equivalent)."""
    from job_post_similarity_spark.operators.text_analysis import (
        bpe_encode_expr,
        bpe_train_distributed,
    )

    docs = load_table(spark, sf_dir, "documents")
    mrows = sorted(
        bpe_train_distributed(docs, num_merges=3).collect(),
        key=lambda r: r["step"],
    )
    merges = [(r["sym_left"], r["sym_right"]) for r in mrows]
    return (
        bpe_encode_expr(docs, merges)
        .filter(F.col("doc_id") < 250)
        .orderBy("doc_id")
    )


def bpe_ish_token_estimate_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BPE-ish token estimate via the GPT-2-shaped Java regex
    (rows-only: Java-regex lookarounds have no RE2/DuckDB equivalent;
    this was ``bpe_token_count_documents`` until r6 — that name now
    runs the oracle-graded train+encode count)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text_analysis.bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


def similarity_histogram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: 20-bin histogram of the |cosine| population over all pairs —
    the distribution artifact behind the threshold justification."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("v1"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("v2"))
    sims = (
        a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .select(F.abs(V.dot_cosine("v1", "v2")).alias("similarity"))
    )
    return knn.similarity_histogram(sims, "similarity", bins=20)


def minhash_near_dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, deterministic md5-code tier on a
    doc_id < 150 slice. Oracle-graded since r6 (was the rows-only
    xxhash64 production gate in r1 — that tier lives on as
    ``minhash_near_dup_xxh_documents``): same coefficient schedule and
    banding as ``minhash_banded_oracle_documents``, different slice, so
    the two grade the algorithm at independent operating points."""
    from job_post_similarity_spark.operators.dedup import (
        minhash_near_dup_pairs_oracle_tier,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return minhash_near_dup_pairs_oracle_tier(docs, threshold_ppm=300_000)


def minhash_near_dup_xxh_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash+LSH near-dup candidates, PRODUCTION tier (xxhash64
    shingle codes — Spark-only, so rows-only; verified against exact
    Jaccard by tests and by the md5 deterministic twin above). This
    was ``minhash_near_dup_documents`` until r6; bench times THIS
    tier (the 100 TB code path)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.minhash_near_dup_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=16, ngram=2,
        jaccard_threshold=0.05,
    )


def simhash_near_dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, deterministic md5-code tier at
    max_dist=2. Oracle-graded since r6 (was the rows-only xxhash64
    production gate in r1 — now ``simhash_near_dup_xxh_documents``):
    the oracle verifies with the QUADRATIC Hamming filter, so green =
    a pigeonhole-completeness proof of the 4-chunk blocking at a
    second operating point beside ``simhash_banded_oracle_documents``
    (max_dist=3)."""
    from job_post_similarity_spark.operators.dedup import (
        simhash_near_dup_pairs_oracle_tier,
    )

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs_oracle_tier(docs, max_dist=2)


def simhash_near_dup_xxh_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SimHash near-dup pairs, PRODUCTION tier (xxhash64 token hashes
    — Spark-only, rows-only; the md5 twin above is the value-graded
    surface). Was ``simhash_near_dup_documents`` until r6."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.simhash_near_dup_pairs(
        docs, "doc_id", "text", max_hamming=16, bands=4
    )


def lsh_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 ANN tier (LSH): cosine pairs at ≥ 0.45 via the deterministic
    Rademacher-SRP banding (the repo's canonical LSH-for-cosine).
    Oracle-graded since r6 (was the MLlib BRP approxSimilarityJoin
    gate in r1, rows-only and degenerate on unit vectors — that
    API-parity tier lives on as ``brp_lsh_similarity_pairs``)."""
    from job_post_similarity_spark.operators.ann import (
        rademacher_signs,
        srp_rademacher_pairs_oracle_tier,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return srp_rademacher_pairs_oracle_tier(
        emb, rademacher_signs(32, 64), threshold=0.45
    )


def brp_lsh_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH pair join (API-parity tier
    ONLY — degenerate on high-dim unit vectors, warns loudly, fenced
    from the facades; see ann.lsh_similarity_join's docstring. Was
    ``lsh_similarity_pairs`` until r6; rows-only)."""
    from job_post_similarity_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    return ann.lsh_similarity_join(
        emb, "vec_id", "embedding", threshold=0.40,
        bucket_length=2.0, num_hash_tables=6,
    )


def srp_lsh_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 ANN tier (banded SRP-LSH): cosine pairs at ≥ 0.4 over the
    vec_id < 400 slice via the deterministic Rademacher tier.
    Oracle-graded since r6 (was the rows-only BLAS production gate in
    r1 — now ``srp_lsh_similarity_pairs_fixed``, which bench still
    times): same banding pipeline as the full-corpus
    ``srp_rademacher_oracle_embeddings`` gate at a second slice."""
    from job_post_similarity_spark.operators.ann import (
        rademacher_signs,
        srp_rademacher_pairs_oracle_tier,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    return srp_rademacher_pairs_oracle_tier(
        emb, rademacher_signs(32, 64), threshold=0.4
    )


def srp_lsh_similarity_pairs_fixed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION banded SRP-LSH at FIXED stress knobs (bits=4,
    bands=24, τ=0.4): pairs via numpy-BLAS sign bits (rows-only —
    accumulation order is not SQL-reproducible; planted-pair recall
    property-tested). Was ``srp_lsh_similarity_pairs`` until r6. This
    operating point is deliberately off-envelope at scale (SCALING.md
    records its quadratic candidate curve) — the honest stress record
    next to ``srp_lsh_similarity_pairs_auto``'s planner-chosen knobs."""
    from job_post_similarity_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    return ann.srp_lsh_similarity_join(
        emb, "vec_id", "embedding", threshold=0.40,
        bits_per_band=4, num_bands=24,
    )


def srp_lsh_similarity_pairs_auto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION banded SRP-LSH at the PLANNER-chosen operating point
    (``srp_parameter_plan`` solves bits/bands from the amplification
    formula under a linear candidate budget — the knobs that hold at
    100 TB; VERDICT r5 item 2). Rows-only (same BLAS tier as the fixed
    gate); benched beside it so BENCH records the scale-safe point
    next to the fixed-knob stress curve."""
    from job_post_similarity_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    # the planner's n is an index-build-time table statistic: count it
    # once per session and reuse (the memo computes from the parquet
    # input; the planner sees the identical n, so the chosen operating
    # point is unchanged — one job fewer per call)
    ck = (_spark_key(spark), sf_dir, "emb_rowcount")
    n = _CLUSTERED_EMB_CACHE.get(ck)
    if n is None:
        n = emb.count()
        _CLUSTERED_EMB_CACHE[ck] = n
    return ann.srp_lsh_similarity_join(
        emb, "vec_id", "embedding", threshold=0.40,
        bits_per_band="auto", corpus_rows=n,
    )


def srp_topk_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V5 at scale: relational SRP top-k search (no broadcast matrix)
    for a fixed query slice against the full embedding table
    (rows-only; planted-recall property-tested)."""
    from job_post_similarity_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return ann.srp_topk_search(
        queries_df, emb, k=3, bits_per_band=4, num_bands=24
    )


def shard_topk_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V5 sharded-serving tier (the HNSW-shaped search path): corpus
    stays on executors, query batch broadcast, per-shard top-k + window
    merge. The numpy shard index is exact, so this shares
    cosine_topk_search's oracle — same contract, inverted data
    movement (reference HNSW32: app/main.py:47)."""
    from job_post_similarity_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return ann.shard_topk_search(queries_df, emb, k=3)


def ivf_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 ANN tier (IVF): KMeans-bucketed pair join at cosine ≥ 0.4
    (rows-only; recall profile on structureless random vectors is
    documented at ann.ivf_similarity_join — IVF's regime is clustered
    corpora, SRP covers this fixture's)."""
    from job_post_similarity_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    return ann.ivf_similarity_join(
        emb, "vec_id", "embedding", threshold=0.40, n_centroids=None, n_probe=3
    )


def embed_documents_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 test tier: deterministic hashing embedder over documents
    (rows-only; unit-norm + determinism property-tested)."""
    from job_post_similarity_spark.plans.pipeline import embed_documents

    docs = load_table(spark, sf_dir, "documents")
    emb = embed_documents(docs, "text", "doc_id", dim=64)
    return emb.select(
        "doc_id",
        F.round(V.norm(F.col("embedding").cast("array<double>")), 4).alias(
            "l2_norm"
        ),
    )


def e2e_similarity_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full 4-stage flagship pipeline (clean → dedup → embed →
    pair join) on documents (rows-only)."""
    from job_post_similarity_spark.config import EngineConfig
    from job_post_similarity_spark.plans.pipeline import run_similarity_pipeline

    docs = load_table(spark, sf_dir, "documents")
    cfg = EngineConfig()
    cfg.index_description = "Flat"
    # hashing embeddings over the shared-vocab word-soup corpus are far
    # more similar than random vectors; 0.9 keeps the pair set tight
    cfg.similarity_threshold = 0.90
    return run_similarity_pipeline(spark, docs, cfg)


def multimodal_metadata_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column + JVM-side metadata
    (sizes, digest)."""
    from job_post_similarity_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.multimodal_metadata(
        multimodal.attach_binary_payload(docs)
    )


def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/feature-extract via mapInPandas (stub decoder;
    rows-only — plumbing shape is the contract under test)."""
    from job_post_similarity_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    feats = multimodal.decode_features(
        multimodal.attach_binary_payload(docs)
    )
    return feats.select(
        "doc_id", "media_type", "n_bytes", "width", "height",
        F.round(F.col("feature")[0].cast("double"), 2).alias("f0"),
    )


def preprocess_jobs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full 7-step preprocess composite
    (app/preprocess_data.py:122-147) on a deterministic jobs-shaped
    view of documents: clean_html → fill nulls → drop null dates →
    dedup keep-first → location clean → text clean → drop unused."""
    from job_post_similarity_spark.plans.pipeline import jobs_view_from_documents

    docs = load_table(spark, sf_dir, "documents")
    jobs = jobs_view_from_documents(docs)
    out = preprocess.preprocess_jobs(jobs, order_column="lid")
    return out.select(
        "jobTitle", "companyName", "lid", "finalZipcode",
        "finalState", "finalCity", "correctDate", "jobDescClean",
    )


def null_fill_drop_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+P4: constant null-fill on props, subset null-drop on value
    (reference: app/preprocess_data.py:41-54)."""
    ev = load_table(spark, sf_dir, "events")
    out = preprocess.drop_null_rows(
        preprocess.fill_missing(ev, {"props": "missing"}), ["value"]
    )
    return out.select("event_id", "user_id", "event_type", "value", "props")


def scalar_functions_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F8/F10/F11 scalar surface: initcap title-case, length,
    canonical least/greatest pair, clip."""
    p = load_table(spark, sf_dir, "part")
    lo, hi = S.canonical_pair("p_name", "p_type")
    return p.select(
        "p_partkey",
        S.title_trim("p_name").alias("name_title"),
        F.length("p_name").alias("name_len"),
        lo.alias("pair_lo"),
        hi.alias("pair_hi"),
        S.clip(F.col("p_retailprice") / 1000.0, 0.5, 1.5).alias("price_clipped"),
    )


def point_lookup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/S2 point lookup: fetch metadata for a fixed id list via
    broadcast semi-join (reference: df.loc[ids], app/fetech_jd.py:94-98)."""
    docs = load_table(spark, sf_dir, "documents")
    ids = spark.createDataFrame([(0,), (1,), (42,), (100,)], "doc_id long")
    return (
        docs.join(F.broadcast(ids), "doc_id", "left_semi")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


def minhash_verified_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup chain: MinHash+LSH candidates → exact
    n-gram-Jaccard verification on candidates only (rows-only; the
    chain output is a subset of exact Jaccard pairs, property-tested)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    cand = dedup.minhash_near_dup_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=16, ngram=2,
        jaccard_threshold=0.0,
    )
    return dedup.ngram_jaccard_on_pairs(
        cand, docs, "doc_id", "text", n=2, threshold=0.05
    )


def parse_dates_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: to_datetime(errors='coerce') — valid strings parse, garbage
    coerces to null (notebook cell 20's disabled conversion, done right).
    UTC rendering is pinned by load_table (runtime conf)."""
    docs = load_table(spark, sf_dir, "documents")
    date_str = (
        F.when(F.col("doc_id") % 13 == 0, F.lit("not-a-date"))
        .otherwise(
            F.concat(
                F.lit("2025-"),
                F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
                F.lit(" 12:30:00"),
            )
        )
    )
    return docs.select(
        "doc_id", S.parse_date(date_str).alias("parsed_ts")
    )


def multimodal_resize_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize + frame-sample plumbing (rows-only: stub
    decoders; batch shapes and schemas are the contract under test).
    Since r6 the VALUES are oracle-graded by the two twins below
    (``multimodal_resize_oracle_documents`` /
    ``multimodal_frames_oracle_documents``) — this gate keeps the
    all-media-types union shape."""
    from job_post_similarity_spark.operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_binary_payload(docs)
    resized = multimodal.resize_images(media, 16, 16).select(
        "doc_id", F.lit("resized").alias("kind"),
        F.length("resized").cast("long").alias("n_out_bytes"),
    )
    frames = multimodal.frame_sample(media).select(
        "doc_id", F.lit("frame").alias("kind"),
        F.length("frame_bytes").cast("long").alias("n_out_bytes"),
    )
    return resized.union(frames)


def _multimodal_ascii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared slice for the multimodal oracle twins: printable-ASCII
    non-empty texts (byte == character, so DuckDB can replay the
    byte-stride stubs with string ops; the synthetic corpus is 100%
    ASCII — the filter is a fence, not a cut)."""
    return load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 400)
        & F.col("text").isNotNull()
        & (F.length("text") > 0)
        & F.col("text").rlike("^[ -~]*$")
    )


def multimodal_resize_oracle_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracle-graded multimodal resize (VERDICT r5 item 5): the stub
    tier's even-stride byte resample (multimodal.py:resize_images) is
    deterministic and byte-exact, so on ASCII payloads DuckDB replays
    it with string indexing — the value hash proves the resample
    arithmetic, media-type routing, and mapInPandas plumbing, not just
    row counts. media_type is pruned JVM-side BEFORE Python (the
    decode-work-pruning contract in the operator docstring)."""
    from job_post_similarity_spark.operators import multimodal

    media = multimodal.attach_binary_payload(
        _multimodal_ascii_docs(spark, sf_dir)
    ).filter(F.col("media_type") == "image")
    return (
        multimodal.resize_images(media, 16, 16)
        .select(
            "doc_id",
            "width",
            "height",
            F.decode("resized", "UTF-8").alias("thumb"),
        )
        .orderBy("doc_id")
    )


def multimodal_frames_oracle_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracle-graded frame sampling: the stub tier's evenly-spaced
    byte windows (multimodal.py:frame_sample) replayed by DuckDB via
    substr on ASCII payloads — value-hash-proves the frame count
    (min(4, max(n//64, 1))), offsets (i*(n//nf)) and window bytes.
    The PyAV tier shares this exact row contract (extractor='auto'
    upgrades per-row where the codec imports)."""
    from job_post_similarity_spark.operators import multimodal

    media = multimodal.attach_binary_payload(
        _multimodal_ascii_docs(spark, sf_dir)
    ).filter(F.col("media_type") == "video")
    return (
        multimodal.frame_sample(media)
        .select(
            "doc_id",
            "frame_idx",
            "frame_offset",
            F.decode("frame_bytes", "UTF-8").alias("frame_text"),
        )
        .orderBy("doc_id", "frame_idx")
    )


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (union+window plan, single shuffle): every
    event enriched with the value of the user's most recent prior
    'click' event. DuckDB mirrors with native ASOF JOIN."""
    from job_post_similarity_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts", "event_type")
    right = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("value").alias("click_value"),
                F.col("event_id").alias("click_event_id"))
        # unique (key, ts): keep the max event_id per instant
        .withColumn(
            "__rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id", "ts")
                .orderBy(F.desc("click_event_id"))
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    out = asof_join(left, right, "user_id", "ts", ["click_event_id"])
    return out.select(
        "event_id", "user_id", "event_type", "click_event_id_asof"
    )


def interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval-containment join (chunked equi-join plan, no
    nested loop): every event attached to the gap-session interval
    that contains it — per (user, session), the contained-event count
    must reproduce the session's own n_events. DuckDB mirrors with a
    plain inequality join."""
    from job_post_similarity_spark.operators.asof import interval_join
    from job_post_similarity_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events")
    sessions = sessionize(ev, "user_id", "ts", gap_minutes=30)
    events_us = ev.select(
        "event_id", "user_id",
        (F.unix_micros(F.col("ts"))).alias("ts_us"),
    )
    joined = interval_join(
        events_us, sessions, "user_id", "ts_us",
        "session_start_us", "session_end_us",
    )
    return (
        joined.groupBy("user_id", "session_start_us", "n_events")
        .agg(F.count(F.lit(1)).alias("contained_events"))
        .orderBy("user_id", "session_start_us")
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization, batch tier (lag → flag → running sum →
    group; one shuffle)."""
    from job_post_similarity_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, "user_id", "ts", gap_minutes=30)


def stream_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user session state across micro-batches; bounded flush mode ⇒
    equals the batch tier (same oracle)."""
    from job_post_similarity_spark.streaming import stream_sessionize

    return stream_sessionize(spark, sf_dir, gap_minutes=30)


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window streaming rollup; bounded input ⇒
    equals the batch hourly groupBy (oracle-able)."""
    from job_post_similarity_spark.streaming.stream_ops import stream_windowed_agg

    # UTC rendering pinned inside _events_stream (runtime conf)
    return stream_windowed_agg(spark, sf_dir)


def stream_event_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming group-count over the bounded events stream
    (== batch groupBy, oracle-able)."""
    from job_post_similarity_spark.streaming import stream_event_counts

    return stream_event_counts(spark, sf_dir)


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-within-watermark; kept keys == batch DISTINCT."""
    from job_post_similarity_spark.streaming import stream_dedup

    return stream_dedup(spark, sf_dir)


def pii_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data hygiene gate: documents get deterministic
    synthetic PII spans (email / phone / SSN built from doc_id —
    fixtures carry none) and the scrubber must replace exactly those
    spans with typed placeholders. Oracle mirrors both the injection
    and the scrub in RE2."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.lit("contact user"), did.cast("string"),
            F.lit("@example.com or call 555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"), F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" ssn 123-45-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" :: "), F.col("text"),
        ).alias("text"),
    )
    return salted.select("doc_id", S.scrub_pii("text").alias("text_clean"))


def id_set_union_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: id-set union (reference: list(set(a + b)),
    app/fetech_jd.py:85) — distinct user ids across two event-type
    slices via union + distinct."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return dedup.distinct_union(clicks, buys).orderBy("user_id")


def vector_removal_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8: vector removal — the op the reference leaves
    NotImplementedError ('rebuild instead',
    app/vector_search_cpu.py:157-175); in Spark it's a filter and the
    downstream index re-fit is a lazy plan. Gate emits the surviving
    id set + count so removal is driver-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    kept = knn.remove_vectors(emb, "vec_id", [0, 1, 2, 17, 42])
    return kept.select("vec_id").orderBy("vec_id")


def salted_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew tier: hot-key-salted inner join (events ⋈ per-user dim) —
    salting splits each hot key across ``buckets`` tasks; the result
    equals the plain join, which is exactly what the oracle asserts."""
    from job_post_similarity_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_event_cnt"))
    )
    out = salted_join(ev, dim, "user_id", buckets=8)
    return out.select("event_id", "user_id", "event_type", "user_event_cnt")


def pq_compression_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization roundtrip (rows-only: Lloyd codebooks have
    no SQL twin): every vector encoded to m=8 codes and reconstructed;
    emits code count + a coarse reconstruction-error bucket per vector.
    Compression 64-d f32 → 8 codes (32×); distortion properties are
    pytest-asserted."""
    from job_post_similarity_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    books = ann.pq_train(emb, "embedding", m=8, bits=6)
    codes = ann.pq_encode(emb, books, "vec_id", "embedding")
    approx = ann.pq_decode(codes, books, "vec_id")
    joined = emb.join(approx, "vec_id")
    err = F.sqrt(
        V.sq_l2_distance(
            F.col("embedding"),
            F.col("embedding_approx").cast("array<double>"),
        )
    )
    return joined.select(
        "vec_id",
        F.size("embedding_approx").alias("dim"),
        F.floor(err * 10).cast("int").alias("err_decile"),
    )


def pq_adc_search_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k search over PQ codes (rows-only): the corpus is
    scanned as 8-byte codes, queries carry precomputed distance
    tables; planted-duplicate retrieval is pytest-asserted."""
    from job_post_similarity_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    books = ann.pq_train(emb, "embedding", m=8, bits=6)
    codes = ann.pq_encode(emb, books, "vec_id", "embedding")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return ann.pq_topk_search(queries_df, codes, books, k=3)


def ivfpq_search_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed search (rows-only): coarse-probe buckets, then
    ADC over 8-byte codes — the compressed-index shape for vector
    volume at 100 TB. Planted-duplicate retrieval pytest-asserted."""
    from job_post_similarity_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return ann.ivfpq_topk_search(
        queries_df, emb, k=3, n_centroids=8, n_probe=2, m=8, bits=6
    )


def random_pair_baseline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: seeded random-pair similarity baseline (rows-only: Spark
    rand() sequence is engine-specific)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn.random_pair_baseline(emb, "vec_id", "embedding", n_pairs=200)


def qualitative_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 wide eval report: 20 sampled queries × top-3 neighbors with
    source lookup (rows-only: seeded sampling)."""
    from job_post_similarity_spark.plans.pipeline import qualitative_report

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    return qualitative_report(
        emb, docs, "vec_id", "source", k=3, n_queries=20
    )


def bigram_perplexity_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-shaped perplexity filter signal: add-k bigram LM trained
    on the corpus itself, per-doc perplexity (integer-summed log-probs
    so both engines reduce exactly)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.bigram_perplexity(docs).orderBy("doc_id")


def ngram_lm_train_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff trigram LM TRAINER (Brants et al. 2007 — the
    KenLM role in a CCNet pipeline; reference has no LM operator at
    all): trained on the even-doc_id half of the corpus, emitting the
    ARPA-analog relation (order, gram words, count, conditional
    micro-log). Output bounded to grams seen >= 3 times at order >= 2
    (the order-1 vocabulary is graded through the score gate's OOV
    arithmetic). (Oracle: three gram-count CTEs + context joins
    replay every lp6 by value.)"""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    model = text_analysis.ngram_lm_train(docs, "text")
    return (
        model.filter((F.col("order") >= 2) & (F.col("cnt") >= 3))
        .orderBy("order", "w1", "w2", "w3")
    )


def ngram_lm_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus perplexity scoring — CCNet's actual deployment
    shape (train the LM on one corpus, score ANOTHER): the trigram
    Stupid Backoff model trained on even-doc_id documents scores the
    odd-doc_id half, per-doc integer micro-log sum + perplexity.
    ``bigram_perplexity_documents`` grades the self-trained add-k
    tier; this gate grades the backoff chain (3 suffix-keyed left
    joins + the OOV floor) and the train/score artifact split."""
    docs = load_table(spark, sf_dir, "documents")
    model = text_analysis.ngram_lm_train(
        docs.filter(F.col("doc_id") % 2 == 0), "text"
    )
    scored = text_analysis.ngram_lm_score(
        docs.filter(F.col("doc_id") % 2 == 1), model
    )
    return scored.orderBy("doc_id")


def frequent_tokens_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary heavy hitters with EXACT counts: Misra-Gries
    candidates per partition, exact recount of candidates only — the
    full token stream is never shuffled. Output is exact, so the
    oracle is a plain GROUP BY / HAVING."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.frequent_tokens(docs, min_share=0.005)


def bloom_decontaminate_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom-filter decontamination: corpus probes a broadcast bitset
    built distributedly over the dirty-id set; only probable hits pay
    the exact anti-join. Output is exact anti-join semantics (false
    positives verified away), so a NOT IN oracle replays it. Dirty
    set: event user ids folded into the doc-id domain."""
    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    dirty = (
        events.filter(F.col("user_id").isNotNull())
        .select(F.pmod(F.col("user_id"), F.lit(700)).alias("doc_id"))
        .distinct()
    )
    out = curation.bloom_decontaminate(
        docs.select("doc_id", "source"), dirty, "doc_id", num_bits=1 << 16
    )
    return out.orderBy("doc_id")


def bucketed_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join over hash-BUCKETED tables: both sides written
    bucketed by the join key (the pay-the-shuffle-once-at-write-time
    layout), joined with zero runtime Exchange (plan-asserted in
    tests), then aggregated. Values match the plain-join oracle."""
    import os
    import tempfile

    from job_post_similarity_spark.sources.io import (
        bucketed_join,
        write_bucketed,
    )

    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), f"jpss_bucketed_{sf_tag}")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    write_bucketed(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        f"gate_orders_b_{sf_tag}",
        "o_custkey",
        num_buckets=4,
        path=os.path.join(base, "orders"),
    )
    write_bucketed(
        cust.select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        ),
        f"gate_cust_b_{sf_tag}",
        "o_custkey",
        num_buckets=4,
        path=os.path.join(base, "cust"),
    )
    j = bucketed_join(
        spark, f"gate_orders_b_{sf_tag}", f"gate_cust_b_{sf_tag}", "o_custkey"
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast(
                    "double"
                ),
                4,
            ).alias("sum_price"),
        )
        .orderBy("c_mktsegment")
    )


def stratified_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 stratified: up to 5 orders per order-priority stratum, ranked
    by the engine-agnostic LCG hash — deterministic reservoir semantics
    an ORDER BY hash window can replay in any engine."""
    orders = load_table(spark, sf_dir, "orders")
    out = sampling.stratified_sample(orders, "o_orderpriority", 5, "o_orderkey")
    return out.select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    ).orderBy("o_orderpriority", "o_orderkey")


def resample_ffill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill + forward-fill: hourly buckets
    per event type, empty buckets carry the last observed bucket-max
    forward (integer epoch buckets — engine-agnostic)."""
    from job_post_similarity_spark.operators import windows

    ev = load_table(spark, sf_dir, "events")
    return windows.resample_ffill(ev, "ts", "event_type", "value").orderBy(
        "grp", "bucket"
    )


def group_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score feature scaling over event values; moments
    from DECIMAL sums so both engines agree to the rounded digit."""
    from job_post_similarity_spark.operators import windows

    ev = load_table(spark, sf_dir, "events")
    out = windows.group_zscore(ev, "event_type", "value")
    return out.select("event_id", "event_type", "value", "z").orderBy(
        "event_id"
    )


def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured projection: one from_json parse of the props
    JSON column into a typed field, then a grouped aggregate over
    it — integer outputs, no float hashing risk."""
    ev = load_table(spark, sf_dir, "events")
    parsed = preprocess.parse_json_fields(ev, "props", "k int")
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("k").alias("k_present"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


def melt_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide → long): part numeric attributes into
    (key, val) rows — one Expand node, map-side."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 100)
    wide = part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return preprocess.melt(
        wide, ["p_partkey"], ["p_size", "p_retailprice"]
    ).orderBy("p_partkey", "key")


def full_outer_monthly_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full-outer reconciliation: order months vs event months,
    unmatched sides surfaced with zero counts."""
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    om = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("ym")
    ).agg(F.count(F.lit(1)).alias("cnt_orders"))
    em = events.filter(F.col("ts").isNotNull()).groupBy(
        F.date_format("ts", "yyyy-MM").alias("ym")
    ).agg(F.count(F.lit(1)).alias("cnt_events"))
    return (
        om.join(em, "ym", "full_outer")
        .select(
            "ym",
            F.coalesce("cnt_orders", F.lit(0)).alias("cnt_orders"),
            F.coalesce("cnt_events", F.lit(0)).alias("cnt_events"),
        )
        .orderBy("ym")
    )


def fuzzy_join_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance ≤ 1 fuzzy self-join (FastSS deletion-
    neighborhood blocking + levenshtein verify). The oracle is the
    quadratic cross join — same output, different plan: the blocking
    is provably 100%-recall for dist ≤ 1."""
    sup = load_table(spark, sf_dir, "supplier")
    return dedup.fuzzy_join_dist1(sup, "s_suppkey", "s_name")


def order_arrays_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type aggregation surface: per customer, the SORTED array
    of order keys + count. The array is emitted comma-joined as a
    STRING (driver canon can't hash list cells — r4 lesson); sort
    order preserved, so the hash proves the full nested value."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < 200
    )
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("o_orderkey")).cast(
                    "array<string>"
                ),
                ",",
            ).alias("order_keys"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("o_custkey")
    )


def pmi_collocations_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Collocation mining: top-50 adjacent-token pairs by pointwise
    mutual information (integer-millionth PMI so the rank cannot
    depend on sub-round-off libm differences)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.pmi_collocations(docs, min_count=5, top_n=50)


def stream_keep_latest_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming CDC compaction (applyInPandasWithState upsert
    changelog, folded to the latest-per-key snapshot). On the bounded
    file the snapshot equals the batch keep_latest — the oracle."""
    from job_post_similarity_spark.streaming import stream_keep_latest

    return stream_keep_latest(
        spark, sf_dir, name="g_stream_keep_latest"
    ).orderBy("user_id")


def stream_click_attribution_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream inner join with event-time bounds (purchase <-
    same user's clicks within 30 min). Bounded input: appended result
    equals the batch theta join — the oracle."""
    from job_post_similarity_spark.streaming import stream_click_attribution

    return stream_click_attribution(
        spark, sf_dir, name="g_stream_ssj"
    ).orderBy("purchase_id", "click_id")


def perplexity_buckets_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet's head/middle/tail split: corpus bucketed into perplexity
    tertiles — the composition that turns the LM signal into a
    filtering decision. Counts + per-bucket ppl range per tertile.
    Bucketing via ``windows.global_ntile`` (range-repartitioned
    two-phase exact rank): bit-identical to a global ``F.ntile`` but
    P-way parallel — no single-partition WindowExec at any corpus
    size."""
    from job_post_similarity_spark.operators.text_analysis import (
        bigram_perplexity,
    )
    from job_post_similarity_spark.operators.windows import global_ntile

    docs = load_table(spark, sf_dir, "documents")
    ppl = bigram_perplexity(docs)
    return (
        global_ntile(ppl, 3, [F.asc("ppl"), F.asc("doc_id")])
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("ppl").alias("ppl_min"),
            F.max("ppl").alias("ppl_max"),
        )
        .orderBy("bucket")
    )


def contamination_matrix_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source trigram contamination matrix: shared distinct
    grams + directional containment ppm for every source pair — the
    all-pairs corpus audit behind mixture curation (the 1-vs-corpus
    scan is `decontaminate_documents`)."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.contamination_matrix(docs, "source", n=3)


def curriculum_shards_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curriculum ordering: corpus ranked by length score (desc, id
    tiebreak) through the two-phase global_rank — no single-partition
    window — and cut into 64-doc ordered shards with per-shard stats."""
    from job_post_similarity_spark.operators.curation import (
        curriculum_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    return curriculum_shards(
        docs, F.col("n_chars").cast("long"), shard_size=64
    )


def entity_resolution_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end ER: FastSS-blocked edit-distance ≤ 1 matching on
    supplier names → connected components → best-balance canonical
    representative per entity. (Oracle: quadratic levenshtein +
    recursive reachability + keep-best CTE.)"""
    sup = load_table(spark, sf_dir, "supplier")
    out = dedup.entity_resolution(sup, "s_suppkey", "s_name", "s_acctbal")
    return (
        out.filter(F.col("keep"))
        .select(
            F.col("entity").cast("long").alias("entity"),
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            F.col("n_dups").cast("long").alias("n_dups"),
        )
        .orderBy("entity")
    )


def quality_ensemble_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality ENSEMBLE (the Nemotron-CC-style multi-classifier vote):
    three independent, individually-oracled signals — heuristic
    quality score ≥ 0.5, Gopher gates, md5-twin classifier sign —
    majority-voted into the keep decision. Integer votes only; each
    signal is engine-exact, so the composition is too. (Oracle
    generated by `_quality_ensemble_oracle`.)"""
    from job_post_similarity_spark.operators.text_analysis import (
        gopher_quality_flags,
        linear_classifier_twin,
    )

    docs = load_table(spark, sf_dir, "documents")
    qv = docs.select(
        "doc_id",
        (text_analysis.quality_score("text") >= 0.5).alias("q_keep"),
    )
    g = gopher_quality_flags(docs, "text").select(
        "doc_id", F.col("keep").alias("g_keep")
    )
    t = linear_classifier_twin(docs).select(
        "doc_id", F.col("keep").alias("c_keep")
    )
    return (
        qv.join(g, "doc_id")
        .join(t, "doc_id")
        .select(
            "doc_id",
            "q_keep",
            "g_keep",
            "c_keep",
            (
                F.col("q_keep").cast("int")
                + F.col("g_keep").cast("int")
                + F.col("c_keep").cast("int")
            ).alias("votes"),
        )
        .withColumn("keep_ensemble", F.col("votes") >= 2)
        .orderBy("doc_id")
    )


def quality_filter_twin_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic twin of the learned quality filter
    (`linear_text_classifier`): md5 bucket hashing + md5-derived
    integer milli-weights, mean-weight logit, sign-threshold keep —
    every decision value-graded cross-engine. (Oracle generated by
    `_quality_twin_oracle`.)"""
    from job_post_similarity_spark.operators.text_analysis import (
        linear_classifier_twin,
    )

    docs = load_table(spark, sf_dir, "documents")
    return linear_classifier_twin(docs)


def embed_twin_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-twin embedding pipeline, value-graded END TO END
    (the gap the unit-norm-only `embedding_norms` gate left): exact
    integer md5 components → int64 norm² → IEEE-exact normalize →
    integer micros, comma-joined. Proves the full embed pipeline's
    VALUES cross-engine, not just a property. Production tier stays
    `hashing_embedder`. (Oracle generated by `_embed_twin_oracle`.)"""
    from job_post_similarity_spark.functions.embed import (
        md5_twin_components,
    )

    dim = 16
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    comps = docs.select("doc_id", *md5_twin_components("text", dim=dim))
    n2 = sum(
        (F.col(f"__c{j}") * F.col(f"__c{j}") for j in range(dim)),
        F.lit(0).cast("long"),
    )
    with_norm = comps.withColumn("norm2", n2)
    micros = F.array_join(
        F.array(
            *[
                F.when(F.col("norm2") == 0, F.lit(0)).otherwise(
                    F.round(
                        F.col(f"__c{j}").cast("double")
                        / F.sqrt(F.col("norm2").cast("double"))
                        * F.lit(1e6)
                    ).cast("long")
                ).cast("string")
                for j in range(dim)
            ]
        ),
        ",",
    )
    return (
        with_norm.select(
            "doc_id", "norm2", micros.alias("vec_micros")
        )
        .orderBy("doc_id")
    )


def listagg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``listagg … WITHIN GROUP (ORDER BY …)`` surface: the
    ANSI ordered string aggregation (per customer, the date-ordered
    status sequence) — deterministic because the WITHIN GROUP order
    (o_orderdate, o_orderkey) is total. (Oracle: DuckDB
    ``string_agg(... ORDER BY ...)``.)"""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < 100
    )
    return (
        o.groupBy("o_custkey")
        .agg(
            F.expr(
                "listagg(o_orderstatus, ',') WITHIN GROUP "
                "(ORDER BY o_orderdate ASC, o_orderkey ASC)"
            ).alias("status_seq"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


def variant_extract_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spark 4 VariantType surface: ``parse_json`` into the binary
    variant encoding, ``try_variant_get`` typed extraction — the
    schema-on-read path for semi-structured columns (vs the
    schema-declared ``from_json`` twin in `json_extract_events`).
    The variant itself never reaches the projection (binary — the
    driver canon couldn't hash it); only the extracted int does."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("props").isNotNull())
        .select(
            "event_id",
            F.try_variant_get(
                F.parse_json(F.col("props")), "$.k", "int"
            ).alias("k"),
        )
        .orderBy("event_id")
    )


def stream_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static join gate: the event stream enriched with a
    broadcast segment dimension (re-planned per micro-batch — the
    Structured Streaming stream-static contract), folded to per-type
    counts. On the bounded file the snapshot equals the batch join —
    the oracle."""
    from job_post_similarity_spark.streaming import stream_static_enrich

    dim = spark.createDataFrame(
        [
            ("click", "engage"),
            ("view", "engage"),
            ("purchase", "convert"),
            ("signup", "convert"),
            ("error", "ops"),
        ],
        "event_type string, segment string",
    )
    out = stream_static_enrich(
        spark, sf_dir, dim, name="g_stream_enrich"
    )
    return (
        out.join(F.broadcast(dim), "event_type")
        .select("event_type", "cnt", "segment")
        .orderBy("event_type")
    )


def bpe_merge_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-training merge step: top-30 adjacent character pairs
    weighted by word frequency (Sennrich et al. 2016) — the
    tokenizer-training prep op. Distinct-word aggregate FIRST, gram
    explode over vocabulary only; exact integer counts."""
    from job_post_similarity_spark.operators.text_analysis import (
        bpe_merge_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merge_pairs(docs, top_n=30, min_count=2)


def chi2_token_label_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square token↔lang association, top-30 by rounded score —
    the feature-selection table for a corpus-quality classifier."""
    from job_post_similarity_spark.operators.text_analysis import (
        chi2_token_label,
    )

    docs = load_table(spark, sf_dir, "documents")
    return chi2_token_label(docs, min_df=5, top_n=30)


def mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outliers of value per event_type (3×MAD
    rule) — the robust twin of group_zscore_events. Flagged rows
    only, rounded to 4 on both engines."""
    from job_post_similarity_spark.operators.profiling import mad_outliers

    ev = load_table(spark, sf_dir, "events")
    out = mad_outliers(ev, "event_type", "value", k=3.0)
    return (
        out.filter(F.col("is_outlier"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round("__med", 4).alias("med"),
            F.round("__mad", 4).alias("mad"),
        )
        .orderBy("event_id")
    )


def basket_lift_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift over order baskets of part BRANDS (lineitem
    ⋈ broadcast part): top-50 brand pairs by (support, lift) with
    lift in integer ppm — floor div outside the distributed sums."""
    from job_post_similarity_spark.operators.association import (
        basket_pair_lift,
    )

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    baskets = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select("l_orderkey", "p_brand")
    return basket_pair_lift(
        baskets, "l_orderkey", "p_brand", min_pair_count=2, top_n=50
    )


def knn_classify_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote auto-labeling (k=5, cosine, self excluded;
    ties on votes desc → label asc) joined back to the true label —
    the label-propagation step of a data-curation pipeline."""
    emb = load_table(spark, sf_dir, "embeddings")
    pred = knn.knn_classify(emb, "vec_id", "embedding", "label", k=5)
    return (
        emb.select("vec_id", "label")
        .join(pred, "vec_id")
        .select("vec_id", "label", "pred_label", "votes")
        .orderBy("vec_id")
    )


def prefix_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard ≥ 0.8 self-join via prefix filtering
    (PPJoin/AllPairs blocking) over a fixed doc subset (doc_id < 150
    — the corpus is synthetically self-similar, so an unbounded
    threshold join has quadratic OUTPUT by construction; the oracle
    is the quadratic token join, so a green gate is a machine-checked
    completeness proof of the prefix blocking)."""
    from job_post_similarity_spark.operators.dedup import (
        prefix_jaccard_join,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 150
    )
    return prefix_jaccard_join(
        docs, "doc_id", "text", threshold_ppm=800_000
    )


def triangle_counts_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the top-500 co-supplier edges
    (suppliers sharing a part, weighted by shared-part count — the
    deterministic sparsification cut), a < b < c wedge-join
    enumeration."""
    from job_post_similarity_spark.operators.graph import (
        cooccurrence_edges,
        triangle_counts,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_partkey", "l_suppkey", top_edges=500)
    return triangle_counts(edges)


def label_centroids_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class centroids, long form) with
    DECIMAL(27,10) component accumulation — order-independent sums,
    engine-exact after the single double conversion + round."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn.label_centroids(emb, "embedding", "label", decimals=6)


def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix over events (first-active-week
    cohorts × week offset, exact distinct-user counts) — all-integer,
    Monday-start ISO weeks on both engines."""
    from job_post_similarity_spark.operators.windows import (
        cohort_retention,
    )

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts")


def phrase_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query ('table hash') via positional token joins —
    per-word posting lists filtered map-side, consecutive positions
    equi-joined; per-doc occurrence counts."""
    from job_post_similarity_spark.operators.text_analysis import (
        phrase_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, "table hash")


def stream_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming global top-10 users by running event count
    (complete-mode sort over the streaming aggregate; bounded input
    ⇒ equals the batch top-k oracle)."""
    from job_post_similarity_spark.streaming import stream_topk

    return stream_topk(spark, sf_dir, k=10)


def incremental_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance: summary built from pre-1997
    orders, then one incremental fold of the 1997+ delta — must equal
    the full-rescan aggregate (the oracle). DECIMAL(18,2) price sums
    so partial and rescan agree at any fold order."""
    from job_post_similarity_spark.operators import cdc

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "__price_dec", F.col("o_totalprice").cast("decimal(18,2)")
    )
    keys = ["o_orderstatus", "o_orderpriority"]
    meas = {
        "n_orders": ("count", "o_orderkey"),
        "total_dec": ("sum", "__price_dec"),
        "max_price": ("max", "o_totalprice"),
        "min_date": ("min", "o_orderdate"),
    }
    cut = F.col("o_orderdate") < F.lit("1997-01-01")
    summary = cdc.partial_agg(orders.filter(cut), keys, meas)
    # NULL dates must land in exactly one half — a bare ~cut silently
    # drops them from BOTH (NULL predicate), undercounting vs rescan
    merged = cdc.incremental_agg(
        summary,
        orders.filter(~cut | F.col("o_orderdate").isNull()),
        keys,
        meas,
    )
    return (
        merged.select(
            *keys,
            "n_orders",
            F.round(F.col("total_dec").cast("double"), 2).alias(
                "total_price"
            ),
            "max_price",
            "min_date",
        )
        .orderBy(*keys)
    )


def token_windows_udtf_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Python UDTF surface (PySpark 4 table function): lateral
    fixed-size token windowing per document — deterministic, so the
    DuckDB twin replays it in SQL. The JVM chunker
    (curation.chunk_documents) is the production path; this gate
    proves the UDTF API end-to-end."""
    from job_post_similarity_spark.functions.udtf_ops import (
        token_windows,
    )

    docs = load_table(spark, sf_dir, "documents")
    return token_windows(spark, docs, size=8).orderBy(
        "doc_id", "win_idx"
    )


def hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (contrastive-training prep): top-3
    most-similar DIFFERENT-label vectors per anchor (anchors scoped
    to vec_id < 50 — exact tier over the full corpus side)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = knn.hard_negatives(
        emb, "vec_id", "embedding", "label",
        k=3, anchors=emb.filter(F.col("vec_id") < 50),
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("similarity", 4).alias("similarity"),
        "rank",
    ).orderBy("query_id", "rank")


def event_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (lag over (ts, event_id) total order), probability in
    integer ppm."""
    from job_post_similarity_spark.operators.windows import (
        event_transitions,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    return event_transitions(ev, "user_id", "ts", "event_type", "event_id")


def referential_profile_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Referential-integrity profile lineitem→orders: orphaned facts
    and childless dimension rows, one summary row."""
    from job_post_similarity_spark.operators.profiling import (
        referential_profile,
    )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return referential_profile(li, o, "l_orderkey", "o_orderkey")


def vocab_coverage_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: smallest top-frequency vocab
    reaching 50/90/99% of token mass — all-integer cuts."""
    from job_post_similarity_spark.operators.text_analysis import (
        vocab_coverage,
    )

    docs = load_table(spark, sf_dir, "documents")
    return vocab_coverage(docs)


def negative_samples_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic contrastive negative sampling: 5 stride-hash
    negatives per embedding id — map-side, no RNG state, replayable
    in SQL."""
    from job_post_similarity_spark.operators.sampling import (
        negative_samples,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    return negative_samples(emb, "vec_id", k=5, n=n).orderBy(
        "vec_id", "neg_rank"
    )


def equi_depth_histogram_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact 10-bucket equi-depth histogram of l_extendedprice
    (ntile over a (value, tie) total order)."""
    from job_post_similarity_spark.operators.profiling import (
        equi_depth_histogram,
    )

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "__tie",
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
    )
    out = equi_depth_histogram(li, "l_extendedprice", "__tie", buckets=10)
    return out.select(
        "bucket",
        "cnt",
        F.round("vmin", 4).alias("vmin"),
        F.round("vmax", 4).alias("vmax"),
    )


def time_weighted_avg_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user time-weighted average of value (step-function TWA,
    DECIMAL-weighted sums)."""
    from job_post_similarity_spark.operators.windows import (
        time_weighted_avg,
    )

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_avg(ev, "user_id", "ts", "value", "event_id")


def monthly_revenue_change_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Month-over-month revenue with percent change — monthly DECIMAL
    revenue in exact integer cents, lag window, double percent
    rounded to 4 (exact int64 inputs ⇒ IEEE-deterministic). The lag
    window is global-by-construction BUT runs on the POST-AGGREGATE
    month spine (one row per calendar month — dozens of rows at any
    corpus size), the bounded-frame exception PLAN_CENSUS.md flags
    for justification."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(
            (
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100
            ).cast("long").alias("rev_cents")
        )
    )
    w = Window.orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return (
        monthly.withColumn(
            "change_pct",
            F.when(
                prev.isNotNull() & (prev != 0),
                F.round(
                    (F.col("rev_cents") - prev)
                    / prev.cast("double")
                    * 100.0,
                    4,
                ),
            ),
        )
        .orderBy("month")
    )


def top_tokens_by_lang_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language top-5 frequent tokens (grouped heavy terms)."""
    from job_post_similarity_spark.operators.text_analysis import (
        top_tokens_by_group,
    )

    docs = load_table(spark, sf_dir, "documents")
    return top_tokens_by_group(docs, "lang", "text", top_n=5)


def nearest_centroid_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification against the
    DECIMAL-exact per-label centroids — map-side literal-array dot
    folds, no join, no shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = knn.nearest_centroid_classify(emb)
    return out.select(
        "vec_id",
        F.col("label").cast("string").alias("label"),
        "pred_label",
        "score",
    ).orderBy("vec_id")


def semantic_dedup_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) with the deterministic stratified
    quantizer — cluster assignment (argmax dot vs DECIMAL-exact
    stratum means), within-cluster near-dup pairs, connected
    components, keep-min-id — every step cross-engine exact, so the
    WHOLE semantic-dedup pipeline is oracle-graded end-to-end.
    ``dedup.semantic_dedup`` (Lloyd quantizer, same downstream shape)
    is the production path."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.stratified_semantic_dedup(
        emb, "vec_id", "embedding", k=8, threshold=0.4
    )


def dsir_weights_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DSIR (Xie et al. 2023) importance weights: hashed-unigram
    target-vs-raw LM log-ratio per document — target corpus = the
    English slice, raw = everything. Integer micro-log sums, so the
    whole data-selection signal is cross-engine exact."""
    from job_post_similarity_spark.operators.curation import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return dsir_weights(docs, target).orderBy("doc_id")


def quantize_int8_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Symmetric per-dim int8 scalar quantization (the faiss SQ8
    model) — scale = order-independent per-dim max|x|, codes a
    fixed-shape IEEE expression rounded HALF_UP, so the compressed
    representation is bit-exactly reproducible by an independent
    engine. Codes emitted comma-joined as a STRING — the driver
    canon can't hash list cells (r4 lesson); element order is
    preserved so the hash still proves every code."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        knn.quantize_int8(emb)
        .select(
            "vec_id",
            F.array_join(
                F.col("codes").cast("array<string>"), ","
            ).alias("codes"),
        )
        .orderBy("vec_id")
    )


def leakage_safe_split_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leakage-safe train/val/test split: fold keyed on the content
    digest (exact-dup group), so duplicate documents can never
    straddle train and eval (Lee et al. 2022 §5). Map-side md5
    bucket + cumulative fold thresholds — cross-engine exact."""
    from job_post_similarity_spark.operators.sampling import (
        leakage_safe_split,
    )
    from job_post_similarity_spark.operators.text_analysis import (
        doc_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents")
    grouped = docs.withColumn("dup_group", doc_fingerprint(F.col("text")))
    return (
        leakage_safe_split(
            grouped, "dup_group",
            {"train": 0.8, "val": 0.1, "test": 0.1},
        )
        .select("doc_id", "dup_group", "split")
        .orderBy("doc_id")
    )


def expectation_report_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Data-quality expectation suite (Deequ shape): six named
    row-level contracts evaluated in ONE scan — conditional counts
    inside a single aggregate, report exploded from the one result
    row. The tax_low rule is intentionally violated by the data so
    both report branches are exercised."""
    from job_post_similarity_spark.operators.profiling import (
        expectation_report,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return expectation_report(
        li,
        {
            "qty_range": "l_quantity BETWEEN 1 AND 50",
            "price_positive": "l_extendedprice > 0",
            "discount_range": "l_discount <= 0.1",
            "tax_low": "l_tax < 0.05",
            "flag_domain": "l_returnflag IN ('A','N','R')",
            "shipdate_present": "l_shipdate IS NOT NULL",
        },
    )


def truncate_tokens_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-budget truncation to the first 32 whitespace tokens —
    map-side split/slice/join, codegen end-to-end."""
    from job_post_similarity_spark.operators.preprocess import (
        truncate_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        truncate_tokens(docs, "text", max_tokens=32)
        .select("doc_id", "n_tokens_kept", "text_trunc")
        .orderBy("doc_id")
    )


def stream_expectation_monitor_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming data-quality monitor: per-day windowed expectation
    violations over the event stream (null-hostile conditional
    counts in windowed state). Bounded input ⇒ equals the batch
    windowed report — the oracle."""
    from job_post_similarity_spark.streaming import (
        stream_expectation_monitor,
    )

    return stream_expectation_monitor(spark, sf_dir).orderBy(
        "window_start"
    )


def psi_drift_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI distribution drift of l_extendedprice: pre-1998 shipments
    as the reference population vs 1998+ as the new one — equal-width
    bins over the reference min/max, per-bin PSI terms in integer
    micro units."""
    from job_post_similarity_spark.operators.profiling import psi_drift

    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    ref = li.filter(F.col("l_shipdate") < cutoff)
    new = li.filter(F.col("l_shipdate") >= cutoff)
    return psi_drift(ref, new, "l_extendedprice", n_bins=10)


def temperature_mixture_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled (α=0.7) source-mixing weights per language
    — n^α rounded to micro ints BEFORE the normalization sum, floor
    divisions outside the aggregates, so the mixing table is
    bit-exact cross-engine."""
    from job_post_similarity_spark.operators.sampling import (
        temperature_mixture_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mixture_weights(docs, "lang", alpha=0.7)


def sentence_split_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sentence segmentation over synthesized punctuation (the
    word-soup corpus has none: a period is inserted after each
    'spark'/'window' token first — the multimodal-gate synthesis
    precedent). Java∩RE2 extract-all pattern, dense sent_idx."""
    from job_post_similarity_spark.operators.text_analysis import (
        sentence_split,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.regexp_replace(
            F.col("text"), r" (spark|window) ", r" $1. "
        ),
    )
    return sentence_split(docs).orderBy("doc_id", "sent_idx")


def pivot_orders_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide, the inverse of the melt gate): yearly
    order-priority revenue matrix — ONE hash aggregate of
    conditional DECIMAL sums, explicit value list so the schema is a
    stable contract."""
    from job_post_similarity_spark.operators.preprocess import pivot_table

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    return pivot_table(
        orders.filter(F.col("o_orderdate").isNotNull()),
        "order_year",
        "o_orderpriority",
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        agg_col="o_totalprice",
        agg="sum",
    )


def analyze_table_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE stats collection: per-column nulls / exact NDV /
    numeric min-max in ONE scan (multi-distinct Expand aggregate),
    report exploded from the single result row."""
    from job_post_similarity_spark.operators.profiling import (
        analyze_table,
    )

    ev = load_table(spark, sf_dir, "events")
    return analyze_table(ev)


def grouped_median_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas GROUPED_AGG UDAF surface: exact per-group median via an
    Arrow-batched aggregate UDF — completes the scalar / iterator /
    UDTF / aggregate UDF quartet. np.median's even-count
    (a+b)/2 midpoint is the same IEEE computation as DuckDB's exact
    median."""
    from job_post_similarity_spark.functions.udaf_ops import median_udaf

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(median_udaf("value").alias("median_value"))
        .orderBy("event_type")
    )


def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan Pearson correlation matrix over the lineitem numeric
    columns — DECIMAL(27,10) moment accumulation (order-independent),
    one fixed-shape double expression per pair, rounded to 6."""
    from job_post_similarity_spark.operators.profiling import corr_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def _corr_oracle(table: str, columns: list[str]) -> str:
    """DuckDB twin of ``profiling.corr_matrix``: same DECIMAL moments,
    same fixed-shape r expression, rounded to 6."""
    import itertools

    parts = []
    for a, b in itertools.combinations(columns, 2):
        both = f"{a} IS NOT NULL AND {b} IS NOT NULL"
        dx = f"CAST({a} AS DOUBLE)"
        dy = f"CAST({b} AS DOUBLE)"
        dec = "DECIMAL(27,10)"
        parts.append(f"""
            SELECT '{a}' AS col_a, '{b}' AS col_b,
                   count(CASE WHEN {both} THEN 1 END) AS n_pairs,
                   CASE WHEN
                       sqrt(CAST(count(CASE WHEN {both} THEN 1 END)
                                 AS DOUBLE)
                            * CAST(sum(CASE WHEN {both} THEN
                                  CAST({dx} * {dx} AS {dec}) END)
                                  AS DOUBLE)
                            - CAST(sum(CASE WHEN {both} THEN
                                  CAST({dx} AS {dec}) END) AS DOUBLE)
                              * CAST(sum(CASE WHEN {both} THEN
                                  CAST({dx} AS {dec}) END) AS DOUBLE))
                       * sqrt(CAST(count(CASE WHEN {both} THEN 1 END)
                                   AS DOUBLE)
                              * CAST(sum(CASE WHEN {both} THEN
                                    CAST({dy} * {dy} AS {dec}) END)
                                    AS DOUBLE)
                              - CAST(sum(CASE WHEN {both} THEN
                                    CAST({dy} AS {dec}) END) AS DOUBLE)
                                * CAST(sum(CASE WHEN {both} THEN
                                    CAST({dy} AS {dec}) END)
                                    AS DOUBLE)) > 0
                   THEN round(
                       (CAST(count(CASE WHEN {both} THEN 1 END)
                             AS DOUBLE)
                        * CAST(sum(CASE WHEN {both} THEN
                              CAST({dx} * {dy} AS {dec}) END)
                              AS DOUBLE)
                        - CAST(sum(CASE WHEN {both} THEN
                              CAST({dx} AS {dec}) END) AS DOUBLE)
                          * CAST(sum(CASE WHEN {both} THEN
                              CAST({dy} AS {dec}) END) AS DOUBLE))
                       / (sqrt(CAST(count(CASE WHEN {both} THEN 1 END)
                                    AS DOUBLE)
                               * CAST(sum(CASE WHEN {both} THEN
                                     CAST({dx} * {dx} AS {dec}) END)
                                     AS DOUBLE)
                               - CAST(sum(CASE WHEN {both} THEN
                                     CAST({dx} AS {dec}) END)
                                     AS DOUBLE)
                                 * CAST(sum(CASE WHEN {both} THEN
                                     CAST({dx} AS {dec}) END)
                                     AS DOUBLE))
                          * sqrt(CAST(count(CASE WHEN {both} THEN 1
                                      END) AS DOUBLE)
                                 * CAST(sum(CASE WHEN {both} THEN
                                       CAST({dy} * {dy} AS {dec}) END)
                                       AS DOUBLE)
                                 - CAST(sum(CASE WHEN {both} THEN
                                       CAST({dy} AS {dec}) END)
                                       AS DOUBLE)
                                   * CAST(sum(CASE WHEN {both} THEN
                                       CAST({dy} AS {dec}) END)
                                       AS DOUBLE))), 6)
                   END AS corr
            FROM {table}""")
    return (
        "SELECT * FROM ("
        + " UNION ALL ".join(parts)
        + ") ORDER BY col_a, col_b"
    )


def sorted_neighborhood_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sorted-neighborhood entity-resolution blocking over supplier
    names (window 4) with Levenshtein ≤ 2 verify — candidates from a
    frame-bounded collect over the (key, id) total order, no
    self-join."""
    sup = load_table(spark, sf_dir, "supplier")
    return dedup.sorted_neighborhood_pairs(
        sup, "s_name", "s_suppkey", window=4, max_dist=2
    )


def weighted_sample_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic A-ES weighted sampling: 50 docs drawn
    proportionally to text length via ln(u)/w competition keys from
    the engine-agnostic LCG uniform — same winners on any engine."""
    from job_post_similarity_spark.operators.sampling import (
        weighted_sample,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "w", F.length("text").cast("double")
    )
    return (
        weighted_sample(docs, "w", 50, "doc_id")
        .select("doc_id", "w", "sample_key")
        .orderBy("doc_id")
    )


def asof_forward_tolerance_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FORWARD as-of with tolerance (pandas merge_asof parity): every
    event enriched with the user's NEXT purchase event id, but only
    when it lands within 6 hours — same union+window plan as the
    backward tier, reversed time order."""
    from pyspark.sql.window import Window as W_

    from job_post_similarity_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts", "event_type")
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id", "ts",
            F.col("event_id").alias("purchase_event_id"),
        )
        # unique (key, ts): keep the MIN event_id per instant (the
        # forward tie policy takes the first)
        .withColumn(
            "__rn",
            F.row_number().over(
                W_.partitionBy("user_id", "ts").orderBy(
                    F.asc("purchase_event_id")
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    out = asof_join(
        left, right, "user_id", "ts", ["purchase_event_id"],
        direction="forward", tolerance_seconds=6 * 3600,
    )
    return out.select(
        "event_id", "user_id", "event_type", "purchase_event_id_asof"
    ).orderBy("event_id")


def transitive_closure_parts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Depth-bounded transitive closure (the recursive-CTE surface
    Spark lacks): ancestor paths over a synthesized part hierarchy
    (parent = key div 5 — a branching-5 tree, the multimodal-gate
    synthesis precedent). Frontier expansion with shortest-depth
    dedup; DuckDB replays it with WITH RECURSIVE."""
    from job_post_similarity_spark.operators.graph import (
        transitive_closure,
    )

    part = load_table(spark, sf_dir, "part")
    edges = part.select(
        F.expr("p_partkey div 5").alias("src"),
        F.col("p_partkey").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return transitive_closure(edges, max_depth=20)


def linear_fit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority OLS trend of order value over order year —
    DECIMAL-exact moments, fixed-shape slope/intercept doubles
    rounded to 6."""
    from job_post_similarity_spark.operators.profiling import linear_fit

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .withColumn("x", (F.year("o_orderdate") - F.lit(1995)))
    )
    return linear_fit(orders, "o_orderpriority", "x", "o_totalprice")


def mean_pool_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk→embed→pool: DECIMAL-exact mean vector per synthesized
    group (pmod(vec_id, 16) — the chunk-family synthesis precedent),
    arrays reassembled in position order. Pooled components emitted
    as comma-joined INTEGER MICROS (driver canon can't hash list
    cells, and float→string rendering is engine-dependent — micros
    are exact: both engines start from the identical round-6
    double)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "grp", F.pmod(F.col("vec_id"), F.lit(16))
    )
    return knn.mean_pool(emb, "grp", "embedding").withColumn(
        "pooled",
        F.array_join(
            F.transform(
                F.col("pooled"),
                lambda x: F.round(x * F.lit(1e6))
                .cast("long")
                .cast("string"),
            ),
            ",",
        ),
    )


def mmr_rerank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking of exact top-8 candidate pools
    (queries = vec_id < 20), k=4, λ=0.7 — greedy per-query
    applyInPandas over bounded pools (rows-only: the greedy pick
    loop is not SQL-expressible; property-tested against a
    hand-rolled reference)."""
    from job_post_similarity_spark.operators.knn import knn_join, mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    nbrs = knn_join(
        queries, k=8, id_col="vec_id", vec_col="embedding",
        include_self=False, right=emb,
    )
    cand = nbrs.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"), "embedding"
        ),
        "neighbor_id",
    )
    return mmr_rerank(cand, k=4, lam=0.7)


def ranking_metrics_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retrieval eval: hit@10 / RR / DCG / NDCG per query (integer
    micro policy) over exact top-10 neighbor lists, relevance =
    shared pmod-8 stratum."""
    from job_post_similarity_spark.operators.knn import knn_join
    from job_post_similarity_spark.operators.metrics import (
        ranking_metrics,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    nbrs = knn_join(
        queries, k=10, id_col="vec_id", vec_col="embedding",
        include_self=False, right=emb,
    )
    ranked = nbrs.select(
        "query_id",
        "rank",
        (
            F.pmod(F.col("neighbor_id"), F.lit(8))
            == F.pmod(F.col("query_id"), F.lit(8))
        ).alias("relevant"),
    )
    return ranking_metrics(ranked, "query_id", "rank", "relevant", k=10)


def classification_report_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-class precision/recall/F1 (integer ppm, F1 from raw
    tp/fp/fn — no double rounding) over the Rocchio classifier's
    predictions."""
    from job_post_similarity_spark.operators.metrics import (
        classification_report,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pred = knn.nearest_centroid_classify(emb)
    return classification_report(
        pred.select(F.col("label").cast("string").alias("label"),
                    "pred_label")
    )


def label_propagation_parts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semi-supervised label propagation (2 rounds) over the
    synthesized part tree: seeds = part keys < 10 labeled pmod-3;
    majority vote with (votes desc, label asc) total order — oracle
    replays the rounds unrolled (the PageRank oracle pattern)."""
    from job_post_similarity_spark.operators.graph import (
        label_propagation,
    )

    part = load_table(spark, sf_dir, "part")
    edges = part.select(
        F.expr("p_partkey div 5").alias("src"),
        F.col("p_partkey").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    seeds = part.filter(F.col("p_partkey") < 10).select(
        F.col("p_partkey").alias("id"),
        F.pmod(F.col("p_partkey"), F.lit(3)).cast("string").alias(
            "label"
        ),
    )
    return label_propagation(edges, seeds, rounds=2)


def feature_hash_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick categorical vectorizer: (event_type, user
    bucket) features md5-hashed into 32 namespaced buckets, dense
    count vector per event — map-side, no vocabulary, no fit state."""
    from job_post_similarity_spark.functions.features import feature_hash

    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_bucket",
        F.pmod(F.col("user_id"), F.lit(50)).cast("string"),
    )
    return ev.select(
        "event_id",
        F.array_join(
            feature_hash(["event_type", "user_bucket"], 32).cast(
                "array<string>"
            ),
            ",",
        ).alias("fvec"),
    ).orderBy("event_id")


def seasonality_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality index of event value (integer cents, ISO
    weekday via the portable epoch-day formula, one floor div)."""
    from job_post_similarity_spark.operators.windows import (
        seasonality_profile,
    )

    ev = load_table(spark, sf_dir, "events")
    return seasonality_profile(ev, "ts", "value")


def stream_psi_drift_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming PSI drift: each day's value distribution vs the
    whole-corpus reference — windowed histogram state on the stream,
    micro-integer PSI batch-side on the snapshot. Bounded input ⇒
    equals the batch windowed PSI (the oracle)."""
    from job_post_similarity_spark.streaming import stream_psi_drift

    ref = load_table(spark, sf_dir, "events")
    return stream_psi_drift(spark, sf_dir, ref, "value", n_bins=10)


def sql_registered_udaf_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SQL-interface UDAF registration: the pandas GROUPED_AGG median
    registered via spark.udf.register and invoked from spark.sql —
    the SQL-side twin of grouped_median_events proving the
    registration path."""
    from job_post_similarity_spark.functions.udaf_ops import median_udaf

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_sql_udaf")
    spark.udf.register("exact_median", median_udaf)
    return spark.sql(
        """
        SELECT event_type, exact_median(value) AS median_value
        FROM events_sql_udaf
        GROUP BY event_type ORDER BY event_type
        """
    )


def utf8_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow surface: per-doc UTF-8 byte vs char counts through
    Arrow compute kernels, no pandas round-trip (JVM twin:
    octet_length/char_length — documented production path)."""
    from job_post_similarity_spark.functions.arrow_ops import (
        utf8_byte_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return utf8_byte_stats(docs).orderBy("doc_id")


def dense_ids_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable global row numbering: range-partition + per-partition
    offsets instead of the single-reducer global window — ids equal
    row_number() − 1 over the total order exactly."""
    from job_post_similarity_spark.operators.preprocess import (
        assign_dense_ids,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    return assign_dense_ids(orders, ["o_orderkey"]).orderBy(
        "o_orderkey"
    )


def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window aggregation (the built-in gap-session
    surface; the hand-rolled window twin is `sessionize_events`).
    Semantics note the oracle encodes: a session's window end is
    last_event + gap, and a new session starts when the gap is >= 30
    minutes (window-overlap rule), vs the lag-based formulation's
    strict >."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    agg = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return agg.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias(
            "session_start_us"
        ),
        F.unix_micros(F.col("session_window.end")).alias(
            "session_end_us"
        ),
        "n_events",
    ).orderBy("user_id", "session_start_us")


def bitmap_distinct_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact distinct counting via the bitmap aggregate family
    (bitmap_bucket_number / bitmap_bit_position / construct_agg /
    bitmap_count) — the roaring-bitmap-shaped exact tier between
    countDistinct (full value shuffle) and HLL (approximate):
    per-bucket fixed-size bitmaps merge map-side."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type",
        F.bitmap_bucket_number("user_id").alias("__bkt"),
    ).agg(
        F.bitmap_construct_agg(
            F.bitmap_bit_position("user_id")
        ).alias("__bm")
    )
    return (
        b.groupBy("event_type")
        .agg(
            F.sum(F.bitmap_count("__bm")).cast("long").alias(
                "n_distinct_users"
            )
        )
        .orderBy("event_type")
    )


def try_divide_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic surface: try_divide yields NULL (never an
    error, never inf) on zero denominators — here price per
    incremental unit, where l_quantity == 1 makes real zeros."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            # floor(x * 1e4) not round(x, 4): the division produces
            # doubles whose 4-decimal rounding straddles the .5
            # boundary differently under Java BigDecimal vs DuckDB's
            # multiply-round — floor of the identical double is exact
            F.floor(
                F.try_divide(
                    F.col("l_extendedprice"),
                    F.col("l_quantity") - F.lit(1.0),
                )
                * F.lit(1e4)
            ).alias("price_per_extra_unit_e4"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def scd2_lookup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 lookup: each event resolved against the
    Type-2 dimension AS OF its own timestamp (disjoint validity
    ranges ⇒ the backward as-of plan, not a range join). Self-
    consistency makes the expected value the event's own run attr."""
    from job_post_similarity_spark.operators.cdc import (
        scd2_build,
        scd2_lookup,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    dim = scd2_build(
        ev, key="user_id", attr="event_type", ts="ts",
        tiebreak="event_id",
    )
    facts = ev.select("event_id", "user_id", "ts")
    out = scd2_lookup(dim, facts, "user_id", "ts", "event_type")
    return out.select(
        "event_id", "user_id",
        F.col("event_type_asof"),
    ).orderBy("event_id")


def calendar_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated date dimension 1995-1997 — range over epoch days,
    portable ISO weekday formula, no driver loop."""
    from job_post_similarity_spark.sources.io import calendar_table

    return calendar_table(spark, "1995-01-01", "1997-12-31")


def ks_drift_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic (bin-free drift twin of psi_drift):
    pre- vs post-1998 extended price, integer-exact CDF-difference
    max in ppm."""
    from job_post_similarity_spark.operators.profiling import (
        ks_statistic,
    )

    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    ref = li.filter(F.col("l_shipdate") < cutoff)
    new = li.filter(F.col("l_shipdate") >= cutoff)
    return ks_statistic(ref, new, "l_extendedprice")


def entropy_profile_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shannon entropy per categorical column in integer micro-nats
    (per-value terms micro-rounded before the sum)."""
    from job_post_similarity_spark.operators.profiling import (
        entropy_profile,
    )

    ev = load_table(spark, sf_dir, "events")
    return entropy_profile(ev, ["event_type", "user_id"])


def impute_group_mean_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Group-mean null imputation (DECIMAL-exact means broadcast
    back; synthesized nulls — event_id % 37 == 0, the synthesis
    precedent — since the corpus has none)."""
    from job_post_similarity_spark.operators.preprocess import (
        impute_group_mean,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "value",
        F.when(F.col("event_id") % 37 != 0, F.col("value")),
    )
    out = impute_group_mean(ev, "value", "event_type", decimals=None)
    return out.select(
        "event_id",
        "event_type",
        # floor-micro, not round(double, N) — the engine-exact render
        F.floor(F.col("value_imputed") * F.lit(1e6))
        .alias("value_imputed_e6"),
    ).orderBy("event_id")


def one_hot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-vocabulary one-hot of event_type (fixed 5-wide
    contract; unseen/NULL → zeros)."""
    from job_post_similarity_spark.operators.preprocess import one_hot

    ev = load_table(spark, sf_dir, "events")
    return (
        one_hot(
            ev, "event_type",
            ["click", "error", "purchase", "signup", "view"],
        )
        .select(
            "event_id",
            F.array_join(
                F.col("event_type_onehot").cast("array<string>"), ","
            ).alias("event_type_onehot"),
        )
        .orderBy("event_id")
    )


def kfold_assign_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """5-fold CV assignment, group-keyed on the content digest so
    exact dups share a fold (the leakage_safe_split contract for
    CV)."""
    from job_post_similarity_spark.operators.sampling import kfold_assign
    from job_post_similarity_spark.operators.text_analysis import (
        doc_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "dup_group", doc_fingerprint(F.col("text"))
    )
    return (
        kfold_assign(docs, "dup_group", k=5, by_group=True)
        .select("doc_id", "dup_group", "fold")
        .orderBy("doc_id")
    )


def target_encode_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type against value —
    DECIMAL-exact sums, smoothing prior, floor-micro render."""
    from job_post_similarity_spark.operators.preprocess import (
        target_encode_loo,
    )

    ev = load_table(spark, sf_dir, "events")
    out = target_encode_loo(ev, "event_type", "value")
    return out.select(
        "event_id",
        "event_type",
        F.floor(F.col("event_type_te") * F.lit(1e6)).alias(
            "event_type_te_e6"
        ),
    ).orderBy("event_id")


def bow_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-vocabulary bag-of-words count vectors — one
    aggregate fold over the token array updates all vocab lanes
    (no explode, no shuffle)."""
    from job_post_similarity_spark.operators.text_analysis import (
        bow_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        bow_counts(docs, ["the", "a", "table", "value", "spark"])
        .withColumn(
            "bow",
            F.array_join(F.col("bow").cast("array<string>"), ","),
        )
        .orderBy("doc_id")
    )


def tree_rollup_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical BOM-style rollup: per ancestor in the synthetic
    part tree, the retail-price total (integer cents) over all
    descendants + self."""
    from job_post_similarity_spark.operators.graph import tree_rollup

    part = load_table(spark, sf_dir, "part")
    edges = part.select(
        F.expr("p_partkey div 5").alias("src"),
        F.col("p_partkey").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    values = part.select(
        F.col("p_partkey").alias("id"),
        F.col("p_retailprice").alias("value"),
    )
    return tree_rollup(edges, values)


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under cube/rollup):
    status-only, priority-only, and grand-total sets in ONE
    expand+aggregate pass, with grouping_id disambiguating real
    NULLs from subtotal markers."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               grouping_id(o_orderstatus, o_orderpriority) AS gid,
               count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS total_cents
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, o_orderstatus, o_orderpriority
        """
    )


def shortest_paths_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SSSP (bounded Bellman-Ford, integer min-plus) from
    part key 1 over the synthetic tree with weight (dst%7)+1 —
    oracle replays via recursive CTE path enumeration."""
    from job_post_similarity_spark.operators.graph import shortest_paths

    part = load_table(spark, sf_dir, "part")
    edges = part.select(
        F.expr("p_partkey div 5").alias("src"),
        F.col("p_partkey").alias("dst"),
        (F.pmod(F.col("p_partkey"), F.lit(7)) + 1).alias("weight"),
    ).filter(F.col("src") != F.col("dst"))
    return shortest_paths(edges, source=1, rounds=8)


def zipf_slope_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit: OLS slope of ln(freq) on ln(rank) over the
    token vocabulary (DECIMAL moments via linear_fit). Slope ≈ −1 on
    natural corpora. Ranking via the two-phase ``global_rank`` — the
    vocabulary is billions of strings at web scale, too big for a
    single-partition window (the frequent_tokens precedent)."""
    from job_post_similarity_spark.operators.profiling import linear_fit
    from job_post_similarity_spark.operators.windows import global_rank

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    tok = docs.filter(F.col("text").isNotNull()).select(
        F.explode(toks).alias("token")
    ).filter(F.col("token") != "")
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = global_rank(
        counts, [F.desc("cnt"), F.asc("token")], out_col="rank"
    ).select(
        F.lit("corpus").alias("g"),
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    return linear_fit(ranked, "g", "x", "y")


def bpe_train_local_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained BPE merge list, driver-local-loop tier (rows-only: the
    iterative merge loop is not SQL-expressible — property-tested
    against the hand-computed Sennrich example instead). Distributed
    word-count shuffle + driver-local loop over the bounded vocab
    (the IVF Lloyd-on-a-sample shape)."""
    from job_post_similarity_spark.operators.text_analysis import (
        bpe_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=30)
    return spark.createDataFrame(
        [(i, m[0], m[1]) for i, m in enumerate(merges)],
        "merge_rank int, left string, right string",
    ).orderBy("merge_rank")


def bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc subword token counts from the trained BPE merges
    (rows-only: greedy rank-ordered merge application is a
    data-dependent loop — Arrow-batched pandas UDF, broadcast merge
    table; round-trip property-tested)."""
    from job_post_similarity_spark.operators.text_analysis import (
        bpe_apply,
        bpe_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=30)
    return bpe_apply(docs, merges).orderBy("doc_id")


def containment_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed word-set containment ≥ 0.8 (subset-duplication
    detection) with probe-side prefix blocking over the doc_id < 150
    subset — the oracle is the quadratic token join, so a green gate
    machine-checks the pigeonhole blocking."""
    from job_post_similarity_spark.operators.dedup import (
        containment_join,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 150
    )
    return containment_join(docs, "doc_id", "text", threshold_ppm=800_000)


def pca_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (one-pass Gram accumulation + driver eigh,
    deterministic component signs) projecting embeddings to 8 dims —
    per-vector L2 norm of the projection as the gate output
    (rows-only: eigendecomposition is not SQL-expressible)."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps, mean, _ev = knn.pca_fit(emb, "embedding", k=8)
    proj = knn.pca_project(emb, comps, mean, "embedding", "pca")
    return proj.select(
        "vec_id",
        F.round(
            F.sqrt(
                F.aggregate(
                    "pca", F.lit(0.0), lambda a, x: a + x * x
                )
            ),
            4,
        ).alias("pca_norm"),
    ).orderBy("vec_id")


def bpe_train_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge-loop training, first 3 merges: the
    vocabulary table stays in DataFrames; merge application is the
    double-separator string-replace (exactly leftmost-greedy BPE —
    see text_analysis.bpe_train_distributed). Equality with the
    driver-local bpe_train is property-tested; the oracle unrolls
    the 3 merge iterations as chained CTEs."""
    from job_post_similarity_spark.operators.text_analysis import (
        bpe_train_distributed,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_distributed(docs, num_merges=3).orderBy("step")


def bleu_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-style modified 1/2-gram precision between consecutive
    document pairs (even doc as candidate, odd successor as
    reference) — integer clipped-match counts, precision as integer
    ppm floor division."""
    from job_post_similarity_spark.operators.metrics import (
        ngram_precision,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.alias("a")
        .join(
            docs.alias("b"),
            F.col("a.doc_id") + 1 == F.col("b.doc_id"),
        )
        .filter(F.col("a.doc_id") % 2 == 0)
        .select(
            F.col("a.doc_id").alias("pair_id"),
            F.col("a.text").alias("cand_text"),
            F.col("b.text").alias("ref_text"),
        )
    )
    return ngram_precision(pairs, "pair_id", "cand_text", "ref_text")


def rrf_hybrid_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-50 for [spark, join,
    window] fused with the dense top-50 (exact cosine vs the vec_id
    0 query) by reciprocal rank fusion, k=60 — pure integer floor
    division, so the fused scores are engine-exact. doc_id and
    vec_id share the same id space in the testdata."""
    from job_post_similarity_spark.functions.vectors import dot
    from job_post_similarity_spark.operators.retrieval import (
        rank_by,
        rrf_fuse,
    )
    from job_post_similarity_spark.operators.text_analysis import (
        bm25_rank,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_rank(docs, ["spark", "join", "window"], top_n=50)
    lex_rank = rank_by(
        lex, "doc_id", [F.desc("score"), F.asc("doc_id")], 50
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    sims = emb.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(dot("embedding", "qe"), 4).alias("sim"),
    )
    vec_rank = rank_by(
        sims, "doc_id", [F.desc("sim"), F.asc("doc_id")], 50
    )
    return rrf_fuse(
        {"lexical": lex_rank, "dense": vec_rank}, k=60, top_n=20
    )


def token_budget_mixture_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pretraining mix filled by per-source TOKEN budget (not doc
    count): within each source, docs in LCG-hash order survive while
    the exclusive running token sum is under the source budget —
    greedy fill, boundary doc may overshoot. Deterministic integer
    arithmetic end-to-end."""
    from job_post_similarity_spark.operators.sampling import (
        token_budget_mixture,
    )

    docs = load_table(spark, sf_dir, "documents")
    return token_budget_mixture(
        docs,
        {"src0": 300, "src1": 150, "src2": 300},
        default_budget=100,
    ).orderBy("doc_id")


def hamming_topk_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binary-quantization retrieval: sign-bit pack (32 bits/long,
    ANSI-safe sum of distinct powers) then top-10 by Hamming
    distance vs the vec_id 0 query — xor + bit_count, integer-exact,
    so the whole binary ANN tier is oracle-checkable end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    bits = knn.binary_quantize(emb)
    return knn.hamming_topk(bits, query_id=0, k=10)


def mrl_search_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka adaptive retrieval: top-10 by cosine in the first-16-
    dim truncated space (MRL prefix-as-embedding, Kusupati 2022).
    Full cosine (dot / norms product) instead of renormalize-then-dot
    so every IEEE op has the identical shape in both engines; the
    renorm path is unit-tested."""
    from job_post_similarity_spark.functions.vectors import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    mrl = knn.matryoshka_truncate(emb, 16, renormalize=False)
    q = mrl.filter(F.col("vec_id") == 0).select(
        F.col("embedding_mrl").alias("__q")
    )
    return (
        mrl.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine("embedding_mrl", "__q"), 4).alias(
                "similarity_mrl"
            ),
        )
        .orderBy(F.desc("similarity_mrl"), F.asc("vec_id"))
        .limit(10)
    )


def hamming_rerank_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binary-shortlist-then-float-rerank serving composition:
    Hamming top-50 over sign-bit codes, exact-dot rerank to top-10 —
    both stages engine-exact, so the full two-stage ANN serving path
    is oracle-graded."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn.hamming_rerank_topk(emb, query_id=0, shortlist=50, k=10)


def keep_best_dedup_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Representative selection over blocking clusters: cluster on
    the md5 fingerprint of the first-5-token prefix (the classic ER
    blocking key — the full-text fingerprint yields only singleton
    clusters on this corpus, which would leave the quality ordering
    unexercised), keep the highest-quality member per cluster
    (integer-basis-point quality score; ties lowest id). Output =
    survivors with their cluster size."""
    from job_post_similarity_spark.operators.dedup import (
        keep_best_in_cluster,
    )
    from job_post_similarity_spark.operators.text_analysis import (
        quality_score,
    )

    prefix_fp = F.md5(
        F.array_join(
            F.slice(
                F.filter(
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                    lambda t: t != "",
                ),
                1,
                5,
            ),
            " ",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        prefix_fp.alias("fp"),
        quality_score(F.col("text")).alias("q"),
    )
    out = keep_best_in_cluster(docs, "fp", "q", "doc_id")
    return (
        out.filter(F.col("keep"))
        .select("doc_id", "n_dups")
        .orderBy("doc_id")
    )


def fim_transform_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FIM (fill-in-the-middle) target construction: deterministic
    LCG split into prefix/middle/suffix, PSM-format output string —
    integer split arithmetic and the rendered string both
    engine-exact."""
    from job_post_similarity_spark.operators.curation import (
        fim_transform,
    )

    docs = load_table(spark, sf_dir, "documents")
    return fim_transform(docs).orderBy("doc_id")


def bpe_train_encode_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """END-TO-END tokenizer pipeline gate: train 3 BPE merges with
    the distributed trainer, then ENCODE the whole corpus with the
    JVM replace-chain encoder (bpe_encode_expr) — per-doc subword
    counts. The oracle recomputes the merges (the trainer CTEs) and
    replays the same replace chain, so training AND encoding are
    value-hash-graded as one pipeline."""
    from job_post_similarity_spark.operators.text_analysis import (
        bpe_encode_expr,
        bpe_train_distributed,
    )

    docs = load_table(spark, sf_dir, "documents")
    mrows = sorted(
        bpe_train_distributed(docs, num_merges=3).collect(),
        key=lambda r: r["step"],
    )
    merges = [(r["sym_left"], r["sym_right"]) for r in mrows]
    return bpe_encode_expr(docs, merges).orderBy("doc_id")


def kcenter_coreset_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy k-center coreset, k=4: seed = lowest id, then 3
    farthest-point selections on 4dp-rounded cosine distance (ties
    lowest id) — the whole greedy loop is engine-exact, oracle =
    unrolled argmax CTEs."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn.kcenter_select(emb, k=4).orderBy("sel_rank")


def minhash_banded_oracle_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Banded MinHash+LSH near-dup, deterministic oracle tier
    (md5-prefix shingle codes instead of the production tier's
    Spark-only xxhash64): shingle → 16 universal-hash lanes → 4-band
    keys → per-band candidates → exact-Jaccard ppm verify. A green
    hash here proves the banding ALGORITHM end-to-end, complementing
    the production tier's recall tests. doc_id < 200 bounds the
    oracle's quadratic verify."""
    from job_post_similarity_spark.operators.dedup import (
        minhash_near_dup_pairs_oracle_tier,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    return minhash_near_dup_pairs_oracle_tier(
        docs, threshold_ppm=300_000
    )


def fuzzy_decontaminate_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CROSS-corpus fuzzy decontamination (near-dup complement of the
    exact n-gram / Bloom decontamination tiers): training docs (even
    doc_id < 200) within banded-MinHash reach of a benchmark doc (odd
    doc_id < 200), exact-Jaccard-verified at ≥ 0.3. Within-corpus
    pairs are never generated — only the train×bench band join. md5
    deterministic tier, every step SQL-replayable."""
    from job_post_similarity_spark.operators.dedup import (
        cross_near_dup_pairs_oracle_tier,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    bench = docs.filter(F.col("doc_id") % 2 == 1)
    return cross_near_dup_pairs_oracle_tier(
        corpus, bench, threshold_ppm=300_000
    )


def fuzzy_decontaminate_apply_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The APPLY step of fuzzy decontamination: the training corpus
    (even doc_id < 200) with every near-dup-of-benchmark doc dropped
    (left-anti on the pair gate above) — what actually ships to
    training."""
    from job_post_similarity_spark.operators.dedup import (
        fuzzy_decontaminate,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    bench = docs.filter(F.col("doc_id") % 2 == 1)
    return (
        fuzzy_decontaminate(corpus, bench, threshold_ppm=300_000)
        .select("doc_id")
        .orderBy("doc_id")
    )


def fuzzy_decontaminate_xxh_planted_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION (xxhash64) cross-corpus fuzzy decontamination,
    planted-recall graded: the benchmark is bit-identical twins of the
    first 50 training docs (id + 100000) — identical texts share every
    xxh signature lane, so all 50 (corpus, bench) pairs MUST surface
    with exact Jaccard 1000000 ppm; the projection to the planted pair
    shape makes the expected output closed-form (the round-7
    planted-twin pattern applied to the cross tier)."""
    from job_post_similarity_spark.operators.dedup import (
        cross_near_dup_pairs,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 200)
    )
    bench = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    pairs = cross_near_dup_pairs(docs, bench, threshold_ppm=900_000)
    return (
        pairs.filter(
            (F.col("bench_id") - F.col("corpus_id") == 100000)
            & (F.col("corpus_id") < 50)
        )
        .select("corpus_id", "bench_id", "jaccard_ppm")
        .orderBy("corpus_id")
    )


def stream_fuzzy_decontaminate_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING fuzzy decontamination (continuous-ingest twin of
    ``fuzzy_decontaminate_documents``): the even-id training docs
    arrive as 4 micro-batches; each batch bands + joins against the
    STATIC benchmark signature tables (built once) and appends its
    contaminated pairs. Every corpus doc lands in exactly one batch
    and pairs are per-(corpus, bench), so the accumulated output
    equals the batch operator regardless of batching — the gate
    SHARES the batch gate's DuckDB oracle (registered as an alias in
    oracle_sql)."""
    import os
    import tempfile

    from job_post_similarity_spark.streaming.stream_ops import (
        stream_fuzzy_decontaminate,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    corpus = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="gate_stream_fdecon_")
    src = os.path.join(tmp, "src")
    store = os.path.join(tmp, "store")
    corpus.repartition(4).write.parquet(src)
    out = stream_fuzzy_decontaminate(
        spark, src, bench, store, threshold_ppm=300_000,
        name="gate_stream_fdecon",
    )
    return out.select("corpus_id", "bench_id", "jaccard_ppm").orderBy(
        "corpus_id", "bench_id"
    )


def simhash_banded_oracle_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SimHash near-dup, deterministic oracle tier: 56-bit md5-coded
    signatures, 4×14-bit pigeonhole chunk blocking (complete for
    Hamming ≤ 3), xor+bit_count verify. The oracle verifies via the
    QUADRATIC Hamming filter, so a green hash is a blocking-
    completeness proof."""
    from job_post_similarity_spark.operators.dedup import (
        simhash_near_dup_pairs_oracle_tier,
    )

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs_oracle_tier(docs, max_dist=3)


def srp_rademacher_oracle_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Banded SRP similarity join, deterministic oracle tier:
    ±1 Rademacher planes (md5-derived, shared generator with the
    oracle SQL) over micro-quantized integer components — every
    projection is an order-independent integer sum, so the WHOLE
    banding+verify pipeline is engine-exact (the production SRP
    tier's BLAS matmul accumulation is not SQL-reproducible).
    32 planes = 4 bands × 8 bits; testdata embeddings are dim 64 at
    every SF."""
    from job_post_similarity_spark.operators.ann import (
        rademacher_signs,
        srp_rademacher_pairs_oracle_tier,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return srp_rademacher_pairs_oracle_tier(
        emb, rademacher_signs(32, 64), threshold=0.4
    )


def datacard_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card: size/token/char mass, lang & source
    cardinalities, exact-dup pressure, length extremes — all exact
    integers in one (metric, value) long table."""
    from job_post_similarity_spark.operators.profiling import (
        corpus_datacard,
    )

    return corpus_datacard(load_table(spark, sf_dir, "documents"))


def ivf_stratified_search_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF nprobe search, deterministic oracle tier: stratified
    DECIMAL-exact quantizer (8 strata), probe the 2 nearest
    centroids, exact 4dp top-10 inside the probed lists — the Faiss
    IVF search shape, every step SQL-replayable."""
    from job_post_similarity_spark.operators.ann import (
        ivf_stratified_topk_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_stratified_topk_search(
        emb, 0, k_clusters=8, n_probe=2, topk=10
    )


def pq_stratified_adc_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PQ ADC top-10, deterministic oracle tier: stratified DECIMAL
    sub-codebooks (8 subspaces × 8 codes), argmax-dot encode, query
    lookup table, fixed-LTR 8-term ADC sum rounded 4dp — the full
    IndexPQ search pipeline, SQL-replayable."""
    from job_post_similarity_spark.operators.ann import (
        pq_stratified_adc_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_stratified_adc_search(emb, 0, m=8, k_codes=8, topk=10)


def ohlc_bars_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event_type over events.value: one
    (key, bucket) hash aggregate via min_by/max_by on a (ts, value)
    composite — deterministic under duplicate timestamps."""
    from job_post_similarity_spark.operators.windows import ohlc_bars

    ev = load_table(spark, sf_dir, "events")
    return ohlc_bars(ev, key_col="event_type", bucket="1 hour")


def ivfpq_stratified_search_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF-PQ residual search, deterministic oracle tier: coarse
    stratified quantizer → round6 residuals → stratified residual
    sub-codebooks → per-probe ADC tables → fixed-LTR lookup-sum
    top-10. The full IndexIVFPQ composition, SQL-replayable end to
    end."""
    from job_post_similarity_spark.operators.ann import (
        ivfpq_stratified_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_stratified_search(
        emb, 0, k_coarse=8, m=8, k_codes=8, n_probe=2, topk=10
    )


def mmr_rerank_oracle_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MMR diversity re-rank, deterministic oracle tier: top-20 pool
    by integer-e4 cosine, greedy 7·rel_e4 − 3·maxsim_e4 picks (λ=0.7
    scaled to the 7:3 integer ratio — a double-score first cut hit
    DuckDB FMA last-ulp drift), ties lowest id."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn.mmr_rerank_oracle_tier(emb, 0, pool=20, k=5, lam=0.7)


def nn_descent_graph_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NN-Descent kNN-graph construction (Dong et al., WWW 2011) — the
    distributable graph-index build (HNSW-family; the reference's
    default index string is HNSW32, app/main.py:47). Deterministic by
    construction (integer micro dots, (dot DESC, id) total order, ring
    init), so the PRODUCTION implementation is itself oracle-graded:
    the DuckDB twin unrolls the 2 refinement rounds with recursive-
    free CTEs and must reproduce every (id, neighbor, rank, sim_ppm)
    row."""
    from job_post_similarity_spark.operators.ann import nn_descent_knn_graph

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 120
    )
    return nn_descent_knn_graph(emb, "vec_id", "embedding", k=4, iters=2)


def pretraining_corpus_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FULL pretraining-corpus preparation pipeline, end to end
    (plans.pipeline.prepare_pretraining_corpus): curate → MinHash
    near-dup clustering (md5 deterministic tier) → connected
    components → keep-best-per-cluster → leakage-safe cluster-keyed
    split. ONE DuckDB replay verifies the whole emitted artifact —
    the curate_corpus e2e pattern extended through near-dup dedup and
    the split."""
    from job_post_similarity_spark.plans.pipeline import (
        prepare_pretraining_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    return prepare_pretraining_corpus(docs)


def pretraining_corpus_xxh_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The pretraining-corpus pipeline at the PRODUCTION near-dup tier
    (xxhash64 MinHash candidates → exact n-gram-Jaccard verify — the
    ``minhash_verified`` chain at the oracle tier's banding shape and
    the same TRUE-Jaccard threshold). Rows-only (xxhash64 is
    Spark-only); the md5 tier above is the value-hash-graded twin and
    bench times THIS tier — the 100 TB code path (VERDICT r6 item 3).
    Invariants (keep-best uniqueness, exact-dup clustering, split
    partition) are pytest-asserted."""
    from job_post_similarity_spark.plans.pipeline import (
        prepare_pretraining_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    return prepare_pretraining_corpus(docs, near_dup_tier="xxh")


def tokenizer_fertility_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer evaluation metrics (the stats a tokenizer-training
    pipeline reports): corpus fertility (BPE tokens per word, ppm) and
    compression (chars per BPE token, ppm) for the 3-merge distributed
    trainer over the doc_id < 250 slice. The oracle replays the shared
    trainer CTEs + encode chain and the same integer floor-divs."""
    from job_post_similarity_spark.operators.text_analysis import (
        bpe_encode_expr,
        bpe_train_distributed,
    )

    docs = load_table(spark, sf_dir, "documents")
    mrows = sorted(
        bpe_train_distributed(docs, num_merges=3).collect(),
        key=lambda r: r["step"],
    )
    merges = [(r["sym_left"], r["sym_right"]) for r in mrows]
    sl = docs.filter(F.col("doc_id") < 250)
    enc = bpe_encode_expr(sl, merges)
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda x: x != "",
    )
    words = sl.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.length(F.array_join(toks, " ")).cast("long").alias("n_chars"),
    )
    agg = (
        words.join(enc, "doc_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_chars").alias("n_chars"),
            F.sum(F.coalesce(F.col("n_bpe_tokens"), F.lit(0)))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
    )
    return agg.select(
        "n_docs",
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        F.when(
            F.col("n_words") > 0,
            F.expr("n_bpe_tokens * 1000000 div n_words"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("fertility_ppm"),
        F.when(
            F.col("n_bpe_tokens") > 0,
            F.expr("n_chars * 1000000 div n_bpe_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("chars_per_token_ppm"),
    )


def sql_pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.1's ``|>`` operator chain — the
    Google-SQL-pipes surface): WHERE -> EXTEND -> AGGREGATE GROUP BY
    -> ORDER BY as a pipeline. Same Catalyst plan as the nested form;
    the DuckDB oracle is the equivalent ANSI query (integer cents, so
    the hash is engine-exact)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "pipe_orders"
    )
    return spark.sql(
        """
        FROM pipe_orders
        |> WHERE o_orderstatus = 'F'
        |> EXTEND CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |> AGGREGATE count(*) AS n_orders,
                     sum(cents) AS revenue_cents
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


def minhash_near_dup_auto_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash near-dup pairs at the PLANNER-chosen banding
    (``dedup.minhash_parameter_plan`` — the Jaccard twin of the SRP
    planner): knobs solved from the S-curve under a linear candidate
    budget + a signature-width floor for the estimator. Rows-only
    (xxhash64 production tier; the md5 twins value-grade the banding
    algorithm)."""
    from job_post_similarity_spark.operators.dedup import (
        minhash_near_dup_pairs_auto,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    return minhash_near_dup_pairs_auto(
        docs, jaccard_threshold=0.5
    ).orderBy("id1", "id2")


def graph_beam_search_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Graph-index tier END TO END: NN-Descent build (k=4, 1 round)
    then HNSW-style greedy beam search (beam=8, 2 hops, top-5) for 5
    fixed queries — one DuckDB query replays BOTH halves
    (ann.nn_descent_knn_graph + ann.graph_beam_search)."""
    from job_post_similarity_spark.operators.ann import (
        graph_beam_search,
        nn_descent_knn_graph,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 120
    )
    g = nn_descent_knn_graph(emb, "vec_id", "embedding", k=4, iters=1)
    return graph_beam_search(
        emb, g, [5, 17, 42, 63, 99], k=5, beam=8, hops=2
    )


def stream_graph_topk_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING ANN serving gate (round 9): the same graph, queries,
    and knobs as ``graph_beam_search_embeddings``, but the 5 query
    vectors arrive as a 2-micro-batch file stream served via
    ``streaming.stream_topk_search`` (foreachBatch against the
    static RAM-resident index, parquet append sink, read-back
    dedup). Per-query independence makes the accumulated sink equal
    the batch operator exactly, so the SAME unrolled build+search
    DuckDB replay grades the streaming path end to end. (Oracle:
    the batch gate's SQL under this name.)"""
    import tempfile as _tempfile

    from job_post_similarity_spark.operators.ann import (
        nn_descent_knn_graph,
    )
    from job_post_similarity_spark.streaming import stream_topk_search

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 120
    )
    g = nn_descent_knn_graph(emb, "vec_id", "embedding", k=4, iters=1)
    qdf = emb.filter(F.col("vec_id").isin([5, 17, 42, 63, 99]))
    base = _tempfile.mkdtemp(prefix="jps_stream_topk_")
    qdir = f"{base}/queries"
    qdf.repartition(2).write.parquet(qdir)
    stream = (
        spark.readStream.schema(qdf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    return stream_topk_search(
        spark,
        stream,
        emb,
        f"{base}/out",
        checkpoint_dir=f"{base}/ckpt",
        graph=g,
        k=5,
        beam=8,
        hops=2,
    )


def stream_rabitq_topk_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING 1-bit serving gate (round 11): the planted-twin
    corpus and queries of ``rabitq_planted_recall_embeddings``, but
    the 50 query vectors arrive as a 2-micro-batch file stream served
    via ``streaming.stream_rabitq_topk_search`` (foreachBatch against
    the static RAM-resident rotation + code table, parquet append
    sink, read-back dedup). Per-query independence makes the
    accumulated sink equal the batch operator exactly, so the SAME
    closed-form planted oracle grades the streaming path end to end
    after the twin projection."""
    import tempfile as _tempfile

    from job_post_similarity_spark.operators import ann
    from job_post_similarity_spark.streaming import (
        stream_rabitq_topk_search,
    )

    emb = _planted_emb_union(spark, sf_dir)
    # the rotation + code table are the stream's STATIC index state
    # ("run ONCE before the stream starts and stay RAM-resident" —
    # the loaded-Faiss contract the operator documents), and the
    # 2-file query drop is input fixture layout: both are
    # index-build-time constants, memoized per session like the
    # graph/hierarchy serving state. Every call still replays BOTH
    # micro-batch triggers against a FRESH sink + checkpoint, so the
    # measured streaming work (trigger round-trips, per-batch serve,
    # sink append, read-back dedup) re-executes per call.
    sk = (_spark_key(spark), sf_dir, "stream_rabitq_state")
    state = _CLUSTERED_EMB_CACHE.get(sk)
    if state is None:
        P = ann.rabitq_train(emb, "embedding", seed=42)
        codes = ann.rabitq_encode(emb, P, "vec_id", "embedding").transform(cache_auto)
        codes.count()
        qdf = emb.filter(F.col("vec_id") < 50)
        qbase = _tempfile.mkdtemp(prefix="jps_stream_rabitq_q_")
        qdir = f"{qbase}/queries"
        qdf.repartition(2).write.parquet(qdir)
        state = (P, codes, qdir, qdf.schema)
        _CLUSTERED_EMB_CACHE[sk] = state
    P, codes, qdir, qschema = state
    base = _tempfile.mkdtemp(prefix="jps_stream_rabitq_")
    stream = (
        spark.readStream.schema(qschema)
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir)
    )
    hits = stream_rabitq_topk_search(
        spark,
        stream,
        emb,
        f"{base}/out",
        checkpoint_dir=f"{base}/ckpt",
        k=4,
        rotation=P,
        codes=codes,
    )
    return (
        hits.filter(
            (F.col("neighbor_id") - F.col("query_id") == _PLANT_OFFSET)
            & (F.col("query_id") < 50)
        )
        .select("query_id", "neighbor_id")
        .orderBy("query_id")
    )


def wordpiece_train_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WordPiece merge-list trainer (round 9 — the BERT tokenizer's
    criterion, completing the BPE/unigram/WordPiece trainer trio):
    6 distributed merges picking argmax LIKELIHOOD RATIO
    count(ab)/(count(a)·count(b)) as integer micro-log score6, ties
    (score6 desc, l, r). Oracle: the merge chain unrolled to 6
    (symbol-count, pair-count, argmax, replace) blocks — every
    winning pair, count, and score replayed by value. (Oracle
    generated by ``_wordpiece_oracle``.)"""
    from job_post_similarity_spark.operators.text_analysis import (
        wordpiece_train_distributed,
    )

    docs = load_table(spark, sf_dir, "documents")
    return wordpiece_train_distributed(
        docs, num_merges=6, min_count=2
    ).orderBy("step")


def dup_lines_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-line fraction (Rae et al. §A1.1): the corpus
    is single-line word soup, so the gate synthesizes 8-token lines
    and PLANTS one duplicate (the first line repeated at the end) —
    the oracle replays the synthesis, so the value hash proves the
    beyond-first-occurrence counting on known-nonzero fractions."""
    from job_post_similarity_spark.operators.text_analysis import (
        duplicate_line_stats,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 500
    )
    toks = F.split(F.trim("text"), r"\s+")
    n_lines = (F.size(toks) + F.lit(7)).cast("long") / F.lit(8)
    lines = F.transform(
        F.sequence(F.lit(0), F.floor(n_lines).cast("int") - 1),
        lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
    )
    synth = docs.select(
        "doc_id",
        F.array_join(F.concat(lines, F.slice(lines, 1, 1)), "\n").alias(
            "text"
        ),
    )
    return duplicate_line_stats(synth).orderBy("doc_id")


def top_ngram_char_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher top-2-gram character occupancy (the Table A1 character
    variant, complementing top_ngram_fraction's occurrence share)."""
    from job_post_similarity_spark.operators.text_analysis import (
        top_ngram_char_fraction,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 500
    )
    return top_ngram_char_fraction(docs, n=2).orderBy("doc_id")


def dup_ngram_coverage_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gopher duplicate-5-gram character coverage: chars covered by
    grams occurring >1x per doc, overlapping occurrences counted once
    (interval-union sweep). The oracle replays positions, duplicate
    marking, and the running-max merge — integer-exact end to end."""
    from job_post_similarity_spark.operators.text_analysis import (
        duplicate_ngram_char_coverage,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 300
    )
    return duplicate_ngram_char_coverage(docs, n=5).orderBy("doc_id")


def stream_running_counts_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-type running counts via the CAPABILITY-DISPATCHED tier:
    ``transformWithStateInPandas`` (Spark 4's successor stateful API)
    wherever the driver env ships google.protobuf, else the
    complete-mode aggregation twin — identical (event_type, cnt)
    snapshot either way, so the gate grades green in both envs
    instead of env-skipping (VERDICT r5 item 7)."""
    from job_post_similarity_spark.streaming.stream_ops import (
        stream_running_counts,
    )

    return stream_running_counts(
        spark, sf_dir, name="gate_stream_run_counts"
    )


def stream_ohlc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars (complete-mode over the bounded event
    stream): min_by/max_by state updates are order-insensitive, so
    the result equals the batch operator — and shares its oracle."""
    from job_post_similarity_spark.streaming.stream_ops import (
        stream_ohlc_bars,
    )

    out = stream_ohlc_bars(spark, sf_dir, name="gate_stream_ohlc")
    return out.select(
        "event_type", "bar_ts", "open", "high", "low", "close", "n"
    ).orderBy("event_type", "bar_ts")


# ---------------------------------------------------------------------
# Round-7 cross-tier equivalence gates (VERDICT r6 item 2): each
# rows-only PRODUCTION tier (xxhash64 / numpy-BLAS primitives that no
# SQL engine reproduces) gets a PLANTED-DUP recall gate the driver can
# value-hash. Mechanism: append bit-identical twins (id + 100000) of
# the first 50 rows, run the production operator over base ∪ twins,
# and project exactly the planted pairs it found. Identical inputs
# collide in EVERY band/bucket DETERMINISTICALLY (equal strings hash
# equal under xxhash64; equal vectors produce equal sign bits and an
# exact-1.0 verify cosine), so the expected output is the full planted
# set and the DuckDB oracle derives it from the base table alone — a
# miss (or a verify-arithmetic drift) changes the row set and reddens
# the hash. Precision of the verify arithmetic is separately graded by
# the deterministic twins (minhash_banded_oracle / simhash_banded /
# srp_rademacher, green r5/r6); these gates close the loop on the
# PRODUCTION code path end-to-end (signature → banding → bucket join →
# verify → canonical pair).
# ---------------------------------------------------------------------


_PLANT_OFFSET = 100_000


def _planted_doc_union(spark, sf_dir, base_limit=200, n_plant=50):
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < base_limit)
    )
    twins = docs.filter(F.col("doc_id") < n_plant).select(
        (F.col("doc_id") + _PLANT_OFFSET).alias("doc_id"), "text"
    )
    return docs.unionByName(twins)


def _planted_emb_union(spark, sf_dir, base_limit=400, n_plant=50):
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < base_limit)
    )
    twins = emb.filter(F.col("vec_id") < n_plant).select(
        (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"), "embedding"
    )
    return emb.unionByName(twins)


def _planted_pairs_only(pairs: DataFrame) -> DataFrame:
    """Keep exactly the (orig, orig+offset) planted pairs — natural
    near-dup pairs among the base corpus (or between an orig and a
    DIFFERENT twin) never satisfy id2 == id1 + offset with id1 in the
    planted range, so the projection is insensitive to fixture
    self-similarity."""
    return pairs.filter(
        (F.col("id2") - F.col("id1") == _PLANT_OFFSET)
        & (F.col("id1") < 50)
    )


def minhash_xxh_planted_recall_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION MinHash chain recall gate: xxhash64 signatures →
    16-band LSH → est-Jaccard ≥ 0.9 → exact n-gram-Jaccard verify
    (the ``minhash_verified_documents`` chain) over base ∪ planted
    twins. Identical texts share every shingle ⇒ every signature lane
    ⇒ every band bucket; est and true Jaccard are exactly 1.0 — all
    50 planted pairs MUST surface with jaccard_x10000 = 10000. The
    driver hash thus grades the rows-only xxhash tier end-to-end
    against a closed-form oracle (VERDICT r6 item 2)."""
    docs = _planted_doc_union(spark, sf_dir)
    cand = dedup.minhash_near_dup_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=16, ngram=2,
        jaccard_threshold=0.9,
    )
    verified = dedup.ngram_jaccard_on_pairs(
        cand, docs, "doc_id", "text", n=2, threshold=0.9
    )
    return (
        _planted_pairs_only(verified)
        .select(
            "id1",
            "id2",
            F.round(F.col("jaccard") * 10000).cast("long").alias(
                "jaccard_x10000"
            ),
        )
        .orderBy("id1")
    )


def minhash_auto_planted_recall_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION MinHash at PLANNER-chosen banding
    (``minhash_parameter_plan``) — planted-twin recall over the same
    union slice. Identical shingle sets collide under ANY (hashes,
    bands) plan the solver picks, so the expected planted set is
    knob-independent: the gate stays green across planner retunes
    while still executing the exact production code path
    (rows-only twin: ``minhash_near_dup_auto_documents``)."""
    docs = _planted_doc_union(spark, sf_dir)
    pairs = dedup.minhash_near_dup_pairs_auto(
        docs, "doc_id", "text", jaccard_threshold=0.8, ngram=2
    )
    return (
        _planted_pairs_only(pairs)
        .select(
            "id1",
            "id2",
            F.round(F.col("est_jaccard") * 10000).cast("long").alias(
                "est_jaccard_x10000"
            ),
        )
        .orderBy("id1")
    )


def simhash_xxh_planted_recall_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION SimHash (xxhash64 token hashes) planted-twin recall:
    identical token multisets vote identically on all 64 bits ⇒
    hamming 0 ≤ max_dist ⇒ every planted pair surfaces through the
    4-chunk pigeonhole blocking (rows-only twin:
    ``simhash_near_dup_xxh_documents``)."""
    docs = _planted_doc_union(spark, sf_dir)
    pairs = dedup.simhash_near_dup_pairs(
        docs, "doc_id", "text", max_hamming=3, bands=4
    )
    return (
        _planted_pairs_only(pairs)
        .select("id1", "id2", "hamming")
        .orderBy("id1")
    )


def srp_fixed_planted_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION banded SRP-LSH (numpy-BLAS sign bits, fixed knobs)
    planted-twin recall: equal vectors project to equal floats (same
    BLAS expression, same inputs) ⇒ identical sign bits in every band
    ⇒ the bucket join proposes all 50 planted pairs; the exact-dot
    verify scores them 1.0 (round-4dp stable) (rows-only twin:
    ``srp_lsh_similarity_pairs_fixed``)."""
    from job_post_similarity_spark.operators import ann

    emb = _planted_emb_union(spark, sf_dir)
    pairs = ann.srp_lsh_similarity_join(
        emb, "vec_id", "embedding", threshold=0.9,
        bits_per_band=4, num_bands=24,
    )
    return (
        _planted_pairs_only(pairs)
        .select(
            "id1",
            "id2",
            F.round(F.col("similarity") * 10000).cast("long").alias(
                "sim_x10000"
            ),
        )
        .orderBy("id1")
    )


def srp_auto_planted_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION banded SRP-LSH at the PLANNER operating point
    (``srp_parameter_plan``) — planted-twin recall. Knob-independent
    expected set (equal vectors collide under any banding), so the
    gate survives planner retunes while driving the production
    facade path (rows-only twin: ``srp_lsh_similarity_pairs_auto``)."""
    from job_post_similarity_spark.operators import ann

    emb = _planted_emb_union(spark, sf_dir)
    pairs = ann.srp_lsh_similarity_join(
        emb, "vec_id", "embedding", threshold=0.9, bits_per_band="auto"
    )
    return (
        _planted_pairs_only(pairs)
        .select(
            "id1",
            "id2",
            F.round(F.col("similarity") * 10000).cast("long").alias(
                "sim_x10000"
            ),
        )
        .orderBy("id1")
    )


def ivf_pairs_planted_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION IVF pair join planted-twin recall: a twin vector is
    bit-identical to its original, so the coarse-quantizer argmax
    (same BLAS expression + stable tie-break) assigns both to the SAME
    bucket even at n_probe=1 — the within-bucket join must propose the
    pair and the exact verify scores 1.0 (rows-only twin:
    ``ivf_similarity_pairs``)."""
    from job_post_similarity_spark.operators import ann

    emb = _planted_emb_union(spark, sf_dir)
    pairs = ann.ivf_similarity_join(
        emb, "vec_id", "embedding", threshold=0.9,
        n_centroids=16, n_probe=1,
    )
    return (
        _planted_pairs_only(pairs)
        .select(
            "id1",
            "id2",
            F.round(F.col("similarity") * 10000).cast("long").alias(
                "sim_x10000"
            ),
        )
        .orderBy("id1")
    )


def pq_planted_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION PQ-ADC search planted-twin recall (VERDICT r7 item
    2 — the last search family without a driver-hash-graded
    end-to-end chain, with IVFPQ below). A twin vector is
    bit-identical to its original, so ``pq_encode`` (argmin over the
    same seeded-Lloyd codebooks) gives it the SAME code, and its ADC
    distance to the original-as-query is Σ_j min_e tab[j,e] — the
    GLOBAL minimum any code can score. With self excluded the twin
    must therefore sit in the top-k (ties resolve asc neighbor_id;
    a tie can only come from a base row sharing the full m-subspace
    code, and fewer than k of those exist on the fixtures — verified
    at all three SFs). Projecting exactly the planted pairs makes the
    expected set closed-form on the base table (rows-only twins:
    ``pq_compression_embeddings``/``pq_adc_search``)."""
    from job_post_similarity_spark.operators import ann

    emb = _planted_emb_union(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 50)
    books = ann.pq_train(emb, "embedding", m=8, bits=5, seed=42,
                         n_rows=450)
    codes = ann.pq_encode(emb, books, "vec_id", "embedding")
    hits = ann.pq_topk_search(
        queries_df, codes, books, k=4, include_self=False
    )
    return (
        hits.filter(
            (F.col("neighbor_id") - F.col("query_id") == _PLANT_OFFSET)
            & (F.col("query_id") < 50)
        )
        .select("query_id", "neighbor_id")
        .orderBy("query_id")
    )


def opq_planted_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION OPQ search planted-twin recall (round 9): the
    learned rotation is a function of the (deterministic, seeded)
    training alternation only, so a bit-identical twin rotates AND
    encodes identically to its original — the PQ planted argument is
    rotation-invariant, and the twin again scores the global ADC
    minimum. Same closed-form expected set as the PQ gate."""
    from job_post_similarity_spark.operators import ann

    emb = _planted_emb_union(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 50)
    R, books = ann.opq_train(
        emb, "embedding", m=8, bits=5, opq_iters=4, seed=42, n_rows=450
    )
    codes = ann.opq_encode(emb, R, books, "vec_id", "embedding")
    hits = ann.opq_topk_search(
        queries_df, codes, R, books, k=4, include_self=False
    )
    return (
        hits.filter(
            (F.col("neighbor_id") - F.col("query_id") == _PLANT_OFFSET)
            & (F.col("query_id") < 50)
        )
        .select("query_id", "neighbor_id")
        .orderBy("query_id")
    )


def opq_ivfpq_planted_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPQ,IVF,PQ COMPOSITION planted-twin recall (round 10 — the
    exact pipeline VectorSearch dispatches for 'OPQ8,IVF16,PQ8'
    descriptors: learn the rotation, rotate corpus AND queries, run
    residual IVF-PQ in rotated space): the rotation is a
    deterministic function of the seeded alternation, orthonormal R
    preserves the coarse argmin and the residual geometry, so the
    bit-identical twin again shares its original's bucket, the own
    bucket is always probed, and the twin's residual code scores the
    ADC minimum — the ivfpq planted argument, rotation-invariant.
    Closed-form expected set, same as the flat OPQ gate."""
    from job_post_similarity_spark.operators import ann

    emb = _planted_emb_union(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 50)
    R, _books = ann.opq_train(
        emb, "embedding", m=8, bits=5, opq_iters=4, seed=42, n_rows=450
    )
    rotated = ann.rotate_vectors(emb, R)
    rq = ann.rotate_vectors(queries_df, R)
    hits = ann.ivfpq_topk_search(
        rq, rotated, k=4, n_centroids=16, n_probe=2, m=8, bits=5,
        include_self=False,
    )
    return (
        hits.filter(
            (F.col("neighbor_id") - F.col("query_id") == _PLANT_OFFSET)
            & (F.col("query_id") < 50)
        )
        .select("query_id", "neighbor_id")
        .orderBy("query_id")
    )


def rabitq_planted_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RaBitQ 1-bit tier planted-twin recall (round 11 — the
    'RaBitQ' descriptor VectorSearch dispatches: seeded-rotation sign
    codes + the asymmetric estimator ``<sign(u_x), u_q>/Σ|u_x|``,
    shortlist-then-exact-rerank): a bit-identical twin rotates and
    sign-encodes identically and shares its original's abs_sum, so
    its estimate equals the query's own self-estimate (the global
    maximum of the estimator for that query) — it always enters the
    shortlist, and the engine-exact integer rerank then pins it at
    rank 1. Closed-form expected set, same shape as the OPQ/PQ
    planted gates. Completes the modern Faiss quantizer family
    (VERDICT r10 item 4; reference descriptor surface
    app/vector_search.py:42-47)."""
    from job_post_similarity_spark.operators import ann

    emb = _planted_emb_union(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 50)
    P = ann.rabitq_train(emb, "embedding", seed=42)
    codes = ann.rabitq_encode(emb, P, "vec_id", "embedding")
    hits = ann.rabitq_topk_search(
        queries_df, emb, k=4, rotation=P, codes=codes,
        include_self=False,
    )
    return (
        hits.filter(
            (F.col("neighbor_id") - F.col("query_id") == _PLANT_OFFSET)
            & (F.col("query_id") < 50)
        )
        .select("query_id", "neighbor_id")
        .orderBy("query_id")
    )


def rabitq_ivf_planted_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RaBitQ,IVF COMPOSITION planted-twin recall (round 11 — the
    pipeline VectorSearch dispatches for 'RaBitQ,IVF<c>': one coarse
    list per row, queries probe their n_probe nearest lists, the
    1-bit asymmetric-estimator scan touches probed lists only, exact
    rerank): a bit-identical twin shares its original's single list
    assignment (same vector ⇒ same argmin centroid, stable
    tie-break), the query's own list is always among its probes, so
    the twin is scanned, ties the query's self-estimate, and the
    engine-exact rerank pins it at rank 1. Closed-form expected set,
    same shape as the flat RaBitQ / OPQ,IVF,PQ gates."""
    from job_post_similarity_spark.operators import ann

    emb = _planted_emb_union(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 50)
    hits = ann.rabitq_ivf_topk_search(
        queries_df, emb, k=4, n_centroids=16, n_probe=2, seed=42,
        include_self=False, corpus_rows=450,
    )
    return (
        hits.filter(
            (F.col("neighbor_id") - F.col("query_id") == _PLANT_OFFSET)
            & (F.col("query_id") < 50)
        )
        .select("query_id", "neighbor_id")
        .orderBy("query_id")
    )


def rabitq_ivfres_planted_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESIDUAL RaBitQ,IVF planted-twin recall (round 12 — the
    paper's actual IVF composition, Gao & Long SIGMOD'24 §3.1 /
    Faiss's residual convention: codes quantize x − c_bucket via
    ``ann.rabitq_encode_residual``, queries scan probed lists with
    their own per-bucket residual, and the shortlist is cut by the
    estimated negative squared distance; VectorSearch dispatches it
    for 'RaBitQ,IVF<c>,Residual'). A bit-identical twin shares its
    original's list AND residual, so its sign code, abs_sum, and
    res_nrm2 are identical, its estimate hits the exact-tie maximum
    (score |q−c|² − |x−c|² ≈ 0, above every true candidate), and the
    engine-exact rerank pins rank 1 — the same closed-form shape as
    the raw-form sibling. On clustered corpora the residual form's
    shortlists are strictly better (raw within-list sign codes
    collapse toward the centroid's code —
    test_rabitq_residual_beats_raw_on_tight_clusters measures 4×).
    (Oracle staged: the name is in ``_STAGED``, so its SQL is not
    registered in ``oracle_sql()`` yet.)"""
    from job_post_similarity_spark.operators import ann

    emb = _planted_emb_union(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 50)
    hits = ann.rabitq_ivf_topk_search(
        queries_df, emb, k=4, n_centroids=16, n_probe=2, seed=42,
        include_self=False, corpus_rows=450, residual=True,
    )
    return (
        hits.filter(
            (F.col("neighbor_id") - F.col("query_id") == _PLANT_OFFSET)
            & (F.col("query_id") < 50)
        )
        .select("query_id", "neighbor_id")
        .orderBy("query_id")
    )


def filtered_oversample_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filtered-ANN OVERSAMPLE branch planted-twin recall (round 10 —
    the branch the graded gate's measured-selectivity pin deliberately
    avoids): an UNselective predicate (~55% of the 450-row clustered
    union, twins included) dispatches ``ann.filtered_topk_search`` to
    the intact-index oversample-and-post-filter path, served through
    the LAYERED hierarchy (hierarchy_min_rows=1 pins the at-scale
    composition, VERDICT r9 item 6). Each query's bit-identical twin
    is the global ADC^0 top-1 AND passes the predicate, so it must
    survive the post-filter at rank 1 — closed-form expected set on
    the md5-deterministic descent (verified 50/50 at all three SFs)."""
    from job_post_similarity_spark.operators import ann

    clustered, n, step = _clustered_emb_corpus(spark, sf_dir, limit=400)
    emb = clustered.select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"), "embedding"
    )
    union = emb.unionByName(twins)
    queries = emb.filter(F.col("vec_id") < 50)
    pred = (F.col("vec_id") < 200) | (
        F.col("vec_id") >= _PLANT_OFFSET
    )
    out = ann.filtered_topk_search(
        queries,
        union,
        pred,
        k=3,
        selectivity_threshold=0.15,
        oversample=4,
        corpus_rows=450,
        hierarchy_min_rows=1,
    )
    return (
        out.filter(
            (F.col("neighbor_id") - F.col("query_id") == _PLANT_OFFSET)
            & (F.col("query_id") < 50)
            & (F.col("rank") == 1)
        )
        .select("query_id", "neighbor_id")
        .orderBy("query_id")
    )


def ivfpq_planted_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION IVF-PQ (residual) search planted-twin recall: the
    twin lands in the SAME coarse bucket as its original (identical
    vector ⇒ identical argmin), the query's own bucket is always
    probed (it is the nearest centroid by definition), and the twin's
    residual code scores the minimal ADC value of the (query, own
    bucket) table — so the twin must appear in the top-k over the
    probed candidates (k=4 slack absorbs any cross-bucket candidate
    whose quantized distance lands below the query's own distortion;
    verified at all three SFs). Rows-only twin: ``ivfpq_search``
    (``ann.ivfpq_topk_search``)."""
    from job_post_similarity_spark.operators import ann

    emb = _planted_emb_union(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 50)
    hits = ann.ivfpq_topk_search(
        queries_df, emb, k=4, n_centroids=16, n_probe=2, m=8, bits=5,
        include_self=False,
    )
    return (
        hits.filter(
            (F.col("neighbor_id") - F.col("query_id") == _PLANT_OFFSET)
            & (F.col("query_id") < 50)
        )
        .select("query_id", "neighbor_id")
        .orderBy("query_id")
    )


def bpe_train_local_graded_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-local BPE trainer, oracle-graded: the local merge loop
    (rows-only as ``bpe_train_local_documents``) emits the same first
    3 merges as the distributed trainer, so the distributed trainer's
    unrolled-CTE oracle grades the LOCAL tier directly — a cross-tier
    equivalence proof, not just a property test (VERDICT r6 item 2)."""
    from job_post_similarity_spark.operators.text_analysis import (
        bpe_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=3)
    return spark.createDataFrame(
        [(i + 1, left, right) for i, (left, right) in enumerate(merges)],
        "step int, sym_left string, sym_right string",
    ).orderBy("step")


def bpe_encode_udf_graded_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arrow-batched pandas-UDF BPE ENCODER, oracle-graded: encode the
    corpus with ``bpe_apply`` (the greedy rank-ordered merge loop —
    rows-only as ``bpe_encode_documents``) using the distributed
    trainer's 3 merges; the replace-chain replay oracle
    (``bpe_train_encode_documents``'s SQL) grades the UDF tier's
    per-doc token counts value-for-value."""
    from job_post_similarity_spark.operators.text_analysis import (
        bpe_apply,
        bpe_train_distributed,
    )

    docs = load_table(spark, sf_dir, "documents")
    mrows = sorted(
        bpe_train_distributed(docs, num_merges=3).collect(),
        key=lambda r: r["step"],
    )
    merges = [(r["sym_left"], r["sym_right"]) for r in mrows]
    return bpe_apply(docs, merges).orderBy("doc_id")


# The graded window: the driver grades exactly the FIRST 50 queries()
# entries, and queries() puts these first. Every oracle-backed entry
# parked at 51+ is green in some prior round's CORRECTNESS file.
_R12_WINDOW: tuple[str, ...] = (
    # 3 never-graded round-12 gates first (the RaBitQ family), then
    # 47 prior-green canaries rotated OLDEST-GRADING-FIRST with
    # md5("r12:<name>") as the within-staleness tie-break
    # (tools/plan_rotation.py --round 12 — the committed window and
    # the planner agree verbatim)
    "rabitq_planted_recall_embeddings",
    "rabitq_ivf_planted_recall_embeddings",
    "stream_rabitq_topk_embeddings",
    "semantic_dedup_planted_twin",
    "sentence_split_documents",
    "stream_ohlc_events",
    "simhash_near_dup_documents",
    "utf8_stats_documents",
    "sq8_encode_embeddings",
    "lsh_similarity_pairs",
    "calendar_dimension",
    "classification_report_embeddings",
    "embed_twin_documents",
    "one_hot_events",
    "order_arrays_by_customer",
    "variant_extract_events",
    "contamination_matrix_documents",
    "ks_drift_lineitem",
    "entity_resolution_suppliers",
    "feature_hash_events",
    "sql_registered_udaf_events",
    "transitive_closure_parts",
    "minhash_near_dup_documents",
    "dense_ids_orders",
    "sql_parameterized_revenue",
    "shortest_paths_parts",
    "quality_filter_twin_documents",
    "inverted_index_documents",
    "scd2_lookup_events",
    "vocab_coverage_documents",
    "try_divide_lineitem",
    "grouping_sets_orders",
    "stream_psi_drift_events",
    "negative_samples_embeddings",
    "linear_fit_orders",
    "srp_lsh_similarity_pairs",
    "seasonality_events",
    "listagg_orders",
    "entropy_profile_events",
    "impute_group_mean_events",
    "strip_html_fidelity_documents",
    "srp_fixed_planted_recall_embeddings",
    "curriculum_shards_documents",
    "fuzzy_decontaminate_documents",
    "dup_ngram_coverage_documents",
    "ivf_recall_vs_exact",
    "strip_html_documents",
    "stream_running_counts_events",
    "minhash_xxh_planted_recall_documents",
    "mrl_search_embeddings",
)


# Gates whose oracle SQL (in _MODULE_ORACLES) is written and locally
# verified but not yet registered in oracle_sql(): a gate that was
# never graded cannot park at 51+. To promote one, drop its name from
# here and put it in the window above.
_STAGED: frozenset[str] = frozenset({
    "rabitq_ivfres_planted_recall_embeddings",
})


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Insertion order is deliberate: the driver grades exactly the
    FIRST 50 dict entries per round. The _R12_WINDOW names come first
    (never-graded gates, then prior-green canaries rotated
    OLDEST-GRADING-FIRST by tools/plan_rotation.py); everything else
    keeps its relative order below. Every oracle-backed entry parked
    at 51+ is green in some prior round's CORRECTNESS file. A gate
    whose oracle is written but not yet graded stays in _STAGED, off
    oracle_sql(); promoting it is one edit: drop it from _STAGED and
    put it in the window."""
    base = {
        # ===== base ordering (the _R12_WINDOW names move first) =====
        # never-graded gates new this session:
        "bpe_merge_pairs_documents": bpe_merge_pairs_documents,
        "chi2_token_label_documents": chi2_token_label_documents,
        "mad_outliers_events": mad_outliers_events,
        "basket_lift_lineitem": basket_lift_lineitem,
        "knn_classify_embeddings": knn_classify_embeddings,
        "prefix_jaccard_docs": prefix_jaccard_docs,
        "triangle_counts_suppliers": triangle_counts_suppliers,
        # -- new r4: corpus-scale ops (perplexity LM, heavy hitters,
        # -- bloom decontamination, bucketed join, stratified sample)
        "bigram_perplexity_documents": bigram_perplexity_documents,
        "ngram_lm_train_documents": ngram_lm_train_documents,
        "ngram_lm_score_documents": ngram_lm_score_documents,
        "frequent_tokens_documents": frequent_tokens_documents,
        "bloom_decontaminate_documents": bloom_decontaminate_documents,
        "bucketed_join_orders": bucketed_join_orders,
        "stratified_sample_orders": stratified_sample_orders,
        "resample_ffill_events": resample_ffill_events,
        "group_zscore_events": group_zscore_events,
        "json_extract_events": json_extract_events,
        "melt_part_attrs": melt_part_attrs,
        "full_outer_monthly_counts": full_outer_monthly_counts,
        "fuzzy_join_suppliers": fuzzy_join_suppliers,
        "order_arrays_by_customer": order_arrays_by_customer,
        "pmi_collocations_documents": pmi_collocations_documents,
        "stream_keep_latest_events": stream_keep_latest_events,
        "perplexity_buckets_documents": perplexity_buckets_documents,
        # -- never-graded gates new this session (batch 2) --
        "label_centroids_embeddings": label_centroids_embeddings,
        "cohort_retention_events": cohort_retention_events,
        "phrase_search_documents": phrase_search_documents,
        "stream_topk_users": stream_topk_users,
        # -- never-graded gates new this session (batch 4) --
        "hard_negatives_embeddings": hard_negatives_embeddings,
        "event_transitions_events": event_transitions_events,
        # -- new r4: ANN tiers made driver-visible (planted-twin) ----
        "ivf_recall_vs_exact": ivf_recall_vs_exact,
        "pq_recall_vs_exact": pq_recall_vs_exact,
        "ivfpq_recall_vs_exact": ivfpq_recall_vs_exact,
        "semantic_dedup_embeddings": semantic_dedup_embeddings,
        "incremental_agg_orders": incremental_agg_orders,
        "token_windows_udtf_documents": token_windows_udtf_documents,
        # -- new r4: apply step of substring dedup, now oracle-backed
        "strip_dup_spans_documents": strip_dup_spans_documents,
        # -- new r4 (late batch): C4 segment dedup + batch CDC family
        "line_dedup_documents": line_dedup_documents,
        "merge_upsert_events": merge_upsert_events,
        "scd2_user_events": scd2_user_events,
        "pagerank_lineitem_graph": pagerank_lineitem_graph,
        "zorder_key_orders": zorder_key_orders,
        "funnel_conversion_events": funnel_conversion_events,
        "table_diff_events": table_diff_events,
        "stream_click_attribution_events": stream_click_attribution_events,
        "inverted_index_documents": inverted_index_documents,
        "bm25_rank_documents": bm25_rank_documents,
        "skew_profile_events": skew_profile_events,
        "winsorize_events": winsorize_events,
        "hash_split_events": hash_split_events,
        "sq8_encode_embeddings": sq8_encode_embeddings,
        "sq8_recall_vs_exact": sq8_recall_vs_exact,
        "similarity_pairs_flagship": similarity_pairs_flagship,
        "srp_recall_vs_exact": srp_recall_vs_exact,
        "chunk_documents": chunk_documents_gate,
        "substring_dup_spans_documents": substring_dup_spans_documents,
        "curate_corpus_documents": curate_corpus_documents,
        "mixture_sample_documents": mixture_sample_documents,  # pmod
        "deterministic_sample_lineitem": deterministic_sample_lineitem,
        "normalize_unicode_documents": normalize_unicode_documents,
        "rolling_fingerprint_documents": rolling_fingerprint_documents,
        "pii_scrub_documents": pii_scrub_documents,
        "q10_returned_items": q10_returned_items,
        "q7_volume_shipping": q7_volume_shipping,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q11_important_parts": q11_important_parts,
        "q18_large_volume_customers": q18_large_volume_customers,
        "strip_html_documents": strip_html_documents,
        "id_set_union_events": id_set_union_events,
        "vector_removal_embeddings": vector_removal_embeddings,
        "embedding_norms": embedding_norms,
        "salted_join_events": salted_join_events,
        "token_explode_documents": token_explode_documents,
        "q4_order_priority_check": q4_order_priority_check,
        "text_annotate_documents": text_annotate_documents,
        "q16_distinct_suppliers": q16_distinct_suppliers,
        "q13_customer_distribution": q13_customer_distribution,
        "q12_shipmode_priority": q12_shipmode_priority,
        "q14_promo_revenue": q14_promo_revenue,
        "q19_disjunctive_revenue": q19_disjunctive_revenue,
        "q15_top_supplier": q15_top_supplier,
        "curation_funnel_documents": curation_funnel_documents,
        "asof_join_events": asof_join_events,
        "shard_topk_search": shard_topk_search_q,
        "stream_sessionize_events": stream_sessionize_events,
        "keep_latest_events": keep_latest_events,
        "tfidf_top_terms_documents": tfidf_top_terms_documents,
        "running_total_orders": running_total_orders,
        "q20_heavy_part_shippers": q20_heavy_part_shippers,
        "q21_sole_late_shipper": q21_sole_late_shipper,
        "q22_dormant_high_balance": q22_dormant_high_balance,
        "quantile_disc_events": quantile_disc_events,
        "ntile_customer_quartiles": ntile_customer_quartiles,
        "order_rank_stats": order_rank_stats,
        "rolling_value_events": rolling_value_events,
        "quantile_profile_lineitem": quantile_profile_lineitem,
        "event_user_set_ops": event_user_set_ops,
        "quality_score_documents": quality_score_documents,
        "lang_id_documents": lang_id_documents,
        "customers_without_orders": customers_without_orders,
        "similarity_histogram_pairs": similarity_histogram_pairs,
        "decontaminate_documents": decontaminate_documents,
        "pack_sequences_documents": pack_sequences_documents,
        "sessionize_events": sessionize_events,
        "knn_exact_top1": knn_exact_top1,
        # round 9: metadata-filtered ANN (Faiss IDSelector role)
        "filtered_topk_embeddings": filtered_topk_embeddings,
        "cosine_topk_search": cosine_topk_search,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "sql_interface_revenue": sql_interface_revenue,
        "rollup_orders_by_year_priority": rollup_orders_by_year_priority,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q6_forecast_revenue": q6_forecast_revenue,
        "null_profile_events": null_profile_events,
        "broadcast_lookup_customers": broadcast_lookup_customers,
        "window_topk_orders": window_topk_orders,
        "sort_limit_orders": sort_limit_orders,
        "date_extract_orders": date_extract_orders,
        "preprocess_jobs_pipeline": preprocess_jobs_pipeline,
        "null_fill_drop_events": null_fill_drop_events,
        "scalar_functions_part": scalar_functions_part,
        "point_lookup_documents": point_lookup_documents,
        "parse_dates_documents": parse_dates_documents,
        "interval_join_events": interval_join_events,
        "stream_windowed_counts": stream_windowed_counts,
        "stream_event_counts": stream_event_counts_q,
        "stream_dedup_keys": stream_dedup_keys,
        "multimodal_metadata_documents": multimodal_metadata_documents,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "group_count_topn_orders": group_count_topn_orders,
        "distinct_counts_lineitem": distinct_counts_lineitem,
        "summary_stats_documents": summary_stats_documents,
        "duplicate_count_events": duplicate_count_events,
        "dedup_keep_first_events": dedup_keep_first_events,
        "neighbor_pivot_orders": neighbor_pivot_orders,
        "first_last_documents": first_last_documents,
        "string_clean_part": string_clean_part,
        "l2_cosine_conversion": l2_cosine_conversion,
        "token_count_documents": token_count_documents,
        "doc_fingerprint_documents": doc_fingerprint_documents,
        "top_ngram_repetition_documents": top_ngram_repetition_documents,
        "gopher_quality_documents": gopher_quality_documents,
        "exact_dup_clusters_props": exact_dup_clusters_props,
        "ngram_jaccard_documents": ngram_jaccard_documents,
        "dedup_clusters_documents": dedup_clusters_documents,
        # -- r6 deterministic repoints of the r1 rows-only names (each
        # -- now oracle-backed; production tiers keep the _xxh/_fixed/
        # -- brp_ names below) -----------------------------------------
        "strip_html_fidelity_documents": strip_html_fidelity_documents,
        "bpe_token_count_documents": bpe_token_count_documents,
        "minhash_near_dup_documents": minhash_near_dup_documents,
        "simhash_near_dup_documents": simhash_near_dup_documents,
        "lsh_similarity_pairs": lsh_similarity_pairs,
        "srp_lsh_similarity_pairs": srp_lsh_similarity_pairs,
        # -- rows-only tiers (no SQL twin by nature) -------------------
        "bpe_ish_token_estimate_documents": bpe_ish_token_estimate_documents,
        "minhash_near_dup_xxh_documents": minhash_near_dup_xxh_documents,
        "minhash_near_dup_auto_documents": minhash_near_dup_auto_documents,
        "sql_pipe_syntax_revenue": sql_pipe_syntax_revenue,
        "tokenizer_fertility_documents": tokenizer_fertility_documents,
        "pretraining_corpus_documents": pretraining_corpus_documents,
        # rows-only production tier of the e2e pipeline (xxhash64
        # candidates; md5 twin above is the graded surface) — benched
        "pretraining_corpus_xxh_documents": pretraining_corpus_xxh_documents,
        "simhash_near_dup_xxh_documents": simhash_near_dup_xxh_documents,
        "brp_lsh_similarity_pairs": brp_lsh_similarity_pairs,
        "srp_lsh_similarity_pairs_fixed": srp_lsh_similarity_pairs_fixed,
        "srp_lsh_similarity_pairs_auto": srp_lsh_similarity_pairs_auto,
        "srp_topk_search": srp_topk_search_q,
        "ivf_similarity_pairs": ivf_similarity_pairs,
        "embed_documents_hashing": embed_documents_hashing,
        "e2e_similarity_pipeline": e2e_similarity_pipeline,
        "multimodal_decode_features": multimodal_decode_features,
        "minhash_verified_documents": minhash_verified_documents,
        "quality_classifier_documents": quality_classifier_documents,
        "multimodal_resize_frames": multimodal_resize_frames,
        "multimodal_resize_oracle_documents": multimodal_resize_oracle_documents,
        "multimodal_frames_oracle_documents": multimodal_frames_oracle_documents,
        "nn_descent_graph_embeddings": nn_descent_graph_embeddings,
        "graph_beam_search_embeddings": graph_beam_search_embeddings,
        # round 9: streaming ANN serving twin (foreachBatch against
        # the static index; oracle = the batch gate's replay SQL)
        "stream_graph_topk_embeddings": stream_graph_topk_embeddings,
        # round 9: WordPiece trainer (likelihood-ratio merges)
        "wordpiece_train_documents": wordpiece_train_documents,
        "dup_lines_documents": dup_lines_documents,
        "top_ngram_char_documents": top_ngram_char_documents,
        "dup_ngram_coverage_documents": dup_ngram_coverage_documents,
        "pq_compression_embeddings": pq_compression_embeddings,
        "pq_adc_search": pq_adc_search_embeddings,
        "ivfpq_search": ivfpq_search_embeddings,
        "quantile_profile_approx_lineitem": quantile_profile_approx_lineitem,
        "random_pair_baseline": random_pair_baseline_q,
        "qualitative_report": qualitative_report_q,
        "sketch_profile_events": sketch_profile_events,
        "referential_profile_lineitem": referential_profile_lineitem,
        "vocab_coverage_documents": vocab_coverage_documents,
        "negative_samples_embeddings": negative_samples_embeddings,
        "equi_depth_histogram_lineitem": equi_depth_histogram_lineitem,
        "time_weighted_avg_events": time_weighted_avg_events,
        "monthly_revenue_change_orders": monthly_revenue_change_orders,
        "top_tokens_by_lang_documents": top_tokens_by_lang_documents,
        "nearest_centroid_embeddings": nearest_centroid_embeddings,
        # rows-only by nature (iterative merge loop / greedy encode)
        "bpe_train_local_documents": bpe_train_local_documents,
        "bpe_encode_documents": bpe_encode_documents,
        "pca_project_embeddings": pca_project_embeddings,
        "containment_join_docs": containment_join_docs,
        "semantic_dedup_planted_twin": semantic_dedup_planted_twin,
        "bpe_train_documents": bpe_train_documents,
        "bleu_pairs_documents": bleu_pairs_documents,
        "rrf_hybrid_documents": rrf_hybrid_documents,
        "token_budget_mixture_documents": token_budget_mixture_documents,
        "hamming_topk_embeddings": hamming_topk_embeddings,
        "mrl_search_embeddings": mrl_search_embeddings,
        "hamming_rerank_embeddings": hamming_rerank_embeddings,
        "keep_best_dedup_documents": keep_best_dedup_documents,
        "fim_transform_documents": fim_transform_documents,
        "bpe_train_encode_documents": bpe_train_encode_documents,
        "kcenter_coreset_embeddings": kcenter_coreset_embeddings,
        "minhash_banded_oracle_documents": minhash_banded_oracle_documents,
        "simhash_banded_oracle_documents": simhash_banded_oracle_documents,
        "srp_rademacher_oracle_embeddings": srp_rademacher_oracle_embeddings,
        "datacard_documents": datacard_documents,
        "ivf_stratified_search_embeddings": ivf_stratified_search_embeddings,
        "pq_stratified_adc_embeddings": pq_stratified_adc_embeddings,
        "ohlc_bars_events": ohlc_bars_events,
        "ivfpq_stratified_search_embeddings": ivfpq_stratified_search_embeddings,
        "mmr_rerank_oracle_embeddings": mmr_rerank_oracle_embeddings,
        "stream_ohlc_events": stream_ohlc_events,
        "dsir_weights_documents": dsir_weights_documents,
        "quantize_int8_embeddings": quantize_int8_embeddings,
        "leakage_safe_split_documents": leakage_safe_split_documents,
        "expectation_report_lineitem": expectation_report_lineitem,
        "truncate_tokens_documents": truncate_tokens_documents,
        "stream_expectation_monitor_events": stream_expectation_monitor_events,
        "psi_drift_lineitem": psi_drift_lineitem,
        "temperature_mixture_documents": temperature_mixture_documents,
        "sentence_split_documents": sentence_split_documents,
        "pivot_orders_priority": pivot_orders_priority,
        "analyze_table_events": analyze_table_events,
        "grouped_median_events": grouped_median_events,
        "corr_matrix_lineitem": corr_matrix_lineitem,
        "sorted_neighborhood_suppliers": sorted_neighborhood_suppliers,
        "weighted_sample_documents": weighted_sample_documents,
        "asof_forward_tolerance_events": asof_forward_tolerance_events,
        "transitive_closure_parts": transitive_closure_parts,
        "linear_fit_orders": linear_fit_orders,
        "mean_pool_embeddings": mean_pool_embeddings,
        # rows-only: greedy MMR pick loop is not SQL-expressible
        "mmr_rerank_embeddings": mmr_rerank_embeddings,
        "ranking_metrics_embeddings": ranking_metrics_embeddings,
        "classification_report_embeddings": classification_report_embeddings,
        "label_propagation_parts": label_propagation_parts,
        "feature_hash_events": feature_hash_events,
        "seasonality_events": seasonality_events,
        "stream_psi_drift_events": stream_psi_drift_events,
        "sql_registered_udaf_events": sql_registered_udaf_events,
        "utf8_stats_documents": utf8_stats_documents,
        "dense_ids_orders": dense_ids_orders,
        "session_window_events": session_window_events,
        "bitmap_distinct_events": bitmap_distinct_events,
        "try_divide_lineitem": try_divide_lineitem,
        "scd2_lookup_events": scd2_lookup_events,
        "calendar_dimension": calendar_dimension,
        "ks_drift_lineitem": ks_drift_lineitem,
        "entropy_profile_events": entropy_profile_events,
        "impute_group_mean_events": impute_group_mean_events,
        "one_hot_events": one_hot_events,
        "kfold_assign_documents": kfold_assign_documents,
        "target_encode_events": target_encode_events,
        "bow_counts_documents": bow_counts_documents,
        "tree_rollup_parts": tree_rollup_parts,
        "grouping_sets_orders": grouping_sets_orders,
        "shortest_paths_parts": shortest_paths_parts,
        "zipf_slope_documents": zipf_slope_documents,
        # -- round-5 additions --
        "contamination_matrix_documents": contamination_matrix_documents,
        "curriculum_shards_documents": curriculum_shards_documents,
        "entity_resolution_suppliers": entity_resolution_suppliers,
        "stream_enrich_events": stream_enrich_events,
        "stream_running_counts_events": stream_running_counts_events,
        "variant_extract_events": variant_extract_events,
        "listagg_orders": listagg_orders,
        "sql_parameterized_revenue": sql_parameterized_revenue,
        "embed_twin_documents": embed_twin_documents,
        "quality_filter_twin_documents": quality_filter_twin_documents,
        "quality_ensemble_documents": quality_ensemble_documents,
        # -- round-7 cross-tier equivalence gates (VERDICT r6 item 2) --
        "minhash_xxh_planted_recall_documents":
            minhash_xxh_planted_recall_documents,
        "minhash_auto_planted_recall_documents":
            minhash_auto_planted_recall_documents,
        "simhash_xxh_planted_recall_documents":
            simhash_xxh_planted_recall_documents,
        "srp_fixed_planted_recall_embeddings":
            srp_fixed_planted_recall_embeddings,
        "srp_auto_planted_recall_embeddings":
            srp_auto_planted_recall_embeddings,
        "ivf_pairs_planted_recall_embeddings":
            ivf_pairs_planted_recall_embeddings,
        "bpe_train_local_graded_documents":
            bpe_train_local_graded_documents,
        "bpe_encode_udf_graded_documents":
            bpe_encode_udf_graded_documents,
        "graph_recall_vs_exact_embeddings":
            graph_recall_vs_exact_embeddings,
        "fuzzy_decontaminate_documents": fuzzy_decontaminate_documents,
        "fuzzy_decontaminate_apply_documents":
            fuzzy_decontaminate_apply_documents,
        "stream_fuzzy_decontaminate_documents":
            stream_fuzzy_decontaminate_documents,
        "fuzzy_decontaminate_xxh_planted_documents":
            fuzzy_decontaminate_xxh_planted_documents,
        # round 8: the last two production search tiers get the
        # planted-recall treatment (VERDICT r7 item 2)
        "pq_planted_recall_embeddings": pq_planted_recall_embeddings,
        # round 9: OPQ planted recall (rotation-invariant twin
        # argument)
        "opq_planted_recall_embeddings": opq_planted_recall_embeddings,
        "ivfpq_planted_recall_embeddings":
            ivfpq_planted_recall_embeddings,
        # round 8: incremental graph maintenance (VERDICT r7 item 5)
        # + the build/serve bench split (item 4; the latter two are
        # rows-only by scale — hash-graded twins listed in COVERAGE)
        "graph_refresh_equals_cold_embeddings":
            graph_refresh_equals_cold_embeddings,
        "graph_build_embeddings": graph_build_embeddings,
        "graph_serve_embeddings": graph_serve_embeddings,
        "graph_refresh_embeddings": graph_refresh_embeddings,
        # round 8: unigram-LM (SentencePiece-style) tokenizer — the
        # subword family BPE doesn't cover (oracles: generated
        # unrolled-DP DuckDB replays)
        "unigram_train_documents": unigram_train_documents,
        "unigram_token_count_documents": unigram_token_count_documents,
        # round 8: HNSW-style per-row insert ≡ brute-force exact union
        # graph (stronger than refresh-equals-cold)
        "graph_insert_exact_embeddings": graph_insert_exact_embeddings,
        # round 9: out-of-the-box graph serving — the public facade
        # with NO manual entries on the clustered fixture (VERDICT r8
        # item 2; engine-side default_graph_entries provisioning)
        "graph_auto_entry_recall_embeddings":
            graph_auto_entry_recall_embeddings,
        # round 9: full layered-HNSW descent serving (md5 geometric
        # levels + exact tiny upper layers + per-query entries_df
        # hand-off)
        "hnsw_descent_recall_embeddings": hnsw_descent_recall_embeddings,
        # rows-only warm-serve latency row for the layered tier (its
        # correctness gate is the recall entry above)
        "hnsw_serve_embeddings": hnsw_serve_embeddings,
        # round 9: SentencePiece-faithful likelihood-loss vocab prune
        # (VERDICT r8 item 5)
        "unigram_loss_prune_documents": unigram_loss_prune_documents,
        # round 9: the full shrink-cycle loop — prune BETWEEN EM
        # rounds
        "unigram_shrink_train_documents": unigram_shrink_train_documents,
        # round 10: incremental hierarchy maintenance — per-layer
        # insert ≡ rebuilt hierarchy (VERDICT r9 item 4)
        "hierarchy_insert_exact_embeddings": (
            hierarchy_insert_exact_embeddings
        ),
        # round 10: hierarchy maintenance bench row (rows-only by
        # scale; correctness via the exact gate above)
        "hnsw_insert_embeddings": hnsw_insert_embeddings,
        # round 10: the two r10 dispatch paths that were unit-test-
        # pinned only, made driver-gradable
        "opq_ivfpq_planted_recall_embeddings": (
            opq_ivfpq_planted_recall_embeddings
        ),
        "filtered_oversample_recall_embeddings": (
            filtered_oversample_recall_embeddings
        ),
        # round 11: RaBitQ 1-bit asymmetric-estimator tier — the
        # quantizer-family completion (VERDICT r10 item 4)
        "rabitq_planted_recall_embeddings": (
            rabitq_planted_recall_embeddings
        ),
        "rabitq_ivf_planted_recall_embeddings": (
            rabitq_ivf_planted_recall_embeddings
        ),
        # round 11: streaming serving at the 1-bit tier (oracle: the
        # planted SQL under this name; stream ≡ batch by per-query
        # independence)
        "stream_rabitq_topk_embeddings": stream_rabitq_topk_embeddings,
        # round 12: the residual-encoding IVF composition (oracle
        # staged: see _STAGED)
        "rabitq_ivfres_planted_recall_embeddings":
            rabitq_ivfres_planted_recall_embeddings,
    }
    out = {k: base[k] for k in _R12_WINDOW}
    out.update((k, v) for k, v in base.items() if k not in out)
    return out


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_COS = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
)


def _lang_id_oracle() -> str:
    """Generated from text_analysis._LANG_MARKERS so the two stay in sync."""
    from job_post_similarity_spark.operators.text_analysis import _LANG_MARKERS

    score_cols = ",\n".join(
        f"len(list_filter(toks, t -> list_contains("
        f"[{', '.join(repr(w) for w in words)}], t))) AS s_{lang}"
        for lang, words in _LANG_MARKERS.items()
    )
    best = f"greatest({', '.join('s_' + lang for lang in _LANG_MARKERS)})"
    # CASE order = alphabetical, matching the Spark when-chain nesting
    cases = "\n".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in sorted(_LANG_MARKERS)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents),
        scores AS (SELECT doc_id, {score_cols} FROM toks),
        ranked AS (SELECT *, {best} AS best FROM scores)
        SELECT doc_id,
               CASE WHEN best = 0 THEN 'und' {cases} ELSE 'und' END AS lang_pred
        FROM ranked
    """


def _curation_cte_chain(
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    min_words: int = 10,
) -> str:
    """DuckDB twin of plans.pipeline.curate_corpus / curation_funnel —
    generated from the same _LANG_MARKERS so the lang stage stays in
    sync with the Spark expression (same pattern as _lang_id_oracle)."""
    from job_post_similarity_spark.operators.text_analysis import _LANG_MARKERS

    score_cols = ",\n".join(
        f"len(list_filter(lotoks, t -> list_contains("
        f"[{', '.join(repr(w) for w in words)}], t))) AS s_{lang}"
        for lang, words in _LANG_MARKERS.items()
    )
    best = f"greatest({', '.join('s_' + lang for lang in _LANG_MARKERS)})"
    cases = "\n".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in sorted(_LANG_MARKERS)
    )
    lang_list = ", ".join(f"'{lg}'" for lg in langs)
    en = ", ".join(repr(w) for w in _LANG_MARKERS["en"])
    ctes = f"""
        WITH cleaned AS (
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(text, '<[^>]+>', ' ', 'g'),
                                       '\\s+', ' ', 'g')) AS tc
            FROM documents),
        feat AS (
            SELECT doc_id, tc,
                   CASE WHEN trim(tc) = '' THEN 0
                        ELSE len(string_split_regex(trim(tc), '\\s+')) END AS n_tok,
                   string_split_regex(trim(lower(tc)), '\\s+') AS lotoks,
                   length(tc) AS n_char,
                   length(tc) - length(regexp_replace(tc, '[^\\w\\s]', '', 'g'))
                       AS n_punct
            FROM cleaned),
        feat2 AS (
            SELECT doc_id, tc, n_tok, n_char, n_punct,
                   len(list_filter(lotoks, t -> list_contains([{en}], t))) AS hits,
                   len(lotoks) AS n_low,
                   {score_cols}
            FROM feat),
        scored AS (
            SELECT doc_id, tc, n_tok,
                   (least(n_tok * 80, 4000)
                    + CASE WHEN n_low > 0
                           THEN least(CAST(floor(hits * 15000 / n_low) AS BIGINT), 3000)
                           ELSE 0 END
                    + CASE WHEN n_char > 0
                           THEN 3000 - CAST(floor(n_punct * 3000 / n_char) AS BIGINT)
                           ELSE 3000 END) / 10000.0 AS quality,
                   {best} AS best,
                   {', '.join('s_' + lang for lang in _LANG_MARKERS)}
            FROM feat2),
        lang AS (
            SELECT doc_id, tc, n_tok, quality,
                   CASE WHEN best = 0 THEN 'und' {cases} ELSE 'und' END AS lang_pred
            FROM scored),
        kept AS (
            SELECT * FROM lang
            WHERE quality >= {min_quality} AND lang_pred IN ({lang_list})
              AND n_tok >= {min_words}),
        scrub0 AS (
            SELECT doc_id, lang_pred, quality, n_tok AS n_tokens,
                   lower(
                       regexp_replace(regexp_replace(regexp_replace(tc,
                           '\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}\\b',
                           '[EMAIL]', 'g'),
                           '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '[SSN]', 'g'),
                           '\\b\\d{{3}}[-. ]\\d{{3}}[-. ]\\d{{4}}\\b', '[PHONE]', 'g')
                   ) AS scrub_lower
            FROM kept),
        scrubbed AS (
            SELECT doc_id, lang_pred, quality, n_tokens,
                   md5(scrub_lower) AS text_hash, scrub_lower
            FROM scrub0),
        deduped AS (
            SELECT doc_id, lang_pred, quality, n_tokens, text_hash,
                   scrub_lower,
                   row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
            FROM scrubbed)
    """
    return ctes


def _curation_oracle(
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    min_words: int = 10,
    funnel: bool = False,
) -> str:
    ctes = _curation_cte_chain(min_quality, langs, min_words)
    if funnel:
        return f"""{ctes}
            SELECT '00_raw' AS stage, count(*) AS n_rows FROM documents
            UNION ALL
            SELECT '10_quality_lang', count(*) FROM kept
            UNION ALL
            SELECT '20_deduped', count(*) FROM deduped WHERE rn = 1
            ORDER BY stage
        """
    return f"""{ctes}
        SELECT doc_id, lang_pred, ROUND(quality, 4) AS quality,
               n_tokens, text_hash
        FROM deduped WHERE rn = 1
        ORDER BY doc_id
    """


_EN_MARKERS_SQL = "['the','and','of','to','in','is','that','for','with','a']"


_PPL_CORE = """
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS t
                FROM documents),
            big AS (
                SELECT doc_id,
                       unnest([{'w1': t[i], 'w2': t[i + 1]}
                               FOR i IN range(1, len(t))]) AS p
                FROM toks WHERE len(t) >= 2),
            bigf AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM big),
            c1 AS (SELECT w1, count(*) AS c1 FROM bigf GROUP BY w1),
            c12 AS (SELECT w1, w2, count(*) AS c12
                    FROM bigf GROUP BY w1, w2),
            v AS (SELECT count(DISTINCT w2) AS vv FROM bigf),
            lp AS (SELECT w1, w2,
                          CAST(round(ln((c12 + 0.5) / (c1 + 0.5 * vv)) * 1e6)
                               AS BIGINT) AS lp6
                   FROM c12 JOIN c1 USING (w1), v),
            per AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp6) AS s6
                    FROM bigf JOIN lp USING (w1, w2) GROUP BY doc_id),
            ppl_t AS (SELECT doc_id, n_bigrams,
                             round(exp(-(CAST(s6 AS DOUBLE)
                                         / (n_bigrams * 1e6))), 4) AS ppl
                      FROM per)
"""


def _rademacher_signs_sql(n_planes: int = 32, dim: int = 64) -> str:
    """DuckDB literal list-of-lists for the ±1 projection matrix —
    generated from ann.rademacher_signs so Spark and SQL share one
    source of truth."""
    from job_post_similarity_spark.operators.ann import rademacher_signs

    signs = rademacher_signs(n_planes, dim)
    return (
        "["
        + ", ".join("[" + ", ".join(map(str, row)) + "]" for row in signs)
        + "]"
    )


def _minhash_coeffs_sql(num_hashes: int = 16, seed: int = 1) -> str:
    """DuckDB struct-literal list of the universal-hash coefficients —
    generated from the SAME schedule as dedup.minhash_signature /
    minhash_near_dup_pairs_oracle_tier so the two cannot drift."""
    mod = 2**31 - 1
    parts = []
    for i in range(num_hashes):
        a = (seed * 1_000_003 + i * 7_919) % mod or 1
        b = (seed * 7_907 + i * 104_729) % mod
        parts.append(f"{{'a': {a}, 'b': {b}}}")
    return "[" + ", ".join(parts) + "]"


# Shared CTE chain for the distributed-BPE-trainer oracles: weighted
# word table -> double-separator encoding -> 3 unrolled
# (pair-count, argmax, replace) merge iterations. Ends with CTEs
# m0/m1/m2 (the merges) and v0 (the encoded vocab) available.
_BPE_TRAIN_CTES = """
        words AS (
            SELECT w, count(*) AS cnt
            FROM (SELECT unnest(string_split_regex(
                      trim(lower(text)), '\\s+')) AS w
                  FROM documents WHERE text IS NOT NULL)
            WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 1
            GROUP BY w),
        v0 AS (
            SELECT '__' || array_to_string(
                       list_transform(generate_series(1, length(w)),
                           i -> CASE WHEN i = length(w)
                                THEN substring(w, i, 1) || '</w>'
                                ELSE substring(w, i, 1) END),
                       '__') || '__' AS enc,
                   cnt
            FROM words),
        p0 AS (
            SELECT pr[1] AS l, pr[2] AS r,
                   CAST(sum(cnt) AS BIGINT) AS pair_count
            FROM (SELECT unnest(list_transform(
                      generate_series(1, len(ss) - 1),
                      i -> [ss[i], ss[i+1]])) AS pr, cnt
                  FROM (SELECT list_filter(string_split(enc, '_'),
                                           x -> x <> '') AS ss, cnt
                        FROM v0))
            GROUP BY l, r HAVING sum(cnt) >= 2),
        m0 AS (SELECT l, r, pair_count FROM p0
               ORDER BY pair_count DESC, l, r LIMIT 1),
        v1 AS (SELECT replace(enc, '_' || m.l || '__' || m.r || '_',
                              '_' || m.l || m.r || '_') AS enc, cnt
               FROM v0, m0 m),
        p1 AS (
            SELECT pr[1] AS l, pr[2] AS r,
                   CAST(sum(cnt) AS BIGINT) AS pair_count
            FROM (SELECT unnest(list_transform(
                      generate_series(1, len(ss) - 1),
                      i -> [ss[i], ss[i+1]])) AS pr, cnt
                  FROM (SELECT list_filter(string_split(enc, '_'),
                                           x -> x <> '') AS ss, cnt
                        FROM v1))
            GROUP BY l, r HAVING sum(cnt) >= 2),
        m1 AS (SELECT l, r, pair_count FROM p1
               ORDER BY pair_count DESC, l, r LIMIT 1),
        v2 AS (SELECT replace(enc, '_' || m.l || '__' || m.r || '_',
                              '_' || m.l || m.r || '_') AS enc, cnt
               FROM v1, m1 m),
        p2 AS (
            SELECT pr[1] AS l, pr[2] AS r,
                   CAST(sum(cnt) AS BIGINT) AS pair_count
            FROM (SELECT unnest(list_transform(
                      generate_series(1, len(ss) - 1),
                      i -> [ss[i], ss[i+1]])) AS pr, cnt
                  FROM (SELECT list_filter(string_split(enc, '_'),
                                           x -> x <> '') AS ss, cnt
                        FROM v2))
            GROUP BY l, r HAVING sum(cnt) >= 2),
        m2 AS (SELECT l, r, pair_count FROM p2
               ORDER BY pair_count DESC, l, r LIMIT 1)"""

# Module-level oracle SQL (this literal plus the assignments after
# oracle_sql() below). oracle_sql() registers every entry whose name
# is not in _STAGED; _PENDING_ORACLES at module end is the staged rest.
_MODULE_ORACLES: dict[str, str] = {
    "referential_profile_lineitem": """
        -- NOT EXISTS (not NOT IN): a NULL fk is an orphan under
        -- left-anti-join semantics, and NOT IN would let one NULL
        -- parent key poison the whole predicate
        WITH ck AS (SELECT l_orderkey AS k FROM lineitem),
        pk AS (SELECT DISTINCT o_orderkey AS k FROM orders)
        SELECT (SELECT count(*) FROM ck) AS n_child,
               (SELECT count(*) FROM ck
                WHERE NOT EXISTS (SELECT 1 FROM pk
                                  WHERE pk.k = ck.k)) AS n_orphans,
               (SELECT count(*) FROM pk) AS n_parents,
               (SELECT count(*) FROM pk
                WHERE NOT EXISTS (SELECT 1 FROM ck
                                  WHERE ck.k = pk.k)) AS n_childless
    """,
    "negative_samples_embeddings": """
        WITH n AS (SELECT count(*) AS n FROM embeddings),
        j AS (SELECT unnest(generate_series(0, 4)) AS neg_rank),
        raw AS (
            SELECT e.vec_id, j.neg_rank,
                   ((e.vec_id % n.n + n.n) % n.n * 2654435761
                    + (j.neg_rank + 1) * 40503) % n.n AS r,
                   n.n AS nn
            FROM embeddings e CROSS JOIN j CROSS JOIN n)
        SELECT vec_id, neg_rank,
               CASE WHEN r = vec_id THEN (r + 1) % nn
                    ELSE r END AS neg_id
        FROM raw ORDER BY vec_id, neg_rank
    """,
    "equi_depth_histogram_lineitem": """
        WITH b AS (
            SELECT l_extendedprice AS v,
                   ntile(10) OVER
                       (ORDER BY l_extendedprice ASC,
                                 l_orderkey * 10 + l_linenumber ASC)
                       AS bucket
            FROM lineitem WHERE l_extendedprice IS NOT NULL)
        SELECT bucket, count(*) AS cnt,
               round(min(v), 4) AS vmin, round(max(v), 4) AS vmax
        FROM b GROUP BY bucket ORDER BY bucket
    """,
    "time_weighted_avg_events": """
        WITH s AS (
            SELECT user_id AS key, ts, value,
                   lead(ts) OVER
                       (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) AS nxt
            FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
              AND value IS NOT NULL AND event_id IS NOT NULL),
        d AS (
            SELECT key,
                   CAST(value AS DECIMAL(18,6)) AS v,
                   date_diff('second', ts, nxt) AS dt
            FROM s WHERE nxt IS NOT NULL),
        a AS (
            SELECT key, sum(v * dt) AS wsum,
                   CAST(sum(dt) AS BIGINT) AS total_seconds
            FROM d GROUP BY key)
        SELECT key,
               round(CAST(wsum AS DOUBLE) / total_seconds, 6) AS twa,
               total_seconds
        FROM a WHERE total_seconds > 0 ORDER BY key
    """,
    "containment_join_docs": """
        WITH t AS (
            SELECT DISTINCT doc_id,
                   unnest(string_split_regex(trim(lower(text)),
                                             '\\s+')) AS token
            FROM documents
            WHERE text IS NOT NULL AND doc_id < 150),
        t2 AS (SELECT * FROM t WHERE token <> ''),
        n AS (SELECT doc_id, count(*) AS n FROM t2 GROUP BY doc_id),
        p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   count(*) AS inter
            FROM t2 a JOIN t2 b
              ON a.token = b.token AND a.doc_id <> b.doc_id
            GROUP BY a.doc_id, b.doc_id)
        SELECT p.id_a, p.id_b,
               (1000000 * p.inter) // na.n AS containment_ppm
        FROM p JOIN n na ON na.doc_id = p.id_a
        WHERE (1000000 * p.inter) // na.n >= 800000
        ORDER BY id_a, id_b
    """,
    "nearest_centroid_embeddings": """
        WITH p AS (
            SELECT label,
                   unnest(generate_series(1, len(embedding))) AS i,
                   embedding
            FROM embeddings),
        a AS (
            SELECT label, i - 1 AS pos,
                   sum(CAST(CAST(embedding[i] AS DOUBLE)
                            AS DECIMAL(27,10))) AS s,
                   count(*) AS n
            FROM p GROUP BY label, i),
        cent AS (
            SELECT label,
                   list(round(CAST(s AS DOUBLE) / n, 6)
                        ORDER BY pos) AS cvec
            FROM a GROUP BY label),
        sc AS (
            SELECT e.vec_id, e.label, c.label AS clab,
                   list_dot_product(e.embedding::DOUBLE[], c.cvec)
                       AS score
            FROM embeddings e CROSS JOIN cent c),
        best AS (
            SELECT vec_id, label, clab, score,
                   row_number() OVER
                       (PARTITION BY vec_id
                        ORDER BY score DESC, clab ASC) AS rk
            FROM sc)
        SELECT vec_id, CAST(label AS VARCHAR) AS label,
               CAST(clab AS VARCHAR) AS pred_label,
               round(score, 4) AS score
        FROM best WHERE rk = 1 ORDER BY vec_id
    """,
    "monthly_revenue_change_orders": """
        WITH m AS (
            SELECT date_trunc('month', o_orderdate) AS month,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                        AS BIGINT) AS rev_cents
            FROM orders WHERE o_orderdate IS NOT NULL
            GROUP BY date_trunc('month', o_orderdate))
        SELECT month, rev_cents,
               CASE WHEN lag(rev_cents) OVER (ORDER BY month)
                         IS NOT NULL
                     AND lag(rev_cents) OVER (ORDER BY month) <> 0
                    THEN round(
                        (rev_cents - lag(rev_cents) OVER
                             (ORDER BY month))
                        / CAST(lag(rev_cents) OVER (ORDER BY month)
                               AS DOUBLE) * 100.0, 4)
               END AS change_pct
        FROM m ORDER BY month
    """,
    "top_tokens_by_lang_documents": """
        WITH tok AS (
            SELECT lang AS "group",
                   unnest(string_split_regex(trim(lower(text)),
                                             '\\s+')) AS token
            FROM documents
            WHERE lang IS NOT NULL AND text IS NOT NULL),
        c AS (
            SELECT "group", token, count(*) AS cnt
            FROM tok WHERE token <> ''
            GROUP BY "group", token),
        r AS (
            SELECT "group", token, cnt,
                   row_number() OVER
                       (PARTITION BY "group"
                        ORDER BY cnt DESC, token ASC) AS rank
            FROM c)
        SELECT "group", token, cnt, rank
        FROM r WHERE rank <= 5 ORDER BY "group", rank
    """,
    "vocab_coverage_documents": """
        WITH tok AS (
            SELECT unnest(string_split_regex(trim(lower(text)),
                                             '\\s+')) AS token
            FROM documents WHERE text IS NOT NULL),
        c AS (
            SELECT token, count(*) AS cnt FROM tok
            WHERE token <> '' GROUP BY token),
        r AS (
            SELECT cnt,
                   row_number() OVER
                       (ORDER BY cnt DESC, token ASC) AS rk,
                   CAST(sum(cnt) OVER
                       (ORDER BY cnt DESC, token ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM c),
        tt AS (SELECT CAST(max(cum) AS BIGINT) AS t FROM r),
        th AS (SELECT unnest([500000, 900000, 990000])
                   AS threshold_ppm),
        cuts AS (
            SELECT th.threshold_ppm, min(r.rk) AS vocab_size
            FROM th, tt, r
            WHERE r.cum >= (tt.t * th.threshold_ppm + 999999)
                           // 1000000
            GROUP BY th.threshold_ppm)
        SELECT c2.threshold_ppm, c2.vocab_size,
               r.cum AS covered_mass
        FROM cuts c2 JOIN r ON r.rk = c2.vocab_size
        ORDER BY threshold_ppm
    """,
    "semantic_dedup_planted_twin": """
        -- planted-twin SemDeDup contract: at threshold 0.99 the
        -- only semantic-dup pairs in emb ∪ twins are the 50
        -- (i, i+100000) twin pairs (max natural cosine ≈ 0.55);
        -- identical vectors share an IVF bucket by construction
        -- and min-id representatives are the originals — the
        -- survivor set is the original table labeling itself
        SELECT vec_id, vec_id AS semdedup_component
        FROM embeddings
        ORDER BY vec_id
    """,
    "bpe_train_documents": f"""
        -- distributed BPE trainer, 3 merges unrolled: each step is
        -- (pair counts over the encoded vocab) -> argmax -> replace.
        -- The double-separator encoding ('__h__e__l__l__o</w>__')
        -- makes plain LTR replace('_a__b_','_ab_') EXACTLY
        -- leftmost-greedy BPE: the pattern consumes only the inner
        -- half of each flanking separator, so the leftover halves
        -- anchor the next match like lookarounds.
        WITH {_BPE_TRAIN_CTES}
        SELECT * FROM (
            SELECT 1 AS step, l AS sym_left, r AS sym_right,
                   pair_count FROM m0
            UNION ALL
            SELECT 2, l, r, pair_count FROM m1
            UNION ALL
            SELECT 3, l, r, pair_count FROM m2)
        ORDER BY step
    """,
    "bpe_train_encode_documents": f"""
        -- end-to-end tokenizer pipeline: recompute the 3 trained
        -- merges (shared trainer CTEs), then ENCODE every document
        -- word with the same replace chain (subword-nmt semantics:
        -- each merge in rank order, all occurrences) and count
        -- subword tokens per doc; non-[a-z]+ words count 1
        WITH {_BPE_TRAIN_CTES},
        docw AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(
                       trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS w
            FROM documents),
        e0 AS (
            SELECT doc_id,
                   CASE WHEN regexp_matches(w, '^[a-z]+$')
                        THEN NULL ELSE 1 END AS fixed,
                   CASE WHEN regexp_matches(w, '^[a-z]+$')
                        THEN '__' || regexp_replace(
                                 substring(w, 1, length(w) - 1),
                                 '(.)', '\\1__', 'g')
                             || substring(w, length(w), 1)
                             || '</w>__'
                   END AS enc
            FROM docw),
        e1 AS (SELECT doc_id, fixed,
                      replace(enc, '_' || m.l || '__' || m.r || '_',
                              '_' || m.l || m.r || '_') AS enc
               FROM e0, m0 m),
        e2 AS (SELECT doc_id, fixed,
                      replace(enc, '_' || m.l || '__' || m.r || '_',
                              '_' || m.l || m.r || '_') AS enc
               FROM e1, m1 m),
        e3 AS (SELECT doc_id, fixed,
                      replace(enc, '_' || m.l || '__' || m.r || '_',
                              '_' || m.l || m.r || '_') AS enc
               FROM e2, m2 m),
        cnt AS (
            SELECT doc_id,
                   CAST(sum(coalesce(fixed,
                       len(list_filter(string_split(enc, '_'),
                                       x -> x <> '')))) AS INT)
                       AS n_bpe_tokens
            FROM e3 GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(c.n_bpe_tokens, 0) AS n_bpe_tokens
        FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id
        ORDER BY d.doc_id
    """,
    "hamming_topk_embeddings": """
        -- binary quantization (sign bits, 32 per long) + Hamming
        -- top-10: sum of distinct powers == bitwise OR, xor+bit_count
        WITH b AS (
            SELECT vec_id,
                   list_transform(
                       generate_series(0, (len(embedding) - 1) // 32),
                       w -> CAST(list_sum(list_transform(
                           generate_series(0, 31),
                           j -> CASE WHEN w * 32 + j + 1
                                          <= len(embedding)
                                      AND CAST(embedding[w * 32 + j + 1]
                                               AS DOUBLE) > 0
                                THEN (1::BIGINT << j)
                                ELSE 0::BIGINT END))
                           AS BIGINT)) AS bits
            FROM embeddings),
        q AS (SELECT bits FROM b WHERE vec_id = 0),
        d AS (
            SELECT b.vec_id,
                   CAST(list_sum(list_transform(
                       generate_series(1, len(b.bits)),
                       i -> bit_count(xor(b.bits[i], q.bits[i]))))
                       AS INT) AS hamming
            FROM b, q WHERE b.vec_id <> 0)
        SELECT vec_id, hamming FROM d
        ORDER BY hamming, vec_id LIMIT 10
    """,
    "keep_best_dedup_documents": f"""
        -- 5-token-prefix blocking clusters; survivor = highest
        -- integer-bp quality, ties lowest id
        WITH base AS (
            SELECT doc_id,
                   md5(array_to_string(list_slice(
                       list_filter(string_split_regex(
                           trim(lower(text)), '\\s+'),
                           x -> x <> ''), 1, 5), ' ')) AS fp,
                   (least(CASE WHEN trim(text) = '' THEN 0
                               ELSE len(string_split_regex(trim(text),
                                                           '\\s+'))
                          END * 80, 4000)
                    + CASE WHEN len(string_split_regex(
                                trim(lower(text)), '\\s+')) > 0
                           THEN least(CAST(floor(
                               len(list_filter(
                                   string_split_regex(
                                       trim(lower(text)), '\\s+'),
                                   t -> list_contains(
                                       {_EN_MARKERS_SQL}, t)))
                               * 15000
                               / len(string_split_regex(
                                     trim(lower(text)), '\\s+')))
                               AS BIGINT), 3000)
                           ELSE 0 END
                    + CASE WHEN length(text) > 0
                           THEN 3000 - CAST(floor(
                               (length(text)
                                - length(regexp_replace(
                                      text, '[^\\w\\s]', '', 'g')))
                               * 3000 / length(text)) AS BIGINT)
                           ELSE 3000 END) AS bp
            FROM documents),
        r AS (SELECT doc_id,
                     row_number() OVER (PARTITION BY fp
                         ORDER BY bp DESC, doc_id) AS rn,
                     count(*) OVER (PARTITION BY fp) AS n_dups
              FROM base)
        SELECT doc_id, CAST(n_dups AS BIGINT) AS n_dups
        FROM r WHERE rn = 1 ORDER BY doc_id
    """,
    "fim_transform_documents": """
        -- deterministic FIM split: chained LCG draws, PSM render
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text),
                                                  '\\s+'),
                               x -> x <> '') AS tk,
                   ((doc_id % 2147483648 + 2147483648) % 2147483648
                    * 1103515245 + 12345) % 2147483648 AS h1
            FROM documents),
        t2 AS (SELECT doc_id, tk, len(tk) AS n,
                      ((h1 * 1103515245 + 12345) % 2147483648
                       + 2147483648) % 2147483648 AS h2, h1
               FROM t),
        s AS (SELECT doc_id, tk, n, h2,
                     CASE WHEN n >= 3 THEN 1 + (h1 % (n - 2))
                          ELSE n END AS p
              FROM t2),
        s2 AS (SELECT doc_id, tk, n, p,
                      CASE WHEN n >= 3 THEN 1 + (h2 % (n - p - 1))
                           ELSE 0 END AS m
               FROM s)
        SELECT doc_id, CAST(n AS INT) AS n_tokens,
               CAST(p AS BIGINT) AS prefix_len,
               CAST(m AS BIGINT) AS middle_len,
               CAST(n - p - m AS BIGINT) AS suffix_len,
               '<PRE>' || array_to_string(list_slice(tk, 1, p), ' ')
               || '<SUF>' || array_to_string(
                      list_slice(tk, p + m + 1, n), ' ')
               || '<MID>' || array_to_string(
                      list_slice(tk, p + 1, p + m), ' ') AS fim_text
        FROM s2 ORDER BY doc_id
    """,
    "minhash_banded_oracle_documents": f"""
        -- banded MinHash+LSH with md5-prefix shingle codes: the
        -- exact coefficient schedule, banding, and ppm verify of
        -- the Spark oracle tier
        WITH d AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\\s+') AS toks
            FROM documents WHERE doc_id < 200),
        sh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(toks) >= 3 THEN
                       list_transform(
                           generate_series(1, len(toks) - 2),
                           i -> array_to_string(
                               list_slice(toks, i, i + 2), ' '))
                       ELSE [] END) AS g
            FROM d),
        shf AS (SELECT doc_id, g FROM sh WHERE len(g) > 0),
        codes AS (
            SELECT doc_id, g,
                   list_transform(g, s ->
                       CAST(concat('0x', substr(md5(s), 1, 14))
                            AS BIGINT) % 2147483647) AS cs
            FROM shf),
        sig AS (
            SELECT doc_id, g,
                   list_transform({_minhash_coeffs_sql()},
                       ab -> list_min(list_transform(cs,
                           x -> (x * ab.a + ab.b) % 2147483647)))
                       AS sg
            FROM codes),
        banded AS (
            SELECT doc_id, b AS band,
                   array_to_string(
                       list_slice(sg, b * 4 + 1, b * 4 + 4), '-')
                       AS key
            FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)),
        cands AS (
            SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
            FROM banded x JOIN banded y
              ON x.band = y.band AND x.key = y.key
             AND x.doc_id < y.doc_id),
        ex AS (SELECT doc_id AS gid, unnest(g) AS s FROM shf),
        inter AS (
            SELECT c.id1, c.id2, count(*) AS n_inter
            FROM cands c
            JOIN ex a ON a.gid = c.id1
            JOIN ex b ON b.gid = c.id2 AND a.s = b.s
            GROUP BY c.id1, c.id2),
        sizes AS (SELECT doc_id AS gid, len(g) AS n FROM shf),
        j AS (
            SELECT c.id1, c.id2,
                   (1000000 * coalesce(i.n_inter, 0))
                   // (s1.n + s2.n - coalesce(i.n_inter, 0))
                       AS jaccard_ppm
            FROM cands c
            LEFT JOIN inter i
              ON i.id1 = c.id1 AND i.id2 = c.id2
            JOIN sizes s1 ON s1.gid = c.id1
            JOIN sizes s2 ON s2.gid = c.id2)
        SELECT id1, id2, jaccard_ppm FROM j
        WHERE jaccard_ppm >= 300000
        ORDER BY id1, id2
    """,
    "mmr_rerank_oracle_embeddings": """
        -- greedy MMR over the integer-e4 top-20 pool; score =
        -- 7*rel_e4 - 3*maxsim_e4 (pure int64 -- a double-score cut
        -- drifted a ulp under DuckDB FMA); ties lowest id
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                   WHERE vec_id = 0),
        pool AS (
            SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
                   CAST(round(list_dot_product(e.embedding::DOUBLE[],
                                               q.qv) * 10000, 0)
                        AS BIGINT) AS rel_e4
            FROM embeddings e, q WHERE e.vec_id <> 0
            ORDER BY rel_e4 DESC, e.vec_id LIMIT 20),
        c1 AS (SELECT vec_id, v, rel_e4,
                      7 * rel_e4 - 3 * 0 AS score
               FROM pool ORDER BY score DESC, vec_id LIMIT 1),
        p1 AS (SELECT * FROM pool
               WHERE vec_id NOT IN (SELECT vec_id FROM c1)),
        c2 AS (SELECT p.vec_id, p.v, p.rel_e4,
                      7 * p.rel_e4 - 3 * greatest(0,
                          CAST(round(list_dot_product(p.v, c1.v)
                                     * 10000, 0) AS BIGINT)) AS score
               FROM p1 p, c1 ORDER BY score DESC, p.vec_id LIMIT 1),
        p2 AS (SELECT * FROM p1
               WHERE vec_id NOT IN (SELECT vec_id FROM c2)),
        c3 AS (SELECT p.vec_id, p.v, p.rel_e4,
                      7 * p.rel_e4 - 3 * greatest(0,
                          CAST(round(list_dot_product(p.v, c1.v)
                                     * 10000, 0) AS BIGINT),
                          CAST(round(list_dot_product(p.v, c2.v)
                                     * 10000, 0) AS BIGINT)) AS score
               FROM p2 p, c1, c2
               ORDER BY score DESC, p.vec_id LIMIT 1),
        p3 AS (SELECT * FROM p2
               WHERE vec_id NOT IN (SELECT vec_id FROM c3)),
        c4 AS (SELECT p.vec_id, p.v, p.rel_e4,
                      7 * p.rel_e4 - 3 * greatest(0,
                          CAST(round(list_dot_product(p.v, c1.v)
                                     * 10000, 0) AS BIGINT),
                          CAST(round(list_dot_product(p.v, c2.v)
                                     * 10000, 0) AS BIGINT),
                          CAST(round(list_dot_product(p.v, c3.v)
                                     * 10000, 0) AS BIGINT)) AS score
               FROM p3 p, c1, c2, c3
               ORDER BY score DESC, p.vec_id LIMIT 1),
        p4 AS (SELECT * FROM p3
               WHERE vec_id NOT IN (SELECT vec_id FROM c4)),
        c5 AS (SELECT p.vec_id, p.v, p.rel_e4,
                      7 * p.rel_e4 - 3 * greatest(0,
                          CAST(round(list_dot_product(p.v, c1.v)
                                     * 10000, 0) AS BIGINT),
                          CAST(round(list_dot_product(p.v, c2.v)
                                     * 10000, 0) AS BIGINT),
                          CAST(round(list_dot_product(p.v, c3.v)
                                     * 10000, 0) AS BIGINT),
                          CAST(round(list_dot_product(p.v, c4.v)
                                     * 10000, 0) AS BIGINT)) AS score
               FROM p4 p, c1, c2, c3, c4
               ORDER BY score DESC, p.vec_id LIMIT 1)
        SELECT * FROM (
            SELECT 1 AS mmr_rank, vec_id, rel_e4 AS relevance_e4,
                   CAST(score AS BIGINT) AS mmr_score_e5 FROM c1
            UNION ALL SELECT 2, vec_id, rel_e4, CAST(score AS BIGINT)
                      FROM c2
            UNION ALL SELECT 3, vec_id, rel_e4, CAST(score AS BIGINT)
                      FROM c3
            UNION ALL SELECT 4, vec_id, rel_e4, CAST(score AS BIGINT)
                      FROM c4
            UNION ALL SELECT 5, vec_id, rel_e4, CAST(score AS BIGINT)
                      FROM c5)
        ORDER BY mmr_rank
    """,
    "ivfpq_stratified_search_embeddings": """
        -- IVF-PQ residual search: coarse stratified quantizer (the
        -- IVF-twin CTEs), round6 residuals, stratified residual
        -- sub-codebooks, per-probe ADC tables, LTR lookup-sum
        WITH p AS (
            SELECT vec_id, ((vec_id % 8) + 8) % 8 AS lab, embedding
            FROM embeddings),
        posx AS (
            SELECT lab,
                   unnest(generate_series(1, len(embedding))) AS i,
                   embedding
            FROM p),
        a AS (
            SELECT lab, i - 1 AS pos,
                   sum(CAST(CAST(embedding[i] AS DOUBLE)
                            AS DECIMAL(27,10))) AS s,
                   count(*) AS n
            FROM posx GROUP BY lab, i),
        cent AS (
            SELECT lab,
                   list(round(CAST(s AS DOUBLE) / n, 6)
                        ORDER BY pos) AS cvec
            FROM a GROUP BY lab),
        sc AS (
            SELECT p.vec_id, c.lab,
                   list_dot_product(p.embedding::DOUBLE[], c.cvec)
                       AS score
            FROM p CROSS JOIN cent c),
        asg AS (
            SELECT vec_id, lab AS cluster
            FROM (SELECT vec_id, lab,
                         row_number() OVER
                             (PARTITION BY vec_id
                              ORDER BY score DESC, lab ASC) AS rk
                  FROM sc)
            WHERE rk = 1),
        r AS (
            SELECT p2.vec_id, a2.cluster,
                   ((((p2.vec_id // 8) % 8) + 8) % 8) AS lab2,
                   list_transform(
                       generate_series(1, len(p2.embedding)),
                       i -> round(CAST(p2.embedding[i] AS DOUBLE)
                                  - c.cvec[i], 6)) AS res
            FROM p p2
            JOIN asg a2 ON a2.vec_id = p2.vec_id
            JOIN cent c ON c.lab = a2.cluster),
        rposx AS (
            SELECT lab2,
                   unnest(generate_series(1, len(res))) AS i, res
            FROM r),
        rcomp AS (
            SELECT lab2, (i - 1) // 8 AS sj, (i - 1) % 8 AS pos,
                   sum(CAST(res[i] AS DECIMAL(27,10))) AS s,
                   count(*) AS n
            FROM rposx GROUP BY lab2, sj, pos),
        book AS (
            SELECT lab2 AS lab, sj,
                   list(round(CAST(s AS DOUBLE) / n, 6)
                        ORDER BY pos) AS cvec
            FROM rcomp GROUP BY lab2, sj),
        rsv AS (
            SELECT r.vec_id, r.cluster, b.sj,
                   list_transform(generate_series(1, 8),
                       t -> res[b.sj * 8 + t]) AS subvec
            FROM r, (SELECT unnest([0,1,2,3,4,5,6,7]) AS sj) b),
        scq AS (
            SELECT rsv.vec_id, rsv.cluster, rsv.sj, bk.lab,
                   list_dot_product(rsv.subvec, bk.cvec) AS sc2
            FROM rsv JOIN book bk ON bk.sj = rsv.sj),
        code AS (
            SELECT vec_id, cluster, sj, lab AS c
            FROM (SELECT vec_id, cluster, sj, lab,
                         row_number() OVER
                             (PARTITION BY vec_id, sj
                              ORDER BY sc2 DESC, lab ASC) AS rk
                  FROM scq)
            WHERE rk = 1),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 0),
        pd AS (SELECT c.lab,
                      list_dot_product(q.qv, c.cvec) AS s
               FROM cent c, q),
        probes AS (SELECT lab FROM pd ORDER BY s DESC, lab LIMIT 2),
        qres AS (
            SELECT pr.lab AS plab,
                   list_transform(generate_series(1, len(q.qv)),
                       i -> round(q.qv[i] - c.cvec[i], 6)) AS res
            FROM probes pr JOIN cent c ON c.lab = pr.lab, q),
        tbl AS (
            SELECT qres.plab, b.sj, bk.lab,
                   list_dot_product(
                       list_transform(generate_series(1, 8),
                           t -> qres.res[b.sj * 8 + t]),
                       bk.cvec) AS t
            FROM qres
            CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS sj) b
            JOIN book bk ON bk.sj = b.sj),
        terms AS (
            SELECT cd.vec_id, cd.cluster, cd.sj, tb.t
            FROM code cd
            JOIN probes pr ON pr.lab = cd.cluster
            JOIN tbl tb ON tb.plab = cd.cluster
                       AND tb.sj = cd.sj AND tb.lab = cd.c),
        sc3 AS (
            SELECT vec_id, CAST(min(cluster) AS INT) AS cluster,
                   round(list_sum(list(t ORDER BY sj)), 4)
                       AS score_adc
            FROM terms WHERE vec_id <> 0 GROUP BY vec_id)
        SELECT vec_id, cluster, score_adc FROM sc3
        ORDER BY score_adc DESC, vec_id LIMIT 10
    """,
    "ohlc_bars_events": """
        -- hourly OHLC per event_type; open/close = first/last value
        -- by (ts, value) — deterministic under duplicate timestamps
        -- (DuckDB arg_min/arg_max reject struct orderings, so the
        -- first/last rows come from window row_numbers instead)
        WITH r AS (
            SELECT event_type,
                   date_trunc('hour', ts) AS bar_ts, value,
                   row_number() OVER (
                       PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts, value) AS rn_a,
                   row_number() OVER (
                       PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts DESC, value DESC) AS rn_d
            FROM events WHERE value IS NOT NULL)
        SELECT event_type, bar_ts,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               count(*) AS n
        FROM r GROUP BY event_type, bar_ts
        ORDER BY event_type, bar_ts
    """,
    "stream_ohlc_events": """
        -- hourly OHLC per event_type; open/close = first/last value
        -- by (ts, value) — deterministic under duplicate timestamps
        -- (DuckDB arg_min/arg_max reject struct orderings, so the
        -- first/last rows come from window row_numbers instead)
        WITH r AS (
            SELECT event_type,
                   date_trunc('hour', ts) AS bar_ts, value,
                   row_number() OVER (
                       PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts, value) AS rn_a,
                   row_number() OVER (
                       PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts DESC, value DESC) AS rn_d
            FROM events WHERE value IS NOT NULL)
        SELECT event_type, bar_ts,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               count(*) AS n
        FROM r GROUP BY event_type, bar_ts
        ORDER BY event_type, bar_ts
    """,
    "pq_stratified_adc_embeddings": """
        -- PQ ADC over stratified DECIMAL sub-codebooks: per-subspace
        -- argmax-dot encode, query lookup table, LTR 8-term sum.
        -- list(t ORDER BY sj) + list_sum = the same left-to-right
        -- addition order as the Spark expression chain.
        WITH p AS (
            SELECT vec_id, ((vec_id % 8) + 8) % 8 AS lab, embedding
            FROM embeddings),
        posx AS (
            SELECT vec_id, lab,
                   unnest(generate_series(1, len(embedding))) AS i,
                   embedding
            FROM p),
        comp AS (
            SELECT lab, (i - 1) // 8 AS sj,
                   (i - 1) % 8 AS pos,
                   sum(CAST(CAST(embedding[i] AS DOUBLE)
                            AS DECIMAL(27,10))) AS s,
                   count(*) AS n
            FROM posx GROUP BY lab, sj, pos),
        book AS (
            SELECT lab, sj,
                   list(round(CAST(s AS DOUBLE) / n, 6)
                        ORDER BY pos) AS cvec
            FROM comp GROUP BY lab, sj),
        sv AS (
            SELECT p.vec_id, b.sj,
                   list_transform(generate_series(1, 8),
                       t -> CAST(embedding[b.sj * 8 + t] AS DOUBLE))
                       AS subvec
            FROM p, (SELECT unnest([0,1,2,3,4,5,6,7]) AS sj) b),
        scq AS (
            SELECT sv.vec_id, sv.sj, bk.lab,
                   list_dot_product(sv.subvec, bk.cvec) AS sc
            FROM sv JOIN book bk ON bk.sj = sv.sj),
        code AS (
            SELECT vec_id, sj, lab AS c
            FROM (SELECT vec_id, sj, lab,
                         row_number() OVER
                             (PARTITION BY vec_id, sj
                              ORDER BY sc DESC, lab ASC) AS rk
                  FROM scq)
            WHERE rk = 1),
        tbl AS (
            SELECT s2.sj, bk.lab,
                   list_dot_product(s2.subvec, bk.cvec) AS t
            FROM sv s2 JOIN book bk ON bk.sj = s2.sj
            WHERE s2.vec_id = 0),
        terms AS (
            SELECT c.vec_id, c.sj, tb.t
            FROM code c JOIN tbl tb
              ON tb.sj = c.sj AND tb.lab = c.c),
        sc2 AS (
            SELECT vec_id,
                   round(list_sum(list(t ORDER BY sj)), 4)
                       AS score_adc
            FROM terms GROUP BY vec_id)
        SELECT vec_id, score_adc FROM sc2
        WHERE vec_id <> 0
        ORDER BY score_adc DESC, vec_id LIMIT 10
    """,
    "ivf_stratified_search_embeddings": """
        -- IVF nprobe search over the stratified DECIMAL quantizer:
        -- same cent/asg CTEs as the SemDeDup oracle, then probe the
        -- 2 nearest centroids and exact-4dp top-10 inside them
        WITH p AS (
            SELECT vec_id, ((vec_id % 8) + 8) % 8 AS lab, embedding
            FROM embeddings),
        posx AS (
            SELECT lab,
                   unnest(generate_series(1, len(embedding))) AS i,
                   embedding
            FROM p),
        a AS (
            SELECT lab, i - 1 AS pos,
                   sum(CAST(CAST(embedding[i] AS DOUBLE)
                            AS DECIMAL(27,10))) AS s,
                   count(*) AS n
            FROM posx GROUP BY lab, i),
        cent AS (
            SELECT lab,
                   list(round(CAST(s AS DOUBLE) / n, 6)
                        ORDER BY pos) AS cvec
            FROM a GROUP BY lab),
        sc AS (
            SELECT p.vec_id, c.lab,
                   list_dot_product(p.embedding::DOUBLE[], c.cvec)
                       AS score
            FROM p CROSS JOIN cent c),
        asg AS (
            SELECT vec_id, lab AS cluster
            FROM (SELECT vec_id, lab,
                         row_number() OVER
                             (PARTITION BY vec_id
                              ORDER BY score DESC, lab ASC) AS rk
                  FROM sc)
            WHERE rk = 1),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 0),
        pd AS (SELECT c.lab,
                      list_dot_product(q.qv, c.cvec) AS s
               FROM cent c, q),
        probes AS (SELECT lab FROM pd ORDER BY s DESC, lab LIMIT 2),
        cand AS (
            SELECT e.vec_id, CAST(a2.cluster AS INT) AS cluster,
                   round(list_dot_product(e.embedding::DOUBLE[],
                                          q.qv), 4) AS similarity
            FROM embeddings e
            JOIN asg a2 ON a2.vec_id = e.vec_id
            JOIN probes pr ON pr.lab = a2.cluster, q
            WHERE e.vec_id <> 0)
        SELECT vec_id, cluster, similarity FROM cand
        ORDER BY similarity DESC, vec_id LIMIT 10
    """,
    "datacard_documents": """
        -- corpus data card, all exact integers
        WITH t AS (
            SELECT doc_id, lang, source, length(text) AS nc,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text),
                                                    '\\s+')) END
                       AS nt,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                                           'g'))) AS fp
            FROM documents),
        base AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(nc) AS BIGINT) AS n_chars_total,
                   CAST(sum(nt) AS BIGINT) AS n_tokens_total,
                   CAST(max(nt) AS BIGINT) AS max_doc_tokens,
                   CAST(min(nt) AS BIGINT) AS min_doc_tokens,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources
            FROM t),
        dup AS (
            SELECT CAST(count(CASE WHEN n > 1 THEN 1 END) AS BIGINT)
                       AS n_exact_dup_groups,
                   CAST(coalesce(sum(CASE WHEN n > 1 THEN n - 1 END),
                                 0) AS BIGINT) AS n_exact_dup_docs
            FROM (SELECT fp, count(*) AS n FROM t GROUP BY fp))
        SELECT metric, value FROM (
            SELECT 'n_docs' AS metric, n_docs AS value FROM base
            UNION ALL SELECT 'n_chars_total', n_chars_total FROM base
            UNION ALL SELECT 'n_tokens_total', n_tokens_total FROM base
            UNION ALL SELECT 'max_doc_tokens', max_doc_tokens FROM base
            UNION ALL SELECT 'min_doc_tokens', min_doc_tokens FROM base
            UNION ALL SELECT 'n_langs', n_langs FROM base
            UNION ALL SELECT 'n_sources', n_sources FROM base
            UNION ALL SELECT 'n_exact_dup_groups', n_exact_dup_groups
                      FROM dup
            UNION ALL SELECT 'n_exact_dup_docs', n_exact_dup_docs
                      FROM dup)
        ORDER BY metric
    """,
    "srp_rademacher_oracle_embeddings": f"""
        -- banded SRP with ±1 planes over micro-quantized integer
        -- components: integer projections -> band buckets -> bucket
        -- join -> exact 4dp cosine verify
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_transform(embedding::DOUBLE[],
                       x -> CAST(round(x * 1000000, 0) AS BIGINT))
                       AS q
            FROM embeddings),
        s AS (SELECT {_rademacher_signs_sql()} AS S),
        bb AS (
            SELECT e.vec_id,
                   b.band,
                   CAST(list_sum(list_transform(
                       generate_series(0, 7), j ->
                       CASE WHEN list_sum(list_transform(
                                generate_series(1, 64),
                                i -> q[i] * S[b.band * 8 + j + 1][i]))
                                > 0
                            THEN (1::BIGINT << j)
                            ELSE 0::BIGINT END)) AS BIGINT) AS bucket
            FROM e, s, (SELECT unnest([0, 1, 2, 3]) AS band) b),
        cands AS (
            SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
            FROM bb x JOIN bb y
              ON x.band = y.band AND x.bucket = y.bucket
             AND x.vec_id < y.vec_id),
        j AS (
            SELECT c.id1, c.id2,
                   round(list_dot_product(a.v, b2.v), 4)
                       AS similarity
            FROM cands c
            JOIN e a ON a.vec_id = c.id1
            JOIN e b2 ON b2.vec_id = c.id2)
        SELECT id1, id2, similarity FROM j
        WHERE similarity >= 0.4
        ORDER BY id1, id2
    """,
    "simhash_banded_oracle_documents": """
        -- 56-bit md5 SimHash; oracle verifies with the QUADRATIC
        -- Hamming filter, proving the 4-chunk pigeonhole blocking
        -- complete for distance <= 3
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+')
                       AS toks
            FROM documents),
        cd AS (
            SELECT doc_id,
                   list_transform(toks, x ->
                       CAST(concat('0x', substr(md5(x), 1, 14))
                            AS BIGINT)) AS cs
            FROM t),
        vt AS (
            SELECT doc_id,
                   list_transform(generate_series(0, 55), b ->
                       CAST(list_sum(list_transform(cs, x ->
                           CASE WHEN ((x >> b) & 1) = 1
                                THEN 1 ELSE -1 END))
                           AS BIGINT)) AS votes
            FROM cd),
        sg AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(
                       generate_series(1, 56), i ->
                           CASE WHEN votes[i] > 0
                                THEN (1::BIGINT << (i - 1))
                                ELSE 0::BIGINT END))
                       AS BIGINT) AS sig
            FROM vt)
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM sg a JOIN sg b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= 3
        ORDER BY id1, id2
    """,
    "kcenter_coreset_embeddings": """
        -- greedy k-center, k=4: seed = lowest id; each step picks
        -- argmax of the running min 4dp cosine distance (ties lowest
        -- id) and least-updates distances against the new center
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
        d1 AS (SELECT e.vec_id, e.v,
                      round(1.0 - list_dot_product(e.v, c1.v), 4) AS d
               FROM e, c1 WHERE e.vec_id <> c1.vec_id),
        c2 AS (SELECT vec_id, v, d FROM d1
               ORDER BY d DESC, vec_id LIMIT 1),
        d2 AS (SELECT d1.vec_id, d1.v,
                      least(d1.d,
                            round(1.0 - list_dot_product(d1.v, c2.v),
                                  4)) AS d
               FROM d1, c2 WHERE d1.vec_id <> c2.vec_id),
        c3 AS (SELECT vec_id, v, d FROM d2
               ORDER BY d DESC, vec_id LIMIT 1),
        d3 AS (SELECT d2.vec_id, d2.v,
                      least(d2.d,
                            round(1.0 - list_dot_product(d2.v, c3.v),
                                  4)) AS d
               FROM d2, c3 WHERE d2.vec_id <> c3.vec_id),
        c4 AS (SELECT vec_id, v, d FROM d3
               ORDER BY d DESC, vec_id LIMIT 1)
        SELECT * FROM (
            SELECT 1 AS sel_rank, vec_id, 0.0 AS dist FROM c1
            UNION ALL SELECT 2, vec_id, d FROM c2
            UNION ALL SELECT 3, vec_id, d FROM c3
            UNION ALL SELECT 4, vec_id, d FROM c4)
        ORDER BY sel_rank
    """,
    "mrl_search_embeddings": """
        -- Matryoshka prefix retrieval: cosine over the first 16 dims
        WITH s AS (SELECT vec_id,
                          (embedding::DOUBLE[])[1:16] AS e
                   FROM embeddings),
        q AS (SELECT e FROM s WHERE vec_id = 0),
        d AS (SELECT s.vec_id,
                     round(list_dot_product(s.e, q.e)
                           / (sqrt(list_dot_product(s.e, s.e))
                              * sqrt(list_dot_product(q.e, q.e))), 4)
                         AS similarity_mrl
              FROM s, q WHERE s.vec_id <> 0)
        SELECT vec_id, similarity_mrl FROM d
        ORDER BY similarity_mrl DESC, vec_id LIMIT 10
    """,
    "hamming_rerank_embeddings": """
        -- Hamming top-50 shortlist, exact-dot rerank to top-10
        WITH b AS (
            SELECT vec_id,
                   list_transform(
                       generate_series(0, (len(embedding) - 1) // 32),
                       w -> CAST(list_sum(list_transform(
                           generate_series(0, 31),
                           j -> CASE WHEN w * 32 + j + 1
                                          <= len(embedding)
                                      AND CAST(embedding[w * 32 + j + 1]
                                               AS DOUBLE) > 0
                                THEN (1::BIGINT << j)
                                ELSE 0::BIGINT END))
                           AS BIGINT)) AS bits
            FROM embeddings),
        qb AS (SELECT bits FROM b WHERE vec_id = 0),
        d AS (
            SELECT b.vec_id,
                   CAST(list_sum(list_transform(
                       generate_series(1, len(b.bits)),
                       i -> bit_count(xor(b.bits[i], qb.bits[i]))))
                       AS INT) AS hamming
            FROM b, qb WHERE b.vec_id <> 0),
        short AS (SELECT vec_id, hamming FROM d
                  ORDER BY hamming, vec_id LIMIT 50),
        qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        SELECT s.vec_id, s.hamming,
               round(list_dot_product(e.embedding::DOUBLE[],
                                      qv.embedding::DOUBLE[]), 4)
                   AS similarity
        FROM short s
        JOIN embeddings e ON e.vec_id = s.vec_id, qv
        ORDER BY similarity DESC, s.vec_id LIMIT 10
    """,
    "token_budget_mixture_documents": """
        -- per-source token-budget greedy fill in LCG-hash order;
        -- exclusive running sum, survivor iff before < budget
        WITH t AS (
            SELECT doc_id, source,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text),
                                                    '\\s+')) END
                       AS n_tokens,
                   ((doc_id % 2147483648 + 2147483648) % 2147483648
                    * 1103515245 + 12345) % 2147483648 AS h
            FROM documents),
        c AS (
            SELECT doc_id, source, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       PARTITION BY source ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS before
            FROM t)
        SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens
        FROM c
        WHERE before < CASE source WHEN 'src0' THEN 300
                                   WHEN 'src1' THEN 150
                                   WHEN 'src2' THEN 300
                                   ELSE 100 END
        ORDER BY doc_id
    """,
    "bleu_pairs_documents": """
        -- BLEU-style clipped 1/2-gram precision on (even doc ->
        -- successor) pairs; integer counts, ppm floor division
        WITH pairs AS (
            SELECT a.doc_id AS pair_id,
                   list_filter(string_split_regex(
                       trim(lower(a.text)), '\\s+'),
                       x -> x <> '') AS ct,
                   list_filter(string_split_regex(
                       trim(lower(b.text)), '\\s+'),
                       x -> x <> '') AS rt
            FROM documents a JOIN documents b
              ON a.doc_id + 1 = b.doc_id
            WHERE a.doc_id % 2 = 0),
        grams AS (
            SELECT pair_id, n,
                   CASE WHEN n = 1 THEN ct
                        ELSE list_transform(
                            generate_series(1, len(ct) - 1),
                            i -> ct[i] || ' ' || ct[i+1]) END AS cg,
                   CASE WHEN n = 1 THEN rt
                        ELSE list_transform(
                            generate_series(1, len(rt) - 1),
                            i -> rt[i] || ' ' || rt[i+1]) END AS rg
            FROM pairs, (SELECT unnest([1, 2]) AS n)),
        cc AS (SELECT pair_id, n, g, count(*) AS c
               FROM (SELECT pair_id, n, unnest(cg) AS g FROM grams)
               GROUP BY pair_id, n, g),
        rc AS (SELECT pair_id, n, g, count(*) AS r
               FROM (SELECT pair_id, n, unnest(rg) AS g FROM grams)
               GROUP BY pair_id, n, g),
        tot AS (SELECT pair_id, n, CAST(sum(c) AS BIGINT) AS cand_total
                FROM cc GROUP BY pair_id, n),
        m AS (SELECT cc.pair_id, cc.n,
                     CAST(sum(least(cc.c, rc.r)) AS BIGINT) AS cm
              FROM cc JOIN rc
                ON cc.pair_id = rc.pair_id AND cc.n = rc.n
               AND cc.g = rc.g
              GROUP BY cc.pair_id, cc.n)
        SELECT t.pair_id, t.n,
               coalesce(m.cm, 0) AS clipped_matches,
               t.cand_total,
               CASE WHEN t.cand_total > 0
                    THEN (1000000 * coalesce(m.cm, 0)) // t.cand_total
                    ELSE 0 END AS precision_ppm
        FROM tot t LEFT JOIN m
          ON t.pair_id = m.pair_id AND t.n = m.n
        ORDER BY t.pair_id, t.n
    """,
    "rrf_hybrid_documents": """
        -- RRF fusion of BM25 lexical top-50 and dense cosine top-50:
        -- score_micro = sum of 1000000 // (60 + rank) — pure integer
        WITH d AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS t
            FROM documents WHERE text IS NOT NULL),
        dl_t AS (SELECT doc_id, len(t) AS dl, t FROM d),
        stats AS (
            SELECT count(*) AS n_docs,
                   CAST(sum(len(t)) AS BIGINT) AS sum_dl
            FROM d),
        tok AS (SELECT doc_id, dl, unnest(t) AS token FROM dl_t),
        tf AS (
            SELECT doc_id, dl, token, count(*) AS tf
            FROM tok WHERE token IN ('spark', 'join', 'window')
            GROUP BY doc_id, dl, token),
        dfq AS (SELECT token, count(*) AS dfreq FROM tf
                GROUP BY token),
        c AS (
            SELECT tf.doc_id,
                   CAST(round(
                       (ln((CAST(n_docs AS DOUBLE)
                            - CAST(dfreq AS DOUBLE) + 0.5)
                           / (CAST(dfreq AS DOUBLE) + 0.5) + 1.0)
                        * (CAST(tf AS DOUBLE) * (1.2 + 1.0)))
                       / (CAST(tf AS DOUBLE)
                          + 1.2 * (1.0 - 0.75
                                   + 0.75 * CAST(dl AS DOUBLE)
                                     / (CAST(sum_dl AS DOUBLE)
                                        / CAST(n_docs AS DOUBLE))))
                       * 1000000.0) AS BIGINT) AS c6
            FROM tf JOIN dfq ON tf.token = dfq.token, stats),
        lex0 AS (
            SELECT doc_id, CAST(sum(c6) AS BIGINT) AS s6
            FROM c GROUP BY doc_id
            ORDER BY s6 DESC, doc_id LIMIT 50),
        lex AS (SELECT doc_id,
                       row_number() OVER (ORDER BY s6 DESC, doc_id)
                           AS rank
                FROM lex0),
        q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        sims AS (
            SELECT e.vec_id AS doc_id,
                   round(list_dot_product(e.embedding::DOUBLE[],
                                          q.embedding::DOUBLE[]), 4)
                       AS sim
            FROM embeddings e, q),
        vec0 AS (SELECT doc_id, sim FROM sims
                 ORDER BY sim DESC, doc_id LIMIT 50),
        vec AS (SELECT doc_id,
                       row_number() OVER (ORDER BY sim DESC, doc_id)
                           AS rank
                FROM vec0),
        u AS (SELECT doc_id, rank FROM lex
              UNION ALL SELECT doc_id, rank FROM vec),
        f AS (SELECT doc_id, count(*) AS n_lists,
                     CAST(sum(1000000 // (60 + rank)) AS BIGINT)
                         AS score_micro
              FROM u GROUP BY doc_id)
        SELECT doc_id, n_lists, score_micro
        FROM f ORDER BY score_micro DESC, doc_id LIMIT 20
    """,
    "dsir_weights_documents": """
        -- DSIR hashed-unigram importance weights: integer micro-log
        -- target/raw ratio; the md5-prefix bucket hash is positive so
        -- % == pmod; sums of BIGINT cast back from HUGEINT
        WITH tokr AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(t), 1, 14)) AS BIGINT)
                       % 1024 AS b
            FROM (SELECT doc_id,
                         unnest(string_split_regex(
                             trim(lower(text)), '\\s+')) AS t
                  FROM documents WHERE text IS NOT NULL)
            WHERE t <> ''),
        tokt AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(t), 1, 14)) AS BIGINT)
                       % 1024 AS b
            FROM (SELECT doc_id,
                         unnest(string_split_regex(
                             trim(lower(text)), '\\s+')) AS t
                  FROM documents
                  WHERE text IS NOT NULL AND lang = 'en')
            WHERE t <> ''),
        r AS (SELECT b, count(*) AS c FROM tokr GROUP BY b),
        rn AS (SELECT count(*) AS n FROM tokr),
        t AS (SELECT b, count(*) AS c FROM tokt GROUP BY b),
        tn AS (SELECT count(*) AS n FROM tokt),
        model AS (
            SELECT coalesce(r.b, t.b) AS b,
                   coalesce(
                       CAST(round(ln((r.c + 0.5) / (rn.n + 512.0))
                                  * 1e6, 0) AS BIGINT),
                       CAST(round(ln(0.5 / (rn.n + 512.0))
                                  * 1e6, 0) AS BIGINT)) AS lp6_raw,
                   coalesce(
                       CAST(round(ln((t.c + 0.5) / (tn.n + 512.0))
                                  * 1e6, 0) AS BIGINT),
                       CAST(round(ln(0.5 / (tn.n + 512.0))
                                  * 1e6, 0) AS BIGINT)) AS lp6_tgt
            FROM r FULL OUTER JOIN t ON r.b = t.b
            CROSS JOIN rn CROSS JOIN tn)
        SELECT tokr.doc_id, count(*) AS n_tokens,
               CAST(sum(m.lp6_tgt - m.lp6_raw) AS BIGINT) AS w6
        FROM tokr JOIN model m ON tokr.b = m.b
        GROUP BY tokr.doc_id ORDER BY tokr.doc_id
    """,
    "quantize_int8_embeddings": """
        -- SQ8: per-dim max|x| scale (order-independent max), then
        -- clamp(round(x/s*127)); both engines round half away from 0
        WITH p AS (
            SELECT unnest(generate_series(1, len(embedding))) AS i,
                   embedding
            FROM embeddings),
        s AS (
            SELECT i, max(abs(CAST(embedding[i] AS DOUBLE))) AS mx
            FROM p GROUP BY i),
        sv AS (SELECT list(mx ORDER BY i) AS sl FROM s)
        SELECT vec_id,
               array_to_string(
               list_transform(
                   generate_series(1, len(embedding)),
                   i -> CASE WHEN sv.sl[i] = 0.0 THEN 0
                             ELSE CAST(least(127.0, greatest(-127.0,
                                      round(CAST(embedding[i] AS DOUBLE)
                                            / sv.sl[i] * 127.0, 0)))
                                  AS INT) END), ',') AS codes
        FROM embeddings CROSS JOIN sv
        ORDER BY vec_id
    """,
    "leakage_safe_split_documents": """
        -- group-keyed fold: md5 digest of normalized text is the dup
        -- group; fold bucket = md5-prefix of the GROUP key mod 2^31;
        -- thresholds are int(cum_weight * 2^31) with float
        -- accumulation (0.8, 0.8+0.1) exactly as the Spark side
        WITH g AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                                           'g'))) AS dup_group
            FROM documents),
        b AS (
            SELECT doc_id, dup_group,
                   CAST(concat('0x', substr(md5(dup_group), 1, 14))
                        AS BIGINT) % 2147483648 AS bucket
            FROM g)
        SELECT doc_id, dup_group,
               CASE WHEN bucket < 1717986918 THEN 'train'
                    WHEN bucket < 1932735283 THEN 'val'
                    ELSE 'test' END AS split
        FROM b ORDER BY doc_id
    """,
    "expectation_report_lineitem": """
        -- one-scan conditional counts; violation = NOT pred OR NULL;
        -- DuckDB sum(int) is HUGEINT — cast back to BIGINT
        WITH a AS (
            SELECT count(*) AS n,
                   CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50)
                                   OR (l_quantity BETWEEN 1 AND 50) IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
                   CAST(sum(CASE WHEN NOT (l_extendedprice > 0)
                                   OR (l_extendedprice > 0) IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
                   CAST(sum(CASE WHEN NOT (l_discount <= 0.1)
                                   OR (l_discount <= 0.1) IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
                   CAST(sum(CASE WHEN NOT (l_tax < 0.05)
                                   OR (l_tax < 0.05) IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS v_tax,
                   CAST(sum(CASE WHEN NOT (l_returnflag IN ('A','N','R'))
                                   OR (l_returnflag IN ('A','N','R')) IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS v_flag,
                   CAST(sum(CASE WHEN l_shipdate IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS v_ship
            FROM lineitem)
        SELECT rule, n AS n_rows, v AS n_violations, v = 0 AS pass
        FROM (
            SELECT 'qty_range' AS rule, n, v_qty AS v FROM a
            UNION ALL SELECT 'price_positive', n, v_price FROM a
            UNION ALL SELECT 'discount_range', n, v_disc FROM a
            UNION ALL SELECT 'tax_low', n, v_tax FROM a
            UNION ALL SELECT 'flag_domain', n, v_flag FROM a
            UNION ALL SELECT 'shipdate_present', n, v_ship FROM a)
        ORDER BY rule
    """,
    "truncate_tokens_documents": """
        WITH t AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(trim(lower(text)),
                                                  '\\s+'),
                               x -> x <> '') AS toks
            FROM documents)
        SELECT doc_id,
               CASE WHEN text IS NOT NULL
                    THEN least(len(toks), 32) ELSE 0 END
                   AS n_tokens_kept,
               CASE WHEN text IS NOT NULL
                    THEN array_to_string(toks[1:32], ' ') END
                   AS text_trunc
        FROM t ORDER BY doc_id
    """,
    "stream_expectation_monitor_events": """
        -- batch twin of the per-day windowed violation counters;
        -- 1-day event-time windows are epoch-aligned == date_trunc
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
                   AS window_start,
               count(*) AS n_rows,
               CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS viol_user_present,
               CAST(sum(CASE WHEN NOT (value <= 400)
                               OR (value <= 400) IS NULL
                             THEN 1 ELSE 0 END)
                    AS BIGINT) AS viol_value_below_400,
               CAST(sum(CASE WHEN NOT (value > 0)
                               OR (value > 0) IS NULL
                             THEN 1 ELSE 0 END)
                    AS BIGINT) AS viol_value_positive
        FROM events
        GROUP BY date_trunc('day', ts)
        ORDER BY window_start
    """,
    "psi_drift_lineitem": """
        -- PSI in integer micro units: same double-arithmetic shapes
        -- as the Spark side (width = (mx-mn)/10 computed once; bin =
        -- clamp(floor((x-mn)/width)); term = (q-p)*ln(q/p))
        WITH ref AS (
            SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
            WHERE l_shipdate < TIMESTAMP '1998-01-01'
              AND l_extendedprice IS NOT NULL),
        nw AS (
            SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1998-01-01'
              AND l_extendedprice IS NOT NULL),
        st AS (
            SELECT min(x) AS mn, (max(x) - min(x)) / 10 AS width
            FROM ref),
        rb AS (
            SELECT least(9, greatest(0,
                       CAST(floor((x - st.mn) / st.width) AS INT)))
                       AS bin,
                   count(*) AS cnt_ref
            FROM ref CROSS JOIN st GROUP BY 1),
        nb AS (
            SELECT least(9, greatest(0,
                       CAST(floor((x - st.mn) / st.width) AS INT)))
                       AS bin,
                   count(*) AS cnt_new
            FROM nw CROSS JOIN st GROUP BY 1),
        spine AS (
            SELECT CAST(unnest(generate_series(0, 9)) AS INT) AS bin),
        j AS (
            SELECT s.bin,
                   coalesce(rb.cnt_ref, 0) AS cnt_ref,
                   coalesce(nb.cnt_new, 0) AS cnt_new
            FROM spine s
            LEFT JOIN rb ON rb.bin = s.bin
            LEFT JOIN nb ON nb.bin = s.bin),
        tot AS (
            SELECT CAST(sum(cnt_ref) AS BIGINT) AS nr,
                   CAST(sum(cnt_new) AS BIGINT) AS nn
            FROM j)
        SELECT j.bin,
               st.mn + j.bin * st.width AS lo,
               st.mn + (j.bin + 1) * st.width AS hi,
               j.cnt_ref, j.cnt_new,
               CAST(round(
                   ((j.cnt_new + 0.5) / (tot.nn + 5.0)
                    - (j.cnt_ref + 0.5) / (tot.nr + 5.0))
                   * ln(((j.cnt_new + 0.5) / (tot.nn + 5.0))
                        / ((j.cnt_ref + 0.5) / (tot.nr + 5.0)))
                   * 1e6, 0) AS BIGINT) AS psi6
        FROM j CROSS JOIN st CROSS JOIN tot
        ORDER BY j.bin
    """,
    "temperature_mixture_documents": """
        -- n^alpha as exp(0.7 ln n) rounded to micro ints BEFORE the
        -- normalizer sum (order-independent); floor div for ppm
        WITH c AS (
            SELECT lang AS source, count(*) AS n_rows
            FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        t AS (
            SELECT source, n_rows,
                   CAST(round(exp(0.7 * ln(CAST(n_rows AS DOUBLE)))
                              * 1e6, 0) AS BIGINT) AS t6
            FROM c),
        tot AS (
            SELECT CAST(sum(t6) AS BIGINT) AS s6,
                   CAST(sum(n_rows) AS BIGINT) AS n
            FROM t)
        SELECT source, n_rows,
               (1000000 * t6) // s6 AS weight_ppm,
               least(1000000,
                     (((1000000 * t6) // s6) * n) // n_rows)
                   AS rate_ppm
        FROM t CROSS JOIN tot ORDER BY source
    """,
    "sentence_split_documents": """
        WITH punct AS (
            SELECT doc_id,
                   regexp_replace(text, ' (spark|window) ', ' \\1. ',
                                  'g') AS text
            FROM documents WHERE text IS NOT NULL),
        sents AS (
            SELECT doc_id,
                   list_filter(
                       list_transform(
                           regexp_extract_all(text, '[^.!?]+[.!?]*'),
                           s -> trim(s)),
                       s -> s <> '') AS sl
            FROM punct)
        SELECT doc_id,
               unnest(generate_series(0, len(sl) - 1)) AS sent_idx,
               unnest(sl) AS sentence
        FROM sents ORDER BY doc_id, sent_idx
    """,
    "pivot_orders_priority": """
        -- conditional DECIMAL sums (order-independent), rendered as
        -- round(double, 2); absent cells are exact 0
        SELECT year(o_orderdate) AS order_year,
               round(CAST(coalesce(sum(CASE WHEN o_orderpriority = '1-URGENT'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0)
                     AS DOUBLE), 2) AS "1-URGENT",
               round(CAST(coalesce(sum(CASE WHEN o_orderpriority = '2-HIGH'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0)
                     AS DOUBLE), 2) AS "2-HIGH",
               round(CAST(coalesce(sum(CASE WHEN o_orderpriority = '3-MEDIUM'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0)
                     AS DOUBLE), 2) AS "3-MEDIUM",
               round(CAST(coalesce(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0)
                     AS DOUBLE), 2) AS "4-NOT SPECIFIED",
               round(CAST(coalesce(sum(CASE WHEN o_orderpriority = '5-LOW'
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0)
                     AS DOUBLE), 2) AS "5-LOW"
        FROM orders WHERE o_orderdate IS NOT NULL
        GROUP BY year(o_orderdate)
        ORDER BY order_year
    """,
    "analyze_table_events": """
        -- per-column catalog stats; numeric min/max as double, NULL
        -- for strings/timestamps (engine-dependent rendering)
        WITH n AS (SELECT count(*) AS n_rows FROM events)
        SELECT * FROM (
            SELECT 'event_id' AS "column", n.n_rows,
                   CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0
                            END) AS BIGINT) AS n_nulls,
                   count(DISTINCT event_id) AS n_distinct,
                   CAST(min(event_id) AS DOUBLE) AS min_d,
                   CAST(max(event_id) AS DOUBLE) AS max_d
            FROM events CROSS JOIN n GROUP BY n.n_rows
            UNION ALL
            SELECT 'event_type', n.n_rows,
                   CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0
                            END) AS BIGINT),
                   count(DISTINCT event_type), NULL, NULL
            FROM events CROSS JOIN n GROUP BY n.n_rows
            UNION ALL
            SELECT 'props', n.n_rows,
                   CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0
                            END) AS BIGINT),
                   count(DISTINCT props), NULL, NULL
            FROM events CROSS JOIN n GROUP BY n.n_rows
            UNION ALL
            SELECT 'ts', n.n_rows,
                   CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0
                            END) AS BIGINT),
                   count(DISTINCT ts), NULL, NULL
            FROM events CROSS JOIN n GROUP BY n.n_rows
            UNION ALL
            SELECT 'user_id', n.n_rows,
                   CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0
                            END) AS BIGINT),
                   count(DISTINCT user_id),
                   CAST(min(user_id) AS DOUBLE),
                   CAST(max(user_id) AS DOUBLE)
            FROM events CROSS JOIN n GROUP BY n.n_rows
            UNION ALL
            SELECT 'value', n.n_rows,
                   CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0
                            END) AS BIGINT),
                   count(DISTINCT value),
                   min(value), max(value)
            FROM events CROSS JOIN n GROUP BY n.n_rows)
        ORDER BY "column"
    """,
    "grouped_median_events": """
        -- DuckDB median is exact; even-count midpoint (a+b)/2 is the
        -- same IEEE computation np.median performs in the UDAF
        SELECT event_type, median(value) AS median_value
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "corr_matrix_lineitem": _corr_oracle(
        "lineitem",
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    ),
    "sorted_neighborhood_suppliers": """
        WITH o AS (
            SELECT s_suppkey AS id, s_name AS k,
                   row_number() OVER (ORDER BY s_name, s_suppkey)
                       AS rn
            FROM supplier WHERE s_name IS NOT NULL)
        SELECT a.id AS id_a, b.id AS id_b,
               a.k AS key_a, b.k AS key_b,
               levenshtein(a.k, b.k) AS dist
        FROM o a JOIN o b
          ON b.rn > a.rn AND b.rn <= a.rn + 3
        WHERE levenshtein(a.k, b.k) <= 2
        ORDER BY id_a, id_b
    """,
    "weighted_sample_documents": """
        -- A-ES with the LCG uniform: same ln(u)/w keys, top-50 by
        -- (key desc, id asc)
        WITH w AS (
            SELECT doc_id,
                   CAST(length(text) AS DOUBLE) AS w
            FROM documents
            WHERE text IS NOT NULL AND length(text) > 0),
        sk AS (
            SELECT doc_id, w,
                   ln(CAST((((doc_id % 2147483648) + 2147483648)
                            % 2147483648 * 1103515245 + 12345)
                           % 2147483648 + 1 AS DOUBLE)
                      / 2147483648.0) / w AS skey
            FROM w),
        top AS (
            SELECT doc_id, w, skey
            FROM sk ORDER BY skey DESC, doc_id ASC LIMIT 50)
        SELECT doc_id, w, round(skey, 6) AS sample_key
        FROM top ORDER BY doc_id
    """,
    "asof_forward_tolerance_events": """
        -- forward ASOF (e.ts <= p.ts picks the nearest following) +
        -- 6h tolerance applied on the matched ts
        WITH purch AS (
            SELECT user_id, ts, event_id AS purchase_event_id,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id ASC) AS rn
            FROM events WHERE event_type = 'purchase')
        SELECT e.event_id, e.user_id, e.event_type,
               CASE WHEN epoch_us(p.ts) - epoch_us(e.ts)
                         <= 21600000000
                    THEN p.purchase_event_id
               END AS purchase_event_id_asof
        FROM events e
        ASOF LEFT JOIN (SELECT user_id, ts, purchase_event_id
                        FROM purch WHERE rn = 1) p
          ON e.user_id = p.user_id AND e.ts <= p.ts
        ORDER BY e.event_id
    """,
    "transitive_closure_parts": """
        WITH RECURSIVE e AS (
            SELECT DISTINCT p_partkey // 5 AS src,
                   p_partkey AS dst
            FROM part
            WHERE p_partkey // 5 <> p_partkey),
        r(src, dst, depth) AS (
            SELECT src, dst, 1 FROM e
            UNION ALL
            SELECT r.src, e.dst, r.depth + 1
            FROM r JOIN e ON r.dst = e.src
            WHERE r.depth < 20 AND r.src <> e.dst)
        SELECT src, dst, CAST(min(depth) AS INT) AS depth
        FROM r GROUP BY src, dst ORDER BY src, dst
    """,
    "linear_fit_orders": """
        WITH b AS (
            SELECT o_orderpriority AS "group",
                   CAST(year(o_orderdate) - 1995 AS DOUBLE) AS x,
                   CAST(o_totalprice AS DOUBLE) AS y
            FROM orders WHERE o_orderdate IS NOT NULL),
        m AS (
            SELECT "group",
                   count(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                         THEN 1 END) AS n,
                   CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE)
                       AS sx,
                   CAST(sum(CAST(y AS DECIMAL(27,10))) AS DOUBLE)
                       AS sy,
                   CAST(sum(CAST(x * y AS DECIMAL(27,10))) AS DOUBLE)
                       AS sxy,
                   CAST(sum(CAST(x * x AS DECIMAL(27,10))) AS DOUBLE)
                       AS sxx
            FROM b GROUP BY "group")
        SELECT "group", n,
               CASE WHEN n >= 2 AND
                         CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                    THEN round((CAST(n AS DOUBLE) * sxy - sx * sy)
                               / (CAST(n AS DOUBLE) * sxx - sx * sx),
                               6) END AS slope,
               CASE WHEN n >= 2 AND
                         CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                    THEN round((sy - (CAST(n AS DOUBLE) * sxy
                                      - sx * sy)
                                     / (CAST(n AS DOUBLE) * sxx
                                        - sx * sx) * sx)
                               / CAST(n AS DOUBLE), 6)
               END AS intercept
        FROM m ORDER BY "group"
    """,
    "mean_pool_embeddings": """
        WITH p AS (
            SELECT ((vec_id % 16) + 16) % 16 AS grp,
                   unnest(generate_series(1, len(embedding))) AS i,
                   embedding
            FROM embeddings),
        a AS (
            SELECT grp, i - 1 AS pos,
                   sum(CAST(CAST(embedding[i] AS DOUBLE)
                            AS DECIMAL(27,10))) AS s,
                   count(*) AS n
            FROM p GROUP BY grp, i)
        SELECT grp AS "group",
               CAST(max(n) AS BIGINT) AS n_vecs,
               array_to_string(
                   list(CAST(round(round(CAST(s AS DOUBLE) / n, 6)
                                   * 1000000.0, 0) AS BIGINT)
                        ORDER BY pos), ',') AS pooled
        FROM a GROUP BY grp ORDER BY "group"
    """,
    # ---- round-5 additions ----
    "contamination_matrix_documents": """
        WITH grams AS (
            SELECT source AS s,
                   list_distinct([array_to_string(toks[i:i+2], ' ')
                                  FOR i IN range(1, len(toks) - 1)])
                       AS g
            FROM (SELECT source,
                         string_split_regex(trim(text), '\\s+') AS toks
                  FROM documents WHERE source IS NOT NULL)),
        sg AS (SELECT DISTINCT s, unnest(g) AS gram FROM grams),
        totals AS (SELECT s, CAST(count(*) AS BIGINT) AS tot
                   FROM sg GROUP BY s),
        shared AS (
            SELECT a.s AS src_a, b.s AS src_b,
                   CAST(count(*) AS BIGINT) AS shared_grams
            FROM sg a JOIN sg b ON a.gram = b.gram AND a.s < b.s
            GROUP BY a.s, b.s)
        SELECT src_a, src_b, shared_grams,
               ta.tot AS grams_a, tb.tot AS grams_b,
               shared_grams * 1000000 // ta.tot AS containment_a_ppm,
               shared_grams * 1000000 // tb.tot AS containment_b_ppm
        FROM shared
        JOIN totals ta ON src_a = ta.s
        JOIN totals tb ON src_b = tb.s
        ORDER BY shared_grams DESC, src_a, src_b
    """,
    "curriculum_shards_documents": """
        WITH r AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
                   row_number() OVER
                       (ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM documents)
        SELECT (rn - 1) // 64 AS shard,
               CAST(count(*) AS BIGINT) AS docs,
               min(score) AS score_min,
               max(score) AS score_max
        FROM r GROUP BY 1 ORDER BY shard
    """,
    "entity_resolution_suppliers": """
        WITH RECURSIVE pairs AS (
            SELECT a.s_suppkey AS id1, b.s_suppkey AS id2
            FROM supplier a JOIN supplier b
                 ON a.s_suppkey < b.s_suppkey
            WHERE levenshtein(a.s_name, b.s_name) <= 1),
        edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                  UNION SELECT id2, id1 FROM pairs),
        reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, reach.r
            FROM edges e JOIN reach ON e.dst = reach.id),
        comp AS (SELECT id, min(r) AS entity FROM reach GROUP BY id),
        lab AS (
            SELECT s.s_suppkey, s.s_name, s.s_acctbal,
                   coalesce(c.entity, s.s_suppkey) AS entity
            FROM supplier s LEFT JOIN comp c ON s.s_suppkey = c.id),
        ranked AS (
            SELECT entity, s_suppkey, s_name, s_acctbal,
                   row_number() OVER
                       (PARTITION BY entity
                        ORDER BY s_acctbal DESC, s_suppkey ASC) AS rn,
                   count(*) OVER (PARTITION BY entity) AS n_dups
            FROM lab)
        SELECT entity, s_suppkey, s_name,
               round(s_acctbal, 2) AS s_acctbal,
               CAST(n_dups AS BIGINT) AS n_dups
        FROM ranked WHERE rn = 1 ORDER BY entity
    """,
    "stream_enrich_events": """
        WITH dim(event_type, segment) AS (
            VALUES ('click', 'engage'), ('view', 'engage'),
                   ('purchase', 'convert'), ('signup', 'convert'),
                   ('error', 'ops'))
        SELECT e.event_type, CAST(count(*) AS BIGINT) AS cnt,
               d.segment
        FROM events e JOIN dim d USING (event_type)
        GROUP BY e.event_type, d.segment
        ORDER BY e.event_type
    """,
    "variant_extract_events": """
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS INT) AS k
        FROM events WHERE props IS NOT NULL
        ORDER BY event_id
    """,
    "listagg_orders": """
        SELECT o_custkey,
               string_agg(o_orderstatus, ','
                          ORDER BY o_orderdate ASC, o_orderkey ASC)
                   AS status_seq,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders WHERE o_custkey < 100
        GROUP BY o_custkey ORDER BY o_custkey
    """,
    "sql_parameterized_revenue": """
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS order_cnt,
               ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                          AS DOUBLE), 4) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment <> 'MACHINERY' AND o_totalprice >= 1000.0
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
}


def oracle_sql() -> dict[str, str]:
    from job_post_similarity_spark.sources.io import morton_key_sql

    _zkey = morton_key_sql("o_custkey", "o_orderkey", 16)
    out = {
        "hard_negatives_embeddings": f"""
            SELECT query_id, neighbor_id,
                   round(similarity, 4) AS similarity, rn AS rank
            FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                         {_COS} AS similarity,
                         row_number() OVER
                             (PARTITION BY a.vec_id
                              ORDER BY {_COS} DESC, b.vec_id ASC) AS rn
                  FROM embeddings a JOIN embeddings b
                    ON a.vec_id <> b.vec_id AND a.label <> b.label
                  WHERE a.vec_id < 50)
            WHERE rn <= 3
            ORDER BY query_id, rank
        """,
        "event_transitions_events": """
            WITH s AS (
                SELECT user_id, event_type,
                       lag(event_type) OVER
                           (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC) AS prev
                FROM events
                WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                  AND ts IS NOT NULL AND event_id IS NOT NULL),
            c AS (
                SELECT prev AS prev_type, event_type AS next_type,
                       count(*) AS cnt
                FROM s WHERE prev IS NOT NULL
                GROUP BY prev, event_type),
            t AS (
                SELECT prev_type, CAST(sum(cnt) AS BIGINT) AS tot
                FROM c GROUP BY prev_type)
            SELECT c.prev_type, c.next_type, c.cnt,
                   (1000000 * c.cnt) // t.tot AS p_ppm
            FROM c JOIN t USING (prev_type)
            ORDER BY prev_type, next_type
        """,
        "incremental_agg_orders": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                              AS DOUBLE), 2) AS total_price,
                   max(o_totalprice) AS max_price,
                   min(o_orderdate) AS min_date
            FROM orders
            GROUP BY o_orderstatus, o_orderpriority
            ORDER BY o_orderstatus, o_orderpriority
        """,
        "token_windows_udtf_documents": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           tk -> tk <> '') AS toks
                FROM documents
                WHERE text IS NOT NULL),
            w AS (
                SELECT doc_id,
                       unnest(generate_series(0,
                           CAST(ceil(len(toks) / 8.0) AS INT) - 1))
                           AS win_idx,
                       toks
                FROM t WHERE len(toks) > 0)
            SELECT doc_id, win_idx,
                   array_to_string(
                       list_slice(toks, win_idx * 8 + 1,
                                  win_idx * 8 + 8), ' ') AS win_text,
                   len(list_slice(toks, win_idx * 8 + 1,
                                  win_idx * 8 + 8)) AS n_tokens
            FROM w ORDER BY doc_id, win_idx
        """,
        "label_centroids_embeddings": """
            WITH p AS (
                SELECT label,
                       unnest(generate_series(1, len(embedding))) AS i,
                       embedding
                FROM embeddings),
            a AS (
                SELECT label, i - 1 AS pos,
                       sum(CAST(CAST(embedding[i] AS DOUBLE)
                                AS DECIMAL(27,10))) AS s,
                       count(*) AS n
                FROM p GROUP BY label, i)
            SELECT label, CAST(pos AS INTEGER) AS pos,
                   round(CAST(s AS DOUBLE) / n, 6) AS centroid
            FROM a ORDER BY label, pos
        """,
        "cohort_retention_events": """
            WITH uw AS (
                SELECT DISTINCT user_id AS u,
                       CAST(date_trunc('week', ts) AS DATE) AS w
                FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL),
            f AS (
                SELECT u, min(w) AS cohort_week FROM uw GROUP BY u)
            SELECT f.cohort_week,
                   date_diff('day', f.cohort_week, uw.w) // 7
                       AS week_offset,
                   count(*) AS active_users
            FROM uw JOIN f USING (u)
            GROUP BY f.cohort_week, week_offset
            ORDER BY cohort_week, week_offset
        """,
        "phrase_search_documents": """
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)),
                                          '\\s+') AS toks
                FROM documents WHERE text IS NOT NULL),
            p AS (
                SELECT doc_id,
                       unnest(toks) AS token,
                       unnest(generate_series(0, len(toks) - 1)) AS pos
                FROM t)
            SELECT a.doc_id, count(*) AS n_hits
            FROM p a JOIN p b
              ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
             AND b.token = 'hash'
            WHERE a.token = 'table'
            GROUP BY a.doc_id ORDER BY a.doc_id
        """,
        "stream_topk_users": """
            SELECT user_id, count(*) AS cnt
            FROM events WHERE user_id IS NOT NULL
            GROUP BY user_id
            ORDER BY cnt DESC, user_id ASC LIMIT 10
        """,
        "bpe_merge_pairs_documents": """
            WITH w AS (
                SELECT unnest(string_split_regex(trim(lower(text)),
                                                 '\\s+')) AS w
                FROM documents WHERE text IS NOT NULL),
            f AS (
                SELECT w, count(*) AS wcnt FROM w
                WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
                GROUP BY w),
            g AS (
                SELECT unnest(list_transform(
                           generate_series(1, length(w) - 1),
                           i -> substring(w, i, 2))) AS pair,
                       wcnt
                FROM f)
            SELECT pair, CAST(sum(wcnt) AS BIGINT) AS pair_count
            FROM g GROUP BY pair
            HAVING CAST(sum(wcnt) AS BIGINT) >= 2
            ORDER BY pair_count DESC, pair ASC LIMIT 30
        """,
        "chi2_token_label_documents": """
            WITH base AS (
                SELECT doc_id, lang, text FROM documents
                WHERE text IS NOT NULL AND lang IS NOT NULL),
            nd AS (SELECT count(*) AS n FROM base),
            dt AS (
                SELECT DISTINCT doc_id, lang AS label,
                       unnest(string_split_regex(trim(lower(text)),
                                                 '\\s+')) AS token
                FROM base),
            dt2 AS (SELECT * FROM dt WHERE token <> ''),
            tl AS (
                SELECT token, label, count(*) AS a
                FROM dt2 GROUP BY token, label),
            tm AS (
                SELECT token, CAST(sum(a) AS BIGINT) AS df_t
                FROM tl GROUP BY token),
            lm AS (
                SELECT lang AS label, count(*) AS n_l
                FROM base GROUP BY lang),
            j AS (
                SELECT tl.token, tl.label,
                       CAST(tl.a AS DOUBLE) AS da,
                       CAST(tm.df_t - tl.a AS DOUBLE) AS db,
                       CAST(lm.n_l - tl.a AS DOUBLE) AS dc,
                       CAST(nd.n - tm.df_t - lm.n_l + tl.a AS DOUBLE)
                           AS dd,
                       tm.df_t, lm.n_l, nd.n
                FROM tl
                JOIN tm ON tm.token = tl.token AND tm.df_t >= 5
                JOIN lm ON lm.label = tl.label
                CROSS JOIN nd
                WHERE tm.df_t < nd.n AND lm.n_l > 0 AND lm.n_l < nd.n),
            scored AS (
                SELECT token, label,
                       round(CAST(n AS DOUBLE)
                             * (da * dd - db * dc)
                             * (da * dd - db * dc)
                             / ((da + db) * (dc + dd)
                                * (da + dc) * (db + dd)), 4) AS chi2
                FROM j)
            SELECT token, label, chi2,
                   CAST(row_number() OVER
                        (ORDER BY chi2 DESC, token ASC, label ASC)
                        AS BIGINT) AS rank
            FROM scored
            ORDER BY chi2 DESC, token ASC, label ASC LIMIT 30
        """,
        "mad_outliers_events": """
            WITH e AS (
                SELECT event_id, event_type, value FROM events
                WHERE value IS NOT NULL AND event_type IS NOT NULL),
            m AS (
                SELECT event_type, median(value) AS med
                FROM e GROUP BY event_type),
            d AS (
                SELECT e.event_id, e.event_type, e.value, m.med,
                       abs(e.value - m.med) AS adev
                FROM e JOIN m USING (event_type)),
            md AS (
                SELECT event_type, median(adev) AS mad
                FROM d GROUP BY event_type)
            SELECT d.event_id, d.event_type,
                   round(d.value, 4) AS value,
                   round(d.med, 4) AS med,
                   round(md.mad, 4) AS mad
            FROM d JOIN md USING (event_type)
            WHERE d.adev > 3.0 * md.mad
            ORDER BY d.event_id
        """,
        "basket_lift_lineitem": """
            WITH bi AS (
                SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
                FROM lineitem l JOIN part p
                  ON l.l_partkey = p.p_partkey),
            nb AS (SELECT count(DISTINCT b) AS n FROM bi),
            supp AS (SELECT i, count(*) AS cnt FROM bi GROUP BY i),
            pairs AS (
                SELECT a.i AS item_a, c.i AS item_b,
                       count(*) AS pair_count
                FROM bi a JOIN bi c
                  ON a.b = c.b AND a.i < c.i
                GROUP BY a.i, c.i
                HAVING count(*) >= 2)
            SELECT p.item_a, p.item_b, p.pair_count,
                   (1000000 * nb.n * p.pair_count)
                       // (sa.cnt * sb.cnt) AS lift_ppm
            FROM pairs p
            JOIN supp sa ON sa.i = p.item_a
            JOIN supp sb ON sb.i = p.item_b
            CROSS JOIN nb
            ORDER BY p.pair_count DESC, lift_ppm DESC,
                     p.item_a ASC, p.item_b ASC
            LIMIT 50
        """,
        "knn_classify_embeddings": f"""
            WITH p AS (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       b.label AS nl,
                       {_COS} AS sim,
                       row_number() OVER
                           (PARTITION BY a.vec_id
                            ORDER BY {_COS} DESC, b.vec_id ASC) AS rn
                FROM embeddings a JOIN embeddings b
                  ON a.vec_id <> b.vec_id),
            v AS (
                SELECT query_id, nl, count(*) AS votes
                FROM p WHERE rn <= 5 GROUP BY query_id, nl),
            best AS (
                SELECT query_id, nl AS pred_label, votes,
                       row_number() OVER
                           (PARTITION BY query_id
                            ORDER BY votes DESC, nl ASC) AS rk
                FROM v)
            SELECT e.vec_id, e.label, b.pred_label, b.votes
            FROM embeddings e
            JOIN best b ON b.query_id = e.vec_id AND b.rk = 1
            ORDER BY e.vec_id
        """,
        "prefix_jaccard_docs": """
            WITH t AS (
                SELECT DISTINCT doc_id,
                       unnest(string_split_regex(trim(lower(text)),
                                                 '\\s+')) AS token
                FROM documents
                WHERE text IS NOT NULL AND doc_id < 150),
            t2 AS (SELECT * FROM t WHERE token <> ''),
            n AS (SELECT doc_id, count(*) AS n FROM t2 GROUP BY doc_id),
            p AS (
                SELECT a.doc_id AS id1, b.doc_id AS id2,
                       count(*) AS inter
                FROM t2 a JOIN t2 b
                  ON a.token = b.token AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
            SELECT p.id1, p.id2,
                   (1000000 * p.inter) // (na.n + nb.n - p.inter)
                       AS jaccard_ppm
            FROM p
            JOIN n na ON na.doc_id = p.id1
            JOIN n nb ON nb.doc_id = p.id2
            WHERE (1000000 * p.inter) // (na.n + nb.n - p.inter)
                  >= 800000
            ORDER BY id1, id2
        """,
        "triangle_counts_suppliers": """
            WITH gn AS (
                SELECT DISTINCT l_partkey AS g, l_suppkey AS node
                FROM lineitem
                WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
            e AS (
                SELECT a.node AS src, b.node AS dst, count(*) AS w
                FROM gn a JOIN gn b ON a.g = b.g AND a.node < b.node
                GROUP BY a.node, b.node
                ORDER BY w DESC, src ASC, dst ASC
                LIMIT 500),
            tri AS (
                SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
                FROM e ab
                JOIN e bc ON bc.src = ab.dst
                JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst),
            nodes AS (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri)
            SELECT node, count(*) AS n_tri
            FROM nodes GROUP BY node ORDER BY node
        """,
        "zorder_key_orders": f"""
            SELECT o_orderkey, o_custkey,
                   CAST({_zkey} AS BIGINT) AS zvalue
            FROM orders
            ORDER BY zvalue, o_orderkey LIMIT 100
        """,
        "bigram_perplexity_documents": _PPL_CORE + """
            SELECT doc_id, n_bigrams, ppl FROM ppl_t ORDER BY doc_id
        """,
        "perplexity_buckets_documents": _PPL_CORE + """
            , b AS (SELECT ppl, ntile(3) OVER (
                        ORDER BY ppl ASC, doc_id ASC) AS bucket
                    FROM ppl_t)
            SELECT bucket, count(*) AS cnt,
                   min(ppl) AS ppl_min, max(ppl) AS ppl_max
            FROM b GROUP BY bucket ORDER BY bucket
        """,
        "frequent_tokens_documents": """
            WITH tok AS (
                SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
                           AS token
                FROM documents),
            tot AS (SELECT count(*) AS total FROM tok),
            c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token)
            SELECT token, cnt FROM c, tot
            WHERE cnt >= CAST(ceil(0.005 * total) AS BIGINT)
            ORDER BY cnt DESC, token
        """,
        "bloom_decontaminate_documents": """
            SELECT doc_id, source FROM documents
            WHERE doc_id NOT IN (
                SELECT DISTINCT ((user_id % 700) + 700) % 700
                FROM events WHERE user_id IS NOT NULL)
            ORDER BY doc_id
        """,
        "stream_keep_latest_events": """
            WITH e AS (
                SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
                FROM events
                WHERE ts IS NOT NULL AND user_id IS NOT NULL),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY user_id
                      ORDER BY ts_us DESC, event_id DESC) AS rk
                  FROM e)
            SELECT user_id, ts_us, event_id, value
            FROM r WHERE rk = 1 ORDER BY user_id
        """,
        "pmi_collocations_documents": """
            WITH toks AS (
                SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
                FROM documents),
            big AS (
                SELECT unnest([{'w1': t[i], 'w2': t[i + 1]}
                               FOR i IN range(1, len(t))]) AS p
                FROM toks WHERE len(t) >= 2),
            bigf AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM big),
            c12 AS (SELECT w1, w2, count(*) AS n12 FROM bigf
                    GROUP BY w1, w2 HAVING count(*) >= 5),
            c1 AS (SELECT w1, count(*) AS n1 FROM bigf GROUP BY w1),
            c2 AS (SELECT w2, count(*) AS n2 FROM bigf GROUP BY w2),
            tot AS (SELECT count(*) AS nn FROM bigf),
            s AS (SELECT w1, w2, n12,
                         CAST(round(ln((CAST(n12 AS DOUBLE) * nn)
                                       / (CAST(n1 AS DOUBLE) * n2)) * 1e6)
                              AS BIGINT) AS pmi6
                  FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2), tot),
            r AS (SELECT *, CAST(row_number() OVER (
                      ORDER BY pmi6 DESC, w1 ASC, w2 ASC) AS INT) AS rank
                  FROM s)
            SELECT w1, w2, n12, CAST(pmi6 AS DOUBLE) / 1e6 AS pmi, rank
            FROM r WHERE rank <= 50 ORDER BY rank
        """,
        "fuzzy_join_suppliers": """
            SELECT a.s_suppkey AS id1, b.s_suppkey AS id2,
                   a.s_name AS s1, b.s_name AS s2,
                   CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
            FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
            WHERE levenshtein(a.s_name, b.s_name) <= 1
            ORDER BY id1, id2
        """,
        "order_arrays_by_customer": """
            SELECT o_custkey,
                   array_to_string(list_sort(array_agg(o_orderkey)), ',')
                       AS order_keys,
                   count(*) AS cnt
            FROM orders WHERE o_custkey < 200
            GROUP BY o_custkey ORDER BY o_custkey
        """,
        "resample_ffill_events": """
            WITH ep AS (
                SELECT event_type AS grp,
                       (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600
                           AS bucket,
                       value AS v
                FROM events
                WHERE ts IS NOT NULL AND event_type IS NOT NULL),
            obs AS (SELECT grp, bucket, count(*) AS cnt, max(v) AS vmax
                    FROM ep GROUP BY grp, bucket),
            rng AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM ep),
            spine AS (
                SELECT grp, unnest(generate_series(lo, hi, 3600)) AS bucket
                FROM (SELECT DISTINCT grp FROM ep), rng),
            j AS (SELECT s.grp, s.bucket,
                         coalesce(o.cnt, 0) AS cnt, o.vmax
                  FROM spine s LEFT JOIN obs o
                       ON s.grp = o.grp AND s.bucket = o.bucket),
            seg AS (SELECT *, count(vmax) OVER (
                        PARTITION BY grp ORDER BY bucket) AS sg
                    FROM j)
            SELECT grp, bucket, cnt, vmax,
                   max(vmax) OVER (PARTITION BY grp, sg) AS filled
            FROM seg ORDER BY grp, bucket
        """,
        "group_zscore_events": """
            WITH stats AS (
                SELECT event_type,
                       count(*) AS n,
                       sum(CAST(value AS DECIMAL(28,10))) AS s1,
                       sum(CAST(value * value AS DECIMAL(28,10))) AS s2
                FROM events WHERE value IS NOT NULL
                GROUP BY event_type)
            SELECT e.event_id, e.event_type, e.value,
                   CASE WHEN s.n > 1 AND e.value IS NOT NULL
                             AND sqrt(greatest(
                                 (CAST(s.s2 AS DOUBLE)
                                  - CAST(s.s1 AS DOUBLE)
                                    * CAST(s.s1 AS DOUBLE) / s.n)
                                 / (s.n - 1.0), 0.0)) > 0
                        THEN round((e.value - CAST(s.s1 AS DOUBLE) / s.n)
                                   / sqrt(greatest(
                                       (CAST(s.s2 AS DOUBLE)
                                        - CAST(s.s1 AS DOUBLE)
                                          * CAST(s.s1 AS DOUBLE) / s.n)
                                       / (s.n - 1.0), 0.0)), 4)
                   END AS z
            FROM events e LEFT JOIN stats s
                 ON e.event_type = s.event_type
            ORDER BY e.event_id
        """,
        "json_extract_events": """
            WITH p AS (
                SELECT event_type,
                       CAST(json_extract_string(props, '$.k') AS INT) AS k
                FROM events)
            SELECT event_type, count(*) AS cnt, count(k) AS k_present,
                   CAST(sum(k) AS BIGINT) AS k_sum,
                   min(k) AS k_min, max(k) AS k_max
            FROM p GROUP BY event_type ORDER BY event_type
        """,
        "melt_part_attrs": """
            WITH wide AS (
                SELECT p_partkey, CAST(p_size AS DOUBLE) AS p_size,
                       p_retailprice
                FROM part WHERE p_partkey < 100)
            SELECT p_partkey, 'p_size' AS key, p_size AS val FROM wide
            UNION ALL
            SELECT p_partkey, 'p_retailprice' AS key, p_retailprice AS val
            FROM wide
            ORDER BY p_partkey, key
        """,
        "full_outer_monthly_counts": """
            WITH om AS (SELECT strftime(o_orderdate, '%Y-%m') AS ym,
                               count(*) AS cnt_orders
                        FROM orders GROUP BY 1),
            em AS (SELECT strftime(ts, '%Y-%m') AS ym,
                          count(*) AS cnt_events
                   FROM events WHERE ts IS NOT NULL GROUP BY 1)
            SELECT coalesce(om.ym, em.ym) AS ym,
                   coalesce(cnt_orders, 0) AS cnt_orders,
                   coalesce(cnt_events, 0) AS cnt_events
            FROM om FULL OUTER JOIN em ON om.ym = em.ym
            ORDER BY ym
        """,
        "bucketed_join_orders": """
            SELECT c_mktsegment, count(*) AS cnt,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                              AS DOUBLE), 4) AS sum_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "stratified_sample_orders": """
            WITH h AS (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                       (((o_orderkey % 2147483648 + 2147483648) % 2147483648)
                        * 1103515245 + 12345) % 2147483648 AS hb
                FROM orders),
            r AS (SELECT *, row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY hb, o_orderkey) AS rk
                  FROM h)
            SELECT o_orderpriority, o_orderkey, o_totalprice
            FROM r WHERE rk <= 5
            ORDER BY o_orderpriority, o_orderkey
        """,
        "quality_score_documents": f"""
            WITH base AS (
                SELECT doc_id, text,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                       END AS n_tok,
                       len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                       t -> list_contains({_EN_MARKERS_SQL}, t)))
                           AS hits,
                       len(string_split_regex(trim(lower(text)), '\\s+')) AS n_low,
                       length(text) AS n_char,
                       length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                           AS n_punct
                FROM documents)
            SELECT doc_id,
                   (least(n_tok * 80, 4000)
                    + CASE WHEN n_low > 0
                           THEN least(CAST(floor(hits * 15000 / n_low) AS BIGINT), 3000)
                           ELSE 0 END
                    + CASE WHEN n_char > 0
                           THEN 3000 - CAST(floor(n_punct * 3000 / n_char) AS BIGINT)
                           ELSE 3000 END) / 10000.0 AS quality
            FROM base
        """,
        "decontaminate_documents": """
            WITH grams AS (
                SELECT doc_id,
                       list_distinct([array_to_string(toks[i:i+1], ' ')
                                      FOR i IN range(1, len(toks))]) AS g
                FROM (SELECT doc_id,
                             string_split_regex(trim(text), '\\s+') AS toks
                      FROM documents)),
            bgrams AS (
                SELECT DISTINCT unnest(g) AS gram
                FROM grams WHERE doc_id % 50 = 0),
            tg AS (
                SELECT doc_id, unnest(g) AS gram
                FROM grams WHERE doc_id % 50 <> 0)
            SELECT tg.doc_id,
                   CAST(count(DISTINCT tg.gram) AS BIGINT) AS shared_ngrams
            FROM tg JOIN bgrams USING (gram)
            GROUP BY tg.doc_id
            HAVING count(DISTINCT tg.gram) >= 2
            ORDER BY doc_id
        """,
        "normalize_unicode_documents": """
            SELECT doc_id,
                   nfc_normalize(
                       text || ' cafe' || chr(769) || ' ' || chr(64257) || 'le'
                   ) AS text_nfc
            FROM documents
            ORDER BY doc_id
        """,
        "keep_latest_events": """
            SELECT user_id, event_type, event_id
            FROM (
                SELECT user_id, event_type, event_id,
                       row_number() OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC
                       ) AS rn
                FROM events
            )
            WHERE rn = 1
            ORDER BY user_id, event_type
        """,
        "tfidf_top_terms_documents": """
            WITH tok AS (
                SELECT doc_id,
                       unnest(string_split_regex(trim(lower(text)), '\\s+'))
                           AS token
                FROM documents
            ),
            tf AS (
                SELECT doc_id, token, count(*) AS tf
                FROM tok GROUP BY 1, 2
            ),
            dfreq AS (
                SELECT token, count(DISTINCT doc_id) AS df_t
                FROM tf GROUP BY 1
            ),
            n AS (SELECT count(*) AS n FROM documents),
            scored AS (
                SELECT doc_id, token,
                       round(tf * ln(CAST(n.n AS DOUBLE) / df_t), 4) AS score
                FROM tf JOIN dfreq USING (token) CROSS JOIN n
            ),
            ranked AS (
                SELECT doc_id, token, score,
                       CAST(row_number() OVER (
                           PARTITION BY doc_id
                           ORDER BY score DESC, token ASC
                       ) AS INT) AS rank
                FROM scored
            )
            SELECT doc_id, token, score, rank
            FROM ranked WHERE rank <= 3
            ORDER BY doc_id, rank
        """,
        "chunk_documents": """
            WITH tl AS (
                SELECT doc_id,
                       string_split_regex(trim(text), '\\s+') AS toks
                FROM documents
            ),
            ix AS (
                SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks), 24)) AS start1
                FROM tl
            )
            SELECT doc_id,
                   CAST((start1 - 1) / 24 AS INT) AS chunk_id,
                   array_to_string(toks[start1:start1+31], ' ') AS chunk_text,
                   CAST(least(32, len(toks) - start1 + 1) AS INT) AS n_tokens
            FROM ix
        """,
        "substring_dup_spans_documents": """
            WITH tl AS (
                SELECT doc_id,
                       string_split_regex(trim(text), '\\s+') AS toks
                FROM documents
                WHERE len(string_split_regex(trim(text), '\\s+')) >= 8
            ),
            ix AS (
                SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 7)) AS i
                FROM tl
            ),
            g AS (
                SELECT doc_id, i - 1 AS pos,
                       array_to_string(toks[i:i+7], ' ') AS gram
                FROM ix
            ),
            dup AS (
                SELECT gram FROM g
                GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
            ),
            f AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
            isl AS (
                SELECT doc_id, pos,
                       pos - row_number() OVER (
                           PARTITION BY doc_id ORDER BY pos) AS grp
                FROM f
            )
            SELECT doc_id,
                   CAST(min(pos) AS INT) AS span_start,
                   CAST(max(pos) - min(pos) + 8 AS INT) AS span_len
            FROM isl
            GROUP BY doc_id, grp
            ORDER BY doc_id, span_start
        """,
        "sq8_encode_embeddings": """
            WITH u AS (
                SELECT vec_id,
                       generate_subscripts(embedding, 1) AS d,
                       CAST(unnest(embedding) AS DOUBLE) AS x
                FROM embeddings),
            mm AS (
                SELECT d, min(x) AS lo, max(x) - min(x) AS r
                FROM u GROUP BY d),
            c AS (
                SELECT vec_id, d,
                       CASE WHEN r = 0 THEN 0
                            ELSE least(255, greatest(0,
                                 CAST(round((x - lo) * 255.0 / r)
                                      AS INT))) END AS code
                FROM u JOIN mm USING (d))
            SELECT vec_id,
                   array_to_string(list(code ORDER BY d), ',') AS sq8_code
            FROM c GROUP BY vec_id ORDER BY vec_id
        """,
        "sq8_recall_vs_exact": """
            -- planted-twin contract: the twin reconstructs to within
            -- ~(range/255)^2 per dim (~1e-5 squared error on unit
            -- vectors) — negligible vs the >=0.45 cosine margin to
            -- any non-twin; top-3 slack on top — deterministic 100
            WITH q AS (SELECT DISTINCT vec_id FROM embeddings
                       WHERE vec_id < 50)
            SELECT count(*) AS n_queries,
                   count(*) AS n_found,
                   CAST(100 AS BIGINT) AS recall_x100
            FROM q
        """,
        "winsorize_events": """
            WITH e AS (
                SELECT event_id, event_type, value FROM events
                WHERE value IS NOT NULL AND event_type IS NOT NULL),
            b AS (
                SELECT event_type,
                       quantile_cont(value, 0.05) AS blo,
                       quantile_cont(value, 0.95) AS bhi
                FROM e GROUP BY event_type)
            SELECT e.event_id, e.event_type,
                   round(least(greatest(e.value, b.blo), b.bhi), 4)
                       AS value_w
            FROM e JOIN b USING (event_type)
            ORDER BY e.event_id
        """,
        "hash_split_events": """
            WITH h AS (
                SELECT ((event_id % 2147483648 + 2147483648) % 2147483648
                        * 1103515245 + 12345) % 2147483648 AS b
                FROM events),
            s AS (
                SELECT CASE
                         WHEN b < CAST(floor(0.8 * 2147483648)
                                       AS BIGINT)
                           THEN 'train'
                         WHEN b < CAST(floor(0.9000000000000001
                                             * 2147483648) AS BIGINT)
                           THEN 'val'
                         ELSE 'test' END AS split
                FROM h)
            SELECT split, count(*) AS cnt FROM s
            GROUP BY split ORDER BY split
        """,
        "inverted_index_documents": """
            WITH t AS (
                SELECT DISTINCT doc_id,
                       unnest(string_split_regex(trim(lower(text)),
                                                 '\\s+')) AS token
                FROM documents WHERE text IS NOT NULL)
            SELECT token, count(*) AS df,
                   array_to_string(
                       list_slice(list(doc_id ORDER BY doc_id), 1, 50),
                       ',') AS postings
            FROM t GROUP BY token
            HAVING count(*) >= 5
            ORDER BY token
        """,
        "bm25_rank_documents": """
            WITH d AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS t
                FROM documents WHERE text IS NOT NULL),
            dl_t AS (SELECT doc_id, len(t) AS dl, t FROM d),
            stats AS (
                SELECT count(*) AS n_docs,
                       CAST(sum(len(t)) AS BIGINT) AS sum_dl
                FROM d),
            tok AS (SELECT doc_id, dl, unnest(t) AS token FROM dl_t),
            tf AS (
                SELECT doc_id, dl, token, count(*) AS tf
                FROM tok WHERE token IN ('spark', 'join', 'window')
                GROUP BY doc_id, dl, token),
            dfq AS (SELECT token, count(*) AS dfreq FROM tf
                    GROUP BY token),
            c AS (
                SELECT tf.doc_id,
                       CAST(round(
                           (ln((CAST(n_docs AS DOUBLE)
                                - CAST(dfreq AS DOUBLE) + 0.5)
                               / (CAST(dfreq AS DOUBLE) + 0.5) + 1.0)
                            * (CAST(tf AS DOUBLE) * (1.2 + 1.0)))
                           / (CAST(tf AS DOUBLE)
                              + 1.2 * (1.0 - 0.75
                                       + 0.75 * CAST(dl AS DOUBLE)
                                         / (CAST(sum_dl AS DOUBLE)
                                            / CAST(n_docs AS DOUBLE))))
                           * 1000000.0) AS BIGINT) AS c6
                FROM tf JOIN dfq ON tf.token = dfq.token, stats)
            SELECT doc_id, count(*) AS terms_matched,
                   CAST(CAST(sum(c6) AS BIGINT) AS DOUBLE) / 1000000.0
                       AS score
            FROM c GROUP BY doc_id
            ORDER BY CAST(sum(c6) AS BIGINT) DESC, doc_id
            LIMIT 20
        """,
        "skew_profile_events": """
            WITH c AS (
                SELECT user_id, count(*) AS cnt
                FROM events GROUP BY user_id),
            r AS (
                SELECT *,
                       row_number() OVER (
                           ORDER BY cnt ASC, user_id ASC) AS i,
                       row_number() OVER (
                           ORDER BY cnt DESC, user_id ASC) AS j
                FROM c)
            SELECT count(*) AS n_keys,
                   CAST(sum(cnt) AS BIGINT) AS total_rows,
                   max(cnt) AS max_cnt,
                   CAST(sum(CASE WHEN j <= 5 THEN cnt ELSE 0 END)
                        AS BIGINT) AS top5_cnt,
                   CAST(round(
                       (2.0 * CAST(sum(i * cnt) AS DOUBLE)
                        / (CAST(count(*) AS DOUBLE)
                           * CAST(sum(cnt) AS DOUBLE))
                        - (CAST(count(*) AS DOUBLE) + 1.0)
                          / CAST(count(*) AS DOUBLE))
                       * 1000000.0) AS BIGINT) AS gini6
            FROM r
        """,
        "stream_click_attribution_events": """
            SELECT p.event_id AS purchase_id,
                   c.event_id AS click_id,
                   p.user_id
            FROM events p
            JOIN events c
              ON p.user_id = c.user_id
             AND c.ts >= p.ts - INTERVAL 30 MINUTES
             AND c.ts <= p.ts
            WHERE p.event_type = 'purchase' AND c.event_type = 'click'
            ORDER BY purchase_id, click_id
        """,
        "funnel_conversion_events": """
            WITH seq AS (
                SELECT user_id,
                       list(event_type ORDER BY epoch_us(ts), event_id)
                           AS arr
                FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL
                GROUP BY user_id),
            p1 AS (
                SELECT user_id, arr,
                       list_position(arr, 'signup') AS i1
                FROM seq),
            p2 AS (
                SELECT user_id, arr, i1,
                       CASE WHEN i1 > 0
                            THEN list_position(arr[i1 + 1:], 'click')
                            ELSE 0 END AS r2
                FROM p1),
            p3 AS (
                SELECT user_id, i1, r2,
                       CASE WHEN r2 > 0
                            THEN list_position(arr[i1 + r2 + 1:], 'purchase')
                            ELSE 0 END AS r3
                FROM p2)
            SELECT * FROM (
                SELECT 1 AS stage, 'signup' AS step,
                       count(CASE WHEN i1 > 0 THEN 1 END) AS entities
                FROM p3
                UNION ALL
                SELECT 2, 'click',
                       count(CASE WHEN r2 > 0 THEN 1 END) FROM p3
                UNION ALL
                SELECT 3, 'purchase',
                       count(CASE WHEN r3 > 0 THEN 1 END) FROM p3)
            ORDER BY stage
        """,
        "table_diff_events": """
            WITH l AS (
                SELECT event_id, user_id, event_type, value FROM events),
            r AS (
                SELECT event_id, user_id, event_type,
                       CASE WHEN event_type IS NOT DISTINCT FROM 'click'
                            THEN value + 1.0 ELSE value END AS value
                FROM events WHERE event_id >= 500
                UNION ALL
                SELECT event_id + 1000000, user_id, event_type, value
                FROM events WHERE event_id < 100),
            j AS (
                SELECT coalesce(l.event_id, r.event_id) AS event_id,
                       CASE WHEN l.event_id IS NULL THEN 'added'
                            WHEN r.event_id IS NULL THEN 'removed'
                            WHEN (l.user_id IS DISTINCT FROM r.user_id)
                              OR (l.event_type
                                  IS DISTINCT FROM r.event_type)
                              OR (l.value IS DISTINCT FROM r.value)
                            THEN 'changed' END AS status
                FROM l FULL OUTER JOIN r ON l.event_id = r.event_id)
            SELECT event_id, status FROM j
            WHERE status IS NOT NULL ORDER BY event_id
        """,
        "pagerank_lineitem_graph": """
            WITH pairs AS (
                SELECT DISTINCT 'O' || CAST(l_orderkey AS VARCHAR) AS a,
                                'S' || CAST(l_suppkey AS VARCHAR) AS b
                FROM lineitem),
            edges AS (
                SELECT a AS src, b AS dst FROM pairs
                UNION ALL
                SELECT b AS src, a AS dst FROM pairs),
            nodes AS (
                SELECT DISTINCT src AS node FROM edges
                UNION
                SELECT DISTINCT dst AS node FROM edges),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
            c1 AS (SELECT e.dst AS node, CAST(sum(r.pr // d.outdeg) AS BIGINT) AS s
                   FROM edges e JOIN r0 r ON e.src = r.node
                   JOIN deg d ON e.src = d.src GROUP BY e.dst),
            r1 AS (SELECT n.node,
                          150000 + (850000 * coalesce(c.s, 0)) // 1000000
                              AS pr
                   FROM nodes n LEFT JOIN c1 c USING (node)),
            c2 AS (SELECT e.dst AS node, CAST(sum(r.pr // d.outdeg) AS BIGINT) AS s
                   FROM edges e JOIN r1 r ON e.src = r.node
                   JOIN deg d ON e.src = d.src GROUP BY e.dst),
            r2 AS (SELECT n.node,
                          150000 + (850000 * coalesce(c.s, 0)) // 1000000
                              AS pr
                   FROM nodes n LEFT JOIN c2 c USING (node)),
            c3 AS (SELECT e.dst AS node, CAST(sum(r.pr // d.outdeg) AS BIGINT) AS s
                   FROM edges e JOIN r2 r ON e.src = r.node
                   JOIN deg d ON e.src = d.src GROUP BY e.dst),
            r3 AS (SELECT n.node,
                          150000 + (850000 * coalesce(c.s, 0)) // 1000000
                              AS pr
                   FROM nodes n LEFT JOIN c3 c USING (node))
            SELECT node, pr FROM r3 ORDER BY pr DESC, node LIMIT 20
        """,
        "merge_upsert_events": """
            WITH t AS (
                SELECT event_id, user_id, event_type, value
                FROM events WHERE event_id < 8000),
            s AS (
                SELECT event_id, user_id, event_type,
                       value + 1000.0 AS value,
                       (event_type IS NOT DISTINCT FROM 'error') AS is_del
                FROM events WHERE event_id >= 6000),
            kept AS (
                SELECT t.* FROM t
                WHERE t.event_id NOT IN (SELECT event_id FROM s)),
            ins AS (
                SELECT event_id, user_id, event_type, value
                FROM s WHERE NOT is_del)
            SELECT * FROM kept
            UNION ALL SELECT * FROM ins
            ORDER BY event_id
        """,
        "scd2_user_events": """
            WITH e AS (
                SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
                FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL),
            lg AS (
                SELECT *, lag(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
                FROM e),
            fl AS (
                SELECT *, CASE WHEN prev IS NULL
                                 OR prev <> event_type
                               THEN 1 ELSE 0 END AS chg
                FROM lg),
            rn AS (
                SELECT *, sum(chg) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS UNBOUNDED PRECEDING) AS run_id
                FROM fl),
            runs AS (
                SELECT user_id, run_id,
                       min(event_type) AS event_type,
                       min(ts_us) AS valid_from_us,
                       count(*) AS n_events
                FROM rn GROUP BY user_id, run_id),
            fin AS (
                SELECT user_id, event_type, valid_from_us,
                       lead(valid_from_us) OVER (
                           PARTITION BY user_id
                           ORDER BY valid_from_us) AS valid_to_us,
                       n_events
                FROM runs)
            SELECT user_id, event_type, valid_from_us, valid_to_us,
                   (valid_to_us IS NULL) AS is_current, n_events
            FROM fin ORDER BY user_id, valid_from_us
        """,
        "line_dedup_documents": """
            WITH base AS (
                SELECT doc_id,
                       string_split_regex(trim(text), '\\s+') AS arr
                FROM documents WHERE text IS NOT NULL),
            expl AS (
                SELECT doc_id, arr, len(arr) AS n_tok,
                       unnest(range(CAST(ceil(len(arr) / 6.0) AS BIGINT)))
                           AS seg_idx
                FROM base),
            segs AS (
                SELECT doc_id, seg_idx,
                       CAST(ceil(n_tok / 6.0) AS BIGINT) AS segs_total,
                       array_to_string(
                           list_slice(arr, seg_idx * 6 + 1, seg_idx * 6 + 6),
                           ' ') AS seg
                FROM expl),
            kept AS (
                SELECT doc_id, seg_idx, seg, segs_total,
                       row_number() OVER (
                           PARTITION BY seg
                           ORDER BY doc_id, seg_idx) AS rn
                FROM segs)
            SELECT doc_id,
                   string_agg(seg, ' ' ORDER BY seg_idx) AS text,
                   count(*) AS segs_kept,
                   min(segs_total) AS segs_total
            FROM kept WHERE rn = 1
            GROUP BY doc_id ORDER BY doc_id
        """,
        "strip_dup_spans_documents": """
            -- apply step of substring dedup: same gram/island algebra
            -- as the detector (gram TEXT here vs 64-bit hash in Spark
            -- — equivalent modulo ~n²/2⁶⁵ collisions), then each
            -- non-owner doc drops its covered token positions and the
            -- text is rebuilt token-by-token (Spark's concat_ws over
            -- the filtered token array == string_agg ORDER BY pos)
            WITH tl AS (
                SELECT doc_id,
                       string_split_regex(trim(text), '\\s+') AS toks
                FROM documents
            ),
            g AS (
                SELECT doc_id, i - 1 AS pos,
                       array_to_string(toks[i:i+7], ' ') AS gram
                FROM (SELECT doc_id, toks,
                             unnest(generate_series(1, len(toks) - 7)) AS i
                      FROM tl WHERE len(toks) >= 8)
            ),
            owners AS (
                SELECT gram, min(doc_id) AS owner FROM g
                GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
            ),
            losers AS (
                SELECT g.doc_id, g.pos FROM g
                JOIN owners USING (gram) WHERE g.doc_id <> owner
            ),
            isl AS (
                SELECT doc_id, pos,
                       pos - row_number() OVER (
                           PARTITION BY doc_id ORDER BY pos) AS grp
                FROM losers
            ),
            spans AS (
                SELECT doc_id, min(pos) AS start,
                       max(pos) - min(pos) + 8 AS len
                FROM isl GROUP BY doc_id, grp
            ),
            cover AS (
                SELECT DISTINCT doc_id,
                       unnest(generate_series(start, start + len - 1)) AS i
                FROM spans
            ),
            tok AS (
                SELECT doc_id, i - 1 AS pos, toks[i] AS tok
                FROM (SELECT doc_id, toks,
                             unnest(generate_series(1, len(toks))) AS i
                      FROM tl)
            ),
            keptagg AS (
                SELECT t.doc_id,
                       string_agg(t.tok, ' ' ORDER BY t.pos) AS text_deduped,
                       count(*) AS n_kept
                FROM tok t LEFT JOIN cover c
                  ON t.doc_id = c.doc_id AND t.pos = c.i
                WHERE c.doc_id IS NULL
                GROUP BY t.doc_id
            )
            SELECT tl.doc_id,
                   coalesce(k.text_deduped, '') AS text_deduped,
                   CAST(len(tl.toks) - coalesce(k.n_kept, 0) AS INT)
                       AS n_tokens_removed
            FROM tl LEFT JOIN keptagg k USING (doc_id)
        """,
        "mixture_sample_documents": """
            SELECT doc_id, source FROM documents
            WHERE (((doc_id % 2147483648 + 2147483648) % 2147483648)
                   * 1103515245 + 12345) % 2147483648 <
                  CASE source
                       WHEN 'src0' THEN 2147483648
                       WHEN 'src1' THEN 1073741824
                       WHEN 'src2' THEN 536870912
                       WHEN 'src3' THEN 214748364
                       ELSE 0 END
            ORDER BY doc_id
        """,
        "pack_sequences_documents": """
            SELECT doc_id, source, n_tokens, token_offset,
                   CAST(floor(token_offset / 512.0) AS BIGINT) AS pack_id
            FROM (
                SELECT doc_id, source, n_tokens,
                       CAST(COALESCE(SUM(n_tokens) OVER (
                           PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS BIGINT)
                           AS token_offset
                FROM (
                    SELECT doc_id, source,
                           CASE WHEN trim(text) = '' THEN 0
                                ELSE len(string_split_regex(trim(text),
                                                            '\\s+'))
                           END AS n_tokens
                    FROM documents))
            ORDER BY doc_id
        """,
        "dedup_clusters_documents": """
            WITH RECURSIVE grams AS (
                SELECT doc_id,
                       list_distinct([array_to_string(toks[i:i+1], ' ')
                                      FOR i IN range(1, len(toks))]) AS g
                FROM (SELECT doc_id,
                             string_split_regex(trim(text), '\\s+') AS toks
                      FROM documents WHERE doc_id < 40)),
            pairs AS (
                SELECT a.doc_id AS id1, b.doc_id AS id2
                FROM grams a JOIN grams b ON a.doc_id < b.doc_id
                WHERE round(len(list_intersect(a.g, b.g)) * 1.0 /
                            len(list_distinct(a.g || b.g)), 4) >= 0.05),
            edges AS (
                SELECT id1 AS src, id2 AS dst FROM pairs
                UNION SELECT id2, id1 FROM pairs),
            reach(id, r) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.src, reach.r
                FROM edges e JOIN reach ON e.dst = reach.id)
            SELECT id, min(r) AS component
            FROM reach GROUP BY id ORDER BY id
        """,
        "lang_id_documents": _lang_id_oracle(),
        "rolling_fingerprint_documents": """
            SELECT doc_id,
                   list_reduce(
                       list_prepend(0, list_transform(
                           string_split_regex(trim(lower(text)), '\\s+'),
                           t -> CAST(concat('0x', substr(md5(t), 1, 14)) AS BIGINT))),
                       (acc, x) -> (acc * 31 + x % 1000000007) % 1000000007
                   ) AS rhash
            FROM documents
        """,
        "strip_html_documents": """
            SELECT doc_id,
                   trim(regexp_replace(
                       regexp_replace('<div><p>' || text || '</p></div>',
                                      '<[^>]+>', ' ', 'g'),
                       '\\s+', ' ', 'g')) AS text_clean
            FROM documents
        """,
        "similarity_histogram_pairs": """
            WITH sims AS (
                SELECT abs(list_dot_product(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[])) AS s
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
            SELECT bin, count(*) AS cnt
            FROM (SELECT least(CAST(floor(s * 20) AS INT), 19) AS bin FROM sims)
            GROUP BY bin ORDER BY bin
        """,
        "multimodal_metadata_documents": """
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS media_type,
                   octet_length(encode(text)) AS n_bytes,
                   md5(text) AS payload_md5
            FROM documents
        """,
        "preprocess_jobs_pipeline": """
            WITH jobs AS (
                SELECT
                    concat('Job ', source, ' #', CAST(doc_id % 50 AS VARCHAR)) AS jobTitle,
                    CASE WHEN doc_id % 7 = 0 THEN NULL
                         ELSE concat(source, ' Inc') END AS companyName,
                    md5(CAST(doc_id AS VARCHAR)) AS lid,
                    CASE WHEN doc_id % 17 = 0 THEN '<p>COMMON  DUPLICATE POSTING</p>'
                         ELSE concat('<div><p>', text, '</p></div>') END AS jobDescRaw,
                    CASE WHEN doc_id % 11 = 0 THEN NULL
                         WHEN doc_id % 3 = 0 THEN 'fully Remote'
                         ELSE CAST(10000 + doc_id % 89999 AS VARCHAR) END AS finalZipcode,
                    (['CA,', ' NY', 'tx ,', 'WA'])[CAST(doc_id % 4 AS INT) + 1] AS finalState,
                    concat('new ', lower(source), ' city') AS finalCity,
                    CASE WHEN doc_id % 97 = 0 THEN NULL
                         ELSE concat('2025-01-',
                                     lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0'),
                                     ' 00:00:00') END AS correctDate
                FROM documents),
            cleaned AS (
                SELECT *, trim(regexp_replace(
                           regexp_replace(jobDescRaw, '<[^>]+>', ' ', 'g'),
                           '\\s+', ' ', 'g')) AS jobDescClean
                FROM jobs),
            filled AS (
                SELECT jobTitle, coalesce(companyName, 'Unknown') AS companyName,
                       lid, coalesce(finalZipcode, 'Unknown') AS finalZipcode,
                       finalState, finalCity, correctDate, jobDescClean
                FROM cleaned WHERE correctDate IS NOT NULL),
            deduped AS (
                SELECT *, row_number() OVER
                    (PARTITION BY jobDescClean ORDER BY lid) AS rn
                FROM filled)
            SELECT jobTitle, companyName, lid,
                   regexp_replace(finalZipcode, '(?i)remote', 'REMOTE', 'g') AS finalZipcode,
                   trim(regexp_replace(finalState, '\\s*,\\s*$', '', 'g')) AS finalState,
                   array_to_string(list_transform(string_split(trim(finalCity), ' '),
                       w -> concat(upper(substr(w, 1, 1)), lower(substr(w, 2)))), ' ')
                       AS finalCity,
                   correctDate,
                   trim(regexp_replace(lower(jobDescClean), '\\s+', ' ', 'g')) AS jobDescClean
            FROM deduped WHERE rn = 1
        """,
        "null_fill_drop_events": """
            SELECT event_id, user_id, event_type, value,
                   coalesce(props, 'missing') AS props
            FROM events WHERE value IS NOT NULL
        """,
        "scalar_functions_part": """
            SELECT p_partkey,
                   array_to_string(list_transform(string_split(trim(p_name), ' '),
                       w -> concat(upper(substr(w, 1, 1)), lower(substr(w, 2)))), ' ')
                       AS name_title,
                   length(p_name) AS name_len,
                   least(p_name, p_type) AS pair_lo,
                   greatest(p_name, p_type) AS pair_hi,
                   least(greatest(p_retailprice / 1000.0, 0.5), 1.5) AS price_clipped
            FROM part
        """,
        "point_lookup_documents": """
            SELECT doc_id, source, n_chars FROM documents
            WHERE doc_id IN (0, 1, 42, 100) ORDER BY doc_id
        """,
        "parse_dates_documents": """
            SELECT doc_id,
                   try_cast(
                       CASE WHEN doc_id % 13 = 0 THEN 'not-a-date'
                            ELSE concat('2025-',
                                        lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0'),
                                        '-',
                                        lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0'),
                                        ' 12:30:00') END
                       AS TIMESTAMP) AS parsed_ts
            FROM documents
        """,
        "asof_join_events": """
            WITH clicks AS (
                SELECT user_id, ts, event_id AS click_event_id,
                       row_number() OVER (PARTITION BY user_id, ts
                                          ORDER BY event_id DESC) AS rn
                FROM events WHERE event_type = 'click')
            SELECT e.event_id, e.user_id, e.event_type,
                   c.click_event_id AS click_event_id_asof
            FROM events e
            ASOF LEFT JOIN (SELECT user_id, ts, click_event_id
                            FROM clicks WHERE rn = 1) c
            ON e.user_id = c.user_id AND e.ts >= c.ts
        """,
        "interval_join_events": """
            WITH flagged AS (
                SELECT user_id, epoch_us(ts) AS us,
                       CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                    > 30 * 60 * 1000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts))
            , sessed AS (
                SELECT user_id, us,
                       sum(new_sess) OVER
                           (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sess_idx
                FROM flagged)
            , sessions AS (
                SELECT user_id, min(us) AS session_start_us,
                       max(us) AS session_end_us, count(*) AS n_events
                FROM sessed GROUP BY user_id, sess_idx)
            SELECT s.user_id, s.session_start_us,
                   CAST(s.n_events AS BIGINT) AS n_events,
                   count(*) AS contained_events
            FROM events e JOIN sessions s
              ON e.user_id = s.user_id
             AND epoch_us(e.ts) BETWEEN s.session_start_us AND s.session_end_us
            GROUP BY s.user_id, s.session_start_us, s.n_events
            ORDER BY s.user_id, s.session_start_us
        """,
        "sessionize_events": """
            WITH flagged AS (
                SELECT user_id, epoch_us(ts) AS us,
                       CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                    > 30 * 60 * 1000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts))
            , sessed AS (
                SELECT user_id, us,
                       sum(new_sess) OVER
                           (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sess_idx
                FROM flagged)
            SELECT user_id, min(us) AS session_start_us,
                   max(us) AS session_end_us, count(*) AS n_events
            FROM sessed GROUP BY user_id, sess_idx
        """,
        "stream_sessionize_events": """
            WITH flagged AS (
                SELECT user_id, epoch_us(ts) AS us,
                       CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                    > 30 * 60 * 1000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts))
            , sessed AS (
                SELECT user_id, us,
                       sum(new_sess) OVER
                           (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sess_idx
                FROM flagged)
            SELECT user_id, min(us) AS session_start_us,
                   max(us) AS session_end_us, count(*) AS n_events
            FROM sessed GROUP BY user_id, sess_idx
        """,
        "stream_windowed_counts": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS cnt,
                   ROUND(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "stream_event_counts": """
            SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
        """,
        "stream_dedup_keys": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
                   ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_base_price,
                   ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                                  (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                              AS DOUBLE), 4) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   ROUND(CAST(rev AS DOUBLE), 4) AS revenue
            FROM (SELECT l_orderkey, o_orderdate, o_orderpriority,
                         sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                             (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                             AS rev
                  FROM customer
                  JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
                  WHERE c_mktsegment = 'BUILDING'
                    AND o_orderdate < TIMESTAMP '1997-06-30'
                    AND l_shipdate > TIMESTAMP '1997-06-30'
                  GROUP BY l_orderkey, o_orderdate, o_orderpriority
                  ORDER BY rev DESC, o_orderdate ASC, l_orderkey ASC
                  LIMIT 10)
        """,
        "curate_corpus_documents": _curation_oracle(),
        "curation_funnel_documents": _curation_oracle(funnel=True),
        "q10_returned_items": """
            SELECT c_custkey, c_name, n_name,
                   ROUND(CAST(rev AS DOUBLE), 4) AS revenue
            FROM (SELECT c_custkey, c_name, n_name,
                         sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                             (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                             AS rev
                  FROM customer
                  JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
                  WHERE o_orderdate >= TIMESTAMP '1996-10-01'
                    AND o_orderdate < TIMESTAMP '1997-01-01'
                    AND l_returnflag = 'R'
                  GROUP BY c_custkey, c_name, n_name
                  ORDER BY rev DESC, c_custkey ASC
                  LIMIT 20)
        """,
        "q14_promo_revenue": """
            SELECT ROUND(CAST(sp AS DOUBLE) * 100.0 / CAST(st AS DOUBLE), 4)
                       AS promo_revenue_pct,
                   line_cnt
            FROM (SELECT sum(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN CAST(l_extendedprice AS DECIMAL(18,4)) *
                                       (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                             END) AS sp,
                         sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                             (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                             AS st,
                         count(*) AS line_cnt
                  FROM lineitem JOIN part ON l_partkey = p_partkey
                  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
                    AND l_shipdate < TIMESTAMP '1997-04-01')
        """,
        "q19_disjunctive_revenue": """
            SELECT ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                                  (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                              AS DOUBLE), 4) AS revenue,
                   count(*) AS line_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "q7_volume_shipping": """
            SELECT supp_nation, cust_nation, l_year,
                   ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                                  (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                              AS DOUBLE), 4) AS revenue
            FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                         year(l_shipdate) AS l_year, l_extendedprice, l_discount
                  FROM lineitem
                  JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation n1 ON s_nationkey = n1.n_nationkey
                  JOIN nation n2 ON c_nationkey = n2.n_nationkey
                  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                    AND l_shipdate < TIMESTAMP '1998-01-01'
                    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """,
        "q8_market_share": """
            SELECT o_year,
                   ROUND(COALESCE(CAST(num AS DOUBLE), 0) / CAST(den AS DOUBLE), 6)
                       AS mkt_share
            FROM (SELECT year(o_orderdate) AS o_year,
                         sum(CASE WHEN sn = 'NATION_3'
                                  THEN CAST(l_extendedprice AS DECIMAL(18,4)) *
                                       (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                             END) AS num,
                         sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                             (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                             AS den
                  FROM (SELECT o_orderdate, l_extendedprice, l_discount,
                               n1.n_name AS sn
                        FROM lineitem
                        JOIN part ON l_partkey = p_partkey
                        JOIN orders ON l_orderkey = o_orderkey
                        JOIN customer ON o_custkey = c_custkey
                        JOIN nation n2 ON c_nationkey = n2.n_nationkey
                        JOIN region ON n2.n_regionkey = r_regionkey
                        JOIN supplier ON l_suppkey = s_suppkey
                        JOIN nation n1 ON s_nationkey = n1.n_nationkey
                        WHERE p_type LIKE 'ECONOMY%'
                          AND r_name = 'ASIA'
                          AND o_orderdate >= TIMESTAMP '1996-01-01'
                          AND o_orderdate < TIMESTAMP '1998-01-01')
                  GROUP BY o_year)
            ORDER BY o_year
        """,
        "q9_product_profit": """
            SELECT nation, o_year,
                   ROUND(CAST(profit AS DOUBLE), 4) AS profit
            FROM (SELECT n_name AS nation, year(l_shipdate) AS o_year,
                         sum(CAST(l_extendedprice AS DECIMAL(14,4)) *
                             (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4)))
                             - CAST(l_quantity AS DECIMAL(9,4)) *
                               CAST(p_retailprice AS DECIMAL(14,4)) *
                               CAST(0.1 AS DECIMAL(2,1))) AS profit
                  FROM lineitem
                  JOIN part ON l_partkey = p_partkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation ON s_nationkey = n_nationkey
                  WHERE p_name LIKE '%widget%'
                  GROUP BY 1, 2)
            ORDER BY nation, o_year DESC
        """,
        "q11_important_parts": """
            SELECT l_partkey,
                   ROUND(CAST(val AS DOUBLE), 4) AS part_value
            FROM (SELECT l_partkey,
                         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
                                  (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                                  AS DECIMAL(28,4))) AS val
                  FROM lineitem GROUP BY l_partkey),
                 (SELECT sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) *
                                  (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                                  AS DECIMAL(28,4))) AS total
                  FROM lineitem)
            WHERE val * 4000 > total * 3
            ORDER BY part_value DESC, l_partkey
        """,
        "q15_top_supplier": """
            WITH per_supp AS (
                SELECT l_suppkey,
                       sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                           (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                           AS rev
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate < TIMESTAMP '1997-04-01'
                GROUP BY l_suppkey)
            SELECT s_suppkey, s_name,
                   ROUND(CAST(rev AS DOUBLE), 4) AS total_revenue
            FROM per_supp
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev = (SELECT max(rev) FROM per_supp)
            ORDER BY s_suppkey
        """,
        "q18_large_volume_customers": """
            SELECT c_custkey, c_name, o_orderkey, o_orderdate,
                   ROUND(CAST(o_totalprice AS DOUBLE), 4) AS totalprice,
                   ROUND(CAST(sum_qty AS DOUBLE), 4) AS sum_qty
            FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING sum(l_quantity) > 300)
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 50
        """,
        "q20_heavy_part_shippers": """
            SELECT s_suppkey, s_name, n_name AS nation,
                   ROUND(CAST(shipped_qty AS DOUBLE), 4) AS shipped_qty
            FROM (SELECT l_suppkey, sum(l_quantity) AS shipped_qty
                  FROM lineitem JOIN part ON l_partkey = p_partkey
                  WHERE p_type LIKE 'STANDARD%'
                    AND l_shipdate >= TIMESTAMP '1997-01-01'
                    AND l_shipdate < TIMESTAMP '1998-01-01'
                  GROUP BY l_suppkey
                  HAVING sum(l_quantity) > 350)
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            ORDER BY s_suppkey
        """,
        "q21_sole_late_shipper": """
            SELECT late_supp AS s_suppkey, s_name, numwait
            FROM (SELECT late_supp, count(*) AS numwait
                  FROM (SELECT l_orderkey,
                               count(DISTINCT l_suppkey) AS n_supp,
                               count(DISTINCT CASE WHEN l_shipdate >
                                       o_orderdate + INTERVAL 90 DAY
                                     THEN l_suppkey END) AS n_late,
                               max(CASE WHEN l_shipdate >
                                       o_orderdate + INTERVAL 90 DAY
                                   THEN l_suppkey END) AS late_supp
                        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                        GROUP BY l_orderkey)
                  WHERE n_supp >= 2 AND n_late = 1
                  GROUP BY late_supp)
            JOIN supplier ON late_supp = s_suppkey
            ORDER BY numwait DESC, s_suppkey
            LIMIT 20
        """,
        "q22_dormant_high_balance": """
            SELECT c_custkey % 7 AS cust_group,
                   count(*) AS numcust,
                   ROUND(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 4)
                       AS totacctbal
            FROM customer
            WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                                      / CAST(count(*) AS DOUBLE)
                               FROM customer WHERE c_acctbal > 0.0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '1998-01-01')
            GROUP BY cust_group
            ORDER BY cust_group
        """,
        "running_total_orders": """
            SELECT o_custkey, o_orderkey,
                   ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                              OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW)
                              AS DOUBLE), 4) AS running_total
            FROM orders
            WHERE o_custkey < 100
            ORDER BY o_custkey, o_orderkey
        """,
        "ntile_customer_quartiles": """
            SELECT c_mktsegment, quartile,
                   count(*) AS numcust,
                   ROUND(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 4)
                       AS sum_bal
            FROM (SELECT c_mktsegment, c_acctbal,
                         ntile(4) OVER (PARTITION BY c_mktsegment
                                        ORDER BY c_acctbal, c_custkey)
                             AS quartile
                  FROM customer)
            GROUP BY c_mktsegment, quartile
            ORDER BY c_mktsegment, quartile
        """,
        "order_rank_stats": """
            SELECT o_orderkey, o_orderpriority,
                   ROUND(percent_rank() OVER w, 6) AS pct_rank,
                   ROUND(cume_dist() OVER w, 6) AS cume_dist
            FROM orders
            WHERE o_custkey < 20
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
            ORDER BY o_orderpriority, o_orderkey
        """,
        "rolling_value_events": """
            SELECT event_id, user_id,
                   ROUND(CAST(sum(CAST(value AS DECIMAL(18,4)))
                              OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts)
                                    RANGE BETWEEN 518400000000 PRECEDING
                                              AND CURRENT ROW)
                              AS DOUBLE), 4) AS rolling_value
            FROM events
            WHERE user_id < 200
            ORDER BY event_id
        """,
        "quantile_profile_lineitem": """
            SELECT l_returnflag, count(l_extendedprice) AS cnt,
                   ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                   ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                   ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
                   ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
                   ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "quantile_disc_events": """
            SELECT event_type,
                   min(CASE WHEN cd >= 0.25 THEN value END) AS p25_disc,
                   min(CASE WHEN cd >= 0.5 THEN value END) AS p50_disc,
                   min(CASE WHEN cd >= 0.75 THEN value END) AS p75_disc,
                   min(CASE WHEN cd >= 0.9 THEN value END) AS p90_disc,
                   min(CASE WHEN cd >= 0.99 THEN value END) AS p99_disc
            FROM (SELECT event_type, value,
                         cume_dist() OVER (PARTITION BY event_type
                                           ORDER BY value) AS cd
                  FROM events)
            GROUP BY event_type
            ORDER BY event_type
        """,
        "q5_local_supplier_volume": """
            SELECT n_name AS nation,
                   ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                                  (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                              AS DOUBLE), 4) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
            ORDER BY revenue DESC, nation ASC
        """,
        "sql_interface_revenue": """
            SELECT c_mktsegment, count(*) AS order_cnt,
                   ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
                       AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        "event_user_set_ops": """
            SELECT user_id FROM (
                SELECT user_id FROM events
                WHERE event_type = 'click' AND value > 150.0
                INTERSECT
                SELECT user_id FROM events
                WHERE event_type = 'view' AND value > 150.0)
            EXCEPT
            SELECT user_id FROM events
            WHERE event_type = 'purchase' AND value > 150.0
            ORDER BY user_id
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN
                  (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
            ORDER BY c_custkey
        """,
        "rollup_orders_by_year_priority": """
            SELECT year(o_orderdate) AS order_year, o_orderpriority,
                   count(*) AS cnt,
                   ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_price
            FROM orders
            GROUP BY ROLLUP (1, 2)
            ORDER BY order_year ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """,
        "token_explode_documents": """
            SELECT doc_id,
                   CAST(pos - 1 AS INT) AS pos,
                   token
            FROM (SELECT doc_id,
                         unnest(string_split_regex(trim(text), '\\s+')) AS token,
                         generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
                  FROM documents WHERE doc_id < 10)
        """,
        "q16_distinct_suppliers": """
            SELECT l_returnflag, count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem
            WHERE l_partkey NOT IN
                  (SELECT p_partkey FROM part WHERE p_type LIKE 'STANDARD%')
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "q17_small_quantity_revenue": """
            SELECT ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4)
                       AS small_qty_revenue,
                   count(*) AS cnt
            FROM lineitem l1
            WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
                                FROM lineitem l2
                                WHERE l2.l_partkey = l1.l_partkey)
        """,
        "pii_scrub_documents": """
            WITH salted AS (
                SELECT doc_id,
                       concat('contact user', CAST(doc_id AS VARCHAR),
                              '@example.com or call 555-',
                              lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'),
                              '-',
                              lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                              ' ssn 123-45-',
                              lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                              ' :: ', text) AS text
                FROM documents)
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(text,
                               '\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}\\b',
                               '[EMAIL]', 'g'),
                           '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g'),
                       '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', '[PHONE]', 'g')
                       AS text_clean
            FROM salted
        """,
        "id_set_union_events": """
            SELECT DISTINCT user_id FROM events
            WHERE event_type IN ('click', 'purchase')
            ORDER BY user_id
        """,
        "vector_removal_embeddings": """
            SELECT vec_id FROM embeddings
            WHERE vec_id NOT IN (0, 1, 2, 17, 42)
            ORDER BY vec_id
        """,
        "salted_join_events": """
            SELECT e.event_id, e.user_id, e.event_type, d.user_event_cnt
            FROM events e
            JOIN (SELECT user_id, count(*) AS user_event_cnt
                  FROM events GROUP BY user_id) d
              ON e.user_id = d.user_id
        """,
        "q4_order_priority_check": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate < TIMESTAMP '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > TIMESTAMP '1997-01-15')
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "q12_shipmode_priority": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_linestatus
            ORDER BY l_linestatus
        """,
        "q2_min_cost_supplier": """
            SELECT p_partkey, p_type, l_suppkey,
                   ROUND(CAST(l_extendedprice AS DOUBLE), 4) AS min_price
            FROM lineitem l1 JOIN part ON l_partkey = p_partkey
            WHERE p_type LIKE 'ECONOMY%'
              AND l_extendedprice = (SELECT min(l_extendedprice)
                                     FROM lineitem l2
                                     WHERE l2.l_partkey = l1.l_partkey)
            ORDER BY p_partkey, l_suppkey
        """,
        "srp_recall_vs_exact": """
            -- one row derived from the EXACT side only: every query
            -- with >= 1 other vector has exactly one top-1 row, and the
            -- gate asserts SRP found all of them (recall 100)
            WITH q AS (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < 50)
            SELECT count(*) AS n_queries,
                   count(*) AS n_found,
                   CAST(100 AS BIGINT) AS recall_x100
            FROM q
        """,
        "ivf_recall_vs_exact": """
            -- planted-twin contract: the query IS a corpus vector, so
            -- its nearest coarse centroid is the twin's build bucket
            -- (identical arithmetic + stable tie-break both sides) and
            -- the exact-scored twin wins at cosine ~1.0 vs <=~0.55 —
            -- recall is deterministically 100, derivable from the
            -- exact side alone
            WITH q AS (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < 50)
            SELECT count(*) AS n_queries,
                   count(*) AS n_found,
                   CAST(100 AS BIGINT) AS recall_x100
            FROM q
        """,
        "pq_recall_vs_exact": """
            -- planted-twin ADC contract: the twin's asymmetric
            -- distance equals its own quantization error (~0.25 at
            -- m=8/bits=8 on 64-dim unit vectors) vs >=~0.9 for any
            -- other vector; top-3 slack on top — deterministic 100
            WITH q AS (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < 50)
            SELECT count(*) AS n_queries,
                   count(*) AS n_found,
                   CAST(100 AS BIGINT) AS recall_x100
            FROM q
        """,
        "ivfpq_recall_vs_exact": """
            -- planted-twin through BOTH approximations: coarse probe
            -- hits the twin's bucket by construction, residual ADC
            -- error << any cross-vector distance; top-3 slack
            WITH q AS (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < 50)
            SELECT count(*) AS n_queries,
                   count(*) AS n_found,
                   CAST(100 AS BIGINT) AS recall_x100
            FROM q
        """,
        "semantic_dedup_embeddings": """
            -- SemDeDup, deterministic-quantizer tier: stratum means
            -- in DECIMAL (order-independent), argmax-dot assignment
            -- (tie -> lowest cluster), within-cluster pairs >= 0.4,
            -- CC by reachability, keep = (component == own id)
            WITH RECURSIVE p AS (
                SELECT vec_id, ((vec_id % 8) + 8) % 8 AS lab, embedding
                FROM embeddings),
            posx AS (
                SELECT lab,
                       unnest(generate_series(1, len(embedding))) AS i,
                       embedding
                FROM p),
            a AS (
                SELECT lab, i - 1 AS pos,
                       sum(CAST(CAST(embedding[i] AS DOUBLE)
                                AS DECIMAL(27,10))) AS s,
                       count(*) AS n
                FROM posx GROUP BY lab, i),
            cent AS (
                SELECT lab,
                       list(round(CAST(s AS DOUBLE) / n, 6)
                            ORDER BY pos) AS cvec
                FROM a GROUP BY lab),
            sc AS (
                SELECT p.vec_id, c.lab,
                       list_dot_product(p.embedding::DOUBLE[], c.cvec)
                           AS score
                FROM p CROSS JOIN cent c),
            asg AS (
                SELECT vec_id, lab AS cluster
                FROM (SELECT vec_id, lab,
                             row_number() OVER
                                 (PARTITION BY vec_id
                                  ORDER BY score DESC, lab ASC) AS rk
                      FROM sc)
                WHERE rk = 1),
            v AS (
                SELECT a2.vec_id, a2.cluster, e.embedding
                FROM asg a2 JOIN embeddings e USING (vec_id)),
            prs AS (
                SELECT x.vec_id AS id1, y.vec_id AS id2
                FROM v x JOIN v y
                  ON x.cluster = y.cluster AND x.vec_id < y.vec_id
                WHERE list_dot_product(x.embedding::DOUBLE[],
                                       y.embedding::DOUBLE[]) >= 0.4),
            edges AS (
                SELECT id1 AS src, id2 AS dst FROM prs
                UNION SELECT id2, id1 FROM prs),
            reach(id, r) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.src, reach.r
                FROM edges e JOIN reach ON e.dst = reach.id),
            comp AS (SELECT id, min(r) AS component
                     FROM reach GROUP BY id)
            SELECT a3.vec_id, CAST(a3.cluster AS INT) AS cluster,
                   coalesce(c.component, a3.vec_id) AS component,
                   coalesce(c.component, a3.vec_id) = a3.vec_id AS keep
            FROM asg a3 LEFT JOIN comp c ON c.id = a3.vec_id
            ORDER BY a3.vec_id
        """,
        "q13_customer_distribution": """
            SELECT c_count, count(*) AS custdist
            FROM (SELECT c_custkey, count(o_orderkey) AS c_count
                  FROM customer LEFT OUTER JOIN orders
                    ON c_custkey = o_custkey
                  GROUP BY c_custkey)
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "q6_forecast_revenue": """
            SELECT ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                                  CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE), 4)
                       AS revenue,
                   count(*) AS cnt
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.02 AND l_discount <= 0.04
              AND l_quantity < 24
        """,
        "group_count_topn_orders": """
            SELECT o_orderpriority, count(*) AS cnt
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY cnt DESC, o_orderpriority ASC
            LIMIT 5
        """,
        "null_profile_events": """
            -- CAST sums to BIGINT: DuckDB sum(int) is HUGEINT, which
            -- renders as decimal128 through Arrow/pandas (driver-unsafe)
            WITH t AS (SELECT count(*) AS total,
                              CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_value,
                              CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_props,
                              CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_et
                       FROM events)
            SELECT 'value' AS column_name, n_value AS null_count,
                   round(n_value * 100.0 / total, 4) AS null_pct FROM t
            UNION ALL
            SELECT 'props', n_props, round(n_props * 100.0 / total, 4) FROM t
            UNION ALL
            SELECT 'event_type', n_et, round(n_et * 100.0 / total, 4) FROM t
        """,
        "distinct_counts_lineitem": """
            SELECT count(DISTINCT l_orderkey) AS l_orderkey_distinct,
                   count(DISTINCT l_partkey) AS l_partkey_distinct,
                   count(DISTINCT l_suppkey) AS l_suppkey_distinct,
                   count(*) AS row_count
            FROM lineitem
        """,
        "summary_stats_documents": """
            SELECT count(n_chars) AS cnt,
                   round(avg(n_chars), 4) AS mean,
                   min(n_chars) AS min,
                   quantile_cont(n_chars, 0.25) AS p25,
                   quantile_cont(n_chars, 0.5) AS p50,
                   quantile_cont(n_chars, 0.75) AS p75,
                   max(n_chars) AS max
            FROM documents
        """,
        "duplicate_count_events": """
            SELECT count(*) - count(DISTINCT (user_id, event_type)) AS duplicate_rows
            FROM events
        """,
        "dedup_keep_first_events": """
            SELECT event_id, user_id, event_type, value
            FROM (SELECT *, row_number() OVER
                      (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
                  FROM events)
            WHERE rn = 1
        """,
        "broadcast_lookup_customers": """
            SELECT r_name AS region_name, count(*) AS customer_cnt,
                   ROUND(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
            ORDER BY r_name
        """,
        "window_topk_orders": """
            SELECT o_custkey, o_orderkey,
                   ROUND(CAST(o_totalprice AS DOUBLE), 4) AS totalprice, rank
            FROM (SELECT *, row_number() OVER
                      (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
                  FROM orders)
            WHERE rank <= 2
        """,
        "neighbor_pivot_orders": """
            WITH ranked AS (
                SELECT o_custkey, o_orderkey, row_number() OVER
                    (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
                FROM orders)
            SELECT o_custkey,
                   max(CASE WHEN rank = 1 THEN o_orderkey END) AS "Neighbor_1_ID",
                   max(CASE WHEN rank = 2 THEN o_orderkey END) AS "Neighbor_2_ID",
                   max(CASE WHEN rank = 3 THEN o_orderkey END) AS "Neighbor_3_ID"
            FROM ranked WHERE rank <= 3
            GROUP BY o_custkey
        """,
        "sort_limit_orders": """
            SELECT o_orderkey, ROUND(CAST(o_totalprice AS DOUBLE), 4) AS totalprice
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 10
        """,
        "first_last_documents": """
            (SELECT doc_id, source, n_chars FROM documents ORDER BY doc_id ASC LIMIT 1)
            UNION ALL
            (SELECT doc_id, source, n_chars FROM documents ORDER BY doc_id DESC LIMIT 1)
        """,
        "string_clean_part": """
            SELECT p_partkey,
                   trim(regexp_replace(p_name, '\\s*,\\s*$', '', 'g')) AS name_nocomma,
                   regexp_replace(p_type, '(?i)remote', 'REMOTE', 'g') AS type_remote_norm,
                   trim(regexp_replace(lower(p_name), '\\s+', ' ', 'g')) AS name_clean
            FROM part
        """,
        "date_extract_orders": """
            SELECT year(o_orderdate) AS order_year, count(*) AS cnt,
                   ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_price
            FROM orders
            GROUP BY 1 ORDER BY 1
        """,
        "deterministic_sample_lineitem": """
            SELECT l_orderkey, l_linenumber, l_quantity
            FROM lineitem
            WHERE ((((l_orderkey * 1000000 + l_linenumber) % 2147483648
                     + 2147483648) % 2147483648)
                   * 1103515245 + 12345) % 2147483648
                  < CAST(0.02 * 2147483648 AS BIGINT)
        """,
        "knn_exact_top1": f"""
            SELECT query_id, neighbor_id, round(similarity, 4) AS similarity
            FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                         {_COS} AS similarity,
                         row_number() OVER
                             (PARTITION BY a.vec_id
                              ORDER BY {_COS} DESC, b.vec_id ASC) AS rn
                  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
            WHERE rn = 1
        """,
        "similarity_pairs_flagship": f"""
            SELECT id1, id2, similarity FROM (
                SELECT a.vec_id AS id1, b.vec_id AS id2,
                       round({_COS}, 4) AS similarity
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
            WHERE similarity >= 0.40
            ORDER BY similarity DESC, id1, id2
        """,
        "l2_cosine_conversion": """
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_dot,
                   round(least(greatest(
                       1.0 - (list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) ^ 2) / 2.0,
                       -1.0), 1.0), 4) AS cos_from_l2
            FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id
        """,
        "cosine_topk_search": f"""
            SELECT query_id, neighbor_id, round(similarity, 4) AS similarity,
                   rn AS rank
            FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                         {_COS} AS similarity,
                         row_number() OVER
                             (PARTITION BY a.vec_id
                              ORDER BY {_COS} DESC, b.vec_id ASC) AS rn
                  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
                  WHERE a.vec_id < 5)
            WHERE rn <= 3
        """,
        "shard_topk_search": f"""
            SELECT query_id, neighbor_id, round(similarity, 4) AS similarity,
                   rn AS rank
            FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                         {_COS} AS similarity,
                         row_number() OVER
                             (PARTITION BY a.vec_id
                              ORDER BY {_COS} DESC, b.vec_id ASC) AS rn
                  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
                  WHERE a.vec_id < 5)
            WHERE rn <= 3
        """,
        "embedding_norms": """
            SELECT vec_id,
                   round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS l2_norm,
                   round(sqrt(list_dot_product(
                       list_transform(embedding::DOUBLE[],
                           x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))),
                       list_transform(embedding::DOUBLE[],
                           x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))))), 4)
                       AS unit_norm
            FROM embeddings
        """,
        "token_count_documents": """
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE array_length(string_split_regex(trim(text), '\\s+'))
                   END AS n_tokens
            FROM documents
        """,
        "doc_fingerprint_documents": """
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "top_ngram_repetition_documents": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                FROM documents WHERE doc_id < 50),
            grams AS (
                SELECT doc_id,
                       unnest([array_to_string(t[i:i+1], ' ')
                               FOR i IN range(1, len(t))]) AS gram
                FROM toks),
            counts AS (
                SELECT doc_id, gram, count(*) AS cnt
                FROM grams GROUP BY doc_id, gram),
            agg AS (
                SELECT doc_id, sum(cnt) AS total, max(cnt) AS max_cnt
                FROM counts GROUP BY doc_id)
            SELECT a.doc_id,
                   min(c.gram) AS top_gram,
                   a.max_cnt AS top_cnt,
                   CAST(floor(a.max_cnt * 100 / a.total) AS BIGINT) AS top_gram_pct
            FROM agg a JOIN counts c
              ON a.doc_id = c.doc_id AND c.cnt = a.max_cnt
            GROUP BY a.doc_id, a.max_cnt, a.total
        """,
        "gopher_quality_documents": """
            WITH base AS (
                SELECT doc_id, text,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                       END AS n_words,
                       list_sum(list_transform(
                           string_split_regex(trim(text), '\\s+'),
                           t -> length(t))) AS total_chars,
                       length(text) - length(replace(text, '#', '')) AS n_hash,
                       len(string_split(text, '...')) - 1 AS n_ellipsis
                FROM documents),
            m AS (
                SELECT doc_id, n_words,
                       CASE WHEN n_words > 0
                            THEN CAST(floor(total_chars * 100 / n_words) AS BIGINT)
                            ELSE 0 END AS mean_word_len_x100,
                       CASE WHEN n_words > 0
                            THEN CAST(floor((n_hash + n_ellipsis) * 100 / n_words) AS BIGINT)
                            ELSE 0 END AS symbol_ratio_x100
                FROM base)
            SELECT doc_id, n_words, mean_word_len_x100, symbol_ratio_x100,
                   (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
                   (mean_word_len_x100 >= 300 AND mean_word_len_x100 <= 1000)
                       AS pass_mean_word_len,
                   (symbol_ratio_x100 <= 10) AS pass_symbol_ratio,
                   ((n_words >= 50 AND n_words <= 100000)
                    AND (mean_word_len_x100 >= 300 AND mean_word_len_x100 <= 1000)
                    AND (symbol_ratio_x100 <= 10)) AS keep
            FROM m
        """,
        "text_annotate_documents": f"""
            WITH toks AS (
                SELECT doc_id, text,
                       string_split_regex(trim(lower(text)), '\\s+') AS t
                FROM documents),
            langs AS ({_lang_id_oracle()})
            SELECT d.doc_id,
                   CASE WHEN trim(d.text) = '' THEN 0
                        ELSE len(string_split_regex(trim(d.text), '\\s+'))
                   END AS n_tokens,
                   len(list_filter(tk.t, x -> list_contains({_EN_MARKERS_SQL}, x)))
                       AS sw_hits,
                   length(d.text) - length(regexp_replace(d.text, '[^\\w\\s]', '', 'g'))
                       AS n_punct,
                   length(d.text) AS n_chars,
                   l.lang_pred,
                   md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')))
                       AS fingerprint
            FROM documents d
            JOIN toks tk ON d.doc_id = tk.doc_id
            JOIN langs l ON d.doc_id = l.doc_id
        """,
        "exact_dup_clusters_props": """
            SELECT md5(props) AS text_hash, count(*) AS cnt
            FROM events
            GROUP BY 1 HAVING count(*) > 1
            ORDER BY cnt DESC, text_hash ASC
        """,
        "ngram_jaccard_documents": """
            WITH grams AS (
                SELECT doc_id,
                       list_distinct([list_aggregate(toks[i:i+1], 'string_agg', ' ')
                                      FOR i IN range(1, len(toks))]) AS g
                FROM (SELECT doc_id,
                             string_split_regex(trim(text), '\\s+') AS toks
                      FROM documents WHERE doc_id < 40))
            SELECT a.doc_id AS id1, b.doc_id AS id2,
                   round(len(list_intersect(a.g, b.g)) * 1.0 /
                         len(list_distinct(a.g || b.g)), 4) AS jaccard
            FROM grams a JOIN grams b ON a.doc_id < b.doc_id
            WHERE round(len(list_intersect(a.g, b.g)) * 1.0 /
                        len(list_distinct(a.g || b.g)), 4) >= 0.05
            ORDER BY jaccard DESC, id1, id2
        """,
    }
    # the module-level oracles, minus the staged gates: those stay in
    # _PENDING_ORACLES only, so check_oracles --pending's merge-with-
    # override can never shadow registered SQL (VERDICT r10 item 3)
    out.update(
        (k, sql) for k, sql in _MODULE_ORACLES.items() if k not in _STAGED
    )
    # r7 cross-tier equivalence alias: the pandas-UDF BPE encoder is
    # graded by the SAME replace-chain replay as the expr-chain gate
    # (bpe_apply == bpe_encode_expr is the equivalence claim; both
    # produce (doc_id, n_bpe_tokens) from the 3 distributed merges).
    out["bpe_encode_udf_graded_documents"] = out["bpe_train_encode_documents"]
    # streaming fuzzy decontamination: bounded input + one-batch-per-
    # doc partitioning make the accumulated pairs equal the batch
    # operator exactly — same oracle
    out["stream_fuzzy_decontaminate_documents"] = out[
        "fuzzy_decontaminate_documents"
    ]
    return out


# Oracles that need _COS (defined above) — registered post-definition
# so the module-level _MODULE_ORACLES literal stays import-safe.
_MODULE_ORACLES.update({
    "ranking_metrics_embeddings": f"""
        WITH p AS (
            SELECT a.vec_id AS query, b.vec_id AS nb,
                   row_number() OVER
                       (PARTITION BY a.vec_id
                        ORDER BY {_COS} DESC, b.vec_id ASC) AS rn
            FROM embeddings a JOIN embeddings b
              ON a.vec_id <> b.vec_id
            WHERE a.vec_id < 50),
        r AS (
            SELECT query, rn,
                   CASE WHEN ((nb % 8) + 8) % 8
                             = ((query % 8) + 8) % 8
                        THEN 1 ELSE 0 END AS rel
            FROM p WHERE rn <= 10),
        per AS (
            SELECT query,
                   count(*) AS n_retrieved,
                   CAST(sum(rel) AS BIGINT) AS n_rel_at_k,
                   CAST(sum(rel) AS BIGINT) AS n_rel_total,
                   max(rel) AS hit_at_k,
                   max(CASE WHEN rel = 1
                            THEN CAST(round(1e6 / rn, 0) AS BIGINT)
                            ELSE 0 END) AS rr_ppm,
                   CAST(sum(CASE WHEN rel = 1
                            THEN CAST(round(1e6 / log2(rn + 1.0), 0)
                                 AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS dcg6
            FROM r GROUP BY query)
        SELECT query, n_retrieved, n_rel_at_k, n_rel_total,
               hit_at_k, rr_ppm, dcg6,
               (CASE least(n_rel_total, 10) WHEN 0 THEN 0 WHEN 1 THEN 1000000 WHEN 2 THEN 1630930 WHEN 3 THEN 2130930 WHEN 4 THEN 2561607 WHEN 5 THEN 2948460 WHEN 6 THEN 3304667 WHEN 7 THEN 3638000 WHEN 8 THEN 3953465 WHEN 9 THEN 4254495 WHEN 10 THEN 4543560 END) AS idcg6,
               CASE WHEN (CASE least(n_rel_total, 10) WHEN 0 THEN 0 WHEN 1 THEN 1000000 WHEN 2 THEN 1630930 WHEN 3 THEN 2130930 WHEN 4 THEN 2561607 WHEN 5 THEN 2948460 WHEN 6 THEN 3304667 WHEN 7 THEN 3638000 WHEN 8 THEN 3953465 WHEN 9 THEN 4254495 WHEN 10 THEN 4543560 END) > 0
                    THEN (1000000 * dcg6) // (CASE least(n_rel_total, 10) WHEN 0 THEN 0 WHEN 1 THEN 1000000 WHEN 2 THEN 1630930 WHEN 3 THEN 2130930 WHEN 4 THEN 2561607 WHEN 5 THEN 2948460 WHEN 6 THEN 3304667 WHEN 7 THEN 3638000 WHEN 8 THEN 3953465 WHEN 9 THEN 4254495 WHEN 10 THEN 4543560 END)
                    ELSE 0 END AS ndcg_ppm
        FROM per ORDER BY query
    """,
    "classification_report_embeddings": f"""
        WITH posx AS (
            SELECT label,
                   unnest(generate_series(1, len(embedding))) AS i,
                   embedding
            FROM embeddings),
        a AS (
            SELECT label, i - 1 AS pos,
                   sum(CAST(CAST(embedding[i] AS DOUBLE)
                            AS DECIMAL(27,10))) AS sm,
                   count(*) AS n
            FROM posx GROUP BY label, i),
        cent AS (
            SELECT label,
                   list(round(CAST(sm AS DOUBLE) / n, 6)
                        ORDER BY pos) AS cvec
            FROM a GROUP BY label),
        sc AS (
            SELECT e.vec_id, e.label, c.label AS clab,
                   list_dot_product(e.embedding::DOUBLE[], c.cvec)
                       AS score
            FROM embeddings e CROSS JOIN cent c),
        pred AS (
            SELECT CAST(label AS VARCHAR) AS label,
                   CAST(clab AS VARCHAR) AS pred_label
            FROM (SELECT vec_id, label, clab,
                         row_number() OVER
                             (PARTITION BY vec_id
                              ORDER BY score DESC, clab ASC) AS rk
                  FROM sc)
            WHERE rk = 1),
        bt AS (
            SELECT label AS class, count(*) AS support,
                   CAST(sum(CASE WHEN label = pred_label THEN 1
                            ELSE 0 END) AS BIGINT) AS tp_t
            FROM pred GROUP BY 1),
        bp AS (
            SELECT pred_label AS class, count(*) AS n_pred,
                   CAST(sum(CASE WHEN label = pred_label THEN 1
                            ELSE 0 END) AS BIGINT) AS tp_p
            FROM pred GROUP BY 1),
        j AS (
            SELECT coalesce(bt.class, bp.class) AS class,
                   coalesce(bt.support, 0) AS support,
                   coalesce(bt.tp_t, bp.tp_p, 0) AS tp,
                   coalesce(bp.n_pred, 0) - coalesce(bp.tp_p, 0)
                       AS fp,
                   coalesce(bt.support, 0) - coalesce(bt.tp_t, 0)
                       AS fn
            FROM bt FULL OUTER JOIN bp ON bt.class = bp.class)
        SELECT class, support, tp, fp, fn,
               CASE WHEN tp + fp > 0
                    THEN (1000000 * tp) // (tp + fp) ELSE 0 END
                   AS precision_ppm,
               CASE WHEN tp + fn > 0
                    THEN (1000000 * tp) // (tp + fn) ELSE 0 END
                   AS recall_ppm,
               CASE WHEN 2 * tp + fp + fn > 0
                    THEN (2 * 1000000 * tp) // (2 * tp + fp + fn)
                    ELSE 0 END AS f1_ppm
        FROM j ORDER BY class
    """,
    "label_propagation_parts": """
        WITH e AS (
            SELECT DISTINCT p_partkey // 5 AS src, p_partkey AS dst
            FROM part WHERE p_partkey // 5 <> p_partkey),
        sym AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM e
                UNION ALL SELECT dst, src FROM e)
            WHERE src <> dst),
        l0 AS (
            SELECT p_partkey AS id,
                   CAST(((p_partkey % 3) + 3) % 3 AS VARCHAR)
                       AS label,
                   0 AS hops
            FROM part WHERE p_partkey < 10),
        v1 AS (
            SELECT s.src AS nid, l.label, count(*) AS v
            FROM sym s JOIN l0 l ON s.dst = l.id
            GROUP BY s.src, l.label),
        p1 AS (
            SELECT nid AS id, label, 1 AS hops
            FROM (SELECT nid, label,
                         row_number() OVER
                             (PARTITION BY nid
                              ORDER BY v DESC, label ASC) AS rk
                  FROM v1)
            WHERE rk = 1),
        n1 AS (
            SELECT p1.* FROM p1
            WHERE NOT EXISTS (SELECT 1 FROM l0 x
                              WHERE x.id = p1.id)),
        l1 AS (
            SELECT * FROM l0
            UNION ALL SELECT * FROM n1),
        v2 AS (
            SELECT s.src AS nid, l.label, count(*) AS v
            FROM sym s JOIN l1 l ON s.dst = l.id
            GROUP BY s.src, l.label),
        p2 AS (
            SELECT nid AS id, label, 2 AS hops
            FROM (SELECT nid, label,
                         row_number() OVER
                             (PARTITION BY nid
                              ORDER BY v DESC, label ASC) AS rk
                  FROM v2)
            WHERE rk = 1),
        n2 AS (
            SELECT p2.* FROM p2
            WHERE NOT EXISTS (SELECT 1 FROM l1 x
                              WHERE x.id = p2.id)),
        l2 AS (
            SELECT * FROM l1
            UNION ALL SELECT * FROM n2)
        SELECT id, label, hops FROM l2 ORDER BY id
    """,
    "feature_hash_events": """
        WITH b AS (
            SELECT event_id, event_type,
                   CAST(((user_id % 50) + 50) % 50 AS VARCHAR) AS ub
            FROM events)
        SELECT event_id,
               array_to_string(
               list_transform(generate_series(0, 31), i ->
                   CAST(
                     (CASE WHEN event_type IS NOT NULL
                           AND CAST(concat('0x',
                                 substr(md5('event_type='
                                            || event_type), 1, 14))
                               AS BIGINT) % 32 = i
                           THEN 1 ELSE 0 END)
                   + (CASE WHEN ub IS NOT NULL
                           AND CAST(concat('0x',
                                 substr(md5('user_bucket=' || ub),
                                        1, 14))
                               AS BIGINT) % 32 = i
                           THEN 1 ELSE 0 END) AS INT)), ',') AS fvec
        FROM b ORDER BY event_id
    """,
    "seasonality_events": """
        WITH base AS (
            SELECT ((datediff('day', DATE '1970-01-01',
                              CAST(ts AS DATE)) + 3) % 7 + 7) % 7 + 1
                       AS dow,
                   CAST(round(CAST(value AS DOUBLE) * 100, 0)
                        AS BIGINT) AS cents
            FROM events WHERE ts IS NOT NULL),
        per AS (
            SELECT dow, count(*) AS n_events,
                   CAST(sum(cents) AS BIGINT) AS total_cents
            FROM base GROUP BY dow),
        g AS (SELECT CAST(sum(total_cents) AS BIGINT) AS gt FROM per)
        SELECT dow, n_events, total_cents,
               (7 * 1000000 * total_cents) // g.gt AS index_ppm
        FROM per CROSS JOIN g ORDER BY dow
    """,
    "stream_psi_drift_events": """
        WITH st AS (
            SELECT min(CAST(value AS DOUBLE)) AS mn,
                   (max(CAST(value AS DOUBLE))
                    - min(CAST(value AS DOUBLE))) / 10 AS width
            FROM events),
        rb AS (
            SELECT least(9, greatest(0,
                       CAST(floor((CAST(value AS DOUBLE) - st.mn)
                                  / st.width) AS INT))) AS bin,
                   count(*) AS cnt_ref
            FROM events CROSS JOIN st
            WHERE value IS NOT NULL GROUP BY 1),
        spine AS (
            SELECT CAST(unnest(generate_series(0, 9)) AS INT) AS bin),
        ref AS (
            SELECT s.bin, coalesce(rb.cnt_ref, 0) AS cnt_ref
            FROM spine s LEFT JOIN rb ON rb.bin = s.bin),
        nr AS (SELECT CAST(sum(cnt_ref) AS BIGINT) AS nr FROM ref),
        ev AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
                       AS window_start,
                   least(9, greatest(0,
                       CAST(floor((CAST(value AS DOUBLE) - st.mn)
                                  / st.width) AS INT))) AS bin
            FROM events CROSS JOIN st
            WHERE value IS NOT NULL AND ts IS NOT NULL),
        sn AS (
            SELECT window_start, bin, count(*) AS cnt_new
            FROM ev GROUP BY window_start, bin),
        wins AS (SELECT DISTINCT window_start FROM sn),
        cells AS (
            SELECT w.window_start, s.bin,
                   coalesce(sn.cnt_new, 0) AS cnt_new
            FROM wins w CROSS JOIN spine s
            LEFT JOIN sn ON sn.window_start = w.window_start
                        AND sn.bin = s.bin),
        tn AS (
            SELECT window_start,
                   CAST(sum(cnt_new) AS BIGINT) AS nn
            FROM cells GROUP BY window_start),
        terms AS (
            SELECT c.window_start, c.cnt_new,
                   CAST(round(
                       ((c.cnt_new + 0.5) / (tn.nn + 5.0)
                        - (r.cnt_ref + 0.5) / (nr.nr + 5.0))
                       * ln(((c.cnt_new + 0.5) / (tn.nn + 5.0))
                            / ((r.cnt_ref + 0.5) / (nr.nr + 5.0)))
                       * 1e6, 0) AS BIGINT) AS t6
            FROM cells c
            JOIN ref r ON r.bin = c.bin
            JOIN tn ON tn.window_start = c.window_start
            CROSS JOIN nr)
        SELECT window_start,
               CAST(sum(cnt_new) AS BIGINT) AS n_new,
               CAST(sum(t6) AS BIGINT) AS psi6
        FROM terms GROUP BY window_start ORDER BY window_start
    """,
    "sql_registered_udaf_events": """
        SELECT event_type, median(value) AS median_value
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "utf8_stats_documents": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes,
               CAST(length(text) AS INT) AS n_chars
        FROM documents WHERE text IS NOT NULL
        ORDER BY doc_id
    """,
    "dense_ids_orders": """
        SELECT o_orderkey, o_custkey,
               row_number() OVER (ORDER BY o_orderkey) - 1 AS row_id
        FROM orders ORDER BY o_orderkey
    """,
    "session_window_events": """
        -- native session_window semantics: new session when the gap
        -- is >= the 30-minute window (window-overlap rule), session
        -- end = last event + gap
        WITH flagged AS (
            SELECT user_id, epoch_us(ts) AS us,
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                >= 30 * 60 * 1000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sessed AS (
            SELECT user_id, us,
                   sum(new_sess) OVER
                       (PARTITION BY user_id ORDER BY us
                        ROWS UNBOUNDED PRECEDING) AS sess_idx
            FROM flagged)
        SELECT user_id,
               min(us) AS session_start_us,
               max(us) + 30 * 60 * 1000000 AS session_end_us,
               count(*) AS n_events
        FROM sessed GROUP BY user_id, sess_idx
        ORDER BY user_id, session_start_us
    """,
    "bitmap_distinct_events": """
        SELECT event_type,
               count(DISTINCT user_id) AS n_distinct_users
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "try_divide_lineitem": """
        SELECT l_orderkey, l_linenumber,
               CAST(floor(CAST(l_extendedprice AS DOUBLE)
                          / nullif(CAST(l_quantity AS DOUBLE) - 1.0,
                                   0.0)
                          * 1e4) AS BIGINT)
                   AS price_per_extra_unit_e4
        FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    "scd2_lookup_events": """
        WITH e AS (
            SELECT user_id, event_type, epoch_us(ts) AS ts_us,
                   event_id
            FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        lg AS (
            SELECT *, lag(event_type) OVER (
                PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
            FROM e),
        fl AS (
            SELECT *, CASE WHEN prev IS NULL OR prev <> event_type
                           THEN 1 ELSE 0 END AS chg
            FROM lg),
        rn AS (
            SELECT *, sum(chg) OVER (
                PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS UNBOUNDED PRECEDING) AS run_id
            FROM fl),
        runs AS (
            SELECT user_id, run_id, min(event_type) AS event_type,
                   min(ts_us) AS valid_from_us
            FROM rn GROUP BY user_id, run_id),
        f AS (
            SELECT event_id, user_id, epoch_us(ts) AS ts_us
            FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        SELECT f.event_id, f.user_id,
               d.event_type AS event_type_asof
        FROM f ASOF LEFT JOIN runs d
          ON f.user_id = d.user_id AND f.ts_us >= d.valid_from_us
        ORDER BY f.event_id
    """,
    "calendar_dimension": """
        WITH d AS (
            SELECT CAST(unnest(generate_series(DATE '1995-01-01',
                                DATE '1997-12-31',
                                INTERVAL 1 DAY)) AS DATE) AS date)
        SELECT date,
               year(date) AS year,
               quarter(date) AS quarter,
               month(date) AS month,
               day(date) AS day,
               CAST(((datediff('day', DATE '1970-01-01', date) + 3)
                     % 7 + 7) % 7 + 1 AS INT) AS iso_dow,
               ((datediff('day', DATE '1970-01-01', date) + 3)
                % 7 + 7) % 7 + 1 >= 6 AS is_weekend,
               strftime(date, '%Y-%m') AS year_month
        FROM d ORDER BY date
    """,
    "ks_drift_lineitem": """
        WITH u AS (
            SELECT CAST(l_extendedprice AS DOUBLE) AS x,
                   CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
                        THEN 1 ELSE 0 END AS r
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL
              AND l_shipdate IS NOT NULL),
        cum AS (
            SELECT CAST(sum(r) OVER w AS BIGINT) AS cr,
                   CAST(sum(1 - r) OVER w AS BIGINT) AS cn
            FROM u
            WINDOW w AS (ORDER BY x
                         RANGE BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)),
        t AS (
            SELECT CAST(sum(r) AS BIGINT) AS nr,
                   CAST(sum(1 - r) AS BIGINT) AS nn
            FROM u)
        SELECT t.nr AS n_ref, t.nn AS n_new,
               CAST((1000000 * max(abs(cr * t.nn - cn * t.nr)))
                    // (t.nr * t.nn) AS BIGINT) AS ks_ppm
        FROM cum CROSS JOIN t GROUP BY t.nr, t.nn
    """,
    "entropy_profile_events": """
        WITH c1 AS (
            SELECT CAST(event_type AS VARCHAR) AS v, count(*) AS c
            FROM events GROUP BY 1),
        t1 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c1),
        e1 AS (
            SELECT 'event_type' AS "column",
                   count(*) AS n_values,
                   CAST(sum(CAST(round(
                       -(c * 1.0 / t1.n) * ln(c * 1.0 / t1.n) * 1e6,
                       0) AS BIGINT)) AS BIGINT)
                       AS entropy_micro_nats
            FROM c1 CROSS JOIN t1 GROUP BY t1.n),
        c2 AS (
            SELECT CAST(user_id AS VARCHAR) AS v, count(*) AS c
            FROM events GROUP BY 1),
        t2 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c2),
        e2 AS (
            SELECT 'user_id', count(*),
                   CAST(sum(CAST(round(
                       -(c * 1.0 / t2.n) * ln(c * 1.0 / t2.n) * 1e6,
                       0) AS BIGINT)) AS BIGINT)
            FROM c2 CROSS JOIN t2 GROUP BY t2.n)
        SELECT * FROM e1 UNION ALL SELECT * FROM e2
        ORDER BY "column"
    """,
    "impute_group_mean_events": """
        WITH ev AS (
            SELECT event_id, event_type,
                   CASE WHEN event_id % 37 <> 0 THEN value END AS v
            FROM events),
        gm AS (
            SELECT event_type,
                   CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE)
                       / count(v) AS m
            FROM ev GROUP BY event_type),
        gg AS (
            SELECT CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE)
                       / count(v) AS m
            FROM ev)
        SELECT ev.event_id, ev.event_type,
               CAST(floor(coalesce(ev.v, gm.m, gg.m) * 1e6)
                    AS BIGINT) AS value_imputed_e6
        FROM ev
        LEFT JOIN gm ON gm.event_type = ev.event_type
        CROSS JOIN gg
        ORDER BY ev.event_id
    """,
    "one_hot_events": """
        SELECT event_id,
               array_to_string(
                   [CASE WHEN event_type = 'click' THEN 1 ELSE 0 END,
                    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END,
                    CASE WHEN event_type = 'purchase'
                         THEN 1 ELSE 0 END,
                    CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END,
                    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END],
                   ',') AS event_type_onehot
        FROM events ORDER BY event_id
    """,
    "kfold_assign_documents": """
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                                       'g'))) AS dup_group,
               CAST(CAST(concat('0x', substr(md5(
                        md5(trim(regexp_replace(lower(text), '\\s+',
                                                ' ', 'g')))), 1, 14))
                    AS BIGINT) % 5 AS INT) AS fold
        FROM documents ORDER BY doc_id
    """,
    "target_encode_events": """
        WITH cs AS (
            SELECT event_type,
                   CAST(sum(CAST(value AS DECIMAL(27,10))) AS DOUBLE)
                       AS s,
                   count(value) AS n
            FROM events GROUP BY event_type),
        g AS (
            SELECT CAST(sum(CAST(value AS DECIMAL(27,10))) AS DOUBLE)
                       / count(value) AS gm
            FROM events)
        SELECT e.event_id, e.event_type,
               CAST(floor(
                   CASE WHEN cs.s IS NOT NULL THEN
                       (cs.s - coalesce(e.value, 0.0) + 10.0 * g.gm)
                       / (cs.n - CASE WHEN e.value IS NOT NULL
                                      THEN 1 ELSE 0 END + 10.0)
                   ELSE g.gm END * 1e6) AS BIGINT)
                   AS event_type_te_e6
        FROM events e
        LEFT JOIN cs ON cs.event_type = e.event_type
        CROSS JOIN g
        ORDER BY e.event_id
    """,
    "bow_counts_documents": """
        WITH t AS (
            SELECT doc_id,
                   coalesce(list_filter(
                       string_split_regex(trim(lower(text)), '\\s+'),
                       x -> x <> ''), []) AS toks
            FROM documents)
        SELECT doc_id,
               array_to_string(
                   [len(list_filter(toks, x -> x = 'the')),
                    len(list_filter(toks, x -> x = 'a')),
                    len(list_filter(toks, x -> x = 'table')),
                    len(list_filter(toks, x -> x = 'value')),
                    len(list_filter(toks, x -> x = 'spark'))],
                   ',') AS bow
        FROM t ORDER BY doc_id
    """,
    "tree_rollup_parts": """
        WITH RECURSIVE e AS (
            SELECT DISTINCT p_partkey // 5 AS src, p_partkey AS dst
            FROM part WHERE p_partkey // 5 <> p_partkey),
        r(src, dst, depth) AS (
            SELECT src, dst, 1 FROM e
            UNION ALL
            SELECT r.src, e.dst, r.depth + 1
            FROM r JOIN e ON r.dst = e.src
            WHERE r.depth < 20 AND r.src <> e.dst),
        tc AS (SELECT DISTINCT src, dst FROM r),
        v AS (
            SELECT p_partkey AS dst,
                   CAST(floor(CAST(p_retailprice AS DOUBLE) * 100)
                        AS BIGINT) AS cents
            FROM part),
        d AS (
            SELECT tc.src AS node, count(*) AS n_desc,
                   CAST(sum(coalesce(v.cents, 0)) AS BIGINT) AS dc
            FROM tc LEFT JOIN v ON v.dst = tc.dst
            GROUP BY tc.src)
        SELECT d.node, d.n_desc,
               d.dc + coalesce(o.cents, 0) AS total_cents
        FROM d LEFT JOIN v o ON o.dst = d.node
        ORDER BY d.node
    """,
    "grouping_sets_orders": """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus, o_orderpriority)
                    AS BIGINT) AS gid,
               count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS total_cents
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                ())
        ORDER BY gid, o_orderstatus, o_orderpriority
    """,
    "shortest_paths_parts": """
        WITH RECURSIVE e AS (
            SELECT DISTINCT p_partkey // 5 AS src, p_partkey AS dst,
                   ((p_partkey % 7) + 7) % 7 + 1 AS w
            FROM part WHERE p_partkey // 5 <> p_partkey),
        r(id, dist, depth) AS (
            SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT), 0
            UNION ALL
            SELECT e.dst, r.dist + e.w, r.depth + 1
            FROM r JOIN e ON e.src = r.id
            WHERE r.depth < 8)
        SELECT id, CAST(min(dist) AS BIGINT) AS dist
        FROM r GROUP BY id ORDER BY id
    """,
    "zipf_slope_documents": """
        WITH tok AS (
            SELECT unnest(string_split_regex(trim(lower(text)),
                                             '\\s+')) AS token
            FROM documents WHERE text IS NOT NULL),
        c AS (
            SELECT token, count(*) AS cnt FROM tok
            WHERE token <> '' GROUP BY token),
        rk AS (
            SELECT ln(CAST(row_number() OVER
                        (ORDER BY cnt DESC, token ASC) AS DOUBLE))
                       AS x,
                   ln(CAST(cnt AS DOUBLE)) AS y
            FROM c),
        m AS (
            SELECT count(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                         THEN 1 END) AS n,
                   CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE)
                       AS sx,
                   CAST(sum(CAST(y AS DECIMAL(27,10))) AS DOUBLE)
                       AS sy,
                   CAST(sum(CAST(x * y AS DECIMAL(27,10))) AS DOUBLE)
                       AS sxy,
                   CAST(sum(CAST(x * x AS DECIMAL(27,10))) AS DOUBLE)
                       AS sxx
            FROM rk)
        SELECT 'corpus' AS "group", n,
               CASE WHEN n >= 2 AND
                         CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                    THEN round((CAST(n AS DOUBLE) * sxy - sx * sy)
                               / (CAST(n AS DOUBLE) * sxx - sx * sx),
                               6) END AS slope,
               CASE WHEN n >= 2 AND
                         CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                    THEN round((sy - (CAST(n AS DOUBLE) * sxy
                                      - sx * sy)
                                     / (CAST(n AS DOUBLE) * sxx
                                        - sx * sx) * sx)
                               / CAST(n AS DOUBLE), 6)
               END AS intercept
        FROM m
    """,
})


def _embed_twin_oracle(dim: int = 16, scale: int = 1000) -> str:
    """Generate the embed-twin SQL: exact md5 integer components,
    int64 norm², IEEE normalize, integer micros — mirrors
    `functions.embed.md5_twin_components` formula-for-formula (the
    coefficient-generator-shared-with-the-oracle pattern from the
    minhash/SRP twins)."""
    mod = 2 * scale + 1
    comp = (
        lambda j: "(CAST(concat('0x', substr(md5(text || ':" + str(j)
        + "'), 1, 14)) AS BIGINT) % " + str(mod) + " - " + str(scale)
        + ")"
    )
    comps = ", ".join(f"{comp(j)} AS c{j}" for j in range(dim))
    n2 = " + ".join(f"c{j} * c{j}" for j in range(dim))
    micros = ", ".join(
        f"CASE WHEN norm2 = 0 THEN '0' ELSE CAST(CAST(round("
        f"CAST(c{j} AS DOUBLE) / sqrt(CAST(norm2 AS DOUBLE)) "
        f"* 1000000.0, 0) AS BIGINT) AS VARCHAR) END"
        for j in range(dim)
    )
    return f"""
        WITH comps AS (
            SELECT doc_id, {comps}
            FROM documents WHERE text IS NOT NULL),
        n AS (SELECT *, CAST({n2} AS BIGINT) AS norm2 FROM comps)
        SELECT doc_id, norm2,
               concat_ws(',', {micros}) AS vec_micros
        FROM n ORDER BY doc_id
    """


_MODULE_ORACLES["embed_twin_documents"] = _embed_twin_oracle()


def _quality_twin_oracle(buckets: int = 32, scale: int = 1000) -> str:
    """Generate the quality-filter-twin SQL — mirrors
    `text_analysis.linear_classifier_twin` formula-for-formula:
    shifted non-negative milli-weights so the single integer division
    is over non-negatives (Spark ``div`` truncates toward zero,
    DuckDB ``//`` floors — they agree only there)."""
    mod = 2 * scale + 1
    w = (
        "(CAST(concat('0x', substr(md5('w:' || CAST("
        "CAST(concat('0x', substr(md5(t), 1, 14)) AS BIGINT) % "
        f"{buckets} AS VARCHAR)), 1, 14)) AS BIGINT) % {mod})"
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)),
                                                  '\\s+'),
                               x -> x <> '') AS tl
            FROM documents),
        s AS (
            SELECT doc_id, len(tl) AS n_tokens,
                   CAST(coalesce(list_sum(list_transform(tl,
                        t -> {w})), 0) AS BIGINT) AS sm
            FROM toks)
        SELECT doc_id, n_tokens,
               CASE WHEN n_tokens > 0
                    THEN sm // n_tokens - {scale}
                    ELSE 0 END AS logit_milli,
               CASE WHEN n_tokens > 0
                    THEN sm // n_tokens - {scale} >= 0
                    ELSE TRUE END AS keep
        FROM s ORDER BY doc_id
    """


_MODULE_ORACLES["quality_filter_twin_documents"] = _quality_twin_oracle()


def _quality_ensemble_oracle(buckets: int = 32, scale: int = 1000) -> str:
    """Generate the ensemble SQL by composing the three signals'
    oracle formulas (quality basis points, Gopher gates, md5-twin
    classifier) — one CTE per signal, joined on doc_id, integer
    votes."""
    mod = 2 * scale + 1
    w = (
        "(CAST(concat('0x', substr(md5('w:' || CAST("
        "CAST(concat('0x', substr(md5(t), 1, 14)) AS BIGINT) % "
        f"{buckets} AS VARCHAR)), 1, 14)) AS BIGINT) % {mod})"
    )
    return f"""
        WITH qb AS (
            SELECT doc_id,
                   (least(CASE WHEN trim(text) = '' THEN 0
                               ELSE len(string_split_regex(trim(text),
                                                           '\\s+'))
                          END * 80, 4000)
                    + CASE WHEN len(string_split_regex(trim(lower(text)),
                                                       '\\s+')) > 0
                           THEN least(CAST(floor(
                                len(list_filter(
                                    string_split_regex(
                                        trim(lower(text)), '\\s+'),
                                    t -> list_contains(
                                        {_EN_MARKERS_SQL}, t)))
                                * 15000
                                / len(string_split_regex(
                                      trim(lower(text)), '\\s+')))
                                AS BIGINT), 3000)
                           ELSE 0 END
                    + CASE WHEN length(text) > 0
                           THEN 3000 - CAST(floor(
                                (length(text)
                                 - length(regexp_replace(text,
                                       '[^\\w\\s]', '', 'g')))
                                * 3000 / length(text)) AS BIGINT)
                           ELSE 3000 END) >= 5000 AS q_keep
            FROM documents),
        gp AS (
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END AS n_words,
                   list_sum(list_transform(
                       string_split_regex(trim(text), '\\s+'),
                       t -> length(t))) AS total_chars,
                   length(text) - length(replace(text, '#', ''))
                       AS n_hash,
                   len(string_split(text, '...')) - 1 AS n_ellipsis
            FROM documents),
        gk AS (
            SELECT doc_id,
                   ((n_words >= 50 AND n_words <= 100000)
                    AND (CASE WHEN n_words > 0
                              THEN CAST(floor(total_chars * 100
                                              / n_words) AS BIGINT)
                              ELSE 0 END BETWEEN 300 AND 1000)
                    AND (CASE WHEN n_words > 0
                              THEN CAST(floor((n_hash + n_ellipsis)
                                              * 100 / n_words)
                                        AS BIGINT)
                              ELSE 0 END <= 10)) AS g_keep
            FROM gp),
        ct AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)),
                                                  '\\s+'),
                               x -> x <> '') AS tl
            FROM documents),
        ck AS (
            SELECT doc_id,
                   CASE WHEN len(tl) > 0
                        THEN CAST(coalesce(list_sum(list_transform(tl,
                                 t -> {w})), 0) AS BIGINT)
                             // len(tl) - {scale} >= 0
                        ELSE TRUE END AS c_keep
            FROM ct)
        SELECT qb.doc_id, q_keep, g_keep, c_keep,
               CAST(CASE WHEN q_keep THEN 1 ELSE 0 END
                    + CASE WHEN g_keep THEN 1 ELSE 0 END
                    + CASE WHEN c_keep THEN 1 ELSE 0 END AS INT)
                   AS votes,
               (CASE WHEN q_keep THEN 1 ELSE 0 END
                + CASE WHEN g_keep THEN 1 ELSE 0 END
                + CASE WHEN c_keep THEN 1 ELSE 0 END) >= 2
                   AS keep_ensemble
        FROM qb JOIN gk USING (doc_id) JOIN ck USING (doc_id)
        ORDER BY qb.doc_id
    """


_MODULE_ORACLES["quality_ensemble_documents"] = _quality_ensemble_oracle()


# --------------------------------------------------------------------------
# Round-6 oracles: the r1 rows-only names repointed at deterministic
# tiers (VERDICT r5 item 3). Each is the proven twin SQL at a second
# operating point (slice / threshold / distance), so the re-grade is an
# independent check, not a copy of the twin gate's hash.
# --------------------------------------------------------------------------

_MODULE_ORACLES.update({
    # minhash twin SQL at the doc_id < 150 slice (twin gate: < 200)
    "minhash_near_dup_documents": f"""
        WITH d AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\\s+') AS toks
            FROM documents WHERE doc_id < 150),
        sh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(toks) >= 3 THEN
                       list_transform(
                           generate_series(1, len(toks) - 2),
                           i -> array_to_string(
                               list_slice(toks, i, i + 2), ' '))
                       ELSE [] END) AS g
            FROM d),
        shf AS (SELECT doc_id, g FROM sh WHERE len(g) > 0),
        codes AS (
            SELECT doc_id, g,
                   list_transform(g, s ->
                       CAST(concat('0x', substr(md5(s), 1, 14))
                            AS BIGINT) % 2147483647) AS cs
            FROM shf),
        sig AS (
            SELECT doc_id, g,
                   list_transform({_minhash_coeffs_sql()},
                       ab -> list_min(list_transform(cs,
                           x -> (x * ab.a + ab.b) % 2147483647)))
                       AS sg
            FROM codes),
        banded AS (
            SELECT doc_id, b AS band,
                   array_to_string(
                       list_slice(sg, b * 4 + 1, b * 4 + 4), '-')
                       AS key
            FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)),
        cands AS (
            SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
            FROM banded x JOIN banded y
              ON x.band = y.band AND x.key = y.key
             AND x.doc_id < y.doc_id),
        ex AS (SELECT doc_id AS gid, unnest(g) AS s FROM shf),
        inter AS (
            SELECT c.id1, c.id2, count(*) AS n_inter
            FROM cands c
            JOIN ex a ON a.gid = c.id1
            JOIN ex b ON b.gid = c.id2 AND a.s = b.s
            GROUP BY c.id1, c.id2),
        sizes AS (SELECT doc_id AS gid, len(g) AS n FROM shf),
        j AS (
            SELECT c.id1, c.id2,
                   (1000000 * coalesce(i.n_inter, 0))
                   // (s1.n + s2.n - coalesce(i.n_inter, 0))
                       AS jaccard_ppm
            FROM cands c
            LEFT JOIN inter i
              ON i.id1 = c.id1 AND i.id2 = c.id2
            JOIN sizes s1 ON s1.gid = c.id1
            JOIN sizes s2 ON s2.gid = c.id2)
        SELECT id1, id2, jaccard_ppm FROM j
        WHERE jaccard_ppm >= 300000
        ORDER BY id1, id2
    """,
    # simhash twin SQL at max_dist = 2 (twin gate: 3; 4-chunk
    # pigeonhole blocking stays complete for any distance <= 3)
    "simhash_near_dup_documents": """
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+')
                       AS toks
            FROM documents),
        cd AS (
            SELECT doc_id,
                   list_transform(toks, x ->
                       CAST(concat('0x', substr(md5(x), 1, 14))
                            AS BIGINT)) AS cs
            FROM t),
        vt AS (
            SELECT doc_id,
                   list_transform(generate_series(0, 55), b ->
                       CAST(list_sum(list_transform(cs, x ->
                           CASE WHEN ((x >> b) & 1) = 1
                                THEN 1 ELSE -1 END))
                           AS BIGINT)) AS votes
            FROM cd),
        sg AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(
                       generate_series(1, 56), i ->
                           CASE WHEN votes[i] > 0
                                THEN (1::BIGINT << (i - 1))
                                ELSE 0::BIGINT END))
                       AS BIGINT) AS sig
            FROM vt)
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM sg a JOIN sg b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= 2
        ORDER BY id1, id2
    """,
    # Rademacher-SRP twin SQL at threshold 0.45, full corpus (twin
    # gate: 0.4)
    "lsh_similarity_pairs": f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_transform(embedding::DOUBLE[],
                       x -> CAST(round(x * 1000000, 0) AS BIGINT))
                       AS q
            FROM embeddings),
        s AS (SELECT {_rademacher_signs_sql()} AS S),
        bb AS (
            SELECT e.vec_id,
                   b.band,
                   CAST(list_sum(list_transform(
                       generate_series(0, 7), j ->
                       CASE WHEN list_sum(list_transform(
                                generate_series(1, 64),
                                i -> q[i] * S[b.band * 8 + j + 1][i]))
                                > 0
                            THEN (1::BIGINT << j)
                            ELSE 0::BIGINT END)) AS BIGINT) AS bucket
            FROM e, s, (SELECT unnest([0, 1, 2, 3]) AS band) b),
        cands AS (
            SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
            FROM bb x JOIN bb y
              ON x.band = y.band AND x.bucket = y.bucket
             AND x.vec_id < y.vec_id),
        j AS (
            SELECT c.id1, c.id2,
                   round(list_dot_product(a.v, b2.v), 4)
                       AS similarity
            FROM cands c
            JOIN e a ON a.vec_id = c.id1
            JOIN e b2 ON b2.vec_id = c.id2)
        SELECT id1, id2, similarity FROM j
        WHERE similarity >= 0.45
        ORDER BY id1, id2
    """,
    # Rademacher-SRP twin SQL at threshold 0.4 over vec_id < 400
    # (twin gate: full corpus)
    "srp_lsh_similarity_pairs": f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_transform(embedding::DOUBLE[],
                       x -> CAST(round(x * 1000000, 0) AS BIGINT))
                       AS q
            FROM embeddings WHERE vec_id < 400),
        s AS (SELECT {_rademacher_signs_sql()} AS S),
        bb AS (
            SELECT e.vec_id,
                   b.band,
                   CAST(list_sum(list_transform(
                       generate_series(0, 7), j ->
                       CASE WHEN list_sum(list_transform(
                                generate_series(1, 64),
                                i -> q[i] * S[b.band * 8 + j + 1][i]))
                                > 0
                            THEN (1::BIGINT << j)
                            ELSE 0::BIGINT END)) AS BIGINT) AS bucket
            FROM e, s, (SELECT unnest([0, 1, 2, 3]) AS band) b),
        cands AS (
            SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
            FROM bb x JOIN bb y
              ON x.band = y.band AND x.bucket = y.bucket
             AND x.vec_id < y.vec_id),
        j AS (
            SELECT c.id1, c.id2,
                   round(list_dot_product(a.v, b2.v), 4)
                       AS similarity
            FROM cands c
            JOIN e a ON a.vec_id = c.id1
            JOIN e b2 ON b2.vec_id = c.id2)
        SELECT id1, id2, similarity FROM j
        WHERE similarity >= 0.4
        ORDER BY id1, id2
    """,
    # fidelity strip: oracle replays the BUILTIN regexp chain (tags ->
    # space, the 7 standard entities in the builtin's replace order,
    # whitespace collapse) on the same wrapped input; '||' (not
    # concat()) so a NULL text stays NULL like Spark's F.concat
    "strip_html_fidelity_documents": """
        SELECT doc_id,
               trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(
                       replace(
                           regexp_replace(
                               '<div><p>Hello &amp; welcome.</p> '
                               || text || ' <br/>&lt;end&gt;</div>',
                               '<[^>]+>', ' ', 'g'),
                           '&nbsp;', ' '),
                       '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&#39;', ''''),
                       '&apos;', ''''),
                   '\\s+', ' ', 'g')) AS text_clean
        FROM documents WHERE doc_id < 100
    """,
})

# BPE token count for the doc_id < 250 slice: the train+encode twin
# SQL (shared trainer CTEs) with the output restricted — needs the
# f-string after _BPE_TRAIN_CTES, so registered here.
_MODULE_ORACLES["bpe_token_count_documents"] = f"""
        WITH {_BPE_TRAIN_CTES},
        docw AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(
                       trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS w
            FROM documents),
        e0 AS (
            SELECT doc_id,
                   CASE WHEN regexp_matches(w, '^[a-z]+$')
                        THEN NULL ELSE 1 END AS fixed,
                   CASE WHEN regexp_matches(w, '^[a-z]+$')
                        THEN '__' || regexp_replace(
                                 substring(w, 1, length(w) - 1),
                                 '(.)', '\\1__', 'g')
                             || substring(w, length(w), 1)
                             || '</w>__'
                   END AS enc
            FROM docw),
        e1 AS (SELECT doc_id, fixed,
                      replace(enc, '_' || m.l || '__' || m.r || '_',
                              '_' || m.l || m.r || '_') AS enc
               FROM e0, m0 m),
        e2 AS (SELECT doc_id, fixed,
                      replace(enc, '_' || m.l || '__' || m.r || '_',
                              '_' || m.l || m.r || '_') AS enc
               FROM e1, m1 m),
        e3 AS (SELECT doc_id, fixed,
                      replace(enc, '_' || m.l || '__' || m.r || '_',
                              '_' || m.l || m.r || '_') AS enc
               FROM e2, m2 m),
        cnt AS (
            SELECT doc_id,
                   CAST(sum(coalesce(fixed,
                       len(list_filter(string_split(enc, '_'),
                                       x -> x <> '')))) AS INT)
                       AS n_bpe_tokens
            FROM e3 GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(c.n_bpe_tokens, 0) AS n_bpe_tokens
        FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id
        WHERE d.doc_id < 250
        ORDER BY d.doc_id
    """


# Capability-dispatched running counts: bounded input ⇒ both the TWS
# tier and the aggregation twin equal the batch group count.
_MODULE_ORACLES["stream_running_counts_events"] = """
    SELECT event_type, count(*) AS cnt
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
"""


# Multimodal oracle twins (VERDICT r5 item 5): the deterministic
# byte-stride stubs are SQL-expressible on ASCII payloads (byte ==
# character), so DuckDB replays the resample / frame-window arithmetic
# exactly. media_type routing mirrors attach_binary_payload's
# doc_id % 3 assignment.
_MODULE_ORACLES["multimodal_resize_oracle_documents"] = r"""
    WITH d AS (
        SELECT doc_id, text, length(text) AS n
        FROM documents
        WHERE doc_id < 400 AND doc_id % 3 = 0
          AND text IS NOT NULL AND length(text) > 0
          AND regexp_matches(text, '^[ -~]*$')
    )
    SELECT doc_id,
           CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           list_aggregate(
               list_transform(generate_series(0, 255),
                   k -> text[((k * n) // 256) + 1]),
               'string_agg', '') AS thumb
    FROM d
    ORDER BY doc_id
"""

_MODULE_ORACLES["multimodal_frames_oracle_documents"] = r"""
    WITH d AS (
        SELECT doc_id, text, length(text) AS n
        FROM documents
        WHERE doc_id < 400 AND doc_id % 3 = 2
          AND text IS NOT NULL AND length(text) > 0
          AND regexp_matches(text, '^[ -~]*$')
    ),
    f AS (
        SELECT doc_id, n, text,
               least(4, greatest(n // 64, 1)) AS nf
        FROM d
    ),
    g AS (
        SELECT doc_id, n, text, nf,
               unnest(generate_series(0, nf - 1)) AS i
        FROM f
    )
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           CAST(i * (n // nf) AS BIGINT) AS frame_offset,
           substr(text, CAST(i * (n // nf) AS BIGINT) + 1, 64)
               AS frame_text
    FROM g
    ORDER BY doc_id, frame_idx
"""


def _nn_descent_ctes(
    limit: int = 120, k: int = 4, iters: int = 2, dim: int = 64
) -> str:
    """Unrolled NN-Descent replay (ann.nn_descent_knn_graph): ring
    init in id-rank order, then per round symmetrize -> neighbor-of-
    neighbor candidates -> integer micro-dot score -> top-k by
    (dot DESC, id). Valid while the slice has > k rows (k_eff == k).
    sim_ppm uses the same shift-then-floor-divide as the Spark side
    (Spark div truncates, DuckDB // floors; they agree shifted
    non-negative)."""
    offs = ", ".join(str(j) for j in range(1, k + 1))
    parts = [
        f"""e AS (
            SELECT vec_id AS id,
                   list_transform(embedding::DOUBLE[],
                       x -> CAST(round(x * 1000000, 0) AS BIGINT)) AS q
            FROM embeddings WHERE vec_id < {limit}),
        r AS (
            SELECT id, q,
                   row_number() OVER (ORDER BY id) - 1 AS rk,
                   count(*) OVER () AS n
            FROM e),
        c0 AS (
            SELECT a.id AS src, b.id AS dst
            FROM r a, (SELECT unnest([{offs}]) AS j) js, r b
            WHERE b.rk = (a.rk + js.j) % a.n)"""
    ]

    def score_topk(t: int) -> str:
        return f"""s{t} AS (
            SELECT c.src, c.dst,
                   CAST(list_sum(list_transform(
                       generate_series(1, {dim}),
                       i -> qa.q[i] * qb.q[i])) AS BIGINT) AS dot
            FROM c{t} c
            JOIN e qa ON qa.id = c.src
            JOIN e qb ON qb.id = c.dst),
        t{t} AS (
            SELECT src, dst, dot, rn FROM (
                SELECT src, dst, dot,
                       row_number() OVER (PARTITION BY src
                                          ORDER BY dot DESC, dst) AS rn
                FROM s{t})
            WHERE rn <= {k})"""

    parts.append(score_topk(0))
    for t in range(1, iters + 1):
        parts.append(
            f"""y{t} AS (
            SELECT src, dst FROM t{t - 1}
            UNION
            SELECT dst AS src, src AS dst FROM t{t - 1}),
        c{t} AS (
            SELECT a.src, b.dst
            FROM y{t} a JOIN y{t} b ON a.dst = b.src
            WHERE a.src <> b.dst
            UNION
            SELECT src, dst FROM t{t - 1})"""
        )
        parts.append(score_topk(t))
    ctes = ",\n        ".join(parts)
    return ctes


def _nn_descent_oracle(
    limit: int = 120, k: int = 4, iters: int = 2, dim: int = 64
) -> str:
    """Final projection over the chain above — see _nn_descent_ctes."""
    ctes = _nn_descent_ctes(limit, k, iters, dim)
    return f"""
        WITH {ctes}
        SELECT src AS id, dst AS neighbor_id,
               CAST(rn AS INT) AS rank,
               CAST((dot + 1000000000000000) // 1000000
                    - 1000000000 AS BIGINT) AS sim_ppm
        FROM t{iters}
        ORDER BY id, rank
    """


_MODULE_ORACLES["nn_descent_graph_embeddings"] = _nn_descent_oracle()


# Gopher repetition-signal oracles (round 6): every value is integer
# (counts, lengths, floor-div ppm) so the replay is engine-exact.
# DuckDB traps handled: sum(BIGINT) -> HUGEINT (cast back), // floors
# on the non-negative operands used here.

_MODULE_ORACLES["dup_lines_documents"] = r"""
    WITH d AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE doc_id < 500),
    s AS (
        SELECT doc_id,
               list_transform(
                   generate_series(0, (len(toks) + 7) // 8 - 1),
                   i -> array_to_string(
                       list_slice(toks, i * 8 + 1, i * 8 + 8), ' '))
                   AS L
        FROM d),
    s2 AS (
        SELECT doc_id,
               array_to_string(L || list_slice(L, 1, 1), chr(10))
                   AS text2
        FROM s),
    x AS (
        SELECT doc_id, unnest(string_split(text2, chr(10))) AS line
        FROM s2),
    g AS (
        SELECT doc_id, line,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(length(line) AS BIGINT) AS llen
        FROM x GROUP BY doc_id, line),
    o AS (
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_lines,
               CAST(sum(cnt - 1) AS BIGINT) AS n_dup_lines,
               CAST(sum(cnt * llen) AS BIGINT) AS n_line_chars,
               CAST(sum((cnt - 1) * llen) AS BIGINT)
                   AS n_dup_line_chars
        FROM g GROUP BY doc_id)
    SELECT doc_id, n_lines, n_dup_lines,
           CAST(n_dup_lines * 1000000 // n_lines AS BIGINT)
               AS dup_line_ppm,
           n_line_chars, n_dup_line_chars,
           CASE WHEN n_line_chars > 0
                THEN CAST(n_dup_line_chars * 1000000 // n_line_chars
                          AS BIGINT)
                ELSE 0 END AS dup_line_char_ppm
    FROM o
    ORDER BY doc_id
"""

_MODULE_ORACLES["top_ngram_char_documents"] = r"""
    WITH d AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE doc_id < 500),
    tot AS (
        SELECT doc_id,
               CAST(length(array_to_string(toks, ' ')) AS BIGINT)
                   AS total_chars,
               toks
        FROM d),
    og AS (
        SELECT doc_id,
               unnest(CASE WHEN len(toks) >= 2 THEN
                   list_transform(generate_series(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i + 1])
                   ELSE [] END) AS gram
        FROM d),
    cnts AS (
        SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt
        FROM og GROUP BY doc_id, gram),
    top AS (
        SELECT doc_id, gram AS top_gram, cnt AS top_cnt FROM (
            SELECT doc_id, gram, cnt,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, gram)
                       AS rn
            FROM cnts)
        WHERE rn = 1)
    SELECT t.doc_id,
           coalesce(p.top_gram, '') AS top_gram,
           CAST(coalesce(p.top_cnt, 0) AS BIGINT) AS top_cnt,
           t.total_chars,
           CASE WHEN t.total_chars > 0
                THEN CAST(least(coalesce(p.top_cnt, 0)
                          * length(coalesce(p.top_gram, ''))
                          * 1000000 // t.total_chars,
                          1000000) AS BIGINT)
                ELSE 0 END AS top_ngram_char_ppm
    FROM tot t LEFT JOIN top p ON t.doc_id = p.doc_id
    ORDER BY t.doc_id
"""

_MODULE_ORACLES["dup_ngram_coverage_documents"] = r"""
    WITH d AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\s+') AS toks
        FROM documents WHERE doc_id < 300),
    b AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 5),
    ti AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks))) AS i
        FROM b),
    tp AS (
        SELECT doc_id, i - 1 AS idx,
               CAST(length(toks[i]) AS BIGINT) AS tl
        FROM ti),
    tq AS (
        SELECT doc_id, idx, tl,
               CAST(sum(tl + 1) OVER (PARTITION BY doc_id
                                      ORDER BY idx) AS BIGINT) - 1
                   AS end_char
        FROM tp),
    tr AS (
        SELECT doc_id, idx, end_char,
               end_char - tl AS start_char
        FROM tq),
    oi AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 5)) AS gidx
        FROM b),
    og AS (
        SELECT doc_id, gidx,
               array_to_string(
                   list_slice(toks, gidx + 1, gidx + 5), ' ') AS gram
        FROM oi),
    dup AS (
        SELECT doc_id, gidx FROM (
            SELECT doc_id, gidx,
                   count(*) OVER (PARTITION BY doc_id, gram) AS cnt
            FROM og)
        WHERE cnt > 1),
    iv AS (
        SELECT o.doc_id,
               s.start_char AS s,
               e.end_char AS e
        FROM dup o
        JOIN tr s ON s.doc_id = o.doc_id AND s.idx = o.gidx
        JOIN tr e ON e.doc_id = o.doc_id AND e.idx = o.gidx + 4),
    mm AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pm
        FROM iv),
    cv AS (
        SELECT doc_id,
               CAST(sum(greatest(0, e - greatest(s, coalesce(pm, s))))
                    AS BIGINT) AS covered
        FROM mm GROUP BY doc_id),
    tot AS (
        SELECT doc_id,
               CAST(length(array_to_string(toks, ' ')) AS BIGINT)
                   AS total_chars
        FROM d)
    SELECT t.doc_id,
           CAST(coalesce(c.covered, 0) AS BIGINT) AS covered_chars,
           t.total_chars,
           CASE WHEN t.total_chars > 0
                THEN CAST(coalesce(c.covered, 0) * 1000000
                          // t.total_chars AS BIGINT)
                ELSE 0 END AS dup_ngram_char_ppm
    FROM tot t LEFT JOIN cv c ON t.doc_id = c.doc_id
    ORDER BY t.doc_id
"""


# SQL pipe syntax twin: the pipeline form compiles to the same plan as
# this nested ANSI query; integer cents keep the hash engine-exact
# (DuckDB sum(BIGINT) -> HUGEINT, cast back).
_MODULE_ORACLES["sql_pipe_syntax_revenue"] = """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


# Tokenizer fertility/compression twin: shared trainer CTEs + encode
# replay (bpe_token_count's chain), corpus-rolled with the same
# integer floor-divs. sum() casts guard the HUGEINT trap.
_MODULE_ORACLES["tokenizer_fertility_documents"] = f"""
        WITH {_BPE_TRAIN_CTES},
        docw AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(
                       trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS w
            FROM documents WHERE doc_id < 250),
        e0 AS (
            SELECT doc_id,
                   CASE WHEN regexp_matches(w, '^[a-z]+$')
                        THEN NULL ELSE 1 END AS fixed,
                   CASE WHEN regexp_matches(w, '^[a-z]+$')
                        THEN '__' || regexp_replace(
                                 substring(w, 1, length(w) - 1),
                                 '(.)', '\\1__', 'g')
                             || substring(w, length(w), 1)
                             || '</w>__'
                   END AS enc
            FROM docw),
        e1 AS (SELECT doc_id, fixed,
                      replace(enc, '_' || m.l || '__' || m.r || '_',
                              '_' || m.l || m.r || '_') AS enc
               FROM e0, m0 m),
        e2 AS (SELECT doc_id, fixed,
                      replace(enc, '_' || m.l || '__' || m.r || '_',
                              '_' || m.l || m.r || '_') AS enc
               FROM e1, m1 m),
        e3 AS (SELECT doc_id, fixed,
                      replace(enc, '_' || m.l || '__' || m.r || '_',
                              '_' || m.l || m.r || '_') AS enc
               FROM e2, m2 m),
        cnt AS (
            SELECT doc_id,
                   CAST(sum(coalesce(fixed,
                       len(list_filter(string_split(enc, '_'),
                                       x -> x <> '')))) AS BIGINT)
                       AS n_bpe_tokens
            FROM e3 GROUP BY doc_id),
        wstats AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(
                       trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS BIGINT) AS n_words,
                   CAST(length(array_to_string(list_filter(
                       string_split_regex(trim(lower(text)), '\\s+'),
                       x -> x <> ''), ' ')) AS BIGINT) AS n_chars
            FROM documents WHERE doc_id < 250),
        roll AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(w.n_words) AS BIGINT) AS n_words,
                   CAST(sum(w.n_chars) AS BIGINT) AS n_chars,
                   CAST(sum(coalesce(c.n_bpe_tokens, 0)) AS BIGINT)
                       AS n_bpe_tokens
            FROM wstats w LEFT JOIN cnt c ON w.doc_id = c.doc_id)
        SELECT n_docs, n_words, n_chars, n_bpe_tokens,
               CASE WHEN n_words > 0
                    THEN CAST(n_bpe_tokens * 1000000 // n_words
                              AS BIGINT)
                    ELSE 0 END AS fertility_ppm,
               CASE WHEN n_bpe_tokens > 0
                    THEN CAST(n_chars * 1000000 // n_bpe_tokens
                              AS BIGINT)
                    ELSE 0 END AS chars_per_token_ppm
        FROM roll
    """


def _pretraining_oracle(
    threshold_ppm: int = 300_000,
    train_frac: float = 0.9,
) -> str:
    """DuckDB replay of plans.pipeline.prepare_pretraining_corpus:
    the curation CTE chain (shared generator), then the md5 MinHash
    banding (same coefficient schedule via _minhash_coeffs_sql),
    recursive-CTE connected components, keep-best (quality DESC, id)
    and the md5-prefix cluster-keyed split — one query verifying the
    whole pipeline artifact."""
    chain = _curation_cte_chain().replace("WITH ", "WITH RECURSIVE ", 1)
    train_cut = int(train_frac * 2_147_483_648)
    return f"""{chain},
        dd AS (
            SELECT doc_id, lang_pred, quality, n_tokens, scrub_lower
            FROM deduped WHERE rn = 1),
        mtk AS (
            SELECT doc_id,
                   string_split_regex(trim(scrub_lower), '\\s+') AS toks
            FROM dd),
        msh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(toks) >= 3 THEN
                       list_transform(
                           generate_series(1, len(toks) - 2),
                           i -> array_to_string(
                               list_slice(toks, i, i + 2), ' '))
                       ELSE [] END) AS g
            FROM mtk),
        mshf AS (SELECT doc_id, g FROM msh WHERE len(g) > 0),
        mcod AS (
            SELECT doc_id, g,
                   list_transform(g, s ->
                       CAST(concat('0x', substr(md5(s), 1, 14))
                            AS BIGINT) % 2147483647) AS cs
            FROM mshf),
        msig AS (
            SELECT doc_id, g,
                   list_transform({_minhash_coeffs_sql()},
                       ab -> list_min(list_transform(cs,
                           x -> (x * ab.a + ab.b) % 2147483647)))
                       AS sg
            FROM mcod),
        mband AS (
            SELECT doc_id, b AS band,
                   array_to_string(
                       list_slice(sg, b * 4 + 1, b * 4 + 4), '-')
                       AS key
            FROM msig, (SELECT unnest([0, 1, 2, 3]) AS b)),
        mcand AS (
            SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
            FROM mband x JOIN mband y
              ON x.band = y.band AND x.key = y.key
             AND x.doc_id < y.doc_id),
        mex AS (SELECT doc_id AS gid, unnest(g) AS s FROM mshf),
        mint AS (
            SELECT c.id1, c.id2, count(*) AS n_inter
            FROM mcand c
            JOIN mex a ON a.gid = c.id1
            JOIN mex b2 ON b2.gid = c.id2 AND a.s = b2.s
            GROUP BY c.id1, c.id2),
        msiz AS (SELECT doc_id AS gid, len(g) AS n FROM mshf),
        mp AS (
            SELECT c.id1, c.id2
            FROM mcand c
            LEFT JOIN mint i
              ON i.id1 = c.id1 AND i.id2 = c.id2
            JOIN msiz s1 ON s1.gid = c.id1
            JOIN msiz s2 ON s2.gid = c.id2
            WHERE (1000000 * coalesce(i.n_inter, 0))
                  // (s1.n + s2.n - coalesce(i.n_inter, 0))
                  >= {threshold_ppm}),
        medge AS (
            SELECT id1 AS src, id2 AS dst FROM mp
            UNION SELECT id2, id1 FROM mp),
        reach(id, r) AS (
            SELECT src, src FROM medge
            UNION
            SELECT e.src, reach.r
            FROM medge e JOIN reach ON e.dst = reach.id),
        comp AS (SELECT id, min(r) AS component
                 FROM reach GROUP BY id),
        wc AS (
            SELECT d.doc_id, d.lang_pred, d.quality, d.n_tokens,
                   coalesce(c.component, d.doc_id) AS component
            FROM dd d LEFT JOIN comp c ON c.id = d.doc_id),
        best AS (
            SELECT doc_id, lang_pred, quality, n_tokens, component
            FROM (SELECT wc.*,
                         row_number() OVER (PARTITION BY component
                                            ORDER BY quality DESC,
                                                     doc_id) AS brn
                  FROM wc)
            WHERE brn = 1)
        SELECT doc_id, component, lang_pred,
               ROUND(quality, 4) AS quality, n_tokens,
               CASE WHEN CAST(concat('0x', substr(
                              md5(CAST(component AS VARCHAR)), 1, 14))
                          AS BIGINT) % 2147483648 < {train_cut}
                    THEN 'train' ELSE 'eval' END AS split
        FROM best
        ORDER BY doc_id
    """


_MODULE_ORACLES["pretraining_corpus_documents"] = _pretraining_oracle()


def _graph_beam_search_oracle(
    limit: int = 120,
    build_k: int = 4,
    build_iters: int = 1,
    query_ids: tuple[int, ...] = (5, 17, 42, 63, 99),
    k: int = 5,
    beam: int = 8,
    hops: int = 2,
    dim: int = 64,
) -> str:
    """Build (NN-Descent chain) + serve (beam search) in ONE replay:
    entry = the `beam` lowest node ids, per hop expand t{iters} edges,
    integer-dot score, top-`beam` per query; final top-k excludes the
    self-match before ranking (matching ann.graph_beam_search)."""
    chain = _nn_descent_ctes(limit, build_k, build_iters, dim)
    qlist = ", ".join(str(q) for q in query_ids)
    t_final = f"t{build_iters}"

    def score(c_name: str, s_name: str, b_name: str) -> str:
        return f"""{s_name} AS (
            SELECT c.qid, c.node,
                   CAST(list_sum(list_transform(
                       generate_series(1, {dim}),
                       i -> qs.query_vec[i] * e.q[i])) AS BIGINT)
                       AS dot
            FROM {c_name} c
            JOIN e ON e.id = c.node
            JOIN qs ON qs.qid = c.qid),
        {b_name} AS (
            SELECT qid, node, dot FROM (
                SELECT qid, node, dot,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY dot DESC, node)
                           AS rn
                FROM {s_name})
            WHERE rn <= {beam})"""

    parts = [
        f"""qs AS (
            SELECT id AS qid, q AS query_vec FROM e
            WHERE id IN ({qlist})),
        ent AS (SELECT id AS node FROM e ORDER BY id LIMIT {beam}),
        b0c AS (SELECT qs.qid, ent.node FROM qs, ent)""",
        score("b0c", "b0s", "b0"),
    ]
    prev = "b0"
    for h in range(1, hops + 1):
        parts.append(
            f"""h{h}c AS (
            SELECT DISTINCT qid, node FROM (
                SELECT b.qid, t.dst AS node
                FROM {prev} b JOIN {t_final} t ON t.src = b.node
                UNION
                SELECT qid, node FROM {prev}))"""
        )
        parts.append(score(f"h{h}c", f"h{h}s", f"h{h}"))
        prev = f"h{h}"
    ctes = ",\n        ".join(parts)
    return f"""
        WITH {chain},
        {ctes}
        SELECT qid AS query_id, node AS neighbor_id,
               CAST(rk AS INT) AS rank,
               CAST((dot + 1000000000000000) // 1000000
                    - 1000000000 AS BIGINT) AS sim_ppm
        FROM (SELECT qid, node, dot,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY dot DESC, node) AS rk
              FROM {prev} WHERE node <> qid)
        WHERE rk <= {k}
        ORDER BY query_id, rank
    """


_MODULE_ORACLES["graph_beam_search_embeddings"] = _graph_beam_search_oracle()


# ---------------------------------------------------------------------
# Round-7 cross-tier equivalence oracles (VERDICT r6 item 2): the
# planted-twin gates' expected output is closed-form — exactly the 50
# (orig, orig + 100000) pairs with the exact verify metric identical
# inputs must produce (Jaccard/cosine 1.0, Hamming 0). Every doc has
# ≥ 10 tokens and ids 0..49 exist at every SF (checked across
# sf0.001/0.01/0.1), so no planted pair can vanish in the n-gram or
# banding stages for data reasons; a red hash therefore isolates a
# production-tier recall or verify-arithmetic defect.
# ---------------------------------------------------------------------
_MODULE_ORACLES.update({
    "minhash_xxh_planted_recall_documents": """
        SELECT doc_id AS id1, doc_id + 100000 AS id2,
               10000::BIGINT AS jaccard_x10000
        FROM documents WHERE doc_id < 50 ORDER BY id1
    """,
    "minhash_auto_planted_recall_documents": """
        SELECT doc_id AS id1, doc_id + 100000 AS id2,
               10000::BIGINT AS est_jaccard_x10000
        FROM documents WHERE doc_id < 50 ORDER BY id1
    """,
    "simhash_xxh_planted_recall_documents": """
        SELECT doc_id AS id1, doc_id + 100000 AS id2,
               0 AS hamming
        FROM documents WHERE doc_id < 50 ORDER BY id1
    """,
    "srp_fixed_planted_recall_embeddings": """
        SELECT vec_id AS id1, vec_id + 100000 AS id2,
               10000::BIGINT AS sim_x10000
        FROM embeddings WHERE vec_id < 50 ORDER BY id1
    """,
    "srp_auto_planted_recall_embeddings": """
        SELECT vec_id AS id1, vec_id + 100000 AS id2,
               10000::BIGINT AS sim_x10000
        FROM embeddings WHERE vec_id < 50 ORDER BY id1
    """,
    "ivf_pairs_planted_recall_embeddings": """
        SELECT vec_id AS id1, vec_id + 100000 AS id2,
               10000::BIGINT AS sim_x10000
        FROM embeddings WHERE vec_id < 50 ORDER BY id1
    """,
    # round 8 (VERDICT r7 item 2): PQ / IVF-PQ planted-twin recall —
    # a bit-identical twin encodes to the same PQ code and scores the
    # ADC minimum, so every planted pair must surface in the top-k
    "pq_planted_recall_embeddings": """
        SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id
        FROM embeddings WHERE vec_id < 50 ORDER BY query_id
    """,
    "ivfpq_planted_recall_embeddings": """
        SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id
        FROM embeddings WHERE vec_id < 50 ORDER BY query_id
    """,
    # round 8 (VERDICT r7 item 5): warm-start refresh ≡ cold rebuild —
    # converged NN-Descent under the integer total order is unique, so
    # the expectation is closed-form (450 nodes × k=8, zero diffs)
    "graph_refresh_equals_cold_embeddings": """
        SELECT 3600::BIGINT AS n_edges_cold,
               3600::BIGINT AS n_edges_refresh,
               0::BIGINT AS n_diff,
               true AS refresh_equals_cold
    """,
})


# ------------------------------------------------- unigram-LM oracles
# Generated SQL replay of text_analysis.unigram_lm_train /
# unigram_viterbi_encode: substring seeding, one EM round (distributed
# Viterbi E-step + usage M-step), vocab prune — the Viterbi DP is
# unrolled positionally (_UNIGRAM_MAXLEN positions, candidate lengths
# 1..max_piece_len, greatest-with-sentinel, and the SAME
# shortest-last-piece tie rule as _viterbi_split: the bp CASE tests
# candidate lengths ASCENDING). Fixture words are ≤ 8 chars; the
# unroll depth leaves slack and the local 3-SF parity run would catch
# a regenerated fixture exceeding it.
_UNIGRAM_MAXLEN = 10
_UNIGRAM_SENT = -(10**15)


def _unigram_dp_block(
    words_cte: str,
    scores_cte: str,
    prefix: str,
    carry: tuple = (),
    ban_col: str | None = None,
    score_name: str | None = None,
    want_path: bool = True,
) -> str:
    """CTE chain Viterbi-segmenting every word of ``words_cte``
    (column ``w``; ``carry`` names extra columns to keep) under
    ``scores_cte`` (piece, lp6). Emits ``<prefix>seg`` with a ``ps``
    piece-list column (in order).

    ``ban_col`` names a carried column whose piece is EXCLUDED from
    the vocabulary for that row's DP — the likelihood-loss prune's
    what-if segmentation (mirrors ``_viterbi_score(banned=...)``).
    ``score_name`` additionally emits the final DP score (the best
    segmentation's summed lp6) under that column name;
    ``want_path=False`` skips the backtrack chain entirely (the loss
    pass needs scores only — 2·MAXLEN fewer CTEs per block).

    All (position, length) piece lookups happen in ONE join + pivot
    (``<prefix>lk``) — a correlated scalar subquery per candidate
    OOMed DuckDB's optimizer at 30 candidates × 20 chained CTEs — and
    the DP itself is then pure column arithmetic."""
    plen = _UNIGRAM_KNOBS["max_piece_len"]
    carry_cols = "".join(f", {c}" for c in carry)
    ban = f" AND s.piece <> t.{ban_col}" if ban_col else ""
    piv = ", ".join(
        f"max(CASE WHEN pos = {j} AND plen = {k} THEN lp6 END) AS l{k}_{j}"
        for j in range(1, _UNIGRAM_MAXLEN + 1)
        for k in range(1, min(plen, j) + 1)
    )
    parts = [
        f"""{prefix}lk AS MATERIALIZED (
            SELECT w{carry_cols}, {piv}
            FROM (
                SELECT t.w{''.join(f', t.{c}' for c in carry)},
                       g.pos, g.plen, s.lp6
                FROM {words_cte} t
                CROSS JOIN (
                    SELECT a.pos, b.plen
                    FROM (SELECT unnest(generate_series(
                             1, {_UNIGRAM_MAXLEN})) AS pos) a,
                         (SELECT unnest(generate_series(
                             1, {plen})) AS plen) b
                    WHERE b.plen <= a.pos) g
                LEFT JOIN {scores_cte} s
                  ON s.piece = substr(t.w, g.pos - g.plen + 1, g.plen)
                  {ban})
            GROUP BY w{carry_cols})"""
    ]
    prev = f"{prefix}lk"
    for j in range(1, _UNIGRAM_MAXLEN + 1):
        ks = range(1, min(plen, j) + 1)
        cands = ", ".join(
            f"{'0' if j - k == 0 else f'dp{j - k}'} + "
            f"coalesce(l{k}_{j}, {_UNIGRAM_SENT}) AS c{k}_{j}"
            for k in ks
        )
        great = ", ".join(f"c{k}_{j}" for k in ks)
        case = " ".join(f"WHEN c{k}_{j} = dp{j} THEN {k}" for k in ks)
        parts.append(
            f"{prefix}d{j} AS MATERIALIZED (SELECT *, {cands}, "
            f"greatest({great}) AS dp{j}, "
            f"CASE {case} END AS bp{j} FROM {prev})"
        )
        prev = f"{prefix}d{j}"
    dps = ", ".join(f"dp{j}" for j in range(1, _UNIGRAM_MAXLEN + 1))
    score_expr = (
        f", list_value({dps})[len(w)] AS {score_name}"
        if score_name
        else ""
    )
    if not want_path:
        parts.append(
            f"{prefix}seg AS MATERIALIZED "
            f"(SELECT *{score_expr} FROM {prev})"
        )
        return ",\n".join(parts)
    bps = ", ".join(f"bp{j}" for j in range(1, _UNIGRAM_MAXLEN + 1))
    # one MATERIALIZED CTE per backtrack step: chained lateral aliases
    # here substitute pos{s-1} into three places per step — a 3^10
    # expression blow-up that cost DuckDB ~38 s on 31 rows when the
    # whole backtrack sat in one SELECT
    parts.append(
        f"{prefix}b0 AS MATERIALIZED (SELECT *{score_expr}, "
        f"list_value({bps}) AS bps, len(w) AS pos0 FROM {prev})"
    )
    for s in range(1, _UNIGRAM_MAXLEN + 1):
        p = s - 1
        parts.append(
            f"{prefix}b{s} AS MATERIALIZED (SELECT *, "
            f"CASE WHEN pos{p} > 0 THEN "
            f"substr(w, pos{p} - bps[pos{p}] + 1, bps[pos{p}]) "
            f"END AS p{s}, "
            f"CASE WHEN pos{p} > 0 THEN pos{p} - bps[pos{p}] "
            f"ELSE 0 END AS pos{s} FROM {prefix}b{p})"
        )
    parts.append(
        f"{prefix}bt AS (SELECT * FROM {prefix}b{_UNIGRAM_MAXLEN})"
    )
    plist = ", ".join(f"p{s}" for s in range(_UNIGRAM_MAXLEN, 0, -1))
    parts.append(
        f"{prefix}seg AS MATERIALIZED (SELECT *, list_filter(list_value({plist}), "
        f"x -> x IS NOT NULL) AS ps FROM {prefix}bt)"
    )
    return ",\n".join(parts)


def _unigram_seed_ctes() -> str:
    """Shared seed CTEs (word table, substring seeding, pool cut,
    seed scores) — ONE text used by the train, encode, loss, and
    shrink-cycle oracle generators so the seeding contract cannot
    drift between them."""
    pool = _UNIGRAM_KNOBS["seed_pool"]
    plen = _UNIGRAM_KNOBS["max_piece_len"]
    return rf"""
        uw AS (
            SELECT w, count(*)::BIGINT AS cnt FROM (
                SELECT unnest(string_split_regex(
                           trim(lower(text)), '\s+')) AS w
                FROM documents)
            WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w),
        useed AS (
            SELECT piece, sum(cnt)::BIGINT AS freq FROM (
                SELECT unnest(flatten(list_transform(
                    generate_series(1, {plen}), l ->
                    CASE WHEN len(w) >= l THEN list_transform(
                        generate_series(1, len(w) - l + 1),
                        i -> substr(w, i, l)) ELSE [] END))) AS piece,
                    cnt
                FROM uw) GROUP BY piece),
        up0 AS (
            SELECT piece, freq FROM useed WHERE len(piece) = 1
            UNION ALL
            SELECT piece, freq FROM (
                SELECT piece, freq FROM useed WHERE len(piece) > 1
                ORDER BY freq DESC, piece LIMIT {pool})),
        us0 AS (
            SELECT piece, round(ln(freq::DOUBLE /
                (SELECT sum(freq) FROM up0)) * 1e6)::BIGINT AS lp6
            FROM up0)"""


def _unigram_train_ctes() -> str:
    vocab = _UNIGRAM_KNOBS["vocab_size"]
    assert _UNIGRAM_KNOBS["iters"] == 1, "replay unrolls exactly 1 round"
    return rf"""
        {_unigram_seed_ctes()},
        {_unigram_dp_block('uw', 'us0', 'ut', carry=('cnt',))},
        uusage AS (
            SELECT piece, sum(cnt)::BIGINT AS use_cnt FROM (
                SELECT unnest(ps) AS piece, cnt FROM utseg)
            GROUP BY piece),
        up1 AS (
            SELECT piece, freq FROM (
                SELECT s.piece,
                       CASE WHEN len(s.piece) = 1
                            THEN coalesce(u.use_cnt, 0) + 1
                            ELSE coalesce(u.use_cnt, 0) END AS freq
                FROM us0 s LEFT JOIN uusage u USING (piece))
            WHERE freq > 0),
        ukeep AS (
            SELECT piece, freq FROM up1 WHERE len(piece) = 1
            UNION ALL
            SELECT piece, freq FROM (
                SELECT piece, freq, row_number() OVER (
                    ORDER BY freq DESC, piece) AS rn
                FROM up1 WHERE len(piece) > 1)
            WHERE rn <= {vocab} - (
                SELECT count(*) FROM up1 WHERE len(piece) = 1)),
        ufin AS (
            SELECT piece, freq, round(ln(freq::DOUBLE /
                (SELECT sum(freq) FROM ukeep)) * 1e6)::BIGINT AS lp6
            FROM ukeep)
    """


# round 8: HNSW-style insert vs brute-force exact union graph —
# closed-form like the refresh gate (450 nodes × k=8, zero diffs)
_MODULE_ORACLES["graph_insert_exact_embeddings"] = """
    SELECT 3600::BIGINT AS n_edges_insert,
           3600::BIGINT AS n_edges_exact,
           0::BIGINT AS n_diff,
           true AS insert_equals_exact
"""

_MODULE_ORACLES["hierarchy_insert_exact_embeddings"] = """
    SELECT 0::BIGINT AS n_diff,
           true AS tops_match,
           true AS insert_equals_rebuild
"""

# the OPQ,IVF,PQ composition finds every planted twin (rotation-
# invariant ivfpq planted argument — see the gate docstring)
_MODULE_ORACLES["opq_ivfpq_planted_recall_embeddings"] = """
    SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id
    FROM embeddings WHERE vec_id < 50 ORDER BY query_id
"""

# the filtered oversample branch (hierarchy-served) keeps every
# planted twin at rank 1 after the post-filter
_MODULE_ORACLES["filtered_oversample_recall_embeddings"] = """
    SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id
    FROM embeddings WHERE vec_id < 50 ORDER BY query_id
"""

_MODULE_ORACLES["unigram_train_documents"] = f"""
    WITH {_unigram_train_ctes()}
    SELECT piece, freq, lp6 FROM ufin ORDER BY piece
"""


def _unigram_loss_ctes() -> str:
    """SentencePiece-faithful LIKELIHOOD-LOSS prune replay (VERDICT
    r8 item 5): after the EM round (the shared train CTEs through
    ``up1``), re-segment every word under the POST-EM scores (second
    DP block, emitting the best score), expand each word × the
    distinct multi-char pieces of its best path, run the WHAT-IF DP
    with that piece banned (third block, score-only), and rank the
    multi-char cut by Σ cnt·(best6 − alt6) DESC with the freq tier's
    order as tie-break — ``unigram_lm_train(prune='loss')`` exactly."""
    vocab = _UNIGRAM_KNOBS["vocab_size"]
    return f"""
        {_unigram_train_ctes()},
        us1 AS (
            SELECT piece, round(ln(freq::DOUBLE /
                (SELECT sum(freq) FROM up1)) * 1e6)::BIGINT AS lp6
            FROM up1),
        {_unigram_dp_block('uw', 'us1', 'ul', carry=('cnt',),
                           score_name='best6')},
        uwb AS (
            SELECT w, cnt, best6,
                   unnest(list_distinct(list_filter(
                       ps, x -> len(x) > 1))) AS banned
            FROM ulseg),
        {_unigram_dp_block('uwb', 'us1', 'ub',
                           carry=('cnt', 'best6', 'banned'),
                           ban_col='banned', score_name='alt6',
                           want_path=False)},
        uloss AS (
            SELECT banned AS piece,
                   sum(cnt * (best6 - alt6))::BIGINT AS loss6
            FROM ubseg GROUP BY banned),
        ukeepl AS (
            SELECT piece, freq FROM up1 WHERE len(piece) = 1
            UNION ALL
            SELECT piece, freq FROM (
                SELECT p.piece, p.freq, row_number() OVER (
                    ORDER BY coalesce(l.loss6, 0) DESC,
                             p.freq DESC, p.piece) AS rn
                FROM up1 p LEFT JOIN uloss l USING (piece)
                WHERE len(p.piece) > 1)
            WHERE rn <= {vocab} - (
                SELECT count(*) FROM up1 WHERE len(piece) = 1)),
        ulfin AS (
            SELECT piece, freq, round(ln(freq::DOUBLE /
                (SELECT sum(freq) FROM ukeepl)) * 1e6)::BIGINT AS lp6
            FROM ukeepl)
    """


_MODULE_ORACLES["unigram_loss_prune_documents"] = f"""
    WITH {_unigram_loss_ctes()}
    SELECT piece, freq, lp6 FROM ulfin ORDER BY piece
"""


def _unigram_shrink_ctes() -> str:
    """SentencePiece SHRINK-CYCLE replay (prune BETWEEN EM rounds,
    Kudo §3.2 step 3): per round — E-step DP under the pool's scores,
    usage M-step, post-M scores, what-if loss pass (re-segment DP
    emitting best6 + banned score-only DP), prune the multi pool to
    max(target, ceil(shrink·|multi|)) by (loss DESC, freq DESC,
    piece) — the LAST round cuts straight to target. Mirrors
    ``unigram_lm_train(prune='loss', shrink_factor=...)`` exactly;
    2 rounds unroll to 6 DP blocks."""
    vocab = _UNIGRAM_SHRINK_KNOBS["vocab_size"]
    iters = _UNIGRAM_SHRINK_KNOBS["iters"]
    sf = _UNIGRAM_SHRINK_FACTOR
    parts = [_unigram_seed_ctes()]
    pool = "up0"
    for r in range(1, iters + 1):
        parts.append(f"""ss{r} AS (
            SELECT piece, round(ln(freq::DOUBLE /
                (SELECT sum(freq) FROM {pool})) * 1e6)::BIGINT AS lp6
            FROM {pool})""")
        parts.append(
            _unigram_dp_block("uw", f"ss{r}", f"se{r}", carry=("cnt",))
        )
        parts.append(f"""su{r} AS (
            SELECT piece, sum(cnt)::BIGINT AS use_cnt FROM (
                SELECT unnest(ps) AS piece, cnt FROM se{r}seg)
            GROUP BY piece)""")
        parts.append(f"""sm{r} AS (
            SELECT piece, freq FROM (
                SELECT s.piece,
                       CASE WHEN len(s.piece) = 1
                            THEN coalesce(u.use_cnt, 0) + 1
                            ELSE coalesce(u.use_cnt, 0) END AS freq
                FROM ss{r} s LEFT JOIN su{r} u USING (piece))
            WHERE freq > 0)""")
        parts.append(f"""sp{r} AS (
            SELECT piece, round(ln(freq::DOUBLE /
                (SELECT sum(freq) FROM sm{r})) * 1e6)::BIGINT AS lp6
            FROM sm{r})""")
        parts.append(
            _unigram_dp_block(
                "uw", f"sp{r}", f"sl{r}", carry=("cnt",),
                score_name="best6",
            )
        )
        parts.append(f"""sw{r} AS (
            SELECT w, cnt, best6,
                   unnest(list_distinct(list_filter(
                       ps, x -> len(x) > 1))) AS banned
            FROM sl{r}seg)""")
        parts.append(
            _unigram_dp_block(
                f"sw{r}", f"sp{r}", f"sb{r}",
                carry=("cnt", "best6", "banned"),
                ban_col="banned", score_name="alt6", want_path=False,
            )
        )
        parts.append(f"""sx{r} AS (
            SELECT banned AS piece,
                   sum(cnt * (best6 - alt6))::BIGINT AS loss6
            FROM sb{r}seg GROUP BY banned)""")
        target = (
            f"{vocab} - (SELECT count(*) FROM sm{r} "
            f"WHERE len(piece) = 1)"
        )
        if r == iters:
            keep = target
        else:
            keep = (
                f"greatest({target}, CAST(ceil({sf} * "
                f"(SELECT count(*) FROM sm{r} WHERE len(piece) > 1)) "
                f"AS BIGINT))"
            )
        parts.append(f"""sk{r} AS (
            SELECT piece, freq FROM sm{r} WHERE len(piece) = 1
            UNION ALL
            SELECT piece, freq FROM (
                SELECT p.piece, p.freq, row_number() OVER (
                    ORDER BY coalesce(l.loss6, 0) DESC,
                             p.freq DESC, p.piece) AS rn
                FROM sm{r} p LEFT JOIN sx{r} l USING (piece)
                WHERE len(p.piece) > 1)
            WHERE rn <= {keep})""")
        pool = f"sk{r}"
    parts.append(f"""sfin AS (
        SELECT piece, freq, round(ln(freq::DOUBLE /
            (SELECT sum(freq) FROM {pool})) * 1e6)::BIGINT AS lp6
        FROM {pool})""")
    return ",\n".join(parts)


_MODULE_ORACLES["unigram_shrink_train_documents"] = f"""
    WITH {_unigram_shrink_ctes()}
    SELECT piece, freq, lp6 FROM sfin ORDER BY piece
"""

_MODULE_ORACLES["unigram_token_count_documents"] = f"""
    WITH {_unigram_train_ctes()},
    udocw AS (
        SELECT doc_id, w FROM (
            SELECT doc_id, unnest(string_split_regex(
                       trim(lower(text)), '\\s+')) AS w
            FROM documents WHERE doc_id < 200)
        WHERE regexp_matches(w, '^[a-z]+$')),
    uw2 AS (SELECT DISTINCT w FROM udocw),
    {_unigram_dp_block('uw2', 'ufin', 'ue')},
    ewd AS (
        SELECT g.w, count(*)::BIGINT AS n_p, sum(f.lp6)::BIGINT AS s6
        FROM (SELECT w, unnest(ps) AS piece FROM ueseg) g
        JOIN ufin f USING (piece) GROUP BY g.w),
    eper AS (
        SELECT dw.doc_id, e.n_p, e.s6
        FROM udocw dw JOIN ewd e USING (w))
    SELECT d.doc_id,
           coalesce(sum(e.n_p), 0)::BIGINT AS n_pieces,
           coalesce(sum(e.s6), 0)::BIGINT AS score6
    FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
    LEFT JOIN eper e USING (doc_id)
    GROUP BY d.doc_id ORDER BY d.doc_id
"""

# The local BPE trainer is graded by the distributed trainer's
# unrolled-CTE replay (merge equality IS the equivalence claim; the
# distributed gate additionally grades pair_count).
_MODULE_ORACLES["bpe_train_local_graded_documents"] = f"""
    WITH {_BPE_TRAIN_CTES}
    SELECT * FROM (
        SELECT 1 AS step, l AS sym_left, r AS sym_right FROM m0
        UNION ALL SELECT 2, l, r FROM m1
        UNION ALL SELECT 3, l, r FROM m2)
    ORDER BY step
"""

# Graph-index closed-loop serving gate (VERDICT r6 item 4): recall@1
# is DETERMINISTIC for the fixed fixture (integer micro-dots + total
# order throughout build and search; measured 50/50 at all three SFs)
# and the oracle pins the floor form, so only a real navigation or
# build regression — not a borderline fixture regeneration — reddens
# the hash. The build/search algorithms themselves are value-hash
# graded by nn_descent_graph_embeddings / graph_beam_search_embeddings
# (unrolled DuckDB replays); this gate adds the SF-scale recall
# evidence the SRP/IVF/PQ tiers already carry.
_MODULE_ORACLES["graph_recall_vs_exact_embeddings"] = """
    SELECT 50::BIGINT AS n_queries,
           900000::BIGINT AS recall_floor_ppm,
           true AS floor_met
"""

# Out-of-the-box graph serving (VERDICT r8 item 2): same floor form —
# recall@1 is 50/50 at all three SFs with ENGINE-provisioned entries
# (default_graph_entries' rank stride) and the facade's own default
# beam/hops, measured deterministic like the manual-entries gate above.
_MODULE_ORACLES["graph_auto_entry_recall_embeddings"] = """
    SELECT 50::BIGINT AS n_queries,
           900000::BIGINT AS recall_floor_ppm,
           true AS floor_met
"""

# Cross-corpus fuzzy decontamination (round 7): the md5 tier's banding
# chain with side-parity filters — banding is per-doc, so banding the
# union then keeping only even×odd candidates replays the two-corpus
# operator exactly. The apply gate anti-joins the contaminated ids.
_FUZZY_DECON_CTES = f"""
        d AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\\s+') AS toks
            FROM documents WHERE doc_id < 200),
        sh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(toks) >= 3 THEN
                       list_transform(
                           generate_series(1, len(toks) - 2),
                           i -> array_to_string(
                               list_slice(toks, i, i + 2), ' '))
                       ELSE [] END) AS g
            FROM d),
        shf AS (SELECT doc_id, g FROM sh WHERE len(g) > 0),
        codes AS (
            SELECT doc_id, g,
                   list_transform(g, s ->
                       CAST(concat('0x', substr(md5(s), 1, 14))
                            AS BIGINT) % 2147483647) AS cs
            FROM shf),
        sig AS (
            SELECT doc_id, g,
                   list_transform({_minhash_coeffs_sql()},
                       ab -> list_min(list_transform(cs,
                           x -> (x * ab.a + ab.b) % 2147483647)))
                       AS sg
            FROM codes),
        banded AS (
            SELECT doc_id, b AS band,
                   array_to_string(
                       list_slice(sg, b * 4 + 1, b * 4 + 4), '-')
                       AS key
            FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)),
        cands AS (
            SELECT DISTINCT x.doc_id AS corpus_id, y.doc_id AS bench_id
            FROM banded x JOIN banded y
              ON x.band = y.band AND x.key = y.key
            WHERE x.doc_id % 2 = 0 AND y.doc_id % 2 = 1),
        ex AS (SELECT doc_id AS gid, unnest(g) AS s FROM shf),
        inter AS (
            SELECT c.corpus_id, c.bench_id, count(*) AS n_inter
            FROM cands c
            JOIN ex a ON a.gid = c.corpus_id
            JOIN ex b ON b.gid = c.bench_id AND a.s = b.s
            GROUP BY c.corpus_id, c.bench_id),
        sizes AS (SELECT doc_id AS gid, len(g) AS n FROM shf),
        j AS (
            SELECT c.corpus_id, c.bench_id,
                   (1000000 * coalesce(i.n_inter, 0))
                   // (s1.n + s2.n - coalesce(i.n_inter, 0))
                       AS jaccard_ppm
            FROM cands c
            LEFT JOIN inter i
              ON i.corpus_id = c.corpus_id AND i.bench_id = c.bench_id
            JOIN sizes s1 ON s1.gid = c.corpus_id
            JOIN sizes s2 ON s2.gid = c.bench_id),
        hits AS (
            SELECT corpus_id, bench_id, jaccard_ppm FROM j
            WHERE jaccard_ppm >= 300000)
"""

_MODULE_ORACLES["fuzzy_decontaminate_documents"] = f"""
    WITH {_FUZZY_DECON_CTES}
    SELECT corpus_id, bench_id, jaccard_ppm FROM hits
    ORDER BY corpus_id, bench_id
"""

_MODULE_ORACLES["fuzzy_decontaminate_apply_documents"] = f"""
    WITH {_FUZZY_DECON_CTES}
    SELECT doc_id FROM documents
    WHERE doc_id < 200 AND doc_id % 2 = 0
      AND NOT EXISTS (SELECT 1 FROM hits h WHERE h.corpus_id = doc_id)
    ORDER BY doc_id
"""

_MODULE_ORACLES["fuzzy_decontaminate_xxh_planted_documents"] = """
    SELECT doc_id AS corpus_id, doc_id + 100000 AS bench_id,
           1000000::BIGINT AS jaccard_ppm
    FROM documents WHERE doc_id < 50 ORDER BY corpus_id
"""


# Stupid Backoff trigram LM (round 9):
# shared CTE chain — even-doc training streams, order-1/2/3 gram
# counts, and the ARPA-analog conditional micro-log tables m3/m2/m1
# plus the OOV-floor row m0. Replays text_analysis.ngram_lm_train's
# arithmetic by value: integer counts, context-prefix joins,
# CAST(round(ln(cnt/ctx) * 1e6) AS BIGINT).
_NGLM_CTES = """
        tr AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS t
            FROM documents
            WHERE text IS NOT NULL AND trim(lower(text)) <> ''),
        st AS (
            SELECT list_concat(list_concat(['<s>', '<s>'], t),
                               ['</s>']) AS s
            FROM tr WHERE doc_id % 2 = 0),
        tg AS (
            SELECT unnest([{'w1': s[i], 'w2': s[i + 1], 'w3': s[i + 2]}
                           FOR i IN range(1, len(s) - 1)]) AS g
            FROM st),
        c3 AS (SELECT g.w1 AS w1, g.w2 AS w2, g.w3 AS w3,
                      count(*) AS cnt
               FROM tg GROUP BY 1, 2, 3),
        bg AS (
            SELECT unnest([{'w1': s[i], 'w2': s[i + 1]}
                           FOR i IN range(1, len(s))]) AS g
            FROM st),
        c2 AS (SELECT g.w1 AS w1, g.w2 AS w2, count(*) AS cnt
               FROM bg GROUP BY 1, 2),
        ug AS (SELECT unnest(s) AS w1 FROM st),
        c1 AS (SELECT w1, count(*) AS cnt FROM ug GROUP BY 1),
        nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c1),
        m3 AS (SELECT c3.w1, c3.w2, c3.w3, c3.cnt,
                      CAST(round(ln(CAST(c3.cnt AS DOUBLE) / x.cnt)
                                 * 1e6) AS BIGINT) AS lp6
               FROM c3 JOIN c2 x ON c3.w1 = x.w1 AND c3.w2 = x.w2),
        m2 AS (SELECT c2.w1, c2.w2, c2.cnt,
                      CAST(round(ln(CAST(c2.cnt AS DOUBLE) / x.cnt)
                                 * 1e6) AS BIGINT) AS lp6
               FROM c2 JOIN c1 x ON c2.w1 = x.w1),
        m1 AS (SELECT c1.w1, c1.cnt,
                      CAST(round(ln(CAST(c1.cnt AS DOUBLE) / nt.n)
                                 * 1e6) AS BIGINT) AS lp6
               FROM c1, nt),
        m0 AS (SELECT nt.n AS cnt,
                      CAST(round(ln(1.0 / nt.n) * 1e6) AS BIGINT)
                          AS lp6
               FROM nt)
"""

_MODULE_ORACLES["ngram_lm_train_documents"] = (
    "WITH " + _NGLM_CTES + """
    SELECT * FROM (
        SELECT 3 AS "order", w1, w2, w3, cnt, lp6 FROM m3
        WHERE cnt >= 3
        UNION ALL
        SELECT 2 AS "order", w1, w2, CAST(NULL AS VARCHAR) AS w3,
               cnt, lp6
        FROM m2 WHERE cnt >= 3)
    ORDER BY "order", w1, w2, w3
    """
)

_MODULE_ORACLES["ngram_lm_score_documents"] = (
    "WITH " + _NGLM_CTES + """,
    sto AS (
        SELECT doc_id,
               list_concat(list_concat(['<s>', '<s>'], t),
                           ['</s>']) AS s
        FROM tr WHERE doc_id % 2 = 1),
    ev AS (
        SELECT doc_id,
               unnest([{'w1': s[i], 'w2': s[i + 1], 'w3': s[i + 2]}
                       FOR i IN range(1, len(s) - 1)]) AS g
        FROM sto),
    evf AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3
            FROM ev),
    sc AS (
        SELECT e.doc_id,
               coalesce(a.lp6,
                        -916291 + b.lp6,
                        -1832582 + c.lp6,
                        -1832582 + m0.lp6) AS s1
        FROM evf e
        LEFT JOIN m3 a
          ON e.w1 = a.w1 AND e.w2 = a.w2 AND e.w3 = a.w3
        LEFT JOIN m2 b ON e.w2 = b.w1 AND e.w3 = b.w2
        LEFT JOIN m1 c ON e.w3 = c.w1
        CROSS JOIN m0),
    per AS (SELECT doc_id, count(*) AS n_events,
                   CAST(sum(s1) AS BIGINT) AS s6
            FROM sc GROUP BY doc_id)
    SELECT doc_id, n_events, s6,
           round(exp(-(CAST(s6 AS DOUBLE) / (n_events * 1e6))), 4)
               AS ppl
    FROM per ORDER BY doc_id
    """
)


_MODULE_ORACLES["hnsw_descent_recall_embeddings"] = """
    SELECT 50::BIGINT AS n_queries,
           900000::BIGINT AS recall_floor_ppm,
           true AS floor_met
"""


# Streaming ANN serving twin (round 9):
# bounded 2-batch query stream + per-query independence ⇒ the
# accumulated parquet sink equals graph_beam_search_embeddings, so
# the batch gate's unrolled build+search replay grades it verbatim.
_MODULE_ORACLES["stream_graph_topk_embeddings"] = _MODULE_ORACLES[
    "graph_beam_search_embeddings"
]


_MODULE_ORACLES["filtered_topk_embeddings"] = f"""
    SELECT query_id, neighbor_id, similarity, rank FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               round({_COS}, 4) AS similarity,
               row_number() OVER
                   (PARTITION BY a.vec_id
                    ORDER BY {_COS} DESC, b.vec_id ASC) AS rank
        FROM embeddings a JOIN embeddings b
          ON b.label = 0 AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 30)
    WHERE rank <= 3
    ORDER BY query_id, rank
"""


def _wordpiece_oracle(num_merges: int = 6, min_count: int = 2) -> str:
    """Generated WordPiece-trainer replay: the BPE oracle's unrolled
    (pair-count, argmax, replace) chain with WordPiece's criterion —
    per step an extra SYMBOL-count block and the argmax ranked by
    score6 = round((ln c_ab - ln c_a - ln c_b)*1e6) (ties score6
    desc, l, r). Generated so step count and knobs cannot drift from
    the gate."""
    parts = ["""
        words AS (
            SELECT w, count(*) AS cnt
            FROM (SELECT unnest(string_split_regex(
                      trim(lower(text)), '\\s+')) AS w
                  FROM documents WHERE text IS NOT NULL)
            WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 1
            GROUP BY w),
        v0 AS (
            SELECT '__' || array_to_string(
                       list_transform(generate_series(1, length(w)),
                           i -> CASE WHEN i = length(w)
                                THEN substring(w, i, 1) || '</w>'
                                ELSE substring(w, i, 1) END),
                       '__') || '__' AS enc,
                   cnt
            FROM words)"""]
    for i in range(num_merges):
        parts.append(f"""
        s{i} AS MATERIALIZED (SELECT list_filter(string_split(enc, '_'),
                                    x -> x <> '') AS ss, cnt
                 FROM v{i}),
        c{i} AS MATERIALIZED (SELECT s, CAST(sum(cnt) AS BIGINT) AS c
                 FROM (SELECT unnest(ss) AS s, cnt FROM s{i})
                 GROUP BY s),
        p{i} AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r,
                        CAST(sum(cnt) AS BIGINT) AS pair_count
                 FROM (SELECT unnest(list_transform(
                           generate_series(1, len(ss) - 1),
                           j -> [ss[j], ss[j+1]])) AS pr, cnt
                       FROM s{i})
                 GROUP BY l, r HAVING sum(cnt) >= {min_count}),
        m{i} AS MATERIALIZED (SELECT l, r, pair_count,
                        CAST(round((ln(pair_count) - ln(cl.c)
                                    - ln(cr.c)) * 1e6) AS BIGINT)
                            AS score6
                 FROM p{i} JOIN c{i} cl ON p{i}.l = cl.s
                           JOIN c{i} cr ON p{i}.r = cr.s
                 ORDER BY score6 DESC, l, r LIMIT 1),
        v{i + 1} AS MATERIALIZED (SELECT replace(enc,
                                '_' || m.l || '__' || m.r || '_',
                                '_' || m.l || m.r || '_') AS enc, cnt
                     FROM v{i}, m{i} m)""")
    selects = " UNION ALL ".join(
        f"SELECT {i + 1} AS step, l AS sym_left, r AS sym_right,"
        f" pair_count, score6 FROM m{i}"
        for i in range(num_merges)
    )
    return (
        "WITH " + ",".join(parts)
        + f" SELECT * FROM ({selects}) ORDER BY step"
    )


_MODULE_ORACLES["wordpiece_train_documents"] = _wordpiece_oracle()


_MODULE_ORACLES["opq_planted_recall_embeddings"] = """
    SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id
    FROM embeddings WHERE vec_id < 50 ORDER BY query_id
"""

# the RaBitQ 1-bit tier keeps every planted twin: identical sign code
# + identical abs_sum ⇒ the twin's estimate ties the query's own
# maximum, survives the shortlist, and the exact rerank ranks it first
_MODULE_ORACLES["rabitq_planted_recall_embeddings"] = """
    SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id
    FROM embeddings WHERE vec_id < 50 ORDER BY query_id
"""

# the RaBitQ,IVF composition keeps every planted twin: identical
# vector ⇒ identical coarse list, the own list is always probed, the
# estimator tie survives the shortlist, exact rerank pins rank 1
_MODULE_ORACLES["rabitq_ivf_planted_recall_embeddings"] = """
    SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id
    FROM embeddings WHERE vec_id < 50 ORDER BY query_id
"""

# streaming 1-bit serving: per-query independence makes the
# accumulated sink equal the batch operator, so the same planted SQL
# grades the stream end to end
_MODULE_ORACLES["stream_rabitq_topk_embeddings"] = """
    SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id
    FROM embeddings WHERE vec_id < 50 ORDER BY query_id
"""

# the residual composition keeps every planted twin too: identical
# vector => identical coarse list AND identical residual => identical
# sign code/abs_sum/res_nrm2; the twin's distance-composition score is
# the exact-tie maximum (~0), the own list is always probed, and the
# exact rerank pins rank 1
_MODULE_ORACLES["rabitq_ivfres_planted_recall_embeddings"] = """
    SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id
    FROM embeddings WHERE vec_id < 50 ORDER BY query_id
"""


# The staged gates' SQL, for check_oracles.py --pending,
# tools/plan_rotation.py and the contract tests.
_PENDING_ORACLES: dict[str, str] = {
    k: sql for k, sql in _MODULE_ORACLES.items() if k in _STAGED
}
