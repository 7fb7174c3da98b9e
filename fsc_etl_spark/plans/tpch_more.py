"""Remaining TPC-H decision-support shapes (Q7/Q8/Q9/Q13/Q17/Q18/Q19/
Q21/Q22), adapted to the driver's trimmed schemas: there is no
partsupp table and lineitem lacks commit/receipt dates, so Q9's
supplycost and Q21's receipt-vs-commit lateness are re-expressed over
the columns that exist (deterministic proxies, noted per query).

The reference (SURVEY.md §2.12) has none of these — they are the
general-analytics gap list. Same determinism rules as
plans/analytics.py: exact-decimal accumulation for every double sum,
shared aliases with the oracle, total orderings before any LIMIT.

Scale notes (100 TB posture):
- Q7/Q8/Q9 join the fact table to dimensions that are orders of
  magnitude smaller — nation/region/supplier/part broadcast, so the
  only shuffle is the final groupBy on a handful of keys;
- Q13 reduces orders to one row per custkey BEFORE the left join to
  customer (join the aggregate, not the fact);
- Q17's per-part average is aggregated first and joined back —
  fact-sized state never crosses the shuffle twice;
- Q18 semi-joins the big-order keyset (tiny after HAVING) against
  orders/customer instead of joining facts wide;
- Q21's EXISTS/NOT-EXISTS compile to one semi and one anti join,
  both shuffle-partitioned on l_orderkey so the three lineitem scans
  co-locate under AQE.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fsc_etl_spark.operators.cache import cache_scope
from fsc_etl_spark.operators.pairs import expand_pairs, expand_triples, shuffle_parallelism
from fsc_etl_spark.sources.readers import read_parquet_table as t


def _dec(col: str, scale: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal(18,{scale})")


def _disc_price() -> F.Column:
    return (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("decimal(18,4)")


def q7_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7: bilateral shipping volume between NATION_1 and
    NATION_2 by year. Both nation dims broadcast; the disjunctive
    nation-pair predicate is applied after the broadcast joins, so the
    fact table shuffles once — for the final 3-key groupBy."""
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate",
                                         "l_extendedprice", "l_discount")
    orders = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supp = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n1 = t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8: NATION_5's share of supplier revenue into EUROPE-
    region customers, by order year. Numerator and denominator are one
    conditional aggregate over a single joined pass (no second scan);
    both are exact-decimal sums cast double, ratio rounded to 6."""
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey",
                                         "l_extendedprice", "l_discount")
    orders = t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supp = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nc = t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("c_regionkey")
    )
    ns = t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = t(spark, sf, "region").filter(F.col("r_name") == "EUROPE").select("r_regionkey")
    vol = _disc_price()
    target = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(region), F.col("c_regionkey") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(target).cast("double") / F.sum(vol).cast("double"), 6
            ).alias("mkt_share"),
            F.sum(vol).cast("double").alias("total_volume"),
        )
    )


def q9_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year for parts
    whose name contains 'gear' (~13% of the part dim — the synthetic
    p_name vocabulary has no digits, so the spec's '%green%'-style
    token keeps the filter productive at every fixture scale; an
    always-empty filter would let a broken join pass 0=0 against the
    oracle). No partsupp table exists, so supplycost
    is the deterministic proxy ``0.1 * p_retailprice`` (noted —
    exact-decimal arithmetic keeps the proxy bit-identical across
    engines). amount = disc_price − qty·0.1·retailprice, summed as
    decimal, cast double at the end."""
    li = t(spark, sf, "lineitem").select("l_partkey", "l_suppkey", "l_shipdate",
                                         "l_quantity", "l_extendedprice", "l_discount")
    part = (
        t(spark, sf, "part")
        .filter(F.col("p_name").contains("gear"))
        .select("p_partkey", "p_retailprice")
    )
    supp = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nation = t(spark, sf, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    cost = (
        _dec("l_quantity")
        * _dec("p_retailprice")
        * F.lit("0.1").cast("decimal(3,1)")
    ).cast("decimal(18,5)")
    amount = (_disc_price().cast("decimal(18,5)") - cost).alias("amount")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("nation", F.year("l_shipdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


def q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13: distribution of order counts per customer, including
    zero-order customers via a LEFT join. Orders are pre-aggregated to
    one row per custkey BEFORE the join, so the left join probes a
    keyset, not the fact table; the second groupBy is over ≤ a few
    hundred distinct counts."""
    per_cust = (
        t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") != "3-MEDIUM")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c_count"))
    )
    cust = t(spark, sf, "customer").select("c_custkey")
    return (
        cust.join(per_cust, cust["c_custkey"] == per_cust["o_custkey"], "left")
        .select(F.coalesce("c_count", F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q17_small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17: average yearly revenue lost if small-quantity orders
    for Brand#11 parts were not taken — lineitems with quantity below
    20% of their part's average quantity. The correlated AVG is an
    aggregate-then-join (per-part avgs are part-sized, they broadcast);
    the threshold is (decimal sum → double)/count · 0.2, the same op
    sequence as the oracle, so the comparison is bit-identical.

    The correlated AVG is a per-part WINDOW over the brand-filtered
    join, not an aggregate-then-self-join: one lineitem scan and one
    shuffle of the ~4% brand slice, instead of scanning the fact table
    twice (scan stages don't reuse; at 100 TB the second scan is pure
    IO waste)."""
    part = (
        t(spark, sf, "part")
        .filter(F.col("p_brand") == "Brand#11")
        .select("p_partkey")
    )
    li = t(spark, sf, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    brand_li = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    w = Window.partitionBy("p_partkey")
    avgd = brand_li.withColumn(
        "avg_qty",
        F.sum(_dec("l_quantity")).over(w).cast("double") / F.count(F.lit(1)).over(w),
    )
    return (
        avgd.filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0), 4).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q18_large_volume_customer(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18: customers with any order totalling > 300 units.
    The HAVING keyset (tiny) drives everything: it joins back to
    orders and customer AFTER the reduction. (o_orderdate, o_orderkey)
    gives a total order for the deterministic top-100."""
    big = (
        t(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    orders = t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate",
                                           "o_totalprice")
    cust = t(spark, sf, "customer").select("c_custkey", "c_name")
    return (
        orders.join(F.broadcast(big), orders["o_orderkey"] == big["l_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
                "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderdate"), F.col("o_orderkey"))
        .limit(100)
    )


def q19_disjunctive_predicates(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19: revenue under three OR'ed (brand, size, quantity)
    branches — the classic disjunctive join predicate. Expressed as a
    single equi-join on partkey with the disjunction as a post-join
    filter: Catalyst keeps the hash join (no nested-loop fallback) and
    pushes the shared partkey equality down both sides."""
    li = t(spark, sf, "lineitem").select("l_partkey", "l_quantity",
                                         "l_extendedprice", "l_discount")
    part = t(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    branch1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    branch2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    branch3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .filter(branch1 | branch2 | branch3)
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q21_waiting_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS): suppliers who were the
    LAST to ship in a multi-supplier finalized order. lineitem lacks
    commit/receipt dates, so "kept the order waiting" is re-expressed
    over l_shipdate: line l1 is late (shipped > 60 days after order
    date), some other supplier contributed to the order (EXISTS →
    left-semi), and no other supplier shipped later (NOT EXISTS →
    left-anti). All three lineitem legs hash on l_orderkey."""
    orders = t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    l1 = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate").cast("date"), 60))
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
        F.col("l_shipdate").alias("l3_shipdate"),
    )
    survivors = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("l2_orderkey"))
            & (F.col("l_suppkey") != F.col("l2_suppkey")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("l3_orderkey"))
            & (F.col("l_suppkey") != F.col("l3_suppkey"))
            & (F.col("l3_shipdate") > F.col("l_shipdate")),
            "left_anti",
        )
    )
    supp = t(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        survivors.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q22_idle_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: positive-balance customers above the average
    positive balance with no RECENT orders (none on/after 2000-01-01;
    NOT EXISTS → left-anti), grouped by nation (stands in for the
    missing phone country code). Every fixture customer has at least
    one lifetime order, so the spec's no-orders-ever predicate matches
    nothing at any SF and a wrong anti-join would pass 0=0 — the
    recency cutoff keeps the identical plan shape productive. The
    global average is a 1-row broadcast; sums are exact decimal."""
    cust = t(spark, sf, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    avg_pos = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
        )
    )
    orders = (
        t(spark, sf, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    nation = t(spark, sf, "nation").select("n_nationkey", F.col("n_name").alias("cntry"))
    return (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("cntry")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


_BASKET_MAX_ITEMS = 32
_BASKET_TOPK = 100


def basket_pair_support(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket 2-itemset mining (the A-Priori candidate pass,
    Agrawal & Srikant 1994): each order is a basket of distinct parts;
    emit the top-100 part pairs by co-occurrence support, with exact
    integer lift in ppm — lift(a,b) = P(a,b)/(P(a)·P(b)) =
    support·n_baskets / (cnt_a·cnt_b), emitted as lift_ppm =
    (10⁶·support·n_baskets) div (cnt_a·cnt_b), accumulated in
    DECIMAL(38,0) so the product can never overflow LONG at any
    corpus size, then cast to the proven BIGINT surface. Top-k by
    (support DESC, part_a ASC, part_b ASC) — a total integer order,
    so the LIMIT is deterministic and hash-stable.

    Scale shape: pair generation is blocked on the BASKET (orderkey)
    with baskets over _BASKET_MAX_ITEMS distinct parts excluded up
    front (the same stop-word rule as the co-purchase hub cap;
    TPC-H baskets are ≤ 7 lines so the cap is inert at gate scale,
    but a real catalog has mega-baskets) — per-basket pair work is
    ≤ cap², so the expansion is linear in orders. One collect_set
    aggregation dedups and caps each basket in one exchange; item
    counts and pair supports are keyed aggregations over in-task
    explodes of the cached set frame; n_baskets is a 1-row
    broadcast; the top-k is a TakeOrdered heap, never a global
    sort."""
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    with cache_scope() as cs:
        # One sorted part set per basket: the set absorbs the distinct and
        # the item cap is a size() filter on the aggregated row. The
        # round-robin comes before the persist so the cache itself, not
        # only the expansion, runs at full parallelism.
        bk = cs.persist(  # read three times: n_baskets, item counts, pairs
            li.groupBy("l_orderkey")
            .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
            .filter(F.size("ps") <= _BASKET_MAX_ITEMS)
            .repartition(shuffle_parallelism(li))
        )
        nb = bk.agg(F.count(F.lit(1)).alias("n_baskets"))
        item = (
            bk.select(F.explode("ps").alias("l_partkey"))
            .groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        sup = (
            bk.select(expand_pairs("ps", "part_a", "part_b").alias("p"))
            .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
            .agg(F.count(F.lit(1)).alias("support"))
        )
        dec = "decimal(38,0)"
        out = (
            sup.join(
                item.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a")),
                "part_a",
            )
            .join(
                item.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b")),
                "part_b",
            )
            .crossJoin(F.broadcast(nb))
            .select(
                "part_a",
                "part_b",
                F.col("support").cast("bigint").alias("support"),
                F.expr(
                    f"CAST((CAST(1000000 AS {dec}) * CAST(support AS {dec})"
                    f" * CAST(n_baskets AS {dec}))"
                    f" div (CAST(cnt_a AS {dec}) * CAST(cnt_b AS {dec})) AS BIGINT)"
                ).alias("lift_ppm"),
            )
            .orderBy(F.col("support").desc(), F.col("part_a").asc(), F.col("part_b").asc())
            .limit(_BASKET_TOPK)
        )
        return cs.result(out)


_TRIPLE_TOPK = 50


def basket_triple_support(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket 3-itemset mining (the C3 candidate pass of
    A-Priori, Agrawal & Srikant 1994, extending basket_pair_support's
    L2): top-50 part triples by co-occurrence
    support with ALL-CONFIDENCE in ppm (Omiecinski 2003) —
    all_conf(abc) = support / max(cnt_a, cnt_b, cnt_c), the
    null-invariant interestingness measure that, unlike triple lift
    (support·n²/(ca·cb·cc)), needs no n_baskets² product and so stays
    inside DECIMAL(38,0) at ANY corpus size (10⁶·support ≤ 10⁶·n —
    triple lift would overflow 38 digits past ~4·10¹⁰ baskets).
    Non-negative operands throughout: flooring // == truncating div.

    Scale shape: the same basket-capped expansion as the pair pass —
    one collect_set aggregation dedups and caps each basket, and the
    sorted set expands its i < j < k triples in-task, so per-basket
    triple work is ≤ C(cap,3) (TPC-H baskets ≤ 7 lines → ≤ 35 triples
    each); two keyed aggs for supports, one broadcast item-count
    attach per slot, TakeOrdered heap. Top-k by
    (support DESC, part_a, part_b, part_c) — a total integer order.
    The basket cache lives in the query's cache scope, which
    materialises the result and releases it.
    """
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    with cache_scope() as cs:
        # the capped basket sets of basket_pair_support; per-basket work
        # stays <= C(cap, 3)
        bk = cs.persist(  # read twice: item counts, triple expansion
            li.groupBy("l_orderkey")
            .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
            .filter(F.size("ps") <= _BASKET_MAX_ITEMS)
            .repartition(shuffle_parallelism(li))
        )
        item = (
            bk.select(F.explode("ps").alias("l_partkey"))
            .groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        sup = (
            bk.select(expand_triples("ps", "part_a", "part_b", "part_c").alias("p"))
            .groupBy(
                F.col("p.part_a").alias("part_a"),
                F.col("p.part_b").alias("part_b"),
                F.col("p.part_c").alias("part_c"),
            )
            .agg(F.count(F.lit(1)).alias("support"))
        )
        dec = "decimal(38,0)"
        out = (
            sup.join(
                item.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a")),
                "part_a",
            )
            .join(
                item.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b")),
                "part_b",
            )
            .join(
                item.select(F.col("l_partkey").alias("part_c"), F.col("cnt").alias("cnt_c")),
                "part_c",
            )
            .select(
                "part_a",
                "part_b",
                "part_c",
                F.col("support").cast("bigint").alias("support"),
                F.expr(
                    f"CAST((CAST(1000000 AS {dec}) * CAST(support AS {dec}))"
                    f" div CAST(greatest(cnt_a, cnt_b, cnt_c) AS {dec}) AS BIGINT)"
                ).alias("all_conf_ppm"),
            )
            .orderBy(
                F.col("support").desc(),
                F.col("part_a").asc(),
                F.col("part_b").asc(),
                F.col("part_c").asc(),
            )
            .limit(_TRIPLE_TOPK)
        )
        return cs.result(out)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q7_volume_shipping": q7_volume_shipping,
    "basket_pair_support": basket_pair_support,
    "basket_triple_support": basket_triple_support,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q13_customer_distribution": q13_customer_distribution,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_volume_customer": q18_large_volume_customer,
    "q19_disjunctive_predicates": q19_disjunctive_predicates,
    "q21_waiting_supplier": q21_waiting_supplier,
    "q22_idle_customers": q22_idle_customers,
}


_DISC_PRICE_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))"
)

TPCH_ORACLES: dict[str, str] = {}

# HUGEINT accumulation internal (positive throughout, so DuckDB's
# flooring // equals Spark's truncating decimal div), BIGINT finals.
TPCH_ORACLES["basket_pair_support"] = f"""
WITH b0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
small AS (
  SELECT l_orderkey FROM b0 GROUP BY l_orderkey
  HAVING COUNT(*) <= {_BASKET_MAX_ITEMS}
),
bk AS MATERIALIZED (SELECT b0.* FROM b0 JOIN small USING (l_orderkey)),
nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS HUGEINT) AS n_baskets FROM bk),
item AS (
  SELECT l_partkey, CAST(COUNT(*) AS HUGEINT) AS cnt FROM bk GROUP BY l_partkey
),
sup AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS HUGEINT) AS support
  FROM bk a JOIN bk b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT s.part_a, s.part_b, CAST(s.support AS BIGINT) AS support,
       CAST((1000000 * s.support * nb.n_baskets) // (ia.cnt * ib.cnt)
            AS BIGINT) AS lift_ppm
FROM sup s
JOIN item ia ON ia.l_partkey = s.part_a
JOIN item ib ON ib.l_partkey = s.part_b
CROSS JOIN nb
ORDER BY support DESC, part_a ASC, part_b ASC
LIMIT {_BASKET_TOPK}
"""

# Triple twin: same basket cap, A-Priori triple join, and the
# overflow-safe all-confidence arithmetic (non-negative HUGEINTs, so
# flooring // == Spark's truncating div).
TPCH_ORACLES["basket_triple_support"] = f"""
WITH b0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
small AS (
  SELECT l_orderkey FROM b0 GROUP BY l_orderkey
  HAVING COUNT(*) <= {_BASKET_MAX_ITEMS}
),
bk AS MATERIALIZED (SELECT b0.* FROM b0 JOIN small USING (l_orderkey)),
item AS (
  SELECT l_partkey, CAST(COUNT(*) AS HUGEINT) AS cnt FROM bk GROUP BY l_partkey
),
sup AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, c.l_partkey AS part_c,
         CAST(COUNT(*) AS HUGEINT) AS support
  FROM bk a
  JOIN bk b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN bk c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
  GROUP BY 1, 2, 3
)
SELECT s.part_a, s.part_b, s.part_c, CAST(s.support AS BIGINT) AS support,
       CAST((1000000 * s.support)
            // GREATEST(ia.cnt, ib.cnt, ic.cnt) AS BIGINT) AS all_conf_ppm
FROM sup s
JOIN item ia ON ia.l_partkey = s.part_a
JOIN item ib ON ib.l_partkey = s.part_b
JOIN item ic ON ic.l_partkey = s.part_c
ORDER BY support DESC, part_a ASC, part_b ASC, part_c ASC
LIMIT {_TRIPLE_TOPK}
"""

TPCH_ORACLES["q7_volume_shipping"] = f"""
SELECT n_s.n_name AS supp_nation,
       n_c.n_name AS cust_nation,
       EXTRACT(year FROM l_shipdate) AS l_year,
       CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n_s ON s_nationkey = n_s.n_nationkey
JOIN nation n_c ON c_nationkey = n_c.n_nationkey
WHERE (n_s.n_name = 'NATION_1' AND n_c.n_name = 'NATION_2')
   OR (n_s.n_name = 'NATION_2' AND n_c.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""

TPCH_ORACLES["q8_market_share"] = f"""
SELECT EXTRACT(year FROM o_orderdate) AS o_year,
       ROUND(CAST(SUM(CASE WHEN n_s.n_name = 'NATION_5' THEN {_DISC_PRICE_SQL}
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE), 6) AS mkt_share,
       CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS total_volume
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n_c ON c_nationkey = n_c.n_nationkey
JOIN nation n_s ON s_nationkey = n_s.n_nationkey
JOIN region   ON n_c.n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
GROUP BY 1
"""

TPCH_ORACLES["q9_product_profit"] = f"""
SELECT n_name AS nation,
       EXTRACT(year FROM l_shipdate) AS o_year,
       CAST(SUM(CAST({_DISC_PRICE_SQL} AS DECIMAL(18,5))
                - CAST(CAST(l_quantity AS DECIMAL(18,2))
                       * CAST(p_retailprice AS DECIMAL(18,2))
                       * CAST(0.1 AS DECIMAL(3,1)) AS DECIMAL(18,5))) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2
"""

TPCH_ORACLES["q13_customer_distribution"] = """
WITH per_cust AS (
  SELECT o_custkey, COUNT(*) AS c_count
  FROM orders
  WHERE o_orderpriority <> '3-MEDIUM'
  GROUP BY o_custkey
)
SELECT COALESCE(c_count, 0) AS c_count, COUNT(*) AS custdist
FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
GROUP BY 1
"""

TPCH_ORACLES["q17_small_quantity_revenue"] = """
WITH brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#11'
), avgs AS (
  SELECT l_partkey AS a_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM brand_li GROUP BY 1
)
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 4)
         AS avg_yearly,
       COUNT(*) AS n_lines
FROM brand_li JOIN avgs ON l_partkey = a_partkey
WHERE l_quantity < 0.2 * avg_qty
"""

TPCH_ORACLES["q18_large_volume_customer"] = """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""

TPCH_ORACLES["q19_disjunctive_predicates"] = f"""
SELECT CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""

TPCH_ORACLES["q21_waiting_supplier"] = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders   ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
"""

TPCH_ORACLES["q22_idle_customers"] = """
WITH avg_pos AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT n_name AS cntry,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer CROSS JOIN avg_pos
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY 1
"""
