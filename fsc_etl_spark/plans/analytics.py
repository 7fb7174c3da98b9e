"""Analytics query plans over the synthetic tables (TESTDATA.md).

Each entry exercises one or more operators from SURVEY.md §2 (the
reference's surface) or §2.12 (the gap list: windows, sorts, top-k,
rollup, sessionization). Every query has a matching ANSI-SQL oracle in
``ORACLES`` that DuckDB runs on the same parquet — the driver's
correctness gate — so every function here:

- aliases every computed column identically to its oracle;
- aggregates doubles through exact DECIMAL so the result is
  independent of partitioning / accumulation order (a double sum is
  order-dependent; a decimal sum is exact), casting back to double at
  the end so both engines emit the same bits;
- orders only where the result is deterministic (unique tie-break).

Determinism-under-parallelism is a correctness property at 100 TB, not
a test convenience: a result that changes with partition count is a
bug.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fsc_etl_spark import schemas
from fsc_etl_spark.functions.casting import cast_types
from fsc_etl_spark.operators.cdc import snapshot_diff
from fsc_etl_spark.operators.joins import anti_join, dim_join, key_membership_join, star_left_join
from fsc_etl_spark.operators.merge import merge_frames
from fsc_etl_spark.operators.pivot import pivot_indicator
from fsc_etl_spark.operators.windows import (
    global_top_k,
    sessionize,
    time_bucket_agg,
    top_k_per_group,
    with_running,
)
from fsc_etl_spark.sources.readers import read_parquet_table as t


def _dec(col: str | F.Column, scale: int = 2) -> F.Column:
    """Exact-decimal view of a double column for order-independent sums."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# Aggregation / scan / filter core (P1-P8, A1-A4, F1-F8)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy with 8 aggregates.

    Covers A-aggregations + P4 date filter; the filter and the 7-column
    projection push into the parquet scan (PushedFilters/ReadSchema).
    """
    li = t(spark, sf, "lineitem")
    # Intermediates recast to bounded precision so BOTH engines stay
    # inside decimal128 (DuckDB errors past width 38; Spark silently
    # reduces scale) — values fit exactly, so sums stay exact.
    disc_price = (_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    charge = (disc_price * (F.lit(1).cast("decimal(18,2)") + _dec("l_tax"))).cast("decimal(18,6)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def proj_alias(spark: SparkSession, sf: str) -> DataFrame:
    """P1/P2: early projection with join-key disambiguation aliases."""
    li = t(spark, sf, "lineitem", columns=["l_orderkey", "l_partkey", "l_extendedprice"])
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_partkey").alias("pkey"),
        F.col("l_extendedprice").alias("price"),
    )


def filter_status(spark: SparkSession, sf: str) -> DataFrame:
    """P3: equality filter on a low-cardinality string column."""
    return t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def filter_date_split(spark: SparkSession, sf: str) -> DataFrame:
    """P4/P5: the reference's yesterday-anchored date (in)equality
    split, parameterized on a fixed anchor for determinism."""
    li = t(spark, sf, "lineitem")
    anchor = F.lit("1998-06-01").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") >= anchor)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("date").alias("ship_date"),
            "l_quantity",
        )
    )


def distinct_dim(spark: SparkSession, sf: str) -> DataFrame:
    """A1: distinct() building a small dimension (main.py:99)."""
    return t(spark, sf, "customer").select("c_nationkey", "c_mktsegment").distinct()


def agg_minmax(spark: SparkSession, sf: str) -> DataFrame:
    """A2/A3: max-key probe + count, as one aggregate row."""
    return t(spark, sf, "orders").agg(
        F.max("o_orderkey").alias("max_key"),
        F.min("o_orderkey").alias("min_key"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


def cast_manifest_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """F1/F2/F8 + §1.2: the Decimal2/Decimal1/Integer/Date manifest
    applied to all-string input (mirrors the CSV-origin typing flow)."""
    li = t(spark, sf, "lineitem")
    stringly = li.select(
        F.col("l_orderkey").cast("string").alias("okey"),
        F.col("l_linenumber").cast("string").alias("lineno"),
        F.format_string("%.4f", F.col("l_extendedprice")).alias("price"),
        F.format_string("%.4f", F.col("l_discount")).alias("disc"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship"),
    )
    typed = cast_types(
        stringly,
        [
            ("okey", "Integer"),
            ("lineno", "Integer"),
            ("price", "Decimal2"),
            ("disc", "Decimal1"),
            ("ship", "Date"),
        ],
    )
    return typed.na.fill(0, ["price", "disc"])


# ---------------------------------------------------------------------------
# Joins (J1-J3) and star assembly (J2)
# ---------------------------------------------------------------------------


def dim_join_broadcast(spark: SparkSession, sf: str) -> DataFrame:
    """J1: fact→small-dim inner equi-join with a broadcast hint."""
    nation = t(spark, sf, "nation")
    region = t(spark, sf, "region")
    return dim_join(nation, region, left_col="n_regionkey", right_col="r_regionkey").select(
        "n_nationkey", "n_name", "r_name"
    )


def star_assembly(spark: SparkSession, sf: str) -> DataFrame:
    """J2: left-join chain on a shared key assembling a wide row —
    orders ⟕ per-order lineitem rollup ⟕ customer→nation names.

    The lineitem side is pre-aggregated to the join grain first
    (map-side partial agg + one shuffle) so the join never multiplies
    rows — the scalable version of join-then-aggregate.
    """
    orders = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    cust = t(spark, sf, "customer").select("c_custkey", "c_name", "c_nationkey")
    nation = t(spark, sf, "nation").select("n_nationkey", "n_name")

    li_rollup = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(_dec("l_extendedprice")).cast("double").alias("order_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    cust_dim = dim_join(cust, nation, left_col="c_nationkey", right_col="n_nationkey").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_name"), F.col("n_name").alias("nation_name")
    )
    wide = star_left_join(orders, [li_rollup], on=["o_orderkey"])
    wide = wide.join(F.broadcast(cust_dim), ["o_custkey"], "left")
    return wide.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "order_revenue",
        "n_lines",
        "c_name",
        "nation_name",
    ).na.fill(0, ["order_revenue", "n_lines"])


def semi_join_membership(spark: SparkSession, sf: str) -> DataFrame:
    """J3 as left_semi: orders whose customer is in a key set."""
    orders = t(spark, sf, "orders")
    rich = t(spark, sf, "customer").filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("o_custkey")
    )
    return key_membership_join(orders, rich, on=["o_custkey"]).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def anti_join_orphans(spark: SparkSession, sf: str) -> DataFrame:
    """NOT EXISTS: customers with no orders (merge-fallback primitive)."""
    cust = t(spark, sf, "customer")
    okeys = t(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return anti_join(cust, okeys, on=["c_custkey"]).select("c_custkey", "c_name")


def q5_region_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join with local-supplier predicate —
    the deepest join in the suite; dims broadcast, facts share keys."""
    region = t(spark, sf, "region")
    nation = t(spark, sf, "nation")
    cust = t(spark, sf, "customer")
    orders = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    supp = t(spark, sf, "supplier")

    nr = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    c = cust.join(F.broadcast(nr), cust.c_nationkey == nr.n_nationkey).select(
        "c_custkey", F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("c_nname")
    )
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    s = supp.select("s_suppkey", "s_nationkey")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") == F.col("c_nkey"))
        .groupBy(F.col("c_nname").alias("nation_name"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Pivot (P7)
# ---------------------------------------------------------------------------


def pivot_event_types(spark: SparkSession, sf: str) -> DataFrame:
    """P7: one groupBy().pivot() with a declared value domain (the
    reference does this with 4 filters + 4 joins). Spark runs it as two
    aggregations, so it shuffles twice: on (user_id, event_type), then
    on user_id."""
    ev = t(spark, sf, "events")
    wide = pivot_indicator(
        ev.withColumn("value", _dec("value", 6)),
        group_cols=["user_id"],
        pivot_col="event_type",
        value_map={v: v for v in schemas.EVENT_TYPES},
        agg=F.sum(F.col("value")),
    )
    return wide.select("user_id", *[F.col(v).cast("double").alias(v) for v in schemas.EVENT_TYPES])


# ---------------------------------------------------------------------------
# Set ops (SO1/SO2) and CDC
# ---------------------------------------------------------------------------


def cdc_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """SO1: today-minus-yesterday snapshot differencing (with the
    reference's main.py:93 self-subtract bug fixed: diff today against
    yesterday, not yesterday against itself)."""
    orders = t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
    today = orders
    yesterday = t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderstatus")
    return snapshot_diff(today, yesterday)


def union_insert_update(spark: SparkSession, sf: str) -> DataFrame:
    """SO2: union of the insert/update splits with a stable column
    order and a lineage flag."""
    orders = t(spark, sf, "orders")
    inserts = orders.filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")).withColumn(
        "src", F.lit("insert")
    )
    updates = orders.filter(
        (F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp"))
        & (F.col("o_orderstatus") == "P")
    ).withColumn("src", F.lit("update"))
    return inserts.unionByName(updates).select("o_orderkey", "o_orderstatus", "src")


def merge_upsert_state(spark: SparkSession, sf: str) -> DataFrame:
    """J5/J6 relational core: post-MERGE state of a target given a
    source with updated payloads + new keys, including the
    last-writer-wins delta-column rule."""
    orders = t(spark, sf, "orders")
    target = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").alias("updated_at"),
    )
    source = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        # *2 is exact in binary floating point — no cross-engine
        # rounding-mode concerns in the oracle comparison.
        (F.col("o_totalprice") * 2).alias("price"),
        F.date_add(F.col("o_orderdate"), 30).cast("timestamp").alias("updated_at"),
    )
    return merge_frames(target, source, on=["o_orderkey"], delta_col="updated_at").select(
        "o_orderkey", "price", F.col("updated_at").cast("date").alias("updated_date")
    )


# ---------------------------------------------------------------------------
# Surrogate keys (R2) and windows / sorts / rollup (§2.12)
# ---------------------------------------------------------------------------


#: Order-preserving buckets of :func:`bucketed_keys`.
_KEY_BUCKETS = 64


def bucketed_keys(df: DataFrame, key: str, key_col: str, start_from: int) -> DataFrame:
    """Contiguous keys ``start_from + 1 .. n`` in the order of the
    unique integer column ``key``, with no window over all rows: each
    row falls into one of 64 equal-width buckets of the key's
    [min, max] range, is numbered by a window within its bucket, and
    is shifted by the row count of the lower buckets. The bucket is a
    deterministic, order-preserving expression of the row, so the
    count pass and the numbering pass always agree on it (sampled range
    partitions, planned once per pass, do not)."""
    k = F.col(key)
    span = df.agg(F.min(k).alias("__lo"), F.max(k).alias("__hi"))
    width = (F.col("__hi") - F.col("__lo") + 1).cast("double") / _KEY_BUCKETS
    b = df.crossJoin(F.broadcast(span)).withColumn(
        "__b", F.floor((k - F.col("__lo")).cast("double") / width)
    )
    lower = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        b.groupBy("__b")
        .count()
        .select("__b", F.coalesce(F.sum("count").over(lower), F.lit(0)).alias("__off"))
    )
    within = Window.partitionBy("__b").orderBy(k)
    return b.join(F.broadcast(offsets), "__b").select(
        *df.columns,
        (F.row_number().over(within) + F.col("__off") + F.lit(start_from))
        .cast("long")
        .alias(key_col),
    )


def surrogate_key_assign(spark: SparkSession, sf: str) -> DataFrame:
    """R2 made deterministic: contiguous keys over a stable total order
    (replaces rdd.zipWithIndex; stays in Tungsten). The order is one
    integer column, so :func:`bucketed_keys` numbers it without a
    single-partition window over the whole table."""
    orders = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    return bucketed_keys(orders, "o_orderkey", key_col="sk", start_from=1000)


def window_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 orders per customer by price (tie-break by key)."""
    orders = t(spark, sf, "orders")
    return top_k_per_group(
        orders,
        group_cols=["o_custkey"],
        order_cols=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rn")


def window_running_sum(spark: SparkSession, sf: str) -> DataFrame:
    """Running per-customer revenue in order-date order (frame-bounded
    window agg; exact decimal accumulation)."""
    orders = t(spark, sf, "orders").withColumn("price_dec", _dec("o_totalprice"))
    out = with_running(
        orders,
        group_cols=["o_custkey"],
        order_cols=[F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        agg_col="price_dec",
        out_col="running_spend",
    )
    return out.select(
        "o_custkey", "o_orderkey", F.col("running_spend").cast("double").alias("running_spend")
    )


def global_topk_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Global top-10 (TakeOrdered — no full sort materialization)."""
    orders = t(spark, sf, "orders")
    return global_top_k(
        orders, order_cols=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], k=10
    ).select("o_orderkey", "o_totalprice")


def rollup_returnflag(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP grouping-set aggregate (absent from the reference —
    §2.12 gap) with exact decimal sums."""
    li = t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


def sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: 30-minute-gap sessions per user (lag + cumsum —
    the one-shuffle batch shape of streaming session windows)."""
    ev = t(spark, sf, "events")
    return sessionize(ev, user_col="user_id", ts_col="ts", gap_seconds=1800).select(
        "user_id", "event_id", "session_id"
    )


def hourly_event_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window batch aggregation over event time."""
    ev = t(spark, sf, "events").withColumn("value_dec", _dec("value", 6))
    out = time_bucket_agg(
        ev,
        ts_col="ts",
        duration="1 hour",
        group_cols=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum("value_dec").cast("double").alias("sum_value"),
        ],
    )
    return out.select("window_start", "event_type", "n", "sum_value")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q1_pricing_summary": q1_pricing_summary,
    "proj_alias": proj_alias,
    "filter_status": filter_status,
    "filter_date_split": filter_date_split,
    "distinct_dim": distinct_dim,
    "agg_minmax": agg_minmax,
    "cast_manifest_roundtrip": cast_manifest_roundtrip,
    "dim_join_broadcast": dim_join_broadcast,
    "star_assembly": star_assembly,
    "semi_join_membership": semi_join_membership,
    "anti_join_orphans": anti_join_orphans,
    "q5_region_volume": q5_region_volume,
    "pivot_event_types": pivot_event_types,
    "cdc_snapshot_diff": cdc_snapshot_diff,
    "union_insert_update": union_insert_update,
    "merge_upsert_state": merge_upsert_state,
    "surrogate_key_assign": surrogate_key_assign,
    "window_topk_per_group": window_topk_per_group,
    "window_running_sum": window_running_sum,
    "global_topk_orders": global_topk_orders,
    "rollup_returnflag": rollup_returnflag,
    "sessionize_events": sessionize_events,
    "hourly_event_rollup": hourly_event_rollup,
}
