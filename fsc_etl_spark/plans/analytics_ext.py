"""Gap-list operators (SURVEY.md §2.12) the reference lacks: multi-dim
aggregation (cube / grouping sets), set operations beyond subtract,
JSON extraction, as-of and range joins, approximate aggregates.

Same determinism rules as plans/analytics.py: exact-decimal
accumulation for any summed double, explicit aliases matching the
oracle column names, deterministic tie-breaks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fsc_etl_spark.operators.cache import cache_scope
from fsc_etl_spark.operators.joins import asof_join, range_join
from fsc_etl_spark.operators.pairs import expand_pairs, shuffle_parallelism
from fsc_etl_spark.sources.readers import read_parquet_table as t


def _dec(col: str, scale: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal(18,{scale})")


def cube_order_stats(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping combinations in one
    pass — Catalyst expands then hash-aggregates; at scale this is one
    shuffle, not 4 scans."""
    orders = t(spark, sf, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("o_totalprice")).cast("double").alias("sum_total"),
    )


def grouping_sets_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (spark.sql), with
    GROUPING() disambiguating aggregate NULLs from data NULLs."""
    t(spark, sf, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


def intersect_customers(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT: customers ordering in both 1995 and 1996."""
    orders = t(spark, sf, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


def except_all_priorities(spark: SparkSession, sf: str) -> DataFrame:
    """EXCEPT ALL (multiset difference) — the bag semantics subtract
    (SO1) can't express: priority occurrences minus those of
    finished orders, keeping multiplicity."""
    orders = t(spark, sf, "orders")
    allp = orders.select("o_orderpriority")
    fin = orders.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return allp.exceptAll(fin).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


def json_event_props(spark: SparkSession, sf: str) -> DataFrame:
    """JSON extraction from the events payload column — stays in
    codegen via get_json_object (no UDF, no full parse)."""
    ev = t(spark, sf, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


def asof_click_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """Backward as-of join: each click is matched to the user's most
    recent purchase at-or-before it (see operators/joins.asof_join for
    the one-shuffle union-scan shape)."""
    ev = t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_event_id"), "ts"
    )
    out = asof_join(
        clicks, purchases, on=["user_id"], left_ts="click_ts", right_ts="ts"
    )
    return out.select(
        "user_id",
        "event_id",
        "click_ts",
        F.col("purchase_event_id_asof").alias("purchase_event_id"),
        F.col("ts_asof").alias("purchase_ts"),
    )


def range_join_recent_views(spark: SparkSession, sf: str) -> DataFrame:
    """Interval join: views in the 30 minutes up to each purchase,
    per user."""
    ev = t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    joined = range_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="view_ts",
        lower="INTERVAL 30 MINUTES",
    )
    return joined.groupBy("user_id", "event_id").agg(
        F.count("view_id").alias("n_views")
    )


def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, filtered on both fact sides, revenue
    agg, global top-10 (compiles to TakeOrderedAndProject)."""
    cust = t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp")
    )
    li = t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    revenue = (
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    ).cast("decimal(18,4)")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q6_revenue_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+agg — every predicate must reach the
    parquet scan (the pushdown showcase)."""
    li = t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((_dec("l_extendedprice") * _dec("l_discount")).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue")
        )
    )


def unpivot_lineitem_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT (wide→long melt) via stack — the inverse of P7's pivot;
    one pass, no shuffle."""
    li = t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
            " 'discount', l_discount) as (metric, val)"
        ),
    )


def explode_doc_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Lateral explode with position (posexplode) — the array-to-rows
    primitive every text operator builds on."""
    from fsc_etl_spark.functions.text import tokens

    docs = t(spark, sf, "documents")
    return docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )


def approx_user_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate aggregates — HLL++ distinct count and quantile
    sketch — published as ERROR-BOUNDED CONTRACTS:
    sketch internals are engine-specific, so the raw estimates can
    never hash-match a DuckDB twin; the advertised ACCURACY can. The
    output carries the exact values plus booleans asserting each
    estimate sits inside its documented error bound. Distinct count:
    rsd=0.02 → asserted ±5% with an absolute floor of 2. Quantiles:
    percentile_approx's published guarantee IS a rank bound (error ≤
    n/accuracy), so the contract checks it as pure integers — the
    returned value's rank interval [count(value < q), count(value ≤
    q)] must intersect the target rank ± (n div 100 + 1) (100x the
    spec's n/10000) — no per-group sort, no float comparison; a
    second conditional-aggregate scan against the broadcast estimates
    replaces the exact-percentile per-group sort that cost ~4 s at
    sf0.1. The oracle computes the exact columns and expects TRUE for
    every bound. All inputs are deterministic (both sketches are
    data-order-free aggregates), so the booleans are stable."""
    ev = t(spark, sf, "events")
    with cache_scope() as cs:
        # The 5-row sketch aggregate feeds TWO branches (the rank scan's
        # broadcast and the final join). Without a lineage break each
        # branch re-runs the expensive sketch pass AND AQE may instantiate percentile_approx separately per
        # branch with different partial-merge orders, forking the
        # estimates the contract then checks. Eager checkpoint pins one
        # materialization of the |event_types|-row frame.
        # countDistinct and percentile_approx must NOT share one agg:
        # the distinct rewrite drags the typed-imperative percentile
        # through the Expand/sort machinery (measured 6.9 s vs 0.4+0.7 s
        # split at sf0.1). Two single-pass aggs + a 5-row join instead.
        sketches = ev.groupBy("event_type").agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("au"),
            F.percentile_approx("value", 0.5, 10000).alias("ap50"),
            F.percentile_approx("value", 0.95, 10000).alias("ap95"),
            F.count(F.lit(1)).alias("n"),
        )
        exacts = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact_users")
        )
        agg = cs.checkpoint(sketches.join(exacts, "event_type"))
        ranks = (
            ev.join(
                F.broadcast(agg.select("event_type", "ap50", "ap95")), "event_type"
            )
            .groupBy("event_type")
            .agg(
                F.sum((F.col("value") < F.col("ap50")).cast("long")).alias("lo50"),
                F.sum((F.col("value") <= F.col("ap50")).cast("long")).alias("hi50"),
                F.sum((F.col("value") < F.col("ap95")).cast("long")).alias("lo95"),
                F.sum((F.col("value") <= F.col("ap95")).cast("long")).alias("hi95"),
            )
        )

        def rank_ok(lo: str, hi: str, num: int, den: int):
            target = F.expr(f"({num} * (n + 1)) div {den}")
            tol = F.expr("n div 100 + 1")
            return (F.col(lo) <= target + tol) & (F.col(hi) >= target - tol)

        out = agg.join(ranks, "event_type").select(
            "event_type",
            F.col("exact_users").cast("bigint").alias("exact_users"),
            (
                F.abs(F.col("au") - F.col("exact_users")) * 20
                <= F.greatest(F.lit(40), F.col("exact_users"))
            ).alias("users_within_5pct"),
            rank_ok("lo50", "hi50", 1, 2).alias("p50_within_tol"),
            rank_ok("lo95", "hi95", 19, 20).alias("p95_within_tol"),
            (F.col("ap50") <= F.col("ap95")).alias("quantiles_ordered"),
        )
        return cs.result(out)


def dq_orders_report(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass data-quality rule pack over orders (operators/
    quality.py): N rules compile to conditional aggregates in a single
    scan + hash aggregate — the only affordable shape for rule packs
    at 100 TB (per-rule filter().count() loops rescan the table N
    times)."""
    from fsc_etl_spark.operators.quality import (
        dq_report,
        expect_between,
        expect_in_set,
        expect_not_null,
        expect_unique,
    )

    return dq_report(
        t(spark, sf, "orders"),
        {
            "null_custkey": expect_not_null("o_custkey"),
            "dup_orderkeys": expect_unique("o_orderkey"),
            "bad_status": expect_in_set("o_orderstatus", ["O", "F", "P"]),
            "price_out_of_range": expect_between("o_totalprice", 0.0, 1e7),
        },
    )


def rollup_incremental_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized-rollup maintenance: merge the latest day's delta
    into the stored daily rollup by RE-AGGREGATING PARTIALS (counts
    add; exact-decimal sums add), never rescanning history. The query
    returns the maintained rollup; the oracle computes the same rollup
    from scratch — their equality is the maintenance-algebra proof.

    Here the "stored" history rollup is derived in-plan (the fixture
    has no persisted MV); in production it is a table and only the
    delta side scans new data.
    """
    ev = t(spark, sf, "events").select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("value_dec"),
    )
    bounds = ev.agg(F.max("day").alias("last_day"))
    tagged = ev.crossJoin(F.broadcast(bounds))

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_dec").alias("sum_dec"),
        )

    hist = rollup(tagged.filter(F.col("day") < F.col("last_day")))
    delta = rollup(tagged.filter(F.col("day") == F.col("last_day")))
    merged = (
        hist.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_dec").alias("sum_dec"))
    )
    return merged.select(
        "day",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


def hll_daily_users(spark: SparkSession, sf: str) -> DataFrame:
    """Reaggregatable distinct-count sketches: one pass builds per-day
    HLL sketches of user_id; the corpus-wide distinct estimate comes
    from UNION-MERGING the stored sketches, never rescanning events —
    the incremental-maintenance pattern for COUNT(DISTINCT), which has
    no partial-agg form of its own. Published as ERROR-BOUNDED
    CONTRACTS (VERDICT r8 #6): the DataSketches binaries are
    engine-specific, so the raw estimates can't hash-match a DuckDB
    twin — the accuracy claims can. Output: per-day exact distincts
    plus booleans asserting (a) each daily estimate within ±10%
    (absolute floor 2) and (b) the UNION-MERGED total estimate within
    ±5% of the exact corpus-wide distinct count — (b) is the
    mergeability claim itself. The oracle computes the exact columns
    and expects TRUE bounds; everything is deterministic (sketches
    are order-free aggregates over fixed data)."""
    ev = t(spark, sf, "events").select(F.to_date("ts").alias("day"), "user_id")
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_daily"),
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias("est_total")
    )
    exact_total = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_total")
    )
    return (
        daily.select(
            "day",
            F.hll_sketch_estimate("sk").cast("bigint").alias("est_daily"),
            "exact_daily",
        )
        .crossJoin(F.broadcast(merged))
        .crossJoin(F.broadcast(exact_total))
        .select(
            "day",
            F.col("exact_daily").cast("bigint").alias("exact_daily"),
            (
                F.abs(F.col("est_daily") - F.col("exact_daily")) * 10
                <= F.greatest(F.lit(20), F.col("exact_daily"))
            ).alias("daily_within_10pct"),
            (
                # greatest(40, ...) absolute floor mirrors the daily /
                # approx_user_stats bounds (ADVICE r9): at small
                # corpus-wide cardinality ±5% rounds to ~1 distinct,
                # which would make the TRUE contract sensitive to any
                # engine-version change in HLL internals.
                F.abs(F.col("est_total") - F.col("exact_total")) * 20
                <= F.greatest(F.lit(40), F.col("exact_total"))
            ).alias("total_within_5pct"),
        )
    )


_ROLLING_DAYS = 7


def rolling_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """Exact trailing-7-day distinct users per day (round 11) — the
    sliding COUNT(DISTINCT) every product-metrics pipeline needs
    (rolling WAU), which has NO native partial-agg or window form:
    a naive day-range self-join re-deduplicates the whole window per
    day, and windowed approx sketches change the answer. The scalable
    exact lowering is CONTRIBUTION EXPANSION: dedup events to (user,
    day) once, explode each row to the ≤7 target days it can serve
    (a map-side bounded fanout — sequence() of fixed length, the
    sliding_window_rollup idiom), dedup (user, target_day), and count
    per day. Work is O(events + 7·active_user_days) with two hash
    aggregations — no window, no day×day join, no global sort; at
    1000 executors every stage shuffles on high-cardinality keys.
    Days with no events contribute no row (inner join with observed
    days), matching the oracle's day list."""
    ev = t(spark, sf, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    ud = ev.distinct()  # (day, user) — one row per active user-day
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), _ROLLING_DAYS - 1))
        ).alias("tday"),
    ).distinct()
    roll = contrib.groupBy("tday").agg(
        F.count(F.lit(1)).cast("bigint").alias("users_7d")
    )
    daily = ud.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("users_1d")
    )
    return daily.join(roll, daily["day"] == roll["tday"]).select(
        "day", "users_1d", "users_7d"
    )


def event_pattern_match(spark: SparkSession, sf: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence detection without a native
    operator: each user's events collapse into one ordered code string
    (array_sort over (ts, event_id) structs — deterministic under ties
    because event_id is unique), then pattern questions become regexes
    over that string. One shuffle on user_id; the per-user string is
    bounded by the user's event count, never the corpus.
    """
    ev = t(spark, sf, "events")
    code = (
        F.when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .otherwise("e")
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts"), F.col("event_id"), code.alias("c")))
            ),
            lambda x: x["c"],
        ),
        "",
    )
    return ev.groupBy("user_id").agg(
        F.length(seq).cast("long").alias("n_events"),
        seq.rlike("s.*p").alias("signup_then_purchase"),
        F.regexp_count(seq, F.lit("cp")).cast("long").alias("n_click_to_buy"),
    )


def cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-activity week,
    counted per week-offset of later activity — two aggregates and one
    broadcast-able join on user_id; the (user, week) distinct bounds
    state at users×weeks, not events.
    """
    ev = t(spark, sf, "events")
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk")
    ).distinct()
    return (
        active.join(firsts, "user_id")
        .select(
            "cohort_week",
            F.expr("datediff(wk, cohort_week) div 7").cast("long").alias("week_n"),
        )
        .groupBy("cohort_week", "week_n")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def event_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition counts between consecutive events
    per user — the path-analysis aggregate behind funnel diagnostics.
    One LAG window per user (deterministic order: ts, event_id), one
    groupBy over a tiny (type × type) domain; transition probability
    uses exact integer counts with a single final division.
    """
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_total = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(row_total), 6).alias("p"),
    )


def event_burst_islands(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands: consecutive events < 10 minutes apart per user
    merge into bursts (lag + cumulative new-island flag — the standard
    two-window island id), reported as per-user burst count and
    largest burst. Two same-key window passes, one aggregate — a
    single shuffle on user_id end to end.
    """
    ev = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.select("user_id", "ts", "event_id").withColumn(
        "new_island",
        F.when(gap_us.isNull() | (gap_us >= 600_000_000), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island", F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_island = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_bursts"),
        F.max("sz").alias("max_burst"),
        F.sum(F.when(F.col("sz") >= 3, 1).otherwise(0)).cast("long").alias("n_bursts_3plus"),
    )


def full_outer_reconcile(spark: SparkSession, sf: str) -> DataFrame:
    """FULL OUTER join — the snapshot-reconciliation shape (which keys
    exist only on side A, only on side B, or on both): high-value
    orders vs urgent orders on o_orderkey, classified and counted.
    The only outer-join variant the surface didn't already exercise;
    at scale it shuffles both sides once on the key like any
    fact⋈fact equi-join (AQE handles the null-heavy skew of mostly
    one-sided keys)."""
    orders = t(spark, sf, "orders")
    a = orders.filter(F.col("o_totalprice") > 100000).select(
        "o_orderkey", F.lit(1).alias("__a")
    )
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.lit(1).alias("__b")
    )
    return (
        a.join(b, "o_orderkey", "full_outer")
        .select(
            F.when(F.col("__a").isNotNull() & F.col("__b").isNotNull(), "both")
            .when(F.col("__a").isNotNull(), "left_only")
            .otherwise("right_only")
            .alias("match_status")
        )
        .groupBy("match_status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def json_roundtrip_stats(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-lines source/sink parity (completes the format matrix with
    parquet/ORC/XML/CSV/binary): the documents profile written as
    partitioned JSON lines and read back schema-first, then
    aggregated — oracle runs on the ORIGINAL table, so any lossy
    round trip (type coercion, encoding) breaks the hash.
    """
    from fsc_etl_spark.scratch import scratch_path

    docs = t(spark, sf, "documents").select("doc_id", "source", "lang", "n_chars")
    path = scratch_path("json") + "/documents_json"
    docs.write.mode("overwrite").json(path)
    back = spark.read.schema(docs.schema).json(path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("lang")).alias("n_langs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def nested_roundtrip_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Denormalize → renormalize round trip: each customer's orders
    collected into a sorted array-of-structs (the nested lakehouse
    document shape), then re-flattened with ``inline`` and aggregated.
    The oracle runs on the flat originals, so the nest/unnest pair
    must be lossless — including struct field order and the
    deterministic array sort.
    """
    o = t(spark, sf, "orders").select(
        "o_custkey",
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("vc"),
    )
    nested = o.groupBy("o_custkey").agg(
        F.sort_array(F.collect_list(F.struct("o_orderkey", "vc"))).alias("orders")
    )
    flat = nested.select(
        "o_custkey", F.size("orders").cast("long").alias("n_orders"), F.inline("orders")
    )
    return flat.groupBy("o_custkey").agg(
        F.max("n_orders").alias("n_orders"),
        F.count(F.lit(1)).alias("n_flat"),
        F.sum("vc").alias("sum_cents"),
        F.min("o_orderkey").alias("min_okey"),
        F.max("o_orderkey").alias("max_okey"),
    )


def assoc_rules_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association rules over order baskets: for part
    pairs co-occurring in >= 0.1% of orders (1000·s_xy >= N, an exact
    integer-rational support floor), both directed rules with
    confidence and lift in parts-per-million — all BIGINT floor
    arithmetic, no float probability anywhere. Top-20 by (confidence,
    support, antecedent, consequent) with full tie-breaks.

    The a-priori first pass at scale: the pair expansion is bounded
    per order (baskets have bounded line counts), pair supports are
    one partial-agg shuffle, and the per-item supports join back as a
    broadcast (item dimension-sized). Confidence = s_xy/s_x, lift =
    s_xy·N/(s_x·s_y) — the co-purchase signals a recommender or
    mixture designer reads off the same fixture the graph family
    builds its co-occurrence edges from.
    """
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    with cache_scope() as cs:
        # One sorted part set per basket, as in basket_pair_support. The
        # basket frame is read three times (n_orders, item supports, pair
        # expansion), so it is persisted and released once the bounded
        # top-20 is materialised.
        bsk = cs.persist(
            li.groupBy("l_orderkey")
            .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
            .repartition(shuffle_parallelism(li))
        )
        n_orders = bsk.agg(F.count(F.lit(1)).cast("long").alias("__n"))
        pair_support = (
            bsk.select(expand_pairs("ps", "x", "y").alias("p"))
            .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.count(F.lit(1)).cast("long").alias("s_xy"))
        )
        item_support = (
            bsk.select(F.explode("ps").alias("item"))
            .groupBy("item")
            .agg(F.count(F.lit(1)).cast("long").alias("s_item"))
        )
        rules = (
            # both directed rules in ONE pass over the pair aggregate
            pair_support.select(
                F.explode(
                    F.array(
                        F.struct(F.col("x"), F.col("y"), F.col("s_xy")),
                        F.struct(
                            F.col("y").alias("x"), F.col("x").alias("y"), F.col("s_xy")
                        ),
                    )
                ).alias("r")
            )
            .select("r.x", "r.y", "r.s_xy")
            .join(F.broadcast(item_support.withColumnRenamed("item", "x")
                              .withColumnRenamed("s_item", "s_x")), "x")
            .join(F.broadcast(item_support.withColumnRenamed("item", "y")
                              .withColumnRenamed("s_item", "s_y")), "y")
            .crossJoin(F.broadcast(n_orders))
            .filter(F.expr("1000 * s_xy >= __n"))
            .select(
                F.col("x").alias("antecedent"),
                F.col("y").alias("consequent"),
                "s_xy",
                F.expr("(s_xy * 1000000) div s_x").cast("long").alias("confidence_ppm"),
                F.expr("(s_xy * __n * 1000000) div (s_x * s_y)")
                .cast("long")
                .alias("lift_ppm"),
            )
        )
        out = rules.orderBy(
            F.col("confidence_ppm").desc(),
            F.col("s_xy").desc(),
            F.col("antecedent").asc(),
            F.col("consequent").asc(),
        ).limit(20)
        return cs.result(out)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "assoc_rules_parts": assoc_rules_parts,
    "cube_order_stats": cube_order_stats,
    "json_roundtrip_stats": json_roundtrip_stats,
    "nested_roundtrip_stats": nested_roundtrip_stats,
    "full_outer_reconcile": full_outer_reconcile,
    "event_transition_matrix": event_transition_matrix,
    "event_burst_islands": event_burst_islands,
    "event_pattern_match": event_pattern_match,
    "cohort_retention": cohort_retention,
    "grouping_sets_priority": grouping_sets_priority,
    "intersect_customers": intersect_customers,
    "except_all_priorities": except_all_priorities,
    "json_event_props": json_event_props,
    "asof_click_purchase": asof_click_purchase,
    "range_join_recent_views": range_join_recent_views,
    "approx_user_stats": approx_user_stats,
    "q3_shipping_priority": q3_shipping_priority,
    "q6_revenue_forecast": q6_revenue_forecast,
    "unpivot_lineitem_metrics": unpivot_lineitem_metrics,
    "explode_doc_tokens": explode_doc_tokens,
    "dq_orders_report": dq_orders_report,
    "rollup_incremental_merge": rollup_incremental_merge,
    "hll_daily_users": hll_daily_users,
    "rolling_distinct_users": rolling_distinct_users,
}


EXT_ORACLES: dict[str, str] = {}

# Error-bounded contracts for the approximate-aggregate pair
# (VERDICT r8 #6): the oracle recomputes the EXACT columns and
# expects TRUE for every advertised bound — the sketch estimate
# itself is engine-specific, its documented accuracy is not.
EXT_ORACLES["approx_user_stats"] = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS users_within_5pct,
       TRUE AS p50_within_tol,
       TRUE AS p95_within_tol,
       TRUE AS quantiles_ordered
FROM events GROUP BY event_type
"""

EXT_ORACLES["hll_daily_users"] = """
SELECT CAST(ts AS DATE) AS day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_daily,
       TRUE AS daily_within_10pct,
       TRUE AS total_within_5pct
FROM events GROUP BY 1
"""

# The oracle states the SPEC (distinct users in [day-6, day] per
# observed day) with a range join — fine at gate scale; the Spark
# plan is the scalable contribution-expansion lowering of the same.
EXT_ORACLES["rolling_distinct_users"] = f"""
WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
daily AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS users_1d FROM ud GROUP BY day
)
SELECT d.day, d.users_1d,
       CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS users_7d
FROM daily d
JOIN ud u ON u.day BETWEEN d.day - {_ROLLING_DAYS - 1} AND d.day
GROUP BY d.day, d.users_1d
"""

EXT_ORACLES["json_roundtrip_stats"] = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_id
FROM documents GROUP BY source
"""

EXT_ORACLES["nested_roundtrip_stats"] = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
  FROM orders
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) AS BIGINT) AS n_flat,
       CAST(SUM(vc) AS BIGINT) AS sum_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_okey,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_okey
FROM o GROUP BY o_custkey
"""

EXT_ORACLES["full_outer_reconcile"] = """
WITH a AS (
  SELECT o_orderkey, 1 AS fa FROM orders WHERE o_totalprice > 100000
),
b AS (
  SELECT o_orderkey, 1 AS fb FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT CASE
         WHEN fa IS NOT NULL AND fb IS NOT NULL THEN 'both'
         WHEN fa IS NOT NULL THEN 'left_only'
         ELSE 'right_only'
       END AS match_status,
       COUNT(*) AS n
FROM a FULL OUTER JOIN b USING (o_orderkey)
GROUP BY 1
"""

EXT_ORACLES["event_burst_islands"] = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('microseconds', LAG(ts) OVER w, ts) >= 600000000
              THEN 1 ELSE 0 END AS new_island
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
  SELECT user_id,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
per_island AS (
  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS sz
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       COUNT(*) AS n_bursts,
       MAX(sz) AS max_burst,
       CAST(SUM(CASE WHEN sz >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_bursts_3plus
FROM per_island GROUP BY user_id
"""

EXT_ORACLES["event_transition_matrix"] = """
WITH pairs AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
),
c AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
FROM c
"""

EXT_ORACLES["event_pattern_match"] = """
WITH coded AS (
  SELECT user_id, ts, event_id,
         CASE event_type
           WHEN 'signup' THEN 's'
           WHEN 'view' THEN 'v'
           WHEN 'click' THEN 'c'
           WHEN 'purchase' THEN 'p'
           ELSE 'e'
         END AS c
  FROM events
),
seqs AS (
  SELECT user_id, string_agg(c, '' ORDER BY ts, event_id) AS seq
  FROM coded GROUP BY user_id
)
SELECT user_id,
       CAST(length(seq) AS BIGINT) AS n_events,
       regexp_matches(seq, 's.*p') AS signup_then_purchase,
       CAST(len(regexp_extract_all(seq, 'cp')) AS BIGINT) AS n_click_to_buy
FROM seqs
"""

EXT_ORACLES["cohort_retention"] = """
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
  FROM events
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, wk) // 7 AS BIGINT) AS week_n,
       COUNT(*) AS n_active
FROM active JOIN firsts USING (user_id)
GROUP BY 1, 2
"""

EXT_ORACLES["cube_order_stats"] = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

EXT_ORACLES["grouping_sets_priority"] = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""

EXT_ORACLES["intersect_customers"] = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
"""

EXT_ORACLES["except_all_priorities"] = """
WITH d AS (
  SELECT o_orderpriority FROM orders
  EXCEPT ALL
  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
)
SELECT o_orderpriority, COUNT(*) AS n FROM d GROUP BY o_orderpriority
"""

EXT_ORACLES["json_event_props"] = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
FROM events
"""

EXT_ORACLES["asof_click_purchase"] = """
SELECT c.user_id, c.event_id, c.ts AS click_ts,
       p.event_id AS purchase_event_id, p.ts AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.ts <= c.ts
"""

EXT_ORACLES["q3_shipping_priority"] = """
SELECT l_orderkey, o_orderdate,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                 AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate  > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

EXT_ORACLES["q6_revenue_forecast"] = """
SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

EXT_ORACLES["unpivot_lineitem_metrics"] = """
SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
"""

EXT_ORACLES["explode_doc_tokens"] = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[CAST(i AS INTEGER)] AS tok
FROM d, UNNEST(range(1, len(toks) + 1)) AS t(i)
"""

EXT_ORACLES["range_join_recent_views"] = """
SELECT p.user_id, p.event_id, COUNT(v.event_id) AS n_views
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON v.user_id = p.user_id
 AND v.ts > p.ts - INTERVAL 30 MINUTE
 AND v.ts <= p.ts
GROUP BY p.user_id, p.event_id
"""

EXT_ORACLES["dq_orders_report"] = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
       CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_orderkeys,
       CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                      AND o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
       CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                      AND (o_totalprice < 0.0 OR o_totalprice > 1e7) THEN 1 ELSE 0 END) AS BIGINT) AS price_out_of_range
FROM orders
"""

EXT_ORACLES["rollup_incremental_merge"] = """
SELECT CAST(ts AS DATE) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""

EXT_ORACLES["assoc_rules_parts"] = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM baskets),
ps AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y, CAST(COUNT(*) AS BIGINT) AS s_xy
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
),
items AS (
  SELECT l_partkey AS item, CAST(COUNT(*) AS BIGINT) AS s_item
  FROM baskets GROUP BY l_partkey
),
directed AS (
  SELECT x, y, s_xy FROM ps
  UNION ALL
  SELECT y AS x, x AS y, s_xy FROM ps
),
rules AS (
  SELECT d.x AS antecedent, d.y AS consequent, d.s_xy,
         CAST((d.s_xy * 1000000) // ix.s_item AS BIGINT) AS confidence_ppm,
         CAST((d.s_xy * n.n_orders * 1000000) // (ix.s_item * iy.s_item) AS BIGINT)
           AS lift_ppm
  FROM directed d
  JOIN items ix ON ix.item = d.x
  JOIN items iy ON iy.item = d.y
  CROSS JOIN n
  WHERE 1000 * d.s_xy >= n.n_orders
)
SELECT antecedent, consequent, s_xy, confidence_ppm, lift_ppm
FROM rules
ORDER BY confidence_ppm DESC, s_xy DESC, antecedent, consequent
LIMIT 20
"""
