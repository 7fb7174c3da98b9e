"""Scale-pattern queries: the 100 TB plays, driver-checkable.

Each query here demonstrates a pattern whose payoff only appears at
cluster scale — bloom-pruned shuffles, exact heavy hitters without a
full-key-space shuffle, deterministic per-group reservoir sampling —
but whose RESULT is exactly reproducible by an ANSI-SQL oracle, so the
driver's hash gate verifies the optimization changed the plan, not the
answer.

No reference twin: the reference engine (a single-notebook Databricks
ETL, /root/reference/main.py) has none of these; they extend SURVEY.md
§2.12's training-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fsc_etl_spark.operators.bloom import bloom_pruned_semi_join
from fsc_etl_spark.operators.cache import cache_scope
from fsc_etl_spark.operators.sketches import (
    CMS_DEPTH,
    CMS_WIDTH,
    HLL_BUCKETS,
    HLL_RANK_BITS,
    cms_build,
    cms_estimate,
    cms_merge,
    hll_estimate,
    hll_merge,
    hll_registers,
)
from fsc_etl_spark.operators.skew import heavy_hitters_exact
from fsc_etl_spark.sources.readers import read_parquet_table as t


def bloom_pruned_join(spark: SparkSession, sf: str) -> DataFrame:
    """Fact-side bloom pruning ahead of an exact semi join (see
    operators/bloom.py): lineitem rows for urgent orders, aggregated
    per returnflag.

    The bloom membership test is evaluated map-side at the lineitem
    scan — at 100 TB only ~1/5 of the fact rows (urgent share) reach
    the semi-join exchange, while the final exact join keeps the result
    hash-identical to the plain `IN` subquery oracle.
    """
    orders = t(spark, sf, "orders")
    keys = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    li = t(spark, sf, "lineitem")
    pruned = bloom_pruned_semi_join(li, keys, fact_col="l_orderkey", key_col="o_orderkey")
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


def heavy_hitter_users(spark: SparkSession, sf: str) -> DataFrame:
    """Exact heavy hitters over events.user_id: users with ≥ 1.2× the
    mean per-user event count (φ = 6 / (5·U) as an exact rational — no
    float threshold, so the HAVING boundary is bit-identical to the
    oracle).

    Uses the pigeonhole candidates + exact-recount shape
    (operators/skew.heavy_hitters_exact): the long tail of the key
    space is discarded map-side and never crosses an exchange.
    """
    ev = t(spark, sf, "events").select("user_id")
    share = ev.agg(
        F.lit(6).cast("long").alias("num"),
        (F.lit(5) * F.count_distinct(F.col("user_id"))).cast("long").alias("den"),
    )
    return heavy_hitters_exact(ev, ["user_id"], share)


def reservoir_sample_per_source(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic k-per-group sample: exactly 5 documents per source,
    chosen by md5(doc_id) rank — a seeded reservoir whose selection is
    reproducible across runs, engines, and data layouts (unlike
    rand()-based sampling, which breaks retried-task determinism).

    WindowGroupLimit applies: the rank ≤ k predicate is pushed into the
    window operator, so each group keeps a 5-row heap instead of fully
    sorting — per-group cost O(n log k), shuffle only on source.
    """
    docs = t(spark, sf, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
    )


def table_profile_stats(spark: SparkSession, sf: str) -> DataFrame:
    """ANALYZE-style column profile of ``orders`` — per column: row
    count, null count, EXACT distinct count, min and max — the stats
    collection pass a cost-based optimizer (or a data-quality gate)
    runs per table.

    One pass, one shuffle: the columns UNPIVOT into (col_name, val)
    rows — values rendered in an order-preserving canonical string
    form (non-negative numerics zero-padded to fixed width, dates as
    ISO strings) so a single string min/max/count_distinct aggregate
    profiles every column at once. At 100 TB this is ~n_cols x rows
    of map-side expansion into ONE groupBy(col_name) — no per-column
    scan loop, no driver iteration; the canonical form keeps the
    whole pass in two HashAggregates.
    """
    pad = lambda c: F.lpad(F.col(c).cast("string"), 20, "0")  # noqa: E731
    o = t(spark, sf, "orders").select(
        pad("o_orderkey").alias("o_orderkey"),
        pad("o_custkey").alias("o_custkey"),
        F.lpad(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .cast("string"),
            20,
            "0",
        ).alias("o_totalprice_cents"),
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
        F.col("o_orderpriority").alias("o_orderpriority"),
    )
    cols = list(o.columns)
    stacked = o.select(
        F.expr(
            "stack({n}, {pairs}) AS (col_name, val)".format(
                n=len(cols),
                pairs=", ".join(f"'{c}', {c}" for c in cols),
            )
        )
    )
    return stacked.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("val")).alias("n_nulls"),
        F.count_distinct("val").alias("ndv"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


def zorder_key_demo(spark: SparkSession, sf: str) -> DataFrame:
    """The Morton/Z-order key primitive behind maintenance.zorder_by,
    driver-verified with FIXED bin boundaries (the production path
    derives them from a percentile_approx sketch, which is
    engine-specific; literal boundaries make the interleave arithmetic
    itself oracle-checkable). 16 equi-spaced bins per dimension over
    (user_id, value) → a 8-bit z key; pure integer bit math, no UDF.
    """
    from fsc_etl_spark.operators.maintenance import zorder_value

    ev = t(spark, sf, "events")
    ub = [float(x) for x in range(100, 1500, 100)]   # 14 interior bounds
    vb = [float(x) for x in range(40, 600, 40)]      # 14 interior bounds
    z = zorder_value(
        F.col("user_id").cast("double"), F.col("value"), ub, vb, bits=4
    )
    return ev.select("event_id", z.alias("zkey"))


def fuzzy_name_match(spark: SparkSession, sf: str) -> DataFrame:
    """Record-linkage shape: fuzzy self-match of part names within
    edit distance 2, DEDUPED-then-BLOCKED — distinct names first (the
    only sane opening move at corpus scale: the name domain is tiny
    relative to rows), then candidate pairs only within a blocking key
    (shared last token), then the exact levenshtein verify. Blocking
    is part of the operator's contract (standard record linkage), so
    the oracle applies the identical block + verify. All-pairs never
    happens: cost is Σ block², not n².
    """
    part = t(spark, sf, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("blk", F.element_at(F.split(F.col("p_name"), " "), -1))
    )
    a = names.select(
        F.col("blk"),
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_a"),
    )
    b = names.select(
        F.col("blk"),
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_b"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein(F.col("name_a"), F.col("name_b")).cast("long"))
        .filter(F.col("dist") <= 2)
        .select(
            "name_a",
            "name_b",
            "dist",
            (F.col("n_a") + F.col("n_b")).alias("n_parts_pair"),
        )
    )


def dpp_pruned_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic partition pruning end-to-end: events re-laid-out
    partitioned by event_type, then joined to a conversion dim whose
    qualifying keys only exist at runtime — Catalyst injects a
    ``dynamicpruningexpression`` partition filter into the fact scan
    (asserted by tests/test_plan_quality.py), so only the 2 conversion
    partitions are ever read.

    At 100 TB this is THE mechanism that keeps star joins from
    scanning every date/type partition: the dim filter's key set is
    broadcast once and reused as a scan-time partition predicate,
    costing nothing beyond the broadcast the join already needs.
    """
    from fsc_etl_spark.scratch import scratch_path

    ev = t(spark, sf, "events").select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("vc"),
    )
    path = scratch_path("dpp") + "/events_by_type"
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    conv = (
        t(spark, sf, "events")
        .select("event_type")
        .distinct()
        .filter(F.col("event_type").isin("purchase", "signup"))
    )
    return (
        fact.join(F.broadcast(conv), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("vc").alias("sum_cents"),
        )
    )


def skyline_orders(spark: SparkSession, sf: str) -> DataFrame:
    """2-D Pareto frontier of orders: the price/recency trade-off curve
    — (price, latest order date at that price) pairs not dominated by
    any strictly cheaper price with an equal-or-later date.

    Uses operators/graph.skyline_2d: distinct-collapse, then the
    sort + prefix-max sweep run TWO-PHASE (range partition on price,
    per-range prefix max + broadcast prefix of earlier ranges' maxes)
    — no single task ever sees the whole table, unlike the naive
    global-window sweep. Exact decimal prices so the frontier boundary
    is bit-stable.
    """
    from fsc_etl_spark.operators.graph import skyline_2d

    o = t(spark, sf, "orders").select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    sky = skyline_2d(o, "price", "odate")
    return sky.select(F.col("price").cast("double").alias("price"), "odate")


def value_anomaly_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type 3σ outliers over events.value with INTEGER-EXACT
    statistics: values are fixed-point cents, and the z² > 9 test is
    rearranged to avoid any division —

        (n·v − s)² > 9·(n·q − s²)

    with s = Σv, q = Σv² in DECIMAL(38,0), so the flag boundary is
    bit-identical to the oracle (float mean/stddev would be
    accumulation-order-dependent). One agg pass + a broadcast join of
    the per-type stats row back onto the fact — map-side flagging, no
    second shuffle.
    """
    ev = t(spark, sf, "events").select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("decimal(38,0)").alias("vc"),
    )
    dec = "decimal(38,0)"
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("vc").cast(dec).alias("s"),
        F.sum(F.col("vc") * F.col("vc")).cast(dec).alias("q"),
    )
    j = ev.join(F.broadcast(stats), "event_type")
    d = F.col("n") * F.col("vc") - F.col("s")
    lhs = (d * d).cast(dec)
    rhs = (F.lit(9).cast(dec) * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))).cast(dec)
    return j.filter(lhs > rhs).select(
        "event_id",
        "event_type",
        (F.col("vc").cast("double") / 100).alias("value"),
    )


def shuffle_hash_join_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Join-strategy control surface: orders⋈customer forced to
    SHUFFLE_HASH via hint — hash-build per partition, NO sort phase on
    either side (plan-asserted in tests/test_plan_quality.py), the
    right call when both sides are big but the per-partition build
    side fits in memory and sorting 100 TB just to merge would
    dominate. Result is strategy-independent, which is exactly what
    the oracle hash proves.
    """
    o = t(spark, sf, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("vc"),
    )
    c = t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    joined = o.join(c.hint("shuffle_hash"), o["o_custkey"] == c["c_custkey"])
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("vc").alias("min_cents"),
        F.max("vc").alias("max_cents"),
    )


def value_drift_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-drift monitor between the first and second half of
    the event log: per value-bucket counts for each half plus a drift
    flag from the EXACT integer inequality

        |h1·N2 − h2·N1| · 500 > N1·N2

    (relative-frequency gap > 0.2%) — the PSI/chi-square alternative
    that needs no logs or float division, so the flag boundary is
    bit-identical to the oracle. Products ride DECIMAL(38,0) so the
    cross terms cannot wrap at petabyte row counts.

    Split point: the id-range midpoint ``(min+max) div 2`` (a monotone
    proxy for arrival order over the dense event ids) — an O(1)
    min/max aggregate, NOT an exact median, which would buffer every
    id on one reducer at 100 TB (the 10x probe measured that variant
    at 9.2x; this one is a plain scan-reduce). One scalar broadcast;
    bucketing is map-side; one shuffle on the 5-value bucket key.
    """
    ev = t(spark, sf, "events").select(
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("vc"),
    )
    m = ev.agg(
        F.expr("(min(event_id) + max(event_id)) div 2").alias("m")
    )
    bucket = (
        F.when(F.col("vc") < 500, 0)
        .when(F.col("vc") < 1000, 1)
        .when(F.col("vc") < 2000, 2)
        .when(F.col("vc") < 4000, 3)
        .otherwise(4)
    )
    b = ev.join(F.broadcast(m)).select(
        bucket.alias("bucket"),
        F.when(F.col("event_id") < F.col("m"), 1).otherwise(0).alias("is_first"),
    )
    tot = b.agg(
        F.sum("is_first").alias("n1"),
        F.sum(F.lit(1) - F.col("is_first")).alias("n2"),
    )
    dec = "decimal(38,0)"
    g = (
        b.join(F.broadcast(tot))
        .groupBy("bucket", "n1", "n2")
        .agg(
            F.sum("is_first").alias("h1"),
            F.sum(F.lit(1) - F.col("is_first")).alias("h2"),
        )
    )
    lhs = (
        F.abs(
            F.col("h1").cast(dec) * F.col("n2").cast(dec)
            - F.col("h2").cast(dec) * F.col("n1").cast(dec)
        )
        * F.lit(500).cast(dec)
    )
    rhs = F.col("n1").cast(dec) * F.col("n2").cast(dec)
    return g.select(
        "bucket",
        F.col("h1").cast("long").alias("h1"),
        F.col("h2").cast("long").alias("h2"),
        (lhs > rhs).alias("drifted"),
    )


#: PSI buckets (fixed cent boundaries over value*100) and Laplace +1.
_PSI_BOUNDS = [250, 500, 1000, 1500, 2000, 3000, 4000, 6000, 8000]
_PSI_B = len(_PSI_BOUNDS) + 1
#: the ln arguments num and den must stay integer-exact as doubles
_PSI_EXACT_BOUND = 2**53


def psi_value_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index per event type vs the corpus-wide
    value distribution — THE industry drift score (banking model
    monitoring; PSI < 0.1 stable / > 0.25 shifted), complementing
    value_drift_buckets' log-free flag with the standard magnitude.

    EAGER BUILDER: unlike most plan builders this one runs Spark jobs
    at construction time — the bounded (type, bucket) counts are
    checkpointed in a cache scope (released if the check raises) and a
    1-row ``.first()`` validates the 2^53 exactness precondition
    below — so schema-only callers
    (e.g. the final-schema gate) pay one full execution of the
    bounded-counts aggregate. Deliberate: the guard must run before
    the returned plan can be trusted, and the checkpoint caps the
    guard's cost at one scan + one <= |types|·B-row aggregate.
    PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over 10 fixed value buckets,
    Laplace-smoothed (+1 per cell, the dsir_importance_weights
    discipline).

    Exactness (the dsir/bigram micro-nat idiom): with
    num = (h_b+1)(M+B) and den = (g_b+1)(N+B), p/q = num/den exactly;
    ln(num/den) is quantized ONCE per (type, bucket) row — bounded
    |types|·B rows, never per event — to micro-nats by floor, then
    PSI·(N+B)(M+B)·1e6 = Σ (num − den)·lnq is pure DECIMAL(38,0)
    arithmetic and psi_micro comes out by one truncating div (the
    oracle CASE-spells DuckDB's flooring //; quantized terms can dip
    epsilon-negative). num/den are integer-valued doubles below 2^53,
    so the single ln per row sees bit-identical arguments on both
    engines; the independent reference test measures every quantized
    value's distance from its floor boundary.

    Scale shape: bucketing is a map-side CASE; (type, bucket) counts
    collapse map-side to <= |types|·B rows per task; everything after
    the one keyed aggregate runs on broadcast-sized frames.
    """
    ev = t(spark, sf, "events").select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("vc"),
    )
    bucket = F.when(F.col("vc") < _PSI_BOUNDS[0], 0)
    for i, bound in enumerate(_PSI_BOUNDS[1:], start=1):
        bucket = bucket.when(F.col("vc") < bound, i)
    bucket = bucket.otherwise(len(_PSI_BOUNDS))
    with cache_scope() as cs:
        counts = cs.checkpoint(  # bounded: <= |types|*B rows
            ev.select("event_type", bucket.alias("b"))
            .groupBy("event_type", "b")
            .agg(F.count(F.lit(1)).alias("h"))
        )
        corpus = counts.groupBy("b").agg(F.sum("h").alias("g"))
        ntot = counts.groupBy("event_type").agg(F.sum("h").alias("n_events"))
        mtot = corpus.agg(F.sum("g").alias("m_total"))
        # Validate the documented exactness precondition instead of
        # assuming it (the style of weighted PageRank's overflow check in
        # operators/graph.py): the shared ln argument is only
        # bit-identical across engines while num = hp*(m_total+B) and
        # den = gp*(n_events+B) are integer-exact as doubles, i.e. < 2^53.
        # One 1-row collect over the already-checkpointed bounded counts.
        chk = (
            counts.agg(F.max("h").alias("hmax"))
            .crossJoin(
                corpus.agg(F.max("g").alias("gmax"), F.sum("g").alias("mt"))
            )
            .crossJoin(ntot.agg(F.max("n_events").alias("nmax")))
            .first()
        )
        if chk["mt"] is not None and max(
            (chk["hmax"] + 1) * (chk["mt"] + _PSI_B),
            (chk["gmax"] + 1) * (chk["nmax"] + _PSI_B),
        ) >= _PSI_EXACT_BOUND:
            raise ValueError(
                "psi_value_drift: hp*(m_total+B) or gp*(n_events+B) exceeds "
                f"2^53 (m_total={chk['mt']}) — the micro-nat ln quantization "
                "is no longer cross-engine exact; pre-aggregate per shard or "
                "rescale counts before calling"
            )
        grid = ntot.crossJoin(
            F.broadcast(
                spark.range(_PSI_B).select(F.col("id").cast("int").alias("b"))
            )
        )
        full = (
            grid.join(counts, ["event_type", "b"], "left")
            .join(F.broadcast(corpus), "b", "left")
            .crossJoin(F.broadcast(mtot))
            .select(
                "event_type",
                "n_events",
                "m_total",
                (F.coalesce(F.col("h"), F.lit(0)) + 1).alias("hp"),
                (F.coalesce(F.col("g"), F.lit(0)) + 1).alias("gp"),
            )
        )
        num = F.col("hp") * (F.col("m_total") + _PSI_B)
        den = F.col("gp") * (F.col("n_events") + _PSI_B)
        lnq = F.floor(
            F.lit(1e6) * F.log(num.cast("double") / den.cast("double"))
        ).cast("long")
        dec = "decimal(38,0)"
        terms = full.select(
            "event_type",
            "n_events",
            "m_total",
            ((num.cast(dec) - den.cast(dec)) * lnq.cast(dec)).alias("term"),
        )
        return cs.result(
            terms.groupBy("event_type", "n_events", "m_total")
            .agg(F.sum("term").alias("psi_num"))
            .select(
                "event_type",
                F.col("n_events").cast("bigint").alias("n_events"),
                F.expr(
                    f"psi_num div (CAST(n_events + {_PSI_B} AS DECIMAL(38,0))"
                    f" * CAST(m_total + {_PSI_B} AS DECIMAL(38,0)))"
                ).cast("bigint").alias("psi_micro"),
            )
        )


def cusum_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """Integer CUSUM changepoint detection per event type (Page 1954
    — the classic sequential drift statistic, completing the drift
    family beside value_drift_buckets' flag and psi_value_drift's
    score): over each type's DAILY count series, the cumulative sum
    of deviations from the series mean. To stay integer-exact the
    deviations are scaled by n_days — dev_d = n_days·c_d − total, so
    Σ dev over all days is exactly 0 and S_i = Σ_{d≤i} dev_d is the
    scaled CUSUM walk. Readout per type: the walk's range
    (max S − min S, the drift magnitude) and the changepoint estimate
    = the day maximizing |S_i| (ties to the EARLIEST day), with the
    walk value there — all BIGINT, plus the day as DATE.

    Scale shape: one (type, day) keyed aggregation collapses events
    map-side; everything after runs on the bounded |types|·|days|
    frame — a type-partitioned ordered window for the prefix sum and
    one keyed agg for range/argmax. S is bounded by n_days·total
    (≈ 2e11 at the 100x probe — BIGINT headroom ~7 orders; at true
    100 TB pre-aggregate per shard or rescale the day grid).
    """
    c = (
        t(spark, sf, "events")
        .select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = c.groupBy("event_type").agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    s = (
        c.join(tot, "event_type")
        .select(
            "event_type",
            "n_days",
            "day",
            F.sum(F.col("n_days") * F.col("cnt") - F.col("total")).over(w).alias("s"),
        )
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), F.col("day").asc()
    )
    return (
        s.withColumn("rn", F.row_number().over(pick))
        .groupBy("event_type")
        .agg(
            F.max("n_days").cast("bigint").alias("n_days"),
            (F.max("s") - F.min("s")).cast("bigint").alias("cusum_range"),
            F.max(F.when(F.col("rn") == 1, F.col("day"))).alias("cp_day"),
            F.max(F.when(F.col("rn") == 1, F.col("s"))).cast("bigint").alias("s_at_cp"),
        )
    )


def k_anonymity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity audit over the (mktsegment, nationkey) quasi-
    identifier pair: every equivalence class with its population and
    an at-risk flag (class size < k = 5) — the pre-release privacy
    gate for user-derived training tables (companion to the
    `pii_redact_stats` content scrub).

    One exact group-by; at 100 TB the class table is quasi-identifier-
    domain-sized (tiny), so the audit is a single shuffle regardless
    of row count.
    """
    c = t(spark, sf, "customer").select("c_mktsegment", "c_nationkey")
    cls = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return cls.select(
        "c_mktsegment",
        "c_nationkey",
        "class_size",
        (F.col("class_size") < 5).alias("at_risk"),
    )


def partition_backfill_rewrite(spark: SparkSession, sf: str) -> DataFrame:
    """Idempotent single-partition backfill via DYNAMIC partition
    overwrite: events land partitioned by event_type, then the 'error'
    partition alone is rewritten with corrected (doubled) values under
    ``partitionOverwriteMode=dynamic`` — the overwrite replaces only
    partitions present in the incoming frame, leaving every other
    partition's files untouched (static mode would have truncated the
    whole table; the oracle's post-state hash would catch that).

    This is THE daily-backfill primitive at 100 TB: rewrite one bad
    day/type in place, never touch (or re-shuffle) the other 10k
    partitions.
    """
    from fsc_etl_spark.scratch import scratch_path

    ev = t(spark, sf, "events").select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("vc"),
    )
    path = scratch_path("backfill") + "/events_by_type"
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    fixed = ev.filter(F.col("event_type") == "error").withColumn(
        "vc", F.col("vc") * 2
    )
    (
        fixed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("vc").alias("sum_cents"),
    )


def merge_schema_read(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-evolved scan: two parquet batches with different columns
    (an old batch with ``vc``, a new batch that added ``prio``) read
    back in one scan with ``mergeSchema=true`` — the union schema
    materializes with NULLs for each batch's missing column, the
    schema-on-read contract every long-lived 100 TB table relies on.
    """
    from fsc_etl_spark.scratch import scratch_path

    o = t(spark, sf, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("vc"),
        "o_orderpriority",
    )
    path = scratch_path("mergeschema") + "/orders_evolved"
    old = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "vc")
    new = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "vc", F.col("o_orderpriority").alias("prio")
    )
    old.write.mode("overwrite").parquet(path + "/b=1")
    new.write.mode("overwrite").parquet(path + "/b=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        path + "/b=1", path + "/b=2"
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("vc").alias("n_with_vc"),
        F.count("prio").alias("n_with_prio"),
        F.sum("vc").alias("sum_cents"),
        F.count_distinct(F.col("prio")).alias("n_prios"),
    )


def table_checksum_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Anti-entropy table validation: per-bucket row counts and content
    checksums over orders — the replication/migration equality check
    that compares two 100 TB table copies by exchanging 64 rows
    instead of joining rows. Each row contributes a 60-bit md5 digest
    of its canonical text form; a bucket checksum is the SUM of
    digests (order-independent, partitioning-invariant), so any
    changed/missing/extra row flips its bucket and the mismatching
    bucket localizes the diff for a narrow re-scan.

    Checksums ride as DECIMAL(38,0)-summed strings so the value is
    exact across engines at any row count.
    """
    o = t(spark, sf, "orders")
    row_repr = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
    )
    h = F.conv(F.substring(F.md5(row_repr), 1, 15), 16, 10).cast("decimal(38,0)")
    return (
        o.select((F.col("o_orderkey") % 64).alias("bucket"), h.alias("h"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("h").cast("decimal(38,0)").cast("string").alias("checksum"),
        )
    )


def daily_value_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    """Lag-1/2/3 autocorrelation of each event type's DAILY event
    count — the seasonality/trend readout run before forecasting or
    anomaly-gating a metric stream, kept hash-exact where a float
    Pearson could never be: all moments are integer (daily counts),
    accumulated in DECIMAL(38,0), and the statistic is emitted as the
    SIGNED SQUARED correlation in ppm — sgn(num) · (10⁶·num²) div
    (varx·vary) with num = nΣxy − ΣxΣy — so both engines compute
    identical integers (num² ≈ 1e21 at the 10x probe scale: far past
    int64, comfortably inside DECIMAL(38,0)).

    Scale shape: one (type, day) count aggregate over the scan, a
    3-row lag grid broadcast, one self-equi-join on (type, day+lag)
    — daily frames are |types|·|days| rows, never event-sized — and
    a |types|·3-row moment aggregate. Constant series (zero variance)
    emit NULL.
    """
    ev = t(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2000-01-01").cast("date")).alias("day"),
    ).agg(F.count(F.lit(1)).alias("y"))
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("lag"))
    a = daily.crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("event_type"),
        F.col("day").alias("day_b"),
        F.col("y").alias("y_b"),
    )
    pairs = a.join(
        b,
        (a["event_type"] == b["event_type"]) & (b["day_b"] == a["day"] + a["lag"]),
    ).select(a["event_type"], "lag", F.col("y").alias("x"), F.col("y_b").alias("z"))
    d38 = "decimal(38,0)"
    m = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("z").cast(d38)).alias("sz"),
        F.sum((F.col("x") * F.col("z")).cast(d38)).alias("sxz"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("z") * F.col("z")).cast(d38)).alias("szz"),
    )
    num = F.col("n") * F.col("sxz") - F.col("sx") * F.col("sz")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    varz = F.col("n") * F.col("szz") - F.col("sz") * F.col("sz")
    corr2 = F.when(
        (varx > 0) & (varz > 0),
        F.when(num < 0, F.lit(-1)).otherwise(F.lit(1)).cast(d38)
        * F.expr(
            "(1000000 * ((n * sxz - sx * sz) * (n * sxz - sx * sz)))"
            " div ((n * sxx - sx * sx) * (n * szz - sz * sz))"
        ),
    )
    return m.select(
        "event_type",
        "lag",
        F.col("n").cast("bigint").alias("n_pairs"),
        corr2.cast("bigint").alias("corr2_signed_ppm"),
    )


def ewma_user_value(spark: SparkSession, sf: str) -> DataFrame:
    """Integer-exact EWMA (α = 1/2) of each user's event values in time
    order: s₁ = v₁, sₜ = (sₜ₋₁ + vₜ) >> 1 — a sequential recurrence no
    window frame can express (flooring makes it non-associative), so
    it's computed as a per-user fold (`F.aggregate`) over the
    time-sorted cents array.

    Scale shape: ONE shuffle on user_id; per-group state is bounded by
    events-per-user (never the table); no global ordering anywhere.
    Arithmetic shift is FLOOR division — DuckDB's integer ``//``
    TRUNCATES on negatives (−9//2 = −4, not −5), so the twin spells
    the floor explicitly as ``floor((acc+x)/2)`` (exact: the running
    state is bounded by max |v|, far under 2^52). Parity including
    negatives is pinned by tests/test_scale_ops.py.
    """
    ev = t(spark, sf, "events").select(
        "user_id",
        F.struct(
            F.col("ts"),
            F.col("event_id"),
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("vc"),
        ).alias("s"),
    )
    g = ev.groupBy("user_id").agg(F.array_sort(F.collect_list("s")).alias("a"))
    return g.select(
        "user_id",
        F.size("a").cast("long").alias("n_events"),
        F.aggregate(
            F.slice("a", 2, F.size("a") - 1),
            F.element_at("a", 1)["vc"],
            lambda acc, x: F.shiftright(acc + x["vc"], 1),
        ).alias("ewma_cents"),
    )


_HOLT_W = 2**31
_HOLT_OFF_L = 2**29
_HOLT_OFF_B = 2**30
_HOLT_RAWMAX = 2**40  # raw seeds are cents (< 2^40); packed states are >= 2^60


def holt_user_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Holt double-exponential smoothing (α = β = 1/2) per user, as an
    integer-exact fold — the TWO-state sequential recurrence

        l_t = floor((v_t + l_{t-1} + b_{t-1}) / 2)
        b_t = floor(((l_t − l_{t-1}) + b_{t-1}) / 2)

    that no window frame or single-value fold can express. The (l, b)
    pair rides through ``F.aggregate`` packed into one BIGINT:
    ``(l + 2^29)·2^31 + (b + 2^30)`` — both components offset positive
    so unpack is a SHIFT and a positive modulo, bit-exact in both
    engines (a double division would lose bits past 2^53, and a
    negative integer div would TRUNCATE in Spark but FLOOR in DuckDB;
    the positive packing sidesteps both, while the two halvings use
    arithmetic shift / explicit floor, which agree on negatives). The
    first fold element is the raw first value (< 2^40, unambiguously
    distinguishable from any packed state ≥ 2^60), seeding l₁ = v₁,
    b₁ = 0.

    Output: final level, trend, and one-step forecast (l + b) in
    cents, per user. Scale shape: identical to ewma_user_value — one
    shuffle, per-group state bounded by events-per-user.
    """
    ev = t(spark, sf, "events").select(
        "user_id",
        F.struct(
            F.col("ts"),
            F.col("event_id"),
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("vc"),
        ).alias("s"),
    )
    g = ev.groupBy("user_id").agg(F.array_sort(F.collect_list("s")).alias("a"))

    def step(acc, x):
        is_raw = acc < F.lit(_HOLT_RAWMAX)
        l = F.when(is_raw, acc).otherwise(
            F.shiftright(acc, 31) - F.lit(_HOLT_OFF_L)
        )
        b = F.when(is_raw, F.lit(0).cast("long")).otherwise(
            (acc % F.lit(_HOLT_W)) - F.lit(_HOLT_OFF_B)
        )
        newl = F.shiftright(x["vc"] + l + b, 1)
        newb = F.shiftright((newl - l) + b, 1)
        return (newl + F.lit(_HOLT_OFF_L)) * F.lit(_HOLT_W) + (
            newb + F.lit(_HOLT_OFF_B)
        )

    folded = g.select(
        "user_id",
        F.size("a").cast("long").alias("n_events"),
        F.aggregate(
            F.slice("a", 2, F.size("a") - 1),
            F.element_at("a", 1)["vc"],
            step,
        ).alias("acc"),
    )
    is_raw = F.col("acc") < F.lit(_HOLT_RAWMAX)
    l = F.when(is_raw, F.col("acc")).otherwise(
        F.shiftright(F.col("acc"), 31) - F.lit(_HOLT_OFF_L)
    )
    b = F.when(is_raw, F.lit(0).cast("long")).otherwise(
        (F.col("acc") % F.lit(_HOLT_W)) - F.lit(_HOLT_OFF_B)
    )
    return folded.select(
        "user_id",
        "n_events",
        l.alias("level_cents"),
        b.alias("trend_cents"),
        (l + b).alias("forecast_cents"),
    )


def file_provenance_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Scan-level provenance via the hidden ``_metadata`` struct: rows
    grouped by source file with key-range stats — the debugging /
    incremental-reprocessing primitive (which files fed a partition,
    what key range does each file cover) that costs nothing because
    the file name is scan-local metadata, not a stored column.

    The per-file grouping is then folded to LAYOUT-INDEPENDENT totals
    so the oracle holds however the fixture is laid out (one file or
    many, any basename): summed per-file counts must equal the table
    count (catches double-reads), the per-file key ranges must cover
    the table's range, and every contributing file name must carry the
    parquet suffix (catches a mis-read ``_metadata`` column). The
    per-file form itself (name → count/range) is what a debugging
    session would show; it is inherently layout-bound, so only its
    invariants are oracle-pinned.
    """
    li = t(spark, sf, "lineitem").select(
        F.col("_metadata.file_name").alias("file_name"), "l_orderkey"
    )
    per_file = li.groupBy("file_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_orderkey").alias("min_okey"),
        F.max("l_orderkey").alias("max_okey"),
    )
    return per_file.agg(
        F.sum("n_rows").alias("n_rows"),
        F.min("min_okey").alias("min_okey"),
        F.max("max_okey").alias("max_okey"),
        F.min(
            F.when(F.col("file_name").endswith(".parquet"), 1).otherwise(0)
        ).cast("bigint").alias("all_parquet_files"),
    )


def bucketed_join_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Co-located fact⋈fact join: orders and lineitem are written
    bucketed 8-ways on the order key (external tables under the
    deterministic scratch path), then joined and rolled up WITHOUT any
    Exchange above the scans — both sides' bucket layout satisfies the
    join's distribution requirement at read time.

    At 100 TB this is THE repeated-join play: pay the bucketing
    shuffle once at ingest, then every daily orders⋈lineitem join
    reads matching buckets locally (tests/test_layout_skew.py asserts
    the no-Exchange plan for this exact layout; this query makes the
    result itself driver-checkable). The result is layout- and
    strategy-independent, so it hash-matches the plain join oracle —
    the final rollup's own exchange (different key) remains, as it
    would on any layout.
    """
    from fsc_etl_spark.scratch import scratch_path

    o = t(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    li = t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    base = scratch_path("bucketed")
    for name, df in (("fsc_b_orders", o), ("fsc_b_lineitem", li)):
        (
            df.write.mode("overwrite")
            .option("path", f"{base}/{name}")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable(name)
        )
    joined = spark.table("fsc_b_orders").join(
        spark.table("fsc_b_lineitem"), "o_orderkey"
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("price_cents").alias("sum_price_cents"),
    )


def cms_topk_users(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min-sketch top-20 users by estimated event count, with
    the true count beside the estimate (operators/sketches.cms_build /
    cms_estimate; d=4 md5 rows x w=64 counters).

    The sketch build is one map-side partial aggregation collapsing to
    d·w = 256 counter cells before the exchange — the 100 TB shape:
    per-task sketch state is bounded and merges by addition, so the
    shuffle is O(cells), not O(rows). The probe broadcasts the counter
    table. Estimates are deterministic integers (md5 hash family), so
    the DuckDB twin — which builds the SAME counters from per-user
    counts, exact by additivity — hash-matches, including the
    guaranteed est_cnt >= exact_cnt overestimate.
    """
    ev = t(spark, sf, "events").select("user_id")
    counters = cms_build(ev, "user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = cms_estimate(exact, counters, "user_id")
    return (
        est.select("user_id", "est_cnt", "exact_cnt")
        .orderBy(F.col("est_cnt").desc(), F.col("user_id").asc())
        .limit(20)
    )


def hll_register_build(spark: SparkSession, sf: str) -> DataFrame:
    """Dense HyperLogLog register file over events.user_id
    (operators/sketches.hll_registers; p=6, 64 registers, 60-bit md5
    hashes). Registers are the max leading-zero rank per bucket —
    pure integers, so unlike the harmonic-mean estimate (whose float
    fold is order-dependent) the sketch STATE itself is verified
    bit-for-bit against the oracle replaying the same md5/bin
    arithmetic. Map-side max-merge to <= 64 cells before the exchange;
    `hll_daily_users` remains the approx_count_distinct consumer (its
    oracle checks the estimates' error bounds, not the raw estimates).
    """
    ev = t(spark, sf, "events").select("user_id")
    return hll_registers(ev, "user_id")


def csv_corrupt_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    """PERMISSIVE-mode ingest hardening: a CSV staged from orders with
    deterministic corruption (every o_orderkey % 97 == 0 row gets a
    non-numeric price field), read back under an explicit typed schema
    with ``columnNameOfCorruptRecord`` — malformed rows land in the
    quarantine column instead of failing the scan, clean rows keep
    their types. The split is the standard bad-records sidecar every
    production ingest needs: aggregate the clean side, account for the
    quarantined side (count + raw-line extrema).

    At 100 TB the scan stays a single pass: the corrupt-record routing
    is per-row inside the CSV parser (no second read, no Python), and
    both sides reduce map-side to one summary row.
    """
    from fsc_etl_spark.scratch import scratch_path

    src = t(spark, sf, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        "o_orderpriority",
    )
    line = F.when(
        F.col("o_orderkey") % 97 == 0,
        F.concat_ws(",", F.col("o_orderkey").cast("string"), F.lit("??"), F.col("o_orderpriority")),
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.col("cents").cast("string"),
            F.col("o_orderpriority"),
        )
    )
    path = scratch_path("quarantine") + "/orders_csv"
    src.select(line.alias("value")).write.mode("overwrite").text(path)
    with cache_scope() as cs:
        # Spark disallows plans whose scan projects ONLY the internal
        # corrupt-record column (the quarantine count below does exactly
        # that); materializing the parse first is the documented pattern.
        parsed = cs.checkpoint(
            spark.read.csv(
                path,
                schema="o_orderkey LONG, cents LONG, o_orderpriority STRING, "
                "_corrupt_record STRING",
                mode="PERMISSIVE",
                columnNameOfCorruptRecord="_corrupt_record",
            )
        )
        clean = parsed.filter(F.col("_corrupt_record").isNull())
        bad = parsed.filter(F.col("_corrupt_record").isNotNull())
        c = clean.agg(
            F.count(F.lit(1)).alias("n_clean"),
            F.sum("cents").alias("sum_price_cents"),
        )
        q = bad.agg(
            F.count(F.lit(1)).alias("n_quarantined"),
            F.min("_corrupt_record").alias("min_corrupt"),
            F.max("_corrupt_record").alias("max_corrupt"),
        )
        return cs.result(c.crossJoin(q))


def hll_estimate_users(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-verified HyperLogLog ESTIMATE of distinct events.user_id,
    beside the exact count (operators/sketches.hll_estimate). The
    float estimate is reproduced bit-for-bit by the oracle because
    the harmonic sum folds dyadic 2^-register terms in bucket order —
    identical IEEE additions in identical sequence — making even the
    approximate-aggregate surface hash-checkable (hll_daily_users
    remains the engine-native approx_count_distinct consumer, whose
    oracle checks error bounds rather than the raw estimates).
    """
    ev = t(spark, sf, "events").select("user_id")
    regs = hll_registers(ev, "user_id")
    exact = ev.agg(F.count_distinct("user_id").cast("long").alias("n_exact"))
    return exact.crossJoin(F.broadcast(hll_estimate(regs)))


def cms_merge_halves(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min mergeability, hash-proven: counter tables built
    separately over the even and odd event_id halves SUM per cell
    (operators/sketches.cms_merge) into exactly the single-pass
    sketch over all events — the oracle. Additive merge is what lets
    per-partition partial sketches combine at 100 TB with a bounded
    d·w-cell exchange.
    """
    ev = t(spark, sf, "events").select("event_id", "user_id")
    even = cms_build(ev.filter(F.col("event_id") % 2 == 0), "user_id")
    odd = cms_build(ev.filter(F.col("event_id") % 2 == 1), "user_id")
    return cms_merge(even, odd)


def hll_merge_halves(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch mergeability, hash-proven: build separate HLL register
    files over the even and odd event_id halves, merge them with
    per-bucket max (operators/sketches.hll_merge) — and hash-match
    the oracle's SINGLE-PASS sketch over all events. Equality of the
    merged and direct sketches is exactly the property that lets
    partial sketches combine across partitions/days/shards at 100 TB.
    """
    ev = t(spark, sf, "events").select("event_id", "user_id")
    even = hll_registers(ev.filter(F.col("event_id") % 2 == 0), "user_id")
    odd = hll_registers(ev.filter(F.col("event_id") % 2 == 1), "user_id")
    return hll_merge(even, odd)


QUERIES = {
    "bucketed_join_rollup": bucketed_join_rollup,
    "daily_value_autocorr": daily_value_autocorr,
    "cms_merge_halves": cms_merge_halves,
    "csv_corrupt_quarantine": csv_corrupt_quarantine,
    "hll_estimate_users": hll_estimate_users,
    "hll_merge_halves": hll_merge_halves,
    "cms_topk_users": cms_topk_users,
    "hll_register_build": hll_register_build,
    "bloom_pruned_join": bloom_pruned_join,
    "dpp_pruned_rollup": dpp_pruned_rollup,
    "ewma_user_value": ewma_user_value,
    "file_provenance_stats": file_provenance_stats,
    "holt_user_forecast": holt_user_forecast,
    "k_anonymity_audit": k_anonymity_audit,
    "merge_schema_read": merge_schema_read,
    "partition_backfill_rewrite": partition_backfill_rewrite,
    "table_checksum_buckets": table_checksum_buckets,
    "fuzzy_name_match": fuzzy_name_match,
    "heavy_hitter_users": heavy_hitter_users,
    "reservoir_sample_per_source": reservoir_sample_per_source,
    "shuffle_hash_join_stats": shuffle_hash_join_stats,
    "skyline_orders": skyline_orders,
    "value_anomaly_events": value_anomaly_events,
    "value_drift_buckets": value_drift_buckets,
    "psi_value_drift": psi_value_drift,
    "cusum_changepoint": cusum_changepoint,
    "table_profile_stats": table_profile_stats,
    "zorder_key_demo": zorder_key_demo,
}

#: mirrors operators/sketches exactly: same md5 strings, same 15-hex
#: truncation, same mod widths; counters built from per-user counts
#: (identical by additivity).
_CMS_ORACLE = f"""
WITH c AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM events GROUP BY user_id
),
probe AS (
  SELECT c.user_id, c.exact_cnt, j.j,
         ('0x' || substr(md5(
            'cms' || CAST(j.j AS VARCHAR) || ':' || CAST(c.user_id AS VARCHAR)
          ), 1, 15))::BIGINT % {CMS_WIDTH} AS b
  FROM c CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS j) j
),
counters AS (
  SELECT j, b, SUM(exact_cnt) AS total FROM probe GROUP BY j, b
),
est AS (
  SELECT p.user_id, p.exact_cnt, CAST(MIN(ct.total) AS BIGINT) AS est_cnt
  FROM probe p JOIN counters ct ON ct.j = p.j AND ct.b = p.b
  GROUP BY p.user_id, p.exact_cnt
)
SELECT user_id, est_cnt, exact_cnt
FROM est
ORDER BY est_cnt DESC, user_id
LIMIT 20
"""

_HLL_ORACLE = f"""
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hh
  FROM events
),
f AS (SELECT hh % {HLL_BUCKETS} AS bucket, hh // {HLL_BUCKETS} AS v FROM h)
SELECT bucket,
       CAST(MAX(CASE WHEN v = 0 THEN {HLL_RANK_BITS + 1}
                     ELSE {HLL_RANK_BITS} - length(bin(v)) + 1 END) AS BIGINT)
         AS register
FROM f GROUP BY bucket
"""

#: registers CTE shared by the estimate/merge twins (same md5/bin
#: arithmetic as _HLL_ORACLE).
_HLL_REGS_CTE = f"""
h AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hh
  FROM events
),
f AS (SELECT hh % {HLL_BUCKETS} AS bucket, hh // {HLL_BUCKETS} AS v FROM h),
regs AS (
  SELECT bucket,
         MAX(CASE WHEN v = 0 THEN {HLL_RANK_BITS + 1}
                  ELSE {HLL_RANK_BITS} - length(bin(v)) + 1 END) AS register
  FROM f GROUP BY bucket
)
"""

_HLL_EST_ORACLE = f"""
WITH {_HLL_REGS_CTE},
lst AS (
  SELECT list(register ORDER BY bucket) AS rs,
         CAST(COUNT(*) AS BIGINT) AS nb
  FROM regs
),
folded AS (
  SELECT nb AS n_used_buckets,
         list_reduce(
           list_prepend(0.0, [power(2.0, -CAST(r AS DOUBLE)) for r in rs]),
           (a, b) -> a + b
         ) + CAST({HLL_BUCKETS} - nb AS DOUBLE) AS harmonic_sum
  FROM lst
)
SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS n_exact,
       n_used_buckets,
       harmonic_sum,
       (0.7213 / (1.0 + 1.079 / {float(HLL_BUCKETS)})) * {HLL_BUCKETS} * {HLL_BUCKETS}
         / harmonic_sum AS hll_estimate
FROM folded
"""

_HLL_MERGE_ORACLE = f"""
WITH {_HLL_REGS_CTE}
SELECT bucket, CAST(register AS BIGINT) AS register FROM regs
"""

SCALE_ORACLES = {
    "daily_value_autocorr": """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '2000-01-01', CAST(ts AS DATE)) AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
lags AS (SELECT CAST(unnest(range(1, 4)) AS INT) AS lag),
pairs AS (
  SELECT a.event_type, l.lag, a.y AS x, b.y AS z
  FROM daily a CROSS JOIN lags l
  JOIN daily b ON b.event_type = a.event_type AND b.day = a.day + l.lag
),
m AS (
  SELECT event_type, lag,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(z AS HUGEINT)) AS HUGEINT) AS sz,
         CAST(SUM(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, lag,
       CAST(n AS BIGINT) AS n_pairs,
       CAST(CASE WHEN (n*sxx - sx*sx) > 0 AND (n*szz - sz*sz) > 0 THEN
         (CASE WHEN (n*sxz - sx*sz) < 0 THEN -1 ELSE 1 END)
         * ((1000000 * (n*sxz - sx*sz) * (n*sxz - sx*sz))
            // ((n*sxx - sx*sx) * (n*szz - sz*sz)))
       END AS BIGINT) AS corr2_signed_ppm
FROM m
""",
    "bucketed_join_rollup": """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS sum_price_cents
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
""",
    "cms_topk_users": _CMS_ORACLE,
    "cms_merge_halves": f"""
WITH c AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id
),
probe AS (
  SELECT c.cnt, j.j,
         ('0x' || substr(md5(
            'cms' || CAST(j.j AS VARCHAR) || ':' || CAST(c.user_id AS VARCHAR)
          ), 1, 15))::BIGINT % {CMS_WIDTH} AS b
  FROM c CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS j) j
)
SELECT j, b, CAST(SUM(cnt) AS BIGINT) AS total FROM probe GROUP BY j, b
""",
    "csv_corrupt_quarantine": """
WITH src AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         o_orderpriority
  FROM orders
),
q AS (
  SELECT CAST(o_orderkey AS VARCHAR) || ',??,' || o_orderpriority AS line
  FROM src WHERE o_orderkey % 97 = 0
),
c AS (SELECT * FROM src WHERE o_orderkey % 97 <> 0)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_clean,
       (SELECT CAST(SUM(cents) AS BIGINT) FROM c) AS sum_price_cents,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n_quarantined,
       (SELECT MIN(line) FROM q) AS min_corrupt,
       (SELECT MAX(line) FROM q) AS max_corrupt
""",
    "hll_estimate_users": _HLL_EST_ORACLE,
    "hll_merge_halves": _HLL_MERGE_ORACLE,
    "hll_register_build": _HLL_ORACLE,
    "table_profile_stats": """
WITH o AS (
  SELECT lpad(CAST(o_orderkey AS VARCHAR), 20, '0') AS o_orderkey,
         lpad(CAST(o_custkey AS VARCHAR), 20, '0') AS o_custkey,
         lpad(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR),
              20, '0') AS o_totalprice_cents,
         CAST(o_orderdate AS VARCHAR) AS o_orderdate,
         o_orderpriority
  FROM orders
),
s AS (
  SELECT 'o_orderkey' AS col_name, o_orderkey AS val FROM o
  UNION ALL SELECT 'o_custkey', o_custkey FROM o
  UNION ALL SELECT 'o_totalprice_cents', o_totalprice_cents FROM o
  UNION ALL SELECT 'o_orderdate', o_orderdate FROM o
  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM o
)
SELECT col_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT(val) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT val) AS BIGINT) AS ndv,
       MIN(val) AS min_val,
       MAX(val) AS max_val
FROM s GROUP BY col_name
""",
    "bloom_pruned_join": """
SELECT
  l_returnflag,
  COUNT(*) AS n_rows,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
GROUP BY l_returnflag
""",
    "heavy_hitter_users": """
WITH s AS (
  SELECT CAST(6 AS BIGINT) AS num,
         CAST(5 * COUNT(DISTINCT user_id) AS BIGINT) AS den
  FROM events
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
c AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id
)
SELECT c.user_id, c.cnt
FROM c, s, tot
WHERE s.den * c.cnt >= s.num * tot.n
""",
    "reservoir_sample_per_source": """
SELECT doc_id, source, rk FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 5
""",
    "fuzzy_name_match": """
WITH names AS (
  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts,
         list_extract(string_split(p_name, ' '), -1) AS blk
  FROM part GROUP BY p_name
)
SELECT a.p_name AS name_a,
       b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
       a.n_parts + b.n_parts AS n_parts_pair
FROM names a JOIN names b
  ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 2
""",
    "value_drift_buckets": """
WITH ev AS (
  SELECT event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
  FROM events
),
cut AS (SELECT (MIN(event_id) + MAX(event_id)) // 2 AS m FROM ev),
b AS (
  SELECT CASE WHEN vc < 500 THEN 0 WHEN vc < 1000 THEN 1
              WHEN vc < 2000 THEN 2 WHEN vc < 4000 THEN 3 ELSE 4 END AS bucket,
         CASE WHEN event_id < (SELECT m FROM cut) THEN 1 ELSE 0 END AS is_first
  FROM ev
),
tot AS (
  SELECT CAST(SUM(is_first) AS BIGINT) AS n1,
         CAST(SUM(1 - is_first) AS BIGINT) AS n2
  FROM b
)
SELECT bucket,
       CAST(SUM(is_first) AS BIGINT) AS h1,
       CAST(SUM(1 - is_first) AS BIGINT) AS h2,
       ABS(CAST(SUM(is_first) AS DECIMAL(38,0)) * t.n2
           - CAST(SUM(1 - is_first) AS DECIMAL(38,0)) * t.n1) * 500
         > CAST(t.n1 AS DECIMAL(38,0)) * t.n2 AS drifted
FROM b, tot t GROUP BY bucket, t.n1, t.n2
""",
    "k_anonymity_audit": """
SELECT c_mktsegment, c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS class_size,
       COUNT(*) < 5 AS at_risk
FROM customer GROUP BY c_mktsegment, c_nationkey
""",
    "partition_backfill_rewrite": """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                * CASE WHEN event_type = 'error' THEN 2 ELSE 1 END)
            AS BIGINT) AS sum_cents
FROM events GROUP BY event_type
""",
    "merge_schema_read": """
WITH o AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
         o_orderpriority
  FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(vc) AS BIGINT) AS n_with_vc,
       CAST(COUNT(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END) AS BIGINT)
         AS n_with_prio,
       CAST(SUM(vc) AS BIGINT) AS sum_cents,
       CAST(COUNT(DISTINCT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END)
            AS BIGINT) AS n_prios
FROM o
""",
    "table_checksum_buckets": """
WITH r AS (
  SELECT o_orderkey % 64 AS bucket,
         CAST(CAST(('0x' || substr(md5(
           CAST(o_orderkey AS VARCHAR) || '|' ||
           CAST(o_custkey AS VARCHAR) || '|' ||
           o_orderstatus || '|' ||
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
           strftime(o_orderdate, '%Y-%m-%d') || '|' ||
           o_orderpriority), 1, 15)) AS BIGINT) AS DECIMAL(38,0)) AS h
  FROM orders
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(h) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
FROM r GROUP BY bucket
""",
    "ewma_user_value": """
WITH ev AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(list_reduce(list(vc ORDER BY ts, event_id),
                        (acc, x) -> CAST(floor((acc + x) / 2) AS BIGINT))
            AS BIGINT) AS ewma_cents
FROM ev GROUP BY user_id
""",
    "holt_user_forecast": """
WITH ev AS (
  SELECT user_id, ts, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
  FROM events
),
folded AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         list_reduce(list(vc ORDER BY ts, event_id), (acc, x) ->
           CASE WHEN acc < 1099511627776 THEN
             (CAST(floor((x + acc) / 2) AS BIGINT) + 536870912) * 2147483648
             + (CAST(floor((CAST(floor((x + acc) / 2) AS BIGINT) - acc) / 2) AS BIGINT)
                + 1073741824)
           ELSE
             (CAST(floor((x + (acc // 2147483648) + (acc % 2147483648)
                          - 1610612736) / 2) AS BIGINT) + 536870912) * 2147483648
             + (CAST(floor((
                  CAST(floor((x + (acc // 2147483648) + (acc % 2147483648)
                              - 1610612736) / 2) AS BIGINT)
                  - (acc // 2147483648) + (acc % 2147483648) - 536870912
                ) / 2) AS BIGINT) + 1073741824)
           END
         ) AS acc
  FROM ev GROUP BY user_id
)
SELECT user_id, n_events,
       CAST(CASE WHEN acc < 1099511627776 THEN acc
                 ELSE (acc // 2147483648) - 536870912 END AS BIGINT) AS level_cents,
       CAST(CASE WHEN acc < 1099511627776 THEN 0
                 ELSE (acc % 2147483648) - 1073741824 END AS BIGINT) AS trend_cents,
       CAST(CASE WHEN acc < 1099511627776 THEN acc
                 ELSE ((acc // 2147483648) - 536870912)
                      + ((acc % 2147483648) - 1073741824) END AS BIGINT) AS forecast_cents
FROM folded
""",
    "file_provenance_stats": """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(l_orderkey) AS BIGINT) AS min_okey,
       CAST(MAX(l_orderkey) AS BIGINT) AS max_okey,
       CAST(1 AS BIGINT) AS all_parquet_files
FROM lineitem
""",
    "dpp_pruned_rollup": """
WITH conv AS (
  SELECT DISTINCT event_type FROM events
  WHERE event_type IN ('purchase', 'signup')
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
FROM events e JOIN conv c ON e.event_type = c.event_type
GROUP BY e.event_type
""",
    "shuffle_hash_join_stats": """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS min_cents,
       CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS max_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    "skyline_orders": """
WITH best AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         MAX(CAST(o_orderdate AS DATE)) AS odate
  FROM orders GROUP BY 1
)
SELECT CAST(b.price AS DOUBLE) AS price, b.odate
FROM best b
WHERE NOT EXISTS (
  SELECT 1 FROM best a WHERE a.price < b.price AND a.odate >= b.odate
)
""",
    "value_anomaly_events": """
WITH ev AS (
  SELECT event_id, event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) AS vc
  FROM events
),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
         CAST(SUM(vc) AS DECIMAL(38,0)) AS s,
         CAST(SUM(vc * vc) AS DECIMAL(38,0)) AS q
  FROM ev GROUP BY event_type
)
SELECT e.event_id, e.event_type, CAST(e.vc AS DOUBLE) / 100 AS value
FROM ev e JOIN stats t ON e.event_type = t.event_type
WHERE (t.n * e.vc - t.s) * (t.n * e.vc - t.s) > 9 * (t.n * t.q - t.s * t.s)
""",
    "zorder_key_demo": f"""
WITH bins AS (
  SELECT event_id,
         len(list_filter({[float(x) for x in range(100, 1500, 100)]!r},
             b -> CAST(user_id AS DOUBLE) >= b)) AS a,
         len(list_filter({[float(x) for x in range(40, 600, 40)]!r},
             b -> value >= b)) AS b
  FROM events
)
SELECT event_id,
       CAST(
           (((a >> 0) & 1) << 1) | (((b >> 0) & 1) << 0)
         | (((a >> 1) & 1) << 3) | (((b >> 1) & 1) << 2)
         | (((a >> 2) & 1) << 5) | (((b >> 2) & 1) << 4)
         | (((a >> 3) & 1) << 7) | (((b >> 3) & 1) << 6)
       AS BIGINT) AS zkey
FROM bins
""",
}


def _psi_oracle() -> str:
    """PSI twin: same fixed bucket CASE, same Laplace +1, same one
    micro-nat floor-quantized ln per (type, bucket) row, HUGEINT term
    accumulation, truncating div CASE-spelled over //."""
    b_case = "CASE " + " ".join(
        f"WHEN vc < {bound} THEN {i}"
        for i, bound in enumerate(_PSI_BOUNDS)
    ) + f" ELSE {len(_PSI_BOUNDS)} END"
    B = _PSI_B
    return f"""
WITH ev AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
  FROM events
),
bc AS (SELECT event_type, {b_case} AS b FROM ev),
counts AS (
  SELECT event_type, b, CAST(COUNT(*) AS BIGINT) AS h
  FROM bc GROUP BY event_type, b
),
corpus AS (SELECT b, CAST(SUM(h) AS BIGINT) AS g FROM counts GROUP BY b),
ntot AS (SELECT event_type, CAST(SUM(h) AS BIGINT) AS n_events
         FROM counts GROUP BY event_type),
mtot AS (SELECT CAST(SUM(g) AS BIGINT) AS m_total FROM corpus),
grid AS (
  SELECT n.event_type, n.n_events, CAST(r.b AS INTEGER) AS b
  FROM ntot n, (SELECT unnest(range({B})) AS b) r
),
f AS (
  SELECT grid.event_type, grid.n_events, m.m_total,
         COALESCE(c.h, 0) + 1 AS hp,
         COALESCE(co.g, 0) + 1 AS gp
  FROM grid
  LEFT JOIN counts c ON c.event_type = grid.event_type AND c.b = grid.b
  LEFT JOIN corpus co ON co.b = grid.b
  CROSS JOIN mtot m
),
terms AS (
  SELECT event_type, n_events, m_total,
         CAST(hp * (m_total + {B}) AS HUGEINT) AS num,
         CAST(gp * (n_events + {B}) AS HUGEINT) AS den,
         CAST(FLOOR(1e6 * ln(CAST(hp * (m_total + {B}) AS DOUBLE)
                             / CAST(gp * (n_events + {B}) AS DOUBLE)))
              AS BIGINT) AS lnq
  FROM f
),
agg AS (
  SELECT event_type, n_events, m_total,
         SUM((num - den) * lnq) AS psi_num
  FROM terms GROUP BY event_type, n_events, m_total
)
SELECT event_type,
       n_events,
       CAST(CASE WHEN psi_num >= 0
                 THEN psi_num // (CAST(n_events + {B} AS HUGEINT)
                                  * CAST(m_total + {B} AS HUGEINT))
                 ELSE -((-psi_num) // (CAST(n_events + {B} AS HUGEINT)
                                       * CAST(m_total + {B} AS HUGEINT)))
            END AS BIGINT) AS psi_micro
FROM agg
"""


SCALE_ORACLES["psi_value_drift"] = _psi_oracle()

# CUSUM over bounded per-type daily counts; DuckDB's windowed
# SUM(BIGINT) yields HUGEINT internally — finals cast BIGINT.
SCALE_ORACLES["cusum_changepoint"] = """
WITH c AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
tt AS (
  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM c GROUP BY 1
),
s AS (
  SELECT c.event_type, tt.n_days, c.day,
         CAST(SUM(tt.n_days * c.cnt - tt.total)
              OVER (PARTITION BY c.event_type ORDER BY c.day) AS BIGINT) AS s
  FROM c JOIN tt USING (event_type)
),
r AS (
  SELECT event_type, n_days, day, s,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(s) DESC, day ASC) AS rn
  FROM s
)
SELECT event_type,
       CAST(MAX(n_days) AS BIGINT) AS n_days,
       CAST(MAX(s) - MIN(s) AS BIGINT) AS cusum_range,
       MAX(CASE WHEN rn = 1 THEN day END) AS cp_day,
       CAST(MAX(CASE WHEN rn = 1 THEN s END) AS BIGINT) AS s_at_cp
FROM r GROUP BY event_type
"""
