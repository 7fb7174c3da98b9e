"""Property-based tests (SURVEY.md §5 item 4): invariants that must
hold for ALL inputs, checked with hypothesis-generated data.

Spark job submission is ~100ms+, so strategies run with small example
counts and deadline disabled — the point is algebraic coverage (merge
idempotency/commutativity, CDC completeness, cast-manifest totality),
not fuzz volume.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fsc_etl_spark.functions.casting import CastSpec, cast_types
from fsc_etl_spark.operators.cdc import snapshot_diff, split_inserts_updates
from fsc_etl_spark.operators.merge import merge_frames

PROP_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

KV_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.LongType()),
        T.StructField("ts", T.LongType()),
    ]
)

# Unique-keyed tables: key -> (value, ts). Small key space forces
# matched/unmatched overlap.
kv_tables = st.dictionaries(
    st.integers(min_value=0, max_value=6),
    st.tuples(st.integers(min_value=-5, max_value=5), st.integers(min_value=0, max_value=3)),
    max_size=7,
)


def _df(spark, d):
    rows = [Row(k=k, v=v, ts=ts) for k, (v, ts) in sorted(d.items())]
    return spark.createDataFrame(rows, KV_SCHEMA)


def _state(df) -> dict:
    return {r["k"]: (r["v"], r["ts"]) for r in df.collect()}


@pytest.mark.slow
@given(target=kv_tables, source=kv_tables)
@settings(**PROP_SETTINGS)
def test_merge_is_idempotent(spark, target, source):
    """Applying the same MERGE twice equals applying it once (the
    exactly-once foundation for the streaming foreachBatch sink)."""
    once = merge_frames(_df(spark, target), _df(spark, source), on=["k"])
    twice = merge_frames(once, _df(spark, source), on=["k"])
    assert _state(once) == _state(twice)


@pytest.mark.slow
@given(target=kv_tables, s1=kv_tables, s2=kv_tables)
@settings(**PROP_SETTINGS)
def test_merge_commutes_on_disjoint_keys(spark, target, s1, s2):
    """Merges of key-disjoint sources commute — the basis for
    parallel per-partition upserts."""
    s2 = {k: v for k, v in s2.items() if k not in s1}
    a = merge_frames(
        merge_frames(_df(spark, target), _df(spark, s1), on=["k"]), _df(spark, s2), on=["k"]
    )
    b = merge_frames(
        merge_frames(_df(spark, target), _df(spark, s2), on=["k"]), _df(spark, s1), on=["k"]
    )
    assert _state(a) == _state(b)


@pytest.mark.slow
@given(target=kv_tables, source=kv_tables)
@settings(**PROP_SETTINGS)
def test_merge_delta_col_is_last_writer_wins(spark, target, source):
    """With a delta column, a matched row takes the source value iff
    source.ts >= target.ts; inserts always land."""
    out = _state(
        merge_frames(_df(spark, target), _df(spark, source), on=["k"], delta_col="ts")
    )
    for k, (v, ts) in source.items():
        if k not in target:
            assert out[k] == (v, ts)
        else:
            expected = (v, ts) if ts >= target[k][1] else target[k]
            assert out[k] == expected
    for k in target:
        assert k in out


@given(
    today=st.lists(st.tuples(st.integers(0, 20), st.integers(0, 3)), max_size=15),
    yesterday=st.lists(st.tuples(st.integers(0, 20), st.integers(0, 3)), max_size=15),
)
@settings(**PROP_SETTINGS)
def test_snapshot_diff_is_new_or_changed(spark, today, yesterday):
    """subtract-CDC returns exactly the distinct rows of today that are
    absent from yesterday; re-running with no changes yields nothing
    (incremental idempotency, SURVEY §5.4)."""
    schema = "id long, val long"
    t_df = spark.createDataFrame(today or [(0, 0)], schema).limit(len(today))
    y_df = spark.createDataFrame(yesterday or [(0, 0)], schema).limit(len(yesterday))
    diff = {tuple(r) for r in snapshot_diff(t_df, y_df).collect()}
    assert diff == set(today) - set(yesterday)
    assert snapshot_diff(t_df, t_df).count() == 0


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 20), st.dates(dt.date(2024, 1, 1), dt.date(2024, 1, 10))),
        max_size=15,
    ),
    run_date=st.dates(dt.date(2024, 1, 2), dt.date(2024, 1, 11)),
)
@pytest.mark.slow
@settings(**PROP_SETTINGS)
def test_insert_update_split_partitions_rows(spark, rows, run_date):
    """The yesterday split is a partition: every changed row lands in
    exactly one of (inserts, updates)."""
    schema = "id long, d date"
    df = spark.createDataFrame(rows or [(0, dt.date(2024, 1, 1))], schema).limit(len(rows))
    inserts, updates = split_inserts_updates(df, "d", run_date)
    yday = run_date - dt.timedelta(days=1)
    assert {tuple(r) for r in inserts.collect()} == {r for r in set(rows) if r[1] == yday}
    assert inserts.count() + updates.count() == len(rows)


@given(
    values=st.lists(
        st.one_of(
            st.none(),
            st.text(max_size=8),
            st.floats(allow_nan=False, allow_infinity=False, width=32).map(str),
            st.integers(-10**9, 10**9).map(str),
            st.dates(dt.date(1990, 1, 1), dt.date(2030, 1, 1)).map(str),
        ),
        max_size=10,
    )
)
@pytest.mark.slow
@settings(**PROP_SETTINGS)
def test_cast_manifest_total_and_null_safe(spark, values):
    """The manifest NEVER throws on malformed strings (silent-null
    semantics of the reference under any ANSI setting), and Integer/
    Date round-trip clean inputs."""
    df = spark.createDataFrame([Row(x=v) for v in values] or [Row(x=None)], "x string").limit(
        len(values)
    )
    out = cast_types(df, [CastSpec("x", "Integer")])
    got = [r["x"] for r in out.collect()]
    for v, g in zip(values, got):
        if v is not None and v.lstrip("-").isdigit() and -(2**31) <= int(v) < 2**31:
            assert g == int(v)


# ---- SCD2 interval invariants ------------------------------------------

def test_scd2_intervals_partition_timeline(spark, sf_smoke):
    """For every user: intervals are disjoint, ordered, cover the span
    from first to last change, exactly one open (is_current) row, and
    each valid_to equals the next valid_from (no gaps)."""
    from fsc_etl_spark.plans.analytics_more import scd2_user_value_history

    rows = scd2_user_value_history(spark, sf_smoke).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for user, ivals in by_user.items():
        ivals.sort(key=lambda r: r["valid_from"])
        open_rows = [r for r in ivals if r["is_current"]]
        assert len(open_rows) == 1 and open_rows[0] is ivals[-1], user
        for a, b in zip(ivals, ivals[1:]):
            assert a["valid_to"] == b["valid_from"], user
        assert ivals[-1]["valid_to"] is None


# ---- Deterministic sampling invariants ---------------------------------

def test_hash_sample_is_deterministic_subset_with_bounded_rate(spark, sf_smoke):
    """Same input -> identical sample (no RNG state); the sample is a
    subset of the input; per-stratum rates land near the md5-bucket
    design rates (26/256 for 'en', 128/256 otherwise)."""
    from fsc_etl_spark.plans.training_data import hash_stratified_sample
    from fsc_etl_spark.sources.readers import read_parquet_table

    s1 = {r["doc_id"] for r in hash_stratified_sample(spark, sf_smoke).collect()}
    s2 = {r["doc_id"] for r in hash_stratified_sample(spark, sf_smoke).collect()}
    assert s1 == s2
    docs = read_parquet_table(spark, sf_smoke, "documents")
    by_lang = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    sampled = hash_stratified_sample(spark, sf_smoke)
    got = {
        r["lang"]: r["n"]
        for r in sampled.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, total in by_lang.items():
        rate = (26 if lang == "en" else 128) / 256
        # 4-sigma binomial tolerance on small strata
        sigma = (total * rate * (1 - rate)) ** 0.5
        assert abs(got.get(lang, 0) - total * rate) <= 4 * sigma + 1, lang


# ---- Derived partsupp determinism --------------------------------------

def test_partsupp_relation_stable_across_partitionings(spark, sf_smoke):
    """The derived part-supplier relation (exact decimal aggregates)
    is identical under different shuffle partition counts — the
    property that makes the Q2/Q11/Q16/Q20 proxies oracle-safe."""
    from fsc_etl_spark.plans.tpch_partsupp import _partsupp

    a = {tuple(r) for r in _partsupp(spark, sf_smoke).collect()}
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        b = {tuple(r) for r in _partsupp(spark, sf_smoke).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert a == b


def test_date_cast_fallback_formats(spark):
    """Multi-format Date specs replace the reference's LEGACY parser:
    each accepted spelling is declared and tried in order; unparseable
    input is silently null (the reference's non-ANSI cast behavior)."""
    df = spark.createDataFrame(
        [("2021-03-05",), ("05/03/2021",), ("2021.03.05",), ("garbage",), (None,)],
        "d string",
    )
    out = cast_types(
        df, [CastSpec("d", "Date", ("yyyy-MM-dd", "dd/MM/yyyy", "yyyy.MM.dd"))]
    ).collect()
    import datetime as dt

    want = dt.date(2021, 3, 5)
    assert [r.d for r in out] == [want, want, want, None, None]


def test_merge_without_evolution_ignores_new_columns(spark):
    """MERGE drops unknown source columns: the target schema is the
    contract."""
    tgt = _df(spark, {1: (10, 5)})
    src = spark.createDataFrame(
        [Row(k=1, v=11, ts=6, tag="x")],
        T.StructType(KV_SCHEMA.fields + [T.StructField("tag", T.StringType())]),
    )
    out = merge_frames(tgt, src, ["k"], delta_col="ts")
    assert out.columns == ["k", "v", "ts"]
    assert _state(out) == {1: (11, 6)}


def test_commit_lock_rejects_concurrent_writer(spark, tmp_path):
    from fsc_etl_spark.operators.merge import ConcurrentWriteError, ParquetMergeTarget
    import os
    import pytest as _pytest

    t = ParquetMergeTarget(spark, str(tmp_path / "tbl"))
    t.overwrite(_df(spark, {1: (10, 1)}))
    lock = os.path.join(t.root, "_commit.lock")
    open(lock, "w").close()  # simulate an in-flight commit
    with _pytest.raises(ConcurrentWriteError):
        t.overwrite(_df(spark, {2: (20, 2)}))
    os.remove(lock)
    t.overwrite(_df(spark, {2: (20, 2)}))  # lock released -> fine
    assert _state(t.read()) == {2: (20, 2)}


def test_commit_swap_stays_under_table_root(spark, tmp_path, monkeypatch):
    """A commit moves the live version aside inside the table root, so
    it works whatever the temp dir is: a rename cannot cross
    filesystems, and a tmpfs temp dir is a different one from the lake.
    A missing temp dir fails any rename into it the same way."""
    import os
    import tempfile

    from fsc_etl_spark.operators.merge import ParquetMergeTarget

    first, second = _df(spark, {1: (10, 1)}), _df(spark, {2: (20, 2)})
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "no-such-dir"))
    t = ParquetMergeTarget(spark, str(tmp_path / "tbl"))
    t.overwrite(first)
    t.overwrite(second)
    assert _state(t.read()) == {2: (20, 2)}
    assert sorted(os.listdir(t.root)) == ["current"]




# ---------------------------------------------------------------------------
# Leakage-safe cluster-aware split (round 12): invariants over
# hypothesis-generated corpora — adversarial cluster topologies
# (chains via shared shingles, singletons, sub-3-token docs that get
# no signature) the fixture reference test can't reach.

_SPLIT_VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

_docs_corpus = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=60),
        st.lists(st.sampled_from(_SPLIT_VOCAB), min_size=1, max_size=8),
    ),
    min_size=1,
    max_size=18,
    unique_by=lambda t: t[0],
)


@pytest.mark.slow
@given(corpus=_docs_corpus)
@settings(**PROP_SETTINGS)
def test_cluster_leakage_split_partitions_and_audits(spark, corpus):
    """For ANY corpus: (a) per-split doc/cluster totals PARTITION the
    corpus (nothing lost, nothing duplicated — the leakage guarantee:
    a cluster lands in exactly one split); (b) docs_moved and
    torn_clusters match a plain union-find + md5 recomputation over
    the shared Python LSH pair replication."""
    import hashlib
    import shutil
    import tempfile

    from test_independent_references import _minhash_lsh_pairs_python

    from fsc_etl_spark.plans.training_data import cluster_leakage_split

    rows = [Row(doc_id=i, text=" ".join(words)) for i, words in corpus]
    tmp = tempfile.mkdtemp(prefix="cls_prop_")
    try:
        spark.createDataFrame(rows).write.mode("overwrite").parquet(
            f"{tmp}/documents.parquet"
        )
        got = {
            r.split: (
                r.n_clusters,
                r.n_docs,
                r.total_tokens,
                r.docs_moved,
                r.torn_clusters,
            )
            for r in cluster_leakage_split(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    parent = {r.doc_id: r.doc_id for r in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in _minhash_lsh_pairs_python(rows):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    def split_of(key: int) -> str:
        h2 = hashlib.md5(str(key).encode()).hexdigest()[:2]
        return "train" if h2 < "cd" else ("val" if h2 < "e6" else "test")

    per_cluster: dict[int, dict] = {}
    for r in rows:
        root = find(r.doc_id)
        c = per_cluster.setdefault(
            root, {"docs": 0, "tokens": 0, "moved": 0, "splits": set()}
        )
        c["docs"] += 1
        c["tokens"] += len(r.text.split())
        ds = split_of(r.doc_id)
        c["splits"].add(ds)
        if ds != split_of(root):
            c["moved"] += 1
    expect: dict[str, list[int]] = {}
    for root, c in per_cluster.items():
        agg = expect.setdefault(split_of(root), [0, 0, 0, 0, 0])
        agg[0] += 1
        agg[1] += c["docs"]
        agg[2] += c["tokens"]
        agg[3] += c["moved"]
        agg[4] += 1 if len(c["splits"]) > 1 else 0
    assert got == {k: tuple(v) for k, v in expect.items()}
    # partition law — the leakage guarantee in aggregate form
    assert sum(v[1] for v in got.values()) == len(rows)
    assert sum(v[0] for v in got.values()) == len(per_cluster)
