"""The cache scope (operators/cache): a builder's persists and local
checkpoints are released when the builder returns, except the
checkpoints its result reads, and all of them when it raises; a
streaming handler releases its checkpoint every micro-batch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fsc_etl_spark.operators.cache import cache_scope, checkpoint_rdd_ids, plan_only
from fsc_etl_spark.testing import persisted_rdd_ids


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_scope_under_plan_only_keeps_plan_and_caches(spark):
    before = persisted_rdd_ids(spark)
    with plan_only():
        with cache_scope() as cs:
            cached = cs.persist(spark.range(10))
            cp = cs.checkpoint(spark.range(4))
            out = cached.join(cp, "id")
            got = cs.result(out)
    try:
        assert got is out
        assert cached.is_cached
        assert checkpoint_rdd_ids(cp) <= persisted_rdd_ids(spark) - before
    finally:
        cached.unpersist()
        cp._jdf.queryExecution().analyzed().rdd().unpersist(False)  # noqa: SLF001


def test_scope_materialises_result_and_releases_every_cache(spark):
    before = persisted_rdd_ids(spark)
    with cache_scope() as cs:
        a = cs.persist(spark.range(10))
        assert a.count() == 10
        b = cs.checkpoint(spark.range(5))
        got = cs.result(a.join(b, "id"))
    assert not a.is_cached
    plan = got._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "Scan ExistingRDD" in plan and "Range" not in plan
    assert persisted_rdd_ids(spark) - before == checkpoint_rdd_ids(got)
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3, 4]


def test_scope_returns_a_plan_over_its_checkpoints_as_it_is(spark):
    before = persisted_rdd_ids(spark)
    with cache_scope() as cs:
        first = cs.checkpoint(spark.range(3))
        second = cs.checkpoint(first.withColumn("id", F.col("id") * 2))
        cs.release(first)  # second is materialised
        cs.checkpoint(spark.range(5))  # not read by the result
        out = second.filter("id > 0")
        got = cs.result(out)
    assert got is out
    assert persisted_rdd_ids(spark) - before == checkpoint_rdd_ids(second)
    assert sorted(r.id for r in got.collect()) == [2, 4]


def _pagerank_sink(spark, sf_smoke, monkeypatch):
    from fsc_etl_spark.operators.graph import pagerank_integer

    # c has no out-edge
    pagerank_integer(_edges(spark, [("a", "b"), ("b", "c")]), dangling="error")


def _ppr_no_seed(spark, sf_smoke, monkeypatch):
    from fsc_etl_spark.operators.graph import pagerank_integer

    seeds = spark.createDataFrame([("z",)], "node string")
    edges = _edges(spark, [("a", "b"), ("b", "a")])
    pagerank_integer(edges, seeds=seeds, every_node_has_inflow=True)


def _kcore_unconverged(spark, sf_smoke, monkeypatch):
    from fsc_etl_spark.operators.graph import kcore_degrees

    # a 6-chain peels one layer per round from each end
    kcore_degrees(_edges(spark, [(f"n{i}", f"n{i+1}") for i in range(6)]), k=2, rounds=1)


def _ktruss_unconverged(spark, sf_smoke, monkeypatch):
    from fsc_etl_spark.operators.graph import ktruss_support

    # a triangle with a 2-edge tail: the tail peels in round 1, the
    # triangle is confirmed only in round 2
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    ktruss_support(spark.createDataFrame(pairs, "src long, dst long"), k=3, rounds=1)


def _pagerank_copurchase_operator_raises(spark, sf_smoke, monkeypatch):
    import fsc_etl_spark.plans.graph_ops as gops

    def failing(edges, **kwargs):
        assert edges.count() > 0  # the pair cache is built
        raise RuntimeError("operator failed")

    monkeypatch.setattr(gops, "pagerank_integer", failing)
    gops.pagerank_copurchase(spark, sf_smoke)


def _psi_not_exact(spark, sf_smoke, monkeypatch):
    import fsc_etl_spark.plans.scale_ops as sops

    # every count exceeds a zero bound: the exactness check raises
    # after the bounded counts are checkpointed
    monkeypatch.setattr(sops, "_PSI_EXACT_BOUND", 0)
    sops.psi_value_drift(spark, sf_smoke)


@pytest.mark.parametrize(
    "call, error",
    [
        pytest.param(_pagerank_sink, ValueError, id="pagerank_sink"),
        pytest.param(_ppr_no_seed, ValueError, id="ppr_no_seed"),
        pytest.param(_kcore_unconverged, ValueError, id="kcore_unconverged"),
        pytest.param(_ktruss_unconverged, ValueError, id="ktruss_unconverged"),
        pytest.param(
            _pagerank_copurchase_operator_raises, RuntimeError, id="pagerank_copurchase"
        ),
        pytest.param(_psi_not_exact, ValueError, id="psi_value_drift"),
    ],
)
def test_builder_that_raises_leaves_no_rdd_persisted(
    spark, sf_smoke, monkeypatch, call, error
):
    before = persisted_rdd_ids(spark)
    with pytest.raises(error):
        call(spark, sf_smoke, monkeypatch)
    # a subset, not equality: the context cleaner may unpersist RDDs
    # of earlier, garbage-collected frames meanwhile
    assert persisted_rdd_ids(spark) <= before


def _run_mg_stream(spark, sf_smoke, tmp_path, n_files: int) -> set[int]:
    """Run the Misra–Gries fold over ``n_files`` micro-batches and
    return the RDDs it leaves persisted."""
    from fsc_etl_spark import schemas
    from fsc_etl_spark.plans.corpus_stats import MG_K
    from fsc_etl_spark.plans.streaming_queries import init_mg_state_dir, mg_batch_handler
    from fsc_etl_spark.streaming.pipeline import run_foreach_batch
    from fsc_etl_spark.streaming.sources import stage_documents_as_files, stream_parquet_dir

    staged = stage_documents_as_files(
        spark, sf_smoke, n_files=n_files, out_dir=str(tmp_path / f"staged{n_files}")
    )
    docs = stream_parquet_dir(
        spark, staged, schemas.DOCUMENTS, max_files_per_trigger=1
    ).select("doc_id", "text")
    sizes: list[int] = []
    before = persisted_rdd_ids(spark)
    run_foreach_batch(
        docs, mg_batch_handler(spark, init_mg_state_dir(spark), sizes, MG_K),
        output_mode="append",
    )
    spark.catalog.clearCache()
    assert len([n for n in sizes if n > 0]) == n_files
    return persisted_rdd_ids(spark) - before


def test_stream_holds_no_checkpoint_per_batch(spark, sf_smoke, tmp_path):
    """Each micro-batch checkpoints the prior summary; the handler's
    cache scope releases it, so the RDDs left persisted after the
    stream do not grow with the batch count."""
    left2 = _run_mg_stream(spark, sf_smoke, tmp_path, 2)
    left4 = _run_mg_stream(spark, sf_smoke, tmp_path, 4)
    assert len(left4) == len(left2) == 0
