"""Twin-path equivalence sweep (BASELINE.md §c2 negative-zero
precedent): pairs of queries that implement the same semantics down
two different physical paths must stay BIT-IDENTICAL at every fixture
scale — a divergence means one path has an accumulation-order,
rounding, or tie-break dependency the oracle gate alone might sample
past.

Run: python scripts/twin_sweep.py  (from any directory; prints one
PASS/FAIL line per (pair, sf) and a final summary; exit 1 on any
divergence).
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

import __spark_entry__ as entrymod  # noqa: E402
from fsc_etl_spark.session import get_spark  # noqa: E402
from fsc_etl_spark.testing import _norm_rows  # noqa: E402

#: (name_a, name_b, comparable) — comparable="full" when both emit the
#: same schema; "rows" compares row multisets ignoring column names
#: (same values, different labels).
TWIN_PAIRS = [
    # min-label vs O(log n) star connected components
    ("dedup_cluster_assign", "dedup_cluster_assign_star", "full"),
    # built-in exact-sum trend slope vs pandas-UDF twin
    ("user_trend_slope", "user_trend_slope_pandas", "full"),
    # JVM expression cosine top-k vs Arrow/pandas BLAS twin
    ("embed_cosine_topk", "embed_cosine_topk_pandas", "full"),
    # expression-path bigram counts vs the Python UDTF surface
    ("bigram_topk", "udtf_ngram_topk", "full"),
    # NTILE headline vs its scale-safe histogram twin (same plan now;
    # kept in the sweep so a future re-split of the two would still be
    # equivalence-gated)
    ("ntile_customer_deciles", "decile_bucket_scalable", "full"),
    # multi-table LSH: Arrow-matmul signature path vs the per-plane
    # literal-expression fold (round 6; sign-margin argument in
    # oracles_training._lsh_oracle)
    ("lsh_sig_pandas@", "lsh_sig_expr@", "full"),
    # pinned-PQ: Arrow-matmul encode vs the literal-expression encode
    # (round 6; margin argument in oracles_training._pq_pinned_oracle)
    ("pq_enc_pandas@", "pq_enc_expr@", "full"),
    # batch priority draw vs its streaming merge-monoid fold (round
    # 13): top-k-by-priority is order-insensitive, so the converged
    # stream state must equal the batch draw BIT-FOR-BIT
    ("weighted_priority_sample", "streaming_priority_sample", "full"),
]


def _pq_strategy_query(strategy: str):
    from pyspark.sql import functions as F

    from fsc_etl_spark.operators.similarity import pq_topk
    from fsc_etl_spark.plans.training_data import PQ_PINNED_CODEBOOKS
    from fsc_etl_spark.sources.readers import read_parquet_table

    def q(spark, sf):
        emb = read_parquet_table(spark, sf, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        return pq_topk(
            emb,
            queries,
            k=5,
            refine=40,
            codebooks=PQ_PINNED_CODEBOOKS,
            encode_strategy=strategy,
        )

    return q


def _lsh_strategy_query(strategy: str):
    from pyspark.sql import functions as F

    from fsc_etl_spark.operators.similarity import lsh_multitable_topk
    from fsc_etl_spark.plans.training_data import LSH_TABLES
    from fsc_etl_spark.sources.readers import read_parquet_table

    def q(spark, sf):
        emb = read_parquet_table(spark, sf, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        return lsh_multitable_topk(
            emb, queries, k=5, tables=LSH_TABLES, sig_strategy=strategy
        )

    return q


#: names ending in "@" resolve here instead of queries() — twin paths
#: that are strategy parameters of one operator, not separate entries.
EXTRA_QUERIES = {
    "lsh_sig_pandas@": _lsh_strategy_query("pandas"),
    "lsh_sig_expr@": _lsh_strategy_query("expr"),
    "pq_enc_pandas@": _pq_strategy_query("pandas"),
    "pq_enc_expr@": _pq_strategy_query("expr"),
}

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def normalized(spark, name: str, sf: str, with_cols: bool):
    fn = EXTRA_QUERIES.get(name) or entrymod.queries()[name]
    df = fn(spark, sf)
    cols = list(df.columns)
    rows = [tuple(r) for r in df.collect()]
    if with_cols:
        return _norm_rows(cols, rows)
    # ignore labels: order columns by position, rows sorted
    return sorted(map(repr, rows))


def main() -> int:
    spark = get_spark(app_name="twin_sweep")
    failures = []
    for a, b, mode in TWIN_PAIRS:
        for sf in SFS:
            ra = normalized(spark, a, sf, mode == "full")
            rb = normalized(spark, b, sf, mode == "full")
            ok = ra == rb
            print(f"{'PASS' if ok else 'FAIL'} {a} == {b} @ {sf}", flush=True)
            if not ok:
                failures.append((a, b, sf))
    print(f"twin sweep: {len(TWIN_PAIRS) * len(SFS) - len(failures)}"
          f"/{len(TWIN_PAIRS) * len(SFS)} identical")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
