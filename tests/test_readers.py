"""The path-keyed reader memos follow a rewrite of the table under them."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from fsc_etl_spark.sources.readers import events_ts_is_long, parallel_scan

OPEN_COST = "spark.sql.files.openCostInBytes"


def test_parallel_scan_memo_follows_rewrite(spark, tmp_path):
    """One file plans one scan split, so the scan is under-split and
    gets repartitioned; after the same path is rewritten as 16 files,
    each its own split, it is not. An open cost as large as the
    default split size keeps Spark from packing the small files into
    one split."""
    path = str(tmp_path / "t.parquet")
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    old = spark.conf.get(OPEN_COST, None)
    spark.conf.set(OPEN_COST, str(128 << 20))
    try:
        spark.range(64).coalesce(1).write.parquet(path)
        one = spark.read.parquet(path)
        assert one.rdd.getNumPartitions() * 2 < n
        assert parallel_scan(one, key=path) is not one

        spark.range(64).repartition(16).write.mode("overwrite").parquet(path)
        many = spark.read.parquet(path)
        assert many.rdd.getNumPartitions() * 2 >= n
        assert parallel_scan(many, key=path) is many
    finally:
        if old is None:
            spark.conf.unset(OPEN_COST)
        else:
            spark.conf.set(OPEN_COST, old)


def test_events_ts_memo_follows_rewrite(spark, tmp_path):
    path = tmp_path / "events.parquet"
    path.mkdir()
    ts = [dt.datetime(2024, 1, 1, 0, 0, s) for s in range(3)]

    def write(unit: str) -> None:
        for old in path.iterdir():
            old.unlink()
        table = pa.table({"event_id": [1, 2, 3], "ts": pa.array(ts, pa.timestamp(unit))})
        pq.write_table(table, str(path / f"part-{unit}.parquet"))

    write("ns")
    assert events_ts_is_long(spark, str(path)) is True
    write("us")
    assert events_ts_is_long(spark, str(path)) is False


def test_only_local_paths_are_listed(tmp_path):
    from fsc_etl_spark.sources.readers import _local_listing

    f = tmp_path / "x.parquet"
    f.write_bytes(b"1234")
    assert _local_listing(str(f))[0][1] == 4
    assert _local_listing(f"file://{f}") == _local_listing(str(f))
    assert _local_listing("s3a://bucket/x.parquet") is None
    assert _local_listing(str(tmp_path / "missing")) is None
