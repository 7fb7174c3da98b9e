"""Merge / upsert (SURVEY.md §2.3 J4-J6, §2.10 M1-M6).

The reference mutates two targets:
- curated Delta via ``DeltaTable.merge`` — update-only per source
  (``/root/reference/main.py:191-199``) and full upsert
  (``utils/load_functions.py:64-122``), plus an overwrite and a
  DELETE + ``VACUUM(0)`` reset (``main.py:231-235``);
- a Synapse DW via staging-table + generated DELETE/DELETE/INSERT
  postActions with a last-writer-wins ``>=`` timestamp guard
  (``utils/load_functions.py:4-43``).

delta-spark is not on this environment's classpath, so the lakehouse
merge is provided twice:

1. :func:`merge_frames` — the PURE relational core: given target and
   source frames, produce the post-merge frame. This is what runs on
   executors regardless of table format, and what the DuckDB oracle
   can verify. Matched rows take source values (optionally only when a
   delta-column condition holds — J6's ``src.ts >= tgt.ts`` rule);
   unmatched target rows pass through; unmatched source rows insert
   (optional, ``when_not_matched_insert=False`` reproduces J4's
   update-only merges).
2. :class:`ParquetMergeTarget` — a minimal mutable-table wrapper with
   the reference's table operations: merge, overwrite, append, a flag
   update and a full delete. Each commit writes the whole new table
   and swaps it in with a directory rename.

Scale: the merge is ONE full outer-shaped pass expressed as
anti-join ∪ source-resolved rows, both shuffled on the merge key, and
every commit rewrites the whole table, partitioned or not. Pruning to
the touched partitions or files is left to a real table format.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merge_frames(
    target: DataFrame,
    source: DataFrame,
    on: Sequence[str],
    update_cols: Sequence[str] | None = None,
    when_not_matched_insert: bool = True,
    delta_col: str | None = None,
) -> DataFrame:
    """Relational MERGE: returns the post-merge state of ``target``.

    - matched & (no ``delta_col`` or ``source[delta_col] >= target
      [delta_col]``): target row updated with source's ``update_cols``
      (default: all shared non-key columns);
    - matched otherwise: target row kept (stale source loses — the
      last-writer-wins rule of load_functions.py:12);
    - unmatched target rows: kept;
    - unmatched source rows: inserted when ``when_not_matched_insert``.

    The output has the target's schema: source columns the target
    lacks are dropped.

    ``source`` must be unique on ``on`` (Delta MERGE errors otherwise;
    we follow the same contract and do not dedupe silently).
    """
    keys = list(on)
    if update_cols is None:
        update_cols = [c for c in source.columns if c in set(target.columns) and c not in keys]

    tgt = target.alias("t")
    src = source.alias("s")
    # A row matched iff the source side is present; probe with a column
    # that is never null in source rather than guessing at nullable
    # payload columns.
    probe = "__src_present"
    src_probed = source.withColumn(probe, F.lit(True)).alias("s")
    joined = tgt.join(src_probed, keys, "left")
    is_matched = F.col(probe).isNotNull()
    if delta_col is not None:
        take_src = is_matched & (F.col(f"s.{delta_col}") >= F.col(f"t.{delta_col}"))
    else:
        take_src = is_matched

    out_cols = []
    upd = set(update_cols)
    for c in target.columns:
        if c in keys:
            out_cols.append(F.col(f"t.{c}").alias(c))
        elif c in upd:
            out_cols.append(F.when(take_src, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c))
        else:
            out_cols.append(F.col(f"t.{c}").alias(c))
    merged_target = joined.select(*out_cols)

    if not when_not_matched_insert:
        return merged_target

    inserts = src.join(tgt.select(*keys), keys, "left_anti")
    # Align to the target schema; source may lack target-only columns.
    tgt_types = dict(target.dtypes)
    insert_cols = [
        (F.col(c) if c in source.columns else F.lit(None)).cast(tgt_types[c]).alias(c)
        for c in target.columns
    ]
    return merged_target.unionByName(inserts.select(*insert_cols))


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted to commit while a commit was in
    flight — the stand-in is single-writer (a real table format
    resolves this with optimistic-concurrency log commits)."""


class ParquetMergeTarget:
    """Mutable parquet-backed table with Delta-MERGE-like semantics.

    Layout: ``root/current`` holds the live table, hive-style
    (``col=value/...``) under ``partition_cols``. A commit writes the
    whole new table to ``root/v_<uuid>``, moves ``current`` aside under
    ``root`` and renames the new version in; both renames stay on the
    table's filesystem. Single-writer, enforced by an O_EXCL commit
    lock — a concurrent commit raises :class:`ConcurrentWriteError`
    instead of corrupting the swap. Partition column types should
    round-trip directory encoding (strings/ints; timestamps re-infer
    as dates on read).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        partition_cols: Sequence[str] | None = None,
    ):
        self.spark = spark
        self.root = root
        self.partition_cols = list(partition_cols or [])
        os.makedirs(root, exist_ok=True)

    @property
    def _current(self) -> str:
        return os.path.join(self.root, "current")

    def exists(self) -> bool:
        """M1: table existence probe."""
        return os.path.isdir(self._current)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self._current)

    @contextlib.contextmanager
    def _commit_lock(self):
        lock = os.path.join(self.root, "_commit.lock")
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"commit in flight for {self.root} (stale? remove {lock})"
            ) from None
        try:
            os.close(fd)
            yield
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(lock)

    def _commit(self, df: DataFrame) -> None:
        with self._commit_lock():
            staged = os.path.join(self.root, f"v_{uuid.uuid4().hex}")
            writer = df.write.mode("overwrite")
            if self.partition_cols:
                writer = writer.partitionBy(*self.partition_cols)
            writer.parquet(staged)
            old: str | None = None
            if os.path.isdir(self._current):
                old = os.path.join(self.root, f"old_{uuid.uuid4().hex}")
                os.rename(self._current, old)
            os.rename(staged, self._current)
            if old:
                shutil.rmtree(old, ignore_errors=True)

    def overwrite(self, df: DataFrame) -> None:
        self._commit(df)

    def append(self, df: DataFrame) -> None:
        if self.exists():
            self._commit(self.read().unionByName(df))
        else:
            self._commit(df)

    def delete_all(self) -> None:
        """M2+M3: full-table delete + immediate physical purge — the
        reference's FULLMODE reset (main.py:231-234, vacuum(0))."""
        if os.path.isdir(self._current):
            shutil.rmtree(self._current, ignore_errors=True)

    def merge(
        self,
        source: DataFrame,
        on: Sequence[str],
        update_cols: Sequence[str] | None = None,
        when_not_matched_insert: bool = True,
        delta_col: str | None = None,
    ) -> None:
        """J4/J5/M4/M5: MERGE ``source`` into the table
        (:func:`merge_frames`) and commit the whole merged table."""
        if not self.exists():
            if when_not_matched_insert:
                self._commit(source)
            return
        self._commit(
            merge_frames(
                self.read(),
                source,
                on,
                update_cols=update_cols,
                when_not_matched_insert=when_not_matched_insert,
                delta_col=delta_col,
            )
        )

    def update_flag(self, set_col: str, set_value, where) -> None:
        """M6: flag-reset merge (main.py:293-304) as a conditional
        column rewrite."""
        df = self.read()
        self._commit(
            df.withColumn(
                set_col, F.when(where, F.lit(set_value)).otherwise(F.col(set_col))
            )
        )


def delta_available() -> bool:
    """Probe for delta-spark on the classpath (S6/M1-M6 native path).
    This environment ships no delta jars (TESTDATA.md), so the parquet
    stand-in is the tested default and the probe keeps the upgrade
    path one import away. Real-Delta execution of the parity matrix in
    tests/test_delta_parity.py is gated on it."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


class DeltaMergeTarget:  # pragma: no cover — needs delta-spark jars
    """Real Delta-backed merge target, interface-identical to
    :class:`ParquetMergeTarget`. Selected by :func:`make_merge_target`
    when delta-spark is importable; mirrors the reference's
    DeltaTable usage (/root/reference/main.py:191-199,231-235,
    utils/load_functions.py:64-124) with transaction-log commits,
    file-level pruning on merge, and real VACUUM."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        partition_cols: Sequence[str] | None = None,
    ):
        self.spark = spark
        self.root = root
        self.partition_cols = list(partition_cols or [])

    def _table(self):
        from delta.tables import DeltaTable

        return DeltaTable.forPath(self.spark, self.root)

    def exists(self) -> bool:
        from delta.tables import DeltaTable

        return DeltaTable.isDeltaTable(self.spark, self.root)

    def read(self) -> DataFrame:
        return self.spark.read.format("delta").load(self.root)

    def overwrite(self, df: DataFrame) -> None:
        writer = (
            df.write.format("delta")
            .mode("overwrite")
            .option("overwriteSchema", "true")
        )
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
        writer.save(self.root)

    def append(self, df: DataFrame) -> None:
        df.write.format("delta").mode("append").save(self.root)

    def delete_all(self) -> None:
        if self.exists():
            tbl = self._table()
            tbl.delete()
            tbl.vacuum(0.0)

    def merge(
        self,
        source: DataFrame,
        on: Sequence[str],
        update_cols: Sequence[str] | None = None,
        when_not_matched_insert: bool = True,
        delta_col: str | None = None,
    ) -> None:
        if not self.exists():
            if when_not_matched_insert:
                self.overwrite(source)
            return
        target_cols = self.read().columns
        if update_cols is None:
            update_cols = [
                c for c in source.columns if c in set(target_cols) and c not in set(on)
            ]
        cond = " AND ".join(f"t.{c} = s.{c}" for c in on)
        builder = self._table().alias("t").merge(source.alias("s"), cond)
        match_cond = f"s.{delta_col} >= t.{delta_col}" if delta_col else None
        builder = builder.whenMatchedUpdate(
            condition=match_cond, set={c: f"s.{c}" for c in update_cols}
        )
        if when_not_matched_insert:
            builder = builder.whenNotMatchedInsert(
                values={
                    c: (f"s.{c}" if c in source.columns else "NULL") for c in target_cols
                }
            )
        builder.execute()

    def update_flag(self, set_col: str, set_value, where) -> None:
        self._table().update(condition=where, set={set_col: F.lit(set_value)})


def make_merge_target(
    spark: SparkSession,
    root: str,
    partition_cols: Sequence[str] | None = None,
):
    """Factory: a real Delta table when delta-spark is on the
    classpath, else the parquet stand-in. Both expose the same
    interface, so pipelines are format-agnostic; ``partition_cols``
    sets the on-disk layout of either."""
    if delta_available():
        return DeltaMergeTarget(spark, root, partition_cols=partition_cols)
    return ParquetMergeTarget(spark, root, partition_cols=partition_cols)


def build_staged_upsert_sql(
    staging_table: str,
    target_table: str,
    lookup_cols: Sequence[str],
    delta_col: str,
) -> list[str]:
    """The DW-side staged upsert statements (S9/J6,
    load_functions.py:4-43), generated with joins instead of the
    reference's reversed-string trick: DELETE target rows that the
    staging table supersedes (``stg.delta >= tgt.delta``), DELETE
    staging rows that are stale (``stg.delta < tgt.delta`` via the
    symmetric ``>`` cleanup), then blind INSERT the survivors.
    """
    tgt_match = " AND ".join(f"stg.{c} = {target_table}.{c}" for c in lookup_cols)
    stg_match = " AND ".join(f"tgt.{c} = {staging_table}.{c}" for c in lookup_cols)
    return [
        f"DELETE FROM {target_table} WHERE EXISTS (SELECT 1 FROM {staging_table} stg "
        f"WHERE {tgt_match} AND stg.{delta_col} >= {target_table}.{delta_col})",
        f"DELETE FROM {staging_table} WHERE EXISTS (SELECT 1 FROM {target_table} tgt "
        f"WHERE {stg_match} AND tgt.{delta_col} > {staging_table}.{delta_col})",
        f"INSERT INTO {target_table} SELECT * FROM {staging_table}",
    ]
