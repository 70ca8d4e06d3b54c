"""The incremental indexes' shared batch protocol.

Every incremental index (``dedup_index``, ``text_index``,
``link_index``, ``ann_index``) keeps parquet tables under its own
directory and grows them one batch at a time. This module is the one
place that knows how a batch is read, numbered, committed and folded.

- **Reading.** ``read`` scans a table with an explicit schema (an index
  whose batches were all empty has no part files, and schema inference
  over an empty tree throws) and gives a typed empty frame, planned in
  the JVM, when the directory is absent.
- **Batch ids.** Each update writes its rows under one negative batch
  id. ``batch_id`` is ORPHAN-FIRST: the smallest id that has live rows
  but no ledger row is claimed; otherwise the id is
  ``min(ledgered ∪ live ∪ {0}) − 1``, which no earlier batch or fold
  used. An index whose ledger is also its data table (MinHashIndex,
  PhashIndex) has no orphans, and the rule is one below the ledger's
  minimum.
- **Claimed-partition commit** (``PartitionedStore.commit``). A
  partitioned index (DocFreqIndex, LinkGraphIndex) keeps a ledger of
  (key, batch_id) rows, the replay key that ingests each key exactly
  once, beside a data table partitioned ``batch_id=<n>/``. The data
  partition commits FIRST (its directory removed, then a dynamic
  overwrite) and the ledger appends LAST. A crash between the two
  leaves an ORPHAN: a partition whose id has no ledger rows and whose
  keys are still unledgered. The next update, the retry or any other
  batch, claims the orphan's id and replaces ALL of it: the dynamic
  overwrite alone replaces only the sub-partitions its own rows reach,
  and a different batch would leave the orphan's others behind, to be
  counted again when its keys are resubmitted. A crash between the
  removal and the write leaves an empty partition and no ledger rows,
  a clean rollback.
- **Fold** (``PartitionedStore.fold``, LSM compaction) bounds the read
  cost of many small partitions, in three ordered steps. (1) A sentinel
  ledger row (NULL key, which no anti-join matches) reserves the fold's
  id, chosen by the same rule without the orphan claim, so neither a
  later update nor a crashed batch's retry can claim the fold
  partition; a crash here leaks one empty id. (2) The folded rows are
  written to a staging directory (Spark refuses an overwrite whose plan
  reads its target) and the fold's partition is renamed into place,
  atomic on a local or HDFS filesystem; the next fold's overwrite
  clears a crashed attempt's staging directory. (3) The absorbed
  partitions are removed, and re-running the fold finishes an
  interrupted removal. After a crash between 2 and 3 the fold and the
  partitions it absorbed are both on disk: each index's reader makes
  sure they are not counted twice. Only LEDGERED partitions fold: an
  unledgered one is a crashed update's orphan, which its retry replaces
  in place; folding it would bake in rows the retry then adds again.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from travel_data_ingestion_spark.catalog import empty_frame


def read(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """The parquet table at ``path`` read with the DDL ``schema``
    (partition columns included), or a zero-row frame of it when the
    directory is absent."""
    if not os.path.isdir(path):
        return empty_frame(spark, schema)
    return spark.read.schema(schema).parquet(path)


def _ids(df: DataFrame) -> set[int]:
    return {
        int(r.batch_id)
        for r in df.select("batch_id").distinct().collect()
        if r.batch_id is not None
    }


def batch_id(
    ledger: DataFrame, live: DataFrame | None = None, claim_orphan: bool = True
) -> int:
    """The next batch id: the smallest orphan (an id in ``live`` but not
    in ``ledger``) when ``claim_orphan``, else one below every id either
    table holds and below 0. NULL ids (a ledger written before batch ids
    existed) take part in neither."""
    ledgered = _ids(ledger)
    present = _ids(live) if live is not None else set()
    orphans = present - ledgered
    if claim_orphan and orphans:
        return min(orphans)
    return min(ledgered | present | {0}) - 1


class PartitionedStore:
    """A ledger of (key, batch_id) rows beside a data table partitioned
    by ``partition_by``, ``batch_id`` first. Both schemas are DDL and
    name every column, partition columns included."""

    def __init__(
        self,
        data_path: str,
        data_schema: str,
        ledger_path: str,
        ledger_schema: str,
        partition_by: tuple[str, ...] = ("batch_id",),
    ):
        self.data_path = data_path
        self.data_schema = data_schema
        self.ledger_path = ledger_path
        self.ledger_schema = ledger_schema
        self.partition_by = partition_by

    def ledger(self, spark: SparkSession) -> DataFrame:
        return read(spark, self.ledger_path, self.ledger_schema)

    def data(self, spark: SparkSession) -> DataFrame:
        return read(spark, self.data_path, self.data_schema)

    def _partition(self, bid: int) -> str:
        return os.path.join(self.data_path, f"batch_id={bid}")

    def claim_id(self, spark: SparkSession) -> int:
        """The id the next update writes under, orphan first."""
        return batch_id(self.ledger(spark), self.data(spark))

    def commit(self, bid: int, rows: DataFrame, keys: DataFrame) -> None:
        """Replace partition ``bid`` with ``rows`` whole, then ledger
        ``keys`` (the ledger's key column) under ``bid``."""
        shutil.rmtree(self._partition(bid), ignore_errors=True)
        rows.withColumn("batch_id", F.lit(bid)).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(*self.partition_by).parquet(self.data_path)
        keys.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(
            self.ledger_path
        )

    def fold(
        self,
        spark: SparkSession,
        live: DataFrame,
        merge: Callable[[DataFrame, list[int]], DataFrame],
    ) -> None:
        """Fold the ledgered partitions of ``live`` (the data rows the
        index reads as current) into one new partition holding
        ``merge(ledgered rows, absorbed ids)``; no-op below two."""
        ledgered = self.ledger(spark).select("batch_id").distinct()
        absorbed = sorted(
            r.batch_id
            for r in live.select("batch_id").distinct().join(ledgered, "batch_id").collect()
        )
        if len(absorbed) <= 1:
            return
        fold_bid = batch_id(self.ledger(spark), self.data(spark), claim_orphan=False)
        spark.range(1).select(
            [
                F.lit(fold_bid if f.name == "batch_id" else None).cast(f.dataType).alias(f.name)
                for f in T.StructType.fromDDL(self.ledger_schema)
            ]
        ).write.mode("append").parquet(self.ledger_path)
        staging = f"{self.data_path}__fold_staging"
        merge(live.join(ledgered, "batch_id"), absorbed).withColumn(
            "batch_id", F.lit(fold_bid)
        ).write.mode("overwrite").partitionBy(*self.partition_by).parquet(staging)
        os.rename(os.path.join(staging, f"batch_id={fold_bid}"), self._partition(fold_bid))
        shutil.rmtree(staging, ignore_errors=True)
        for b in absorbed:
            shutil.rmtree(self._partition(b), ignore_errors=True)
