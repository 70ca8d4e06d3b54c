"""Incremental document-frequency index maintenance.

The corpus-level text operators all rest on a shingle/term
document-frequency table: t10's boilerplate coverage (df >= 3), t06's
TF-IDF, cu03's decontamination overlap, dd02's rarity order. The batch
queries recompute that table from scratch every run — fine for a
one-shot sweep, wrong for a growing corpus: at 100 TB with daily
ingest, re-counting every document's shingles per batch is O(corpus)
work for O(batch) new information. ``DocFreqIndex`` makes the DF table
incremental, with the same contracts as the dedup/ANN index family
(dedup_index.MinHashIndex, ann_index.PQIndex):

- **Each doc is counted exactly once, ever.** A doc ledger (doc_id,
  batch_id) anti-joins updates, so resubmitted docs are skipped.
- **Each update writes O(batch vocabulary), never O(corpus).**
  Per-batch DF increments land as one hive partition
  (``batch_id=<n>/bkt=<b>``); nothing existing is rewritten.
- **Replay-idempotent at every crash point**, by the claimed-partition
  commit and crash-safe fold of ``index_store`` (the one statement of
  the family's crash and replay doctrine). DF counts are NOT idempotent
  under re-merge (appending the same increment twice double-counts),
  so a crashed batch's orphan must be replaced whole, never merged.

``df()`` aggregates the increment partitions — one uniform-key shuffle
whose input is O(sum of batch vocabularies), the LSM-style read cost of
append-only maintenance; vocabularies overlap heavily across batches,
so periodically fold the accumulated partitions with ``compact()``.
Every folded row records the partitions it absorbed, and ``df()`` skips
absorbed partitions still on disk, so a crash between the fold commit
and their removal double-counts nothing.

Term lookups prune: terms hash into ``bkt`` sub-partitions
(pmod(xxhash64(term), n_buckets)), so probing a handful of terms (a
decontamination check, a rarity lookup) reads only matching bucket
directories — the same partition-pruned-search shape as PQIndex.

Invariant (pinned by tests/test_text_index.py): the DF table after any
sequence of updates equals the one-shot shingle document-frequency
aggregation over the union of the batches — incrementality changes the
schedule, never the answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_ingestion_spark.catalog import empty_frame
from travel_data_ingestion_spark.index_store import PartitionedStore
from travel_data_ingestion_spark.queries.llm_dedup import shingle_docs

_LEDGER_SCHEMA = "doc_id long, batch_id long"
# absorbed: only set on compact()-written rows — the batch partitions a
# folded row replaces. df() drops increment partitions named there, so
# a crash after the fold commit but before their removal cannot
# double-count.
_INCR_SCHEMA = "term string, cnt long, absorbed array<long>"


class DocFreqIndex:
    """Parquet-backed incremental shingle document-frequency table."""

    def __init__(self, path: str, n_buckets: int = 16):
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self.path = path.rstrip("/")
        self.ledger_path = f"{self.path}/docs"
        self.incr_path = f"{self.path}/incr"
        self.n_buckets = int(n_buckets)
        self.store = PartitionedStore(
            self.incr_path,
            _INCR_SCHEMA + ", batch_id long, bkt int",
            self.ledger_path,
            _LEDGER_SCHEMA,
            ("batch_id", "bkt"),
        )

    def _bkt(self, term: F.Column) -> F.Column:
        return F.pmod(F.xxhash64(term), F.lit(self.n_buckets)).cast("int")

    def update(self, spark: SparkSession, batch: DataFrame) -> None:
        """Count a batch of (doc_id, text) docs into the index as one
        claimed increments partition (``PartitionedStore.commit``: the
        increments first, the doc ledger last)."""
        batch = batch.select("doc_id", "text").dropDuplicates(["doc_id"])
        ledger = self.store.ledger(spark)
        bid = self.store.claim_id(spark)
        # Exactly-once per doc: a retried batch's docs are NOT in the
        # ledger yet exactly when the increments write needs to be
        # recomputed (crash before the ledger append), and are all
        # ledgered (=> empty increments, untouched partitions) when the
        # first attempt fully committed.
        fresh = batch.join(ledger.select("doc_id"), "doc_id", "left_anti")
        inc = (
            shingle_docs(fresh)
            .select("doc_id", F.explode("shingles").alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .select(
                "term",
                "cnt",
                F.lit(None).cast("array<long>").alias("absorbed"),
                self._bkt(F.col("term")).alias("bkt"),
            )
        )
        if fresh.limit(1).count():
            self.store.commit(bid, inc, fresh.select("doc_id"))

    def _live_incr(self, spark: SparkSession) -> DataFrame:
        """Increment rows with crash-orphaned absorbed partitions
        dropped: any batch_id named in a folded row's ``absorbed`` list
        is superseded by that fold, even if compact() crashed before
        removing its directory."""
        incr = self.store.data(spark)
        absorbed = (
            incr.filter(F.col("absorbed").isNotNull())
            .select(F.explode("absorbed").alias("batch_id"))
            .distinct()
        )
        return incr.join(absorbed, "batch_id", "left_anti")

    def df(self, spark: SparkSession) -> DataFrame:
        """The current (term, df) table: one uniform-key aggregation
        over the live increment partitions."""
        return (
            self._live_incr(spark)
            .groupBy("term")
            .agg(F.sum("cnt").alias("df"))
        )

    def lookup(self, spark: SparkSession, terms: list[str]) -> DataFrame:
        """(term, df) for the probe terms, reading ONLY their hash-bucket
        partitions (the ``bkt`` filter prunes partition directories —
        the PQIndex partition-pruned-search shape)."""
        if not terms:
            return empty_frame(spark, "term string, df long")
        probe = list(dict.fromkeys(terms))
        bkts = spark.createDataFrame(
            [(t,) for t in probe], "term string"
        ).select("term", self._bkt(F.col("term")).alias("bkt")).collect()
        bkt_set = sorted({r.bkt for r in bkts})
        pruned = self._live_incr(spark).filter(F.col("bkt").isin(bkt_set))
        return (
            pruned.join(
                F.broadcast(
                    spark.createDataFrame([(t,) for t in probe], "term string")
                ),
                "term",
            )
            .groupBy("term")
            .agg(F.sum("cnt").alias("df"))
        )

    def compact(self, spark: SparkSession) -> None:
        """Fold the live ledgered increment partitions into one
        (``PartitionedStore.fold``), bounding df()'s read cost back to
        O(vocabulary); every folded row records the absorbed batch ids."""
        self.store.fold(
            spark,
            self._live_incr(spark),
            lambda rows, absorbed: rows.groupBy("term")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .select(
                "term",
                "cnt",
                F.lit(absorbed).cast("array<long>").alias("absorbed"),
                self._bkt(F.col("term")).alias("bkt"),
            ),
        )
