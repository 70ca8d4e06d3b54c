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
- **Replay-idempotent at every crash point.** DF counts are NOT
  idempotent under re-merge (appending the same increment twice
  double-counts — unlike MinHashIndex's band rows, which a downstream
  ``distinct`` absorbs), so each batch's increments commit as a fully
  replaced partition (directory cleared + dynamic overwrite) and the
  doc ledger appends LAST. A crash between the two leaves an ORPHAN:
  an increments partition whose id has no ledger rows. It heals by
  ORPHAN-FIRST allocation — the next update (the retry, or any other
  batch) claims the smallest unledgered partition id and fully
  replaces it, so the half-ingested batch rolls back cleanly and can
  be resubmitted without double counting.

``df()`` aggregates the increment partitions — one uniform-key shuffle
whose input is O(sum of batch vocabularies), the LSM-style read cost of
append-only maintenance; vocabularies overlap heavily across batches,
so periodically fold the accumulated partitions with ``compact()``
(itself crash-safe: the folded table lands under a FRESH batch
partition first, absorbed partitions are removed after — a crash
between the two double-counts nothing because ``compact`` records the
absorbed set inside the folded partition and ``df()`` skips absorbed
partitions still on disk).

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

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

    def _read_ledger(self, spark: SparkSession) -> DataFrame:
        if not os.path.isdir(self.ledger_path):
            return spark.createDataFrame([], _LEDGER_SCHEMA)
        return spark.read.schema(_LEDGER_SCHEMA).parquet(self.ledger_path)

    def _read_incr(self, spark: SparkSession) -> DataFrame:
        full = _INCR_SCHEMA + ", batch_id long, bkt int"
        if not os.path.isdir(self.incr_path):
            return spark.createDataFrame([], full)
        # explicit schema covers the partition columns too: an index
        # whose every batch was all-unindexable has no part files, and
        # schema inference over the empty tree throws
        return spark.read.schema(full).parquet(self.incr_path)

    def _next_negative_id(self, spark: SparkSession) -> int:
        """Fresh negative id, unique across BOTH tables: the ledger
        (updates ledger their docs) AND the increment partitions (a
        compact() fold writes a negative partition with NO ledger rows —
        deriving from the ledger alone could reuse the fold's id, and a
        later update's dynamic overwrite would then replace folded
        buckets)."""
        lmin = self._read_ledger(spark).agg(F.min("batch_id")).first()[0]
        imin = self._read_incr(spark).agg(F.min("batch_id")).first()[0]
        return min(int(lmin or 0), int(imin or 0), 0) - 1

    def _bkt(self, term: F.Column) -> F.Column:
        return F.pmod(F.xxhash64(term), F.lit(self.n_buckets)).cast("int")

    def update(self, spark: SparkSession, batch: DataFrame) -> None:
        """Count a batch of (doc_id, text) docs into the index under an
        orphan-first batch id (see the allocation comment below). Write
        ordering is the crash contract: the increments partition commits
        FIRST (directory cleared + dynamic overwrite — a claimant fully
        replaces it), the doc ledger appends LAST (see module docstring
        for the window analysis).
        """
        batch = batch.select("doc_id", "text").dropDuplicates(["doc_id"])
        ledger = self._read_ledger(spark)
        # ORPHAN-FIRST allocation: an increment partition whose id has
        # no ledger rows is a crashed update's half-commit (the
        # increments landed, the ledger append didn't). The next update
        # claims the smallest such id — and the write below clears the
        # claimed directory first — so the orphan is fully replaced
        # instead of being stranded while its docs (unledgered) get
        # recounted under a fresh id. With no orphan, ids derive from
        # the ledger min, which includes compact()'s reservation
        # sentinels, so fold partitions are never reallocated.
        ledgered_ids = {
            r.batch_id for r in ledger.select("batch_id").distinct().collect()
        }
        live_ids = {
            r.batch_id
            for r in self._read_incr(spark).select("batch_id").distinct().collect()
        }
        orphans = sorted(live_ids - ledgered_ids)
        if orphans:
            bid = int(orphans[0])
        else:
            bid = min(int(min(ledgered_ids) if ledgered_ids else 0), 0) - 1
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
                F.lit(bid).alias("batch_id"),
                self._bkt(F.col("term")).alias("bkt"),
            )
        )
        n_fresh = fresh.limit(1).count()
        if n_fresh:
            import shutil

            # TOTAL replacement of the claimed partition: clear its
            # directory before the dynamic overwrite. The overwrite alone
            # only replaces buckets present in THIS batch's vocabulary —
            # a different batch claiming a crashed batch's orphan id
            # would otherwise leave the orphan's other buckets behind
            # (counted forever, docs unledgered: silent double count on
            # resubmission). A crash between the clear and the write
            # rolls the claimed batch back cleanly (empty partition,
            # no ledger rows).
            shutil.rmtree(
                os.path.join(self.incr_path, f"batch_id={bid}"),
                ignore_errors=True,
            )
            inc.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("batch_id", "bkt").parquet(self.incr_path)
            fresh.select(
                "doc_id", F.lit(bid).alias("batch_id")
            ).write.mode("append").parquet(self.ledger_path)

    def _live_incr(self, spark: SparkSession) -> DataFrame:
        """Increment rows with crash-orphaned absorbed partitions
        dropped: any batch_id named in a folded row's ``absorbed`` list
        is superseded by that fold, even if compact() crashed before
        removing its directory."""
        incr = self._read_incr(spark)
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
            return spark.createDataFrame([], "term string, df long")
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
        """Fold the live LEDGERED increment partitions into one
        consolidated partition (LSM compaction), bounding df()'s read
        cost back to O(vocabulary).

        Crash-safe in three ordered steps:

        1. A sentinel ledger row (NULL doc_id — matches no real doc in
           any anti-join) RESERVES the fold's batch id, so a future
           update (which derives ids from the ledger min) can never
           claim the fold partition and dynamically overwrite
           folded buckets. The id itself comes from the min over BOTH
           tables, so it also cannot collide with a crashed batch's
           orphaned (unledgered) partition. A crash after this step
           leaks one empty id — harmless.
        2. The folded table — every row RECORDS the absorbed batch_ids
           — commits under that partition via dynamic overwrite. A
           crash after this step double-counts nothing: df()/_live_incr
           skip absorbed partitions still on disk.
        3. Absorbed partition directories are removed; re-running
           compact finishes an interrupted removal.

        Only LEDGERED partitions fold: an unledgered partition is
        either a crashed batch's orphan (its retry will overwrite it in
        place — folding it first would bake its counts in and let the
        retry double-count) or nothing."""
        import shutil

        live = self._live_incr(spark)
        ledger = self._read_ledger(spark)
        ledgered = ledger.select("batch_id").distinct()
        batch_ids = sorted(
            r.batch_id
            for r in live.select("batch_id")
            .distinct()
            .join(ledgered, "batch_id")
            .collect()
        )
        if len(batch_ids) <= 1:
            return
        fold_bid = self._next_negative_id(spark)
        reservation = spark.createDataFrame(
            [(None, fold_bid)], _LEDGER_SCHEMA
        )
        reservation.write.mode("append").parquet(self.ledger_path)
        folded = (
            live.join(ledgered, "batch_id")
            .groupBy("term")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .select(
                "term",
                "cnt",
                F.lit(batch_ids).cast("array<long>").alias("absorbed"),
                F.lit(fold_bid).alias("batch_id"),
                self._bkt(F.col("term")).alias("bkt"),
            )
        )
        # Spark refuses an overwrite whose plan READS the target path, so
        # the fold lands in a sibling staging dir and its partition dir
        # is renamed into place (atomic on a local/HDFS filesystem; a
        # crashed attempt's stale staging dir is cleared by the next
        # compact's full overwrite).
        staging = f"{self.path}/incr__fold_staging"
        folded.write.mode("overwrite").partitionBy("batch_id", "bkt").parquet(staging)
        os.rename(
            os.path.join(staging, f"batch_id={fold_bid}"),
            os.path.join(self.incr_path, f"batch_id={fold_bid}"),
        )
        shutil.rmtree(staging, ignore_errors=True)
        for b in batch_ids:
            shutil.rmtree(
                os.path.join(self.incr_path, f"batch_id={b}"), ignore_errors=True
            )
