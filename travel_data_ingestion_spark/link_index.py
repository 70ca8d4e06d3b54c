"""Incremental link-graph index maintenance.

t28 turns fetched pages into (url, link) edges and t29 ranks the
graph; the batch query re-derives the edge set from raw HTML every
run. At crawl scale the graph GROWS per fetch round — re-extracting
every page's outlinks per re-rank is O(corpus) work for O(batch) new
information. ``LinkGraphIndex`` persists the adjacency incrementally,
with the same contracts as the rest of the index family
(dedup_index.MinHashIndex, text_index.DocFreqIndex, ann_index.PQIndex):

- **Each source page contributes its edge set exactly once, ever.**
  The unit of ingest is the SOURCE node (a fetched page emits its
  complete outlink set at fetch time), so the ledger is (src,
  batch_id) and resubmitted sources are anti-joined away. (Recrawl
  REPLACEMENT — a re-fetched page whose links changed — is a
  different operation from append-only growth and is out of scope
  here, as it is for the DF index's re-counted documents.)
- **Each update writes O(batch edges), never O(graph).** A batch's
  edges land as one hive partition (``batch_id=<n>``); nothing
  existing is rewritten.
- **Replay-idempotent at every crash point.** The edge set of a
  partition is a SET (extract_outlinks dedups per page; parallel
  links count once — out-degree semantics), which makes healing
  cheaper than the DF index's non-idempotent counts: ``edges()``
  reads the live partitions through one ``distinct``, so a crashed
  compact's absorbed-partition leftovers can never double-weight an
  edge. Write ordering is still the crash contract: the edge
  partition commits FIRST (directory cleared + dynamic overwrite),
  the ledger appends LAST; a crash between the two leaves an orphan
  partition that the next update claims and fully replaces
  (ORPHAN-FIRST allocation, the DocFreqIndex doctrine).

``rank()`` re-ranks from the PERSISTED adjacency — no HTML is
re-parsed — by running llm.linkgraph.pagerank over ``edges()``:
incrementality changes the maintenance schedule, never the answer
(pinned by tests/test_link_index.py and graded as an su08 member:
batched ingest + rank equals the one-shot PageRank oracle over the
union graph).

100 TB shape: update is one anti-join (ledger, src-keyed) + one
partition write; ``edges()`` is a union of parquet partitions with a
distinct on the uniform (src, dst) key; ``compact()`` folds
accumulated small partitions LSM-style so the per-iteration scan of
``rank()`` reads few large files instead of one file per crawl round.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LEDGER_SCHEMA = "src string, batch_id long"
_EDGE_SCHEMA = "src string, dst string"


class LinkGraphIndex:
    """Parquet-backed incremental (src, dst) adjacency with per-source
    exactly-once ingest and persisted-adjacency re-ranking."""

    def __init__(self, path: str):
        self.path = path.rstrip("/")
        self.ledger_path = f"{self.path}/sources"
        self.edge_path = f"{self.path}/edges"

    def _read_ledger(self, spark: SparkSession) -> DataFrame:
        if not os.path.isdir(self.ledger_path):
            return spark.createDataFrame([], _LEDGER_SCHEMA)
        return spark.read.schema(_LEDGER_SCHEMA).parquet(self.ledger_path)

    def _read_edges(self, spark: SparkSession) -> DataFrame:
        full = _EDGE_SCHEMA + ", batch_id long"
        if not os.path.isdir(self.edge_path):
            return spark.createDataFrame([], full)
        # explicit schema: an index whose batches were all-empty has no
        # part files and inference over the empty tree throws
        return spark.read.schema(full).parquet(self.edge_path)

    def _batch_id_sets(self, spark: SparkSession) -> tuple[set, set]:
        ledgered = {
            r.batch_id
            for r in self._read_ledger(spark)
            .select("batch_id").distinct().collect()
        }
        live = {
            r.batch_id
            for r in self._read_edges(spark)
            .select("batch_id").distinct().collect()
        }
        return ledgered, live

    def _alloc_batch_id(self, spark: SparkSession) -> int:
        """ORPHAN-FIRST allocation (text_index doctrine): claim the
        smallest unledgered partition (a crashed update's half-commit —
        fully replaced below), else one below the ledger/edge minimum
        (which includes compact()'s reservation sentinels, so fold
        partitions never reallocate)."""
        ledgered, live = self._batch_id_sets(spark)
        orphans = sorted(live - ledgered)
        if orphans:
            return int(orphans[0])
        return min(int(min(ledgered | live)) if (ledgered | live) else 0,
                   0) - 1

    def _fresh_negative_id(self, spark: SparkSession) -> int:
        """One below the minimum over BOTH tables — never an orphan:
        compact() must not fold under an id a crashed update's retry
        would replace in place."""
        ledgered, live = self._batch_id_sets(spark)
        return min(int(min(ledgered | live)) if (ledgered | live) else 0,
                   0) - 1

    def update(self, spark: SparkSession, edge_batch: DataFrame) -> None:
        """Ingest a batch of (src, dst) edges: sources already in the
        ledger are skipped wholesale (their edge set was ingested at
        their fetch round); fresh sources' edges land as one new
        partition under an orphan-first batch id, as in
        DocFreqIndex.update."""
        batch = edge_batch.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
        ).dropDuplicates(["src", "dst"])
        ledger = self._read_ledger(spark)
        bid = self._alloc_batch_id(spark)
        fresh = batch.join(ledger.select("src"), "src", "left_anti")
        if not fresh.limit(1).count():
            return
        import shutil

        # TOTAL replacement of the claimed partition before the write:
        # an orphan claimed from a crashed batch must not keep any of
        # the crash's rows (its sources are unledgered and will be
        # recounted on resubmission)
        shutil.rmtree(
            os.path.join(self.edge_path, f"batch_id={bid}"),
            ignore_errors=True,
        )
        fresh.withColumn("batch_id", F.lit(bid)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "batch_id"
        ).parquet(self.edge_path)
        fresh.select("src").distinct().select(
            "src", F.lit(bid).alias("batch_id")
        ).write.mode("append").parquet(self.ledger_path)

    def edges(self, spark: SparkSession) -> DataFrame:
        """The current (src, dst) edge SET. The distinct is the
        family's healing read: exactly-once sources mean no
        cross-partition duplicates in normal operation, and a crashed
        compact's not-yet-removed absorbed partitions dedup against
        their fold instead of double-weighting out-degrees."""
        return self._read_edges(spark).select("src", "dst").distinct()

    def rank(self, spark: SparkSession, k: int = 10,
             damping: float = 0.85) -> DataFrame:
        """PageRank from the PERSISTED adjacency — no HTML re-parse,
        no edge re-derivation: exactly llm.linkgraph.pagerank over
        ``edges()``, so batched ingest + rank equals one-shot rank
        over the union graph by construction."""
        from travel_data_ingestion_spark.llm.linkgraph import pagerank

        return pagerank(self.edges(spark), k=k, damping=damping)

    def compact(self, spark: SparkSession) -> None:
        """Fold the ledgered edge partitions into one (LSM compaction)
        so ``rank()``'s per-iteration scans read few large files.

        Crash-safe in three ordered steps: (1) a NULL-src sentinel
        ledger row reserves the fold id against future allocation;
        (2) the folded edge set commits under that id via a staging
        dir + atomic rename; (3) absorbed partition directories are
        removed — a crash between 2 and 3 leaves duplicates that
        ``edges()``'s distinct absorbs, and re-running compact
        finishes the removal. Only LEDGERED partitions fold: an
        unledgered partition is a crashed update's orphan whose retry
        must replace it in place."""
        import shutil

        ledgered = self._read_ledger(spark).select("batch_id").distinct()
        live = self._read_edges(spark)
        batch_ids = sorted(
            r.batch_id
            for r in live.select("batch_id").distinct()
            .join(ledgered, "batch_id").collect()
        )
        if len(batch_ids) <= 1:
            return
        fold_bid = self._fresh_negative_id(spark)
        spark.createDataFrame(
            [(None, fold_bid)], _LEDGER_SCHEMA
        ).write.mode("append").parquet(self.ledger_path)
        folded = (
            live.join(ledgered, "batch_id")
            .select("src", "dst").distinct()
            .withColumn("batch_id", F.lit(fold_bid))
        )
        staging = f"{self.path}/edges__fold_staging"
        folded.write.mode("overwrite").partitionBy("batch_id").parquet(
            staging
        )
        os.rename(
            os.path.join(staging, f"batch_id={fold_bid}"),
            os.path.join(self.edge_path, f"batch_id={fold_bid}"),
        )
        shutil.rmtree(staging, ignore_errors=True)
        for b in batch_ids:
            shutil.rmtree(
                os.path.join(self.edge_path, f"batch_id={b}"),
                ignore_errors=True,
            )
