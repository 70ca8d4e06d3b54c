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
- **Replay-idempotent at every crash point**, by the claimed-partition
  commit and crash-safe fold of ``index_store`` (the one statement of
  the family's crash and replay doctrine). A partition's edge set is a
  SET (extract_outlinks dedups per page; parallel links count once —
  out-degree semantics), which makes healing cheaper than the DF
  index's non-idempotent counts: ``edges()`` reads the live partitions
  through one ``distinct``, so a crashed compact's absorbed-partition
  leftovers can never double-weight an edge.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_ingestion_spark.index_store import PartitionedStore

_LEDGER_SCHEMA = "src string, batch_id long"
_EDGE_SCHEMA = "src string, dst string"


class LinkGraphIndex:
    """Parquet-backed incremental (src, dst) adjacency with per-source
    exactly-once ingest and persisted-adjacency re-ranking."""

    def __init__(self, path: str):
        self.path = path.rstrip("/")
        self.ledger_path = f"{self.path}/sources"
        self.edge_path = f"{self.path}/edges"
        self.store = PartitionedStore(
            self.edge_path, _EDGE_SCHEMA + ", batch_id long", self.ledger_path, _LEDGER_SCHEMA
        )

    def update(self, spark: SparkSession, edge_batch: DataFrame) -> None:
        """Ingest a batch of (src, dst) edges: sources already in the
        ledger are skipped wholesale (their edge set was ingested at
        their fetch round); fresh sources' edges land as one claimed
        partition (``PartitionedStore.commit``)."""
        batch = edge_batch.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
        ).dropDuplicates(["src", "dst"])
        ledger = self.store.ledger(spark)
        bid = self.store.claim_id(spark)
        fresh = batch.join(ledger.select("src"), "src", "left_anti")
        if fresh.limit(1).count():
            self.store.commit(bid, fresh, fresh.select("src").distinct())

    def edges(self, spark: SparkSession) -> DataFrame:
        """The current (src, dst) edge SET. The distinct is the
        family's healing read: exactly-once sources mean no
        cross-partition duplicates in normal operation, and a crashed
        compact's not-yet-removed absorbed partitions dedup against
        their fold instead of double-weighting out-degrees."""
        return self.store.data(spark).select("src", "dst").distinct()

    def rank(self, spark: SparkSession, k: int = 10,
             damping: float = 0.85) -> DataFrame:
        """PageRank from the PERSISTED adjacency — no HTML re-parse,
        no edge re-derivation: exactly llm.linkgraph.pagerank over
        ``edges()``, so batched ingest + rank equals one-shot rank
        over the union graph by construction."""
        from travel_data_ingestion_spark.llm.linkgraph import pagerank

        return pagerank(self.edges(spark), k=k, damping=damping)

    def compact(self, spark: SparkSession) -> None:
        """Fold the ledgered edge partitions into one
        (``PartitionedStore.fold``) so ``rank()``'s per-iteration scans
        read few large files; the fold is the distinct edge set, and a
        crash before the absorbed partitions go leaves duplicates that
        ``edges()``'s distinct absorbs."""
        self.store.fold(
            spark,
            self.store.data(spark),
            lambda rows, _absorbed: rows.select("src", "dst").distinct(),
        )
