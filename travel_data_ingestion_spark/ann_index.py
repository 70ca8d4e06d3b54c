"""Incremental IVF-PQ ANN index maintenance.

sim07's registry query retrains the coarse quantizer and PQ codebooks on
every run — fine for a one-shot sweep, wrong for a growing corpus: at
100 TB with daily embedding ingest, re-encoding the corpus per batch is
O(corpus) work for O(batch) new vectors. ``PQIndex`` makes the IVF-PQ
layout incremental with the standard production contract:

- **Codebooks are trained once and FROZEN** (``build``): M per-subspace
  KMeans codebooks (pq.train_codebooks) + nlist coarse centroids. Every
  later ``update`` encodes with the frozen books, so a vector's stored
  code is a pure function of (books, vector) — the schedule can never
  change an encoding. Re-training is an explicit rebuild, exactly how
  serving systems version their quantizers.
- **Codes are written exactly once per vec_id** (anti-join against the
  stored code table — the codes ARE the ledger), 5 bytes of payload per
  vector (4x int4 PQ codes + list id), partitioned by ``list_id``.
- **Search prunes storage, not just rows**: the query's nprobe nearest
  coarse centroids are computed driver-side from the tiny persisted
  centroid table, and the ``list_id IN probes`` filter prunes parquet
  PARTITIONS — at 100 TB the scan reads nprobe/nlist of the files, and
  each row costs 4 bytes, before ADC ranks survivors with literal
  lookup tables (pq.adc_topk: map-only + TakeOrderedAndProject).

Invariants (tests/test_ann_index.py): batched updates produce codes
identical to one-shot encoding with the same books; replay is a no-op;
search equals the direct IVF-PQ computation over the full corpus; the
probe filter provably prunes unprobed list partitions from the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_ingestion_spark.index_store import read
from travel_data_ingestion_spark.pq import adc_topk, encode, train_codebooks

_CODES_SCHEMA = "vec_id long, list_id int, pq_code array<int>"
_BOOKS_SCHEMA = "kind string, sub int, idx int, center array<double>"

NLIST = 8
NPROBE = 2


class PQIndex:
    """Parquet-backed incremental IVF-PQ index over an embeddings table.

    Input batches carry (vec_id, e) with ``e: array<double>``.
    """

    def __init__(self, path: str):
        self.path = path.rstrip("/")
        self.codes_path = f"{self.path}/codes"
        self.books_path = f"{self.path}/books"

    def exists(self) -> bool:
        return os.path.isdir(self.books_path)

    # -- codebook persistence -------------------------------------------

    def _write_books(
        self, spark: SparkSession, books: list[list[list[float]]], centers: list[list[float]]
    ) -> None:
        rows = [
            ("pq", s, i, list(map(float, c)))
            for s, book in enumerate(books)
            for i, c in enumerate(book)
        ] + [("ivf", 0, i, list(map(float, c))) for i, c in enumerate(centers)]
        spark.createDataFrame(rows, _BOOKS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(self.books_path)

    def load_books(
        self, spark: SparkSession
    ) -> tuple[list[list[list[float]]], list[list[float]]]:
        rows = spark.read.schema(_BOOKS_SCHEMA).parquet(self.books_path).collect()
        pq_rows = sorted(
            ((r.sub, r.idx, r.center) for r in rows if r.kind == "pq")
        )
        n_sub = max(s for s, _, _ in pq_rows) + 1
        books: list[list[list[float]]] = [[] for _ in range(n_sub)]
        for s, _i, c in pq_rows:
            books[s].append(list(c))
        centers = [list(c) for _s, _i, c in sorted(
            ((r.sub, r.idx, r.center) for r in rows if r.kind == "ivf")
        )]
        return books, centers

    # -- build / update --------------------------------------------------

    def _encode_batch(
        self,
        df: DataFrame,
        books: list[list[list[float]]],
        centers: list[list[float]],
    ) -> DataFrame:
        # Coarse assignment reuses the PQ argmin machinery: one "subspace"
        # spanning the whole vector with nlist "centroids" — pure Catalyst,
        # no ML model object, so frozen centroids work forever.
        assigned = encode(df, [centers], col="e", out="coarse")
        assigned = assigned.withColumn("list_id", F.element_at("coarse", 1))
        coded = encode(assigned, books, col="e", out="pq_code")
        return coded.select("vec_id", "list_id", "pq_code")

    def build(self, spark: SparkSession, corpus: DataFrame, nlist: int = NLIST) -> int:
        """Train codebooks + coarse centroids on (a sample of) ``corpus``,
        freeze them, and encode the corpus. Returns rows encoded.

        Rebuild contract: ``build`` on an index that already holds codes
        DROPS them before the new books land. Stored codes are only
        meaningful under the books that encoded them — keeping them
        would leave mixed-generation encodings that ``update``'s
        anti-join can never repair (old vec_ids would be skipped, never
        re-encoded, and ADC would rank their stale codes against the new
        lookup tables: silently wrong distances). Drop-codes-first also
        makes the crash windows safe: at every point the index is either
        (old books, old codes), (old books, no codes), (no books, no
        codes — exists() False, rebuild required), or (new books, fresh
        codes); codes from one generation never meet books from another.
        """
        import shutil

        books = train_codebooks(corpus, col="e")
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        km = KMeans(k=nlist, seed=42, maxIter=10).fit(
            corpus.select(array_to_vector("e").alias("features"))
        )
        centers = [list(map(float, c)) for c in km.clusterCenters()]
        shutil.rmtree(self.codes_path, ignore_errors=True)
        self._write_books(spark, books, centers)
        return self.update(spark, corpus)

    def update(self, spark: SparkSession, batch: DataFrame) -> int:
        """Encode the batch's NEW vectors with the frozen books; append
        partitioned by list_id. Replaying an indexed vec_id is a no-op.
        Returns rows appended.

        The anti-join excludes previously STORED ids; a dirty batch can
        still carry the same vec_id twice, so the batch is deduped on
        vec_id first — otherwise both copies would be appended and the
        exactly-once ledger contract would break. ``coded`` is persisted
        across the count + write pair so the anti-join + encode run
        once, not twice.
        """
        if not self.exists():
            raise ValueError("PQIndex.update before build: no frozen codebooks")
        books, centers = self.load_books(spark)
        seen = read(spark, self.codes_path, _CODES_SCHEMA).select("vec_id")
        fresh = batch.dropDuplicates(["vec_id"]).join(seen, "vec_id", "left_anti")
        coded = self._encode_batch(fresh, books, centers).persist()
        try:
            n = coded.count()
            if n:
                coded.write.mode("append").partitionBy("list_id").parquet(self.codes_path)
        finally:
            coded.unpersist()
        return n

    # -- search ----------------------------------------------------------

    def search(
        self, spark: SparkSession, query: list[float], k: int = 10, nprobe: int = NPROBE
    ) -> DataFrame:
        """ADC top-k over the nprobe nearest inverted lists. The probe
        set is computed driver-side from the tiny centroid table; the
        list_id filter prunes code PARTITIONS before any row is read."""
        books, centers = self.load_books(spark)
        probes = sorted(
            range(len(centers)),
            key=lambda i: (
                sum((q - c) ** 2 for q, c in zip(query, centers[i])),
                i,
            ),
        )[:nprobe]
        codes = spark.read.schema(_CODES_SCHEMA).parquet(self.codes_path)
        pruned = codes.filter(F.col("list_id").isin(probes))
        return adc_topk(pruned, books, query, k=k)

