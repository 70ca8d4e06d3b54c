"""Incremental MinHash-LSH index maintenance.

The batch dedup query (dd03) recomputes every signature on every run —
fine for a one-shot sweep, wrong for a growing corpus: at 100 TB with
daily ingest, re-sweeping the full corpus per batch is O(corpus) work
for O(batch) new information. ``MinHashIndex`` makes dedup incremental:

- **Signatures are computed exactly once per document ever.** MinHash
  band signatures are pure functions of a doc's shingle set
  (``queries.llm_dedup.minhash_band_rows``), so they persist in a
  parquet index and never need recomputation.
- **Each update touches O(batch) + matching buckets, not O(corpus).**
  New docs' band rows equi-join the stored band table on the uniform
  md5 ``(band_id, sig)`` key; only colliding pairs pay the exact
  Jaccard verification. The new side is small, so AQE broadcasts it;
  the stored side is never shuffled (the join key is the scan key).
- **Exactly-once per doc.** A batch doc_id already present in the doc
  ledger is skipped (left-anti), so replaying a batch is a no-op —
  mirroring the ingestion filename ledger semantics
  (reference: scripts/ingestion_logic.py load-ledger behavior).

Invariant (pinned by tests/test_dedup_index.py): the union of pair sets
returned by ``build`` + every ``update`` equals the one-shot dd03 pair
set over the full corpus — incrementality changes the schedule, never
the answer.

Layout under ``path``:
- ``docs/``  parquet ledger: (doc_id, n_sh, shingles, batch_id) —
  shingles kept for candidate verification without re-reading the
  corpus; empty for unindexable (<3-token) docs, which are remembered
  but never join; batch_id names the update that indexed the doc and
  splits the post-append ledger into new and old sides (see update).
- ``bands/`` parquet: (doc_id, n_sh, band_id, sig) — 8 rows per
  indexable doc, the LSH bucket table.

Both tables append one file-set per batch; nothing here compacts them.
Batch ids and reads follow ``index_store``, the family's one statement
of the batch protocol; what is this module's own is the post-append
re-read (MinHashIndex.update) and ClusterIndex's merge-log swap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_ingestion_spark.catalog import empty_frame
from travel_data_ingestion_spark.index_store import batch_id, read
from travel_data_ingestion_spark.queries.llm_dedup import (
    _JACCARD_T,
    minhash_band_rows,
    shingle_docs,
)

# batch_id: which update() call indexed the doc (-1, -2, ... per call).
_DOCS_SCHEMA = "doc_id long, n_sh int, shingles array<string>, batch_id long"
_BANDS_SCHEMA = "doc_id long, n_sh int, band_id int, sig string"


class MinHashIndex:
    """Parquet-backed incremental near-dup index over a documents table."""

    def __init__(self, path: str):
        self.path = path.rstrip("/")
        self.docs_path = f"{self.path}/docs"
        self.bands_path = f"{self.path}/bands"

    def update(self, spark: SparkSession, batch: DataFrame) -> DataFrame:
        """Index a batch of (doc_id, text) docs; return the NEW near-dup
        pairs (doc_a, doc_b, jaccard) this batch introduces.

        A returned pair always has its new doc on one side; pairs whose
        both sides predate the batch were returned by the update that
        introduced them. ``build`` is just ``update`` on an empty index.

        Each call indexes its fresh docs under a new batch id
        (``index_store.batch_id``), so a repeated update with already-ledgered
        docs is a full no-op — no appends, no pairs.

        The "new side" of the candidate join derives from the
        POST-append ledger filtered by batch_id — deliberately NOT from
        the pre-append anti-join: a Spark write refreshes cached file
        listings for its target path, so a pre-append frame re-evaluated
        after the append can silently collapse to empty (measured; the
        r7 refactor hit exactly this), while the batch_id predicate is
        stable under any re-evaluation.

        Write ordering is part of the crash contract: bands land BEFORE
        the doc ledger, because the ledger is the replay key — a crash
        between the two writes re-runs the doc as fresh (band duplicates
        are absorbed by the candidate join's ``distinct``), while the
        reverse order would leave a ledgered-but-bandless doc invisible
        to near-dup detection forever.
        """
        batch = batch.select("doc_id", "text").dropDuplicates(["doc_id"])
        ledger = read(spark, self.docs_path, _DOCS_SCHEMA)
        bid = batch_id(ledger)
        fresh = batch.join(ledger.select("doc_id"), "doc_id", "left_anti").persist()

        sh_new = shingle_docs(fresh).persist()
        # ledger rows for ALL fresh docs — unindexable ones keep an empty
        # shingle set so replays skip them too.
        ledger_new = (
            fresh.select("doc_id")
            .join(sh_new, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_sh", F.lit(0)).alias("n_sh"),
                F.coalesce("shingles", F.array().cast("array<string>")).alias("shingles"),
                F.lit(bid).alias("batch_id"),
            )
        )
        bands_new = minhash_band_rows(sh_new)

        try:
            # bands FIRST, ledger LAST (see docstring).
            bands_new.write.mode("append").parquet(self.bands_path)
            ledger_new.write.mode("append").parquet(self.docs_path)
        finally:
            sh_new.unpersist()
            fresh.unpersist()

        # Re-reads below list the index files AFTER the append, so they
        # see old + new rows; the new side is "this batch minus docs
        # indexed under OTHER batch ids" — exactly the fresh set.
        bands_all = read(spark, self.bands_path, _BANDS_SCHEMA)
        docs_all = read(spark, self.docs_path, _DOCS_SCHEMA)
        # eqNullSafe: an index written by a pre-batch_id schema reads
        # back with NULL batch_id; NULL != bid is NULL (row dropped), so
        # a plain != would treat every legacy doc as "this batch" — and
        # re-submitted legacy docs would re-emit their pairs. Null-safe,
        # NULL counts as "some other (legacy) batch", which is correct.
        new_ids = batch.join(
            docs_all.filter(~F.col("batch_id").eqNullSafe(F.lit(bid))).select("doc_id"),
            "doc_id",
            "left_anti",
        ).select("doc_id")

        # Candidates: new-side band rows vs the WHOLE index (old + new);
        # (least, greatest) + distinct canonicalizes each pair to one row.
        a = bands_all.join(new_ids, "doc_id").alias("a")
        b = bands_all.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            )
            .distinct()
        )

        # Exact-Jaccard verification against the stored shingle ledger.
        da = docs_all.select(
            F.col("doc_id").alias("doc_a"),
            F.col("n_sh").alias("n_a"),
            F.col("shingles").alias("sh_a"),
        )
        db = docs_all.select(
            F.col("doc_id").alias("doc_b"),
            F.col("n_sh").alias("n_b"),
            F.col("shingles").alias("sh_b"),
        )
        verified = (
            cand.join(da, "doc_a")
            .join(db, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                "n_a",
                "n_b",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            )
        )
        jac = F.col("n_common").cast("double") / (
            F.col("n_a") + F.col("n_b") - F.col("n_common")
        )
        return verified.filter(jac >= _JACCARD_T).select(
            "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
        )

    build = update


_SIGS_SCHEMA = "media_id long, phash long, batch_id long"


class PhashIndex:
    """Parquet-backed incremental near-dup index over a MEDIA table —
    the perceptual-hash sibling of MinHashIndex (text shingles vs
    media signatures).

    Signatures are computed exactly once per media_id ever (the pHash
    kernels decode payload bytes — by far the expensive step — so
    recomputation is the thing to avoid); each update touches O(batch)
    + colliding buckets via the same 4x16-bit pigeonhole blocking
    hamming_pairs uses (lossless for hamming <= 3), joined
    new-side-vs-whole-index at the SIGNATURE level so identical-payload
    floods collapse before the join. ``signature_fn`` selects the
    modality kernel (llm.multimodal.phash_signatures for images,
    audio_phash_signatures for audio); one index can hold both — the
    two hash families live in the same 64-bit space and simply never
    land within the threshold of each other in practice (mm03 pins the
    measured separation).

    Replay semantics mirror MinHashIndex exactly: each update allocates
    a fresh negative batch id, so resubmitting indexed media is a full
    no-op (the ledger anti-join keeps appends exactly-once). The new
    side derives from the POST-append ledger filtered by batch_id — not
    a pre-append frame, which a write-triggered file-listing refresh can
    silently empty (the measured r7 trap, see MinHashIndex.update).

    Invariant (pinned by tests/test_phash_index.py): the union of pair
    sets from build + every update equals the one-shot
    hamming_pairs answer over all signatures.
    """

    MAX_HAMMING = 3

    def __init__(self, path: str):
        self.path = path.rstrip("/")
        self.sigs_path = f"{self.path}/sigs"

    def update(
        self, spark: SparkSession, batch: DataFrame, signature_fn=None
    ) -> DataFrame:
        """Index a batch of (media_id, payload) rows; return the NEW
        near-dup pairs (id_a, id_b, hamming) this batch introduces. A
        returned pair always has a new id on one side."""
        if signature_fn is None:
            from travel_data_ingestion_spark.llm.multimodal import (
                phash_signatures,
            )

            signature_fn = phash_signatures
        batch = batch.select("media_id", "payload").dropDuplicates(["media_id"])
        ledger = read(spark, self.sigs_path, _SIGS_SCHEMA)
        bid = batch_id(ledger)
        fresh = batch.join(ledger.select("media_id"), "media_id", "left_anti")
        sigs_new = signature_fn(fresh).select(
            "media_id", "phash", F.lit(bid).alias("batch_id")
        )
        sigs_new.write.mode("append").parquet(self.sigs_path)

        sigs_all = read(spark, self.sigs_path, _SIGS_SCHEMA)
        # this update's own rows are the new side
        new_side = sigs_all.filter(F.col("batch_id").eqNullSafe(F.lit(bid)))
        return self._pairs_new_vs_all(new_side, sigs_all)

    build = update

    def _pairs_new_vs_all(self, new_side: DataFrame, sigs_all: DataFrame) -> DataFrame:
        """Pairs (id_a, id_b, hamming<=MAX_HAMMING) with at least one
        new id, via signature-level pigeonhole blocking: hamming<=3
        over 64 bits means >= 1 of the 4 disjoint 16-bit chunks is
        equal, so the chunk equi-join is lossless (hamming_pairs'
        first-level blocking; the hot-bucket second level is a batch
        optimization an incremental new-side rarely needs — the new
        side is small by construction)."""

        def chunked(sigs: DataFrame) -> DataFrame:
            usig = sigs.select(F.col("phash").alias("sig")).distinct()
            return usig.select(
                "sig",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("chunk_id"),
                                F.shiftrightunsigned("sig", 16 * c)
                                .bitwiseAND(F.lit(0xFFFF))
                                .alias("chunk_val"),
                            )
                            for c in range(4)
                        ]
                    )
                ).alias("ch"),
            ).select("sig", "ch.chunk_id", "ch.chunk_val")

        new_chunks = chunked(new_side).alias("n")
        all_chunks = chunked(sigs_all).alias("o")
        ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
        cand = (
            new_chunks.join(
                all_chunks,
                (F.col("n.chunk_id") == F.col("o.chunk_id"))
                & (F.col("n.chunk_val") == F.col("o.chunk_val")),
            )
            .select(F.col("n.sig").alias("sig_a"), F.col("o.sig").alias("sig_b"))
            .distinct()
            .withColumn("hamming", ham)
            .filter(F.col("hamming") <= self.MAX_HAMMING)
        )
        ids_new = new_side.select(F.col("phash").alias("sig_a"), F.col("media_id").alias("ida"))
        ids_all = sigs_all.select(F.col("phash").alias("sig_b"), F.col("media_id").alias("idb"))
        return (
            cand.join(ids_new, "sig_a")
            .join(ids_all, "sig_b")
            .filter(F.col("ida") != F.col("idb"))
            .select(
                F.least("ida", "idb").alias("id_a"),
                F.greatest("ida", "idb").alias("id_b"),
                "hamming",
            )
            .distinct()
        )


_ASSIGN_SCHEMA = "doc_id long, c0 long"
_REMAP_SCHEMA = "src long, dst long"


def _map_frame(spark: SparkSession, mapping: dict[int, int], schema: str) -> DataFrame:
    """``mapping``'s items, in key order, as a two-column frame of
    ``schema``; an empty mapping is planned in the JVM."""
    if not mapping:
        return empty_frame(spark, schema)
    return spark.createDataFrame(sorted((int(a), int(b)) for a, b in mapping.items()), schema)


class ClusterIndex:
    """Incremental connected components over a growing near-dup pair graph.

    dd06 recomputes every cluster label from scratch per run — O(corpus)
    shuffles per batch of new edges. ``ClusterIndex`` maintains the same
    answer (cluster id = minimum doc_id reachable through near-dup
    edges, identical to dd06's converged min-label propagation) with
    per-batch work proportional to the batch, via a two-table layout:

    - ``assign/`` is **append-only**: one row per doc ever indexed,
      (doc_id, c0) where c0 is the doc's cluster label *at insert time*.
      Cluster merges never rewrite it — at 100 TB the corpus-sized table
      is written once per doc, period.
    - ``remap/`` is a **path-compressed merge log**: (src, dst) meaning
      "cluster src was merged into dst". It is tiny — one row per
      cluster-merge event ever, bounded by the number of duplicate
      clusters, not by corpus size — and is rewritten (recompressed)
      per batch. ``resolve`` = assign LEFT JOIN broadcast(remap):
      compression guarantees one hop, so read-time resolution is a
      single broadcast-hash join, no iteration.

    Per-batch edge contraction runs driver-side union-find over the
    **distinct cluster-representative edges** of the new pairs — O(batch
    pairs) tuples after distributed dedup, never corpus-sized (the same
    control-plane budget as the config/ledger collects elsewhere). The
    only corpus-touching step is the endpoint lookup, a broadcast
    semi-filtered map-only scan of ``assign`` (row-group pruned under a
    doc_id-sorted layout; no shuffle).

    DRIVER BUDGET (enforced inside ``update``, not a caller contract):
    batches at or under ``max_driver_pairs`` distinct pairs (default
    10^7, ~ a few GB of driver heap at a few hundred bytes per
    collected pair) take the direct path — collect the distinct pairs
    and union-find them driver-side; a 10^6-pair chain batch is pinned
    by tests/test_dedup_index.py::test_cluster_index_million_pair_batch
    to complete within a bounded Python heap. A batch ABOVE the budget
    (a crawl snapshot that is 50% near-dups) is detected by a bounded
    limit-count probe and contracted DISTRIBUTIVELY first: the dd06
    min-label propagation collapses the batch pair graph to its
    components, and the driver sees one row per (component, touched
    existing cluster) — bounded by cluster-merge events, the same
    quantity the driver-resident remap log stores by design. Both
    paths produce identical merges and assign rows
    (tests/test_dedup_index.py::test_over_budget_batch_contracts_distributed).

    Invariant (tests/test_dedup_index.py): feeding batches of
    MinHashIndex.update's new pairs reproduces one-shot dd06 exactly.
    """

    def __init__(self, path: str):
        self.path = path.rstrip("/")
        self.assign_path = f"{self.path}/assign"
        self.remap_path = f"{self.path}/remap"

    def _read_remap(self, spark: SparkSession) -> dict[int, int]:
        path = self.remap_path
        if not os.path.isdir(path):
            # crash landed between the two swap renames: the parked old
            # log is the consistent pre-rewrite state (the interrupted
            # batch's merges are re-derived when its pairs are fed again)
            path = f"{self.remap_path}__old"
            if not os.path.isdir(path):
                return {}
        return {r.src: r.dst for r in read(spark, path, _REMAP_SCHEMA).collect()}

    def update(
        self,
        spark: SparkSession,
        batch: DataFrame,
        pairs: DataFrame,
        max_driver_pairs: int = 10_000_000,
    ) -> dict[int, int]:
        """Add a batch of docs (``doc_id`` column) and the new near-dup
        pairs (``doc_a``/``doc_b``) this batch introduced; returns the
        cluster merges applied ({old_cluster: new_cluster}).

        Pair endpoints must be previously-indexed docs or members of
        ``batch`` (which MinHashIndex.update's output satisfies by
        construction). Replaying an already-indexed batch doc is a no-op.

        The driver budget is ENFORCED here, not delegated to callers: a
        cheap limit-count probes the pair cardinality, and a batch above
        ``max_driver_pairs`` is contracted DISTRIBUTIVELY first
        (propagate_min_labels over the batch pair graph — the dd06
        machinery), so the driver union-find sees one row per
        (component, touched existing cluster) instead of one per pair.
        That contracted set is bounded by cluster-merge events — the
        same quantity the remap log itself stores — so any batch the
        index can represent at all fits the driver after contraction.
        """
        assign = read(spark, self.assign_path, _ASSIGN_SCHEMA)
        remap = self._read_remap(spark)
        fresh = (
            batch.select("doc_id")
            .dropDuplicates(["doc_id"])
            .join(assign.select("doc_id"), "doc_id", "left_anti")
        )

        # Budget probe: limit(N+1).count() on the raw pairs stops
        # scanning at N+1 rows — the common (small-batch) case pays a
        # bounded probe, never a full count. Only when the raw stream
        # exceeds the budget is the distinct cardinality measured. The
        # pairs plan is often expensive (MinHashIndex.update output is
        # a banded join), so persist it across probe + contraction
        # instead of recomputing the lineage per action.
        raw = pairs.select("doc_a", "doc_b").persist()
        try:
            over = (
                raw.limit(max_driver_pairs + 1).count() > max_driver_pairs
                and raw.distinct().limit(max_driver_pairs + 1).count()
                > max_driver_pairs
            )
            if over:
                merges, rows = self._contract_distributed(
                    spark, assign, remap, fresh, raw.distinct()
                )
            else:
                merges, rows = self._contract_on_driver(
                    spark, assign, remap, fresh, raw
                )
            return self._commit(spark, remap, merges, rows)
        finally:
            raw.unpersist()

    def _contract_on_driver(self, spark, assign, remap, fresh, pairs):
        """The small-batch path: collect the distinct pairs and
        union-find them on the driver — O(distinct pairs + endpoints)
        heap, a few hundred bytes per pair."""
        edge_rows = pairs.select("doc_a", "doc_b").distinct().collect()
        endpoints = {r.doc_a for r in edge_rows} | {r.doc_b for r in edge_rows}

        # Driver budget is O(batch PAIRS), never O(batch docs): the only
        # fresh ids the contraction below consults are pair endpoints, so
        # collect just `fresh ∩ endpoints` via a broadcast left-semi join.
        # Untouched fresh docs (the overwhelming majority of a 100M-doc
        # micro-batch) never reach the driver — their singleton assign
        # rows are written by the distributed join at the bottom.
        if endpoints:
            ep_all_df = spark.createDataFrame(
                [(int(d),) for d in sorted(endpoints)], "doc_id long"
            )
            fresh_ids = {
                r.doc_id
                for r in fresh.join(F.broadcast(ep_all_df), "doc_id", "left_semi").collect()
            }
        else:
            fresh_ids = set()
        old_endpoints = endpoints - fresh_ids
        if old_endpoints:
            ep_df = spark.createDataFrame(
                [(int(d),) for d in sorted(old_endpoints)], "doc_id long"
            )
            known = {
                r.doc_id: r.c0
                for r in assign.join(F.broadcast(ep_df), "doc_id").collect()
            }
            missing = old_endpoints - set(known)
            if missing:
                raise ValueError(
                    f"ClusterIndex: pair endpoints never indexed: {sorted(missing)[:5]}"
                )
        else:
            known = {}

        # Representative per endpoint: fresh docs are their own cluster;
        # existing docs resolve insert-time label through the remap log
        # (path-compressed => one hop).
        def rep(d: int) -> int:
            if d in fresh_ids:
                return d
            c = known[d]
            return remap.get(c, c)

        # Driver union-find over representative edges, min label as root.
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in edge_rows:
            a, b = find(rep(r.doc_a)), find(rep(r.doc_b))
            if a != b:
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo

        # Fresh doc ids can appear as contracted-away union-find nodes,
        # but no assign row ever references them as an insert-time label
        # (touched fresh rows are written with their FINAL label below),
        # so only pre-existing cluster labels belong in the merge log.
        merges = {
            x: find(x)
            for x in list(parent)
            if find(x) != x and x not in fresh_ids
        }

        # Fresh assign rows: pair-touched docs get their contracted
        # label; untouched fresh docs are singleton clusters of themselves.
        touched = [(int(d), int(find(rep(d)))) for d in sorted(fresh_ids & endpoints)]
        touched_df = (
            spark.createDataFrame(touched, _ASSIGN_SCHEMA)
            if touched
            else empty_frame(spark, _ASSIGN_SCHEMA)
        )
        rows = (
            fresh.join(touched_df.withColumnRenamed("c0", "c_t"), "doc_id", "left")
            .select("doc_id", F.coalesce("c_t", F.col("doc_id")).alias("c0"))
        )
        return merges, rows

    def _contract_distributed(self, spark, assign, remap, fresh, pr):
        """The over-budget path: run the same distributed min-label
        propagation dd06 uses over the batch pair graph, then hand the
        driver only the CONTRACTED rows — one per (batch-graph
        component, touched existing cluster). A crawl snapshot that is
        50% near-dups sends ~10^8 pairs but only as many contracted
        rows as there are cluster-merge events, which is what the
        driver-resident remap log must hold anyway."""
        from travel_data_ingestion_spark.queries.llm_dedup import (
            propagate_min_labels,
        )

        labels = propagate_min_labels(pr, "doc_a", "doc_b")  # (node, label)
        remap_df = _map_frame(spark, remap, _REMAP_SCHEMA)
        noded = (
            labels.join(
                assign.select(
                    F.col("doc_id").alias("node"), F.col("c0").alias("a_c0")
                ),
                "node",
                "left",
            )
            .join(F.broadcast(remap_df), F.col("a_c0") == F.col("src"), "left")
            .select(
                "node", "label", F.coalesce("dst", "a_c0").alias("old_rep")
            )
        )
        missing = (
            noded.filter(F.col("old_rep").isNull())
            .join(
                fresh.select(F.col("doc_id").alias("node")), "node", "left_anti"
            )
            .limit(5)
            .collect()
        )
        if missing:
            raise ValueError(
                "ClusterIndex: pair endpoints never indexed: "
                f"{sorted(r.node for r in missing)}"
            )
        # one row per (component label, existing cluster) — the driver
        # union-find's entire input
        contracted = (
            noded.filter(F.col("old_rep").isNotNull())
            .select("label", "old_rep")
            .distinct()
            .collect()
        )

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for r in contracted:
            a, b = find(int(r.label)), find(int(r.old_rep))
            if a != b:
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo

        # merge-log entries: existing cluster labels only (old_rep
        # values); component labels are node ids, never insert-time
        # labels of pre-existing rows
        reps = {int(r.old_rep) for r in contracted}
        merges = {x: find(x) for x in reps if find(x) != x}
        # final label per component that met an existing cluster; the
        # all-fresh components keep their propagated min label
        final_map = {}
        for r in contracted:
            lbl = int(r.label)
            f = find(lbl)
            if f != lbl:
                final_map[lbl] = f
        fmap_df = _map_frame(spark, final_map, "label long, final long")
        rows = (
            fresh.join(
                labels.select(F.col("node").alias("doc_id"), "label"),
                "doc_id",
                "left",
            )
            .join(F.broadcast(fmap_df), "label", "left")
            .select(
                "doc_id",
                F.coalesce("final", "label", F.col("doc_id"))
                .cast("long")
                .alias("c0"),
            )
        )
        return merges, rows

    def _commit(self, spark, remap, merges, rows):
        """Shared tail of both contraction paths: append the fresh
        assign rows, recompress + atomically swap the merge log."""
        rows.write.mode("append").parquet(self.assign_path)

        # Recompress the merge log: compose old entries through this
        # batch's merges so every chain stays length one, drop identities.
        new_remap = {}
        for src, dst in {**remap, **merges}.items():
            final = dst
            while final in merges or final in remap:
                nxt = merges.get(final, remap.get(final))
                if nxt == final:
                    break
                final = nxt
            if final != src:
                new_remap[src] = final
        remap_df = _map_frame(spark, new_remap, _REMAP_SCHEMA)
        # Swap with the smallest possible no-log window: park the live
        # log aside, promote the new one, then delete the old — the
        # path is only absent between the two renames (vs the previous
        # rmtree-then-rename, which left no log for the whole delete).
        # Single-driver contract (SURVEY §7.4-4): a truly concurrent
        # resolve() is out of scope; a crash mid-swap is repaired by
        # the next update, and a crash BETWEEN the assign append and
        # this rewrite heals when the same pairs are fed again: the
        # endpoint re-contraction here re-derives the lost merges.
        import shutil

        tmp = f"{self.remap_path}__tmp"
        old = f"{self.remap_path}__old"
        remap_df.coalesce(1).write.mode("overwrite").parquet(tmp)
        # __old is only ever deleted while a sibling consistent log
        # exists: when live is present (so the parked copy is a stale
        # leftover from a crash-after-promote), or after tmp has been
        # promoted. If live is ABSENT here (prior crash between the two
        # renames), the parked copy is the one _read_remap fed this
        # rewrite — deleting it pre-promotion would re-open the no-log
        # window this swap exists to close (a second crash would lose
        # every historical merge, unrecoverable by re-feeding pairs).
        if os.path.isdir(self.remap_path):
            shutil.rmtree(old, ignore_errors=True)
            os.rename(self.remap_path, old)
        os.rename(tmp, self.remap_path)
        shutil.rmtree(old, ignore_errors=True)
        return merges

    def resolve(self, spark: SparkSession) -> DataFrame:
        """(doc_id, cluster_id) for every indexed doc — one broadcast join."""
        remap = self._read_remap(spark)
        remap_df = _map_frame(spark, remap, _REMAP_SCHEMA)
        return (
            read(spark, self.assign_path, _ASSIGN_SCHEMA)
            .join(F.broadcast(remap_df), F.col("c0") == F.col("src"), "left")
            .select("doc_id", F.coalesce("dst", F.col("c0")).alias("cluster_id"))
        )

    def clusters(self, spark: SparkSession) -> DataFrame:
        """dd06-shaped output: non-singleton clusters with size + survivor."""
        return (
            self.resolve(spark)
            .groupBy("cluster_id")
            .agg(
                F.count(F.lit(1)).alias("cluster_size"),
                F.min("doc_id").alias("kept_doc_id"),
            )
            .filter(F.col("cluster_size") > 1)
            .orderBy("cluster_id")
        )
