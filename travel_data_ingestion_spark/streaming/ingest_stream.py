"""Streaming file ingestion: the A-02..A-08 pipeline as a Structured
Streaming job.

``Trigger.AvailableNow`` drains whatever files exist and stops — the
streaming-native equivalent of one ingestion DAG run; the checkpoint
(``<warehouse>/_checkpoints/<table>``) decides which files each epoch
consumes, once across restarts. ``foreachBatch`` lands each micro-batch
through the same idempotent per-``load_id`` partition overwrite as the
batch ingest. The CSV reader carries the batch path's exact parsing
options (header, RFC-4180 doubled-quote escapes, NULL/null/'' -> NULL,
PERMISSIVE), so a file produces identical bronze rows whichever path
ingested it.

``load_id`` allocation: the ingestion ledger is the only record of which
id a load holds. Each epoch is one load keyed ``stream:<query id>:<epoch
id>`` and takes its id from ``ledger.reserve``, the batch ingest's
allocator. The query id is the checkpoint's persistent id, and a
replayed micro-batch keeps its epoch id and its input files (Armbrust et
al., SIGMOD 2018), so a replayed epoch finds its own ledger rows: after
a SUCCESS row it is skipped (its partition committed before that row
was written); after a RUNNING or FAILURE row it rewrites its partition
under the reserved id. An epoch whose bronze write raises records a
FAILURE row with the error, then fails the query. A recreated
checkpoint has a new query id, so its epochs are new loads with fresh
ids rather than matches for the old epochs' rows. Single-driver contract, same as the warehouse's other ledgers.

At scale this is the preferred ingestion mode: file discovery is
incremental (no full LIST per run), and maxFilesPerTrigger bounds batch
size for predictable executor memory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_ingestion_spark import ledger
from travel_data_ingestion_spark.catalog import Warehouse
from travel_data_ingestion_spark.ingest import read_csv, with_lineage


def stream_ingest_csv(
    spark: SparkSession,
    wh: Warehouse,
    landing_dir: str,
    target_table: str,
    pattern: str = "*.csv",
) -> None:
    """Stream-ingest CSV files into bronze.<target_table> and wait for
    completion (AvailableNow drains then stops). Each epoch's load_id
    comes from the ingestion ledger (``ledger.reserve``); the checkpoint
    is ``<warehouse>/_checkpoints/<target_table>``."""
    checkpoint = os.path.join(wh.root, "_checkpoints", target_table)
    # the batch ingest's CSV scan, so a file produces identical bronze
    # rows whichever path ingested it
    stream = read_csv(
        spark.readStream.option("pathGlobFilter", pattern).option("maxFilesPerTrigger", 16),
        target_table,
        landing_dir,
    )

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        s = df.sparkSession
        if df.isEmpty():
            # a file-less epoch lands nothing: allocating would leak one
            # reserved load_id + ledger rows per empty restart
            return
        query_id = s.sparkContext.getLocalProperty("sql.streaming.queryId")
        if not query_id:
            raise RuntimeError("foreachBatch ran without a streaming query id")
        name = f"stream:{query_id}:{epoch_id}"
        # file_id: streams have no config row
        (eid,) = ledger.reserve(wh, [(None, name, target_table)])
        if eid is None:
            return  # a replay of an epoch whose SUCCESS row exists
        out = with_lineage(df, F.element_at(F.split(F.input_file_name(), "/"), -1), eid)
        # dynamic partition overwrite on load_id: a replayed epoch
        # rewrites exactly its own partition — no dupes
        try:
            rows = sum(wh.write_idempotent(s, out, "bronze", target_table).values())
        except Exception as exc:
            # logged the way the batch ingest logs a failed file; the
            # replay keeps this id and rewrites the same partition
            ledger.append(wh, "ingestion_logs",
                          [(eid, None, name, target_table, "FAILURE", None, str(exc)[:2000])])
            raise
        ledger.append(wh, "ingestion_logs",
                      [(eid, None, name, target_table, "SUCCESS", rows, None)])

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
