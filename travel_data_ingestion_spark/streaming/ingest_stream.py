"""Streaming file ingestion: the A-02..A-08 pipeline as a Structured
Streaming job.

``Trigger.AvailableNow`` drains whatever files exist and stops — the
streaming-native equivalent of one ingestion DAG run; the checkpoint
directory replaces the filename ledger (each file is consumed exactly
once across restarts). ``foreachBatch`` lands each micro-batch through
the same idempotent per-``load_id`` partition overwrite as the batch
silver sink, so an epoch replayed after a crash overwrites its own
partition instead of appending a duplicate copy — exactly-once end to
end, not just at the source. The CSV reader carries the batch path's
exact parsing options (header, RFC-4180 doubled-quote escapes,
NULL/null/'' -> NULL, PERMISSIVE), so a file produces identical bronze
rows whichever path ingested it.

``load_id`` allocation: the checkpoint carries a per-epoch map
(``_load_id_map/epoch-<n>`` marker files). A REPLAYED epoch reads its
recorded load_id back and rewrites exactly its original bronze
partition; a NEW epoch allocates the ledger's MAX(load_id)+1, appends
a RUNNING reservation row to the ledger, and only then records the
marker — so the id is visible to any interleaved batch allocation
before the stream ever writes data under it, and the two paths can
never hand out colliding ids even across restarts with batch ingests
in between (the round-8 single-base scheme failed exactly there: a
batch load between stream runs took base+k+1, and the restarted
stream's next NEW epoch overwrote it). Single-driver contract, same
as the warehouse's other ledgers.

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


def _read_int_marker(jvm, fs, marker) -> int | None:
    """Read an integer marker file; an absent or unreadable/partial
    marker (crash mid-create) is treated as absent."""
    if not fs.exists(marker):
        return None
    stream = fs.open(marker)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    try:
        return int(text.strip())
    except ValueError:
        return None


def _write_int_marker(jvm, fs, marker, value: int) -> None:
    """Persist an integer marker via tmp-file + rename, with the
    delete/rename return values CHECKED: a silently-failed rename (false
    on concurrent creation, or non-atomic object-store semantics) would
    leave the run proceeding on an unpersisted id — the next restart
    would reallocate and re-introduce the replay-duplication bug this
    marker exists to prevent, so failure must be loud."""
    parent = marker.getParent()
    fs.mkdirs(parent)
    tmp = jvm.org.apache.hadoop.fs.Path(parent, marker.getName() + ".__tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(str(int(value)).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(marker) and not fs.delete(marker, False):
        raise IOError(f"could not replace marker {marker}")
    if not fs.rename(tmp, marker):
        raise IOError(
            f"rename {tmp} -> {marker} failed (concurrent writer, or the "
            "store lacks atomic rename); marker not persisted"
        )


def _epoch_load_id(
    spark: SparkSession,
    wh: Warehouse,
    checkpoint: str,
    epoch_id: int,
    target_table: str,
) -> int:
    """Return the load_id for this (checkpoint, epoch), exactly-once and
    collision-free against interleaved batch ingests.

    A per-epoch marker (``<checkpoint>/_load_id_map/epoch-<n>``) records
    each epoch's id the first time it runs; a REPLAYED epoch reads it
    back and rewrites its original bronze partition. A NEW epoch
    allocates the ledger's MAX(load_id)+1, appends a RUNNING
    reservation row to the ledger, and THEN
    writes the marker: the reservation makes the id visible to any
    batch allocation before this epoch writes data under it, so a batch
    ingest interleaved between stream runs can never take an id a later
    stream epoch will claim (the failure mode of the single persisted
    base: ledger max = base+k after run 1, batch takes base+k+1, and a
    restarted stream's NEW epoch k+1 silently overwrote that batch's
    bronze partition). A crash between the reservation and the marker
    only leaks one id (the replay allocates afresh, above it).

    Goes through the Hadoop FileSystem API so markers live wherever the
    checkpoint lives (local disk in tests, HDFS/S3 on a cluster).
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    marker = jvm.org.apache.hadoop.fs.Path(
        os.path.join(checkpoint, "_load_id_map", f"epoch-{int(epoch_id)}")
    )
    fs = marker.getFileSystem(hconf)
    recorded = _read_int_marker(jvm, fs, marker)
    if recorded is not None:
        return recorded
    lid = ledger.snapshot(wh, "ingestion_logs").next_id
    # reservation; collapsed by the SUCCESS row's recency
    ledger.append(wh, "ingestion_logs",
                  [(lid, None, f"stream:{target_table}", target_table, "RUNNING", None, None)])
    _write_int_marker(jvm, fs, marker, lid)
    return lid


def stream_ingest_csv(
    spark: SparkSession,
    wh: Warehouse,
    landing_dir: str,
    target_table: str,
    pattern: str = "*.csv",
    checkpoint_dir: str | None = None,
) -> None:
    """Stream-ingest CSV files into bronze.<target_table> and wait for
    completion (AvailableNow drains then stops). A new epoch takes the
    ledger's next load_id; a replayed epoch reuses the id recorded in
    the checkpoint's per-epoch map, so it rewrites its original bronze
    partition. ``checkpoint_dir`` defaults to
    ``<warehouse>/_checkpoints/<target_table>``."""
    checkpoint = checkpoint_dir or os.path.join(wh.root, "_checkpoints", target_table)
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
        eid = _epoch_load_id(s, wh, checkpoint, epoch_id, target_table)
        out = with_lineage(df, F.element_at(F.split(F.input_file_name(), "/"), -1), eid)
        # dynamic partition overwrite on load_id: an epoch replayed
        # after a crash rewrites exactly its own partition — no dupes
        wh.write_idempotent(s, out, "bronze", target_table)
        # ledger row so the batch path's MAX(load_id)+1 sees this load;
        # a replayed epoch appends a duplicate row, which the append+
        # latest-wins ledger semantics absorb (same load_id, same file)
        ledger.append(wh, "ingestion_logs", [
            # file_id: streams have no config row
            (eid, None, f"stream:{target_table}", target_table, "SUCCESS", None, None)
        ])

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
