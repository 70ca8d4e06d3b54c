"""Structured Streaming layer.

The reference has no true streaming — its incrementality is a batch
micro-ledger (SURVEY §2.J). Its one streaming element is an optional
file source for the landing stage, which this package provides:

- ``ingest_stream``: file-source ingestion with Trigger.AvailableNow +
  checkpoint = the ingestion ledger (A-07/A-08) as engine-managed state;
  foreachBatch lands each epoch through the idempotent
  per-load_id partition overwrite (replay-safe).
"""

from travel_data_ingestion_spark.streaming.ingest_stream import stream_ingest_csv

__all__ = ["stream_ingest_csv"]
