"""Structured Streaming layer.

The reference has no true streaming — its incrementality is a batch
micro-ledger (SURVEY §2.J). Its one streaming element is an optional
file source for the landing stage, which this package provides:

- ``ingest_stream``: file-source ingestion with Trigger.AvailableNow;
  the checkpoint picks each epoch's files, and each epoch takes its
  load_id from the ingestion ledger (A-07/A-08) through the batch
  ingest's allocator, then lands through the idempotent per-load_id
  partition overwrite (replay-safe).
"""

from travel_data_ingestion_spark.streaming.ingest_stream import stream_ingest_csv

__all__ = ["stream_ingest_csv"]
