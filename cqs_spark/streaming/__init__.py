"""Structured Streaming surface: the arrival ladders.

cqs_spark.streaming.maintain drains arriving parquet files through the
dedup, curate, media-dedup and drift-monitor ladders, each tested
against its batch twin.  The reference's only stream, the watch daemon
(FS events → debounce → incremental reindex + periodic reconcile,
src/cli/watch/), has its batch twin in ``Engine.refresh``.  The
event-time operators are batch-only (cqs_spark.operators.eventops,
oracle-checked as q37–q39).
"""
