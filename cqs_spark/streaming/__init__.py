"""Structured Streaming surface: incremental index + arrival curation.

The reference's only stream is the watch daemon (FS events → debounce →
incremental reindex + periodic reconcile, src/cli/watch/);
cqs_spark.streaming.maintain holds its twin plus the arrival ladders
(dedup, curate, monitor), each tested against its batch ladder.  The
event-time operators are batch-only (cqs_spark.operators.eventops,
oracle-checked as q37–q39).
"""
