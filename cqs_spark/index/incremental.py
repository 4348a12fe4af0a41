"""Incremental reconcile: listing vs file_registry anti/outer join.

The reference's watch daemon is FS events + debounce + a periodic
full-tree reconcile sweep because inotify drops events
(src/cli/watch/reconcile.rs:1-14).  Semantically that sweep IS the
batch pattern (SURVEY.md §2.9): full-outer join the current disk
listing against stored fingerprints and classify each origin.  The
same join also powers staleness detection (src/store/chunks/staleness.rs,
fingerprints src/schema.sql:139-145).

At 100 TB this join is listing-sized (file count, not byte count) —
the content scan happens only for files classified new/changed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def reconcile(listing: DataFrame, registry: DataFrame) -> DataFrame:
    """Classify every origin: (origin, status ∈ new|changed|deleted|unchanged).

    ``listing`` and ``registry`` both carry
    (origin, source_mtime, source_size, source_content_hash).
    mtime+size match short-circuits the hash compare — the reference's
    fingerprint fast path; hash equality still rescues touched-but-
    identical files (mtime changed, content didn't).
    """
    l = listing.select(
        "origin",
        F.col("source_mtime").alias("l_mtime"),
        F.col("source_size").alias("l_size"),
        F.col("source_content_hash").alias("l_hash"),
    )
    r = registry.select(
        "origin",
        F.col("source_mtime").alias("r_mtime"),
        F.col("source_size").alias("r_size"),
        F.col("source_content_hash").alias("r_hash"),
    )
    j = l.join(r, "origin", "full_outer")
    status = (
        F.when(F.col("r_hash").isNull(), "new")
        .when(F.col("l_hash").isNull(), "deleted")
        .when(
            (F.col("l_mtime") == F.col("r_mtime"))
            & (F.col("l_size") == F.col("r_size")),
            "unchanged",
        )
        .when(F.col("l_hash") == F.col("r_hash"), "unchanged")
        .otherwise("changed")
    )
    return j.select("origin", status.alias("status"))
