"""Staging of multi-consumer intermediates: the one place that decides how.

A frame read by more than one consumer is staged so its lineage runs
once and later plans reference one leaf instead of re-embedding it.
Outside :func:`durable` a stage is ``localCheckpoint`` — unreplicated
executor blocks with no recompute path once lost, the single-box form.
Inside it every stage is a parquet table under the context's directory
— durable across executor loss, the cluster form.

The eager/lazy rule, for every caller of :func:`stage`:

- ``eager=True`` when ONE action fans the frame out to consumers that
  run as concurrent stages (self-joins, agg + join-back in one plan):
  a lazily-marked RDD gives no single-computation guarantee to racing
  stages, each may compute the unpersisted partitions itself
  (measured 2-5x slower on the LSH ladders).
- ``eager=False`` otherwise: the first action computes and persists
  the blocks as a side effect, with no extra job.  Lazy is correct only
  over DETERMINISTIC lineage — a consumer that recomputes a partition
  must see the same rows.

A global sort reads its input twice, since the range partitioner
samples it in its own job before the shuffle reads it.  So a sort over
an Arrow Python stage (``map_rows``, ``applyInPandas``) stages that
stage first, lazily: ``stage(df).orderBy(...)``.  The sample job then
runs the Python once and persists its output, and the shuffle reads
those blocks; the two jobs run one after the other, so lazy meets the
rule above.  The stage goes at the sort, not inside ``map_rows``: a
per-row stage may emit blobs, pixels or chunk text, and staging every
one of them would copy the corpus into executor storage where nothing
reads it twice.

A durable stage is always eager: the parquet write is its own job.
"""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame

_DURABLE: dict = {"dir": None, "seq": None}


@contextmanager
def durable(stage_dir: str):
    """Stage every frame as parquet ``<stage_dir>/stage_NNNN`` (read
    back for the consumers) for the duration of the block.  Numbering
    restarts per context; contexts do not nest."""
    if _DURABLE["dir"] is not None:
        raise RuntimeError("staging.durable contexts do not nest")
    _DURABLE.update(dir=stage_dir, seq=itertools.count())
    try:
        yield
    finally:
        _DURABLE.update(dir=None, seq=None)


def stage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Stage ``df`` for several consumers (see the module docstring)."""
    if _DURABLE["dir"] is None:
        return df.localCheckpoint(eager=eager)
    path = os.path.join(_DURABLE["dir"], f"stage_{next(_DURABLE['seq']):04d}")
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)
