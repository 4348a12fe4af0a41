"""Per-row Arrow stages: the one way a Python row kernel becomes a stage.

Every per-row stage (media decode, perceptual/audio/video hashes,
metadata scans, the fused release walks, file parse and convert,
rerank) is ``map_rows(df, cols, fn, schema)``: ``fn(*values)`` runs
once per row of ``df.select(*cols)`` and yields zero or more output
tuples in ``schema`` order — 1→1 (a hash), 1→n (frames, windows,
chunks) or 1→0.  The plan is one ``MapInPandas`` over a ``Project``;
no job, stage or shuffle is added.

Output columns are typed from the schema, once, here: ``long`` becomes
a pandas ``Int64`` array and ``int`` an ``Int32`` array.  A nullable
int column built from Python objects turns into float64, which
corrupts the low bits of 64-bit hashes and ``1 << 50`` ids.  Every
other type stays a plain list.

Stages that are not per-row keep their own ``mapInPandas``:
``mediameta.media_metadata_strip``, ``caches.summarize_with_cache`` and
``reuse.embed_stage`` pass the whole batch through and add or replace
one column (``caches`` is batch-shaped on purpose: its client is an
external batch API); the five ``vectorops`` stages compute with numpy
over whole batches; grouped stages use ``applyInPandas``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, types as T

_NULLABLE_INT = {T.LongType: "Int64", T.IntegerType: "Int32"}


def map_rows(
    df: DataFrame,
    cols: list,
    fn: Callable[..., Iterable[tuple]],
    schema: str | T.StructType,
) -> DataFrame:
    """Run ``fn`` over each row of ``df.select(*cols)`` (see the module
    docstring); ``schema`` is a DDL string or a ``StructType``."""
    if not isinstance(schema, T.StructType):
        schema = T.StructType.fromDDL(schema)
    out = [(f.name, _NULLABLE_INT.get(type(f.dataType))) for f in schema.fields]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = [r for vals in zip(*(c for _, c in pdf.items())) for r in fn(*vals)]
            values = zip(*rows, strict=True) if rows else [()] * len(out)
            yield pd.DataFrame(
                {
                    # An empty plain column is object: an empty list
                    # infers float64, which Arrow cannot cast to a
                    # string, binary or array column.
                    name: pd.array(list(v), dtype=dtype)
                    if dtype
                    else pd.Series(list(v), dtype=None if rows else object)
                    for (name, dtype), v in zip(out, values, strict=True)
                }
            )

    return df.select(*cols).mapInPandas(run, schema)
