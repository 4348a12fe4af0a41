"""cqs_spark.rows.map_rows: the one per-row Arrow stage.

A round trip pins the output typing (64-bit longs and NULLs survive
exactly, ``int`` stays ``IntegerType``, binary and arrays pass
through, a row may yield zero or more rows), and a source scan pins
every other ``mapInPandas`` to the named batch-shaped stages.
"""

from __future__ import annotations

import pathlib
import re
from collections import Counter

from pyspark.sql import functions as F, types as T

from cqs_spark.rows import map_rows

ROOT = pathlib.Path(__file__).resolve().parents[1]

IN_DDL = "k int, blob binary, vec array<double>"
OUT_DDL = "k int, v long, blob binary, vec array<double>"
LONGS = [2**53 + 1, (1 << 50) + 7, -1, None]


def test_map_rows_round_trip(spark):
    # Nested, so the Python workers get it by value, not by module name.
    def _fan_out(k, blob, vec):
        """Input k yields k rows; the long values fall on the 1- and
        3-row inputs, and the last row carries a NULL int."""
        vals = {0: [], 1: LONGS[:1], 3: LONGS[1:]}[k]
        for j, v in enumerate(vals):
            yield (None if j == 2 else k), v, blob, vec

    df = spark.createDataFrame(
        [(0, b"", [9.0]), (1, b"\x00\xff", [1.5]), (3, b"abc", [0.25, -2.0])],
        IN_DDL,
    ).coalesce(1)  # one partition, so one Arrow batch holds every row
    out = map_rows(df, ["k", "blob", "vec"], _fan_out, OUT_DDL)
    assert out.schema == T.StructType.fromDDL(OUT_DDL)
    assert out.schema["k"].dataType == T.IntegerType()
    got = sorted(
        ((r["k"], r["v"], bytes(r["blob"]), r["vec"]) for r in out.collect()),
        key=lambda t: (t[1] is None, t[1] or 0),
    )
    assert got == [
        (3, -1, b"abc", [0.25, -2.0]),
        (3, (1 << 50) + 7, b"abc", [0.25, -2.0]),
        (1, 2**53 + 1, b"\x00\xff", [1.5]),
        (None, None, b"abc", [0.25, -2.0]),
    ]

    zero = map_rows(df.filter("k = 0"), ["k", "blob", "vec"], _fan_out, OUT_DDL)
    assert zero.collect() == []
    empty = map_rows(
        spark.createDataFrame([], IN_DDL), ["k", "blob", "vec"], _fan_out, OUT_DDL
    )
    assert empty.schema == T.StructType.fromDDL(OUT_DDL)
    assert empty.collect() == []


def test_staged_stage_runs_once_under_a_global_sort(spark):
    """A global sort samples its input in a job of its own (the range
    partitioner) before the shuffle reads it: a bare ``orderBy`` over a
    Python stage runs the Python twice per row, ``stage(...)`` first
    runs it once (see ``cqs_spark.staging``)."""
    from cqs_spark.staging import stage

    calls = spark.sparkContext.accumulator(0)

    def _bump(k):
        calls.add(1)
        yield (k,)

    n = 200
    src = spark.range(0, n, numPartitions=4).select((-1 * F.col("id")).alias("k"))
    for wrap, per_row in ((stage, 1), (lambda df: df, 2)):
        calls.value = 0
        rows = wrap(map_rows(src, ["k"], _bump, "k long")).orderBy("k").collect()
        assert [r["k"] for r in rows] == list(range(1 - n, 1))
        assert calls.value == per_row * n


def test_map_in_pandas_only_in_rows_and_batch_stages():
    batch_shaped = Counter(
        {
            "cqs_spark/rows.py": 1,
            # whole-batch pass-through stages that add or replace one column
            "cqs_spark/operators/mediameta.py": 1,
            "cqs_spark/index/caches.py": 1,
            "cqs_spark/index/reuse.py": 1,
            # numpy over whole batches
            "cqs_spark/operators/vectorops.py": 5,
        }
    )
    found = Counter(
        {
            str(p.relative_to(ROOT)): n
            for p in sorted((ROOT / "cqs_spark").rglob("*.py"))
            if (n := p.read_text().count(".mapInPandas("))
        }
    )
    assert found == batch_shaped, "per-row stages go through cqs_spark.rows.map_rows"
    for name in ("multimodal.py", "mediameta.py", "multimodal_queries.py"):
        assert "pd.array(" not in (ROOT / "cqs_spark" / "operators" / name).read_text()


def test_no_literal_repartition_counts():
    """Arrow-stage inputs are sized by ``partitioning.fan_out`` or
    ``defaultParallelism``: a literal partition count pays the Python
    worker's fixed per-task cost once per partition whatever the host
    (256 partitions measured ~10x slower than 4 on a 4-core host)."""
    literal = re.compile(r"\.repartition\(\s*[-+]?\d")
    files = sorted((ROOT / "cqs_spark").rglob("*.py")) + [ROOT / "scale_smoke.py"]
    found = [
        str(p.relative_to(ROOT)) for p in files if literal.search(p.read_text())
    ]
    assert found == []
