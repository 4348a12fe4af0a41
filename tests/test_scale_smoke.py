"""scale_smoke.replicate: the one replication rule every ladder leg uses."""

from __future__ import annotations

import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_replicate_key_disjoint(spark):
    import scale_smoke

    stride = 10_000_000
    df = spark.createDataFrame([(d, f"doc {d}") for d in range(4)], "doc_id long, text string")
    out = scale_smoke.replicate(df, 3, ["doc_id"], text="text")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    rows = out.collect()
    assert len(rows) == 12
    assert len({row["doc_id"] for row in rows}) == 12
    for i in range(3):
        replica = sorted(
            (row["doc_id"] - i * stride, row["text"])
            for row in rows
            if i * stride <= row["doc_id"] < (i + 1) * stride
        )
        suffix = f" replicatoken{i}" if i else ""
        assert replica == [(d, f"doc {d}{suffix}") for d in range(4)]


def test_import_starts_no_spark_session():
    code = (
        "import scale_smoke\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
        "assert SparkContext._gateway is None\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True, timeout=120)
