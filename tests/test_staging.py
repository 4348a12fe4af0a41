"""cqs_spark.staging: the one staging primitive.

Durable mode (``staging.durable(dir)``) must give the same rows as the
default localCheckpoint staging for every family that stages — graph
traversal, triangle counting, the MinHash ladder, the persisted LSH
index, an eager textops site and the ``dedup_arrivals`` stream — and
must write its ``stage_*`` tables only inside the context.  A source
scan pins every staging call behind ``staging.stage``.
"""

from __future__ import annotations

import os
import pathlib

import pytest

from cqs_spark import staging

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_local_checkpoint_only_in_staging_module():
    sources = [
        ROOT / "__spark_entry__.py",
        ROOT / "scale_smoke.py",
        *sorted((ROOT / "cqs_spark").rglob("*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
    ]
    offenders = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in sources
        if p != ROOT / "cqs_spark" / "staging.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if ".localCheckpoint(" in line
    ]
    assert not offenders, f"stage through cqs_spark.staging.stage: {offenders}"


def _bfs(spark, work):
    from cqs_spark.operators.graph import bfs

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 17) for i in range(17)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    return bfs(edges, seeds, 4)


def _triangle_count(spark, work):
    from cqs_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (2, 1)],
        "src long, dst long",
    )
    return triangle_count(edges)


def _minhash_dedup(spark, work):
    from cqs_spark.operators.dedup import minhash_dedup

    words = [f"w{i}" for i in range(60)]
    docs = [(d, " ".join(words[d : d + 31])) for d in range(8)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    return minhash_dedup(df, "doc_id", "text")


def _lsh_index(spark, work):
    from cqs_spark.operators.dedup import build_lsh_index, incremental_minhash

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    indexed = spark.createDataFrame(
        [(1, base + "one"), (2, base + "two"),
         (3, "completely unrelated corpus text with different words entirely")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(101, base + "one"), (102, base + "uno"), (103, base + "uno x")],
        "doc_id long, text string",
    )
    ish, ibands, ihubs = build_lsh_index(indexed, "doc_id", "text")
    return incremental_minhash(
        batch, ish, ibands, "doc_id", "text", indexed_hubs=ihubs
    )


def _passage_scrub(spark, work):
    from cqs_spark.operators.textops import passage_scrub

    shared = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, f"alpha {shared} beta"), (2, f"gamma {shared} delta"),
         (3, "nothing in common with the others at all here")],
        "doc_id long, text string",
    )
    return passage_scrub(docs, "doc_id", "text", k=4)


def _dedup_arrivals(spark, work):
    """Two arrival files with one cross-file clone, drained into fresh
    dirs under ``work``.  The durable context is a module global, so
    the foreachBatch callback thread stages durably too."""
    import glob
    import shutil

    from cqs_spark.streaming.maintain import dedup_arrivals

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    arr = work / "arrivals"
    arr.mkdir(parents=True)
    for name, rows in (
        ("f1.parquet", [(1, base), (2, "lorem ipsum dolor sit amet " * 3)]),
        ("f2.parquet", [(10, base), (11, "fresh words about parquet streams")]),
    ):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(work / "tmp"))
        shutil.copy(glob.glob(str(work / "tmp" / "*.parquet"))[0], str(arr / name))
    out = str(work / "out")
    dedup_arrivals(
        spark, str(arr), str(work / "index"), out, str(work / "ckpt")
    )
    # run= differs per checkpoint; compare the survivors themselves.
    return spark.read.parquet(out).select("doc_id", "text")


CASES = {
    "bfs": _bfs,
    "triangle_count": _triangle_count,
    "minhash_dedup": _minhash_dedup,
    "lsh_index": _lsh_index,
    "passage_scrub": _passage_scrub,
    "dedup_arrivals": _dedup_arrivals,
}


def _rows(df):
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


def _stage_dirs(d):
    return sorted(n for n in os.listdir(d) if n.startswith("stage_"))


@pytest.mark.parametrize("case", sorted(CASES))
def test_durable_matches_local(spark, tmp_path, case):
    build = CASES[case]
    local = _rows(build(spark, tmp_path / "local"))
    assert local, "case must produce rows to compare"
    stage_dir = str(tmp_path)
    with staging.durable(stage_dir):
        with pytest.raises(RuntimeError):
            with staging.durable(str(tmp_path / "nested")):
                pass
        durable = _rows(build(spark, tmp_path / "durable"))
    assert durable == local
    written = _stage_dirs(stage_dir)
    assert written, "durable mode wrote no stage tables"
    # Outside the context staging is local again: no new tables.
    staging.stage(spark.range(3), eager=True)
    assert _stage_dirs(stage_dir) == written
