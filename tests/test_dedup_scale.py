"""Scale-hazard regressions for the dedup ladder (round-2 verdict items).

- embedding_neardup must be fully distributed (no driver collect): the
  multi-block path must agree with a brute-force numpy oracle.
- lsh_candidates must survive degenerate mega-buckets (1k identical
  docs) with linear, not quadratic, candidate counts — while still
  collapsing the duplicates to one survivor downstream.
- label_propagation(converge=True) must merge chains longer than any
  fixed iteration count.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cqs_spark.operators.dedup import (
    dedup_corpus,
    embedding_neardup,
    lsh_candidates,
    minhash_signatures,
    shingles,
)
from cqs_spark.operators.graph import label_propagation


def _brute_pairs(ids, mat, threshold):
    nrm = np.sqrt((mat * mat).sum(axis=1))
    nrm[nrm == 0.0] = 1.0
    cos = (mat / nrm[:, None]) @ (mat / nrm[:, None]).T
    out = set()
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            if cos[i, j] >= threshold:
                out.add((int(ids[i]), int(ids[j])))
    return out


@pytest.mark.parametrize("block_rows", [1000, 37])  # 1 block vs ~9 blocks
def test_embedding_neardup_matches_bruteforce(spark, block_rows):
    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 16))
    rows = []
    vid = 0
    for b in base:
        for _ in range(rng.integers(1, 15)):  # clusters of jittered copies
            rows.append((vid, (b + rng.normal(scale=0.05, size=16)).tolist()))
            vid += 1
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows])
    want = _brute_pairs(ids, mat, 0.9)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["a"], r["b"])
        for r in embedding_neardup(
            df, "vec_id", "embedding", threshold=0.9, block_rows=block_rows
        ).collect()
    }
    assert got == want


def test_embedding_neardup_no_driver_collect(spark):
    """The plan must be a distributed FlatMapGroupsInPandas over block
    pairs — not a driver-side toPandas + broadcast."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    plan = embedding_neardup(
        df, "vec_id", "embedding", threshold=0.99, block_rows=10
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_lsh_mega_bucket_linear_candidates(spark):
    """1k identical short docs: candidate pairs must be O(n) (star),
    not O(n^2) (full self-join would be ~499500 pairs/band)."""
    docs = [(i, "the same short duplicated text again and again") for i in range(1000)]
    docs += [(1000 + i, f"unique document number {i} with words {i * 17}") for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = shingles(df, "doc_id", "text").localCheckpoint(eager=True)
    sigs = minhash_signatures(sh, "doc_id")
    cand = lsh_candidates(sigs, "doc_id", max_bucket=100)
    n_cand = cand.count()
    assert n_cand <= 4 * 1000 + 100, f"quadratic blowup: {n_cand} candidates"
    # And the duplicates still fully collapse downstream.
    kept = dedup_corpus(df, "doc_id", "text", threshold=0.9)
    assert kept.filter(F.col("doc_id") < 1000).count() == 1
    assert kept.filter(F.col("doc_id") >= 1000).count() == 20


def test_lsh_cap_none_unchanged(spark):
    """With the cap disabled the operator is the round-1 self-join."""
    docs = [(i, f"totally different text {i} {i * 31} {i * 7}") for i in range(50)]
    docs += [(100, "aaa bbb ccc ddd eee fff"), (101, "aaa bbb ccc ddd eee fff")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = shingles(df, "doc_id", "text").localCheckpoint(eager=True)
    sigs = minhash_signatures(sh, "doc_id")
    capped = {tuple(r) for r in lsh_candidates(sigs, "doc_id").collect()}
    uncapped = {tuple(r) for r in lsh_candidates(sigs, "doc_id", max_bucket=None).collect()}
    assert capped == uncapped  # no bucket near the cap -> identical output
    assert (100, 101) in uncapped


def test_label_propagation_fixpoint_long_chain(spark):
    """A 7-hop duplicate chain must collapse to ONE label with
    converge=True (fixed iters=3 under-merges it)."""
    chain = [(f"n{i}", f"n{i + 1}") for i in range(7)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    fixed = label_propagation(edges, iters=3)
    assert fixed.select("label").distinct().count() > 1  # documents the gap
    conv = label_propagation(edges, converge=True)
    labels = {r["label"] for r in conv.collect()}
    assert labels == {"n0"}


def test_dedup_corpus_long_chain_one_survivor(spark):
    """7+ docs in a sliding near-dup chain collapse to one survivor."""
    words = [f"w{i}" for i in range(40)]
    docs = []
    for d in range(9):  # doc d = words[d .. d+30] — adjacent docs ~88% Jaccard
        docs.append((d, " ".join(words[d : d + 31])))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kept = dedup_corpus(df, "doc_id", "text", threshold=0.5)
    assert [r["doc_id"] for r in kept.collect()] == [0]


def test_bfs_releases_hop_caches(spark):
    """Storage hygiene (VERDICT r2): repeated traversals in a long-lived
    session must not accrete per-hop storage FOREVER.  The staged hop
    frontiers are lazy localCheckpoint RDDs (graph._stage, r12): their
    blocks are reclaimed by the ContextCleaner once the result
    DataFrames are dropped — so after releasing the references and
    forcing GC, the persistent-RDD count must return to baseline
    (prompt unpersist was the OLD hop-cache contract; the checkpoint
    design trades it for O(1) plans and ContextCleaner cleanup)."""
    import gc
    import time

    from cqs_spark.operators.graph import bfs, test_map

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(12)], "src string, dst string"
    )
    seeds = spark.createDataFrame([("n0",)], ["node"])
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        assert bfs(edges, seeds, max_depth=4).count() == 5
    for _ in range(3):
        test_map(edges, seeds, max_depth=3).count()
    # Staged RDDs are live until the (discarded) result DataFrames are
    # GC'd on both sides of the py4j bridge; then the ContextCleaner
    # unpersists them.  Poll with forced GC — failure means a traversal
    # holds a module-level reference (a true leak).
    # ~25 staged RDDs across the 6 traversals; a module-level leak
    # keeps them all, so a small straggler allowance (System.gc is
    # advisory — under load a few weak refs can process late) still
    # distinguishes leak from cleanup-in-flight.
    deadline = time.time() + 120
    leaked = None
    while time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        leaked = jsc.getPersistentRDDs().size() - before
        if leaked <= 3:
            break
        time.sleep(1)
    assert leaked <= 3, f"staged traversal RDDs never reclaimed: {leaked}"


def test_lsh_construction_is_lazy_regardless_of_log_level(spark):
    """Building the candidate plan must run ZERO Spark jobs whatever the
    log level — the star-reduce stats ride the caller's action as
    observed metrics, never an eager collect (r4 verdict nit: the
    INFO-gated collect silently changed the job count)."""
    import logging

    docs = [(i, "the same short duplicated text again") for i in range(300)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = shingles(df, "doc_id", "text").localCheckpoint(eager=True)
    sigs = minhash_signatures(sh, "doc_id").localCheckpoint(eager=True)

    logger = logging.getLogger("cqs_spark.operators.dedup")
    tracker = spark.sparkContext.statusTracker()
    for level in (logging.INFO, logging.WARNING):
        old = logger.level
        logger.setLevel(level)
        try:
            before = set(tracker.getJobIdsForGroup(None) or [])
            cand = lsh_candidates(sigs, "doc_id", max_bucket=50)
            after = set(tracker.getJobIdsForGroup(None) or [])
            assert after == before, (
                f"plan construction ran jobs at level {level}: {after - before}"
            )
        finally:
            logger.setLevel(old)
    # And the observed-metrics node doesn't break the real computation.
    assert cand.count() <= 4 * 300


def test_two_lsh_ladders_compose_in_one_action(spark):
    """r5 review: two LSH plans in one action must not collide on the
    observed-metric name (Spark rejects duplicate CollectMetrics names
    over different subplans) — names are unique per call."""
    def sigs_for(texts):
        df = spark.createDataFrame(texts, "doc_id long, text string")
        sh = shingles(df, "doc_id", "text").localCheckpoint(eager=True)
        return minhash_signatures(sh, "doc_id")

    a = sigs_for([(i, f"corpus a doc {i} {i*3}") for i in range(40)]
                 + [(100, "dup dup dup dup dup"), (101, "dup dup dup dup dup")])
    b = sigs_for([(i, f"corpus b doc {i} {i*7}") for i in range(40)])
    pa = lsh_candidates(a, "doc_id", max_bucket=50)
    pb = lsh_candidates(b, "doc_id", max_bucket=50)
    both = pa.unionByName(pb)
    assert both.count() >= 1  # raises AnalysisException before the fix
