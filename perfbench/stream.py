"""The ``stream-curate`` drain: seeded arrivals through
``streaming.maintain.curate_arrivals`` (availableNow) against a staged
index seeded by ``seed_staged_index`` from the testdata documents.

The staged index holds the day-0 backlog: the batch ``curate`` ladder's
survivors of the testdata documents.  Arrivals are exact clones of
backlog docs, near-dups (a backlog doc plus one word) and fresh docs (a
backlog doc's words reversed: same vocabulary, disjoint shingles).  By
construction every clone and near-dup must be dropped; the fresh docs
that must survive are the batch ``curate`` ladder's survivors of the
fresh docs alone.  Nothing expected comes from the streaming path.

Runs inside the traced ``qset-heavy`` run; its numbers are per-layer.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time

from harness import du_mb, quantile


def _arrivals(docs: list[tuple[int, str]], seed: int, n_batches: int, per_batch: int):
    """(batches of (id, text), planted clone ids, fresh rows)."""
    rng = random.Random(seed)
    next_id = max(d for d, _ in docs) + 1
    batches, clones, fresh = [], set(), []
    for _ in range(n_batches):
        rows = []
        for _ in range(per_batch):
            _, text = rng.choice(docs)
            kind = rng.choice(("clone", "near", "fresh"))
            if kind == "clone":
                clones.add(next_id)
            elif kind == "near":
                text = text + " indeed"
            else:
                text = " ".join(reversed(text.split(" ")))
                fresh.append((next_id, text))
            rows.append((next_id, text))
            next_id += 1
        batches.append(rows)
    return batches, clones, fresh


def run(ctx) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from cqs_spark.catalog import load_table
    from cqs_spark.operators.curate import curate
    from cqs_spark.streaming.maintain import _REPORT_KEYS, curate_arrivals, seed_staged_index

    spark, tr = ctx.spark, ctx.tracer
    n_batches, per_batch = (1, 30) if ctx.tiny else (1, 60)
    base = os.path.join(ctx.work, "stream")
    shutil.rmtree(base, ignore_errors=True)
    ctx.cleanup.append(lambda: shutil.rmtree(base, ignore_errors=True))
    idx, arr = os.path.join(base, "index"), os.path.join(base, "arrivals")
    os.makedirs(arr)

    schema = "doc_id long, text string"
    backlog_df, _ = curate(load_table(spark, ctx.sf_dir, "documents").select("doc_id", "text"))
    backlog = sorted((int(r[0]), r[1]) for r in backlog_df.collect())
    batches, clones, fresh = _arrivals(backlog, ctx.seed, n_batches, per_batch)
    stage = os.path.join(base, "stage")
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(stage)
        shutil.copy(glob.glob(os.path.join(stage, "*.parquet"))[0], os.path.join(arr, f"b{b}.parquet"))
    with tr.span("stream.seed_index"):
        seed_staged_index(spark, spark.createDataFrame(backlog, schema), idx)
    index_mb0 = du_mb(idx)

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.durations: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.durations.append(dict(event.progress.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    out, rep = os.path.join(base, "out"), os.path.join(base, "report")
    try:
        with tr.span("stream.drain") as drain:
            curate_arrivals(spark, arr, idx, out, os.path.join(base, "ckpt"), report_dir=rep)
        deadline = time.time() + 30  # listener events arrive asynchronously
        while len([d for d in listener.durations if "addBatch" in d]) < n_batches and time.time() < deadline:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    drain_s = drain["end"] - drain["start"]

    got = {int(r[0]) for r in spark.read.parquet(out).select("doc_id").collect()}
    arrivals = [row for rows in batches for row in rows]
    fresh_out, _ = curate(spark.createDataFrame(fresh, schema))
    want = {int(r[0]) for r in fresh_out.select("doc_id").collect()}
    ctx.check("stream:survivors_match_batch_ladder", got == want,
              f"stream={len(got)} batch={len(want)} only_stream={sorted(got - want)[:5]} only_batch={sorted(want - got)[:5]}")
    ctx.check("stream:clones_dropped", not (got & clones), str(sorted(got & clones)[:5]))

    counts = spark.read.parquet(rep).agg(*[F.sum(k).alias(k) for k in _REPORT_KEYS]).first().asDict()
    trig = [d["triggerExecution"] / 1e3 for d in listener.durations if "addBatch" in d]
    add = [d["addBatch"] / 1e3 for d in listener.durations if "addBatch" in d]
    index_mb = du_mb(idx)
    ctx.layer.update({
        "batch_p50_s": quantile(trig, 0.5),
        "docs_per_s": len(arrivals) / drain_s,
        "stream.add_batch_s": quantile(add, 0.5),
        "stream.trigger_overhead_s": quantile([t - a for t, a in zip(trig, add)], 0.5),
        "stream.index_mb": index_mb,
        "stream.index_growth_mb_per_batch": (index_mb - index_mb0) / n_batches,
        "stream.survivor_frac": len(got) / len(arrivals),
        "stream.gate_drop": counts["input"] - counts["after_injection"],
        "stream.exact_drop": counts["after_injection"] - counts["after_exact_dedup"],
        "stream.near_drop": counts["after_exact_dedup"] - counts["after_near_dedup"],
    })

    def from_trace(c):
        c.layer["stream.jobs_per_batch"] = c.tracer.total(drain, "jobs") / n_batches
        c.layer["stream.shuffle_mb"] = c.tracer.total(drain, "shuffle_mb")
        c.layer["stream.executor_cpu_s"] = c.tracer.total(drain, "executor_cpu_s")

    ctx.finalize.append(from_trace)
