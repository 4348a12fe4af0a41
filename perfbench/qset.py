"""The declared-query workload: ``qset-heavy``.

Each query comes from ``__spark_entry__.queries()``: build the
DataFrame, then ``toPandas()``.  The data is the repository's fixed
testdata (a copy lives in ``testdata/``), so the seed only sets the
query order.  Every result is checked against the DuckDB oracle's
digest (``digests.py``).

Set-up is one warm pass.  The timed passes run one query of each heavy
kind: q103 (graph trace, wall time mostly construction: eager staging
and driver-side probes) and q172 (GIF decode in Arrow Python workers,
wall time mostly execution).  ``wall_s`` is the median pass.

Every query reads its tables from parquet, as the driver path does: no
table is cached.  The traced run adds, after the timed passes: one
more pass played untraced, traced and untraced again (the tracing
overhead), the staging residue, q132 (the pipeline family), the relational and
snapshot families (``TRACED_SQL``, a fixed sample of the ``qset-sql``
queries), each run once, the per-MB kernel timings, the
``stream-curate`` drain over the testdata documents (``stream.py``),
and last, so that no query reads from it, the cost of caching the
tables the timed queries read (``catalog.cache_s``).
"""

from __future__ import annotations

import random
import time

import digests as D
import kernels
import stream
from harness import n_passes, quantile

# Per-layer metric names (prefixes) this workload measures.
LAYERS = (
    "catalog.", "relational.", "snapshot_queries.", "graph_queries.",
    "pipeline_queries.", "multimodal_queries.", "trace.", "staging.", "kernels.",
    "stream.", "batch_p50_s", "docs_per_s",
)
# Nominal cost of one timed pass at sf0.01 on a 4-core host; with it
# ``--seconds`` sets how many passes a run times.
PASS_S = 5.0
TIMED = ["q103", "q172"]
# The tables TIMED reads: q103 stages its call graph from lineitem,
# q172 takes its media from documents.
CACHED = ("lineitem", "documents")
# The relational and snapshot families' traced sample: a fixed subset
# of the qset-sql queries covering joins, windows, the events table and
# both snapshot shapes.
TRACED_SQL = ["q01", "q04", "q12", "q19", "q23", "q51", "q83"]
# The pipeline family's traced sample: the LSH index build + incremental.
TRACED_PIPELINE = ["q132"]
QUERIES = TIMED + TRACED_PIPELINE + TRACED_SQL
FAMILIES = (
    "relational", "snapshot_queries", "graph_queries",
    "pipeline_queries", "multimodal_queries",
)
FAMILY_KEYS = (
    "build_s", "build_jobs", "exec_s", "exec_jobs", "stages", "tasks",
    "executor_run_s", "executor_cpu_s", "shuffle_mb", "spill_mb", "gc_s",
    "result_rows",
)


def _family_of() -> dict[str, str]:
    from cqs_spark.operators.graph_queries import GRAPH_QUERIES
    from cqs_spark.operators.multimodal_queries import MULTIMODAL_QUERIES
    from cqs_spark.operators.pipeline_queries import PIPELINE_QUERIES
    from cqs_spark.operators.relational import RELATIONAL_QUERIES
    from cqs_spark.operators.snapshot_queries import SNAPSHOT_QUERIES

    out = {}
    for fam, reg in (
        ("relational", RELATIONAL_QUERIES), ("snapshot_queries", SNAPSHOT_QUERIES),
        ("graph_queries", GRAPH_QUERIES), ("pipeline_queries", PIPELINE_QUERIES),
        ("multimodal_queries", MULTIMODAL_QUERIES),
    ):
        out.update(dict.fromkeys(reg, fam))
    return out


def _storage(spark) -> dict[int, int]:
    """RDD id -> bytes held (memory + disk) in block storage."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {int(i.id()): int(i.memSize()) + int(i.diskSize()) for i in infos}


def run(ctx) -> None:
    import __spark_entry__ as E
    from cqs_spark.catalog import load_table

    spark, tr = ctx.spark, ctx.tracer
    sf = ctx.sf_dir
    expected = ctx.digests[ctx.sf_name]
    qs = E.queries()
    family = _family_of()
    rng = random.Random(ctx.seed)
    order = rng.sample(TIMED, len(TIMED))

    def query(q: str, traced: bool) -> float:
        """Build + collect one query; returns its wall time."""
        t0 = time.perf_counter()
        if traced:
            with tr.span(f"query:{q}", tag=False, family=family[q]) as top:
                with tr.span("build"):
                    df = qs[q](spark, sf)
                with tr.span("exec"):
                    pdf = df.toPandas()
            top["rows"] = len(pdf)
        else:
            pdf = qs[q](spark, sf).toPandas()
        wall = time.perf_counter() - t0
        ctx.check(f"{q}:oracle", D.pandas_digest(pdf) == expected[q]["digest"])
        return wall

    def guarded(q: str, traced: bool) -> float | None:
        try:
            return query(q, traced)
        except Exception as exc:  # a failed query is a failed operation
            ctx.check(f"{q}:ran", False, repr(exc)[:300])
            return None

    # Set-up: one warm pass of the workload itself.
    for q in order:
        guarded(q, False)
    ctx.end_setup()

    # Timed: a fixed number of passes; wall_s is the median pass.
    passes = []
    for _ in range(n_passes(ctx.seconds, PASS_S)):
        walls = [guarded(q, False) for q in order]
        passes.append(sum(w for w in walls if w is not None))
        for q, w in zip(order, walls):
            if w is not None:
                ctx.samples.setdefault(q, []).append(w)
    ctx.samples["pass"] = passes
    ctx.e2e["wall_s"] = quantile(passes, 0.5)
    if not ctx.traced:
        return

    # One more pass, played untraced, traced, untraced: the traced play's
    # excess over the mean untraced one is the tracing overhead.
    def play(traced: bool) -> float:
        t0 = time.perf_counter()
        for q in order:
            guarded(q, traced)
        return time.perf_counter() - t0

    before, traced, after = play(False), play(True), play(False)
    ctx.layer["trace.overhead_s"] = traced - (before + after) / 2
    residue = _storage(spark)
    ctx.layer["staging.resident_rdds"] = len(residue)
    ctx.layer["staging.resident_mb"] = sum(residue.values()) / 2**20

    rest = TRACED_PIPELINE + TRACED_SQL
    for q in rng.sample(rest, len(rest)):
        guarded(q, True)

    ctx.layer.update(kernels.measure(ctx.digests["kernels"]["jpeg_luma"], ctx.check))
    stream.run(ctx)

    held = _storage(spark)
    with tr.span("catalog.cache") as span:
        for t in CACHED:
            load_table(spark, sf, t).cache().count()
    ctx.layer["catalog.cache_s"] = span["end"] - span["start"]
    ctx.layer["catalog.cached_mb"] = sum(v for k, v in _storage(spark).items() if k not in held) / 2**20
    ctx.finalize.append(_family_metrics)


def _family_metrics(ctx) -> None:
    """Per-family totals from the traced query spans (after the event
    log has been attributed), and the parts-sum check."""
    tr = ctx.tracer
    fam: dict[str, dict[str, float]] = {f: dict.fromkeys(FAMILY_KEYS, 0.0) for f in FAMILIES}
    worst_gap = 0.0
    for top in (s for s in tr.spans if s["name"].startswith("query:")):
        kids = {s["name"]: s for s in tr.spans if s["parent"] == top["id"] and s["group"]}
        if set(kids) != {"build", "exec"}:
            continue
        b, e = kids["build"], kids["exec"]
        wall = top["end"] - top["start"]
        parts = (b["end"] - b["start"]) + (e["end"] - e["start"])
        worst_gap = max(worst_gap, abs(wall - parts) / wall)
        f = fam[top["family"]]
        f["build_s"] += b["end"] - b["start"]
        f["exec_s"] += e["end"] - e["start"]
        f["build_jobs"] += b["jobs"]
        f["exec_jobs"] += e["jobs"]
        f["result_rows"] += top.get("rows", 0)
        for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "shuffle_mb", "spill_mb", "gc_s"):
            f[k] += tr.total(top, k)
    ctx.check("trace:parts_sum_within_5pct", worst_gap <= 0.05, f"gap={worst_gap:.4f}")
    ctx.layer["trace.parts_gap_frac"] = worst_gap
    for f, vals in fam.items():
        for k, v in vals.items():
            ctx.layer[f"{f}.{k}"] = v
