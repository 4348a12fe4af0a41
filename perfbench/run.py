"""The repository benchmark.  Run from the repository root:

    python3 perfbench/run.py --workload qset-heavy --seed 1 --seconds 15 --trace 0

Workloads (one closed-loop client, one Spark session at local[nproc]):

  qset-heavy  q103 and q172 through __spark_entry__.queries()
              (``qset.py``); the traced run adds q132, a fixed sample of
              the qset-sql queries, the staging residue, the per-MB
              kernels and the stream-curate drain (``stream.py``).
  code-index  index, then search / callers / impact / refresh over a
              seeded synthetic tree (``codeindex.py``); the traced run
              adds the per-module index layers.

Each timed phase is a fixed number of passes of fixed, seeded work; the
number is ``--seconds`` over the pass's nominal cost, so it depends on
nothing measured, and ``wall_s`` is the median pass.  The metric names
and units come from BENCHMARK.json.

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` tags every call's Spark jobs with a job group, records
spans, reads Spark's event log, and reports the per-layer metrics.
``--tiny`` runs the same code on the smallest inputs (self-test).

The last stdout line is one JSON object: correct, attempted, failed,
metrics.  The line before it is the human-readable summary; the full
record (stamp, checks, spans) goes to .perfbench/records/.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
# Workload name -> the module that runs it.
WORKLOADS = {"qset-heavy": "qset", "code-index": "codeindex"}


def load_spec(root: str) -> dict:
    """BENCHMARK.json: the workloads and the metrics, with their units."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


class Ctx:
    """What a workload needs, and what it reports back."""

    def __init__(self, args, root, spark, tracer, digests):
        self.seed, self.seconds, self.tiny = args.seed, args.seconds, args.tiny
        self.traced = bool(args.trace)
        self.root, self.spark, self.tracer, self.digests = root, spark, tracer, digests
        self.work = os.path.join(root, ".perfbench", "work")
        self.sf_name = "sf0.001" if args.tiny else "sf0.01"
        self.sf_dir = os.path.join(HERE, "testdata", self.sf_name)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.notes: dict = {}
        self.samples: dict[str, list[float]] = {}
        self.checks: list[dict] = []
        self.finalize: list = []  # callbacks that need the event log
        self.cleanup: list = []
        self.t_setup_end = None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append({"name": name, "ok": bool(ok), "detail": "" if ok else detail})

    def end_setup(self) -> None:
        self.t_setup_end = time.perf_counter()


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--tiny", action="store_true", help="smallest inputs (self-test)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    needed = [os.path.join(root, "BENCHMARK.json"),
              os.path.join(root, "cqs_spark", "__init__.py"),
              os.path.join(root, "__spark_entry__.py"),
              os.path.join(HERE, "digests.json")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import harness

    harness.prepare_env(root)
    import digests as D

    workload = importlib.import_module(WORKLOADS[args.workload])
    spec = load_spec(root)

    stamp = harness.stamp(root, args.seed)
    with harness.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = harness.start_spark(root, event_log=bool(args.trace))
        session_s = time.perf_counter() - t0
        stamp["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        tracer = harness.Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(args, root, spark, tracer, D.load())
        ctx.layer["session.start_s"] = session_s
        crashed = None
        try:
            workload.run(ctx)
        except Exception:  # report the crash as a failed run, then exit non-zero
            crashed = traceback.format_exc()
            ctx.check("workload:completed", False, crashed[-2000:])
        app_id = spark.sparkContext.applicationId
        harness.stop_spark(spark)
    if args.trace and not crashed:
        tracer.attribute(harness.read_event_log(root, app_id))
        for fn in ctx.finalize:
            fn(ctx)
    for fn in ctx.cleanup:
        fn()

    if ctx.t_setup_end is not None:
        ctx.e2e["setup_s"] = ctx.t_setup_end - t0
    ctx.e2e["peak_rss_mb"] = rss.peak_mb
    stamp["load1_after"] = os.getloadavg()[0]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        # The result line must name every per-layer metric.  Each workload
        # measures its own share of them; one of those left unset is a
        # failed check, and the rest are reported as 0 and listed in the
        # record as not measured.
        names = [m["name"] for m in spec["per_layer"]]
        owned = [n for n in names if n == "session.start_s" or n.startswith(workload.LAYERS)]
        for n in owned:
            if n not in ctx.layer:
                ctx.check(f"trace:measured:{n}", False, "never set")
        ctx.notes["not_measured"] = [n for n in names if n not in owned]
        values = ctx.layer
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        values = ctx.e2e
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}
    failed = sum(not c["ok"] for c in ctx.checks)
    attempted = max(len(ctx.checks), 1)
    result = {"correct": failed == 0 and crashed is None, "attempted": attempted,
              "failed": failed, "metrics": metrics}

    rec_dir = os.path.join(root, ".perfbench", "records")
    os.makedirs(rec_dir, exist_ok=True)
    record = {"workload": args.workload, "trace": args.trace, "tiny": args.tiny,
              "seconds": args.seconds, "stamp": stamp, "e2e": ctx.e2e,
              "layer": ctx.layer, "notes": ctx.notes, "samples": ctx.samples,
              "fail_frac": failed / attempted, "checks": ctx.checks,
              "spans": tracer.spans if args.trace else []}
    with open(os.path.join(rec_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    shown = {**ctx.e2e, **{k: v for k, v in ctx.layer.items() if k in
             ("index_s", "refresh_s", "search_p50_s", "search_tail_s", "callers_p50_s",
              "impact_p50_s", "batch_p50_s", "docs_per_s")}}
    print("perfbench " + " ".join(
        [f"workload={args.workload}", f"seed={args.seed}", f"trace={args.trace}"]
        + [f"{k}={v:.4f}{units[k]}" for k, v in shown.items()]
        + [f"fail_frac={failed / attempted:.4f}", f"checks={attempted - failed}/{attempted}"]
    ))
    for c in ctx.checks:
        if not c["ok"]:
            print(f"perfbench FAILED {c['name']}: {c['detail'][:500]}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 1 if crashed else 0


if __name__ == "__main__":
    sys.exit(main())
