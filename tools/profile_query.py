"""Profile declared queries with perfbench's tracer (python tools/profile_query.py q103
q172): one JSON line per query with its plan-build and toPandas seconds and the Spark
work the event log attributes to them.  --plans-dir DIR writes each explain("formatted")
plan to DIR/<query>_<suffix>.txt; SPARK_GRAFT_SF_DIR names the data dir."""
import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
import harness  # noqa: E402

WORK = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_mb", "spill_mb")
ap = argparse.ArgumentParser()
ap.add_argument("queries", nargs="+")
ap.add_argument("--plans-dir")
ap.add_argument("--suffix", default="before")
args = ap.parse_args()
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
harness.prepare_env(ROOT)
spark = harness.start_spark(ROOT, event_log=True)
import __spark_entry__  # noqa: E402
queries, tracer, spans = __spark_entry__.queries(), harness.Tracer(spark, enabled=True), {}
for q in args.queries:
    with tracer.span(f"{q}.build") as build:
        df = queries[q](spark, sf_dir)
    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)
        with open(os.path.join(args.plans_dir, f"{q}_{args.suffix}.txt"), "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted"))
    with tracer.span(f"{q}.exec") as run:
        df.toPandas()
    spans[q] = (build, run)
app_id = spark.sparkContext.applicationId
harness.stop_spark(spark)
tracer.attribute(harness.read_event_log(ROOT, app_id))
for q, (b, r) in spans.items():
    rec = {"build_s": b["end"] - b["start"], "exec_s": r["end"] - r["start"], **{k: b[k] + r[k] for k in WORK}}
    print(json.dumps({"query": q, **{k: round(v, 3) for k, v in rec.items()}}))
