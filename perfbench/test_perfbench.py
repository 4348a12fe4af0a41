"""Self-test of the benchmark on its smallest inputs.

    python3 -m pytest perfbench -q

Runs both workloads, untraced and traced, end to end with ``--tiny``
(testdata sf0.001, a 12-file tree, one stream batch): together they
cover the qset-heavy and qset-sql queries, code-index and the
stream-curate drain.  One run with a deliberately corrupted query
result must raise fail_frac, and the benchmark must refuse to run
outside a repository checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def _bench(*args: str, code: str | None = None, cwd: str = ROOT):
    cmd = [sys.executable]
    cmd += ["-c", code] if code else [os.path.join(HERE, "run.py")]
    proc = subprocess.run(cmd + list(args), cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


SPEC = run.load_spec(ROOT)


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_is_correct(workload, trace):
    proc, res = _bench("--workload", workload, "--seed", "1", "--seconds", "1",
                       "--trace", trace, "--tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    # A traced run also fails a check for each of its own per-layer
    # metrics that it never set.
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 4, proc.stderr[-3000:]
    kind = "per_layer" if trace == "1" else "end_to_end"
    assert set(res["metrics"]) == {m["name"] for m in SPEC[kind]}
    with open(os.path.join(ROOT, ".perfbench", "records", f"{workload}-s1-t{trace}.json")) as fh:
        record = json.load(fh)
    if trace == "0":
        assert all(m["value"] > 0 for m in res["metrics"].values())
    else:
        # What this workload does not measure, the other one does.
        other = next(n for n in run.WORKLOADS if n != workload)
        theirs = __import__(run.WORKLOADS[other]).LAYERS
        assert all(n.startswith(theirs) for n in record["notes"]["not_measured"])


def test_corrupted_output_raises_fail_frac():
    """q172 loses rows through a wrapped registry; its oracle check
    must fail and the run must report it."""
    code = (
        "import sys; sys.path[:0] = ['.', 'perfbench']\n"
        "import __spark_entry__ as E\n"
        "real = E.queries\n"
        "def queries():\n"
        "    qs = dict(real())\n"
        "    q172 = qs['q172']\n"
        "    qs['q172'] = lambda spark, sf: q172(spark, sf).limit(3)\n"
        "    return qs\n"
        "E.queries = queries\n"
        "import run\n"
        "sys.exit(run.main(sys.argv[1:]))\n"
    )
    proc, res = _bench("--workload", "qset-heavy", "--seed", "1", "--seconds", "1",
                       "--trace", "0", "--tiny", code=code)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not res["correct"] and res["failed"] >= 1
    assert "fail_frac=0.0000" not in proc.stdout


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "code-index", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
