"""Run-level plumbing shared by the workloads: the Spark session, the
run stamp, the RSS sampler, and the tracer (spans + Spark event log).

Everything here observes the engine from outside: it calls the public
API of ``cqs_spark`` and reads what Spark itself records.  Nothing in
``cqs_spark`` is patched.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import platform
import signal
import subprocess
import threading
import time
from contextlib import contextmanager

# Driver heap for every benchmark session.  The engine's own default
# (48g) exceeds the RAM of small hosts; a fixed, modest heap also keeps
# the JVM's resident size, and so peak_rss_mb, repeatable.
DRIVER_MEM = "2g"


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def out_dir(root: str) -> str:
    d = os.path.join(root, ".perfbench")
    os.makedirs(d, exist_ok=True)
    return d


def prepare_env(root: str) -> None:
    """Point every temp/work dir into the checkout and make the repo
    importable by Spark's Python workers (they start in another cwd)."""
    tmp = os.path.join(out_dir(root), "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    import tempfile

    tempfile.tempdir = tmp


def start_spark(root: str, event_log: bool):
    """The engine's own ``get_spark``, with paths kept in the checkout.
    ``event_log`` turns on Spark's JSON event log (traced runs only)."""
    from cqs_spark.session import get_spark

    work = out_dir(root)
    conf = {
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{ncpu()}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = descendants()  # the JVM, the Python worker daemon, workers
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone; we still reap it
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # The worker daemon exits once the JVM is gone, but as an orphan: wait
    # on its pid (and the workers') directly, and kill what outlives that.
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# --------------------------------------------------------------- stamp
def _git_sha(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None  # an exported checkout: source_sha identifies it
    try:
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (r.stdout.strip() or None) if r.returncode == 0 else None


def source_sha(root: str) -> str:
    """Digest of the engine sources: identifies the code when the
    checkout is not a git repository."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "cqs_spark", "**", "*.py"), recursive=True))
    files.append(os.path.join(root, "__spark_entry__.py"))
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def stamp(root: str, seed: int) -> dict:
    """The run's provenance, taken before the session starts (the Java
    version is added from the running JVM)."""
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "git_sha": _git_sha(root),
        "source_sha": source_sha(root),
        "seed": seed,
        "nproc": ncpu(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": DRIVER_MEM,
        "load1_before": os.getloadavg()[0],
    }


# ------------------------------------------------------------ memory
def descendants() -> list[int]:
    """Pids of this process's descendants (the JVM, the Python worker
    daemon and its workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and its
    Python workers), sampled from /proc every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _descendant_rss(self) -> int:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._descendant_rss())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


# --------------------------------------------------------------- tracing
class Tracer:
    """In-memory spans, each tagging the Spark jobs it causes with its
    own job group.  ``enabled=False`` makes ``span`` a plain timer, so
    the untraced run pays nothing but two clock reads per call.

    Jobs are attributed to spans after the session stops, from Spark's
    event log: first by job group, then, for jobs that carry another
    group (streaming micro-batches set their own), by submission time
    to the innermost span open at that moment.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, tag: bool = True, **attrs):
        """Time one call.  A tagged span sets its own job group; an
        untagged one only groups its children.  A span's interval
        includes its own job-group calls, so children tile their
        parent's interval."""
        sid = len(self.spans)
        tag = tag and self.enabled
        rec = {
            "id": sid, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"pb-{sid}" if tag else None, **attrs,
        }
        self.spans.append(rec)
        rec["start"] = time.time()
        if tag:
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            if tag:
                outer = next((self.spans[i] for i in reversed(self._stack) if self.spans[i]["group"]), None)
                if outer:
                    self.sc.setJobGroup(outer["group"], outer["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            rec["end"] = time.time()

    def attribute(self, events: list[dict]) -> None:
        """Fill each span with the Spark work it caused (self only)."""
        by_group = {s["group"]: s for s in self.spans if s["group"]}
        for s in self.spans:
            s.update(jobs=0, stages=0, tasks=0, executor_run_s=0.0,
                     executor_cpu_s=0.0, shuffle_mb=0.0, spill_mb=0.0, gc_s=0.0)
        stage_span: dict[int, dict] = {}
        for ev in events:
            if ev.get("Event") != "SparkListenerJobStart":
                continue
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            span = by_group.get(group) or self._innermost(ev["Submission Time"] / 1000)
            if span is None:
                continue
            span["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_span[sid] = span
        seen_stages: set[int] = set()
        for ev in events:
            if ev.get("Event") != "SparkListenerTaskEnd":
                continue
            span = stage_span.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if span is None or not m:
                continue
            if ev["Stage ID"] not in seen_stages:
                seen_stages.add(ev["Stage ID"])
                span["stages"] += 1
            span["tasks"] += 1
            span["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            span["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            span["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            span["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
            span["shuffle_mb"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            ) / 2**20

    def _innermost(self, t: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= s.get("end", float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span["id"]]
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(kids.get(sid, []))
        return out

    def total(self, span: dict, key: str) -> float:
        """``key`` summed over ``span`` and its descendants."""
        return sum(s.get(key, 0) for s in self.subtree(span))


def read_event_log(root: str, app_id: str) -> list[dict]:
    path = os.path.join(out_dir(root), "eventlog", app_id)
    events = []
    with open(path) as fh:
        for line in fh:
            events.append(json.loads(line))
    os.remove(path)
    return events


def du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def percentile_tail(values: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); the median when there are fewer than 21."""
    xs = sorted(values)
    n = len(xs)
    pct = 50 if n < 21 else int(100 * (n - 10) / n)
    return quantile(xs, pct / 100), pct


def n_passes(seconds: float, pass_s: float) -> int:
    """How many timed passes fill ``seconds``, from a pass's nominal
    cost: a fixed amount of work, whatever the passes then take."""
    return max(1, round(seconds / pass_s))


def quantile(values: list[float], q: float) -> float:
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
