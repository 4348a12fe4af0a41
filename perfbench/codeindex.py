"""The ``code-index`` workload: index a seeded synthetic Python tree,
then serve a closed loop of reads, rewrite 10% of the files, refresh.
The index and one untimed pass are set-up.  The timed phase is a fixed
number of passes, each ``CYCLES`` seeded read cycles followed by a
rewrite and a ``refresh``; ``wall_s`` is the median pass.  The first
pass after the index pays the read path's and refresh's one-time
warm-up (JIT compilation keeps the host's cores busy), so timing it
would mostly measure how contended the host is.

The tree has ``n_files`` modules of ``FUNCS`` functions each.  Every
function has a docstring of vocabulary words and calls two other
functions, so the generator knows the true call graph and checks
``callers``, depth-bounded ``impact``, the chunk count, and
``refresh``'s reparse count against it.  Search queries are drawn from
docstrings (hybrid path) and from function names (the name lookup
short-circuit).

The traced run traces the refreshes and adds one read cycle played
untraced, traced and untraced again (the tracing overhead) and a
per-module layer pass over the same tree.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from harness import du_mb, n_passes, percentile_tail, quantile

# Per-layer metric names (prefixes) this workload measures.
LAYERS = (
    "trace.overhead_s", "ingest.", "reuse.", "postings.", "engine.", "typegraph.",
    "index.", "index_s", "incremental.", "refresh_s", "search_", "callers_p50_s",
    "impact_p50_s", "graph.", "eval.",
)
FUNCS = 6
# Read cycles (four calls each) per timed pass.
CYCLES = 1
# Nominal cost of one timed pass (the reads plus a refresh of the
# 20-file tree, after the warm pass) on a 4-core host; with it
# ``--seconds`` sets how many passes a run times.
PASS_S = 15.0
VOCAB = (
    "parse token index graph vector chunk merge score cache shard filter "
    "batch stream ledger bloom trie heap queue route cipher window commit "
    "replay snapshot schema codec frame packet socket buffer cursor lease "
    "quorum gossip vote term digest sketch sample bucket spill flush compact "
    "rewrite planner join probe scan predicate rollup cube pivot lineage "
    "checkpoint watermark trigger sink source offset epoch fence barrier"
).split()


class Tree:
    """A seeded synthetic source tree and its ground truth."""

    def __init__(self, seed: int, n_files: int):
        self.rng = random.Random(seed)
        self.n_files = n_files
        self.names = [f"f{i}_{j}" for i in range(n_files) for j in range(FUNCS)]
        self.calls: dict[str, list[str]] = {}
        self.doc: dict[str, list[str]] = {}
        for n in self.names:
            self._draw(n)

    def _draw(self, name: str) -> None:
        others = [m for m in self.rng.sample(self.names, 3) if m != name]
        self.calls[name] = others[:2]
        self.doc[name] = self.rng.sample(VOCAB, 5)

    def source(self, i: int) -> str:
        out = []
        for j in range(FUNCS):
            n = f"f{i}_{j}"
            a, b = self.calls[n]
            out.append(
                f"def {n}(x):\n"
                f"    \"\"\"{' '.join(self.doc[n])}.\"\"\"\n"
                f"    y = {a}(x)\n"
                f"    return {b}(y)\n\n\n"
            )
        return "".join(out)

    def write(self, root: str, files=None) -> None:
        os.makedirs(root, exist_ok=True)
        for i in files if files is not None else range(self.n_files):
            with open(os.path.join(root, f"mod_{i}.py"), "w") as fh:
                fh.write(self.source(i))

    def rewrite(self, frac: float) -> list[int]:
        """Redraw half the functions of a seeded ``frac`` of the files."""
        files = sorted(self.rng.sample(range(self.n_files), max(1, int(frac * self.n_files))))
        for i in files:
            for j in range(0, FUNCS, 2):
                self._draw(f"f{i}_{j}")
        return files

    def callers(self, name: str) -> list[str]:
        return sorted(n for n, cs in self.calls.items() if name in cs)

    def impact(self, name: str, max_depth: int = 3) -> list[tuple[str, int]]:
        depth = {name: 0}
        frontier = [name]
        for d in range(1, max_depth + 1):
            nxt = []
            for node in frontier:
                for c in self.callers(node):
                    if c not in depth:
                        depth[c] = d
                        nxt.append(c)
            frontier = nxt
        return sorted(depth.items())


def _ops(tree: Tree, rng: random.Random) -> list[tuple[str, str, str | None]]:
    """One read cycle, one call of each kind in a seeded order:
    (kind, argument, expected name for a docstring search)."""
    n = rng.choice(tree.names)
    ops = [
        ("search", " ".join(rng.sample(tree.doc[n], 3)), n),
        ("search", rng.choice(tree.names), None),
        ("callers", rng.choice(tree.names), None),
        ("impact", rng.choice(tree.names), None),
    ]
    rng.shuffle(ops)
    return ops


def run(ctx) -> None:
    from cqs_spark.engine import Engine

    spark, tr = ctx.spark, ctx.tracer
    n_files = 12 if ctx.tiny else 20
    base = os.path.join(ctx.work, "code-index")
    shutil.rmtree(base, ignore_errors=True)
    ctx.cleanup.append(lambda: shutil.rmtree(base, ignore_errors=True))

    hits: list[bool] = []  # docstring searches that ranked their source

    def read_op(eng: Engine, tree: Tree, op):
        kind, arg, want = op
        t0 = time.perf_counter()
        if kind == "search":
            with tr.span("search", tag=False, query=arg):
                with tr.span("build"):
                    df = eng.search(arg)
                with tr.span("exec"):
                    pdf = df.toPandas()
            dt = time.perf_counter() - t0
            names = list(pdf["name"])
            ok = 0 < len(names) <= 10 and set(names) <= set(tree.names)
            if want is None:  # a name query must find its function first
                ok = ok and names[0] == arg
            else:
                hits.append(want in names)
            ctx.check(f"search:{arg}", ok, str(names[:3]))
        elif kind == "callers":
            with tr.span("callers"):
                got = sorted(eng.callers(arg).toPandas()["caller"])
            dt = time.perf_counter() - t0
            ctx.check(f"callers:{arg}", got == tree.callers(arg), str(got))
        else:
            with tr.span("impact"):
                pdf = eng.impact(arg).toPandas()
            dt = time.perf_counter() - t0
            got = sorted(zip(pdf["node"], (int(d) for d in pdf["depth"])))
            ctx.check(f"impact:{arg}", got == tree.impact(arg), str(got[:5]))
        return kind, dt

    def guarded(eng, tree, op):
        try:
            return read_op(eng, tree, op)
        except Exception as exc:  # a failed call is a failed operation
            ctx.check(f"{op[0]}:{op[1]}:ran", False, repr(exc)[:300])
            return None

    # Set-up: write the tree and index it.  The index is the first use of
    # a fresh engine and pays most of the process's one-time warm-up, so
    # it is timed on its own (index_s) and counted in setup_s.
    tree = Tree(ctx.seed, n_files)
    src = os.path.join(base, "src")
    tree.write(src)
    eng = Engine(spark, os.path.join(base, "idx"))
    t0 = time.perf_counter()
    with tr.span("index") as s_index:
        eng.index(src, glob="*.py")
    index_s = time.perf_counter() - t0
    ctx.check("index:n_chunks", eng.n_chunks() == n_files * FUNCS, str(eng.n_chunks()))

    # Each pass is the read cycles, then a rewrite, a refresh and a read
    # that only the refreshed index answers correctly.  Pass -1 is the
    # untimed warm pass that ends set-up; its latencies are not kept.
    rng = random.Random(ctx.seed)
    lat: dict[str, list[float]] = {"search": [], "callers": [], "impact": []}

    def cycle(ops, keep: bool = True) -> float:
        t0 = time.perf_counter()
        for op in ops:
            r = guarded(eng, tree, op)
            if r and keep:
                lat[r[0]].append(r[1])
        return time.perf_counter() - t0

    passes, refreshes = [], []
    cache_path = os.path.join(eng.workdir, "embed_cache.parquet")
    for p in range(-1, n_passes(ctx.seconds, PASS_S)):
        if p == 0:
            ctx.end_setup()
        timed = p >= 0
        t_pass = time.perf_counter()
        tr.enabled = False  # reads are traced in their own cycle below
        for _ in range(CYCLES):
            cycle(_ops(tree, rng), keep=timed)
        tr.enabled = ctx.traced and timed

        rewritten = tree.rewrite(0.1)
        tree.write(src, rewritten)
        if ctx.traced and p == 0:
            t_count = time.perf_counter()
            cache_rows = spark.read.parquet(cache_path).count()
            t_pass += time.perf_counter() - t_count  # not the workload's own time
        t0 = time.perf_counter()
        with tr.span("refresh") as span:
            rep = eng.refresh()
        if timed:
            refreshes.append(time.perf_counter() - t0)
        if ctx.traced and p == 0:
            # The embedding-cache misses of the first refresh: the rows it
            # added, against the chunks of the files it had to reparse.
            t_count = time.perf_counter()
            misses = spark.read.parquet(cache_path).count() - cache_rows
            ctx.layer["reuse.cache_hit_frac"] = 1 - misses / (len(rewritten) * FUNCS)
            s_refresh = span
            t_pass += time.perf_counter() - t_count
        ctx.check(f"refresh{p}:reparsed", rep.get("reparsed") == len(rewritten) and rep.get("deleted") == 0, str(rep))
        ctx.check(f"refresh{p}:n_chunks", eng.n_chunks() == n_files * FUNCS, str(eng.n_chunks()))
        # A callee of a redrawn function gained a caller only in the rewrite.
        r = guarded(eng, tree, ("callers", tree.calls[f"f{rewritten[0]}_0"][0], None))
        if r and timed:
            lat["callers"].append(r[1])
        if timed:
            passes.append(time.perf_counter() - t_pass)
    tr.enabled = ctx.traced
    ctx.samples.update(lat, passes=passes, refresh=refreshes)
    ctx.e2e["wall_s"] = quantile(passes, 0.5)
    refresh_s = quantile(refreshes, 0.5)

    search_tail, pct = percentile_tail(lat["search"])
    ctx.layer.update({
        "index_s": index_s,
        "refresh_s": refresh_s,
        "search_p50_s": quantile(lat["search"], 0.5),
        "search_tail_s": search_tail,
        "callers_p50_s": quantile(lat["callers"], 0.5),
        "impact_p50_s": quantile(lat["impact"], 0.5),
        "incremental.reparsed": rep.get("reparsed", 0),  # the last refresh
        "incremental.refresh_over_index": refresh_s / index_s,
    })
    ctx.notes["search_tail_percentile"] = pct
    ctx.notes["search_samples"] = len(lat["search"])
    ctx.layer["eval.recall_at_10"] = _mean([float(h) for h in hits])
    if not ctx.traced:
        return

    # One more read cycle, played untraced, traced, untraced: the traced
    # play's excess over the mean untraced one is the tracing overhead.
    ops = _ops(tree, rng)
    tr.enabled = False
    before = cycle(ops)
    tr.enabled = True
    traced = cycle(ops)
    tr.enabled = False
    after = cycle(ops)
    tr.enabled = True
    ctx.layer["trace.overhead_s"] = traced - (before + after) / 2
    ctx.layer["index.written_mb"] = du_mb(eng.workdir)
    _layer_pass(ctx, eng, src)
    _read_path_layers(ctx, eng, tree)

    def spans_metrics(ctx):
        t = ctx.tracer
        ctx.layer["engine.index_jobs"] = t.total(s_index, "jobs")
        ctx.layer["incremental.refresh_jobs"] = t.total(s_refresh, "jobs")
        traced = [s for s in t.spans if s["group"]]
        kids = {(s["parent"], s["name"]): s for s in traced}
        srch = [s for s in t.spans if s["name"] == "search" and (s["id"], "build") in kids]
        ctx.layer["engine.search_build_s"] = quantile(
            [kids[(s["id"], "build")]["end"] - kids[(s["id"], "build")]["start"] for s in srch], 0.5)
        ctx.layer["engine.search_exec_s"] = quantile(
            [kids[(s["id"], "exec")]["end"] - kids[(s["id"], "exec")]["start"] for s in srch], 0.5)
        ctx.layer["engine.search_jobs"] = _mean([t.total(s, "jobs") for s in srch])
        ctx.layer["engine.callers_jobs"] = _mean([s["jobs"] for s in traced if s["name"] == "callers"])
        ctx.layer["graph.impact_jobs"] = _mean([s["jobs"] for s in traced if s["name"] == "impact"])

    ctx.finalize.append(spans_metrics)


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _layer_pass(ctx, eng, src: str) -> None:
    """Each index module's public function, timed on its own: inputs
    are staged first, outputs are executed in full (noop sink)."""
    from cqs_spark.engine import call_edges_from_chunks
    from cqs_spark.index.ingest import build_chunks, list_files
    from cqs_spark.index.postings import build_postings
    from cqs_spark.index.reuse import embed_with_cache
    from cqs_spark.index.typegraph import type_edges

    spark, tr = ctx.spark, ctx.tracer

    def timed(name: str, fn):
        with tr.span(name) as s:
            out = fn()
        ctx.layer[name + "_s"] = s["end"] - s["start"]
        return out

    def run_all(df):
        df.write.format("noop").mode("overwrite").save()

    files = timed("ingest.list_files", lambda: list_files(spark, src, "*.py").localCheckpoint(eager=True))
    chunks = timed("ingest.build_chunks", lambda: build_chunks(files).localCheckpoint(eager=True))
    timed("reuse.embed", lambda: run_all(embed_with_cache(chunks, None, dim=eng.dim)[0]))
    stored = eng.chunks().localCheckpoint(eager=True)
    timed("postings.build", lambda: run_all(build_postings(stored)))
    timed("engine.edges", lambda: run_all(call_edges_from_chunks(stored)))
    timed("typegraph.type_edges", lambda: run_all(type_edges(stored)))
    for df in (files, chunks, stored):
        df.unpersist()


def _read_path_layers(ctx, eng, tree: Tree) -> None:
    from cqs_spark.functions.text import is_name_like_query
    from cqs_spark.index.postings import keyword_search

    rng = random.Random(ctx.seed + 1)
    query = " ".join(rng.sample(tree.doc[rng.choice(tree.names)], 3))
    t0 = time.perf_counter()
    keyword_search(eng.postings(), query, eng.n_chunks()).toPandas()
    ctx.layer["postings.keyword_search_s"] = time.perf_counter() - t0
    searched = [s["query"] for s in ctx.tracer.spans if s["name"] == "search"]
    shortcut = [is_name_like_query(q) and bool(eng.search_by_name(q, 10).take(1)) for q in searched]
    ctx.layer["engine.name_shortcut_frac"] = _mean([float(x) for x in shortcut])
