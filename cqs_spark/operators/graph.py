"""Graph analytics over edge DataFrames: BFS, impact, dead code, related.

The reference builds a call graph + type graph and runs bounded
traversals over them (SURVEY.md §2.8):

  reverse_bfs        ancestors with min depth (src/impact/bfs.rs:49)
  bfs (forward)      callee closure / trace reach (src/cli/commands/graph/trace.rs:216)
  dead_code          zero-trusted-edge anti-join + confidence tiers
                     (src/store/calls/dead_code.rs:79)
  related_by_caller  co-occurrence via shared callers (src/store/calls/related.rs:85)
  test_map           reachability from test seeds, depth <= 5
                     (src/impact/test_map.rs:30)
  gather_scores      BFS expansion with per-hop score decay (src/gather.rs:532)
  label_propagation  fixed-iteration connected components (engine extension)

Representation: edges are a flat DataFrame (src, dst[, edge_kind]) —
Spark prefers flat edge sets over adjacency maps; every hop is one
equi-join + distinct.

Scale design (100 TB):
  - Each BFS hop = frontier ⋈ edges: ONE shuffle per hop on the join
    key, with the edge side reusable across hops (same partitioning —
    persist the bucketed/partitioned edge table once).
  - The frontier is usually tiny relative to the edge set; Spark's AQE
    demotes the join to broadcast at runtime when it fits.  Depth is
    capped (reference caps at 5-10), so the loop is bounded.
  - Visited-set dedup per hop keeps the frontier minimal — without it
    dense graphs re-expand exponentially.
  - For deep traversals the logical plan grows per hop; frontiers are
    staged per hop (cqs_spark.staging, lazy) so multi-consumer reuse
    never recomputes prior hops (the reference's 10k-node ceiling
    analogue).  Staging, not ``cache()``: a cached frame keeps its full
    lineage, so a depth-5 traversal's final plan carried ~536 Exchange
    nodes and Catalyst re-analysis alone cost seconds per query
    (q103: 30.1 s → 5.0 s total after the switch, identical rows);
    a stage truncates the lineage to one leaf per hop, and the
    ContextCleaner frees its blocks when the result is dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from cqs_spark.staging import stage

TRUSTED_KINDS_DEFAULT = ("call",)


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 3,
    reverse: bool = False,
) -> DataFrame:
    """Bounded BFS: (node, depth) with the MINIMUM depth per node.

    ``seeds`` is a one-column DataFrame (node); seeds surface at depth
    0.  ``reverse=True`` walks edges dst→src (ancestors / impact
    direction, src/impact/bfs.rs:49), else src→dst (callees / trace).

    One join + aggregate per hop; the reached-set accumulator is
    re-aggregated once at the end, so intermediate duplicates never
    shuffle more than one hop.
    """
    here, there = ("dst", "src") if reverse else ("src", "dst")
    # The edge set is joined once per hop; staging it first means each
    # hop's plan references one leaf instead of re-embedding the
    # caller's whole edge-derivation lineage.
    edges = stage(edges.select("src", "dst"))
    frontier = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    # Each hop's frontier has THREE consumers (next hop's join, the
    # visited anti-join, the final union); an unstaged lineage would
    # recompute all prior hops per consumer — quadratic work growth
    # with depth (see the module docstring for why staged, not cached).
    frontier = stage(frontier)
    visited = frontier
    reached = frontier.withColumn("depth", F.lit(0))
    for depth in range(1, max_depth + 1):
        frontier = (
            frontier.join(edges, frontier.node == edges[here])
            .select(F.col(there).alias("node"))
            .distinct()
        )
        if depth < max_depth:
            # Anti-join the new frontier against everything already
            # reached: on cyclic/dense graphs an undeduped frontier
            # re-expands visited nodes every hop (results stay correct
            # via the min-depth agg, but the work grows sharply with
            # depth).  The LAST hop skips it — its frontier is never
            # expanded again and the final aggregate dedups it for free.
            frontier = stage(frontier.join(visited, "node", "left_anti"))
            visited = visited.unionByName(frontier)
        reached = reached.unionByName(frontier.withColumn("depth", F.lit(depth)))
    return reached.groupBy("node").agg(
        F.min("depth").cast("long").alias("depth")
    )


def reverse_bfs(edges: DataFrame, seeds: DataFrame, max_depth: int = 3, **kw) -> DataFrame:
    """Ancestors of the seed set with min depth (impact direction)."""
    return bfs(edges, seeds, max_depth, reverse=True, **kw)


def dead_code(
    edges: DataFrame,
    trusted_kinds: tuple[str, ...] = TRUSTED_KINDS_DEFAULT,
) -> DataFrame:
    """Nodes with no trusted incoming edge: (node, confidence).

    confidence = 'high' when the node has NO incoming edge at all,
    'medium' when only untrusted (doc_reference-like) edges point at
    it — the reference's tiered ladder (src/store/calls/dead_code.rs:51-78).
    Implemented as two hash-aggregated incoming-degree counts, not two
    anti-joins: one shuffle on dst instead of two.
    """
    indeg = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("n_in"),
        F.sum(
            F.when(F.col("edge_kind").isin(*trusted_kinds), 1).otherwise(0)
        ).alias("n_trusted"),
    )
    return (
        _nodes(edges)
        .join(indeg, "node", "left")
        .filter(F.coalesce(F.col("n_trusted"), F.lit(0)) == 0)
        .select(
            "node",
            F.when(F.coalesce(F.col("n_in"), F.lit(0)) == 0, "high")
            .otherwise("medium")
            .alias("confidence"),
        )
    )


def related_by_caller(edges: DataFrame, min_shared: int = 2) -> DataFrame:
    """Callee pairs ranked by shared distinct callers: (a, b, shared).

    Reference: find_shared_callers src/store/calls/related.rs:85.
    Self-join on the caller key; a < b canonicalizes the pair.  The
    caller-side join key is the natural shuffle key; skewed mega-callers
    are exactly what AQE skew-split handles.
    """
    e = edges.select("src", "dst").distinct()
    a = e.select(F.col("src").alias("caller"), F.col("dst").alias("a"))
    b = e.select(F.col("src").alias("caller"), F.col("dst").alias("b"))
    return (
        a.join(b, "caller")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.countDistinct("caller").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def test_map(
    edges: DataFrame,
    test_seeds: DataFrame,
    max_depth: int = 2,
    return_pairs: bool = False,
) -> DataFrame:
    """Per-node count of distinct test seeds that reach it: (node, n_tests).

    Reference: find_test_matches src/impact/test_map.rs:30 (call-graph
    reachability from tests, depth <= 5).  Tracks (test, node) pairs —
    the state is bounded by |tests| x |nodes|; the reference caps depth
    for the same reason.  ``return_pairs=True`` returns the raw distinct
    (test, node) reachability pairs instead of the per-node counts —
    review's affected-tests leg needs WHICH tests cover a function, not
    just how many (src/review.rs DiffTestInfo).
    """
    edges = stage(edges.select("src", "dst"))
    frontier = stage(
        test_seeds.select(F.col(test_seeds.columns[0]).alias("test"))
        .distinct()
        .withColumn("node", F.col("test"))
    )
    reached = frontier
    for hop in range(max_depth):
        frontier = (
            frontier.join(edges, frontier.node == edges.src)
            .select("test", F.col("dst").alias("node"))
            .distinct()
        )
        if hop < max_depth - 1:
            # Per-(test, node) visited-set dedup — same frontier hygiene
            # (and the same per-hop staging + last-hop skip) as bfs();
            # the final countDistinct absorbs last-hop duplicates.
            frontier = stage(
                frontier.join(reached, ["test", "node"], "left_anti")
            )
        reached = reached.unionByName(frontier)
    if return_pairs:
        return reached.select("test", "node").distinct()
    return reached.groupBy("node").agg(
        F.countDistinct("test").alias("n_tests")
    )


def gather_scores(
    edges: DataFrame,
    seeds: DataFrame,
    score_col: str = "score",
    max_depth: int = 2,
    decay: float = 0.5,
    limit: int = 200,
) -> DataFrame:
    """Context-assembly expansion: seeds + neighbors with per-hop decay.

    (node, score) where score = max over paths of seed_score * decay^depth,
    capped to ``limit`` rows by (score desc, node) — the gather shape
    (src/gather.rs:532: seed search → BFS expand → dedup → cap 200).
    """
    edges = stage(edges.select("src", "dst"))
    frontier = stage(
        seeds.select(
            F.col(seeds.columns[0]).alias("node"),
            F.col(score_col).alias("score"),
        )
    )
    reached = frontier
    for _ in range(max_depth):
        frontier = stage(
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("score") * decay).alias("score"))
            .groupBy("node")
            .agg(F.max("score").alias("score"))
        )
        reached = reached.unionByName(frontier)
    return (
        reached.groupBy("node")
        .agg(F.max("score").alias("score"))
        .orderBy(F.desc("score"), "node")
        .limit(limit)
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    converge: bool = False,
    max_iters: int = 25,
    strict: bool = True,
) -> DataFrame:
    """Min-label propagation connected components: (node, label).

    Undirected: each iteration every node takes the min of its own
    label and its neighbors' labels.  Two modes:

    - ``converge=False`` (default): exactly ``iters`` iterations —
      deterministic, oracle-checkable, but duplicate chains longer
      than ``iters`` hops under-merge.
    - ``converge=True``: iterate until no label changes, bounded by
      ``max_iters`` — still deterministic (the fixpoint of min-label
      propagation is unique: true connected components).  Convergence
      detection exploits monotonicity: labels only ever DECREASE, so
      sum(label) is strictly decreasing until the fixpoint — comparing
      one scalar aggregate per round replaces the old join-the-two-
      label-tables count (a shuffle per round), and two propagation
      steps run per check (an extra no-op step past the fixpoint is
      cheaper than doubling the check cadence).  Each round is
      staged so lineage stays flat.  Min-label diameter
      halves are not implemented (large-star/small-star) — worst case
      steps = graph diameter, which ``max_iters`` bounds; near-dup
      clusters are shallow in practice.  A chain whose diameter
      exceeds ``max_iters`` would silently UNDER-MERGE (and desync
      any caller whose oracle computes the full transitive closure,
      e.g. dedup_apply / media_dedup_apply), so with ``strict=True``
      (the default) hitting the bound without reaching the fixpoint
      raises instead of returning partial components; pass
      ``strict=False`` for best-effort labels.
    """
    # Stage the edge set FIRST: ``edges`` often arrives with an
    # expensive lineage (q72/q182: the whole MinHash/perceptual pair
    # ladder), and und + nodes + labels would each re-execute it —
    # staging computes it once.
    edges = stage(edges.select("src", "dst"))
    nodes = _nodes(edges)
    # Self-loops fold the "keep own label" term into the neighbor-min
    # aggregate: min over (neighbors ∪ self) == least(own, neighbor min).
    # Each iteration is then ONE join + ONE aggregate — no per-iteration
    # left join back to the previous labels (halves the shuffles).
    # Staged for both modes: every iteration joins it (3 consumers in
    # iters mode, 2·steps in converge mode).
    und = stage(
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .unionByName(nodes.select(F.col("node").alias("src"), F.col("node").alias("dst")))
        .distinct()
    )
    labels = nodes.withColumn("label", F.col("node"))

    def step(lab: DataFrame) -> DataFrame:
        return (
            und.join(lab, und.dst == lab.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("label"))
        )

    if not converge:
        for i in range(iters):
            labels = step(labels)
            if i < iters - 1:
                labels = stage(labels)
        return labels

    from pyspark.sql.types import NumericType

    numeric = isinstance(labels.schema["label"].dataType, NumericType)
    # LAZY checkpoints throughout the loop: the convergence probe is an
    # action anyway, and computing a lazily-marked RDD persists it as a
    # side effect — so the probe materializes the round's labels AND
    # returns the scalar in ONE job.  The old eager checkpoint ran a
    # separate materialization job first: two jobs per round, and on
    # shallow-diameter graphs (the near-dup norm) the per-job fixed cost
    # IS the query's cost (q89: 42 jobs ≈ 5 s at sf0.1, almost all
    # scheduling floor).
    labels = stage(labels)
    prev_sum = None
    done = False
    for _ in range(0, max_iters, 2):
        new = stage(step(step(labels)))
        if numeric:
            # decimal(38,0) sum: 64-bit hash-derived labels can overflow a
            # long sum (ANSI abort / silent wrap); decimal is exact here.
            s = new.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
            done = s == prev_sum
            prev_sum = s
        else:
            # Non-numeric labels: no monotone scalar — fall back to the
            # join-based change count (still only once per TWO steps).
            done = (
                new.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            ) == 0
        labels = new
        if done:
            break
    if strict and not done:
        # Partial components would silently under-merge downstream
        # (and desync transitive-closure oracles); surface it instead.
        raise RuntimeError(
            f"label_propagation did not reach the fixpoint within "
            f"max_iters={max_iters} steps (graph diameter exceeds the "
            f"bound); raise max_iters or pass strict=False"
        )
    return labels


def trace(
    edges: DataFrame, src, dst, max_depth: int = 6
) -> list | None:
    """Shortest path src→dst as a node list, or None if unreachable.

    Parent-pointer BFS (src/cli/commands/graph/trace.rs:216) with a fully
    DISTRIBUTED frontier: the (node, parent, depth) visited set stays a
    DataFrame across hops (never collected — on a hub-heavy graph the
    hop-2 frontier can be O(|V|)).  Min parent per node for determinism;
    first-seen depth wins via anti-join.  Only after dst appears does the
    driver reconstruct the path, one parent lookup per hop — at most
    max_depth single-row fetches against the staged visited table.
    """
    if src == dst:
        return [src]
    spark = edges.sparkSession
    edges = stage(edges.select("src", "dst"))
    from pyspark.sql.types import IntegerType, StructField, StructType

    ntype = edges.schema["src"].dataType
    schema = StructType(
        [
            StructField("node", ntype),
            StructField("parent", ntype, nullable=True),
            StructField("depth", IntegerType()),
        ]
    )
    visited = spark.createDataFrame([(src, None, 0)], schema)
    frontier = visited.select("node")
    found = False
    for depth in range(1, max_depth + 1):
        step = (
            frontier.join(edges, frontier.node == edges.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(edges.src).alias("parent"))
            .withColumn("depth", F.lit(depth))
        )
        # Lazy checkpoints: the stats probe right below is the hop's
        # one action and materializes `fresh` as it runs; an eager
        # checkpoint would spend a SECOND job per hop on the same
        # blocks (likewise `visited`, which the next hop's anti-join
        # materializes).
        fresh = stage(step.join(visited, "node", "left_anti"))
        stats = fresh.agg(
            F.count(F.lit(1)).alias("n"),
            F.max((F.col("node") == F.lit(dst)).cast("int")).alias("hit"),
        ).first()
        if stats["n"] == 0:
            return None
        visited = stage(visited.unionByName(fresh))
        if stats["hit"] == 1:
            found = True
            break
        frontier = fresh.select("node")
    if not found:
        return None
    # Path reconstruction: ≤ max_depth one-row lookups, never the frontier.
    path = [dst]
    while path[-1] != src:
        parent = (
            visited.filter(F.col("node") == F.lit(path[-1]))
            .select("parent")
            .first()[0]
        )
        path.append(parent)
    return list(reversed(path))


def impact(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 3,
    hotspot_threshold: int = 10,
) -> DataFrame:
    """Impact analysis: ancestors split direct/transitive + risk flag.

    (node, depth, direct, hotspot) — the analyze_impact composition
    (src/impact/analysis.rs:54): reverse BFS, depth-1 = direct callers,
    high-in-degree ancestors flagged as hotspots
    (src/impact/hints.rs:350).
    """
    anc = reverse_bfs(edges, seeds, max_depth)
    indeg = edges.groupBy(F.col("dst").alias("node")).agg(
        F.countDistinct("src").alias("n_callers")
    )
    return (
        anc.join(indeg, "node", "left")
        .select(
            "node",
            "depth",
            (F.col("depth") == 1).alias("direct"),
            (F.coalesce(F.col("n_callers"), F.lit(0)) >= hotspot_threshold).alias(
                "hotspot"
            ),
        )
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation: (node, n_triangles).

    Canonical degree-ordered enumeration (the standard distributed
    trick): undirect + dedup the edge set, orient every edge from the
    lower-(degree, id) endpoint to the higher, then one self-join on
    the oriented wedges' common apex + one semi-join back onto the
    edge set finds each triangle exactly once.  Orientation bounds the
    join fan-out by the graph's arboricity rather than the max degree
    — the mega-hub whose D^2 wedge explosion kills the naive join
    contributes only its forward wedges.
    """
    # und feeds two consumers (degrees + rank attachment) and fwd four
    # (both wedge legs + both closing-edge directions): stage them or
    # the edge-derivation lineage re-executes per consumer (measured
    # ~5x cost).
    und = stage(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
    )
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # Degrees are |V| rows — broadcast both attachment joins so the
    # edge set never shuffles on its endpoints just to learn degrees.
    ranked = (
        und.join(F.broadcast(deg.withColumnRenamed("node", "src")), "src")
        .withColumnRenamed("deg", "sdeg")
        .join(
            F.broadcast(
                deg.select(F.col("node").alias("dst"), F.col("deg").alias("ddeg"))
            ),
            "dst",
        )
    )
    fwd = stage(
        ranked.filter(
            (F.col("sdeg") < F.col("ddeg"))
            | ((F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst")))
        ).select("src", "dst")
    )
    a = fwd.select(F.col("src").alias("apex"), F.col("dst").alias("b"))
    b = fwd.select(F.col("src").alias("apex"), F.col("dst").alias("c"))
    wedges = a.join(b, "apex").filter(F.col("b") < F.col("c"))
    tri = wedges.join(
        fwd.select(F.col("src").alias("b"), F.col("dst").alias("c"))
        .unionByName(
            fwd.select(F.col("dst").alias("b"), F.col("src").alias("c"))
        ),
        ["b", "c"],
        "left_semi",
    )
    per_node = (
        tri.select(F.col("apex").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank: (node, rank) after ``iters`` rounds.

    rank = (1-d)/N + d * (in-flow + dangling mass / N) per iteration —
    the classic one-shuffle-per-iteration power method: contributions
    group by destination, dangling mass is a scalar broadcast (a
    one-row aggregate, not a join), out-degrees compute once.  Fixed
    iteration count keeps it deterministic and oracle-checkable
    (the fixpoint needs a tolerance; 5 rounds is the declared form).
    """
    # e feeds every iteration's contribution join and nodes every
    # iteration's reassembly; stage both (and the edge set they derive
    # from) so the per-iteration plans stay O(1).
    edges = stage(edges.select("src", "dst"))
    nodes = stage(_nodes(edges))
    n = nodes.count()
    e = stage(edges.distinct())
    outdeg = stage(
        e.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("outdeg")
        )
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(iters):
        with_deg = ranks.join(outdeg, "node", "left")
        # Dangling mass stays a ONE-ROW DataFrame broadcast-cross-joined
        # back in, not a driver scalar: the whole power iteration is one
        # lazy plan and only the caller's action runs it (5 jobs -> 1).
        dangling = with_deg.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang")
        )
        contrib = (
            e.join(
                with_deg.filter(F.col("outdeg").isNotNull()),
                e.src == F.col("node"),
            )
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("_dang") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
        )
        ranks = stage(ranks)
    return ranks


def explain_symbols(
    edges: DataFrame,
    names: DataFrame,
    max_depth: int = 3,
    cap: int = 5,
) -> DataFrame:
    """Batch symbol dashboard: capped caller/callee lists + impact size.

    ``Engine.explain_symbol`` (src/cli/commands/graph/explain.rs shape)
    collects one symbol at a time on the driver; this is the batch twin
    for a SET of symbols — (name, callers, callees, impact_size) — so
    auditing a thousand symbols is three joins and ONE labeled reverse
    BFS, not a thousand driver round-trips:

    - callers/callees: broadcast the bounded name set against the edge
      table, sorted-distinct lists capped at ``cap`` (the dashboard
      shows a preview, not the full adjacency);
    - impact_size: distinct ancestors within ``max_depth`` hops
      (seed included, matching Engine.impact's count), via the same
      per-seed (label, node) pair tracking test_map uses — state is
      bounded by |names| × |nodes|, the reason both cap depth.

    Names with no edges keep NULL lists and impact 1 (just the seed).
    Oracle-gated as q131.
    """
    # Three consumers of the edge set (callers, callees, the reverse
    # BFS) — stage it once.
    edges = stage(edges.select("src", "dst"))
    nm = names.select(F.col(names.columns[0]).alias("name")).distinct()
    callers = (
        edges.join(F.broadcast(nm), edges.dst == F.col("name"))
        .groupBy("name")
        .agg(
            F.slice(F.sort_array(F.collect_set("src")), 1, cap).alias(
                "callers"
            )
        )
    )
    callees = (
        edges.join(F.broadcast(nm), edges.src == F.col("name"))
        .groupBy("name")
        .agg(
            F.slice(F.sort_array(F.collect_set("dst")), 1, cap).alias(
                "callees"
            )
        )
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    imp = (
        test_map(rev, nm, max_depth=max_depth, return_pairs=True)
        .groupBy(F.col("test").alias("name"))
        .agg(F.countDistinct("node").alias("impact_size"))
    )
    return (
        nm.join(callers, "name", "left")
        .join(callees, "name", "left")
        .join(imp, "name", "left")
        .select(
            "name",
            "callers",
            "callees",
            F.coalesce("impact_size", F.lit(1)).cast("long").alias(
                "impact_size"
            ),
        )
        .orderBy("name")
    )
