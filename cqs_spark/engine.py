"""User-facing engine facade: the reference's CLI surface in batch form.

One object wires the whole pipeline: ``index()`` builds the chunk /
postings / embedding / call-edge tables; ``search()`` runs the hybrid
retrieval ladder; the graph commands (callers, callees, impact,
dead_code, related, gather) run over the extracted call edges — the
batch equivalents of `cqs <query>`, `cqs callers`, `cqs impact`,
`cqs dead-code`, `cqs related`, `cqs gather` (src/cli/definitions.rs).

Everything is lazily-planned DataFrames over parquet tables; the only
driver-side loop is MMR over a collected top-k pool.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from cqs_spark.functions.vector import dot
from cqs_spark.index.ingest import build_chunks, list_files
from cqs_spark.index.postings import build_postings, keyword_search
from cqs_spark.index.reuse import (
    DEFAULT_DIM,
    embed_with_cache,
    new_cache_rows,
    ri_embedding,
)
from cqs_spark.operators import graph, scoring
from cqs_spark.staging import stage

# Identifiers followed by "(" — the heuristic call-site extractor.
_CALL_RE = r"([A-Za-z_][A-Za-z0-9_]*)\s*\("


def call_edges_from_chunks(chunks: DataFrame) -> DataFrame:
    """(src, dst, edge_kind) name-level call edges from chunk content.

    Call-site tokens (identifier before '(') joined against known chunk
    names — the reference's heuristic edge extraction shape
    (function_calls with edge_kind provenance, src/schema.sql:171-182).
    The name join is a broadcast (names ≪ call sites).
    """
    funcs = chunks.filter(F.col("chunk_type").isin("function", "class"))
    names = funcs.select(F.col("name").alias("dst")).distinct()
    sites = (
        funcs.select(
            F.col("name").alias("src"),
            F.explode(
                F.regexp_extract_all("content", F.lit(_CALL_RE), 1)
            ).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return sites.join(F.broadcast(names), "dst").select(
        "src", "dst", F.lit("call").alias("edge_kind")
    )


# Join key each core index table is bucketed on in the "bucketed"
# layout: the key its retrieval-time join probes, so same-bucketed
# joins skip both exchanges (index/layout.py; the reference's
# composite-covering-index analogue, src/schema.sql:104-126).
_BUCKET_KEYS = {
    "chunks": "id",        # candidate-id fetch joins
    "postings": "term",    # query-term ⋈ postings
    "edges": "dst",        # caller lookups / reverse BFS probes
    "type_edges": "dst",   # type_users probes
}


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        dim: int | None = None,
        layout: str = "path",
    ):
        """``layout="bucketed"`` stores the four core tables as
        bucketed metastore tables (pre-shuffled on their join keys —
        the deployment layout; see index/layout.py).  Without a
        persistent metastore the catalog entries are session-scoped,
        so the bucketed mode is for long-lived sessions / real
        clusters; the default path layout is process-portable.

        ``dim=None`` reads the index's own recorded dim from meta.json
        (falling back to DEFAULT_DIM for a fresh workdir) — required by
        named slots, where two side-by-side indexes can carry different
        encoder dims and queries must embed at the OPENED index's dim.
        """
        if layout not in ("path", "bucketed"):
            raise ValueError(f"unknown layout {layout!r}")
        self.spark = spark
        self.workdir = workdir
        if dim is None:
            dim = self._meta().get("dim") or DEFAULT_DIM
        self.dim = dim
        self.layout = layout

    # ------------------------------------------------------------------ index
    def _path(self, table: str) -> str:
        return os.path.join(self.workdir, f"{table}.parquet")

    def _cache_path(self) -> str:
        """The embedding cache's path — CROSS-SLOT: when this engine is
        rooted at a slot dir (``<root>/slots/<name>``) the cache lives
        at the workdir ROOT, shared by every slot (the reference keeps
        embeddings_cache.db outside the slots, slot/mod.rs:13).  Safe
        because rows are keyed (canonical_hash, model fingerprint):
        a second slot with the same encoder cache-hits the first
        slot's corpus embeddings instead of re-running inference; a
        different encoder's rows never serve (embed_with_cache filters
        on fingerprint).  Flat engines resolve to the workdir itself —
        the same path as before slots existed.

        Migration: releases before the cross-slot cache kept
        ``slots/<name>/embed_cache.parquet``.  On first access a
        slot-local cache is MOVED to the shared root path (no silent
        full re-embed); if the shared cache already exists the legacy
        rows are UNIONED into it (deduped on the (canonical_hash,
        fingerprint) key) rather than discarded — the slot-local copy
        may hold embeddings for fingerprints the shared cache lacks.
        Two engines may race here; every step tolerates the other
        side winning (the move falls back to the merge path, and a
        failed merge leaves both files untouched — it's a
        recomputable cache, so the worst outcome of bailing out is a
        re-embed, never corruption)."""
        from cqs_spark.index.slots import shared_root

        root = shared_root(self.workdir)
        if root is None:
            return os.path.join(self.workdir, "embed_cache.parquet")
        shared = os.path.join(root, "embed_cache.parquet")
        legacy = os.path.join(self.workdir, "embed_cache.parquet")
        if os.path.exists(legacy):
            import shutil

            if not os.path.exists(shared):
                try:
                    shutil.move(legacy, shared)
                except (OSError, shutil.Error):
                    pass  # lost the race: fall through to the merge
            if os.path.exists(legacy) and os.path.exists(shared):
                try:
                    self._merge_legacy_cache(legacy, shared)
                except Exception:
                    # Merge is best-effort: serve the shared cache and
                    # leave the legacy file for the next attempt.
                    pass
        return shared

    def _merge_legacy_cache(self, legacy: str, shared: str) -> None:
        """Union a legacy slot-local embed cache into the shared one,
        keyed (canonical_hash, fingerprint); a fingerprint-less legacy
        cache keeps NULL fingerprints (``embed_with_cache`` already
        treats those as belonging to the active model).  Writes to a
        temp dir and swaps so a crash mid-write never clobbers the
        shared cache."""
        import shutil

        legacy_df = self.spark.read.parquet(legacy)
        shared_df = self.spark.read.parquet(shared)
        for field in shared_df.schema.fields:
            if field.name not in legacy_df.columns:
                legacy_df = legacy_df.withColumn(
                    field.name, F.lit(None).cast(field.dataType)
                )
        key = [
            c for c in ("canonical_hash", "fingerprint")
            if c in shared_df.columns
        ]
        merged = stage(
            shared_df.unionByName(legacy_df.select(*shared_df.columns))
            .dropDuplicates(key),
            eager=True,  # sever lineage before the swap
        )
        tmp = shared + ".merge.tmp"
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(shared)
        os.replace(tmp, shared)
        shutil.rmtree(legacy, ignore_errors=True)

    def _table_name(self, table: str) -> str:
        import hashlib

        h = hashlib.sha256(
            os.path.abspath(self.workdir).encode()
        ).hexdigest()[:10]
        return f"cqs_{h}_{table}"

    def _write_table(self, df: DataFrame, table: str) -> None:
        key = _BUCKET_KEYS.get(table)
        if self.layout == "bucketed" and key:
            from cqs_spark.index.layout import write_bucketed

            # External, inside the workdir: a managed table's directory
            # under the warehouse outlives the in-memory catalog entry,
            # and a later session would collide with it.
            write_bucketed(
                df, self._table_name(table), key, sort_by=key, path=self._path(table)
            )
        else:
            df.write.mode("overwrite").parquet(self._path(table))

    def _read_table(self, table: str) -> DataFrame:
        if self.layout == "bucketed" and table in _BUCKET_KEYS:
            return self.spark.table(self._table_name(table))
        return self.spark.read.parquet(self._path(table))

    def index(self, root: str, glob: str = "*.{py,md}", convert: bool = False) -> None:
        """Build chunks + embeddings + postings + call edges from a tree.

        Pass ``convert=True`` (with an html/pdf-inclusive glob) to run
        the document-conversion stage before chunking.
        """
        files = list_files(self.spark, root, glob)
        chunks = build_chunks(files, convert=convert)
        cache = None
        if os.path.exists(self._cache_path()):
            cache = self.spark.read.parquet(self._cache_path())
        embedded, _ = embed_with_cache(chunks, cache, dim=self.dim)
        self._write_table(embedded, "chunks")
        chunks_t = self.chunks()
        self._write_table(build_postings(chunks_t), "postings")
        self._write_table(call_edges_from_chunks(chunks_t), "edges")
        from cqs_spark.index.typegraph import type_edges

        self._write_table(type_edges(chunks_t), "type_edges")
        # New cache rows come from the written chunks: no second parse
        # or embed.
        mode = "append" if cache is not None else "overwrite"
        new_cache_rows(chunks_t, cache, dim=self.dim).write.mode(mode).parquet(
            self._cache_path()
        )
        # File-fingerprint registry: what `stale` / `refresh` reconcile
        # against (the reference's file_registry, src/schema.sql).
        from cqs_spark.index.ingest import registry_of

        registry_of(files).write.mode("overwrite").parquet(self._path("registry"))
        import json

        # Corpus stats recorded ONCE at index time: n_chunks feeds every
        # query's IDF — recomputing it per search would be a full corpus
        # scan per query (the round-1 scale hazard).
        n_chunks = chunks_t.count()
        from cqs_spark.index.models import ModelConfig

        with open(os.path.join(self.workdir, "meta.json"), "w") as fh:
            json.dump(
                {
                    "root": os.path.abspath(root),
                    "glob": glob,
                    "n_chunks": n_chunks,
                    # Encoder generation of EVERY stored vector: refresh
                    # compares this before merging old and new chunks so
                    # an encoder upgrade can never produce an index that
                    # mixes vector generations.
                    "model_fingerprint": ModelConfig.ri(self.dim).fingerprint(),
                    # Encoder dim, so re-opening this index (slots,
                    # Engine(dim=None)) embeds queries at the vectors'
                    # own generation.
                    "dim": self.dim,
                },
                fh,
            )
        self._n_chunks_cached = n_chunks

    def n_chunks(self) -> int:
        """Corpus size from the index-time stats (no per-query scan)."""
        cached = getattr(self, "_n_chunks_cached", None)
        if cached is not None:
            return cached
        import json

        meta_path = os.path.join(self.workdir, "meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                meta = json.load(fh)
            if "n_chunks" in meta:
                self._n_chunks_cached = meta["n_chunks"]
                return self._n_chunks_cached
        self._n_chunks_cached = self.chunks().count()  # legacy index fallback
        return self._n_chunks_cached

    def chunks(self) -> DataFrame:
        return self._read_table("chunks")

    def postings(self) -> DataFrame:
        return self._read_table("postings")

    def edges(self) -> DataFrame:
        return self._read_table("edges")

    def type_edges(self) -> DataFrame:
        return self._read_table("type_edges")

    def type_users(self, type_name: str, include_common: bool = False) -> DataFrame:
        from cqs_spark.index.typegraph import type_users

        return type_users(self.type_edges(), type_name, include_common=include_common)

    def notes_store(self):
        """The workdir's notes table (``cqs notes``, src/note.rs):
        CRUD + the broadcast (mention, sentiment) scoring projection.
        Pass ``eng.notes_store().for_scoring()`` as ``search(notes=…)``."""
        from cqs_spark.index.notes import NotesStore

        return NotesStore(self.spark, self._path("notes"))

    def audit_mode(self):
        """Persisted audit flag (``cqs audit``, src/audit.rs): while
        active, notes are excluded from search ranking and from review's
        relevant-notes leg so fresh-eyes analysis is untainted."""
        from cqs_spark.index.audit import AuditMode

        return AuditMode(self.workdir)

    def review(
        self, repo: str, sha: str | None = None, max_depth: int = 3
    ) -> dict:
        """Comprehensive diff review (``cqs review``, src/review.rs
        review_diff): one payload composing the four analysis legs the
        reference assembles per diff —

        - ``changed_functions``: functions in the commit's touched files
          with their per-function risk rows (risk formula src/impact/
          hints.rs:180, reused from the CI gate),
        - ``affected_callers``: transitive reverse-BFS ancestors of the
          changed set with depth + direct flag (CallerDetail shape),
        - ``affected_tests``: which test functions reach each changed
          function (DiffTestInfo shape; (test, covered, n_covered)),
        - ``relevant_notes``: notes whose mentions match a changed file
          or changed function (ReviewNoteEntry: text, sentiment,
          matching_files) — EMPTY while audit mode is active,
        - ``risk_summary``: {high, medium, low, overall} fold,
        - ``stale_warning``: changed files whose index entry is stale.

        ``sha`` defaults to the repo's newest commit.  All legs are
        DataFrames over the shared chunk/edge tables; the only collected
        pieces are the |changed-functions|-row risk fold and the head-sha
        probe.  The depth-5 test-reachability BFS runs ONCE: its raw
        (test, node) pairs are checkpointed (the traversal hop caches
        belong to a one-traversal-at-a-time generation, and the callers
        leg's reverse_bfs below would evict them) and feed both the risk
        formula (via ``reach``) and the affected-tests leg.
        """
        from cqs_spark.operators.ci import risk_scores, test_seeds_from_chunks
        from cqs_spark.operators.gitops import affected_functions, git_log_df
        from cqs_spark.operators.graph import reverse_bfs, test_map

        warnings: list[str] = []  # non-fatal issues (ReviewResult.warnings)
        commits, changes = git_log_df(self.spark, repo)
        prefix = self._origin_prefix(repo)
        if sha is None:
            sha = self._head_sha(commits)
            if sha is None:
                raise ValueError(f"no commits found in {repo}")
        chunks, edges = self.chunks(), self.edges()

        changed = affected_functions(chunks, changes, sha, prefix).filter(
            F.col("name").isNotNull()
        )
        targets = changed.select(F.col("name").alias("node")).distinct()
        tseeds = test_seeds_from_chunks(chunks)
        pairs = stage(
            test_map(edges, tseeds, max_depth=5, return_pairs=True), eager=True
        )
        reach = pairs.groupBy("node").agg(
            F.countDistinct("test").alias("n_tests")
        )
        risk = stage(
            risk_scores(edges, targets, reach=reach),
            eager=True,  # consumed by the join below AND the counts fold
        )
        changed_functions = (
            changed.select("id", "name", "origin")
            .join(risk, changed["name"] == risk["node"])
            .drop("node")
            .orderBy(F.desc("score"), "name", "id")
        )

        callers = (
            reverse_bfs(edges, targets, max_depth)
            .filter(F.col("depth") >= 1)
            .select(
                "node", "depth", (F.col("depth") == 1).alias("direct")
            )
            .orderBy("depth", "node")
        )

        affected_tests = (
            pairs.join(F.broadcast(targets), "node")
            .groupBy("test")
            .agg(
                F.sort_array(F.collect_set("node")).alias("covered"),
                F.countDistinct("node").alias("n_covered"),
            )
            .orderBy(F.desc("n_covered"), "test")
        )

        touched_paths = (
            changes.filter(F.col("sha") == sha).select("path").distinct()
        )
        if self.audit_mode().is_active():
            relevant_notes = self.spark.createDataFrame(
                [],
                "text string, sentiment double, matching_files array<string>",
            )
        else:
            # A mention matches a changed file when the path ends with it,
            # or names a changed function outright (path_matches_mention,
            # src/note.rs) — notes are broadcast-small, paths per-commit
            # small, so the match join is a local-ish cross of two tiny
            # sides.
            mentions = self.notes_store().df().select(
                "id", "text", "sentiment", F.explode("mentions").alias("mention")
            )
            names = changed.select(
                F.col("name").alias("target")
            ).distinct()
            match_targets = touched_paths.select(
                F.col("path").alias("target")
            ).unionByName(names)
            hits = mentions.join(
                F.broadcast(match_targets),
                # Exact name hit, or path-suffix hit on a '/' boundary
                # ("graph.py" matches ".../graph.py" but the mention
                # "bfs" must NOT match the function "reverse_bfs").
                (F.col("target") == F.col("mention"))
                | F.col("target").endswith(
                    F.concat(F.lit("/"), F.col("mention"))
                ),
            )
            relevant_notes = (
                hits.groupBy("id", "text", "sentiment")
                .agg(F.sort_array(F.collect_set("target")).alias("matching_files"))
                .drop("id")
                .orderBy("text")
            )

        counts = {
            r["risk_level"]: r["n"]
            for r in risk.groupBy("risk_level")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        overall = (
            "high"
            if counts.get("high")
            else "medium"
            if counts.get("medium")
            else "low"
        )
        risk_summary = {
            "high": counts.get("high", 0),
            "medium": counts.get("medium", 0),
            "low": counts.get("low", 0),
            "overall": overall,
        }

        try:
            stale = self.stale(repo).filter(F.col("status") != "unchanged")
            stale_warning = stale.join(
                F.broadcast(touched_paths.select(
                    F.concat(
                        F.lit("file:"),
                        F.lit(os.path.abspath(repo) + "/"),
                        F.col("path"),
                    ).alias("origin")
                )),
                "origin",
            )
            # Materialize INSIDE the try: the plan above is lazy, so a
            # missing registry or a moved index root would otherwise
            # surface only when the caller collects — mid-way through
            # printing the payload.  The stale set is commit-sized;
            # eager checkpoint keeps the returned DF cheap to re-read.
            stale_warning = stage(stale_warning, eager=True)
        except (PySparkException, Py4JJavaError, OSError) as exc:
            # Narrow on the environmental failures (no registry table,
            # moved/deleted index root — these surface as Spark/JVM or
            # filesystem errors at the eager materialization above).  A
            # genuine Python-side logic bug in the reconcile composition
            # should crash loudly, not read as "legacy index".
            stale_warning = None
            warnings.append(
                f"staleness check unavailable: {type(exc).__name__}"
            )

        return {
            "sha": sha,
            "changed_functions": changed_functions,
            "affected_callers": callers,
            "affected_tests": affected_tests,
            "relevant_notes": relevant_notes,
            "risk_summary": risk_summary,
            "stale_warning": stale_warning,
            "warnings": warnings,
        }

    def deps(
        self, name: str, reverse: bool = False, include_common: bool = False
    ) -> DataFrame:
        """Type-dependency query (``cqs deps``): forward = who uses this
        type; ``reverse`` = what types this function references
        (src/cli/commands/graph/deps.rs).  Stdlib-common type names are
        filtered unless ``include_common`` (src/focused_read.rs)."""
        from cqs_spark.index.typegraph import type_users, types_used

        edges = self.type_edges()
        fn = types_used if reverse else type_users
        return fn(edges, name, include_common=include_common)

    @staticmethod
    def _origin_prefix(repo: str) -> str:
        """Anchored, escaped origin prefix — workdir paths with regex
        metachars must strip literally (same contract as Engine.diff's
        root handling)."""
        import re as _re

        return "^file:" + _re.escape(os.path.abspath(repo)) + "/"

    @staticmethod
    def _head_sha(commits: DataFrame) -> str | None:
        """The repo's newest commit (None when the log is empty).
        Callers with an explicit sha must NOT call this — it is a
        Spark collect they would pay for nothing."""
        head = commits.orderBy(F.desc("ts"), "sha").limit(1).collect()
        return head[0]["sha"] if head else None

    def ci(
        self, repo: str, sha: str | None = None, threshold: str = "medium"
    ) -> dict:
        """CI gate for one commit (``cqs ci``, src/ci.rs run_ci_analysis):
        changed functions → risk scores → gate verdict.  ``sha`` defaults
        to the repo's newest commit; the dead-code scan's health (the
        index exists and the edge table is readable) folds into the gate.
        """
        from cqs_spark.operators.ci import ci_report, evaluate_gate
        from cqs_spark.operators.gitops import git_log_df

        commits, changes = git_log_df(self.spark, repo)
        prefix = self._origin_prefix(repo)
        if sha is None:
            sha = self._head_sha(commits)
            if sha is None:
                empty = self.spark.createDataFrame(
                    [], "node string, caller_count long, test_count long, "
                    "test_ratio double, score double, risk_level string, "
                    "blast_radius string",
                )
                return {"risk": empty, "gate": evaluate_gate(empty, threshold)}
        # Dead-scan health = the index is present and the edge table is
        # readable; an unreadable edge table means risk rows silently
        # miss call-graph evidence, which the reference gate treats as a
        # hard failure rather than a green light.
        try:
            chunks, edges = self.chunks(), self.edges()
            chunks.head(1)
            edges.head(1)
            dead_scan_ok = True
        except Exception:
            empty = self.spark.createDataFrame(
                [], "node string, caller_count long, test_count long, "
                "test_ratio double, score double, risk_level string, "
                "blast_radius string",
            )
            return {
                "risk": empty,
                "gate": evaluate_gate(empty, threshold, dead_scan_ok=False),
            }
        return ci_report(
            chunks, edges, changes, sha, prefix, threshold,
            dead_scan_ok=dead_scan_ok,
        )

    # ----------------------------------------------------------------- search
    def search_by_name(self, name: str, k: int = 10) -> DataFrame:
        """FTS-by-name lookup (src/store/search.rs:177 search_by_name).

        Exact / contains / contained-by / word-overlap tiers on the
        ``name`` column (prefix hits land in the contains tier), ranked
        (tier desc, id) with the reference's 100-row cap.  Returns
        (id, origin, name, score); empty for unsanitizable queries.
        """
        from cqs_spark.functions.text import name_match_score, sanitize_fts_query

        k = min(k, 100)  # NAME_SEARCH_CAP (src/store/search.rs:183)
        if not sanitize_fts_query(name):
            return self.spark.createDataFrame(
                [], "id string, origin string, name string, score double"
            )
        cand = (
            self.chunks()
            .filter(F.col("name").isNotNull())
            .withColumn("score", name_match_score(F.col("name"), name))
            .filter(F.col("score") > 0)
        )
        return scoring.topk(cand, "score", "id", k).select(
            "id", "origin", "name", "score"
        )

    def search(
        self,
        query: str,
        k: int = 10,
        alpha: float | None = None,
        mmr_lambda: float | None = None,
        fusion: str = "alpha",
        name_boost: float = 0.3,
        notes: DataFrame | None = None,
        score_floor: float | None = None,
        provenance: bool = False,
        fts_first: bool = True,
        path_glob: str | None = None,
    ) -> DataFrame:
        """Hybrid search: dense cosine + keyword TF-IDF, α-fused, boosted.

        The full §3.1 ladder, in the reference's signal order
        (src/search/scoring/candidate.rs SCORE_SIGNALS slice):
        rule-classify the query (per-category α, type hints) → two legs
        → per-cohort min-max → α-fuse (absent leg → 0) → NAME BLEND
        (name-like queries only) → note boost (when a notes table is
        given) → test/private demotion → type boost → parent boost →
        parent dedup → threshold → top-k; optional MMR diversification
        on the collected pool.  Returns (id, origin, name, score)
        plus, when ``provenance=True``, a score-neutral ``signals``
        struct carrying per-leg ranks and every boost multiplier
        (src/search/query.rs:672-716, src/search/scoring/provenance.rs).
        """
        from cqs_spark.functions.text import is_name_like_query
        from cqs_spark.operators.router import classify_query, extract_type_hints

        if fts_first and not mmr_lambda and is_name_like_query(query):
            # NameOnly-FTS-first short-circuit (src/cli/commands/search/
            # query.rs:544): an identifier-looking query tries the exact
            # name lookup first; hybrid runs only when it comes up empty.
            # ONE action: take(k) collects the (<= k-row) hit set, and
            # the short-circuit result is rebuilt as a LocalRelation —
            # no second scan when the caller consumes it, and nothing
            # accretes in executor storage (a per-query cache() would
            # key a new never-unpersisted entry per query string).
            probe = self.search_by_name(query, k)
            rows = probe.take(k)
            if rows:
                by_name = self.spark.createDataFrame(rows, probe.schema)
                if provenance:
                    by_name = by_name.withColumn(
                        "signals",
                        F.struct(
                            F.lit(None).cast("long").alias("dense_rank"),
                            F.lit(None).cast("long").alias("sparse_rank"),
                            F.col("score").alias("name_score"),
                            F.lit(1.0).alias("note_mult"),
                            F.lit(1.0).alias("demotion_mult"),
                            F.lit(1.0).alias("type_mult"),
                            F.lit(1.0).alias("parent_mult"),
                        ),
                    )
                return by_name

        _, rule_alpha = classify_query(query)
        if alpha is None:
            alpha = rule_alpha
        type_hints = extract_type_hints(query)
        chunks = self.chunks()
        pool = max(k * 5, 50)  # candidate floor (src/limits.rs:315 shape)

        from cqs_spark.index.reuse import HAVE_ONNX

        if HAVE_ONNX:  # pragma: no cover - wheel absent in this container
            # Real-model path: query embeddings cost real inference, so
            # route through the persistent cache (src/cache/query_cache.rs).
            from cqs_spark.index.caches import QueryCache

            qv = QueryCache(
                self.spark, self._path("query_cache"), dim=self.dim
            ).embed(query)
        else:
            # The deterministic fake is instant; caching it would only
            # add a parquet read/write side effect to every search.
            qv = ri_embedding(query, self.dim)
        qlit = F.array(*[F.lit(float(x)) for x in qv])
        dense = (
            chunks.select(
                "id",
                (
                    dot(F.col("embedding").cast("array<double>"), qlit)
                    / F.nullif(
                        F.sqrt(dot("embedding", "embedding")), F.lit(0.0)
                    )
                ).alias("score"),
            )
            .orderBy(F.desc("score"), "id")
            .limit(pool)
        )
        sparse = keyword_search(
            self.postings(), query, n_chunks=self.n_chunks(), k=pool
        ).withColumnRenamed("chunk_id", "id")

        rank = F.row_number().over(
            Window.orderBy(F.desc("score"), "id")
        ).cast("long")
        if provenance:
            # Per-leg rank provenance: score-neutral extra columns
            # joined onto the fused pool (the reference records leg
            # ranks pre-fusion, src/search/query.rs:672-716).
            leg_ranks = (
                dense.withColumn("rank", rank)
                .select("id", F.col("rank").alias("_dense_rank"))
                .join(
                    sparse.withColumn("rank", rank)
                    .select("id", F.col("rank").alias("_sparse_rank")),
                    "id",
                    "full_outer",
                )
            )
        if fusion == "rrf":
            # Rank each leg, Σ 1/(60+rank) — enable_rrf mode
            # (src/search/query.rs:560-612).
            legs = [
                leg.withColumn("rank", rank).select("id", "rank")
                for leg in (dense, sparse)
            ]
            fused = scoring.rrf_fuse(legs).withColumnRenamed("rrf", "fused")
        else:
            fused = scoring.alpha_fuse(
                scoring.minmax_normalize(dense),
                scoring.minmax_normalize(sparse),
                alpha=alpha,
            )
        meta = chunks.select("id", "origin", "name", "parent_id", "chunk_type")
        cand = fused.join(meta, "id")
        rec = lambda s: s if provenance else None  # noqa: E731
        # Signal ladder, reference order: NameBlend → NoteBoost →
        # ImportanceDemotion → TypeBoost → ParentBoost → dedup →
        # ThresholdGate (multiplicative stages commute; name blend is
        # affine and must run first).
        cand = scoring.name_blend(
            cand, "fused", "name", query, name_boost=name_boost,
            record=rec("_name_score"),
        )
        if notes is not None and self.audit_mode().is_active():
            # Audit mode (src/audit.rs): fresh-eyes reviews exclude notes
            # so prior observations can't influence ranking — note_mult
            # stays 1.0 in provenance, visibly neutral.
            notes = None
        if notes is not None:
            cand = scoring.note_boost(
                cand, notes, "fused", "name", record=rec("_note_mult")
            )
        elif provenance:
            cand = cand.withColumn("_note_mult", F.lit(1.0))
        cand = scoring.importance_demotion(
            cand,
            "fused",
            is_test=F.col("origin").contains("/tests/")
            | F.col("name").startswith("test_"),
            is_private=F.col("name").startswith("_"),
            record=rec("_demotion_mult"),
        )
        if type_hints:
            cand = scoring.type_boost(
                cand, "fused", "chunk_type", type_hints, record=rec("_type_mult")
            )
        elif provenance:
            cand = cand.withColumn("_type_mult", F.lit(1.0))
        if path_glob is not None:
            # GlobGate (src/search/scoring/candidate.rs:445): hard-reject
            # candidates whose path misses the --path glob.  fnmatch →
            # regex keeps the predicate JVM-side.
            import fnmatch

            cand = cand.filter(
                F.col("origin").rlike("^" + fnmatch.translate(path_glob))
            )
        cand = cand.withColumn("_p", F.coalesce("parent_id", "id"))
        cand = scoring.parent_boost(
            cand, "_p", "fused", record=rec("_parent_mult")
        )
        cand = scoring.parent_dedup(cand, "_p", "fused", "id").drop("_p")
        if score_floor is not None:
            cand = scoring.threshold(cand, "fused", score_floor)
        out_cols = ["id", "origin", "name", F.col("fused").alias("score")]
        if provenance:
            cand = cand.join(leg_ranks, "id", "left")
            out_cols.append(
                F.struct(
                    F.col("_dense_rank").alias("dense_rank"),
                    F.col("_sparse_rank").alias("sparse_rank"),
                    F.col("_name_score").alias("name_score"),
                    F.col("_note_mult").alias("note_mult"),
                    F.col("_demotion_mult").alias("demotion_mult"),
                    F.col("_type_mult").alias("type_mult"),
                    F.col("_parent_mult").alias("parent_mult"),
                ).alias("signals")
            )
        out = scoring.topk(cand, "fused", "id", k).select(*out_cols)
        if mmr_lambda is not None:
            rows = [
                {
                    "id": r["id"],
                    "score": r["score"],
                    "file": r["origin"],
                    "name": r["name"],
                    "dir": r["origin"].rsplit("/", 1)[0],
                }
                for r in out.collect()
            ]
            picked = scoring.mmr_rerank(rows, k=k, lamb=mmr_lambda)
            return self.spark.createDataFrame(
                [(r["id"], r["file"], r["name"], r["score"]) for r in picked],
                "id string, origin string, name string, score double",
            )
        return out

    def search_multi(
        self, others: list[tuple["Engine", float]], query: str, k: int = 10, **kw
    ) -> DataFrame:
        """Multi-index search: this index ∪ reference indexes × weight.

        The reference-index overlay (src/reference.rs:299
        search_reference — project results ∪ reference results × 0.8):
        each extra index's scores scale by its weight, then one
        re-rank.  Collisions (same id in two indexes) keep the max
        weighted score.
        """
        legs = [self.search(query, k=k * 2, **kw)]
        for eng, weight in others:
            legs.append(
                eng.search(query, k=k * 2, **kw).withColumn(
                    "score", F.col("score") * weight
                )
            )
        u = legs[0]
        for leg in legs[1:]:
            u = u.unionByName(leg)
        return (
            u.groupBy("id", "origin", "name")
            .agg(F.max("score").alias("score"))
            .orderBy(F.desc("score"), "id")
            .limit(k)
        )

    # ------------------------------------------------------------------ graph
    def callers(self, name: str) -> DataFrame:
        return (
            self.edges()
            .filter(F.col("dst") == name)
            .select(F.col("src").alias("caller"))
            .orderBy("caller")
        )

    def callees(self, name: str) -> DataFrame:
        return (
            self.edges()
            .filter(F.col("src") == name)
            .select(F.col("dst").alias("callee"))
            .orderBy("callee")
        )

    def impact(self, name: str, max_depth: int = 3) -> DataFrame:
        seeds = self.spark.createDataFrame([(name,)], ["node"])
        return graph.impact(self.edges(), seeds, max_depth=max_depth).orderBy(
            "depth", "node"
        )

    def dead_code(self) -> DataFrame:
        return graph.dead_code(self.edges()).orderBy("node")

    def related(self, name: str, k: int = 10) -> DataFrame:
        pairs = graph.related_by_caller(self.edges(), min_shared=1)
        mine = pairs.filter((F.col("a") == name) | (F.col("b") == name))
        other = F.when(F.col("a") == name, F.col("b")).otherwise(F.col("a"))
        return (
            mine.select(other.alias("related"), "shared")
            .orderBy(F.desc("shared"), "related")
            .limit(k)
        )

    def gather(self, query: str, k: int = 20, hops: int = 2) -> DataFrame:
        """Seed search → call-graph expansion with decay → reading order."""
        seeds = (
            self.search(query, k=k)
            .select(F.col("name").alias("node"), "score")
            .filter(F.col("node").isNotNull())
        )
        expanded = graph.gather_scores(self.edges(), seeds, max_depth=hops)
        meta = self.chunks().select(
            F.col("name").alias("node"), "origin", "line_start"
        )
        return (
            expanded.join(meta, "node")
            .orderBy("origin", "line_start", "node")
            .select("origin", "line_start", "node", "score")
        )

    @staticmethod
    def _placement(hits: DataFrame, k: int) -> DataFrame:
        """Placement formula over an existing hits DF: files ranked by
        summed similarity (src/where_to_add.rs:92 suggest_placement).
        Shared by where_to_add and task so the formula can't drift."""
        return (
            hits.groupBy("origin")
            .agg(F.sum("score").alias("fit"), F.count(F.lit(1)).alias("n_hits"))
            .orderBy(F.desc("fit"), "origin")
            .limit(k)
        )

    def where_to_add(self, query: str, k: int = 5, **search_kw) -> DataFrame:
        """Placement suggestion (src/where_to_add.rs:92)."""
        return self._placement(self.search(query, k=k * 5, **search_kw), k)

    def scout(self, query: str, k: int = 10, **search_kw) -> DataFrame:
        """Dashboard row per hit file: hits + caller/test exposure
        (src/scout.rs:129 composition)."""
        hits = self.search(query, k=k, **search_kw)
        indeg = (
            self.edges()
            .groupBy(F.col("dst").alias("name"))
            .agg(F.countDistinct("src").alias("n_callers"))
        )
        return (
            hits.join(indeg, "name", "left")
            .select(
                "origin",
                "name",
                "score",
                F.coalesce("n_callers", F.lit(0)).alias("n_callers"),
            )
            .orderBy(F.desc("score"), "origin", "name")
        )

    def plan(self, query: str, k: int = 10, **search_kw) -> dict:
        """Implementation plan (``cqs plan``, src/plan.rs:378): classify
        the task description into one of the 11 task-type templates by
        additive keyword score, run scout for the relevant code, and
        return template checklist + patterns + the scout DataFrame."""
        from cqs_spark.operators.taskplan import classify_task, get_template

        tmpl = get_template(classify_task(query))
        return {
            "template": tmpl.name,
            "template_description": tmpl.description,
            "checklist": list(tmpl.checklist),
            "patterns": list(tmpl.patterns),
            "scout": self.scout(query, k=k, **search_kw),
        }

    def task(
        self,
        query: str,
        limit: int = 10,
        gather_depth: int = 2,
        min_gap_ratio: float = 0.10,
    ) -> dict:
        """One-shot implementation context (``cqs task``, src/task.rs):
        scout → gather → impact → placement → notes in a single payload,
        loading shared state once —

        - ONE search serves both the scout pool (top ``limit``) and the
          placement leg (the reference reuses the query embedding across
          phases, src/task.rs:178);
        - ONE depth-5 test-reachability BFS feeds both the scout pool's
          per-hit test counts and the impact risk formula via ``reach=``
          (src/task.rs:216: "computing it twice doubles the largest cost
          in the command"); its raw pairs are checkpointed because the
          gather traversal below would evict the hop caches;
        - roles come from largest-relative-gap detection over the
          bounded pool (src/scout.rs:437), driver-side like MMR;
        - gather expands the modify targets BOTH directions with decay,
          capped at ``limit``·3 rows (src/task.rs:268 GatherDirection::
          Both, TASK_GATHER_LIMIT_MULTIPLIER);
        - impact reuses ci.risk_scores; affected tests are the review
          leg's (test, covered, n_covered) shape;
        - notes are mention-matched against hit files + target names,
          EMPTY while audit mode is active.

        Returns {description, scout, code, risk, tests, placement,
        notes, summary}.
        """
        from cqs_spark.operators import taskplan
        from cqs_spark.operators.ci import (
            risk_scores,
            test_seeds_from_chunks,
        )
        from cqs_spark.operators.graph import gather_scores, test_map

        chunks, edges = self.chunks(), self.edges()

        tseeds = test_seeds_from_chunks(chunks)
        pairs = stage(
            test_map(edges, tseeds, max_depth=5, return_pairs=True), eager=True
        )
        reach = pairs.groupBy("node").agg(
            F.countDistinct("test").alias("n_tests")
        )

        hits = stage(self.search(query, k=limit * 5), eager=True)
        pool = hits.limit(limit)

        indeg = (
            edges.groupBy(F.col("dst").alias("name"))
            .agg(F.countDistinct("src").alias("n_callers"))
        )
        pool_rows = (
            pool.join(indeg, "name", "left")
            .join(reach.withColumnRenamed("node", "name"), "name", "left")
            .select(
                "origin",
                "name",
                "score",
                F.coalesce("n_callers", F.lit(0)).alias("n_callers"),
                F.coalesce("n_tests", F.lit(0)).alias("n_tests"),
            )
            .orderBy(F.desc("score"), "origin", "name")
            .collect()
        )
        threshold = taskplan.modify_threshold(
            [
                r["score"]
                for r in pool_rows
                if not taskplan.is_test_chunk(r["name"], r["origin"])
            ],
            min_gap_ratio,
        )
        scout_rows = [
            (
                r["origin"],
                r["name"],
                float(r["score"]),
                int(r["n_callers"]),
                int(r["n_tests"]),
                taskplan.classify_role(
                    r["score"], r["name"], r["origin"], threshold
                ),
            )
            for r in pool_rows
        ]
        scout_df = self.spark.createDataFrame(
            scout_rows,
            "origin string, name string, score double, n_callers long, "
            "n_tests long, role string",
        )
        targets = [r[1] for r in scout_rows if r[5] == "modify_target"]
        targets_df = self.spark.createDataFrame(
            [(n,) for n in targets], "node string"
        )

        if targets:
            both = edges.select("src", "dst").unionByName(
                edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            seeds = targets_df.withColumn("score", F.lit(1.0))
            meta = chunks.select(
                F.col("name").alias("node"),
                "origin",
                "line_start",
                "line_end",
                "signature",
            )
            code = (
                gather_scores(
                    both, seeds, max_depth=gather_depth, limit=limit * 3
                )
                .join(meta, "node")
                .orderBy(
                    F.desc("score"), "node", "origin", "line_start"
                )
                .limit(limit * 3)
                .select(
                    "node", "origin", "line_start", "line_end",
                    "signature", "score",
                )
            )
            # Checkpoint both: the summary counts below AND the
            # caller's section collect consume them — without this each
            # leg would compute twice (the exact double-work this verb
            # exists to avoid).  Both are bounded: |targets| risk rows,
            # |covering tests| test rows.
            risk = stage(risk_scores(edges, targets_df, reach=reach), eager=True)
            tests = stage(
                pairs.join(F.broadcast(targets_df), "node")
                .groupBy("test")
                .agg(
                    F.sort_array(F.collect_set("node")).alias("covered"),
                    F.countDistinct("node").alias("n_covered"),
                )
                .orderBy(F.desc("n_covered"), "test"),
                eager=True,
            )
        else:
            code = self.spark.createDataFrame(
                [],
                "node string, origin string, line_start long, "
                "line_end long, signature string, score double",
            )
            risk = risk_scores(edges, targets_df, reach=reach).limit(0)
            tests = self.spark.createDataFrame(
                [], "test string, covered array<string>, n_covered long"
            )

        placement = self._placement(hits, 3)

        if self.audit_mode().is_active():
            notes = self.spark.createDataFrame(
                [],
                "text string, sentiment double, matching_files array<string>",
            )
        else:
            from cqs_spark.index.notes import mention_match

            match_targets = scout_df.select(
                F.col("origin").alias("target")
            ).unionByName(
                targets_df.select(F.col("node").alias("target"))
            )
            notes = mention_match(self.notes_store().df(), match_targets)

        high_risk = (
            risk.filter(F.col("risk_level") == "high").count()
            if targets
            else 0
        )
        summary = {
            "total_files": len({r[0] for r in scout_rows}),
            "total_functions": len(scout_rows),
            "modify_targets": len(targets),
            "high_risk_count": high_risk,
            "test_count": tests.count() if targets else 0,
        }
        return {
            "description": query,
            "scout": scout_df,
            "code": code,
            "risk": risk,
            "tests": tests,
            "placement": placement,
            "notes": notes,
            "summary": summary,
        }

    def document(self, limit: int = 20) -> DataFrame:
        """Batch doc writer (``cqs doc``, src/doc_writer/): draft doc
        comments for the top undocumented functions (caller-count
        ranked) and return proposed per-file rewrites (origin,
        new_content, applied) — no file is touched; the CLI's --write
        applies them (write_proposed_patch's no-IO contract)."""
        from cqs_spark.operators.docwriter import (
            generate_docs,
            propose_patches,
        )

        edits = stage(
            generate_docs(self.chunks(), self.edges(), limit=limit), eager=True
        )
        origins = [
            r["origin"] for r in edits.select("origin").distinct().collect()
        ]
        if not origins:
            return self.spark.createDataFrame(
                [], "origin string, new_content string, applied long"
            )
        files = (
            self.spark.read.format("binaryFile")
            .load(origins)
            .select(
                F.col("path").alias("origin"),
                F.col("content").cast("string").alias("content"),
            )
        )
        return propose_patches(files, edits).orderBy("origin")

    def stats(self) -> DataFrame:
        from cqs_spark.operators.structural import index_stats

        return index_stats(self.chunks()).orderBy("language", "chunk_type")

    def explain_symbol(self, name: str) -> dict:
        """Symbol dashboard (src/cli/commands/graph/explain.rs shape):
        the chunk row + caller/callee lists + impact size."""
        chunk = (
            self.chunks()
            .filter(F.col("name") == name)
            .select("id", "origin", "chunk_type", "signature", "doc", "line_start")
            .orderBy("id")
            .limit(1)
            .collect()
        )
        return {
            "chunk": chunk[0].asDict() if chunk else None,
            "callers": [r["caller"] for r in self.callers(name).collect()],
            "callees": [r["callee"] for r in self.callees(name).collect()],
            "impact_size": self.impact(name, max_depth=3).count(),
        }

    def onboard(self, top: int = 10) -> dict[str, DataFrame]:
        """Repo orientation (src/onboard.rs:148 shape): biggest files,
        hotspots, entry docs.  Legs live in structural.onboard_frames
        (oracle-gated q130); the docs cut is now name-tie-broken so the
        top-N is deterministic."""
        from cqs_spark.operators.structural import onboard_frames

        return onboard_frames(self.chunks(), self.edges(), top)

    def suggest(self) -> DataFrame:
        """Pattern-mined suggestions (src/suggest.rs:37 shape):
        dead clusters (files with >=3 dead functions) and untested
        hotspots (high fan-in, no test caller)."""
        from cqs_spark.operators.graph import dead_code
        from cqs_spark.operators.structural import hotspots

        dead = dead_code(self.edges())
        names = self.chunks().select(
            F.col("name").alias("node"), "origin"
        ).distinct()
        clusters = (
            dead.join(names, "node")
            .groupBy("origin")
            .agg(F.count(F.lit(1)).alias("n_dead"))
            .filter(F.col("n_dead") >= 3)
            .select(
                F.lit("dead_cluster").alias("kind"),
                F.col("origin").alias("subject"),
                F.col("n_dead").cast("long").alias("weight"),
            )
        )
        test_callers = self.edges().filter(
            F.col("src").startswith("test_")
        ).select(F.col("dst").alias("node")).distinct()
        untested = (
            hotspots(self.edges(), top_n=50)
            .join(test_callers, "node", "left_anti")
            .select(
                F.lit("untested_hotspot").alias("kind"),
                F.col("node").alias("subject"),
                F.col("n_callers").cast("long").alias("weight"),
            )
        )
        return clusters.unionByName(untested).orderBy(
            F.desc("weight"), "kind", "subject"
        )

    def health(self) -> dict[str, DataFrame]:
        from cqs_spark.operators.structural import health_report

        return health_report(self.chunks(), self.edges())

    def _meta(self) -> dict:
        import json

        try:
            with open(os.path.join(self.workdir, "meta.json")) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return {}

    def stale(self, root: str | None = None, glob: str | None = None) -> DataFrame:
        """Reconcile the tree against the index-time file registry:
        (origin, status ∈ new|changed|deleted|unchanged) — the
        reference's watch-reconcile pass as a one-shot (cqs stale)."""
        from cqs_spark.index.incremental import reconcile
        from cqs_spark.index.ingest import registry_of

        meta = self._meta()
        root = root or meta.get("root")
        glob = glob or meta.get("glob", "*.{py,md}")
        listing = registry_of(list_files(self.spark, root, glob))
        registry = self.spark.read.parquet(self._path("registry"))
        return reconcile(listing, registry)

    def refresh(self, root: str | None = None, glob: str | None = None) -> dict:
        """Incremental re-index: reparse only new/changed origins, drop
        deleted ones, rebuild the derived tables (cqs refresh / the
        watch daemon's reconcile-and-upsert cycle).

        Cost model:
        - ONE fingerprint pass over the tree: the listing's
          (origin, mtime, size, content hash) rows are written once to
          ``registry.new``, and the reconcile against the stored
          registry reads that file.  ``registry.new`` replaces the
          registry last, only when something changed.
        - ONE action collects the new, changed and deleted origins (a
          set the size of the change, not of the tree).  The parse set
          is a ``path IN (...)`` filter pushed into the binaryFile
          scan, so only the changed files are parsed and embedded, each
          once; the embed stage sees only their chunks plus the
          canonical-hash cache.  (binaryFile still reads the bytes of
          every listed file before that filter drops them.)
        - The derived tables and the new cache rows are rebuilt from
          the written ``chunks`` table, never by re-running parse or
          embed.
        An unchanged corpus costs the fingerprint pass and the reconcile.
        """
        import json
        import shutil

        from cqs_spark.index.incremental import reconcile
        from cqs_spark.index.ingest import registry_of
        from cqs_spark.index.typegraph import type_edges

        meta = self._meta()
        root = root or meta.get("root")
        glob = glob or meta.get("glob", "*.{py,md}")
        from cqs_spark.index.models import ModelConfig

        active_fp = ModelConfig.ri(self.dim).fingerprint()
        if meta.get("model_fingerprint") != active_fp:
            # Encoder generation changed since the index was built (or
            # the index predates fingerprint recording, so its
            # generation is unknown): an incremental merge would carry
            # old-generation vectors through verbatim while queries
            # embed with the new encoder — silently skewed cosines
            # between refreshed and carried-over chunks.  Rebuild the
            # whole index instead.  A fingerprint-keyed cache misses
            # for the new generation on its own, but a LEGACY cache
            # (no fingerprint column) would be treated as the active
            # model's and serve every old vector back — drop it first.
            cache_path = self._cache_path()
            if os.path.exists(cache_path):
                legacy = (
                    "fingerprint"
                    not in self.spark.read.parquet(cache_path).columns
                )
                if legacy:
                    shutil.rmtree(cache_path, ignore_errors=True)
            old_n = meta.get("n_chunks", 0)
            self.index(root, glob)
            return {
                "reparsed": self.n_chunks(),
                "deleted": old_n,
                "full_reembed": True,
                "n_chunks": self.n_chunks(),
            }
        files = list_files(self.spark, root, glob)
        reg_new = self._path("registry") + ".new"
        registry_of(files).write.mode("overwrite").parquet(reg_new)
        status = {"new": [], "changed": [], "deleted": []}
        for r in (
            reconcile(
                self.spark.read.parquet(reg_new),
                self.spark.read.parquet(self._path("registry")),
            )
            .filter(F.col("status") != "unchanged")
            .collect()
        ):
            status[r["status"]].append(r["origin"])
        reparsed = status["new"] + status["changed"]
        gone = reparsed + status["deleted"]
        report = {"reparsed": len(reparsed), "deleted": len(status["deleted"])}
        if not gone:
            shutil.rmtree(reg_new, ignore_errors=True)
            return report
        fresh = build_chunks(files.filter(F.col("path").isin(reparsed)))
        cache = None
        if os.path.exists(self._cache_path()):
            cache = self.spark.read.parquet(self._cache_path())
        embedded, _ = embed_with_cache(fresh, cache, dim=self.dim)
        merged = self.chunks().filter(~F.col("origin").isin(gone)).unionByName(
            embedded
        )
        # The merged plan READS the live chunks table, so an in-place
        # overwrite would truncate its own input mid-scan.  Path layout:
        # write-then-swap.  Bucketed layout: break the self-read with an
        # eager checkpoint, then overwrite the metastore table
        # (saveAsTable refuses a live self-read).
        if self.layout == "bucketed":
            self._write_table(stage(merged, eager=True), "chunks")
        else:
            tmp = self._path("chunks") + ".new"
            merged.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(self._path("chunks"), ignore_errors=True)
            shutil.move(tmp, self._path("chunks"))
        chunks_t = self.chunks()
        self._write_table(build_postings(chunks_t), "postings")
        self._write_table(call_edges_from_chunks(chunks_t), "edges")
        self._write_table(type_edges(chunks_t), "type_edges")
        new_cache_rows(
            chunks_t.filter(F.col("origin").isin(reparsed)), cache, dim=self.dim
        ).write.mode("append" if cache is not None else "overwrite").parquet(
            self._cache_path()
        )
        shutil.rmtree(self._path("registry"), ignore_errors=True)
        shutil.move(reg_new, self._path("registry"))
        n_chunks = chunks_t.count()
        with open(os.path.join(self.workdir, "meta.json"), "w") as fh:
            json.dump(
                {
                    "root": os.path.abspath(root),
                    "glob": glob,
                    "n_chunks": n_chunks,
                    "model_fingerprint": active_fp,
                    "dim": self.dim,
                },
                fh,
            )
        self._n_chunks_cached = n_chunks
        report["n_chunks"] = n_chunks
        return report

    def trace(self, src: str, dst: str, max_depth: int = 6) -> list | None:
        """Shortest call path src→dst (cqs trace,
        src/cli/commands/graph/trace.rs)."""
        return graph.trace(self.edges(), src, dst, max_depth=max_depth)

    def test_map(self, max_depth: int = 2) -> DataFrame:
        """Per-function count of reaching tests (cqs test-map,
        src/impact/test_map.rs): seeds are test_* functions."""
        seeds = (
            self.chunks()
            .filter(F.col("name").startswith("test_"))
            .select(F.col("name").alias("test"))
            .distinct()
        )
        return graph.test_map(self.edges(), seeds, max_depth=max_depth).orderBy(
            F.desc("n_tests"), "node"
        )

    def blame(self, repo: str, max_commits: int = 1000) -> DataFrame:
        """Per-chunk commit exposure from git history (cqs blame)."""
        from cqs_spark.operators.gitops import blame_functions, git_log_df

        commits, changes = git_log_df(self.spark, repo, max_commits)
        prefix = self._origin_prefix(repo)
        return blame_functions(self.chunks(), commits, changes, prefix).orderBy(
            F.desc("n_commits"), "id"
        )

    def affected(self, repo: str, sha: str) -> DataFrame:
        """Chunks touched by one commit (cqs affected)."""
        from cqs_spark.operators.gitops import affected_functions, git_log_df

        _, changes = git_log_df(self.spark, repo)
        prefix = self._origin_prefix(repo)
        return affected_functions(self.chunks(), changes, sha, prefix).orderBy("id")

    def reconstruct(self, origin_suffix: str) -> str:
        """Reassemble a file's text from its top-level chunk tiling
        (cqs reconstruct): module/def/class chunks ordered by span;
        nested chunks (parent_type_name set) are views into their
        parents and are skipped.  Blank-line runs between chunks
        normalize to one separator — span-faithful, byte-approximate.
        """
        rows = (
            self.chunks()
            .filter(F.col("origin").endswith(origin_suffix))
            .filter(F.col("parent_type_name").isNull())
            .select("line_start", "content")
            .orderBy("line_start")
            .collect()
        )
        return "\n\n".join(r["content"] for r in rows)

    def reconstruct_envelope(self, origin_suffix: str) -> dict:
        """Full-file read RELAY envelope (`cqs reconstruct` / the
        reference's full-file `cqs read`): the reassembled text plus
        ``injection_flags`` computed over EXACTLY the relayed bytes —
        the v1.51 `scan == relayed` contract (CHANGELOG §1.51
        Security gap 3: the full-file path emitted content verbatim
        with no scan while the focus path scanned).  Skip-when-default:
        the key is present only when a detector fired, matching the
        reference's serde envelope shape."""
        from cqs_spark.operators.textops import injection_flags_expr

        text = self.reconstruct(origin_suffix)
        # same JVM pattern objects as the corpus gate — one-row scan
        flags = (
            self.spark.createDataFrame([(text,)], "content string")
            .select(injection_flags_expr("content").alias("f"))
            .collect()[0]["f"]
        )
        env = {"text": text}
        if flags:
            env["injection_flags"] = list(flags)
        return env

    def gc(self) -> dict:
        """Vacuum the embedding cache: drop rows whose canonical hash no
        longer appears in any chunks table the cache serves (cqs gc).
        Orphans accrete as files churn — every refresh appends fresh
        rows but never deletes.

        The cache is CROSS-SLOT (_cache_path), so liveness is the union
        of canonical hashes across EVERY slot under the workdir root —
        gc run from one slot must never drop a hash another slot's
        index still serves."""
        import glob as _glob
        import shutil

        from cqs_spark.index.slots import shared_root

        path = self._cache_path()
        if not os.path.exists(path):
            return {"cache_rows": 0, "dropped": 0}
        cache = self.spark.read.parquet(path)
        before = cache.count()
        live = self.chunks().select("canonical_hash").distinct()
        root = shared_root(self.workdir)
        if root:
            siblings = [
                p
                for p in _glob.glob(
                    os.path.join(root, "slots", "*", "chunks.parquet")
                )
                if os.path.abspath(p) != os.path.abspath(self._path("chunks"))
            ]
            for p in siblings:
                live = live.unionByName(
                    self.spark.read.parquet(p)
                    .select("canonical_hash")
                    .distinct()
                )
            live = live.distinct()
        kept = cache.join(F.broadcast(live), "canonical_hash", "left_semi")
        kept.write.mode("overwrite").parquet(path + ".new")
        shutil.rmtree(path, ignore_errors=True)
        shutil.move(path + ".new", path)
        after = self.spark.read.parquet(path).count()
        return {"cache_rows": after, "dropped": before - after}

    def read_chunk(self, chunk_id: str) -> DataFrame:
        """Chunk row by id (cqs read): content + location columns,
        plus ``injection_flags`` over exactly the relayed content —
        the reference's `scan == relayed` contract (CHANGELOG §1.51
        Security: the full-file read path relayed bytes unscanned;
        src/llm/validation.rs:152): every surface that emits chunk
        text carries the fired detector names (empty array = clean,
        the skip-when-default shape)."""
        from cqs_spark.operators.textops import injection_flags_expr

        return self.chunks().filter(F.col("id") == chunk_id).select(
            "id", "origin", "name", "chunk_type", "signature",
            "line_start", "line_end", "content",
            injection_flags_expr("content").alias("injection_flags"),
        )

    def neighbors(self, chunk_id: str, k: int = 10) -> DataFrame:
        """Chunks most similar to an existing chunk (cqs neighbors /
        similar): re-embed the chunk's content as the probe and exclude
        the chunk itself."""
        row = (
            self.chunks().filter(F.col("id") == chunk_id)
            .select("content").limit(1).collect()
        )
        if not row:
            return self.spark.createDataFrame([], "id string, score double")
        return self.search(row[0]["content"][:2000], k=k + 1).filter(
            F.col("id") != chunk_id
        ).limit(k)

    def diff(self, other: "Engine", k_drift: int = 50) -> dict[str, DataFrame]:
        """Semantic diff against another index snapshot (cqs diff shape).

        Identity = (origin, name) — chunk ids embed line numbers and
        churn on unrelated edits; name-level identity matches the
        reference's cross-snapshot matching.  Returns the
        added/removed/unchanged/modified classification plus the
        drift ranking of modified chunks by embedding distance.
        """
        import json

        from cqs_spark.operators.snapshots import detect_drift, semantic_diff

        keys = ["rel_origin", "name"]

        def _root(eng: "Engine") -> str:
            with open(os.path.join(eng.workdir, "meta.json")) as fh:
                return json.load(fh)["root"]

        def one_per_key(df: DataFrame, root: str) -> DataFrame:
            # Snapshots index different tree copies: compare on the
            # ROOT-RELATIVE path (recorded at index time).  Windowed /
            # overloaded chunks share a key; keep the earliest id so
            # the diff join stays 1:1 and deterministic.  Prefix-strip
            # with startswith/substring, not a regex built from the raw
            # root — paths with regex metachars ('+', '(', '[') must work.
            prefix = "file:" + root
            stripped = F.substring(
                F.col("origin"), len(prefix) + 1, 2_000_000_000
            )
            rel = F.when(
                F.col("origin").startswith(prefix),
                F.regexp_replace(stripped, r"^/", ""),
            ).otherwise(F.col("origin"))
            w = Window.partitionBy(*keys).orderBy("id")
            return (
                df.filter(F.col("name").isNotNull())
                .withColumn("rel_origin", rel)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )

        mine = one_per_key(self.chunks(), _root(self))
        theirs = one_per_key(other.chunks(), _root(other))
        d = semantic_diff(
            mine, theirs, keys, content_col="content_hash", vec_col="embedding"
        )
        drift = detect_drift(
            mine, theirs, keys, vec_col="embedding",
            content_col="content_hash", k=k_drift,
        )
        return {"diff": d, "drift": drift}
