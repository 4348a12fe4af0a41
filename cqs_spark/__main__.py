"""One-shot CLI: ``python -m cqs_spark <command> ...``.

Batch-mode parity with the reference's CLI surface
(src/cli/definitions.rs): index a tree once, then run search and graph
commands against the saved index.  Results print as JSON lines (the
reference's --format json envelope shape).

No daemon/socket layer — Spark session startup replaces the warm-
daemon path, which is explicitly out of scope (SURVEY.md §0).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _engine(args):
    from cqs_spark.engine import Engine
    from cqs_spark.session import get_spark

    spark = get_spark(app_name=f"cqs_spark-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    # Slot resolution (flag > CQS_SLOT > active_slot pointer > flat):
    # every index-consuming verb transparently reads the active slot's
    # tables; `slot` itself manages the root workdir and resolves
    # per-action instead.
    from cqs_spark.index.slots import resolve_workdir

    wd = args.workdir
    if args.cmd != "slot":
        wd = resolve_workdir(args.workdir, getattr(args, "slot", None))
    return Engine(spark, wd)


def _stream_table(spark, path):
    """The table a stream drain wrote at ``path``, or None: a drain
    whose batches were all empty (or an empty arrivals dir) never
    creates it."""
    from cqs_spark.streaming.maintain import _fs_exists

    return spark.read.parquet(path) if _fs_exists(spark, path) else None


def _drift_summary(spark, stats_dir, source_col=None, sources=False) -> dict:
    """The summary of a drift monitor's stats table: batch count,
    drifted batch ids and the last row.  ``sources`` adds the
    ``drift_sources`` key (None unless the stats carry ``source_col``
    rows)."""
    stats = _stream_table(spark, stats_dir)
    if stats is None:
        return {"batches": 0, "drift_batches": []}
    rows = stats.orderBy(
        *(["batch_id", "source"] if source_col else ["batch_id"])
    ).collect()
    out = {
        "batches": len({int(r["batch_id"]) for r in rows}),
        "drift_batches": sorted(
            {int(r["batch_id"]) for r in rows if r["any_drift"]}
        ),
    }
    if sources:
        out["drift_sources"] = sorted(
            {r["source"] for r in rows if r["any_drift"]}
        ) if source_col else None
    out["last"] = {
        k: (round(v, 4) if isinstance(v, float) else v)
        for k, v in rows[-1].asDict().items()
        if k not in ("run", "batch")
    }
    return out


def _ladder_opts(s) -> None:
    """The curation-ladder options of ``curate`` and ``curate-stream
    --ladder``; :func:`_ladder_kwargs` turns them into the keyword
    arguments both ``curate`` and ``curate_arrivals`` take."""
    s.add_argument("--langs", default="en", help="comma-separated keep list")
    s.add_argument("--min-quality", type=float, default=0.3)
    s.add_argument("--min-lang-confidence", type=float, default=0.0,
                   help="reject docs whose predicted language holds less "
                   "than this share of the stopword evidence (q142 score)")
    s.add_argument("--exactsubstr", choices=["passage", "sentence"],
                   default=None,
                   help="strip duplicate spans (passage) or sentences: "
                   "cross-doc after near dedup, or (curate-stream) "
                   "already seen in prior survivors")
    s.add_argument("--no-pii-scrub", action="store_true")
    s.add_argument("--flag-injection", action="store_true",
                   help="also cut docs carrying a line-leading prompt-"
                   "injection directive (q163 leading_directive)")


def _ladder_kwargs(args) -> dict:
    return dict(
        keep_langs=tuple(l for l in args.langs.split(",") if l),
        min_quality=args.min_quality,
        min_lang_confidence=args.min_lang_confidence,
        exactsubstr=args.exactsubstr,
        scrub_pii=not args.no_pii_scrub,
        flag_injection=args.flag_injection,
    )


def _media_opts(s) -> None:
    """The fingerprint options of ``media-dedup`` and ``media-stream``."""
    s.add_argument("--kind",
                   choices=["image", "audio", "video", "audio_windowed"],
                   default="image")
    s.add_argument("--max-hamming", type=int, default=2,
                   help="hamming radius for image/audio fingerprints")
    s.add_argument("--min-shared", type=int, default=3,
                   help="shared distinct hashes for video/audio_windowed")
    s.add_argument("--window", type=int, default=1024,
                   help="samples per sub-fingerprint window "
                   "(--kind audio_windowed)")


def _monitor_opts(s) -> None:
    """The stats/checkpoint arguments of ``monitor-stream`` and
    ``media-monitor`` (after their ``arrivals`` positional)."""
    s.add_argument("stats_dir", help="staged per-batch profile/flag table")
    s.add_argument("checkpoint", help="stream checkpoint directory")
    s.add_argument("--z-threshold", type=float, default=3.0)
    s.add_argument("--min-history", type=int, default=3)


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="cqs_spark")
    p.add_argument("--workdir", default=".cqs_spark_index", help="index table directory")
    p.add_argument(
        "--slot",
        default=None,
        help="named index slot to read (default: $CQS_SLOT, then the "
        "active_slot pointer, then the flat workdir)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("index", help="build the index tables from a source tree")
    s.add_argument("root")
    s.add_argument("--glob", default="*.{py,md}")

    s = sub.add_parser("search", help="hybrid search")
    s.add_argument("query")
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--alpha", type=float, default=None)
    s.add_argument("--mmr", type=float, default=None)

    for name in ("callers", "callees", "impact", "related"):
        s = sub.add_parser(name)
        s.add_argument("name")
    sub.add_parser("dead-code")
    sub.add_parser("stats")
    s = sub.add_parser("gather")
    s.add_argument("query")
    s = sub.add_parser("where-to-add")
    s.add_argument("query")
    s = sub.add_parser("scout")
    s.add_argument("query")
    s = sub.add_parser("eval")
    s.add_argument("--queries", type=int, default=20)
    s.add_argument("--alpha", type=float, default=None)
    s = sub.add_parser("diff", help="semantic diff against another index workdir")
    s.add_argument("other_workdir")
    s = sub.add_parser("notes", help="developer notes (add/list/search/rm)")
    s.add_argument("action", choices=["add", "list", "search", "rm", "stale"])
    s.add_argument("value", nargs="?", help="text (add) / term (search) / id (rm)")
    s.add_argument("--sentiment", type=float, default=0.0)
    s.add_argument("--mentions", default="", help="comma-separated mention list")
    s.add_argument("--kind", default=None)
    s = sub.add_parser("ci", help="risk-gate a repo's head commit")
    s.add_argument("repo")
    s.add_argument("--sha", default=None)
    s.add_argument("--threshold", default="medium", choices=["high", "medium", "off"])
    s = sub.add_parser("deps", help="type users (or --reverse: types used)")
    s.add_argument("name")
    s.add_argument("--reverse", action="store_true")
    s.add_argument(
        "--include-common", action="store_true",
        help="keep stdlib-common type names (String, Vec, ...) in results",
    )
    s = sub.add_parser("review", help="comprehensive diff review for one commit")
    s.add_argument("repo")
    s.add_argument("--sha", default=None)
    s.add_argument("--depth", type=int, default=3)
    s = sub.add_parser("audit", help="audit mode: exclude notes from search")
    s.add_argument("action", choices=["on", "off", "status"])
    s.add_argument("--hours", type=float, default=None)
    s = sub.add_parser(
        "curate",
        help="run the training-data curation ladder on a documents parquet",
    )
    s.add_argument("input", help="parquet with (doc_id, text, ...) columns")
    s.add_argument("output", help="directory for the curated parquet")
    _ladder_opts(s)
    s.add_argument("--near-dup-threshold", type=float, default=0.8)
    s.add_argument("--split", action="store_true",
                   help="append a deterministic 80/10/10 train/val/test column")
    s = sub.add_parser(
        "release-audit",
        help="dataset release audit: dedup/pii/injection/decontamination/"
        "split/dominance gates as one (check, n, ratio, ok) report",
    )
    s.add_argument("input", help="parquet with (doc_id, source, text) columns")
    s.add_argument("--eval-input", default=None,
                   help="parquet of eval/benchmark docs for the "
                   "decontamination gate (omit to skip that row)")
    s.add_argument("--near-dup-threshold", type=float, default=0.8)
    s.add_argument("--decontam-n", type=int, default=8,
                   help="n-gram width for the decontamination gate")
    s.add_argument("--max-source-share", type=float, default=0.8,
                   help="largest allowed single-source token share")
    s = sub.add_parser(
        "dataset-card",
        help="render a markdown dataset card: composition, fertility, "
        "attrition, release-audit gates",
    )
    s.add_argument("input", help="parquet with (doc_id, source, lang, text)")
    s.add_argument("--eval-input", default=None,
                   help="parquet of eval docs for the decontamination gate")
    s.add_argument("--name", default="dataset")
    s.add_argument("--shards-dir", default=None,
                   help="a write_shards export to link: the card gains "
                   "a Shards section with the manifest + verify verdict")
    s.add_argument("-o", "--output", default=None,
                   help="write the card here instead of stdout")
    s = sub.add_parser(
        "project-embeddings",
        help="PCA projection export: distributed moments + driver-side "
        "eigen, writes (id, x0..xk-1) coordinates (the batch analogue "
        "of the reference's index --umap)",
    )
    s.add_argument("input", help="parquet with (vec_id, embedding) columns")
    s.add_argument("output", help="directory for the coordinates parquet")
    s.add_argument("--k", type=int, default=2)
    s.add_argument("--id-col", default="vec_id")
    s.add_argument("--vec-col", default="embedding")
    s = sub.add_parser(
        "export-shards",
        help="materialize balanced parquet shards + a checksummed "
        "per-shard manifest (write -> re-read -> verify contract)",
    )
    s.add_argument("input", help="parquet with (doc_id, text, ...) columns")
    s.add_argument("output", help="export root (data/shard=N + manifest)")
    s.add_argument("--n-shards", type=int, default=16)
    s.add_argument("--no-verify", action="store_true",
                   help="skip the re-read checksum audit after writing")
    s = sub.add_parser(
        "curate-stream",
        help="streaming arrival near-dedup: drain a parquet arrival "
        "directory against a persistent LSH index",
    )
    s.add_argument("arrivals", help="directory of arriving (doc_id, text) parquet files")
    s.add_argument("index_dir", help="staged LSH index state directory")
    s.add_argument("output", help="append-only survivors directory")
    s.add_argument("checkpoint", help="stream checkpoint directory")
    s.add_argument("--threshold", type=float, default=0.8)
    s.add_argument(
        "--ladder", action="store_true",
        help="run the FULL curation ladder per micro-batch (gates + "
        "exact dedup + near dedup + PII scrub), not just near-dedup; "
        "the ladder options below take effect only with it",
    )
    s.add_argument("--report-dir", default=None,
                   help="append per-batch stage counts here (--ladder only)")
    _ladder_opts(s)
    s.add_argument("--exactsubstr-k", type=int, default=8,
                   help="k-gram width for --exactsubstr passage")
    s = sub.add_parser(
        "media-dedup",
        help="perceptual media near-dup pairs over a (media_id, data) "
        "parquet: image dHash / audio delta-sign (hamming); video "
        "frames / audio_windowed windows (shared hashes)",
    )
    s.add_argument("input", help="parquet with (media_id, data) columns")
    s.add_argument("output", help="directory for the pairs parquet")
    _media_opts(s)
    s.add_argument("--apply", action="store_true",
                   help="write the DEDUPLICATED corpus (min-id survivor "
                   "per transitive cluster) instead of the pair report "
                   "(--kind image only)")
    s = sub.add_parser(
        "media-audit",
        help="media release audit: decodable/quarantined/near-dup gates "
        "as one (check, n, ratio, ok) report",
    )
    s.add_argument("input", help="parquet with (media_id, data) columns")
    s.add_argument("--kind", choices=["image", "audio"], default="image")
    s.add_argument("--max-hamming", type=int, default=2)
    s.add_argument("--max-dup-share", type=float, default=0.2)
    s.add_argument("--min-decodable", type=float, default=0.5)
    s = sub.add_parser(
        "media-stream",
        help="streaming perceptual media dedup: drain a (media_id, data) "
        "parquet arrival directory against a staged fingerprint index",
    )
    s.add_argument("arrivals", help="directory of arriving media parquet files")
    s.add_argument("index_dir", help="staged fingerprint index directory")
    s.add_argument("output", help="append-only survivors directory")
    s.add_argument("checkpoint", help="stream checkpoint directory")
    s.add_argument("--seed", default=None,
                   help="backlog media parquet to seed the index from "
                   "(day-0 state) before draining")
    _media_opts(s)
    s.add_argument("--method", choices=["dhash", "ahash"], default="dhash")
    s = sub.add_parser(
        "media-pii",
        help="media-metadata PII scan (EXIF GPS/serial/author, PNG "
        "text, container comments) over a (media_id, data) parquet; "
        "--strip writes metadata-free twins",
    )
    s.add_argument("input", help="parquet with (media_id, data) columns")
    s.add_argument("--strip", default=None, metavar="OUT",
                   help="also write stripped blobs (unparseable dropped)")
    s = sub.add_parser(
        "media-export",
        help="release-path media shard export: strip metadata, drop "
        "unparseable blobs, write sharded parquet + a re-scanned "
        "manifest (n_items/n_bytes/checksum/pii_clean per shard)",
    )
    s.add_argument("input", help="parquet with (media_id, data) columns")
    s.add_argument("out_dir", help="export root (data/ + manifest.parquet)")
    s.add_argument("--shards", type=int, default=16)
    s = sub.add_parser(
        "monitor-stream",
        help="streaming corpus-quality drift monitor: per-batch quality "
        "profile + z-score drift flags vs prior batches",
    )
    s.add_argument("arrivals", help="directory of arriving (doc_id, text) parquet files")
    _monitor_opts(s)
    s.add_argument("--source-col", default=None,
                   help="arrival column naming each doc's source; adds "
                   "per-(batch, source) rows z-scored against that "
                   "source's own history (plus a '__all__' batch row)")
    s = sub.add_parser(
        "media-monitor",
        help="streaming media-feed drift monitor: per-batch header-walk "
        "profile (recognized/pii/text ratios, mean size) + z-score "
        "drift flags vs prior batches",
    )
    s.add_argument("arrivals", help="directory of arriving (media_id, data) parquet files")
    _monitor_opts(s)
    s = sub.add_parser("trace", help="shortest call path between two symbols")
    s.add_argument("src")
    s.add_argument("dst")
    s.add_argument("--depth", type=int, default=6)
    s = sub.add_parser("test-map", help="per-function reaching-test counts")
    s.add_argument("--depth", type=int, default=2)
    s = sub.add_parser("blame", help="per-chunk commit exposure from git history")
    s.add_argument("repo")
    s = sub.add_parser("affected", help="chunks touched by one commit")
    s.add_argument("repo")
    s.add_argument("sha")
    s = sub.add_parser("explain", help="symbol dashboard: chunk + graph context")
    s.add_argument("name")
    sub.add_parser("onboard", help="repo orientation: big files, hotspots, docs")
    sub.add_parser("suggest", help="pattern-mined suggestions")
    sub.add_parser("health", help="index health report")
    s = sub.add_parser("read", help="chunk row by id")
    s.add_argument("chunk_id")
    s = sub.add_parser("neighbors", help="chunks most similar to a chunk")
    s.add_argument("chunk_id")
    s.add_argument("-k", type=int, default=10)
    s = sub.add_parser(
        "batch", help="run one search per stdin line, JSON-lines out"
    )
    s.add_argument("-k", type=int, default=5)
    s = sub.add_parser("train-data", help="emit (query, positive) training pairs")
    s.add_argument("--triples", action="store_true", help="contrastive triples")
    s = sub.add_parser("stale", help="reconcile tree vs index-time registry")
    s.add_argument("root", nargs="?", default=None)
    s = sub.add_parser("refresh", help="incremental re-index (new/changed only)")
    s.add_argument("root", nargs="?", default=None)
    s = sub.add_parser("project", help="cross-project registry")
    s.add_argument("action", choices=["add", "list", "rm", "search"])
    s.add_argument("value", nargs="?", help="name (add/rm) / query (search)")
    s.add_argument("--project-workdir", default=None, help="workdir for add")
    s.add_argument("--weight", type=float, default=1.0)
    s.add_argument("--primary", default=None)
    s.add_argument("-k", type=int, default=10)
    s = sub.add_parser("convert", help="convert an html/pdf/chm file to markdown")
    s.add_argument("path")
    s = sub.add_parser("context", help="token-budgeted context assembly")
    s.add_argument("query")
    s.add_argument("--tokens", type=int, default=4000)
    s = sub.add_parser("reconstruct", help="reassemble a file from its chunks")
    s.add_argument("origin", help="origin path (suffix match)")
    s = sub.add_parser("impact-diff", help="transitive impact of one commit")
    s.add_argument("repo")
    s.add_argument("sha")
    s.add_argument("--depth", type=int, default=3)
    s = sub.add_parser("drift", help="top semantic drift vs another index")
    s.add_argument("other_workdir")
    s.add_argument("-k", type=int, default=20)
    s = sub.add_parser(
        "task", help="one-shot implementation context: scout+gather+impact+placement"
    )
    s.add_argument("query")
    s.add_argument("-k", type=int, default=10)
    s = sub.add_parser(
        "plan", help="template-classified implementation plan + scout"
    )
    s.add_argument("query")
    s.add_argument("-k", type=int, default=10)
    s = sub.add_parser(
        "doc", help="draft doc comments for undocumented functions"
    )
    s.add_argument("-k", type=int, default=20)
    s.add_argument(
        "--write", action="store_true",
        help="apply the proposed rewrites to the source files",
    )
    sub.add_parser("doctor", help="index sanity report")
    sub.add_parser("gc", help="vacuum orphaned embedding-cache rows")
    sub.add_parser("telemetry", help="usage dashboard from the CLI's own log")

    s = sub.add_parser(
        "slot",
        help="named index slots: side-by-side per-encoder indexes with "
        "atomic promote (reference src/slot/mod.rs)",
    )
    s.add_argument("action", choices=["create", "list", "promote", "eval"])
    s.add_argument("value", nargs="?", help="slot name")
    s.add_argument("--root", help="source tree to index (create)")
    s.add_argument("--glob", default="*.{py,md}")
    s.add_argument("--dim", type=int, default=None, help="encoder dim (create)")
    s.add_argument("--other", help="second slot name (eval compare)")
    s.add_argument("--queries", type=int, default=30)
    return p


def _run(eng, args, emit) -> int:
    """Run one verb; every output line goes through ``emit``."""
    if args.cmd == "index":
        eng.index(args.root, args.glob)
        emit({"indexed": args.root, "chunks": eng.chunks().count()})
    elif args.cmd == "search":
        emit(eng.search(args.query, k=args.k, alpha=args.alpha, mmr_lambda=args.mmr))
    elif args.cmd == "callers":
        emit(eng.callers(args.name))
    elif args.cmd == "callees":
        emit(eng.callees(args.name))
    elif args.cmd == "impact":
        emit(eng.impact(args.name))
    elif args.cmd == "related":
        emit(eng.related(args.name))
    elif args.cmd == "dead-code":
        emit(eng.dead_code())
    elif args.cmd == "stats":
        emit(eng.stats())
    elif args.cmd == "gather":
        emit(eng.gather(args.query))
    elif args.cmd == "where-to-add":
        emit(eng.where_to_add(args.query))
    elif args.cmd == "scout":
        emit(eng.scout(args.query))
    elif args.cmd == "eval":
        from cqs_spark.eval import eval_engine

        emit(eval_engine(eng, max_queries=args.queries, alpha=args.alpha))
    elif args.cmd == "diff":
        from cqs_spark.engine import Engine

        out = eng.diff(Engine(eng.spark, args.other_workdir))
        emit(out["diff"].groupBy("status").count())
        emit(out["drift"], limit=20)
    elif args.cmd == "notes":
        store = eng.notes_store()
        if args.action == "add":
            mentions = [m for m in args.mentions.split(",") if m]
            nid = store.add(args.value, args.sentiment, mentions, args.kind)
            emit({"id": nid})
        elif args.action == "list":
            emit(store.list_notes())
        elif args.action == "search":
            emit(store.search(args.value))
        elif args.action == "rm":
            store.delete(args.value)
            emit({"deleted": args.value})
        elif args.action == "stale":
            emit(store.stale(eng.chunks()))
    elif args.cmd == "ci":
        out = eng.ci(args.repo, sha=args.sha, threshold=args.threshold)
        emit(out["risk"], limit=50)
        emit(out["gate"])
        # The exit code IS the gate (the reference CLI exits GateFailed
        # when the verdict fails, src/cli/commands/review/ci.rs:161).
        return 0 if out["gate"]["passed"] else 1
    elif args.cmd == "deps":
        emit(
            eng.deps(
                args.name,
                reverse=args.reverse,
                include_common=args.include_common,
            )
        )
    elif args.cmd == "review":
        out = eng.review(args.repo, sha=args.sha, max_depth=args.depth)
        emit({
            "sha": out["sha"],
            "risk_summary": out["risk_summary"],
            "warnings": out["warnings"],
        })
        for section in (
            "changed_functions", "affected_callers", "affected_tests",
            "relevant_notes",
        ):
            emit({"section": section})
            emit(out[section], limit=100)
        if out["stale_warning"] is not None:
            emit({"section": "stale_warning"})
            emit(out["stale_warning"], limit=100)
    elif args.cmd == "audit":
        mode = eng.audit_mode()
        if args.action == "on":
            emit(mode.enable(hours=args.hours))
        elif args.action == "off":
            emit(mode.disable())
        else:
            emit(mode.status())
    elif args.cmd == "curate":
        from cqs_spark.operators.curate import curate
        from cqs_spark.operators.textops import dataset_split

        docs = eng.spark.read.parquet(args.input)
        out, report = curate(
            docs, near_dup_threshold=args.near_dup_threshold,
            **_ladder_kwargs(args),
        )
        if args.split:
            out = dataset_split(out, "doc_id").drop("bucket")
        out.write.mode("overwrite").parquet(args.output)
        emit(report)
    elif args.cmd == "dataset-card":
        from cqs_spark.operators.curate import dataset_card

        card = dataset_card(
            eng.spark.read.parquet(args.input),
            eng.spark.read.parquet(args.eval_input)
            if args.eval_input is not None
            else None,
            name=args.name,
            shards_dir=args.shards_dir,
        )
        if args.output:
            with open(args.output, "w") as fh:
                fh.write(card)
            emit({"written": args.output, "bytes": len(card)})
        else:
            emit(card)
    elif args.cmd == "project-embeddings":
        from cqs_spark.operators.vectorops import pca_project

        emb = eng.spark.read.parquet(args.input)
        proj, comps, eigs = pca_project(
            emb, args.id_col, args.vec_col, k=args.k
        )
        proj.write.mode("overwrite").parquet(args.output)
        emit({
            "written": args.output,
            "k": args.k,
            "eigenvalues": [round(e, 6) for e in eigs],
            "rows": emb.count(),
        })
    elif args.cmd == "export-shards":
        from cqs_spark.operators.shards import verify_shards, write_shards

        docs = eng.spark.read.parquet(args.input)
        manifest = write_shards(
            docs, args.output, n_shards=args.n_shards
        ).collect()
        report = {
            "shards": len(manifest),
            "n_docs": sum(r["n_docs"] for r in manifest),
            "n_tokens": sum(r["n_tokens"] for r in manifest),
        }
        if not args.no_verify:
            audit = verify_shards(eng.spark, args.output).collect()
            report["verified"] = all(r["ok"] for r in audit)
            report["bad_shards"] = [
                r["shard"] for r in audit if not r["ok"]
            ]
        emit(report)
    elif args.cmd == "release-audit":
        from cqs_spark.operators.curate import release_audit

        docs = eng.spark.read.parquet(args.input)
        eval_df = (
            eng.spark.read.parquet(args.eval_input)
            if args.eval_input is not None
            else None
        )
        rows = release_audit(
            docs, eval_df,
            near_threshold=args.near_dup_threshold,
            decontam_n=args.decontam_n,
            max_source_share=args.max_source_share,
        ).collect()
        emit({
            "checks": [
                {
                    "check": r["check"], "n": int(r["n"]),
                    "ratio": round(float(r["ratio"]), 4),
                    "ok": bool(r["ok"]),
                }
                for r in rows
            ],
            "release_ok": all(bool(r["ok"]) for r in rows),
        })
    elif args.cmd == "media-pii":
        from pyspark.sql import functions as F

        from cqs_spark.operators.mediameta import (
            media_metadata_scan,
            media_metadata_strip,
        )
        from cqs_spark.staging import stage

        media = eng.spark.read.parquet(args.input)
        scan = stage(media_metadata_scan(media), eager=True)
        agg = scan.agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(F.col("fmt").isNull(), 1)).alias("quarantined"),
            F.count(F.when(F.col("has_pii"), 1)).alias("pii"),
            F.count(F.when(F.col("has_gps"), 1)).alias("gps"),
            F.count(F.when(F.col("has_serial"), 1)).alias("serial"),
            F.count(F.when(F.col("has_author"), 1)).alias("author"),
            F.count(F.when(F.col("has_text"), 1)).alias("text"),
            # carriers seen but not readable: cannot certify clean
            F.count(F.when(F.col("has_unscanned_meta"), 1)).alias(
                "unscanned_meta"
            ),
        ).collect()[0]
        emit({k: int(agg[k]) for k in agg.asDict()})
        if args.strip is not None:
            stripped = media_metadata_strip(media).filter(
                F.col("data").isNotNull()
            )
            stripped.write.mode("overwrite").parquet(args.strip)
            emit({
                "stripped": eng.spark.read.parquet(args.strip).count()
            })
    elif args.cmd == "media-export":
        from cqs_spark.operators.shards import write_media_shards

        manifest = write_media_shards(
            eng.spark.read.parquet(args.input), args.out_dir,
            n_shards=args.shards,
        )
        for r in manifest.collect():
            emit({
                "shard": r["shard"], "n_items": int(r["n_items"]),
                "n_bytes": int(r["n_bytes"]),
                "checksum": int(r["checksum"]),
                "pii_clean": bool(r["pii_clean"]),
            })
    elif args.cmd == "media-dedup":
        from cqs_spark.staging import stage

        media = eng.spark.read.parquet(args.input)
        if args.apply:
            if args.kind != "image":
                raise SystemExit("--apply supports --kind image only")
            from cqs_spark.operators.multimodal import media_dedup_apply

            result = media_dedup_apply(media, max_hamming=args.max_hamming)
        else:
            from cqs_spark.operators.multimodal import perceptual_neardup

            result = perceptual_neardup(
                media, kind=args.kind, window=args.window,
                max_hamming=args.max_hamming, min_shared=args.min_shared,
            )
        result = stage(result, eager=True)
        result.write.mode("overwrite").parquet(args.output)
        n = result.count()
        emit(
            {"survivors": n, "total": media.count(), "kind": args.kind}
            if args.apply else {"pairs": n, "kind": args.kind}
        )
    elif args.cmd == "media-audit":
        from cqs_spark.operators.multimodal import media_audit

        rep = media_audit(
            eng.spark.read.parquet(args.input),
            kind=args.kind,
            max_hamming=args.max_hamming,
            max_dup_share=args.max_dup_share,
            min_decodable=args.min_decodable,
        )
        for r in rep.orderBy("check").collect():
            emit({
                "check": r["check"], "n": r["n"],
                "ratio": round(float(r["ratio"]), 4), "ok": bool(r["ok"]),
            })
    elif args.cmd == "media-stream":
        from cqs_spark.streaming.maintain import media_arrivals, seed_media_index

        if args.seed is not None:
            seed_media_index(
                eng.spark, eng.spark.read.parquet(args.seed),
                args.index_dir, kind=args.kind, method=args.method,
                window=args.window,
            )
        media_arrivals(
            eng.spark, args.arrivals, args.index_dir, args.output,
            args.checkpoint, kind=args.kind, method=args.method,
            window=args.window, max_hamming=args.max_hamming,
            min_shared=args.min_shared,
        )
        out = _stream_table(eng.spark, args.output)
        emit({"survivors": out.count() if out is not None else 0})
    elif args.cmd == "monitor-stream":
        from cqs_spark.streaming.maintain import monitor_arrivals

        monitor_arrivals(
            eng.spark, args.arrivals, args.stats_dir, args.checkpoint,
            z_threshold=args.z_threshold, min_history=args.min_history,
            source_col=args.source_col,
        )
        emit(_drift_summary(
            eng.spark, args.stats_dir, args.source_col, sources=True
        ))
    elif args.cmd == "media-monitor":
        from cqs_spark.streaming.maintain import monitor_media_arrivals

        monitor_media_arrivals(
            eng.spark, args.arrivals, args.stats_dir, args.checkpoint,
            z_threshold=args.z_threshold, min_history=args.min_history,
        )
        emit(_drift_summary(eng.spark, args.stats_dir))
    elif args.cmd == "curate-stream":
        if args.ladder:
            from cqs_spark.streaming.maintain import curate_arrivals

            curate_arrivals(
                eng.spark, args.arrivals, args.index_dir, args.output,
                args.checkpoint, report_dir=args.report_dir,
                threshold=args.threshold, exactsubstr_k=args.exactsubstr_k,
                **_ladder_kwargs(args),
            )
        else:
            from cqs_spark.streaming.maintain import dedup_arrivals

            dedup_arrivals(
                eng.spark, args.arrivals, args.index_dir, args.output,
                args.checkpoint, threshold=args.threshold,
            )
        out = _stream_table(eng.spark, args.output)
        emit({"survivors": out.count() if out is not None else 0})
    elif args.cmd == "trace":
        path = eng.trace(args.src, args.dst, max_depth=args.depth)
        emit({"path": path})
        return 0 if path is not None else 1
    elif args.cmd == "test-map":
        emit(eng.test_map(max_depth=args.depth))
    elif args.cmd == "blame":
        emit(eng.blame(args.repo), limit=100)
    elif args.cmd == "affected":
        emit(eng.affected(args.repo, args.sha))
    elif args.cmd == "explain":
        emit(eng.explain_symbol(args.name))
    elif args.cmd == "onboard":
        for section, df in eng.onboard().items():
            emit({"section": section})
            emit(df)
    elif args.cmd == "suggest":
        emit(eng.suggest())
    elif args.cmd == "health":
        for section, df in eng.health().items():
            emit({"section": section})
            emit(df)
    elif args.cmd == "read":
        # skip-when-default envelope: the reference's serde shape
        # omits injection_flags when no detector fired
        # (src/output_format.rs) — same wire shape as the
        # reconstruct_envelope and convert relays
        for r in eng.read_chunk(args.chunk_id).collect():
            d = r.asDict()
            if not d.get("injection_flags"):
                d.pop("injection_flags", None)
            emit(d)
    elif args.cmd == "neighbors":
        emit(eng.neighbors(args.chunk_id, k=args.k))
    elif args.cmd == "batch":
        # The reference's `cqs batch`: one query per stdin line, one
        # JSON result envelope per line (src/cli/definitions.rs:503).
        for line in sys.stdin:
            q = line.strip()
            if not q:
                continue
            rows = [r.asDict() for r in eng.search(q, k=args.k).collect()]
            emit({"query": q, "results": rows})
    elif args.cmd == "train-data":
        from cqs_spark.operators.nlgen import contrastive_triples, training_pairs

        pairs = training_pairs(eng.chunks())
        out = contrastive_triples(pairs, eng.chunks()) if args.triples else pairs
        emit(out, limit=1000)
    elif args.cmd == "stale":
        emit(eng.stale(args.root))
    elif args.cmd == "refresh":
        emit(eng.refresh(args.root))
    elif args.cmd == "project":
        from cqs_spark.index.projects import ProjectRegistry

        reg = ProjectRegistry(args.workdir)
        if args.action == "add":
            reg.register(args.value, args.project_workdir or ".", args.weight)
            emit({"registered": args.value})
        elif args.action == "list":
            emit(reg.projects())
        elif args.action == "rm":
            emit({"removed": reg.unregister(args.value)})
        elif args.action == "search":
            emit(
                reg.search_all(
                    eng.spark, args.value, k=args.k, primary=args.primary
                )
            )
    elif args.cmd == "convert":
        from cqs_spark.index.convert import convert_files
        from cqs_spark.index.ingest import list_files
        import os as _os

        from pyspark.sql import functions as F

        from cqs_spark.operators.textops import injection_flags_expr

        d, base = _os.path.split(_os.path.abspath(args.path))
        files = list_files(eng.spark, d, glob=base)
        # converted markdown is a relay surface too: scan == relayed
        converted = convert_files(files).withColumn(
            "injection_flags",
            injection_flags_expr(F.col("content").cast("string")),
        )
        for r in converted.collect():
            env = {
                "path": r["path"],
                "markdown": bytes(r["content"]).decode(
                    "utf-8", errors="replace"
                ),
            }
            if r["injection_flags"]:
                env["injection_flags"] = list(r["injection_flags"])
            emit(env)
    elif args.cmd == "context":
        # Token-budgeted context assembly (cqs context): gather's
        # decayed relevance expansion, then keep the score-ranked
        # prefix whose cumulative token count fits the budget.
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cqs_spark.functions.text import bpe_token_count

        # gather() already carries (origin, line_start, node, score);
        # only id + content come from the chunks table.
        picked = eng.gather(args.query)
        chunks = eng.chunks().select(
            F.col("name").alias("node"), "id", "content"
        )
        w = Window.orderBy(F.desc("score"), "node").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        out = (
            picked.join(chunks, "node")
            .withColumn("n_tokens", bpe_token_count("content"))
            .withColumn("cum_tokens", F.sum("n_tokens").over(w))
            .filter(F.col("cum_tokens") <= args.tokens)
            .select("node", "id", "origin", "score", "n_tokens", "cum_tokens")
            .orderBy(F.desc("score"), "node")
        )
        emit(out)
    elif args.cmd == "reconstruct":
        # full-file relay: scan == relayed (injection_flags present
        # only when a detector fired — reference v1.51 envelope shape)
        emit(eng.reconstruct_envelope(args.origin))
    elif args.cmd == "impact-diff":
        from cqs_spark.operators.gitops import diff_impact, git_log_df

        _, changes = git_log_df(eng.spark, args.repo)
        prefix = eng._origin_prefix(args.repo)
        emit(
            diff_impact(
                eng.chunks(), eng.edges(), changes, args.sha, prefix,
                max_depth=args.depth,
            ).orderBy("depth", "node")
        )
    elif args.cmd == "drift":
        from cqs_spark.engine import Engine

        out = eng.diff(Engine(eng.spark, args.other_workdir))
        emit(out["drift"], limit=args.k)
    elif args.cmd == "task":
        out = eng.task(args.query, limit=args.k)
        emit({"description": out["description"], "summary": out["summary"]})
        for section in (
            "scout", "code", "risk", "tests", "placement", "notes",
        ):
            emit({"section": section})
            emit(out[section], limit=100)
    elif args.cmd == "plan":
        out = eng.plan(args.query, k=args.k)
        emit({
            "template": out["template"],
            "template_description": out["template_description"],
            "checklist": out["checklist"],
            "patterns": out["patterns"],
        })
        emit({"section": "scout"})
        emit(out["scout"], limit=100)
    elif args.cmd == "doc":
        rows = eng.document(limit=args.k).collect()
        for r in rows:
            path = r["origin"]
            # Only file: origins are writable; report what HAPPENED,
            # not what was requested (a skipped non-file origin must
            # not claim written=true).
            wrote = bool(args.write and path.startswith("file:"))
            if wrote:
                with open(path[len("file:"):], "w") as fh:
                    fh.write(r["new_content"])
            emit({
                "origin": path,
                "applied": r["applied"],
                "written": wrote,
            })
        emit({"files": len(rows)})
    elif args.cmd == "doctor":
        import os as _os

        report = {"workdir": args.workdir, "meta": eng._meta()}
        for table in ("chunks", "postings", "edges", "type_edges", "registry"):
            path = eng._path(table)
            if _os.path.exists(path):
                report[table] = eng.spark.read.parquet(path).count()
            else:
                report[table] = None
        report["ok"] = all(
            isinstance(report[t], int) and report[t] > 0
            for t in ("chunks", "postings", "edges")
        )
        emit(report)
        return 0 if report["ok"] else 1
    elif args.cmd == "gc":
        emit(eng.gc())
    elif args.cmd == "telemetry":
        import os as _os

        from cqs_spark.operators.telemetry import read_telemetry, telemetry_report

        log = _os.path.join(args.workdir, "telemetry.jsonl")
        if not _os.path.exists(log):
            emit({"events": 0})
            return 0
        rep = telemetry_report(read_telemetry(eng.spark, log))
        emit({"events": rep["events"], "date_range": rep["date_range"]})
        emit(rep["commands"])
        emit(rep["categories"])
        emit(rep["top_queries"], limit=10)
    elif args.cmd == "slot":
        from cqs_spark.index import slots as S

        if args.action == "create":
            if not args.value or not args.root:
                _parser().error("slot create needs a name and --root")
            se = S.create(
                eng.spark, args.workdir, args.value, args.root,
                dim=args.dim, glob=args.glob,
            )
            emit({
                "slot": args.value,
                "chunks": se.n_chunks(),
                "active": S.read_active(args.workdir) == args.value,
            })
        elif args.action == "list":
            S.migrate_legacy(args.workdir)
            for row in S.list_slots(args.workdir):
                emit(row)
        elif args.action == "promote":
            if not args.value:
                _parser().error("slot promote needs a name")
            S.migrate_legacy(args.workdir)
            S.promote(args.workdir, args.value)
            emit({"active": args.value})
        elif args.action == "eval":
            if not args.value or not args.other:
                _parser().error("slot eval needs a name and --other")
            emit(S.compare(
                eng.spark, args.workdir, args.value, args.other,
                max_queries=args.queries,
            ))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    eng = _engine(args)
    from pyspark.sql import DataFrame

    lines = 0

    def emit(x, limit: int | None = None) -> None:
        """The CLI's one output sink.  A DataFrame prints one JSON line
        per row (the first ``limit`` rows when given), a str prints as
        it is, anything else prints as one JSON line; every line
        written is counted for the telemetry row."""
        nonlocal lines
        if isinstance(x, DataFrame):
            rows = x.collect() if limit is None else x.limit(limit).collect()
            for r in rows:
                emit(r.asDict())
        else:
            text = x if isinstance(x, str) else json.dumps(x, default=str)
            print(text)
            lines += text.count("\n") + 1

    t0 = time.monotonic()
    rc = _run(eng, args, emit)
    _log_telemetry(args, lines, int((time.monotonic() - t0) * 1000))
    return rc


def _log_telemetry(args, result_count: int, duration_ms: int) -> None:
    """Append one usage row to the workdir's telemetry JSONL (the
    reference records every CLI invocation, src/cli/telemetry.rs;
    queries are stored raw here and redacted at REPORT time via
    telemetry.redact_query — the log stays local to the index dir).
    ``result_count`` is the number of lines the verb printed and
    ``duration_ms`` its wall time, session start-up excluded."""
    import os

    if args.cmd == "telemetry":  # reading the dashboard isn't usage
        return
    try:
        row = {
            "ts": int(time.time()),
            "command": args.cmd,
            "query": getattr(args, "query", None) or getattr(args, "name", None),
            "result_count": result_count,
            "duration_ms": duration_ms,
        }
        with open(os.path.join(args.workdir, "telemetry.jsonl"), "a") as fh:
            fh.write(json.dumps(row) + "\n")
    except OSError:
        pass


if __name__ == "__main__":
    sys.exit(main())
