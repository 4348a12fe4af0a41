"""CLI entry point: in-process main() over a shared session."""

from __future__ import annotations

import json

import pytest

from cqs_spark.__main__ import main

ROOT = "/root/repo/cqs_spark"


@pytest.fixture(scope="module")
def workdir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_idx"))
    assert main(["--workdir", d, "index", ROOT]) == 0
    return d


def test_cli_search(workdir, capsys):
    capsys.readouterr()
    main(["--workdir", workdir, "search", "minhash lsh dedup", "-k", "5", "--alpha", "0.0"])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 5
    assert {"id", "origin", "name", "score"} <= set(lines[0])
    assert any("minhash" in (l["name"] or "") for l in lines)


def test_cli_graph_and_stats(workdir, capsys):
    capsys.readouterr()
    main(["--workdir", workdir, "callers", "bfs"])
    callers = [json.loads(l)["caller"] for l in capsys.readouterr().out.strip().splitlines()]
    assert "reverse_bfs" in callers
    main(["--workdir", workdir, "stats"])
    stats = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert any(s["language"] == "python" for s in stats)


def test_cli_eval(workdir, capsys):
    capsys.readouterr()
    main(["--workdir", workdir, "eval", "--queries", "8", "--alpha", "0.0"])
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(m) == {"r@1", "r@5", "r@20"}
    assert m["r@20"] >= 0.5


def test_cli_diff(workdir, spark, tmp_path_factory, capsys):
    import shutil

    src = tmp_path_factory.mktemp("cli_diff_src")
    shutil.copytree(ROOT, src / "cqs_spark")
    (src / "cqs_spark" / "session.py").unlink()
    other = str(tmp_path_factory.mktemp("cli_diff_idx"))
    assert main(["--workdir", other, "index", str(src / "cqs_spark")]) == 0
    capsys.readouterr()
    main(["--workdir", workdir, "diff", other])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    statuses = {l["status"]: l["count"] for l in lines if "status" in l}
    assert statuses.get("removed", 0) >= 1  # session.py functions gone
    assert statuses.get("unchanged", 0) > 100


def test_cli_notes_and_deps(workdir, capsys):
    capsys.readouterr()
    main([
        "--workdir", workdir, "notes", "add", "retry loop is fragile",
        "--sentiment", "-0.5", "--mentions", "bfs,reverse_bfs",
    ])
    nid = json.loads(capsys.readouterr().out.strip())["id"]
    main(["--workdir", workdir, "notes", "search", "fragile"])
    found = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(found) == 1 and found[0]["id"] == nid
    main(["--workdir", workdir, "notes", "rm", nid])
    capsys.readouterr()
    main(["--workdir", workdir, "notes", "list"])
    assert capsys.readouterr().out.strip() == ""
    # deps: a function that takes DataFrames should reference none of the
    # corpus's class chunks by param name — just assert it runs and emits
    # valid JSON rows (may be empty).
    main(["--workdir", workdir, "deps", "Engine"])
    for line in capsys.readouterr().out.strip().splitlines():
        row = json.loads(line)
        assert {"edge_kind", "users"} <= set(row)


def test_cli_trace_explain_testmap(workdir, capsys):
    capsys.readouterr()
    rc = main(["--workdir", workdir, "trace", "reverse_bfs", "bfs"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["path"][0] == "reverse_bfs" and out["path"][-1] == "bfs"
    main(["--workdir", workdir, "explain", "bfs"])
    exp = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert exp["chunk"]["origin"].endswith("graph.py")
    assert "reverse_bfs" in exp["callers"]
    main(["--workdir", workdir, "test-map"])
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rows == [] or {"node", "n_tests"} <= set(rows[0])


def test_cli_read_neighbors_batch_traindata(workdir, capsys, monkeypatch):
    capsys.readouterr()
    main(["--workdir", workdir, "search", "label propagation", "-k", "1",
          "--alpha", "0.0"])
    hit = json.loads(capsys.readouterr().out.strip().splitlines()[0])
    main(["--workdir", workdir, "read", hit["id"]])
    row = json.loads(capsys.readouterr().out.strip().splitlines()[0])
    assert row["id"] == hit["id"] and row["content"]
    main(["--workdir", workdir, "neighbors", hit["id"], "-k", "3"])
    neigh = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert neigh and all(n["id"] != hit["id"] for n in neigh)

    import io

    monkeypatch.setattr("sys.stdin", io.StringIO("minhash dedup\n\nbfs hops\n"))
    main(["--workdir", workdir, "batch", "-k", "2"])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 2
    assert all(len(l["results"]) == 2 for l in lines)

    main(["--workdir", workdir, "train-data"])
    pairs = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert pairs and {"pair_id", "query", "positive"} <= set(pairs[0])


def test_cli_stale_refresh_context(spark, tmp_path_factory, capsys):
    import shutil

    src = tmp_path_factory.mktemp("cli_inc_src")
    tree = src / "pkg"
    tree.mkdir()
    (tree / "a.py").write_text("def alpha():\n    '''Alpha does things.'''\n    return 1\n")
    (tree / "b.py").write_text("def beta():\n    '''Beta calls alpha.'''\n    return alpha()\n")
    wd = str(tmp_path_factory.mktemp("cli_inc_idx"))
    assert main(["--workdir", wd, "index", str(tree)]) == 0
    capsys.readouterr()

    main(["--workdir", wd, "stale"])
    statuses = {
        json.loads(l)["origin"].rsplit("/", 1)[-1]: json.loads(l)["status"]
        for l in capsys.readouterr().out.strip().splitlines()
    }
    assert set(statuses.values()) == {"unchanged"}

    # Change one file, add one, delete one -> refresh reparses 2, drops 1.
    (tree / "a.py").write_text("def alpha():\n    '''Alpha v2.'''\n    return 2\n")
    (tree / "c.py").write_text("def gamma():\n    return 3\n")
    (tree / "b.py").unlink()
    main(["--workdir", wd, "stale"])
    statuses = {
        json.loads(l)["origin"].rsplit("/", 1)[-1]: json.loads(l)["status"]
        for l in capsys.readouterr().out.strip().splitlines()
    }
    assert statuses["a.py"] == "changed"
    assert statuses["c.py"] == "new"
    assert statuses["b.py"] == "deleted"

    main(["--workdir", wd, "refresh"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["reparsed"] == 2 and rep["deleted"] == 1

    # Post-refresh: gamma searchable, beta gone, alpha updated.
    main(["--workdir", wd, "search", "gamma", "-k", "3", "--alpha", "0.0"])
    names = [json.loads(l)["name"] for l in capsys.readouterr().out.strip().splitlines()]
    assert "gamma" in names
    main(["--workdir", wd, "stale"])
    statuses = {
        json.loads(l)["status"]
        for l in capsys.readouterr().out.strip().splitlines()
    }
    assert statuses == {"unchanged"}

    main(["--workdir", wd, "context", "alpha", "--tokens", "100"])
    ctx = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert ctx and all(c["cum_tokens"] <= 100 for c in ctx)


def test_cli_project_and_convert(workdir, tmp_path_factory, capsys):
    capsys.readouterr()
    main(["--workdir", workdir, "project", "add", "self",
          "--project-workdir", workdir])
    assert json.loads(capsys.readouterr().out.strip())["registered"] == "self"
    main(["--workdir", workdir, "project", "list"])
    assert "self" in json.loads(capsys.readouterr().out.strip())
    main(["--workdir", workdir, "project", "search", "minhash dedup", "-k", "3"])
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 3
    main(["--workdir", workdir, "project", "rm", "self"])
    assert json.loads(capsys.readouterr().out.strip())["removed"] is True

    d = tmp_path_factory.mktemp("cli_conv")
    (d / "page.html").write_text(
        "<html><body><h1>Guide</h1><p>Install the tool.</p></body></html>"
    )
    main(["--workdir", workdir, "convert", str(d / "page.html")])
    out = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert out and "Guide" in out[0]["markdown"]


def test_cli_reconstruct_gc_telemetry(workdir, capsys):
    capsys.readouterr()
    main(["--workdir", workdir, "reconstruct", "operators/graph.py"])
    text = json.loads(capsys.readouterr().out.strip())["text"]
    assert "def bfs(" in text and "def pagerank(" in text
    # Tiling keeps one copy of each top-level def (methods not doubled).
    assert text.count("def label_propagation(") == 1

    main(["--workdir", workdir, "gc"])
    rep = json.loads(capsys.readouterr().out.strip())
    assert rep["dropped"] >= 0 and rep["cache_rows"] > 0

    # Commands above logged usage; the dashboard reflects them.
    main(["--workdir", workdir, "telemetry"])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert lines[0]["events"] >= 2
    cmds = {l["command"]: l["n"] for l in lines[1:] if "command" in l}
    assert cmds.get("reconstruct", 0) >= 1 and cmds.get("gc", 0) >= 1


def test_cli_telemetry_one_row_per_invocation(workdir, capsys):
    """Every verb run appends exactly one telemetry row, whatever its
    exit status: ``command``, ``result_count`` = the stdout lines it
    printed, and ``duration_ms``.  Reading the dashboard appends none."""
    import os

    log = os.path.join(workdir, "telemetry.jsonl")

    def rows():
        with open(log) as fh:
            return [json.loads(l) for l in fh]

    for argv, rc in (
        (["trace", "reverse_bfs", "bfs"], 0),
        (["trace", "no_such_symbol_a", "no_such_symbol_b"], 1),
        (["doctor"], 0),
    ):
        before = len(rows())
        capsys.readouterr()
        assert main(["--workdir", workdir, *argv]) == rc
        printed = capsys.readouterr().out.splitlines()
        new = rows()[before:]
        assert [r["command"] for r in new] == [argv[0]]
        assert new[0]["result_count"] == len(printed) == 1
        assert isinstance(new[0]["duration_ms"], int)
        assert new[0]["duration_ms"] >= 0
    before = len(rows())
    main(["--workdir", workdir, "telemetry"])
    assert len(rows()) == before


def test_cli_prints_through_one_sink():
    """``__main__`` writes stdout only through ``emit`` and logs
    telemetry from one call site."""
    import pathlib
    import re

    src = (
        pathlib.Path(__file__).resolve().parents[1] / "cqs_spark" / "__main__.py"
    ).read_text()
    assert len(re.findall(r"(?<!\w)print\(", src)) == 1
    assert "_emit(" not in src
    assert len(re.findall(r"(?<!def )_log_telemetry\(", src)) == 1


def test_cli_review_composition(workdir, capsys):
    """End-to-end `review` on this repo's own git history: payload
    sections mirror review.rs's ReviewResult fields."""
    capsys.readouterr()
    main(["--workdir", workdir, "review", "/root/repo"])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    head = lines[0]
    assert set(head["risk_summary"]) == {"high", "medium", "low", "overall"}
    assert head["risk_summary"]["overall"] in ("high", "medium", "low")
    assert isinstance(head["warnings"], list)  # ReviewResult.warnings parity
    sections = {}
    current = None
    for l in lines[1:]:
        if "section" in l:
            current = l["section"]
            sections[current] = []
        else:
            sections[current].append(l)
    assert {
        "changed_functions", "affected_callers", "affected_tests",
        "relevant_notes",
    } <= set(sections)
    for row in sections["changed_functions"]:
        assert {"name", "origin", "risk_level", "score", "blast_radius"} <= set(row)
    for row in sections["affected_callers"]:
        assert {"node", "depth", "direct"} <= set(row)
    for row in sections["affected_tests"]:
        assert {"test", "covered", "n_covered"} <= set(row)


def test_cli_audit_mode_note_neutral(workdir, spark, capsys):
    """Audit on: the same query's note_mult provenance goes neutral (1.0)
    even when a boosting note exists; audit off restores the boost."""
    from cqs_spark.engine import Engine

    eng = Engine(spark, workdir)
    store = eng.notes_store()
    nid = store.add("label propagation is elegant", 0.5, ["label_propagation"])
    try:
        notes = store.for_scoring()

        def note_mult(name="label_propagation"):
            rows = eng.search(
                "label propagation convergence", k=10, alpha=0.0,
                notes=notes, provenance=True, fts_first=False,
            ).collect()
            by_name = {r["name"]: r["signals"]["note_mult"] for r in rows}
            return by_name.get(name)

        capsys.readouterr()
        main(["--workdir", workdir, "audit", "status"])
        assert json.loads(capsys.readouterr().out.strip())["active"] is False
        boosted = note_mult()
        assert boosted is not None and boosted > 1.0

        main(["--workdir", workdir, "audit", "on"])
        capsys.readouterr()
        main(["--workdir", workdir, "audit", "status"])
        assert json.loads(capsys.readouterr().out.strip())["active"] is True
        assert note_mult() == 1.0

        main(["--workdir", workdir, "audit", "off"])
        assert note_mult() > 1.0
    finally:
        main(["--workdir", workdir, "audit", "off"])
        store.delete(nid)


def test_cli_deps_common_type_filter(workdir, spark, capsys):
    """`deps` drops stdlib-common type names unless --include-common:
    a corpus class named like a common type (e.g. 'Value') would
    dominate type queries without the COMMON_TYPES gate."""
    from pyspark.sql import functions as F

    from cqs_spark.index.typegraph import type_users

    edges = spark.createDataFrame(
        [
            ("f", "String", "param", "file:/x.py"),
            ("g", "String", "return", "file:/x.py"),
            ("h", "Engine", "param", "file:/y.py"),
        ],
        "src string, dst string, edge_kind string, origin string",
    )
    assert type_users(edges, "String").count() == 0
    kept = type_users(edges, "String", include_common=True)
    assert kept.agg(F.sum(F.size("users"))).first()[0] == 2
    assert type_users(edges, "Engine").count() == 1


def test_cli_curate_end_to_end(spark, tmp_path_factory, capsys):
    """`curate` runs the full ladder on a documents parquet: junk and
    clones drop, PII is scrubbed, the report counts each stage, and
    --split appends the deterministic train/val/test column."""
    from pyspark.sql import functions as F

    d = tmp_path_factory.mktemp("curate_io")
    good = (
        "the quick brown fox jumps over the lazy dog and that is fine "
        "with everyone because the words have enough variety to pass "
        "every published quality threshold easily today"
    )
    french = (
        "les amis sont dans une maison pour regarder les oiseaux sur "
        "des arbres est pas une chose rare dans les villes pour des "
        "gens qui marchent sur des routes est pas mal"
    )
    rows = (
        [(i, good + f" variant token {i}", "en") for i in range(8)]
        + [(100, good + " variant token 0", "en")]       # exact clone of doc 0
        + [(101, "ok ok ok ok ok ok ok ok ok ok", "en")]  # short/stopword junk
        + [(102, good + " mail me at a@b.com now please", "en")]  # PII
        + [(103, french, "fr")]                            # wrong language
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(str(d / "in.parquet"))
    capsys.readouterr()
    rc = main([
        "--workdir", str(d / "wd"), "curate",
        str(d / "in.parquet"), str(d / "out.parquet"), "--split",
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc in (0, None)
    assert report["input"] == 12
    assert report["after_langid"] == 10          # fr + no-stopword junk gone
    assert report["after_repetition"] == 10      # nothing else to cut
    assert report["after_exact_dedup"] == 9      # clone of doc 0 collapsed
    out = spark.read.parquet(str(d / "out.parquet"))
    texts = [r["text"] for r in out.collect()]
    assert not any("a@b.com" in t for t in texts)          # scrubbed
    assert any("[EMAIL]" in t for t in texts)
    assert set(out.select("split").distinct().toPandas()["split"]) <= {
        "train", "val", "test"
    }
    # Determinism: the split column is a pure function of doc_id.
    from cqs_spark.operators.textops import dataset_split

    again = dataset_split(out.drop("split"), "doc_id").drop("bucket")
    assert (
        again.join(out.select("doc_id", F.col("split").alias("s2")), "doc_id")
        .filter(F.col("split") != F.col("s2"))
        .count()
        == 0
    )


def test_refresh_encoder_generation_mismatch_full_reembed(
    spark, tmp_path_factory, capsys
):
    """An index whose meta.json predates fingerprint recording (or was
    built under another encoder generation) must FULL re-embed on
    refresh, never merge old-generation vectors with new-generation
    query embeddings."""
    src = tmp_path_factory.mktemp("gen_src")
    tree = src / "pkg"
    tree.mkdir()
    (tree / "a.py").write_text("def alpha():\n    '''Alpha.'''\n    return 1\n")
    wd = str(tmp_path_factory.mktemp("gen_idx"))
    assert main(["--workdir", wd, "index", str(tree)]) == 0

    import os

    meta_path = os.path.join(wd, "meta.json")
    meta = json.load(open(meta_path))
    assert "model_fingerprint" in meta  # recorded at index time
    # Simulate a pre-r4 index: drop the fingerprint AND strip the
    # embed cache to the legacy fingerprint-less layout (which
    # embed_with_cache would otherwise treat as the active model's —
    # the rebuild must drop it or every old vector serves from cache).
    del meta["model_fingerprint"]
    json.dump(meta, open(meta_path, "w"))
    cache_path = os.path.join(wd, "embed_cache.parquet")
    legacy = spark.read.parquet(cache_path).drop("fingerprint")
    legacy.write.mode("overwrite").parquet(cache_path + ".tmp")
    import shutil

    shutil.rmtree(cache_path)
    shutil.move(cache_path + ".tmp", cache_path)

    capsys.readouterr()
    main(["--workdir", wd, "refresh"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep.get("full_reembed") is True
    # The legacy cache was dropped and rebuilt fingerprint-keyed.
    assert "fingerprint" in spark.read.parquet(cache_path).columns
    # meta now carries the active fingerprint; a second refresh with an
    # unchanged tree is incremental again (nothing to do).
    meta = json.load(open(meta_path))
    assert meta["model_fingerprint"]
    capsys.readouterr()
    main(["--workdir", wd, "refresh"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {"reparsed": 0, "deleted": 0}


def test_audit_zero_hours_expires_immediately(tmp_path_factory):
    """--hours 0 means 'expire now', not 'never expire' (falsy-zero)."""
    from cqs_spark.index.audit import AuditMode

    mode = AuditMode(str(tmp_path_factory.mktemp("audit_wd")))
    state = mode.enable(hours=0)
    assert state["expires_at"] is not None
    assert mode.is_active() is False
    mode.enable()  # no expiry -> active
    assert mode.is_active() is True
    mode.disable()


def test_dataset_split_rejects_non_integral_ids(spark):
    import pytest as _pytest

    from cqs_spark.operators.textops import dataset_split

    df = spark.createDataFrame([("a", 1)], "doc_id string, x long")
    with _pytest.raises(ValueError, match="exact-integer id column"):
        dataset_split(df, "doc_id")
    # decimal(p, 0) is an exact integer type — must be accepted (its
    # cast to bigint is lossless, never NULL in range).
    dec = spark.createDataFrame([(7,)], "doc_id long").selectExpr(
        "CAST(doc_id AS DECIMAL(18,0)) AS doc_id"
    )
    assert dataset_split(dec, "doc_id").count() == 1
    # Negative ids stay in [0, 10000) buckets (pmod, both engines).
    neg = spark.createDataFrame([(-5,), (-100,)], "doc_id long")
    rows = dataset_split(neg, "doc_id").collect()
    assert all(0 <= r["bucket"] < 10000 for r in rows)


def test_cli_doctor_and_impact_diff(workdir, capsys):
    capsys.readouterr()
    rc = main(["--workdir", workdir, "doctor"])
    rep = json.loads(capsys.readouterr().out.strip())
    assert rc == 0 and rep["ok"] and rep["chunks"] > 100

    import subprocess

    sha = subprocess.run(
        ["git", "-C", "/root/repo", "rev-parse", "HEAD"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    capsys.readouterr()
    main(["--workdir", workdir, "impact-diff", "/root/repo", sha])
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    # HEAD touches source files, so SOME function impact should surface
    # (row set depends on the commit; shape is the contract).
    assert all({"node", "depth"} <= set(r) for r in rows)


def test_cli_git_verbs_match_indexed_files(workdir, capsys):
    """affected / impact-diff / blame strip the ``file:`` origin of an
    indexed chunk to git's repo-relative path, so the newest commit
    under cqs_spark/ touches indexed chunks and blame sees history."""
    import os
    import subprocess

    repo = os.path.dirname(ROOT)
    sha = subprocess.run(
        ["git", "-C", repo, "log", "-1", "--format=%H", "--", "cqs_spark"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()

    def rows(*argv):
        capsys.readouterr()
        assert main(["--workdir", workdir, *argv]) == 0
        return [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]

    assert rows("affected", repo, sha)
    assert rows("impact-diff", repo, sha)
    assert any(r["n_commits"] > 0 for r in rows("blame", repo))


def test_audit_corrupt_state_reads_inactive(tmp_path_factory):
    """A corrupt/truncated/oversized audit.json must read as
    default-inactive, never raise into review/search (r5 ADVICE fix;
    ref src/audit.rs load_audit_state)."""
    import os

    from cqs_spark.index.audit import AuditMode

    wd = str(tmp_path_factory.mktemp("audit_corrupt"))
    mode = AuditMode(wd)
    for payload in (b'{"enabled": tru', b"[1,2,3]", b"\xff\xfe\x00"):
        with open(mode.path, "wb") as fh:
            fh.write(payload)
        assert mode.status() == {
            "enabled": False, "expires_at": None, "active": False,
        }
        assert mode.is_active() is False
    # Oversized file: not a flag we wrote — inactive without reading it.
    with open(mode.path, "w") as fh:
        fh.write('{"enabled": true, "pad": "' + "x" * (70 * 1024) + '"}')
    assert mode.is_active() is False
    os.remove(mode.path)
    # And enable/disable still round-trips after the garbage.
    mode.enable()
    assert mode.is_active() is True
    mode.disable()


def test_dataset_split_rejects_wide_decimal_ids(spark):
    """decimal(38,0) can exceed int64; cast-to-bigint would NULL the
    bucket and silently misroute the row into the last split — wide
    decimals must raise instead (r5 ADVICE fix)."""
    import pytest as _pytest

    from cqs_spark.operators.textops import dataset_split

    wide = spark.createDataFrame([(1,)], "doc_id long").selectExpr(
        "CAST('99999999999999999999' AS DECIMAL(38,0)) AS doc_id"
    )
    with _pytest.raises(ValueError, match="fitting int64"):
        dataset_split(wide, "doc_id")


def test_cli_plan_classifies_and_scouts(workdir, capsys):
    capsys.readouterr()
    main(["--workdir", workdir, "plan", "fix broken minhash dedup results"])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    head = lines[0]
    assert head["template"] == "Fix a Bug"
    assert head["checklist"] and head["patterns"]
    rows = [l for l in lines[2:] if "name" in l]
    assert rows, "plan must include scout rows"
    assert {"origin", "name", "score", "n_callers"} <= set(rows[0])


def test_engine_task_composes_with_single_bfs(workdir, spark, monkeypatch):
    """The task pipeline must run the depth-5 test-reachability BFS
    exactly ONCE, shared between the scout pool's test counts and the
    impact risk formula (src/task.rs:216 'computing it twice doubles
    the largest cost in the command')."""
    from cqs_spark.engine import Engine
    from cqs_spark.operators import graph as graph_mod

    calls = {"n": 0}
    real_test_map = graph_mod.test_map

    def counting_test_map(*a, **kw):
        calls["n"] += 1
        return real_test_map(*a, **kw)

    monkeypatch.setattr(graph_mod, "test_map", counting_test_map)
    eng = Engine(spark, workdir)
    out = eng.task("minhash lsh dedup candidate pairs", limit=8)
    assert calls["n"] == 1, f"test-reachability BFS ran {calls['n']} times"

    scout = out["scout"].collect()
    assert 0 < len(scout) <= 8
    roles = {r["role"] for r in scout}
    assert "modify_target" in roles
    targets = [r["name"] for r in scout if r["role"] == "modify_target"]
    # Gap detection: at least 1, at most half the non-test pool.
    non_test = [r for r in scout if r["role"] != "test_to_update"]
    assert 1 <= len(targets) <= max(1, len(non_test) // 2 + 1)

    # Impact leg scored exactly the modify targets.
    risk = out["risk"].collect()
    assert sorted(r["node"] for r in risk) == sorted(targets)
    assert all(
        {"caller_count", "test_count", "risk_level", "blast_radius"}
        <= set(r.asDict())
        for r in risk
    )

    # Gather leg: every modify target appears, expansion stays capped.
    code = out["code"].collect()
    code_nodes = {r["node"] for r in code}
    assert set(targets) <= code_nodes
    assert len(code) <= 8 * 3
    assert all(r["signature"] is not None for r in code)

    # Placement leg: ranked files with fit scores.
    placement = out["placement"].collect()
    assert 1 <= len(placement) <= 3
    assert placement[0]["fit"] >= placement[-1]["fit"]

    # Summary is consistent with the legs.
    s = out["summary"]
    assert s["modify_targets"] == len(targets)
    assert s["total_functions"] == len(scout)
    assert s["test_count"] == out["tests"].count()


def test_cli_task_emits_all_sections(workdir, capsys):
    capsys.readouterr()
    main(["--workdir", workdir, "task", "gather scores decay expansion", "-k", "6"])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert "summary" in lines[0]
    sections = [l["section"] for l in lines if "section" in l]
    assert sections == ["scout", "code", "risk", "tests", "placement", "notes"]


def test_cli_doc_proposes_without_writing(workdir, capsys, tmp_path):
    import hashlib
    import os

    # No --write: source files must be untouched.
    digests = {}
    for dirpath, _dirs, names in os.walk(ROOT):
        for n in names:
            if n.endswith(".py"):
                p = os.path.join(dirpath, n)
                digests[p] = hashlib.sha256(open(p, "rb").read()).hexdigest()
    capsys.readouterr()
    main(["--workdir", workdir, "doc", "-k", "5"])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert lines[-1]["files"] >= 1
    assert all(not l.get("written") for l in lines[:-1])
    for p, d in digests.items():
        assert hashlib.sha256(open(p, "rb").read()).hexdigest() == d


def test_cli_curate_stream(workdir, spark, tmp_path, capsys):
    """curate-stream drains an arrival directory: clones across files
    collapse to first arrival, survivors land in the output parquet."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    arr = tmp_path / "arr"
    arr.mkdir()

    def write_file(name, rows):
        tmp = tmp_path / "stage"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp))
        import glob
        import shutil

        shutil.copy(glob.glob(str(tmp / "*.parquet"))[0], str(arr / name))

    write_file("a.parquet", [(1, base)])
    write_file("b.parquet", [(5, base), (6, "unrelated fresh words about streams and state stores")])
    assert main([
        "--workdir", workdir, "curate-stream", str(arr),
        str(tmp_path / "idx"), str(tmp_path / "out"), str(tmp_path / "ck"),
    ]) in (0, None)
    import json as _json

    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["survivors"] == 2


def test_cli_monitor_stream(workdir, spark, tmp_path, capsys):
    """monitor-stream reports per-batch drift flags: quiet on a stable
    profile, flagging the spam batch."""
    good = (
        "the quick brown fox jumps over the lazy dog and that is fine "
        "with everyone because the words have enough variety to pass "
        "every published quality threshold easily today"
    )
    arr = tmp_path / "arr"
    arr.mkdir()

    def write_file(name, rows):
        tmp = tmp_path / "stage"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp))
        import glob
        import shutil

        shutil.copy(glob.glob(str(tmp / "*.parquet"))[0], str(arr / name))

    for b in range(4):
        write_file(f"f{b}.parquet", [(b * 10, good)])
    write_file("f9.parquet", [(900, "$$$ ok ok $$$")])
    assert main([
        "--workdir", workdir, "monitor-stream", str(arr),
        str(tmp_path / "stats"), str(tmp_path / "ck"),
    ]) in (0, None)
    import json as _json

    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["batches"] == 5
    assert payload["drift_batches"] == [4]
    assert payload["last"]["any_drift"] is True
    assert payload["drift_sources"] is None  # legacy mode: no source leg

    # --source-col: per-(batch, source) rows, drift named by source.
    arr2 = tmp_path / "arr2"
    arr2.mkdir()

    def write_sourced(name, rows):
        tmp = tmp_path / "stage2"
        spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp))
        import glob
        import shutil

        shutil.copy(glob.glob(str(tmp / "*.parquet"))[0], str(arr2 / name))

    for b in range(4):
        write_sourced(
            f"f{b}.parquet", [(b * 10, "a", good), (b * 10 + 1, "c", good)]
        )
    write_sourced(
        "f9.parquet", [(900, "a", good), (901, "c", "$$$ ok ok $$$")]
    )
    assert main([
        "--workdir", workdir, "monitor-stream", str(arr2),
        str(tmp_path / "stats2"), str(tmp_path / "ck2"),
        "--source-col", "source",
    ]) in (0, None)
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["batches"] == 5
    assert payload["drift_batches"] == [4]
    # This tiny corpus has no dilution, so the whole-batch row flags
    # too; the healthy source 'a' stays quiet.  (The dilution property
    # itself is pinned in test_streaming.)
    assert payload["drift_sources"] == ["__all__", "c"]


def test_cli_release_audit(workdir, spark, tmp_path, capsys):
    """release-audit: one JSON report with the named gates; a planted
    dirty corpus fails (clones + PII + eval overlap), a clean one
    passes with release_ok=true (and no decontamination row without
    --eval-input)."""
    import json as _json

    base = (
        "the quick brown fox jumps over the lazy dog and that is fine "
        "with everyone because the words have enough variety to pass "
        "every published quality threshold easily today"
    )
    other = (
        "science is the belief in the ignorance of experts and the "
        "willingness to test every idea against the world with honest "
        "numbers that anyone is free to repeat and check again"
    )
    third = (
        "a long time ago the people of this town would gather in the "
        "square and tell stories about the harvest and the weather and "
        "the state of the roads to the next village every evening"
    )
    dirty = [
        (1, "a", base),
        (2, "b", base),                       # exact clone across sources
        (3, "b", base + " extra"),            # near clone
        (4, "a", other + " mail me at a@b.com"),   # PII
        (5, "a", third),
    ]
    clean = [(1, "a", base), (2, "b", other), (3, "a", third)]
    ev = [(100, third)]                        # eval doc sharing 8-grams

    spark.createDataFrame(
        dirty, "doc_id long, source string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "dirty"))
    spark.createDataFrame(
        clean, "doc_id long, source string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "clean"))
    spark.createDataFrame(
        ev, "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "eval"))

    assert main([
        "--workdir", workdir, "release-audit", str(tmp_path / "dirty"),
        "--eval-input", str(tmp_path / "eval"),
    ]) in (0, None)
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = {c["check"]: c for c in payload["checks"]}
    assert set(got) == {
        "dedup_exact", "dedup_near", "pii", "injection", "decontamination",
        "split_contamination", "source_dominance",
    }
    assert got["injection"]["ok"]  # no planted directives here
    assert got["dedup_exact"]["n"] == 1 and not got["dedup_exact"]["ok"]
    assert got["dedup_near"]["n"] == 1 and not got["dedup_near"]["ok"]
    assert got["pii"]["n"] == 1 and not got["pii"]["ok"]
    assert got["decontamination"]["n"] == 1
    assert got["split_contamination"]["ok"]  # content split never leaks
    assert payload["release_ok"] is False

    assert main([
        "--workdir", workdir, "release-audit", str(tmp_path / "clean"),
    ]) in (0, None)
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    checks = {c["check"] for c in payload["checks"]}
    assert "decontamination" not in checks  # no eval set given
    assert payload["release_ok"] is True


def test_cli_release_audit_empty_corpus(workdir, spark, tmp_path, capsys):
    """An EMPTY input corpus must still render a report (n/0 is NULL
    under non-ANSI Spark; the ratio guard coalesces it to 0.0) instead
    of TypeError-ing in the JSON/markdown renderers."""
    import json as _json

    spark.createDataFrame(
        [], "doc_id long, source string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "empty"))
    assert main([
        "--workdir", workdir, "release-audit", str(tmp_path / "empty"),
    ]) in (0, None)
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    for c in payload["checks"]:
        assert c["ratio"] == 0.0, c
        assert c["ok"] is True, c
    assert payload["release_ok"] is True


def test_cli_dataset_card(workdir, spark, tmp_path, capsys):
    """dataset-card renders the composition/fertility/attrition/audit
    sections from the same operators the oracles gate, ends with a
    release verdict, and -o writes the file."""
    base = (
        "the quick brown fox jumps over the lazy dog and that is fine "
        "with everyone because the words have enough variety to pass "
        "every published quality threshold easily today"
    )
    other = (
        "science is the belief in the ignorance of experts and the "
        "willingness to test every idea against the world with honest "
        "numbers that anyone is free to repeat and check again"
    )
    rows = [
        (1, "a", "en", base),
        (2, "b", "en", base),            # cross-source exact clone
        (3, "a", "en", other),
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "docs"))
    card_path = str(tmp_path / "card.md")
    assert main([
        "--workdir", workdir, "dataset-card", str(tmp_path / "docs"),
        "--name", "toy", "-o", card_path,
    ]) in (0, None)
    card = open(card_path).read()
    for section in (
        "# Dataset card: toy", "## Composition", "## Tokenizer fertility",
        "## Dedup attrition", "## Release audit", "Release verdict: FAIL",
    ):
        assert section in card, section
    assert "| dedup_exact | 1 |" in card
    # stdout mode prints the card itself
    assert main([
        "--workdir", workdir, "dataset-card", str(tmp_path / "docs"),
    ]) in (0, None)
    out = capsys.readouterr().out
    assert "# Dataset card: dataset" in out


def test_cli_curate_stream_ladder(workdir, spark, tmp_path, capsys):
    """curate-stream --ladder runs the full curation ladder per
    micro-batch: junk fails the gates, clones collapse, PII is
    scrubbed, and the per-batch report lands in --report-dir."""
    good = (
        "the quick brown fox jumps over the lazy dog and that is fine "
        "with everyone because the words have enough variety to pass "
        "every published quality threshold easily today"
    )
    arr = tmp_path / "arr"
    arr.mkdir()

    def write_file(name, rows):
        tmp = tmp_path / "stage"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp))
        import glob
        import shutil

        shutil.copy(glob.glob(str(tmp / "*.parquet"))[0], str(arr / name))

    write_file("a.parquet", [(1, good), (2, "ok ok ok ok ok")])
    write_file("b.parquet", [
        (5, good),  # exact clone of 1
        (6, good.replace("fox", "cat") + " and you can mail a@b.com too"),
    ])
    assert main([
        "--workdir", workdir, "curate-stream", str(arr),
        str(tmp_path / "idx"), str(tmp_path / "out"), str(tmp_path / "ck"),
        "--ladder", "--report-dir", str(tmp_path / "rep"),
        "--threshold", "0.95",
    ]) in (0, None)
    import json as _json

    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["survivors"] == 2
    out = {r["doc_id"]: r["text"] for r in
           spark.read.parquet(str(tmp_path / "out")).collect()}
    assert set(out) == {1, 6}
    assert "[EMAIL]" in out[6] and "a@b.com" not in out[6]
    rep = spark.read.parquet(str(tmp_path / "rep"))
    assert rep.count() == 2  # one row per micro-batch


def test_cli_impact_and_related(workdir, capsys):
    """The two graph verbs a reference user runs constantly: impact =
    reverse-BFS blast radius, related = co-occurrence neighbors."""
    capsys.readouterr()
    rc = main(["--workdir", workdir, "impact", "bfs"])
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rc in (0, None) and rows
    assert any("reverse_bfs" == (r.get("node") or r.get("name")) for r in rows)
    rc = main(["--workdir", workdir, "related", "minhash_dedup"])
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rc in (0, None) and rows


def test_cli_curate_stream_empty_arrivals(workdir, spark, tmp_path, capsys):
    """An empty arrivals directory (step() never runs, output dir never
    created) still exits cleanly with survivors=0 instead of raising
    PATH_NOT_FOUND on the final count."""
    arr = tmp_path / "arr"
    arr.mkdir()
    assert main([
        "--workdir", workdir, "curate-stream", str(arr),
        str(tmp_path / "idx"), str(tmp_path / "out"), str(tmp_path / "ck"),
    ]) in (0, None)
    import json as _json

    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["survivors"] == 0


def test_cli_export_shards_write_verify_tamper(workdir, spark, tmp_path, capsys):
    """export-shards: write → re-read → recomputed manifest matches
    (verified=true); tampering with one shard's data flips exactly
    that shard's verify row to FAIL; dataset-card --shards-dir links
    the manifest and the verdict follows the shard audit."""
    import json as _json

    from cqs_spark.operators.shards import verify_shards

    rows = [
        (i, "a" if i % 2 else "b", "en",
         f"document number {i} with its own words and enough text "
         "to count some tokens in the manifest")
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "docs"))
    out = str(tmp_path / "shards")

    assert main([
        "--workdir", workdir, "export-shards", str(tmp_path / "docs"), out,
        "--n-shards", "4",
    ]) in (0, None)
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload == {
        "shards": 4, "n_docs": 40, "n_tokens": payload["n_tokens"],
        "verified": True, "bad_shards": [],
    }
    assert payload["n_tokens"] > 0

    # Consumer-side recomputation from the FILES alone agrees.
    audit = verify_shards(spark, out).collect()
    assert len(audit) == 4 and all(r["ok"] for r in audit)

    # Tamper: drop one document from one shard's parquet.
    sh = audit[0]["shard"]
    sdir = f"{out}/data/shard={sh}"
    tampered = spark.read.parquet(sdir).orderBy("doc_id").limit(
        audit[0]["n_docs_expected"] - 1
    ).localCheckpoint(eager=True)
    tampered.write.mode("overwrite").parquet(sdir)
    audit2 = {r["shard"]: r for r in verify_shards(spark, out).collect()}
    assert not audit2[sh]["ok"]
    assert all(r["ok"] for s, r in audit2.items() if s != sh)
    assert audit2[sh]["checksum_actual"] != audit2[sh]["checksum_expected"]

    # dataset-card links the (now failing) shard audit.
    assert main([
        "--workdir", workdir, "dataset-card", str(tmp_path / "docs"),
        "--shards-dir", out,
    ]) in (0, None)
    card = capsys.readouterr().out
    assert "## Shards" in card and "FAIL" in card
    assert "**Release verdict: FAIL**" in card


def test_cli_project_embeddings(workdir, spark, tmp_path, capsys):
    """project-embeddings writes the coordinate table and reports the
    eigen spectrum; re-reading gives one k-D row per vector."""
    import json as _json

    rows = [(t, [2.0 * t, -1.0 * t, 0.5, 0.0]) for t in range(20)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.mode("overwrite").parquet(str(tmp_path / "emb"))
    out = str(tmp_path / "proj")
    assert main([
        "--workdir", workdir, "project-embeddings",
        str(tmp_path / "emb"), out, "--k", "2",
    ]) in (0, None)
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["rows"] == 20 and payload["k"] == 2
    assert payload["eigenvalues"][0] > payload["eigenvalues"][1] >= -1e-6
    got = spark.read.parquet(out)
    assert got.count() == 20
    assert set(got.columns) == {"vec_id", "x0", "x1"}


def test_cli_media_dedup_and_stream(workdir, spark, tmp_path, capsys):
    """media-dedup writes perceptual pairs for a media parquet;
    media-stream seeds a fingerprint index from a backlog and drains
    arrivals against it."""
    import glob
    import shutil

    from cqs_spark.operators.multimodal import encode_bmp, encode_gif, encode_pnm

    def px(seed):
        return [[(seed * 31 + r * 16 + c) * 97 % 256 for c in range(16)] for r in range(16)]

    media = spark.createDataFrame(
        [
            (1, bytearray(encode_pnm(px(1)))),
            (2, bytearray(encode_bmp(px(1)))),   # re-encoded twin of 1
            (3, bytearray(encode_pnm(px(9)))),
        ],
        "media_id long, data binary",
    )
    inp = str(tmp_path / "media")
    media.write.mode("overwrite").parquet(inp)
    capsys.readouterr()
    assert main([
        "--workdir", workdir, "media-dedup", inp, str(tmp_path / "pairs"),
    ]) in (0, None)
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload == {"pairs": 1, "kind": "image"}
    got = spark.read.parquet(str(tmp_path / "pairs")).collect()
    assert [(r["a"], r["b"]) for r in got] == [(1, 2)]

    # --apply writes the deduplicated corpus (min-id survivor)
    assert main([
        "--workdir", workdir, "media-dedup", inp, str(tmp_path / "kept"),
        "--apply",
    ]) in (0, None)
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload == {"survivors": 2, "total": 3, "kind": "image"}
    kept = {r["media_id"] for r in spark.read.parquet(str(tmp_path / "kept")).collect()}
    assert kept == {1, 3}

    # video mode: twin = clipped re-encode
    vids = spark.createDataFrame(
        [
            (1, bytearray(encode_gif([px(i) for i in range(4)]))),
            (2, bytearray(encode_gif([px(i) for i in range(1, 4)], interlace=True))),
            (3, bytearray(encode_gif([px(i) for i in range(20, 23)]))),
        ],
        "media_id long, data binary",
    )
    vinp = str(tmp_path / "vids")
    vids.write.mode("overwrite").parquet(vinp)
    assert main([
        "--workdir", workdir, "media-dedup", vinp, str(tmp_path / "vpairs"),
        "--kind", "video",
    ]) in (0, None)
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload == {"pairs": 1, "kind": "video"}

    # stream: seed from backlog (1,3), arrivals carry a twin + fresh
    arr = tmp_path / "arr"
    arr.mkdir()
    stage = tmp_path / "stage"
    spark.createDataFrame(
        [(10, bytearray(encode_bmp(px(9)))), (11, bytearray(encode_pnm(px(40))))],
        "media_id long, data binary",
    ).coalesce(1).write.mode("overwrite").parquet(str(stage))
    shutil.copy(glob.glob(str(stage / "*.parquet"))[0], str(arr / "f1.parquet"))
    assert main([
        "--workdir", workdir, "media-stream", str(arr),
        str(tmp_path / "midx"), str(tmp_path / "mout"), str(tmp_path / "mck"),
        "--seed", inp,
    ]) in (0, None)
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload == {"survivors": 1}
    assert {r["media_id"] for r in spark.read.parquet(str(tmp_path / "mout")).collect()} == {11}


def test_cli_media_audit(workdir, spark, tmp_path, capsys):
    """media-audit renders the (check, n, ratio, ok) report; a corpus
    of twin pairs flags near_dup_items."""
    from cqs_spark.operators.multimodal import encode_bmp, encode_pnm

    def px(seed):
        return [[(seed * 31 + r * 16 + c) * 97 % 256 for c in range(16)] for r in range(16)]

    media = spark.createDataFrame(
        [
            (1, bytearray(encode_pnm(px(1)))),
            (2, bytearray(encode_bmp(px(1)))),
            (3, bytearray(encode_pnm(px(9)))),
            (4, bytearray(b"garbage")),
        ],
        "media_id long, data binary",
    )
    inp = str(tmp_path / "amedia")
    media.write.mode("overwrite").parquet(inp)
    capsys.readouterr()
    assert main(["--workdir", workdir, "media-audit", inp]) in (0, None)
    rows = {
        json.loads(l)["check"]: json.loads(l)
        for l in capsys.readouterr().out.strip().splitlines()
    }
    assert rows["total"]["n"] == 4 and rows["total"]["ok"]
    assert rows["decodable"]["n"] == 3 and rows["decodable"]["ok"]
    assert rows["quarantined"]["n"] == 1
    assert rows["near_dup_items"]["n"] == 2 and not rows["near_dup_items"]["ok"]
    assert rows["pii"]["n"] == 0 and rows["pii"]["ok"]
    assert rows["pii_unscannable"]["n"] == 1 and not rows["pii_unscannable"]["ok"]


def test_cli_media_pii_and_export(workdir, spark, tmp_path, capsys):
    """media-pii reports metadata PII counts and writes stripped twins;
    media-export ships sharded, re-scanned, pii_clean-certified data."""
    from cqs_spark.operators.jpegcodec import encode_jpeg
    from cqs_spark.operators.mediameta import inject_jpeg_metadata
    from cqs_spark.operators.multimodal import encode_png

    def px(seed):
        return [[(seed * 31 + r * 16 + c) * 97 % 256 for c in range(16)] for r in range(16)]

    media = spark.createDataFrame(
        [
            (1, bytearray(inject_jpeg_metadata(encode_jpeg(px(1)), gps=(1, 2, 3)))),
            (2, bytearray(encode_png(px(2)))),
            (3, bytearray(b"not media")),
        ],
        "media_id long, data binary",
    )
    inp = str(tmp_path / "pmedia")
    media.write.mode("overwrite").parquet(inp)
    capsys.readouterr()
    assert main([
        "--workdir", workdir, "media-pii", inp,
        "--strip", str(tmp_path / "clean"),
    ]) in (0, None)
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert lines[0]["total"] == 3 and lines[0]["pii"] == 1
    assert lines[0]["gps"] == 1 and lines[0]["quarantined"] == 1
    assert lines[-1] == {"stripped": 2}

    assert main([
        "--workdir", workdir, "media-export", inp,
        str(tmp_path / "mrel"), "--shards", "2",
    ]) in (0, None)
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert sum(r["n_items"] for r in rows) == 2
    assert all(r["pii_clean"] for r in rows)


def test_cli_media_monitor(workdir, spark, tmp_path, capsys):
    """media-monitor drains arrivals and reports drift batches."""
    import glob
    import shutil

    from cqs_spark.operators.jpegcodec import encode_jpeg
    from cqs_spark.operators.mediameta import inject_jpeg_metadata

    def px(seed):
        return [[(seed * 31 + r * 16 + c) * 97 % 256 for c in range(16)] for r in range(16)]

    def plant(name, rows):
        stage = tmp_path / "mstage"
        spark.createDataFrame(
            rows, "media_id long, data binary"
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
        shutil.copy(glob.glob(str(stage / "*.parquet"))[0], str(arr / name))

    arr = tmp_path / "mmarr"
    arr.mkdir()
    for b in range(4):
        plant(f"f{b}.parquet", [(b, bytearray(encode_jpeg(px(b))))])
    plant("f9.parquet", [
        (90, bytearray(inject_jpeg_metadata(encode_jpeg(px(9)), serial="S1"))),
    ])
    capsys.readouterr()
    assert main([
        "--workdir", workdir, "media-monitor", str(arr),
        str(tmp_path / "mmstats"), str(tmp_path / "mmckpt"),
    ]) in (0, None)
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["batches"] == 5 and payload["drift_batches"] == [4]
    assert payload["last"]["pii_ratio"] == 1.0
