"""Telemetry aggregation (round-2 coverage additions)."""

from __future__ import annotations

import json

from cqs_spark.operators.telemetry import (
    category_counts,
    command_counts,
    redact_query,
    session_counts,
    telemetry_report,
    top_queries,
)


def _log(tmp_path):
    rows = [
        {"ts": 1000, "command": "search", "query": "parse config", "result_count": 5},
        {"ts": 2000, "command": "search", "query": "parse config", "result_count": 5},
        {"ts": 3000, "command": "callers", "query": None, "result_count": 2},
        {"ts": 4000 + 5 * 3600, "command": "task", "query": "plan", "result_count": 1},
        {"ts": 5000 + 5 * 3600, "command": "doctor", "query": None, "result_count": 0},
    ]
    p = tmp_path / "telemetry.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    return str(p)


def test_telemetry_report(spark, tmp_path):
    from cqs_spark.operators.telemetry import read_telemetry

    df = read_telemetry(spark, _log(tmp_path))
    rep = telemetry_report(df, key_col="command")
    assert rep["events"] == 5
    assert rep["date_range"] == (1000, 5000 + 5 * 3600)
    cmds = {r["command"]: r["n"] for r in rep["commands"].collect()}
    assert cmds == {"search": 2, "callers": 1, "task": 1, "doctor": 1}
    cats = {r["category"]: r["n"] for r in rep["categories"].collect()}
    # category_for mapping (telemetry_cmd.rs:76): search→Search,
    # callers→Structural, task→Orchestrator, unknown→Infra.
    assert cats == {"Search": 2, "Structural": 1, "Orchestrator": 1, "Infra": 1}
    top = [(r["query"], r["n"]) for r in rep["top_queries"].collect()]
    assert top[0] == ("parse config", 2)


def test_session_gap_counting(spark):
    # user 1: events at t=0, 1h, 10h -> 2 sessions (gap 9h > 4h).
    # user 2: one event -> 1 session.
    rows = [(1, 0), (1, 3600), (1, 36000), (2, 50)]
    df = spark.createDataFrame(rows, "user_id long, ts long")
    got = {r["key"]: (r["n_sessions"], r["n_events"])
           for r in session_counts(df, "user_id", "ts").collect()}
    assert got == {1: (2, 3), 2: (1, 1)}


def test_redact_query_digest(spark):
    df = spark.createDataFrame([("secret query",), ("secret query",), ("other",)], ["q"])
    got = [r["d"] for r in df.select(redact_query("q").alias("d")).collect()]
    assert got[0] == got[1] != got[2]
    assert len(got[0]) == 8 and got[0] != "secret q"


def test_category_keys_are_cli_verbs():
    """Every dashboard category key is a verb of this CLI, so no verb
    is counted as Infra under a name only the reference uses."""
    import argparse

    from cqs_spark.__main__ import _parser
    from cqs_spark.operators.telemetry import CATEGORY_FOR

    (verbs,) = [
        a.choices for a in _parser()._actions
        if isinstance(a, argparse._SubParsersAction)
    ]
    assert sorted(set(CATEGORY_FOR) - set(verbs)) == []
