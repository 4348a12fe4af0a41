"""Query-expansion synonym table with runtime overlay semantics.

Parity with the reference's synonym subsystem (src/search/synonyms.rs):
a builtin abbreviation table (synonyms.rs:20 builtin_synonyms) merged
with optional operator-supplied overlays (synonyms.rs:84
install_synonym_overlay — last install wins per key, keys lowercased),
loaded from a bounded, validated TOML file (synonyms.rs:124
load_synonym_overlay — 4 KiB cap, ``[A-Za-z0-9_]+`` token safety,
missing/malformed file degrades to builtins).

Expansion is query-side only — documents are never rewritten.  Two
surfaces:

  expand_query_for_fts   '(tok OR syn ...)' AND-joined string for an
                         FTS engine (synonyms.rs:221)
  expand_terms           flat ordered token list for the postings-join
                         keyword scorer (the Spark-native form: the
                         expanded terms simply join the broadcast
                         query-term list)
"""

from __future__ import annotations

import logging

log = logging.getLogger(__name__)

# Builtin abbreviation expansions (synonyms.rs:20-52) — the initial
# floor before any overlay is installed.
_BUILTIN: dict[str, list[str]] = {
    "auth": ["authentication", "authorize", "credential"],
    "config": ["configuration", "settings"],
    "cfg": ["configuration", "config", "settings"],
    "err": ["error", "failure", "exception"],
    "fn": ["function", "method"],
    "func": ["function", "method"],
    "init": ["initialize", "setup", "initialization"],
    "parse": ["parsing", "deserialize", "decode"],
    "req": ["request"],
    "res": ["response", "result"],
    "fmt": ["format", "formatting"],
    "db": ["database", "storage"],
    "ctx": ["context"],
    "msg": ["message"],
    "cmd": ["command"],
    "buf": ["buffer"],
    "str": ["string"],
    "impl": ["implementation", "implement"],
    "alloc": ["allocate", "allocation"],
    "dealloc": ["deallocate", "free"],
    "arg": ["argument", "parameter"],
    "args": ["arguments", "parameters"],
    "param": ["parameter", "argument"],
    "params": ["parameters", "arguments"],
    "iter": ["iterator", "iteration"],
    "async": ["asynchronous"],
    "sync": ["synchronous", "synchronize"],
    "env": ["environment"],
    "dir": ["directory", "folder"],
    "deps": ["dependencies", "dependency"],
    "repo": ["repository"],
}

_table: dict[str, list[str]] = dict(_BUILTIN)


def current_synonyms() -> dict[str, list[str]]:
    """The merged table (builtins + installed overlays)."""
    return dict(_table)


def install_synonym_overlay(extras: dict[str, list[str]]) -> None:
    """Merge an overlay into the table — overwrite per key, keys
    lowercased so a config typo like ``Auth`` still matches the
    (lowercasing) lookup.  Empty maps are no-ops.  (synonyms.rs:84)"""
    if not extras:
        return
    for k, v in extras.items():
        _table[k.lower()] = list(v)
    log.info("Installed synonym overlay (%d entries)", len(extras))


def reset_synonyms() -> None:
    """Reset to builtins (the test-only hook, synonyms.rs:103)."""
    _table.clear()
    _table.update(_BUILTIN)


def _is_fts_safe(s: str) -> bool:
    return bool(s) and all(c.isascii() and (c.isalnum() or c == "_") for c in s)


def load_synonym_overlay(path: str) -> dict[str, list[str]]:
    """Parse a ``synonyms.toml`` overlay (``[synonyms]`` table of
    key -> [expansions]) with the reference's safety envelope
    (synonyms.rs:124): missing file → {}; malformed TOML → warn + {};
    unsafe keys skipped / unsafe expansions dropped per entry; read
    bounded at 4 KiB so a hostile config can't OOM the build.
    """
    import tomllib

    max_bytes = 4096
    try:
        with open(path, "rb") as fh:
            raw = fh.read(max_bytes)
    except FileNotFoundError:
        return {}
    except OSError as exc:
        log.warning("Failed to open synonym overlay %s: %s", path, exc)
        return {}
    try:
        parsed = tomllib.loads(raw.decode("utf-8", errors="replace"))
    except tomllib.TOMLDecodeError as exc:
        log.warning("Synonym overlay %s is malformed TOML: %s", path, exc)
        return {}
    table = parsed.get("synonyms")
    if not isinstance(table, dict):
        return {}
    out: dict[str, list[str]] = {}
    for k, v in table.items():
        if not _is_fts_safe(k):
            log.warning("Synonym overlay key %r unsafe — skipping", k)
            continue
        kept = [e for e in v if _is_fts_safe(e)]
        if len(kept) < len(v):
            log.warning("Synonym overlay key %r: dropped unsafe expansions", k)
        if kept:
            out[k] = kept
    return out


def expand_query_for_fts(sanitized_query: str) -> str:
    """'(tok OR syn1 OR syn2)' per synonym-bearing token, AND-joined
    when any OR group is present (synonyms.rs:221).  Input must be
    pre-sanitized (sanitize_fts_query)."""
    tokens = sanitized_query.split()
    if not tokens:
        return ""
    parts: list[str] = []
    has_group = False
    for tok in tokens:
        entries = _table.get(tok.lower())
        if entries:
            parts.append("(" + " OR ".join([tok, *entries]) + ")")
            has_group = True
        else:
            parts.append(tok)
    return (" AND " if has_group else " ").join(parts)


def expand_terms(terms: list[str]) -> list[str]:
    """Flat order-preserving expansion for the postings-join scorer:
    each term followed by its expansions, first occurrence wins."""
    out: list[str] = []
    for t in terms:
        for cand in [t, *_table.get(t.lower(), [])]:
            if cand not in out:
                out.append(cand)
    return out


def expand_queries_df(queries, id_col: str, query_col: str, table=None):
    """Distributed twin of expand_query_for_fts over a sanitized
    query-log column: (id, fts) with the same '(tok OR syn ...)'
    AND-joined grammar (synonyms.rs:221).

    The synonym table broadcasts as a pre-joined (term, tail) dim —
    one row per term, the OR-tail precomputed driver-side so list
    order survives the join.  Empty expansion lists are skipped, like
    the driver function's falsy-entries check — they must not produce
    a '(tok OR )' group.  Tokens explode with position and reassemble
    via an in-group array_sort, so the output string is
    shuffle-order-independent.  Queries whose sanitized form is empty
    keep a row with fts = '' (the driver-side function's behavior).
    ``table`` overrides the module table for callers that need a
    pinned snapshot (e.g. oracle-gated queries).
    """
    from pyspark.sql import functions as F

    spark = queries.sparkSession
    src = _table if table is None else table
    tails = [(k, " OR ".join(v)) for k, v in sorted(src.items()) if v]
    syn = F.broadcast(spark.createDataFrame(tails, "term string, tail string"))
    toks = queries.select(
        id_col, F.posexplode(F.split(F.col(query_col), " ")).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    parts = toks.join(syn, F.lower(F.col("tok")) == F.col("term"), "left").select(
        id_col,
        "pos",
        F.when(
            F.col("tail").isNotNull(),
            F.concat(F.lit("("), "tok", F.lit(" OR "), "tail", F.lit(")")),
        )
        .otherwise(F.col("tok"))
        .alias("part"),
        F.col("tail").isNotNull().alias("grp"),
    )
    agg = parts.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "part"))),
            lambda s: s["part"],
        ).alias("arr"),
        F.max("grp").alias("hg"),
    )
    return queries.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce(
            F.when(F.col("hg"), F.array_join("arr", " AND ")).otherwise(
                F.array_join("arr", " ")
            ),
            F.lit(""),
        ).alias("fts"),
    )
