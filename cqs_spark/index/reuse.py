"""Embedding stage with the canonical-hash reuse cache.

The single biggest cost lever at 100 TB (SURVEY.md §2.7): chunks whose
canonical hash (comment/whitespace-normalized content) is already in
the cache table skip inference entirely
(src/cache/embedding_cache.rs:15, src/cli/pipeline/reuse.rs).  The
join is a plain left join on ``canonical_hash``; only misses reach the
inference UDF.

Inference backend: ONNX/sentence-transformers when installed (the
documented mapInPandas batch-inference pattern — model loaded once per
executor).  Neither wheel exists in this container, so the default
backend is ``ri_embedding`` — random-indexing bag-of-tokens, a REAL
classical distributional encoder (deterministic, wheel-free); the
whole-text sha256 ``fake_embedding`` remains as the random-basis
generator and a pure stand-in for tests.  The Spark plumbing — Arrow
batching, schema, cache-miss routing, L2 normalization — is identical
for every backend; only the model call swaps.
"""

from __future__ import annotations

import functools
import hashlib
import math
import re as _re
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F, types as T

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

try:  # pragma: no cover - not present in this container
    import onnxruntime  # noqa: F401

    HAVE_ONNX = True
except ImportError:
    HAVE_ONNX = False

DEFAULT_DIM = 64


def fake_embedding(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Deterministic unit vector from sha256 expansion.

    Used directly as a whole-text FAKE model in some tests, and as the
    deterministic RANDOM BASIS generator for ri_embedding and the LSH
    hyperplanes (near-orthogonal high-dim vectors, no RNG).
    """
    raw: list[float] = []
    counter = 0
    seed = text.encode("utf-8", errors="replace")
    while len(raw) < dim:
        h = hashlib.sha256(seed + b":" + str(counter).encode()).digest()
        raw.extend(b / 255.0 - 0.5 for b in h)
        counter += 1
    v = raw[:dim]
    nrm = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / nrm for x in v]


_RI_WORD_RE = _re.compile(r"[A-Za-z0-9_]+")
_RI_CAMEL_RE = _re.compile(r"(?<=[a-z0-9])(?=[A-Z])")
_RI_SUB_RE = _re.compile(r"[a-z]+|[0-9]+")
SUBWORD_WEIGHT = 0.5


@functools.lru_cache(maxsize=65536)
def _token_basis(token: str, dim: int) -> tuple[float, ...]:
    return tuple(fake_embedding("tok:" + token, dim))


@functools.lru_cache(maxsize=65536)
def _subtokens(raw: str) -> tuple[str, ...]:
    """Identifier parts of a raw (case-preserved) token: snake_case and
    lower→Upper camelCase boundaries + digit runs.  'reverse_bfs' ->
    (reverse, bfs); 'parseHtmlDoc' -> (parse, html, doc); acronym runs
    stay joined ('HTMLDoc' -> (htmldoc,), which is a single part of the
    parent token).  Single-part tokens return () so plain words cost
    nothing extra."""
    parts = _RI_SUB_RE.findall(_RI_CAMEL_RE.sub(" ", raw).lower())
    return tuple(parts) if len(parts) > 1 else ()


def ri_embedding(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Random-indexing bag-of-tokens embedding (Kanerva-style random
    indexing / hashed random projection of the tf vector).

    The document vector is the log-tf-weighted sum of a deterministic
    near-orthogonal random basis vector per token, L2-normalized — a
    REAL classical distributional encoder: documents sharing vocabulary
    land close in cosine, no model wheel required.  Identifier tokens
    additionally contribute their snake_case/camelCase SUBWORD bases at
    half weight (fastText-style subword composition), so the query
    "label propagation" lands near ``label_propagation`` even when the
    prose never spells the identifier — the gap a whole-token bag
    cannot close on code corpora.  This is the default content/query
    encoder; a neural ONNX model slots into the same signature.
    """
    raw_toks = _RI_WORD_RE.findall(text) if text else []
    if not raw_toks:
        return fake_embedding("", dim)
    tf: dict[str, int] = {}
    sub_tf: dict[str, int] = {}
    for raw in raw_toks:
        t = raw.lower()
        tf[t] = tf.get(t, 0) + 1
        for s in _subtokens(raw):
            sub_tf[s] = sub_tf.get(s, 0) + 1
    acc = [0.0] * dim
    for table, scale in ((tf, 1.0), (sub_tf, SUBWORD_WEIGHT)):
        for t, n in table.items():
            w = scale * (1.0 + math.log(n))
            basis = _token_basis(t, dim)
            for i in range(dim):
                acc[i] += w * basis[i]
    nrm = math.sqrt(sum(x * x for x in acc)) or 1.0
    return [x / nrm for x in acc]


def embed_stage(
    df: DataFrame,
    text_col: str,
    dim: int = DEFAULT_DIM,
    model: "ModelConfig | None" = None,
    cached_col: str | None = None,
) -> DataFrame:
    """Append an ``embedding`` column via Arrow-batched mapInPandas.

    The real-model variant loads the encoder once per worker inside
    ``run`` (executor-local singleton); each Arrow batch is re-sliced to
    the model-derived inference batch (``ModelConfig.embed_batch_size``,
    src/embedder/models.rs:789 — dim/seq-scaled so long-sequence models
    don't OOM the accelerator).  The fake encoder keeps the exact same
    dataflow and slicing.

    ``cached_col`` names a column of already-known vectors: a row with
    one passes it through as its ``embedding`` (the column is dropped),
    and only the rows without one reach the encoder.
    """
    import pandas as pd  # noqa: F811

    from cqs_spark.index.models import ModelConfig

    if model is None:
        model = ModelConfig.ri(dim)
    bsz = model.embed_batch_size()

    schema = T.StructType(
        [f for f in df.schema.fields if f.name != cached_col]
        + [T.StructField("embedding", T.ArrayType(T.FloatType(), False), False)]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # Real backend would initialize the ONNX session HERE, once.
        for pdf in batches:
            pdf = pdf.copy()
            if cached_col is None:
                out: list = [None] * len(pdf)
            else:
                out = pdf.pop(cached_col).tolist()
            todo = [i for i, v in enumerate(out) if v is None]
            texts = pdf[text_col].tolist()
            for start in range(0, len(todo), bsz):
                # One encoder call per slice in the real backend.
                for i in todo[start : start + bsz]:
                    t = texts[i]
                    out[i] = ri_embedding(t if isinstance(t, str) else "", dim)
            pdf["embedding"] = out
            yield pdf

    return df.mapInPandas(run, schema)


def _active_cache(cache: DataFrame, fp: str) -> DataFrame:
    """The cache rows that serve model ``fp``: (canonical_hash, embedding)."""
    if "fingerprint" in cache.columns:
        cache = cache.filter(F.col("fingerprint") == fp).drop("fingerprint")
    return cache


def new_cache_rows(
    embedded: DataFrame,
    cache: DataFrame | None,
    text_col: str = "content",
    dim: int = DEFAULT_DIM,
    model: "ModelConfig | None" = None,
) -> DataFrame:
    """Cache rows to persist after an embed: one (canonical_hash,
    embedding, fingerprint) row per canonical hash of ``embedded`` that
    ``cache`` does not yet hold for the model.

    ``embedded`` is any frame of embedded rows, so a caller that has
    just WRITTEN its embedded chunks derives the rows from that table
    instead of re-running parse and embed.  min_by keeps the cache
    deterministic when several chunks share a canonical hash but differ
    in raw text (formatting-only variants).
    """
    from cqs_spark.index.models import ModelConfig

    if model is None:
        model = ModelConfig.ri(dim)
    fp = model.fingerprint()
    if cache is not None:
        embedded = embedded.join(
            _active_cache(cache, fp).select("canonical_hash"),
            "canonical_hash",
            "left_anti",
        )
    return (
        embedded.groupBy("canonical_hash")
        .agg(F.min_by("embedding", text_col).alias("embedding"))
        .withColumn("fingerprint", F.lit(fp))
    )


def embed_with_cache(
    chunks: DataFrame,
    cache: DataFrame | None,
    text_col: str = "content",
    dim: int = DEFAULT_DIM,
    model: "ModelConfig | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """Resolve embeddings through the reuse cache; embed only misses.

    Returns (embedded_chunks, new_cache_rows).  ``cache`` is
    (canonical_hash, fingerprint, embedding); pass None for a cold
    build.  Rows are keyed by MODEL FINGERPRINT as well as canonical
    hash (src/cache/embedding_cache.rs:15 keys (content_hash,
    model_fingerprint)) — a model swap re-embeds instead of serving
    another model's vectors; a legacy fingerprint-less cache is treated
    as belonging to the active model.  The caller persists
    new_cache_rows (append/MERGE) for the next run.

    Cost: one broadcast left join of ``chunks`` against the cache, then
    ONE mapInPandas that passes cached vectors through and runs the
    encoder on the misses only — ``chunks``' own plan (the parse) is
    evaluated once.  new_cache_rows is ``new_cache_rows(embedded,
    cache)``: a function of the embedded rows, so evaluating it re-runs
    the embed; callers that write the embedded chunks first should
    call ``new_cache_rows`` on the written table instead.
    """
    from cqs_spark.index.models import ModelConfig

    if model is None:
        model = ModelConfig.ri(dim)
    if cache is None:
        embedded = embed_stage(chunks, text_col, dim, model=model)
    else:
        hits = _active_cache(cache, model.fingerprint()).select(
            "canonical_hash", F.col("embedding").alias("_cached")
        )
        joined = chunks.join(F.broadcast(hits), "canonical_hash", "left").select(
            *chunks.columns, "_cached"
        )
        embedded = embed_stage(joined, text_col, dim, model=model, cached_col="_cached")
    return embedded, new_cache_rows(embedded, cache, text_col, dim, model)
