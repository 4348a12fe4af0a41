"""Index build: listing → parse → window → identity/hashes → tables.

The reference's 3-stage concurrent pipeline (src/cli/pipeline/mod.rs:1-46:
parse → embed → store with bounded channels and GPU work-steal)
dissolves into one declarative DataFrame job — Spark's scheduler
provides the stage pipelining, and atomic parquet/table commits replace
the transactional UPSERT (src/cli/pipeline/upsert.rs).

Identity and hashing are JVM-side column expressions:
  id             = {origin}:{line_start}:{len}:{hash8}  (reference id
                   scheme, src/parser/types.rs:34-40 — join-friendly,
                   deterministic)
  content_hash   = sha2(content)         (blake3 in the reference; the
                   required property is a stable content key, not the
                   specific hash — SURVEY.md §1.2)
  canonical_hash = sha2(comment/whitespace-normalized content) — the
                   embedding-reuse key (src/cli/pipeline/reuse.rs
                   canon_key_ref): formatting-only edits keep the hash.
  vendored       = path-prefix flag (src/vendored.rs)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

VENDORED_MARKERS = ("/vendor/", "/node_modules/", "/third_party/", "/.venv/")


def list_files(
    spark: SparkSession, root: str, glob: str = "*.{py,md}"
) -> DataFrame:
    """Recursive gitignore-ish file listing with content (binaryFile source).

    Spark's binaryFile source provides (path, modificationTime, length,
    content) — listing and fingerprint columns in one scan.  Hidden
    dirs are excluded by the source's default path filtering; extra
    exclusions are plain predicates on ``path`` (the gitignore filter
    becomes a pushed-down path predicate at scale).
    """
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(root)
    )


def registry_of(files: DataFrame) -> DataFrame:
    """file_registry fingerprints from a binaryFile listing."""
    return files.select(
        F.col("path").alias("origin"),
        F.unix_micros(F.col("modificationTime")).alias("source_mtime"),
        F.col("length").alias("source_size"),
        F.sha2(F.col("content"), 256).alias("source_content_hash"),
    )


# Language families by line-comment syntax.  The reference strips comment
# nodes tree-precisely (src/parser/chunk.rs:179 canonical_hash walks
# tree-sitter comment descendants); our regex approximation must therefore be
# language-aware — '#' is a comment only in hash-comment languages, and
# everything else falls back to whitespace-collapse-only canonicalization,
# matching canonical_hash_fallback (src/parser/chunk.rs:150).
HASH_COMMENT_LANGS = (
    "python", "shell", "bash", "ruby", "yaml", "toml", "perl", "r",
    "powershell", "elixir", "julia", "nix", "hcl", "make", "ini", "graphql",
)
SLASH_COMMENT_LANGS = (
    "c", "cpp", "java", "javascript", "typescript", "go", "rust",
    "csharp", "kotlin", "swift", "scala", "php",
    "dart", "objc", "solidity", "zig", "protobuf", "gleam", "fsharp",
    "cuda", "glsl",
)
DASH_COMMENT_LANGS = ("sql", "lua", "haskell", "elm")


def _canonical(content, language=None):
    """Comment-/whitespace-normalized content (the embedding-reuse key).

    Comment markers are only honored when preceded by start-of-line or
    whitespace, so ``url#anchor`` and ``http://`` survive.  A marker at
    line start inside a multi-line string is still stripped — acceptable
    for a cache key (deterministic; worst case an extra cache collision
    between contents identical after stripping), same trade the
    reference accepts on its fallback path.
    """
    ws = lambda c: F.trim(F.regexp_replace(c, r"\s+", " "))  # noqa: E731
    if language is None:
        return ws(F.regexp_replace(content, r"(?m)(^|\s)#[^\n]*$", "$1"))
    hash_stripped = F.regexp_replace(content, r"(?m)(^|\s)#[^\n]*$", "$1")
    slash_stripped = F.regexp_replace(content, r"(?m)(^|\s)//[^\n]*$", "$1")
    dash_stripped = F.regexp_replace(content, r"(?m)(^|\s)--[^\n]*$", "$1")
    return ws(
        F.when(language.isin(*HASH_COMMENT_LANGS), hash_stripped)
        .when(language.isin(*SLASH_COMMENT_LANGS), slash_stripped)
        .when(language.isin(*DASH_COMMENT_LANGS), dash_stripped)
        .otherwise(content)
    )


def with_identity(chunks: DataFrame) -> DataFrame:
    """Add id / hashes / vendored to parsed chunk rows (all JVM-side)."""
    hash8 = F.substring(F.sha2(F.col("content"), 256), 1, 8)
    cid = F.concat_ws(
        ":",
        F.col("origin"),
        F.col("line_start").cast("string"),
        F.length("content").cast("string"),
        hash8,
    )
    vendored = F.lit(False)
    for marker in VENDORED_MARKERS:
        vendored = vendored | F.col("origin").contains(marker)
    return (
        chunks.withColumn("id", cid)
        .withColumn("parent_id", F.lit(None).cast("string"))
        .withColumn("window_idx", F.lit(None).cast("int"))
        .withColumn("content_hash", F.sha2(F.col("content"), 256))
        .withColumn(
            "canonical_hash",
            F.sha2(_canonical(F.col("content"), F.col("language")), 256),
        )
        .withColumn("vendored", vendored)
    )


def build_chunks(
    files: DataFrame, max_tokens: int | None = 512, convert: bool = False
) -> DataFrame:
    """Full parse stage: files → [convert] → windowed, identified chunks.

    ``convert=True`` inserts the HTML/PDF→Markdown stage before the
    chunker (pass-through for source files); enable it for listings
    whose glob includes document formats.
    """
    from cqs_spark.index.chunker import parse_files
    from cqs_spark.index.windowing import apply_windowing

    if convert:
        from cqs_spark.index.convert import convert_files

        files = convert_files(files)
    chunks = with_identity(parse_files(files))
    if max_tokens:
        chunks = apply_windowing(chunks, max_tokens=max_tokens)
    return chunks
