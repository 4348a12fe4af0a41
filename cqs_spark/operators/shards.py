"""Export-shard writer + manifest: the reproducible-release artifact.

``shard_plan`` (q92) PLANS balanced shards; this module WRITES them
and ships the per-shard manifest (row count, token count, an
order-invariant content checksum) that makes a release verifiable: a
consumer re-reads a shard, recomputes its manifest row, and any
mismatch — truncated file, re-encode, silent row loss — surfaces as a
checksum diff instead of a training-run surprise.

Reference parallel: the HNSW sidecar persists blake3 checksums next to
the data it guards (src/hnsw/persist.rs); the Spark shape is a
manifest TABLE next to the shard directories, with the house
engine-portable md5-prefix hash (the _HEX11 idiom) instead of blake3.

Scale shape: shard assignment is the same multiplicative hash as
``shard_plan`` (one narrow projection, no global sort), the write is
one ``partitionBy("shard")`` pass, and the manifest is one groupBy
over (id, token-count, hash) projections — XOR-aggregated checksums
are order-invariant and never overflow, so the manifest of a 100 TB
corpus is still n_shards rows computed map-side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from cqs_spark.operators.textops import shard_bucket
from cqs_spark.partitioning import fan_out


def _doc_hash(id_col: str, text_col: str):
    """Engine-portable per-doc content hash: 44-bit md5 prefix of
    ``id:text`` (the id binds the text to its row, so swapping two
    docs' texts changes the checksum even though the multiset of texts
    does not)."""
    from cqs_spark.operators.dedup import _hash44

    return _hash44(
        f"md5(concat(CAST({id_col} AS STRING), ':', {text_col}))"
    )


def shard_manifest(
    df: DataFrame, id_col: str, text_col: str, n_shards: int = 16
) -> DataFrame:
    """Per-shard manifest: (shard, n_docs, n_tokens, min_doc, max_doc,
    checksum).  ``checksum`` is the bit-XOR of the per-doc 44-bit
    hashes — order-invariant (shard files may be written in any task
    order) and overflow-free, and both engines aggregate it
    identically (oracle-gated as q167)."""
    from cqs_spark.functions.text import words

    rows = fan_out(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"),
        shard_bucket(id_col, n_shards).alias("shard"),
        F.size(words(text_col)).cast("long").alias("_n"),
        _doc_hash(id_col, text_col).alias("_h"),
    )
    return (
        rows.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("n_tokens"),
            F.min("_id").alias("min_doc"),
            F.max("_id").alias("max_doc"),
            F.expr("bit_xor(_h)").alias("checksum"),
        )
        .orderBy("shard")
    )


def write_shards(
    df: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
) -> DataFrame:
    """Materialize the corpus as ``out_dir/data/shard=N/`` parquet
    plus ``out_dir/manifest.parquet``; returns the manifest frame.

    The manifest is computed from the INPUT frame and the data is
    written in the same job shape — ``verify_shards`` then proves the
    two agree from the files alone, which is the release contract
    (write → re-read → recomputed manifest matches)."""
    manifest = shard_manifest(df, id_col, text_col, n_shards)
    (
        df.select(*df.columns)
        .withColumn("shard", shard_bucket(id_col, n_shards))
        .repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(os.path.join(out_dir, "data"))
    )
    manifest.write.mode("overwrite").parquet(
        os.path.join(out_dir, "manifest.parquet")
    )
    return manifest


def write_media_shards(
    media: DataFrame,
    out_dir: str,
    id_col: str = "media_id",
    data_col: str = "data",
    n_shards: int = 16,
) -> DataFrame:
    """Release-path media export: every blob is METADATA-STRIPPED
    (``mediameta.strip_media_metadata`` — EXIF/GPS/serial, PNG text,
    container comments) before it touches disk; blobs whose containers
    cannot be parsed are dropped (an unparseable blob cannot be
    certified PII-clean).  Data lands as ``out_dir/data/shard=N/``
    parquet; the manifest is computed by RE-READING the written files
    (write → re-read → certify, the q167 contract) and carries, per
    shard: n_items, n_bytes, an order-invariant XOR content checksum,
    and ``pii_clean`` — a re-scan of the shipped bytes, not a promise
    about the input.  Returns the manifest frame.

    Scale shape: strip is scan-side Arrow work; shard assignment is a
    pure function of the id (no join to recover it at manifest time);
    both manifest legs are map-side aggregations to n_shards rows."""
    from cqs_spark.operators.dedup import _hash44
    from cqs_spark.operators.mediameta import (
        media_metadata_scan,
        media_metadata_strip,
    )

    spark = media.sparkSession
    stripped = (
        media_metadata_strip(media, id_col, data_col)
        .filter(F.col(data_col).isNotNull())
        .withColumn("shard", shard_bucket(id_col, n_shards))
    )
    (
        stripped.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(os.path.join(out_dir, "data"))
    )
    data = spark.read.parquet(os.path.join(out_dir, "data"))
    blob_hash = _hash44(
        f"md5(concat(CAST({id_col} AS STRING), ':', md5({data_col})))"
    )
    content = (
        data.select(
            F.col("shard").cast("int").alias("shard"),
            F.length(data_col).cast("long").alias("_b"),
            blob_hash.alias("_h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("_b").alias("n_bytes"),
            F.expr("bit_xor(_h)").alias("checksum"),
        )
    )
    rescan = (
        media_metadata_scan(data, id_col, data_col)
        .select(
            shard_bucket("media_id", n_shards).cast("int").alias("shard"),
            # NULL fmt = unparseable shipped blob, unscanned = an
            # unread carrier survived strip: both count as dirty
            F.when(
                F.col("has_pii").isNull()
                | F.col("has_pii")
                | F.col("has_unscanned_meta"),
                F.lit(1),
            ).otherwise(F.lit(0)).alias("_bad"),
        )
        .groupBy("shard")
        .agg(F.sum("_bad").alias("_n_bad"))
    )
    return (
        content.join(rescan, "shard", "left")
        .select(
            "shard",
            "n_items",
            "n_bytes",
            "checksum",
            (F.coalesce(F.col("_n_bad"), F.lit(0)) == 0).alias("pii_clean"),
        )
        .orderBy("shard")
    )


def verify_shards(
    spark: SparkSession,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Re-read a shard export and audit it against its own manifest:
    one row per shard, (shard, ok, n_docs_expected, n_docs_actual,
    checksum_expected, checksum_actual).  ``ok`` requires every
    manifest column to match the recomputation, both directions (a
    shard present on disk but missing from the manifest — or the
    reverse — is a failure, not a skip)."""
    from cqs_spark.functions.text import words

    stored = spark.read.parquet(os.path.join(out_dir, "manifest.parquet"))
    data = spark.read.parquet(os.path.join(out_dir, "data"))
    actual = (
        data.select(
            F.col("shard").cast("int").alias("shard"),
            F.col(id_col).alias("_id"),
            F.size(words(text_col)).cast("long").alias("_n"),
            _doc_hash(id_col, text_col).alias("_h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("a_n_docs"),
            F.sum("_n").alias("a_n_tokens"),
            F.min("_id").alias("a_min_doc"),
            F.max("_id").alias("a_max_doc"),
            F.expr("bit_xor(_h)").alias("a_checksum"),
        )
    )
    j = stored.join(actual, "shard", "full_outer")
    ok = (
        F.col("n_docs").eqNullSafe(F.col("a_n_docs"))
        & F.col("n_tokens").eqNullSafe(F.col("a_n_tokens"))
        & F.col("min_doc").eqNullSafe(F.col("a_min_doc"))
        & F.col("max_doc").eqNullSafe(F.col("a_max_doc"))
        & F.col("checksum").eqNullSafe(F.col("a_checksum"))
    )
    return j.select(
        "shard",
        ok.alias("ok"),
        F.col("n_docs").alias("n_docs_expected"),
        F.col("a_n_docs").alias("n_docs_actual"),
        F.col("checksum").alias("checksum_expected"),
        F.col("a_checksum").alias("checksum_actual"),
    ).orderBy("shard")
