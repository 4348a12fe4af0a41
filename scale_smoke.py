#!/usr/bin/env python
"""Scale-up rehearsal: the scale-sensitive operators at 1x and r-x
corpus size.

The cheap rehearsal of the 100x claim the plans are designed for
(VERDICT r2 #9): replicate the sf0.1 documents r-fold as planted
near-duplicate clusters (each doc gains r-1 copies with a one-token
suffix — worst-case LSH pressure: every cluster lands in shared
buckets), run each leg at both sizes, and assert

- no task failure / OOM at r-x,
- candidate-pair growth is SUB-QUADRATIC (the star-reduce + banding
  keep pairs O(n), not O(n^2): a 10x corpus must not produce 100x
  pairs),
- wall-time growth stays within ~linear-with-headroom.

``LEGS`` is the table of legs: each row names its JSON section, the
modes it runs in, ``run`` (the timed call, returning the tier's
counts) and ``checks``.  One loop runs the rows of the chosen mode at
each tier and records every count, the seconds of the timed call and
the 1-min load when it ended.

Prints one JSON line; wall times are recorded in BASELINE.md.
Usage: python scale_smoke.py [replicas] [--ladder-only | --cores-ab]
  (replicas defaults to 10; the default mode is the full suite;
  --ladder-only runs the legs worth a 100x tier, where the full suite
  would take too long to be a smoke; --cores-ab times three data-bound
  legs at the replicated tier only.  The session runs on
  $SPARK_GRAFT_CPUS cores in every mode.)
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass
from functools import cached_property
from typing import Callable

from pyspark.sql import Window, functions as F

from cqs_spark.catalog import load_table
from cqs_spark.functions.text import words
from cqs_spark.operators.dedup import (
    build_lsh_index, incremental_minhash, minhash_dedup, semantic_dedup, simhash_neardup)
from cqs_spark.operators.graph import bfs, trace
from cqs_spark.operators.jpegcodec import encode_jpeg
from cqs_spark.operators.mediameta import (
    _xmp_packet, build_heif, build_mp3, build_mp4, build_ogg, build_tiff, build_webp,
    inject_jpeg_metadata, inject_jpeg_xmp, inject_png_metadata, media_metadata_scan,
    media_metadata_strip)
from cqs_spark.operators.multimodal import (
    encode_bmp, encode_png, encode_pnm, image_neardup, incremental_media_neardup,
    media_signatures, phash_images)
from cqs_spark.operators.multimodal_queries import _q165_media, _q165_pixels
from cqs_spark.operators.taskplan import scout_roles
from cqs_spark.operators.textops import (
    block_dedup, duplicate_passages, learn_bpe, span_dedup, winnowing_fingerprints)
from cqs_spark.operators.vectorops import cosine_topk, ivfpq_topk, pq_topk
from cqs_spark.session import get_spark
from cqs_spark.staging import stage
from cqs_spark.streaming.maintain import curate_arrivals, seed_staged_index

SF = "/root/testdata/sf0.1"
FULL, LADDER = "full", "ladder"
# The 3 hottest data-bound families at the replicated tier, timed at
# whatever core count $SPARK_GRAFT_CPUS names: the MinHash ladder (the
# engine's widest shuffles), span dedup (the ExactSubstr per-doc array
# kernels) and perceptual image hashing (the Arrow decode stage — pure
# Python compute).  An outer runner invokes it at two core counts and
# the ratio is the scaling evidence sf0.1 cannot provide (per-query
# time there is stage-count floor).
CORES_AB = "cores-ab"
ALL = (FULL, LADDER, CORES_AB)
METRIC = {FULL: "scale_smoke", LADDER: "scale_smoke_ladder", CORES_AB: "scale_cores_ab"}
# The cores A/B record names the MinHash ladder's section "minhash".
CORES_AB_NAMES = {"dedup": "minhash"}
# Key offset for the relational and graph replicas (the 2^50 idiom: no
# replica key can collide with any base key at any SF).
REL = 1 << 50
STREAM_BATCHES = 4


def replicate(df, r: int, keys: list[str], stride: int = 10_000_000, text: str | None = None):
    """``df`` r times over: replica i adds ``i * stride`` to every
    ``keys`` column (key-disjoint replicas) and, with ``text``, appends
    `` replicatoken{i}`` to that column for i >= 1.  Replication is ONE
    broadcast cross join with an r-row range (not an r-branch union), so
    the 100x plan stays compact; the result is spread over every core by
    its keys.  ``r == 1`` is the 1x tier: ``df`` itself."""
    if r == 1:
        return df
    spark = df.sparkSession
    i = F.col("_i")
    out = df.crossJoin(F.broadcast(spark.range(r).select(F.col("id").alias("_i"))))
    for k in keys:
        out = out.withColumn(k, F.col(k) + F.lit(stride) * i)
    if text:
        suffixed = F.concat(F.col(text), F.lit(" replicatoken"), i.cast("string"))
        out = out.withColumn(text, F.when(i == 0, F.col(text)).otherwise(suffixed))
    return out.drop("_i").repartition(spark.sparkContext.defaultParallelism, *keys)


class Ctx:
    """The session, the mode, the replica count ``r`` and the 1x inputs,
    each built once on first use (in a leg's untimed ``inputs``)."""

    def __init__(self, spark, mode: str, r: int):
        self.spark, self.mode, self.r = spark, mode, r

    def load(self, table: str):
        return load_table(self.spark, SF, table)

    @cached_property
    def docs(self):
        return self.load("documents").select("doc_id", "text")

    @cached_property
    def n1(self) -> int:
        return self.docs.count()

    def texts(self, n: int):
        return replicate(self.docs, n, ["doc_id"], text="text")

    @cached_property
    def emb(self):
        return self.load("embeddings").select("vec_id", "embedding")

    @cached_property
    def ne1(self) -> int:
        return self.emb.count()

    def vectors(self, n: int):
        return replicate(self.emb, n, ["vec_id"])

    @cached_property
    def media1(self):
        return stage(_q165_media(self.spark, SF), eager=True)

    def media(self, n: int):
        return replicate(self.media1, n, ["media_id"])

    def orders(self, n: int):
        return replicate(self.load("orders"), n, ["o_orderkey", "o_custkey"], stride=REL)

    @cached_property
    def media_batch(self):
        # A fixed 500-image arrival batch: 250 BMP twins of index seeds (odd
        # ids are live) and 250 fresh PNGs.  Batch ids must clear EVERY
        # replica tier's offset (tier i adds media_id + 10M*i) — the exact
        # bug a fixed +50M offset had in the text leg: tier 5's clone ids
        # would collide with the batch.
        im_base = 10_000_000 * (self.r + 1)
        rows = []
        for j in range(250):
            d = 2 * j + 1
            if d % 25 == 0:
                d += 2
            rows.append((im_base + j, bytearray(encode_bmp(_q165_pixels(d // 2)))))
        for j in range(250):
            rows.append((im_base + 500 + j, bytearray(encode_png(_q165_pixels(10_000_000 + j)))))
        df = self.spark.createDataFrame(rows, "media_id long, data binary")
        return stage(df.repartition(self.spark.sparkContext.defaultParallelism), eager=True)

    @cached_property
    def meta1(self):
        # 5,500 blobs (EXIF-GPS JPEG / XMP-GPS JPEG / Author-PNG / GPS-MP4
        # / Artist-MP3 / GPS-TIFF / XMP-GPS-WebP / Exif-GPS-HEIF /
        # Artist-Ogg — the full r12 container set — plus clean PNM and
        # garbage, in equal parts).
        rows = []
        for j in range(500):
            p = _q165_pixels(j)
            gps = (j % 90, j % 60, j % 60)
            blobs = [
                inject_jpeg_metadata(encode_jpeg(p, quality=100), gps=gps),
                inject_jpeg_xmp(encode_jpeg(p, quality=100), gps=gps),
                inject_png_metadata(encode_png(p), text=("Author", f"user{j}")),
                build_mp4(160 + (j % 8) * 80, 120 + (j % 6) * 60, 1000 + j,
                          gps=(float(j % 90), float(j % 180) - 90.0), payload=b"%012d" % j),
                build_mp3(3 + j % 3, seed=j, artist=f"user{j}"),
                build_tiff(16 + (j % 32) * 8, 16 + (j % 24) * 8, gps=gps,
                           pixels=bytes((j + t) % 251 for t in range(32))),
                build_webp(16 + (j % 64) * 4, 16 + (j % 48) * 4, xmp=_xmp_packet(gps=gps),
                           payload=bytes((j * 3 + t) % 251 for t in range(24))),
                encode_pnm(p),
                b"not media %d" % j,
                build_heif(64 + (j % 64) * 8, 64 + (j % 48) * 8, gps=gps,
                           pixel_payload=bytes((j * 7 + t) % 251 for t in range(24))),
                build_ogg(codec="vorbis" if j % 2 else "opus", artist=f"user{j}", seed=j),
            ]
            rows.extend((11 * j + k, bytearray(b)) for k, b in enumerate(blobs))
        df = self.spark.createDataFrame(rows, "media_id long, data binary")
        return stage(df.repartition(self.spark.sparkContext.defaultParallelism), eager=True)


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def _first(df, **aggs) -> dict:
    """One aggregate row as ints (NULL -> 0)."""
    row = df.agg(*(e.alias(k) for k, e in aggs.items())).first()
    return {k: int(row[k] or 0) for k in aggs}


# ------------------------------------------------------ legs with set-up
def _chain_edges(spark, n: int):
    # Chain + modular fan-out: depth is exercised, degree is bounded.
    base = spark.range(n).select(F.col("id").alias("src"))
    return base.select("src", ((F.col("src") + 1) % n).alias("dst")).unionByName(
        base.select("src", ((F.col("src") * 7 + 3) % n).alias("dst"))
    )


def _bfs_inputs(c, n):
    seeds = c.spark.range(50).select(F.col("id").alias("node"))
    if c.mode == FULL:  # one chain graph, n times the size
        return _chain_edges(c.spark, 20_000 * n), seeds
    # BFS over DISJOINT replica graphs (key-offset components):
    # reach must be EXACTLY replicas x the 1x reach — frontier
    # expansion is per-component, so the depth-k cost is linear in
    # replicas and a super-linear blowup means the join plan
    # regressed.
    edges = replicate(_chain_edges(c.spark, 20_000), n, ["src", "dst"], stride=REL)
    return edges, replicate(seeds, n, ["node"], stride=REL)


def _semantic_inputs(c, n):
    emb = c.vectors(n)
    # Centroid count scales with sqrt(N) so cluster sizes stay bounded.
    return emb, emb.filter(F.col("vec_id") % max(1, c.ne1 // 70) == 0)


def _pq_run(c, x):
    res = pq_topk(*x, "vec_id", "embedding", k=1).collect()
    return {"_hits": sum(1 for r in res if r["cos"] >= 0.9999), "_probes": len(res)}


def _hub_inputs(c, n):
    hub_out = 20_000 * n
    spark = c.spark
    hub = spark.range(1, hub_out + 1).select(F.lit(1).alias("src"), (F.col("id") + 10).alias("dst"))
    spine = spark.createDataFrame(
        [(0, 1), (5, hub_out + 100), (hub_out + 100, hub_out + 200)], "src long, dst long"
    ).unionByName(spark.createDataFrame([(1, 5)], "src long, dst long"))
    return hub.unionByName(spine), 0, hub_out + 200


def _trace_run(c, x):
    path = trace(*x, max_depth=5)
    return {"hops": len(path or []), "_found": path is not None}


def _scout_inputs(c, n):
    d = F.col("doc_id")
    return c.texts(n).select(
        F.floor(d / 20).alias("query_id"),
        F.when(d % 7 == 0, F.concat(F.lit("test_fn_"), d))
        .otherwise(F.concat(F.lit("fn_"), d))
        .alias("name"),
        F.when(d % 11 == 0, F.lit("tests/m.py")).otherwise(F.lit("src/m.py")).alias("origin"),
        (((d * 37) % 100).cast("double") / 10.0).alias("score"),
    )


def _incremental_inputs(c, n):
    # Batch offset DERIVED from replicas so it sits above every
    # replica id at any CLI-chosen tier (replica i adds 10M*i):
    # colliding ids would violate incremental_minhash's
    # disjoint-id precondition and silently corrupt the measured
    # pair counts (the exact bug a fixed +50M offset had).
    batch_offset = 10_000_000 * (c.r + 1)
    batch = c.docs.filter(F.col("doc_id") % 10 == 0)
    batch = batch.select((F.col("doc_id") + batch_offset).alias("doc_id"), "text")
    index = build_lsh_index(c.texts(n), "doc_id", "text")
    return (batch, *(stage(x, eager=True) for x in index))


def _stream_inputs(c, n):
    base = tempfile.mkdtemp(prefix=f"cqs_stream_scale_{n}x_")
    idx, arr, staged = (os.path.join(base, d) for d in ("index", "arrivals", "stage"))
    seed_staged_index(c.spark, c.texts(n), idx)
    os.makedirs(arr)
    # Arrival ids sit above every index id at any replica tier.
    offset = 10_000_000 * (c.r + 2)
    for b in range(STREAM_BATCHES):
        batch = c.docs.filter(F.col("doc_id") % 40 == b).select(
            (F.col("doc_id") + offset + 10_000_000 * b).alias("doc_id"),
            F.when(F.col("doc_id") % 2 == 0, F.col("text"))
            .otherwise(F.array_join(F.reverse(F.split("text", " ")), " "))
            .alias("text"),
        )
        batch.coalesce(1).write.mode("overwrite").parquet(staged)
        shutil.copy(
            glob.glob(os.path.join(staged, "*.parquet"))[0], os.path.join(arr, f"b{b}.parquet")
        )
    return base, arr, idx


def _stream_run(c, x):
    base, arr, idx = x
    out = os.path.join(base, "out")
    curate_arrivals(c.spark, arr, idx, out, os.path.join(base, "ckpt"))
    survivors = c.spark.read.parquet(out).count()
    shutil.rmtree(base, ignore_errors=True)
    return {"survivors": survivors}


def _ivfpq_inputs(c, n):
    corpus = c.vectors(n)
    probes = c.emb.filter(F.col("vec_id") % 100 == 0)
    exact_sec, exact = _timed(
        lambda: cosine_topk(corpus, probes, "vec_id", "embedding", k=10).collect()
    )
    return corpus, probes, exact_sec, exact


def _ivfpq_run(c, x):
    corpus, probes, exact_sec, exact = x
    # Operating point measured r8 (probe sweep at sf0.1): half the
    # 16 cells, 16-way residual codebooks, 16x exact re-rank —
    # recall@10 = 0.77 at 1x (the default test point nprobe=4,
    # m=8 grades 0.40; these embeddings are PQ-hard).
    approx = ivfpq_topk(
        corpus, probes, "vec_id", "embedding", k=10, nprobe=8, refine=16, m=16
    ).collect()
    ex: dict = {}
    for r in exact:
        ex.setdefault(r["qid"], set()).add(r["id"])
    ap: dict = {}
    for r in approx:
        ap.setdefault(r["qid"], set()).add(r["id"])
    hits = sum(len(ap.get(q, set()) & ids) for q, ids in ex.items())
    total = sum(len(ids) for ids in ex.values())
    recall = hits / total if total else 0.0
    return {"exact_sec": round(exact_sec, 2), "recall10": round(recall, 4), "_recall": recall}


def _phash_extra(c, one, many):
    live = c.media1.filter(F.col("media_id") % 25 != 0).count()
    r = c.r
    return {
        "live_images_1x": live,
        "true_pair_upper_bound": live * r * (r - 1) // 2 + one["pairs"] * r * r,
    }


def _pii_extra(c, one, many):
    # Strip → rescan of the 1× tier must certify zero PII; decode
    # preservation: the stripped tier's pixel signatures equal the
    # originals' (garbage never reaches the stripped frame).
    meta1 = c.meta1
    stripped = stage(media_metadata_strip(meta1).filter(F.col("data").isNotNull()), eager=True)
    strip_pii = _first(media_metadata_scan(stripped), n=F.count(F.when(F.col("has_pii"), 1)))["n"]
    dh_orig = phash_images(meta1).filter(F.col("dhash").isNotNull())
    dh_strip = phash_images(stripped).filter(F.col("dhash").isNotNull())
    on = ["media_id", "dhash"]
    dh_same = dh_orig.select(*on).join(dh_strip.select(*on), on).count()
    dh_total = dh_orig.count()
    return {
        "blobs_1x": 5500,
        "strip_residual_pii": strip_pii,
        "pixels_preserved": f"{dh_same}/{dh_total}",
        "_preserved": dh_same == dh_total == 2000,
    }


def _star_inputs(c, n):
    nation, region = c.load("nation"), c.load("region")
    dim = nation.join(region, nation.n_regionkey == region.r_regionkey)
    dim = F.broadcast(dim.filter(F.col("r_name") == "ASIA").select("n_nationkey", "n_name"))
    cust = replicate(c.load("customer"), n, ["c_custkey"], stride=REL)
    o = c.orders(n)
    li = replicate(c.load("lineitem"), n, ["l_orderkey"], stride=REL)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .join(dim, cust.c_nationkey == dim.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


def _star_run(c, q):
    rev = {row["n_name"]: float(row["revenue"]) for row in q.collect()}
    # post-execution (AQE-final) physical plan
    plan = q._jdf.queryExecution().executedPlan().toString()
    return {"bcast_joins": plan.count("BroadcastHashJoin"), "_rev": rev}


def _star_checks(c, one, many):
    r, rev1, revr = c.r, one["_rev"], many["_rev"]
    # Revenue per nation at r-x must be EXACTLY r * the 1x figure
    # (key-disjoint replicas change nothing else).
    exact = set(rev1) == set(revr) and all(
        abs(revr[k] - r * rev1[k]) <= 1e-6 * abs(r * rev1[k]) for k in rev1
    )
    if c.mode == FULL:
        return {
            "rel_star_revenue_exact": exact and len(rev1) > 0,
            "rel_star_time_bounded": many["sec"] < one["sec"] * r * 4,
            # The post-AQE plan must still broadcast the fixed-size
            # dims at r-x (nation x region pre-joined: one broadcast).
            "rel_star_dims_broadcast": one["bcast_joins"] >= 1 and many["bcast_joins"] >= 1,
        }
    return {
        "rel_star_revenue_exact": exact,
        # The post-AQE plan still broadcasting the FIXED-SIZE dims
        # (nation x region and the dim->customer join), within
        # linear-with-headroom wall time.  Fact-side joins legitimately
        # flip broadcast->SMJ as the facts outgrow the threshold at
        # 100x — that is the correct adaptive plan, so the check pins
        # the dim broadcasts surviving, not an identical join count.
        "rel_star_broadcasts_held": many["bcast_joins"] >= 2,
        "rel_star_time_bounded": many["sec"] < max(one["sec"], 1.0) * r * 2,
    }


def _window_run(c, o):
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return {"rows": o.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3).count()}


# ------------------------------------------------------------------ the table
@dataclass(frozen=True)
class Leg:
    name: str  # its JSON section
    modes: tuple
    run: Callable  # run(c, x) -> tier counts: the one timed call
    checks: Callable  # checks(c, one, many) -> {check name: bool}
    # inputs(c, n) -> x: tier n's input, built untimed
    inputs: Callable = Ctx.texts
    # extra(c, one, many) -> fields written once, not per tier
    extra: Callable | None = None
    # field prefix, where two rows share a section
    prefix: str = ""
    # the full suite's large tier is this fixed multiple, not r
    fixed: int = 0


LEGS = [
    # Replication creates REAL near-dup structure that is quadratic in
    # cluster size: each of the n1 docs becomes an r-clone cluster
    # (C(r,2) true pairs), and each natural 1x pair becomes a merged
    # 2r-clone cluster (~r^2 cross pairs).  The scale property under
    # test is that the ladder's output stays bounded by that TRUE
    # structure — i.e. candidate generation is O(true pairs), not
    # O(corpus^2) = {2.5e9 at 10x} — and wall time grows sub-linearly
    # with corpus size (banding + star-reduce absorb the blowup).
    Leg("dedup", ALL,
        lambda c, df: {
            "pairs": minhash_dedup(df, "doc_id", "text").filter(F.col("jac") >= 0.8).count()
        },
        lambda c, one, many: {
            "dedup_pairs_bounded_by_true_structure": many["pairs"]
            <= 1.1 * one["true_pair_upper_bound"],
            "dedup_time_bounded": many["sec"] < one["sec"] * c.r * 4,
        },
        extra=lambda c, one, many: {
            "true_pair_upper_bound": c.n1 * c.r * (c.r - 1) // 2 + one["pairs"] * c.r * c.r
        }),
    Leg("bfs", (FULL, LADDER),
        lambda c, x: {"reached": bfs(*x, max_depth=4).count()},
        # the full suite's large tier is a fixed 10x chain
        lambda c, one, many: {
            "bfs_time_bounded": many["sec"] < one["sec"] * 10 * 4,
        } if c.mode == FULL else {
            # Graph tier: disjoint components -> exact r-fold reach.
            "bfs_reach_exact": many["reached"] == c.r * one["reached"],
            "bfs_time_bounded": many["sec"] < max(one["sec"], 1.0) * c.r * 2,
        },
        inputs=_bfs_inputs, fixed=10),
    Leg("block_dedup", (FULL,),
        lambda c, df: _first(
            block_dedup(df, "doc_id", "text", block_tokens=10),
            blocks=F.sum("n_blocks"), dups=F.sum("n_dup_blocks"),
        ),
        lambda c, one, many: {
            # Replicas share every full block with their original, so
            # the duplicate fraction at r-x must approach (r-1)/r; time
            # stays ~linear (one window shuffle on the block hash).
            "block_dedup_found_planted_dups": many["dups"]
            >= 0.85 * many["blocks"] * (c.r - 1) / c.r,
            "block_dedup_time_bounded": many["sec"] < one["sec"] * c.r * 4,
        }),
    Leg("semantic_dedup", (FULL,),
        lambda c, x: {
            "dups": semantic_dedup(*x, "vec_id", "embedding", threshold=0.95)
            .filter("is_dup")
            .count()
        },
        lambda c, one, many: {
            # Identical clones must be flagged (>= r-1 dups per original
            # vector); sqrt-N centroids keep cluster sizes bounded so
            # the within-cluster join stays ~linear in N.
            "semantic_dedup_found_planted_dups": many["dups"] >= (c.r - 1) * c.ne1,
            "semantic_dedup_time_bounded": many["sec"] < one["sec"] * c.r * 4,
        },
        inputs=_semantic_inputs, extra=lambda c, one, many: {"vecs_1x": c.ne1}),
    # Span-level exact dedup at scale: replicas share every FULL
    # 8-token span with their original (the planted suffix only
    # perturbs the trailing partial span), so surviving spans must stay
    # ~flat as the corpus grows — the first-occurrence aggregate dedups
    # the clone mass away.
    Leg("span_dedup", ALL,
        lambda c, df: _first(
            span_dedup(df, "doc_id", "text", span_w=8),
            spans=F.sum("n_spans"), kept=F.sum("kept_spans"),
        ),
        lambda c, one, many: {
            # Each replica may keep at most its perturbed trailing
            # span(s); everything else dedups to the original.
            # Surviving-span growth must be bounded by docs x replicas,
            # NOT by span count (which grows r-fold).
            "span_dedup_clones_collapse": many["kept"] <= one["kept"] + 2 * c.n1 * c.r,
            "span_dedup_time_bounded": many["sec"] < one["sec"] * c.r * 4,
        }),
    # PQ ANN at scale: codes are 8 bytes/vector regardless of corpus
    # size; the ADC scan is linear and the exact re-rank touches only
    # |probes|*k*refine float vectors.  Clones of each probe exist in
    # the corpus (and at r-x, r-1 more) — top-1 must be a perfect
    # cosine match or PQ pruning lost a planted twin.
    Leg("pq", (FULL,), _pq_run,
        lambda c, one, many: {
            # At r-x every probe has r-1 identical clones: PQ's
            # candidate pruning must surface one at cosine 1.0 for
            # ~every probe.
            "pq_found_planted_clones": many["_hits"] >= 0.95 * many["_probes"],
            "pq_time_bounded": many["sec"] < one["sec"] * c.r * 4,
        },
        inputs=lambda c, n: (c.vectors(n), c.emb.filter(F.col("vec_id") % 100 == 0)),
        extra=lambda c, one, many: {
            "probes": one["_probes"], f"clone_hits_{c.r}x": many["_hits"]
        }),
    # Hub-graph shortest path (r4: distributed frontier).  One node
    # with `hub_out` out-edges sits on the path: the old
    # driver-collected frontier would pull hub_out rows into the
    # driver at hop 2; the distributed form's wall time must stay
    # ~flat as the hub grows 10x because the frontier is a DataFrame
    # and only scalar aggregates reach the driver.
    Leg("trace", (FULL,), _trace_run,
        lambda c, one, many: {
            # Path found through the hub both times; frontier stays
            # distributed so a 10x hub costs ~the same wall time (driver
            # traffic is per-hop scalars + <= max_depth one-row lookups).
            "trace_path_found": one["_found"] and many["_found"],
            "trace_time_flat": many["sec"] < one["sec"] * 4,
        },
        inputs=_hub_inputs, fixed=10),
    # Winnowing fingerprints at scale: per-doc windows only (the
    # shuffle key is the doc id), so rows and wall time must both
    # grow ~linearly with the corpus — no cross-doc interaction.
    Leg("winnowing", (FULL,),
        lambda c, df: {
            "rows": winnowing_fingerprints(df, "doc_id", "text", k=5, window=4).count()
        },
        lambda c, one, many: {
            # Per-doc selection: fingerprint rows grow ~linearly with
            # the corpus (clones add their own rows; the planted suffix
            # only perturbs trailing grams), never quadratically.
            "winnowing_rows_linear": many["rows"] <= 11 * one["rows"],
            "winnowing_time_bounded": many["sec"] < one["sec"] * c.r * 4,
        }),
    # BPE merge learning at scale: the corpus is touched exactly once
    # (the word-frequency shuffle); every merge round then runs on the
    # vocab-bounded frame, so wall time must grow far sublinearly with
    # corpus size (vocab grows by only the r-1 planted suffix tokens).
    Leg("bpe", (FULL,),
        lambda c, df: {"merges": len(learn_bpe(df, "text", 4).collect())},
        lambda c, one, many: {
            # All rounds complete at both sizes; iterations run on the
            # vocab-bounded frame so the r-x corpus stays within
            # linear-with-headroom of 1x (the only corpus-sized work is
            # the one word-count shuffle).
            "bpe_merges_complete": one["merges"] == 4 and many["merges"] == 4,
            "bpe_time_bounded": many["sec"] < one["sec"] * c.r * 4,
        }),
    # Batch scout role classification at scale: the group key is the
    # pool id, so a replicated corpus means MORE pools of the same
    # bounded size — two window passes + one threshold join back, wall
    # time must grow ~linearly with pool count.
    Leg("scout_roles", (FULL,),
        lambda c, df: {"rows": scout_roles(df).filter(F.col("role").isNotNull()).count()},
        lambda c, one, many: {
            # Every row gets a role (no null-threshold leaks) at both
            # sizes; replication multiplies POOLS, not pool size, so the
            # windowed passes stay skew-free and ~linear.
            "scout_roles_total": one["rows"] == c.n1 and many["rows"] == c.n1 * c.r,
            "scout_roles_time_bounded": many["sec"] < one["sec"] * c.r * 4,
        },
        inputs=_scout_inputs),
    # Steady-state arrival dedup: a FIXED small batch (clones of 1x
    # docs) against a growing index.  Index build is the amortized
    # once-per-corpus cost and is NOT timed; the timed pass is the
    # daily-batch work — broadcast batch bands over the index band
    # table + touched-slice verify — which must grow far sublinearly
    # with index size.
    Leg("incremental_minhash", (FULL, LADDER),
        lambda c, x: {
            "pairs": incremental_minhash(*x[:3], "doc_id", "text", indexed_hubs=x[3])
            .filter(F.col("jac") >= 0.8).count()
        },
        # Every batch clone finds its original at both index sizes; the
        # timed batch pass must grow FAR sublinearly with the index
        # (fixed batch, broadcast bands, touched-slice verify).  The
        # ladder's replicas-x index allows max(4, r//4).
        lambda c, one, many: {
            "incremental_clones_found": one["pairs"] >= c.n1 // 10
            and many["pairs"] >= one["pairs"],
            "incremental_time_sublinear": many["sec"]
            < one["sec"] * (4 if c.mode == FULL else max(4, c.r // 4)),
        },
        inputs=_incremental_inputs),
    # Cross-doc ExactSubstr detection at scale: replicas duplicate
    # ~every window of their original (the planted suffix only perturbs
    # trailing grams), so covered tokens must grow with the replica
    # count while SPAN rows stay linear in docs — the island merge, not
    # the window count, bounds the output.
    Leg("passages", (FULL,),
        lambda c, df: _first(
            duplicate_passages(df, "doc_id", "text", k=8),
            rows=F.count(F.lit(1)), covered=F.sum("n_tokens"),
        ),
        lambda c, one, many: {
            # Every replica is ~fully covered by passages from its
            # original (up to a ~20-token unmatched tail around the
            # planted suffix); span ROWS stay linear in docs because
            # islands merge windows.
            "passages_cover_replicas": many["covered"]
            >= (c.r - 1) * max(0, one["tokens_1x"] - 20 * c.n1),
            "passages_rows_linear": many["rows"] <= one["rows"] + 3 * c.n1 * c.r,
            "passages_time_bounded": many["sec"] < one["sec"] * c.r * 4,
        },
        extra=lambda c, one, many: _first(c.docs, tokens_1x=F.sum(F.size(words("text"))))),
    # Hamming band-join at scale: on the replicated corpus the 16-bit
    # band buckets blow far past the 500 cap, so the star-reduce is
    # what's actually under test — the bucket join must stay O(bucket)
    # on the reduced side instead of O(bucket²), and the verify is one
    # bit op per candidate.  Star-reduce is what makes the hamming band
    # join survive the replicated mega-buckets: sub-linear time per
    # corpus size and pairs that grow with true structure, never
    # bucket².  The ladder holds it where it matters most: at
    # replicas-x every band bucket is a mega-bucket.
    Leg("simhash_neardup", (FULL, LADDER),
        lambda c, df: {"pairs": simhash_neardup(df, "doc_id", "text", max_hamming=1).count()},
        lambda c, one, many: {
            "simhash_found_pairs": many["pairs"] >= one["pairs"] > 0,
            "simhash_time_bounded": many["sec"] < one["sec"] * c.r * 4,
        } if c.mode == FULL else {
            "simhash_found_pairs": many["pairs"] >= one["pairs"] > 0,
            "simhash_time_sublinear": many["sec"] < one["sec"] * max(4, c.r // 2),
        }),
    # Arrival-pipeline steady state: STREAM_BATCHES fixed-size
    # micro-batches of arrivals drained through curate_arrivals against
    # a SEEDED index (1x vs replicas-x corpus).  The seed is the
    # amortized day-0 cost and is untimed; the timed quantity is the
    # whole drain, so per-batch cost = sec / STREAM_BATCHES.  Arrivals
    # are half exact clones of 1x docs (must dedup against the seed at
    # either size) and half word-reversed docs (same vocabulary — passes
    # the gates; disjoint 3-shingles — genuinely fresh), so the survivor
    # count must be IDENTICAL at both index sizes while per-batch time
    # stays ~flat.
    Leg("stream_curate", (FULL, LADDER), _stream_run,
        lambda c, one, many: {
            # The same fixed arrival files must keep the same survivors
            # whether the seeded index is 1x or replicas-x (clones
            # dedup against the seed either way), and per-batch drain
            # time must stay ~flat as the index grows — the
            # broadcast-batch-bands + touched-slice-verify design.
            "stream_curate_survivors_match": one["survivors"] == many["survivors"]
            and one["survivors"] > 0,
            "stream_curate_per_batch_flat": many["sec"] < one["sec"] * 4,
        },
        inputs=_stream_inputs),
    # IVF-PQ at scale (VERDICT r7 #6): the ADC scan touches
    # ~nprobe/n_cells of the corpus at 8 bytes/vector; recall is graded
    # against the exact brute-force top-k on the SAME corpus
    # (approximation prunes, never scores — the §5 contract), and both
    # wall times are recorded (the exact scan's in its untimed inputs)
    # so the approx-vs-brute curve is a measured data point, not an
    # argument.
    Leg("ivfpq", (FULL,), _ivfpq_run,
        lambda c, one, many: {
            # Recall@10 vs the exact scan must hold as the corpus grows
            # (every probe's clones share its cell, so cell pruning
            # cannot lose them); wall time stays within
            # linear-with-headroom.  The approx-vs-brute second is
            # RECORDED, not asserted — at 50k vectors the driver-side
            # codebook training dominates; the crossover is the 100 TB
            # design point.
            "ivfpq_recall_held": one["_recall"] >= 0.7 and many["_recall"] >= 0.7,
            "ivfpq_time_bounded": many["sec"] < one["sec"] * c.r * 4,
        },
        inputs=_ivfpq_inputs),
    # Perceptual image dedup (q165/q166 at scale): the fixture corpus
    # already carries re-encoded twins (same pixels, different
    # container); replicas clone the BYTES under new ids, so every live
    # image becomes an r-clone cluster and every 1x twin pair an
    # r²-pair merged cluster — the same true-structure bound as the
    # text dedup leg, but the candidate machinery is the hamming band
    # join over 64-bit perceptual hashes and the per-row cost is a real
    # decode (PNM/BMP/PNG incl. Adam7) in the Arrow stage.  Clone
    # clusters are quadratic in replicas — the banded join must emit
    # exactly that structure (never bucket²) while the wall time tracks
    # the (linear) decode work; re-encoded twins pair at 1x.
    Leg("image_phash", ALL,
        lambda c, media: {"pairs": image_neardup(media, max_hamming=2).count()},
        lambda c, one, many: {
            "phash_found_reencoded_twins": one["pairs"] > 0,
            "phash_pairs_bounded_by_true_structure": many["pairs"]
            <= 1.1 * one["true_pair_upper_bound"],
            "phash_time_bounded": many["sec"] < one["sec"] * c.r * 4,
        } if c.mode == FULL else {
            "phash_pairs_bounded_by_true_structure": many["pairs"]
            <= 1.1 * one["true_pair_upper_bound"],
            "phash_found_reencoded_twins": one["pairs"] > 0
            and many["pairs"] >= one["true_pair_upper_bound"] * 0.9,
            "phash_time_bounded": many["sec"] < one["sec"] * c.r * 2,
        },
        inputs=Ctx.media, extra=_phash_extra),
    # Incremental media dedup, the q171 steady state: a fixed 500-image
    # arrival batch against a 1× vs a replicas× PERSISTED signature
    # index.  The index side is signatures only (replicated directly —
    # production stages exactly this table; the blobs are never
    # re-read), so the claim under test is that per-batch cost is
    # dominated by the batch's own decode + broadcast bands, not by
    # index size.
    Leg("incremental_media", (FULL,),
        lambda c, x: {"pairs": incremental_media_neardup(*x, max_hamming=2).count()},
        lambda c, one, many: {
            # Every planted twin pairs with its (2-member, garbage
            # permitting) seed cluster; pairs multiply with the index
            # clone structure; per-batch cost stays far from linear in
            # index size (the index side is a signature scan, the
            # decode is the batch's own).
            "incr_media_found_twins": one["pairs"] >= 400,
            "incr_media_pairs_scale_with_index": 0.9 * c.r * one["pairs"]
            <= many["pairs"]
            <= 1.1 * c.r * one["pairs"],
            "incr_media_batch_cost_sublinear": many["sec"] < one["sec"] * c.r * 0.8,
        },
        inputs=lambda c, n: (
            c.media_batch,
            stage(replicate(media_signatures(c.media1), n, ["media_id"]), eager=True),
        ),
        extra=lambda c, one, many: {"batch_images": 500}),
    # Media-metadata PII scan + strip, the release-gate header walk over
    # the 5,500-blob corpus replicated N×.
    Leg("media_pii", (FULL,),
        lambda c, media: _first(
            media_metadata_scan(media),
            pii=F.count(F.when(F.col("has_pii"), 1)),
            _quar=F.count(F.when(F.col("fmt").isNull(), 1)),
        ),
        lambda c, one, many: {
            # Per-blob header walk: flagged counts scale EXACTLY with
            # the corpus (no cross-item state), time within
            # linear-with-headroom; strip certifies zero residual PII
            # with every pixel signature preserved.
            "pii_counts_exact": (one["pii"], one["_quar"]) == (4500, 500)
            and many["pii"] == c.r * one["pii"]
            and many["_quar"] == c.r * one["_quar"],
            "pii_scan_time_bounded": many["sec"] < one["sec"] * c.r * 4,
            "pii_strip_certifies_clean": one["strip_residual_pii"] == 0,
            # 4 image blobs per group decode (2 JPEG + PNG + PNM); MP4
            # has no pixel decoder — its preservation is q183's
            # dims/duration contract, not a dhash
            "pii_strip_preserves_pixels": one["_preserved"],
        },
        inputs=lambda c, n: replicate(c.meta1, n, ["media_id"]), extra=_pii_extra),
    # The relational star-join + window tier (VERDICT r10 #4, lifted to
    # the 100x ladder in r12 per VERDICT r11 #5): customer/orders/
    # lineitem replicated r-fold with KEY-DISJOINT offsets, then the
    # q04-class star join (lineitem |><| orders |><| customer |><|
    # broadcast nation x region -> groupBy revenue) and a q12-class
    # window (top-3 orders per customer) at both tiers.  A silent SMJ
    # flip on nation/region is precisely the 100-TB regression this
    # tier exists to catch.
    Leg("relational", (FULL, LADDER), _star_run, _star_checks,
        inputs=_star_inputs, prefix="star_",
        extra=lambda c, one, many: {"star_groups": len(one["_rev"])}),
    # The window's per-customer pools don't grow (replicas multiply
    # POOLS), so rows scale exactly r and time stays ~linear.
    Leg("relational", (FULL, LADDER), _window_run,
        lambda c, one, many: {
            "rel_window_rows_scale": many["rows"] == c.r * one["rows"],
            "rel_window_time_bounded": many["sec"] < one["sec"] * c.r * 4,
        } if c.mode == FULL else {
            "rel_window_rows_exact": many["rows"] == c.r * one["rows"],
            "rel_window_time_bounded": many["sec"] < max(one["sec"], 1.0) * c.r * 2,
        },
        inputs=Ctx.orders, prefix="window_"),
]


def _public(fields: dict, prefix: str = "", sfx: str = "") -> dict:
    return {f"{prefix}{k}{sfx}": v for k, v in fields.items() if not k.startswith("_")}


def run_legs(c) -> tuple[dict, dict]:
    """Every leg of ``c.mode`` at each tier: the JSON sections and the
    checks."""
    sections, checks = {}, {}
    for leg in LEGS:
        if c.mode not in leg.modes:
            continue
        big = leg.fixed if leg.fixed and c.mode == FULL else c.r
        tiers = [(big, "")] if c.mode == CORES_AB else [(1, "_1x"), (big, f"_{big}x")]
        name = CORES_AB_NAMES.get(leg.name, leg.name) if c.mode == CORES_AB else leg.name
        section = sections.setdefault(name, {})
        got = []
        for n, sfx in tiers:
            sec, counts = _timed(leg.run, c, leg.inputs(c, n))
            timing = {"sec": round(sec, 2), "load": round(os.getloadavg()[0], 2)}
            section.update(_public({**timing, **counts}, leg.prefix, sfx))
            got.append({**counts, "sec": sec})
        if c.mode == CORES_AB:
            continue
        one, many = got
        if leg.extra:
            extra = leg.extra(c, one, many)
            section.update(_public(extra))
            one.update(extra)
        checks.update(leg.checks(c, one, many))
    return sections, checks


def main() -> int:
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    mode = CORES_AB if "--cores-ab" in flags else LADDER if "--ladder-only" in flags else FULL
    replicas = int(args[0]) if args else 10
    spark = get_spark(app_name="cqs_spark-scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    c = Ctx(spark, mode, replicas)
    sections, checks = run_legs(c)
    out = {"metric": METRIC[mode], "replicas": replicas}
    if mode == CORES_AB:
        print(json.dumps({**out, "cpus": spark.sparkContext.defaultParallelism, **sections}))
        return 0
    out.update(docs_1x=c.n1, **sections, checks=checks, ok=all(checks.values()))
    print(json.dumps(out))
    return 0 if out["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
