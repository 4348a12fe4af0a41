"""Physical-plan shape assertions — the scale contract, pinned.

A correct result from a bad plan is a failure at 100 TB.  These tests
assert the plan features the operators were designed around: predicate
pushdown to the parquet scan, column pruning, broadcast joins for
small/probe sides, TakeOrderedAndProject for top-k, and whole-stage
codegen spans in the executed plan.
"""

from __future__ import annotations

import os
import re

import pytest

import __spark_entry__ as E


def _formatted(spark, name, sf_dir):
    return _explain(E.queries()[name](spark, sf_dir))


def _explain(df):
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q01_pushdown_and_pruning(spark, sf_dir):
    p = _formatted(spark, "q01", sf_dir)
    assert "GreaterThanOrEqual(l_shipdate" in p and "LessThan(l_shipdate" in p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and m.group(1).count(",") + 1 <= 6, "scan reads too many columns"


def test_q04_star_join_broadcasts_dims(spark, sf_dir):
    p = _formatted(spark, "q04", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q13_topk_compiles_to_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in _formatted(spark, "q13", sf_dir)


def test_q21_probe_is_broadcast(spark, sf_dir):
    # Exact cosine top-k: corpus streams, probes broadcast.
    assert "BroadcastNestedLoopJoin" in _formatted(spark, "q21", sf_dir)


def test_q22_query_terms_broadcast(spark, sf_dir):
    # Sparse scoring: the tiny query side must broadcast-semi-join the
    # postings BEFORE the aggregation shuffle.
    assert "BroadcastHashJoin" in _formatted(spark, "q22", sf_dir)


@pytest.mark.parametrize("name", ["q04", "q08"])
def test_codegen_spans_in_executed_plan(spark, sf_dir, name):
    df = E.queries()[name](spark, sf_dir)
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark whole-stage-codegen spans.
    assert re.search(r"\*\(\d+\)", s), "no whole-stage codegen spans"


def test_q64_sample_filter_reaches_scan(spark, sf_dir):
    # Stratified sampling must be a scan-side filter (no join, no
    # aggregate): the only exchange is the deterministic final sort.
    p = _formatted(spark, "q64", sf_dir)
    assert "Join" not in p and "Aggregate" not in p
    df = E.queries()["q64"](spark, sf_dir)
    s = df._jdf.queryExecution().executedPlan().toString()
    assert s.count("Exchange") == 1, s


def test_q69_block_stats_broadcast_back(spark, sf_dir):
    # Per-doc dup-block stats aggregate BEFORE rejoining the documents
    # table, so the join side is small and broadcasts; exactly one
    # shuffle lands on the block hash (the first-occurrence window).
    p = _formatted(spark, "q69", sf_dir)
    assert "BroadcastHashJoin" in p
    assert p.count("hashpartitioning(h#") <= 1 or "hashpartitioning(h" in p


def test_q75_prefix_sum_two_phase_shape(spark, sf_dir):
    # The bucket-offset leg runs SinglePartition only over the
    # AGGREGATED bucket totals (|buckets| rows), never the corpus; the
    # offsets broadcast back onto the bucket-partitioned main leg.
    p = _formatted(spark, "q75", sf_dir)
    assert "BroadcastHashJoin" in p
    agg_before_single = p.find("HashAggregate") < p.find("SinglePartition")
    assert "SinglePartition" in p and agg_before_single


def test_q65_decontaminate_anti_join_broadcasts(spark, sf_dir):
    # The contaminated-id set is tiny relative to the corpus: the anti
    # join must broadcast it, never shuffle the documents side on id.
    p = _formatted(spark, "q65", sf_dir)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_q68_semantic_dedup_joins_on_cluster_key(spark, sf_dir):
    # SemDeDup's O(N^2/k) bound comes from joining ONLY within a
    # cluster: the self-join must be keyed on the centroid id.
    p = _formatted(spark, "q68", sf_dir)
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "cid" in p  # equi-join on the cluster key


def test_q79_gopher_is_scan_side_only(spark, sf_dir):
    # Every Gopher statistic is a per-row expression: no join, no
    # aggregate — the only exchanges are the fan-out repartition and
    # the deterministic final sort.
    p = _formatted(spark, "q79", sf_dir)
    assert "Join" not in p and "HashAggregate" not in p


def test_q80_retention_broadcasts_cohorts(spark, sf_dir):
    # The per-user cohort table broadcasts back onto the event stream;
    # the distinct pre-shrinks before the final count aggregate.
    p = _formatted(spark, "q80", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q81_docfreq_broadcasts_back(spark, sf_dir):
    # The |vocab|-row doc-freq table must broadcast onto the (id, term)
    # counts — the corpus shuffles once on its natural key only.
    p = _formatted(spark, "q81", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q90_span_dedup_first_occurrence_is_aggregate(spark, sf_dir):
    """The survive rule must compile to a partial-aggregatable min, not
    a per-span-partition window sort (skew contract for mega-dup
    spans), and no cartesian anywhere."""
    p = _formatted(spark, "q90", sf_dir)
    assert "CartesianProduct" not in p
    assert re.search(r"partial_min|HashAggregate.*min", p), p[:2000]


def test_q93_bigram_model_scalar_broadcast(spark, sf_dir):
    """Vocab size rides as a 1-row broadcast (nested-loop on a scalar
    is fine); bigram joins are hash joins, never cartesian."""
    p = _formatted(spark, "q93", sf_dir)
    assert "CartesianProduct" not in p


def test_q94_nb_model_never_joins_raw_tokens_twice(spark, sf_dir):
    """NB model builds from aggregated class counts (vocab x classes),
    not from a vocab x raw-token blowup; no cartesian beyond the
    scalar broadcasts."""
    p = _formatted(spark, "q94", sf_dir)
    assert "CartesianProduct" not in p


def test_q95_centroids_have_no_explode(spark, sf_dir):
    """Per-dim centroid means are JVM avg(element_at) columns — a
    Generate (explode) of corpus x dim rows must not appear."""
    p = _formatted(spark, "q95", sf_dir)
    assert "Generate" not in p
    assert "CartesianProduct" not in p


def test_q101_hunk_mapping_equi_join_broadcasts_hunks(spark, sf_dir):
    """The range predicate must ride a file-keyed equi-join (hunks side
    broadcast) — never a cartesian/theta-only join."""
    p = _formatted(spark, "q101", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q102_windowing_is_join_free(spark, sf_dir):
    """Chunk windowing is one scan + one explode: no join, no union, no
    aggregate — the cost is a map-side projection."""
    p = _formatted(spark, "q102", sf_dir)
    assert "Join" not in p
    assert "Union" not in p
    assert "HashAggregate" not in p


def _n_map_in_pandas(df) -> int:
    return df._jdf.queryExecution().sparkPlan().toString().count("MapInPandas")


INDEX_SRC = os.path.join(os.path.dirname(__file__), "..", "cqs_spark", "index")


def test_build_chunks_parses_once(spark):
    """Windowing is one projection, so the parse mapInPandas appears
    once in the physical plan, not once per windowing branch."""
    from cqs_spark.index.ingest import build_chunks, list_files

    assert _n_map_in_pandas(build_chunks(list_files(spark, INDEX_SRC))) == 1


def test_embed_with_cache_parses_and_embeds_once(spark):
    """With or without a cache, the embedded frame runs two Python
    stages: the parse and one embed (cache hits pass through it)."""
    from cqs_spark.index.ingest import build_chunks, list_files
    from cqs_spark.index.reuse import embed_with_cache

    chunks = build_chunks(list_files(spark, INDEX_SRC))
    cache = spark.createDataFrame(
        [("h", [0.0] * 64, "fp")],
        "canonical_hash string, embedding array<float>, fingerprint string",
    )
    for c in (None, cache):
        embedded, _ = embed_with_cache(chunks, c)
        assert _n_map_in_pandas(embedded) == 2


def test_refresh_parse_scan_pushes_path_filter(spark, tmp_path, monkeypatch):
    """Refresh parses only the changed files: the parse input is the
    listing with a ``path IN (...)`` filter pushed into the scan."""
    import cqs_spark.engine as engine_mod
    from cqs_spark.engine import Engine

    tree = tmp_path / "tree"
    tree.mkdir()
    for name in ("a", "b", "c"):
        (tree / f"{name}.py").write_text(f"def {name}():\n    return 1\n")
    eng = Engine(spark, str(tmp_path / "idx"))
    eng.index(str(tree))
    for name in ("a", "b"):
        (tree / f"{name}.py").write_text(f"def {name}():\n    return 2\n")
    seen = []
    real = engine_mod.build_chunks

    def spy(files, *a, **kw):
        seen.append(files)
        return real(files, *a, **kw)

    monkeypatch.setattr(engine_mod, "build_chunks", spy)
    assert eng.refresh()["reparsed"] == 2
    (files,) = seen
    plan = files._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters: [In(path" in plan, plan


def test_q103_risk_targets_broadcast(spark, sf_dir):
    """Risk scoring: the small changed-function target set broadcasts
    to the edge scan; no cartesian products anywhere in the BFS."""
    p = _formatted(spark, "q103", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q143_sentence_detect_hashes_join_key(spark, sf_dir):
    """Sentence-level ExactSubstr joins on the md5 of the normalized
    sentence — a fixed-width shuffle key (column ``h``) — never on the
    raw sentence string; no cartesian anywhere.  The md5 computation
    itself sits behind the staged candidate frame (r12:
    _duplicate_from_units localCheckpoints it for its two consumers),
    so the plan shows the staged ``h`` key, not the md5 call."""
    p = _formatted(spark, "q143", sf_dir)
    assert "h#" in p  # the fixed-width hash key IS the join key
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def _staged_frames(p: str) -> dict[str, str]:
    """Staged (ExistingRDD) leaves of a formatted plan: RDD → its output
    columns, one entry per staged frame however many consumers scan it."""
    return {
        rdd: cols
        for cols, rdd in re.findall(
            r"Arguments: \[([^\]]*)\], (\w+RDD\[\d+\]) at \S+ at [^,]*, ExistingRDD",
            p,
        )
    }


def _is_band_frame(cols: str) -> bool:
    return {"simhash", "band", "val"} <= {c.split("#")[0] for c in cols.split(", ")}


def test_q145_simhash_bands_equi_join(spark, sf_dir):
    """The hamming band join is an equi-join on (band, val) with the
    oversized-bucket stats broadcast; the verify is a bit op in the
    projection, never a re-scan of the token table.  With the bucket
    cap the banded frame is staged exactly once (its four consumers
    read one leaf); without the cap nothing is staged."""
    from cqs_spark.catalog import load_table
    from cqs_spark.operators.dedup import simhash_neardup

    p = _formatted(spark, "q145", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "bit_count" in p
    staged = list(_staged_frames(p).values())
    assert len(staged) == 1 and _is_band_frame(staged[0]), staged
    docs = load_table(spark, sf_dir, "documents")
    uncapped = simhash_neardup(docs, "doc_id", "text", max_bucket=None)
    assert _staged_frames(_explain(uncapped)) == {}


def test_q146_leakage_output_is_source_pair_bounded(spark, sf_dir):
    """Cross-source leakage: the per-source gram-count sides broadcast
    back onto the pair aggregate (diagnostics-sized frames), and the
    gram self-join is an equi-join on the hash."""
    p = _formatted(spark, "q146", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q147_incremental_simhash_index_never_shuffles_to_batch(spark, sf_dir):
    """The batch side broadcasts onto the indexed band projection —
    the indexed signatures are never exchanged for the cross join."""
    p = _formatted(spark, "q147", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # The batch bands are staged once and shared by the within-batch
    # capped join and the cross join — never staged a second time.
    staged = list(_staged_frames(p).values())
    assert len(staged) == 1 and _is_band_frame(staged[0]), staged


def test_q157_drift_profile_windows_over_tiny_frame(spark, sf_dir):
    """The drift z-math runs as window functions over the PROFILE
    frame (rows = batches x sources), never over per-doc rows: the
    plan has a Window operator, stddev_pop appears as a window
    aggregate, and there is no cartesian anywhere."""
    p = _formatted(spark, "q157", sf_dir)
    assert "Window" in p
    assert "stddev_pop" in p
    assert "CartesianProduct" not in p


def test_q158_contamination_probe_broadcasts_eval_grams(spark, sf_dir):
    """The corpus gram stream (the huge side) probes BROADCAST eval
    grams — the corpus is never shuffled for the semi join, and the
    join keys are gram strings via equi-join, no nested loop."""
    p = _formatted(spark, "q158", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q156_release_audit_single_row_legs_broadcast(spark, sf_dir):
    """Every audit leg is a one-row aggregate joined to the broadcast
    corpus total — the report's crossJoins are all broadcast of
    single-row frames, never a distributed cartesian."""
    p = _formatted(spark, "q156", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row total onto 1-row legs


def _exchange_nodes(p: str) -> int:
    """Count Exchange NODES in a formatted plan (each node appears
    twice in the text: once in the tree, once as a detail header)."""
    return len(re.findall(r"^\(\d+\) Exchange", p, re.M))


def test_q163_injection_scan_is_scan_side_projection(spark, sf_dir):
    """The injection scan is pure JVM regex/substring projections over
    one pass of the corpus: no join, no aggregate-shuffle — the only
    exchange is the final presentation orderBy."""
    p = _formatted(spark, "q163", sf_dir)
    assert "Join" not in p
    assert "HashAggregate" not in p
    assert _exchange_nodes(p) <= 1  # the orderBy's range partitioning


def test_q164_semantic_drift_broadcasts_centroids(spark, sf_dir):
    """The assignment pass broadcasts the (tiny, frozen) centroid set
    against the corpus — never a distributed cartesian — and all the
    drift windows run on the post-aggregate grid."""
    p = _formatted(spark, "q164", sf_dir)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q167_manifest_single_aggregation_pass(spark, sf_dir):
    """The shard manifest is one projection + one groupBy over the
    corpus: exactly one aggregation exchange (plus the orderBy), no
    join, and partial aggregation runs map-side."""
    p = _formatted(spark, "q167", sf_dir)
    assert "Join" not in p
    # fan-out repartition + the ONE aggregation exchange + orderBy
    assert _exchange_nodes(p) <= 3
    assert "partial" in p.lower()  # map-side combine before the shuffle


def test_q168_moments_no_explode_no_join(spark, sf_dir):
    """The moment sketch never explodes corpus × dim² rows into a
    shuffle: the Arrow stage emits per-PARTITION partial sums, so the
    plan has no join and no Expand/Generate over the corpus."""
    p = _formatted(spark, "q168", sf_dir)
    assert "Join" not in p
    assert "Generate" not in p  # no explode of the vectors


def test_q171_incremental_media_index_never_shuffles_to_batch(spark, sf_dir):
    """Same contract as q147 for the media leg: the BATCH bands
    broadcast onto the indexed signature projection — the index side
    joins map-side, never a cartesian."""
    p = _formatted(spark, "q171", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_q173_video_neardup_stopword_drop_is_broadcast_anti(spark, sf_dir):
    """The over-frequent frame-hash drop is a BROADCAST anti-join on
    the tiny common-hash set; the pair join is an equi-join on the
    16-byte hash table with a map-side partial count — no cartesian."""
    p = _formatted(spark, "q173", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "partial" in p.lower()


def test_q174_containment_joins_hash_tables_only(spark, sf_dir):
    """Cross-modal containment is an equi-join between two hash
    frames: pixels never reach a shuffle (the only binary-bearing
    nodes are the Arrow decode stages) and no cartesian appears."""
    p = _formatted(spark, "q174", sf_dir)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_q175_q176_decode_single_arrow_stage(spark, sf_dir):
    """The JPEG tolerance gate and the resize are one Arrow stage over
    the id frame: no join, no aggregation — the only exchange is the
    fixture-spread repartition (the presentation orderBy reads the
    staged frame)."""
    from cqs_spark.operators import multimodal_queries as M
    from cqs_spark.operators.multimodal import resize_images

    for df in (
        M._q175_ok(spark, sf_dir),
        resize_images(M._q165_media(spark, sf_dir), 4, 4),
    ):
        p = _explain(df)
        assert "Join" not in p
        assert "HashAggregate" not in p
        assert _exchange_nodes(p) <= 1


_ID_CORPORA = [
    "_q165_media", "_q169_media", "_q171_index_media", "_q171_batch_media",
    "_q172_media", "_q174_images", "_q175_ok", "_q178_media", "_q179_media",
    "_q180_index_media", "_q180_batch_media", "_q183_media", "_q184_media",
    "_q185_media", "_q186_media", "_q187_media", "_q188_media",
]


@pytest.mark.parametrize("builder", _ID_CORPORA)
def test_id_corpus_is_one_spread_arrow_stage(spark, sf_dir, builder):
    """Every synthetic media corpus is the documents id frame spread
    round-robin over defaultParallelism partitions, then ONE
    mapInPandas: the encode runs on every core, never on the single
    task of the one-file fixture scan.  ``_q175_ok`` is q175's corpus:
    it yields each id's decode verdict, not a blob."""
    from cqs_spark.operators import multimodal_queries as M

    p = _explain(getattr(M, builder)(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) MapInPandas$", p, re.M)) == 1
    spread = re.findall(r"Arguments: RoundRobinPartitioning\((\d+)\)", p)
    assert spread == [str(spark.sparkContext.defaultParallelism)]


def test_q178_metadata_scan_joins_flag_frames_never_blobs(spark, sf_dir):
    """The PII gate's joins run on the per-id FLAG/hash frames — the
    binary column never crosses a shuffle (blobs exist only inside the
    Arrow scan/strip stages), and every join is a plain equi-join on
    media_id, no cartesian."""
    from cqs_spark.operators import multimodal_queries as M
    from cqs_spark.operators.mediameta import media_release_scan

    p = _explain(media_release_scan(M._q178_media(spark, sf_dir)))
    assert "CartesianProduct" not in p
    # no Exchange node carries the binary data column
    for m in re.finditer(r"^\(\d+\) Exchange\n(?:.+\n)+?", p, re.M):
        assert "data" not in m.group(0).split("Arguments")[0]


def test_q179_q180_windowed_audio_join_is_hash_table_only(spark, sf_dir):
    """The windowed near-dup joins run on the distinct (id, afp)
    tables (16 bytes/window): no cartesian, map-side partial count for
    the shared aggregate; q180's index side additionally joins the
    broadcast batch (the no-shuffle-to-index contract)."""
    for name in ("q179", "q180"):
        p = _formatted(spark, name, sf_dir)
        assert "CartesianProduct" not in p
        assert "partial" in p.lower()
    assert "BroadcastHashJoin" in _formatted(spark, "q180", sf_dir)


# Every declared query whose global orderBy sat directly over an Arrow
# Python stage, in the same Spark stage (a plan scan of all declared
# queries at sf0.001).
ARROW_SORT_SITES = [
    "q30", "q78", "q113", "q115", "q116", "q119", "q120", "q121", "q122",
    "q123", "q124", "q134", "q165", "q169", "q172", "q175", "q176", "q178",
    "q183", "q184", "q185", "q186", "q187", "q188",
]


def _python_in_range_exchange_stage(df) -> list[str]:
    """The Python nodes between each range-partition exchange and the
    next exchange or leaf below it: the nodes the exchange's sample job
    and its shuffle job would each run."""

    def kids(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return [node.executedPlan()]
        if name.endswith("QueryStage"):
            return [node.plan()]
        seq = node.children()
        return [seq.apply(i) for i in range(seq.size())]

    def python_above_exchange(node):
        found = []
        for child in kids(node):
            name = child.nodeName()
            if "Exchange" in name or name.endswith("QueryStage"):
                continue
            if re.search(r"InPandas|InArrow|Python", name):
                found.append(name)
            found += python_above_exchange(child)
        return found

    found, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "Exchange" and (
            node.outputPartitioning().getClass().getSimpleName() == "RangePartitioning"
        ):
            found += python_above_exchange(node)
        todo += kids(node)
    return found


@pytest.mark.parametrize("name", ARROW_SORT_SITES)
def test_global_sort_reads_staged_arrow_output(spark, sf_dir, name):
    """A global sort's range partitioner samples its input in a job of
    its own before the shuffle reads it, so a Python stage inside the
    sort's input stage would run twice: the query stages it first."""
    df = E.queries()[name](spark, sf_dir)
    assert _python_in_range_exchange_stage(df) == []
