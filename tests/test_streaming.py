"""Streaming twins vs their oracle-checked batch counterparts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_dedup_arrivals_stream(spark, tmp_path):
    """Three arrival files drain one-per-trigger: exact clones across
    batches dedup against earlier SURVIVORS (not just batch 1), fresh
    docs survive, and duplicates never join the index."""
    from pyspark.sql import functions as F

    from cqs_spark.streaming.maintain import dedup_arrivals

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    other = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 3
    arr = tmp_path / "arrivals"
    arr.mkdir()

    def write_file(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / "tmp_batch"))
        import glob
        import shutil

        src = glob.glob(str(tmp_path / "tmp_batch" / "*.parquet"))[0]
        shutil.copy(src, str(arr / name))

    write_file("f1.parquet", [(1, base), (2, other)])
    write_file("f2.parquet", [(10, base), (11, "totally novel words here about distributed systems and parquet")])
    write_file("f3.parquet", [(20, other), (21, base)])

    out = str(tmp_path / "out")
    dedup_arrivals(
        spark, str(arr), str(tmp_path / "index"), out,
        str(tmp_path / "ckpt"),
    )
    rows = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    # one survivor per distinct text, and it's the first arrival
    assert set(rows) == {1, 2, 11}
    texts = list(rows.values())
    assert len(texts) == len(set(texts))
    # index holds survivors only
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "index" / "bands"))
        .select("doc_id").distinct().collect()
    }
    assert idx_ids == {1, 2, 11}


def test_curate_arrivals_matches_batch_ladder(spark, tmp_path):
    """The streaming curation ladder over three arrival files equals
    batch `curate` on the union (chain-free corpus): same survivors,
    same scrubbed texts, and the per-batch report rows sum to the
    batch ladder's stage counts."""
    from pyspark.sql import functions as F

    from cqs_spark.operators.curate import curate
    from cqs_spark.streaming.maintain import curate_arrivals

    g1 = (
        "the quick brown fox jumps over the lazy dog and that is fine "
        "with everyone because the words have enough variety to pass "
        "every published quality threshold easily today"
    )
    g2 = (
        "a long time ago the people of this town would gather in the "
        "square and tell stories about the harvest and the weather "
        "and the state of the roads to the next village"
    )
    g3 = (
        "science is the belief in the ignorance of experts and the "
        "willingness to test every idea against the world with honest "
        "measurements that anyone is free to repeat and check"
    )
    g4 = (
        "the committee decided that the new library would be open to "
        "all residents of the county and that the budget for books "
        "would grow by a small amount every single year"
    )
    g5 = (
        "when the rain finally came the farmers walked out into the "
        "fields and stood for a while just looking at the sky and "
        "saying nothing to each other about the long dry summer"
    )
    g6 = (
        "the engineers spent the whole week measuring the bridge and "
        "writing down the numbers in a shared ledger so that the next "
        "crew could continue the inspection without starting over"
    )
    french = (
        "les amis sont dans une maison pour regarder les oiseaux sur "
        "des arbres est pas une chose rare dans les villes pour des "
        "gens qui marchent sur des routes est pas mal"
    )
    pii = g4 + " also you can mail me at a@b.com for the details"

    f1 = [(1, g1), (2, g2), (3, g3), (4, french), (5, "ok ok ok ok ok")]
    f2 = [
        (10, g1),                 # exact clone of doc 1
        (11, g2 + " indeed"),     # near clone of doc 2
        (12, g5),
        (13, pii),
    ]
    f3 = [
        (20, g5),                 # exact clone of doc 12's text
        (21, g3 + " indeed"),     # near clone of doc 3
        (22, g6),
    ]

    arr = tmp_path / "arrivals"
    arr.mkdir()

    def write_file(name, rows):
        import glob
        import shutil

        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / "tmp_batch"))
        src = glob.glob(str(tmp_path / "tmp_batch" / "*.parquet"))[0]
        shutil.copy(src, str(arr / name))

    write_file("f1.parquet", f1)
    write_file("f2.parquet", f2)
    write_file("f3.parquet", f3)

    out = str(tmp_path / "out")
    rep = str(tmp_path / "report")
    curate_arrivals(
        spark, str(arr), str(tmp_path / "index"), out,
        str(tmp_path / "ckpt"), report_dir=rep,
    )

    stream_rows = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()
    }
    union = spark.createDataFrame(
        f1 + f2 + f3, "doc_id long, text string"
    )
    batch_out, batch_report = curate(union)
    batch_rows = {
        r["doc_id"]: r["text"] for r in batch_out.collect()
    }
    assert stream_rows == batch_rows
    assert set(stream_rows) == {1, 2, 3, 12, 13, 22}
    assert "a@b.com" not in stream_rows[13] and "[EMAIL]" in stream_rows[13]

    # Per-batch report rows sum to the batch ladder's stage counts
    # (gates are row-local; exact dedup keeps the first arrival = the
    # min id; the corpus is chain-free so greedy-online near dedup
    # agrees with transitive-cluster near dedup).
    from cqs_spark.streaming.maintain import _REPORT_KEYS

    sums = (
        spark.read.parquet(rep)
        .agg(*[F.sum(k).alias(k) for k in _REPORT_KEYS])
        .first()
        .asDict()
    )
    assert {k: int(v) for k, v in sums.items()} == {
        k: batch_report[k] for k in _REPORT_KEYS
    }
    # Every staged index holds survivors only.
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "index" / "bands"))
        .select("doc_id").distinct().collect()
    }
    assert idx_ids == set(stream_rows)
    n_hashes = spark.read.parquet(
        str(tmp_path / "index" / "hashes")
    ).distinct().count()
    assert n_hashes == len(stream_rows)


def test_batch_slice_writes_are_retry_idempotent(spark, tmp_path):
    """The staging primitive behind the arrival pipelines: re-writing
    the same batch slice (a foreachBatch retry) overwrites instead of
    appending — the index/output never double-count a replayed batch —
    and existence goes through the Hadoop FS API."""
    from cqs_spark.streaming.maintain import _fs_exists, _write_batch_slice

    root = str(tmp_path / "staged")
    assert not _fs_exists(spark, root)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, sh string")
    _write_batch_slice(df, root, 0, "runA")
    _write_batch_slice(df, root, 0, "runA")  # the retry
    _write_batch_slice(df, root, 1, "runA")  # a later batch
    _write_batch_slice(df, root, 0, "runB")  # a NEW incarnation's batch 0
    assert _fs_exists(spark, root)
    got = spark.read.parquet(root).select("doc_id", "sh")
    assert got.count() == 6  # (A,0) once + (A,1) + (B,0), never 8
    assert got.filter("doc_id = 1").count() == 3


def test_read_staged_excludes_own_run_batch_slice(spark, tmp_path):
    """The replay-safety primitive: reading the staged index for
    (run, batch) must never see that run's OWN slice for that batch (a
    foreachBatch retry after the slice writes landed would otherwise
    treat its own output as prior state), while still seeing every
    other batch's slice AND a different run's slice for the SAME batch
    number — batch ids restart at 0 per checkpoint, so a reused
    index_dir under a new checkpoint must keep the prior run's batch=N
    state visible."""
    from cqs_spark.streaming.maintain import _read_staged, _write_batch_slice

    root = str(tmp_path / "staged")
    schema = "doc_id long, sh string"
    cols = ("doc_id", "sh")
    empty = _read_staged(spark, root, 0, schema, cols, "runA")
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "sh"]

    _write_batch_slice(
        spark.createDataFrame([(1, "a")], schema), root, 0, "runA"
    )
    _write_batch_slice(
        spark.createDataFrame([(2, "b")], schema), root, 1, "runA"
    )
    replay_of_1 = {
        r["doc_id"]
        for r in _read_staged(spark, root, 1, schema, cols, "runA").collect()
    }
    assert replay_of_1 == {1}
    fresh_batch_2 = {
        r["doc_id"]
        for r in _read_staged(spark, root, 2, schema, cols, "runA").collect()
    }
    assert fresh_batch_2 == {1, 2}
    # A NEW run's batch 1 sees runA's batch=1 slice — the poisoning
    # case batch-only exclusion got wrong.
    new_run_batch_1 = {
        r["doc_id"]
        for r in _read_staged(spark, root, 1, schema, cols, "runB").collect()
    }
    assert new_run_batch_1 == {1, 2}


def test_read_staged_tolerates_missing_partition_columns(spark, tmp_path):
    """Hand-built staged state without the run/batch partition columns
    must read whole (nothing can be 'our own slice'), not fail the
    stream: (a) a plain flat staged table, (b) batch-only slices —
    which still get batch-scoped exclusion as the best available."""
    from cqs_spark.streaming.maintain import _read_staged

    schema = "doc_id long, sh string"
    cols = ("doc_id", "sh")
    flat = str(tmp_path / "flat")
    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.parquet(flat)
    got = {
        r["doc_id"] for r in _read_staged(spark, flat, 0, schema, cols, "runA").collect()
    }
    assert got == {1, 2}

    batch_only = str(tmp_path / "batch_only")
    spark.createDataFrame([(1, "a")], schema).write.parquet(
        f"{batch_only}/batch=0"
    )
    spark.createDataFrame([(2, "b")], schema).write.parquet(
        f"{batch_only}/batch=1"
    )
    got = {
        r["doc_id"]
        for r in _read_staged(spark, batch_only, 1, schema, cols, "runA").collect()
    }
    assert got == {1}


def test_migrate_legacy_slices_is_idempotent(spark, tmp_path):
    """Pre-run-scoped batch=N slices move under run=__legacy__ so they
    coexist with run-scoped writes; re-running the migration (and
    running it on fresh/absent dirs) is a no-op; migrated rows stay
    visible to every new run."""
    from cqs_spark.streaming.maintain import (
        _migrate_legacy_slices,
        _read_staged,
        _write_batch_slice,
    )

    schema = "doc_id long, sh string"
    cols = ("doc_id", "sh")
    root = str(tmp_path / "staged")
    spark.createDataFrame([(1, "a")], schema).write.parquet(f"{root}/batch=0")
    _migrate_legacy_slices(spark, root)
    _migrate_legacy_slices(spark, root)  # idempotent
    _migrate_legacy_slices(spark, str(tmp_path / "absent"))  # no-op
    _write_batch_slice(
        spark.createDataFrame([(2, "b")], schema), root, 0, "runA"
    )
    got = {
        r["doc_id"]
        for r in _read_staged(spark, root, 1, schema, cols, "runA").collect()
    }
    assert got == {1, 2}
    # the new run's own batch-0 replay still excludes only its slice
    got = {
        r["doc_id"]
        for r in _read_staged(spark, root, 0, schema, cols, "runA").collect()
    }
    assert got == {1}


def _plant_arrival(spark, tmp_path, arr, name, rows,
                   schema="doc_id long, text string"):
    import glob
    import shutil

    spark.createDataFrame(rows, schema).coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "tmp_batch"))
    src = glob.glob(str(tmp_path / "tmp_batch" / "*.parquet"))[0]
    shutil.copy(src, str(arr / name))


def _uncommit_batch(ckpt: str, batch_id: int) -> None:
    """Simulate a crash AFTER a batch's foreachBatch side effects landed
    but BEFORE the streaming commit: drop the commit marker while the
    offsets plan remains, so a restart from the SAME checkpoint
    re-executes exactly that batch with the same batch_id and run id —
    the true at-least-once replay (a fresh checkpoint is a NEW run, a
    different contract)."""
    import contextlib
    import os

    os.remove(os.path.join(ckpt, "commits", str(batch_id)))
    with contextlib.suppress(FileNotFoundError):  # Hadoop CRC sidecar
        os.remove(os.path.join(ckpt, "commits", f".{batch_id}.crc"))


_G1 = (
    "the quick brown fox jumps over the lazy dog and that is fine "
    "with everyone because the words have enough variety to pass "
    "every published quality threshold easily today"
)
_G2 = (
    "a long time ago the people of this town would gather in the "
    "square and tell stories about the harvest and the weather "
    "and the state of the roads to the next village"
)


def test_curate_arrivals_full_step_replay_converges(spark, tmp_path):
    """Full-step replay (foreachBatch is at-least-once): re-running a
    batch whose index slices already landed — crash after staging,
    before the streaming commit, simulated by deleting the batch's
    commit marker and restarting from the SAME checkpoint — must
    converge to the SAME survivors.  Before the _read_staged fix the
    retry found every gated doc's hash already 'seen', dropped the
    whole batch, and overwrote the out/index slices with empty frames
    (permanent loss)."""
    from cqs_spark.streaming.maintain import curate_arrivals

    arr = tmp_path / "arrivals"
    arr.mkdir()
    _plant_arrival(
        spark, tmp_path, arr, "f1.parquet", [(1, _G1), (2, _G2), (3, _G1)]
    )

    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt1")
    curate_arrivals(spark, str(arr), idx, out, ckpt)
    before = sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
    )
    assert [d for d, _ in before] == [1, 2]  # doc 3 is an exact clone of 1

    _uncommit_batch(ckpt, 0)
    curate_arrivals(spark, str(arr), idx, out, ckpt)
    after = sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
    )
    assert after == before
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/bands").select("doc_id").collect()
    }
    assert idx_ids == {1, 2}


def test_curate_arrivals_reused_index_new_checkpoint(spark, tmp_path):
    """Reusing an index_dir with a NEW checkpoint (rotated arrival
    directory, retained dedup state — a supported CLI combination) must
    keep the prior run's batch=N slices visible: batch ids restart at 0
    per checkpoint, and batch-only replay exclusion silently hid run
    A's batch=0 survivors from run B's batch 0, admitting their clones
    as canonical."""
    from cqs_spark.streaming.maintain import curate_arrivals

    arr1 = tmp_path / "arr1"
    arr1.mkdir()
    _plant_arrival(spark, tmp_path, arr1, "f1.parquet", [(1, _G1), (2, _G2)])
    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    curate_arrivals(spark, str(arr1), idx, out, str(tmp_path / "ckptA"))
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [1, 2]

    g3 = (
        "science is the belief in the ignorance of experts and the "
        "willingness to test every idea against the world with honest "
        "measurements that anyone is free to repeat and check"
    )
    arr2 = tmp_path / "arr2"
    arr2.mkdir()
    # 30: exact clone of run A's batch-0 survivor 1; 31: near clone of
    # survivor 2; 32: novel.
    _plant_arrival(
        spark, tmp_path, arr2, "f2.parquet",
        [(30, _G1), (31, _G2 + " indeed"), (32, g3)],
    )
    curate_arrivals(spark, str(arr2), idx, out, str(tmp_path / "ckptB"))
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 32]
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/bands").select("doc_id").collect()
    }
    assert idx_ids == {1, 2, 32}


def test_seed_staged_index_day0_bootstrap(spark, tmp_path):
    """Day-0 seeding: a batch-curated corpus seeds the staged index;
    arrivals that clone a seed doc (exactly or nearly) dedup against
    it, novel docs survive, and the seed slices survive a true
    same-checkpoint replay (run=__seed__/batch=-1 is never excluded)."""
    from cqs_spark.streaming.maintain import curate_arrivals, seed_staged_index

    g3 = (
        "science is the belief in the ignorance of experts and the "
        "willingness to test every idea against the world with honest "
        "measurements that anyone is free to repeat and check"
    )
    idx = str(tmp_path / "index")
    corpus = spark.createDataFrame(
        [(1, _G1), (2, _G2)], "doc_id long, text string"
    )
    seed_staged_index(spark, corpus, idx)

    arr = tmp_path / "arrivals"
    arr.mkdir()
    # 10: exact clone of seed 1; 11: near clone of seed 2; 12: novel.
    _plant_arrival(
        spark, tmp_path, arr, "f1.parquet",
        [(10, _G1), (11, _G2 + " indeed"), (12, g3)],
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    curate_arrivals(spark, str(arr), idx, out, ckpt)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [12]

    # Replay batch 0 from the same checkpoint: the seed must still be
    # visible (clones stay dropped) and the outcome identical.
    _uncommit_batch(ckpt, 0)
    curate_arrivals(spark, str(arr), idx, out, ckpt)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [12]
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/bands").select("doc_id").collect()
    }
    assert idx_ids == {1, 2, 12}


def test_curate_arrivals_incremental_exactsubstr(spark, tmp_path):
    """exactsubstr="passage": a later batch's doc quoting a prior survivor's
    k-gram run keeps its own words but loses the quoted span; the
    first carrier's text is untouched; within-batch earlier docs own
    first occurrence; grams survive a true same-checkpoint replay."""
    from cqs_spark.streaming.maintain import curate_arrivals

    quoted = (
        "the committee decided that the new library would be open to "
        "all residents of the county next year"
    )
    host1 = (
        "the first report said " + quoted + " and the town agreed "
        "that the decision was fair for all the families living there"
    )
    host2 = (
        "as noted in the minutes " + quoted + " which was welcomed by "
        "everyone who attended the long meeting yesterday evening there"
    )
    arr = tmp_path / "arrivals"
    arr.mkdir()
    _plant_arrival(spark, tmp_path, arr, "f1.parquet", [(1, host1)])
    _plant_arrival(spark, tmp_path, arr, "f2.parquet", [(10, host2)])

    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    curate_arrivals(
        spark, str(arr), idx, out, ckpt, exactsubstr="passage", scrub_pii=False
    )
    rows = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert set(rows) == {1, 10}
    assert "committee" in rows[1]            # first carrier untouched
    assert "committee" not in rows[10]       # quoted span stripped
    assert "minutes" in rows[10] and "welcomed" in rows[10]

    # True replay of batch 1: same survivors, span still stripped, the
    # first carrier's staged grams still visible.
    _uncommit_batch(ckpt, 1)
    curate_arrivals(
        spark, str(arr), idx, out, ckpt, exactsubstr="passage", scrub_pii=False
    )
    rows2 = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert rows2 == rows


def test_curate_arrivals_incremental_sentence_exactsubstr(spark, tmp_path):
    """exactsubstr="sentence": a later batch's doc repeating a prior
    survivor's full sentence loses exactly that sentence (normalized
    reassembly); its fresh sentences survive."""
    from cqs_spark.streaming.maintain import curate_arrivals

    s_shared = (
        "the committee decided that the new library would be open to "
        "all residents of the county next year"
    )
    host1 = (
        s_shared + ". the town agreed that the decision was fair for "
        "all the families living there in every district today."
    )
    host2 = (
        s_shared + "! a completely fresh remark about the weather and "
        "the state of the roads to the next village was added."
    )
    arr = tmp_path / "arrivals"
    arr.mkdir()
    _plant_arrival(spark, tmp_path, arr, "f1.parquet", [(1, host1)])
    _plant_arrival(spark, tmp_path, arr, "f2.parquet", [(10, host2)])
    out = str(tmp_path / "out")
    curate_arrivals(
        spark, str(arr), str(tmp_path / "idx"), out, str(tmp_path / "ckpt"),
        exactsubstr="sentence", scrub_pii=False,
    )
    rows = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert set(rows) == {1, 10}
    assert "committee" in rows[1]
    assert "committee" not in rows[10]
    assert "fresh remark" in rows[10]


def test_exactsubstr_unit_marker_rejects_mixing(spark, tmp_path):
    """One index_dir sticks to one ExactSubstr unit: the marker written
    on first use rejects a different unit later (the staged hashes are
    not interchangeable), and the SAME unit re-opens fine."""
    from cqs_spark.streaming.maintain import (
        _check_unit_marker,
        seed_staged_index,
    )

    idx = str(tmp_path / "index")
    corpus = spark.createDataFrame([(1, _G1)], "doc_id long, text string")
    seed_staged_index(spark, corpus, idx, exactsubstr="passage")
    _check_unit_marker(spark, idx, "passage")  # same unit + k: fine
    with pytest.raises(ValueError, match="passage.*sentence"):
        _check_unit_marker(spark, idx, "sentence")
    # Same unit, DIFFERENT k: md5(k-gram) key spaces are disjoint, so
    # cross-batch dedup would silently find nothing — reject it too.
    with pytest.raises(ValueError, match="k=8.*k=9"):
        _check_unit_marker(spark, idx, "passage", k=9)
    # Sentence markers carry no k (not in the key space).
    idx2 = str(tmp_path / "index2")
    _check_unit_marker(spark, idx2, "sentence", k=8)
    _check_unit_marker(spark, idx2, "sentence", k=99)  # k irrelevant


def test_exactsubstr_unit_marker_legacy_upgrade(spark, tmp_path):
    """Pre-v2 markers (bare 'passage', 'passage:k=<k>', bare
    'sentence') are accepted with a recall-loss warning and upgraded
    in place to the v2 form; a bare 'passage' with a NON-default k
    still raises (the k genuinely differs).  An empty marker (a
    truncated write) is claimed like an absent one, for the media
    ``sigs_kind`` marker as for ``grams_unit``, and then holds."""
    import warnings

    from cqs_spark.streaming.maintain import (
        _check_media_marker,
        _check_unit_marker,
    )

    def plant(name: str, content: str, marker: str = "grams_unit") -> str:
        d = tmp_path / name
        d.mkdir()
        (d / marker).write_text(content)
        return str(d)

    # empty 'grams_unit': claimed by the first unit, which then holds
    idx = plant("empty_unit", "")
    _check_unit_marker(spark, idx, "passage")
    assert (tmp_path / "empty_unit" / "grams_unit").read_text() == (
        "passage:k=8:v2"
    )
    with pytest.raises(ValueError, match="passage.*sentence"):
        _check_unit_marker(spark, idx, "sentence")
    # empty 'sigs_kind': the same rule for the media fingerprint family
    idx = plant("empty_sigs", "", marker="sigs_kind")
    _check_media_marker(spark, idx, "image", "dhash", 64)
    assert (tmp_path / "empty_sigs" / "sigs_kind").read_text() == (
        "image:dhash:v1"
    )
    _check_media_marker(spark, idx, "image", "dhash", 64)
    with pytest.raises(ValueError, match="image:dhash:v1.*image:ahash:v1"):
        _check_media_marker(spark, idx, "image", "ahash", 64)

    # bare legacy 'passage' + default k: accepted, warned, upgraded
    idx = plant("legacy_passage", "passage")
    with pytest.warns(UserWarning, match="pre-v2"):
        _check_unit_marker(spark, idx, "passage")
    assert (tmp_path / "legacy_passage" / "grams_unit").read_text() == (
        "passage:k=8:v2"
    )
    with warnings.catch_warnings():  # second open: silent, marker stable
        warnings.simplefilter("error")
        _check_unit_marker(spark, idx, "passage")
    # bare legacy 'passage' + NON-default k: a real k mismatch
    idx = plant("legacy_passage_k9", "passage")
    with pytest.raises(ValueError, match="passage"):
        _check_unit_marker(spark, idx, "passage", k=9)
    # r8-era 'passage:k=<k>' (k-marker, raw-keyed): accepted iff k matches
    idx = plant("r8_passage", "passage:k=5")
    with pytest.warns(UserWarning, match="pre-v2"):
        _check_unit_marker(spark, idx, "passage", k=5)
    assert (tmp_path / "r8_passage" / "grams_unit").read_text() == (
        "passage:k=5:v2"
    )
    with pytest.raises(ValueError):
        _check_unit_marker(spark, plant("r8_p7", "passage:k=7"), "passage")
    # bare legacy 'sentence': accepted, upgraded
    idx = plant("legacy_sentence", "sentence")
    with pytest.warns(UserWarning, match="pre-v2"):
        _check_unit_marker(spark, idx, "sentence")
    assert (tmp_path / "legacy_sentence" / "grams_unit").read_text() == (
        "sentence:v2"
    )


def test_seed_staged_index_seeds_grams(spark, tmp_path):
    """Day-0 gram seeding: an arrival quoting a SEEDED doc's k-gram run
    loses the span in its very first batch."""
    from cqs_spark.streaming.maintain import curate_arrivals, seed_staged_index

    quoted = (
        "the committee decided that the new library would be open to "
        "all residents of the county next year"
    )
    host = (
        "as noted in the minutes " + quoted + " which was welcomed by "
        "everyone who attended the long meeting yesterday evening there"
    )
    idx = str(tmp_path / "index")
    seed_staged_index(
        spark,
        spark.createDataFrame([(1, quoted)], "doc_id long, text string"),
        idx,
        exactsubstr="passage",
    )
    arr = tmp_path / "arrivals"
    arr.mkdir()
    _plant_arrival(spark, tmp_path, arr, "f1.parquet", [(10, host)])
    out = str(tmp_path / "out")
    curate_arrivals(
        spark, str(arr), idx, out, str(tmp_path / "ckpt"),
        exactsubstr="passage", scrub_pii=False,
    )
    rows = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert set(rows) == {10}
    assert "committee" not in rows[10]
    assert "minutes" in rows[10] and "welcomed" in rows[10]


def test_stream_exactsubstr_matches_batch_ladder(spark, tmp_path):
    """With monotone arrival ids (= id order), the streaming
    incremental ExactSubstr equals batch curate(exactsubstr="passage")
    on the union: the global min-id first-carrier is always in the
    earliest batch that carries the gram, so cross-batch staging and
    the batch ladder's global first-occurrence rule pick the same
    owner and strip the same spans."""
    from cqs_spark.operators.curate import curate
    from cqs_spark.streaming.maintain import curate_arrivals

    quoted = (
        "the committee decided that the new library would be open to "
        "all residents of the county next year"
    )
    host1 = (
        "the first report said " + quoted + " and the town agreed "
        "that the decision was fair for all the families living there"
    )
    host2 = (
        "as noted in the minutes " + quoted + " which was welcomed by "
        "everyone who attended the long meeting yesterday evening there"
    )
    g3 = (
        "science is the belief in the ignorance of experts and the "
        "willingness to test every idea against the world with honest "
        "measurements that anyone is free to repeat and check"
    )
    pii_doc = (
        "please send the final report to alice@example.com and note "
        "that the reference number 123-45-6789 belongs to the person "
        "who wrote all of the documents yesterday with the whole team"
    )
    f1 = [(1, host1), (2, g3)]
    f2 = [(10, host2), (11, g3 + " indeed it was said"), (12, pii_doc)]

    arr = tmp_path / "arrivals"
    arr.mkdir()
    _plant_arrival(spark, tmp_path, arr, "f1.parquet", f1)
    _plant_arrival(spark, tmp_path, arr, "f2.parquet", f2)
    out = str(tmp_path / "out")
    curate_arrivals(
        spark, str(arr), str(tmp_path / "idx"), out, str(tmp_path / "ckpt"),
        exactsubstr="passage",
    )
    stream_rows = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()
    }
    union = spark.createDataFrame(f1 + f2, "doc_id long, text string")
    batch_out, _ = curate(union, exactsubstr="passage")
    batch_rows = {r["doc_id"]: r["text"] for r in batch_out.collect()}
    assert stream_rows == batch_rows
    assert "committee" in stream_rows[1] and "committee" not in stream_rows[10]
    # PII is redacted BEFORE the normalized reassembly in BOTH ladders
    # (post-reassembly digit/word shards would be unmatchable).
    for leak in ("6789", "123 45", "alice", "example.com"):
        assert leak not in stream_rows[12], (leak, stream_rows[12])
    assert "ssn" in stream_rows[12] and "email" in stream_rows[12]


def test_monitor_arrivals_flags_quality_drift(spark, tmp_path):
    """The drift monitor stays quiet while arrival batches match the
    historical profile (and while history < min_history), then flags
    the batch whose profile collapses (spam flood); one stats row per
    batch, run/batch-scoped like every staged table."""
    from cqs_spark.streaming.maintain import monitor_arrivals

    good = [
        (
            "the quick brown fox jumps over the lazy dog and that is "
            "fine with everyone because the words have enough variety "
            "to pass every published quality threshold easily today"
        ),
        (
            "a long time ago the people of this town would gather in "
            "the square and tell stories about the harvest and the "
            "weather and the state of the roads to the next village"
        ),
    ]
    arr = tmp_path / "arrivals"
    arr.mkdir()
    for b in range(4):  # four batches with the IDENTICAL profile
        _plant_arrival(
            spark, tmp_path, arr, f"f{b}.parquet",
            [(b * 10 + i, t) for i, t in enumerate(good)],
        )
    _plant_arrival(  # spam flood: short, no stopwords, heavy symbols
        spark, tmp_path, arr, "f9.parquet",
        [(900 + i, "$$$ ok ok ok $$$") for i in range(2)],
    )
    stats = str(tmp_path / "stats")
    monitor_arrivals(
        spark, str(arr), stats, str(tmp_path / "ckpt"), min_history=3
    )
    rows = {
        r["batch_id"]: r
        for r in spark.read.parquet(stats).collect()
    }
    assert set(rows) == {0, 1, 2, 3, 4}
    assert not any(rows[b]["any_drift"] for b in range(4))
    assert rows[4]["any_drift"]
    assert rows[4]["mean_quality"] < rows[0]["mean_quality"]


def test_monitor_arrivals_per_source_catches_diluted_flood(spark, tmp_path):
    """The per-source leg: a 2-doc spam flood from one small source,
    buried in 40-doc batches, dilutes into the whole-batch mean (the
    '__all__' row stays under every z threshold) but flags on ITS
    source's row in one batch — each source is z-scored against its
    OWN history.  The healthy big source never flags, and a true
    same-checkpoint replay reproduces the rows exactly."""
    from cqs_spark.streaming.maintain import monitor_arrivals

    good_a = (
        "the quick brown fox jumps over the lazy dog and that is fine "
        "with everyone because the words have enough variety to pass "
        "every published quality threshold easily today"
    )
    good_b = (
        "a long time ago the people of this town would gather in the "
        "square and tell stories about the harvest, the weather, and "
        "the state of the roads to the next village every single evening"
    )
    good_c = (
        "the engineers spent the whole week measuring the old bridge "
        "and writing the numbers in a shared ledger so the next crew "
        "could continue the inspection without ever starting over again"
    )
    good_d = (
        "short notes were kept about simple things like doors paint "
        "nails and window glass stacked near the barn wall"
    )
    c_doc = (
        "the committee decided that the new library would be open to "
        "all residents of the county next year for the benefit of everyone"
    )
    spam = " ".join(["zzz", "qqq", "www", "rrr", "xxx"] * 4
                    + ["zzz", "qqq", "www"])  # 23 junk tokens, alnum-clean

    def batch_rows(bid, a_texts, c_texts):
        rows = [(bid * 1000 + i, "a", t) for i, t in enumerate(a_texts)]
        rows += [
            (bid * 1000 + 500 + i, "c", t) for i, t in enumerate(c_texts)
        ]
        return rows

    arr = tmp_path / "arrivals"
    arr.mkdir()
    schema = "doc_id long, source string, text string"
    # Source a's mix varies per batch (real whole-batch variance);
    # source c is steady — until the flood.
    plan = [
        [good_a] * 19 + [good_d] * 19,
        [good_b] * 17 + [good_c] * 17,
        [good_c] * 20 + [good_a] * 20,
        [good_a] * 19 + [good_d] * 19,
    ]
    for b in range(3):
        _plant_arrival(
            spark, tmp_path, arr, f"f{b}.parquet",
            batch_rows(b, plan[b], [c_doc] * 2), schema=schema,
        )
    _plant_arrival(
        spark, tmp_path, arr, "f3.parquet",
        batch_rows(3, plan[3], [spam] * 2), schema=schema,
    )

    stats = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    monitor_arrivals(
        spark, str(arr), stats, ckpt, min_history=3, source_col="source"
    )
    rows = {
        (r["batch_id"], r["source"]): r
        for r in spark.read.parquet(stats).collect()
    }
    assert {k for k in rows} == {
        (b, s) for b in range(4) for s in ("__all__", "a", "c")
    }
    assert not any(rows[(b, s)]["any_drift"] for b in range(3)
                   for s in ("__all__", "a", "c"))
    assert not rows[(3, "__all__")]["any_drift"]   # diluted away
    assert not rows[(3, "a")]["any_drift"]         # healthy source quiet
    assert rows[(3, "c")]["any_drift"]             # the flood, one batch
    assert rows[(3, "c")]["mean_stop_ratio"] == 0.0

    # True same-checkpoint replay of the flood batch: identical rows.
    _uncommit_batch(ckpt, 3)
    monitor_arrivals(
        spark, str(arr), stats, ckpt, min_history=3, source_col="source"
    )
    again = {
        (r["batch_id"], r["source"]): r
        for r in spark.read.parquet(stats).collect()
    }
    assert {k: tuple(v) for k, v in again.items()} == {
        k: tuple(v) for k, v in rows.items()
    }


def test_dedup_arrivals_full_step_replay_converges(spark, tmp_path):
    """Same replay contract for the plain near-dedup arrival stream:
    the retry must not union the batch's own staged shingles into
    jaccard verification (double-counting flips borderline decisions)
    nor drop survivors."""
    from cqs_spark.streaming.maintain import dedup_arrivals

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    other = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 3
    arr = tmp_path / "arrivals"
    arr.mkdir()
    _plant_arrival(
        spark, tmp_path, arr, "f1.parquet", [(1, base), (2, other), (3, base)]
    )

    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt1")
    dedup_arrivals(spark, str(arr), idx, out, ckpt)
    before = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert before == [1, 2]

    _uncommit_batch(ckpt, 0)
    dedup_arrivals(spark, str(arr), idx, out, ckpt)
    after = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert after == before
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/bands").select("doc_id").collect()
    }
    assert idx_ids == {1, 2}


def test_monitor_media_arrivals_flags_pii_and_garbage_floods(spark, tmp_path):
    """The media-feed monitor stays quiet while batches match the
    historical profile, then flags (a) a batch whose blobs suddenly
    carry EXIF GPS (pii_ratio drift) and (b) a garbage flood
    (recognized_ratio collapse) — one header-walk pass per batch, no
    pixel decode."""
    from cqs_spark.operators.jpegcodec import encode_jpeg
    from cqs_spark.operators.mediameta import inject_jpeg_metadata
    from cqs_spark.operators.multimodal import encode_png
    from cqs_spark.streaming.maintain import monitor_media_arrivals

    def px(seed):
        return [[(seed * 31 + r * 16 + c) * 97 % 256 for c in range(16)] for r in range(16)]

    schema = "media_id long, data binary"
    arr = tmp_path / "marr"
    arr.mkdir()
    for b in range(4):  # clean history: JPEG + PNG, no metadata
        _plant_arrival(
            spark, tmp_path, arr, f"f{b}.parquet",
            [
                (b * 10, bytearray(encode_jpeg(px(b)))),
                (b * 10 + 1, bytearray(encode_png(px(b + 50)))),
            ],
            schema=schema,
        )
    _plant_arrival(  # EXIF flood: same containers, GPS on board
        spark, tmp_path, arr, "f8.parquet",
        [
            (900, bytearray(inject_jpeg_metadata(encode_jpeg(px(9)), gps=(1, 2, 3)))),
            (901, bytearray(inject_jpeg_metadata(encode_jpeg(px(10)), gps=(4, 5, 6)))),
        ],
        schema=schema,
    )
    _plant_arrival(  # garbage flood: containers stop parsing
        spark, tmp_path, arr, "f9.parquet",
        [(950, bytearray(b"junk1")), (951, bytearray(b"junk2"))],
        schema=schema,
    )
    stats = str(tmp_path / "mstats")
    monitor_media_arrivals(
        spark, str(arr), stats, str(tmp_path / "mmck"), min_history=3
    )
    rows = {r["batch_id"]: r for r in spark.read.parquet(stats).collect()}
    assert set(rows) == {0, 1, 2, 3, 4, 5}
    assert not any(rows[b]["any_drift"] for b in range(4))
    assert rows[4]["any_drift"] and rows[4]["pii_ratio"] == 1.0
    assert rows[5]["any_drift"] and rows[5]["recognized_ratio"] == 0.0


def test_media_arrivals_stream(spark, tmp_path):
    """Three media arrival files drain one-per-trigger: re-encoded
    perceptual twins across batches dedup against the SEEDED index and
    earlier survivors, fresh images survive, duplicates never join the
    index, and a mismatched fingerprint family is rejected."""
    import glob
    import shutil

    import pytest as _pytest

    from cqs_spark.operators.multimodal import encode_bmp, encode_pnm
    from cqs_spark.streaming.maintain import media_arrivals, seed_media_index

    def px(seed):
        return [[(seed * 31 + r * 16 + c) * 97 % 256 for c in range(16)] for r in range(16)]

    arr = tmp_path / "arrivals"
    arr.mkdir()

    def write_file(name, rows):
        spark.createDataFrame(rows, "media_id long, data binary").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / "tmp_batch"))
        src = glob.glob(str(tmp_path / "tmp_batch" / "*.parquet"))[0]
        shutil.copy(src, str(arr / name))

    backlog = spark.createDataFrame(
        [(1, bytearray(encode_pnm(px(1)))), (2, bytearray(encode_pnm(px(2))))],
        "media_id long, data binary",
    )
    idx = str(tmp_path / "index")
    seed_media_index(spark, backlog, idx)

    write_file("f1.parquet", [
        (10, bytearray(encode_bmp(px(1)))),   # twin of seeded 1 → dup
        (11, bytearray(encode_pnm(px(7)))),   # fresh → survives
    ])
    write_file("f2.parquet", [
        (20, bytearray(encode_bmp(px(7)))),   # twin of SURVIVOR 11 → dup
        (21, bytearray(encode_pnm(px(8)))),   # fresh
    ])
    write_file("f3.parquet", [
        (30, bytearray(encode_pnm(px(8)))),   # exact re-send of 21 → dup
        (31, bytearray(b"garbage, quarantines and survives")),
    ])

    out = str(tmp_path / "out")
    media_arrivals(spark, str(arr), idx, out, str(tmp_path / "ckpt"))
    survivors = {r["media_id"] for r in spark.read.parquet(out).collect()}
    # garbage (31) has no signature: it can never match, so it survives
    assert survivors == {11, 21, 31}
    idx_ids = {
        r["media_id"]
        for r in spark.read.parquet(f"{idx}/sigs").select("media_id").collect()
    }
    assert idx_ids == {1, 2, 11, 21}  # survivors only; garbage has no sig

    # fingerprint-family marker: an audio continuation must be refused
    with _pytest.raises(ValueError, match="refusing to mix"):
        seed_media_index(spark, backlog, idx, kind="audio")


def test_media_arrivals_video_kind(spark, tmp_path):
    """kind='video': arrivals dedup by shared-distinct-frame-hash count
    against the seeded frame-hash index; a clipped re-encode of a
    seeded clip drops, a fresh clip survives, and its frame set joins
    the index."""
    import glob
    import shutil

    from cqs_spark.operators.multimodal import encode_gif
    from cqs_spark.streaming.maintain import media_arrivals, seed_media_index

    def px(seed):
        return [[(seed * 131 + r * 16 + c) * 29 % 256 for c in range(16)] for r in range(16)]

    backlog = spark.createDataFrame(
        [
            (1, bytearray(encode_gif([px(i) for i in range(4)]))),
            (2, bytearray(encode_gif([px(i) for i in range(20, 24)]))),
        ],
        "media_id long, data binary",
    )
    idx = str(tmp_path / "vindex")
    seed_media_index(spark, backlog, idx, kind="video")

    arr = tmp_path / "varr"
    arr.mkdir()
    stage = tmp_path / "vstage"
    spark.createDataFrame(
        [
            # clip of seeded 1 (frames 1..3, interlaced) -> 3 shared -> dup
            (10, bytearray(encode_gif([px(i) for i in range(1, 4)], interlace=True))),
            # fresh clip -> survives
            (11, bytearray(encode_gif([px(i) for i in range(40, 44)]))),
        ],
        "media_id long, data binary",
    ).coalesce(1).write.mode("overwrite").parquet(str(stage))
    shutil.copy(glob.glob(str(stage / "*.parquet"))[0], str(arr / "f1.parquet"))
    # second batch: clip of SURVIVOR 11 -> dup across batches
    spark.createDataFrame(
        [(20, bytearray(encode_gif([px(i) for i in range(41, 44)])))],
        "media_id long, data binary",
    ).coalesce(1).write.mode("overwrite").parquet(str(stage))
    shutil.copy(glob.glob(str(stage / "*.parquet"))[0], str(arr / "f2.parquet"))

    out = str(tmp_path / "vout")
    media_arrivals(
        spark, str(arr), idx, out, str(tmp_path / "vck"), kind="video"
    )
    assert {r["media_id"] for r in spark.read.parquet(out).collect()} == {11}
    idx_ids = {
        r["media_id"]
        for r in spark.read.parquet(f"{idx}/sigs").select("media_id").distinct().collect()
    }
    assert idx_ids == {1, 2, 11}


def test_media_arrivals_audio_windowed_kind(spark, tmp_path):
    """kind='audio_windowed': arrivals dedup by shared-window-
    fingerprint count against the seeded windowed index; a TRIMMED
    re-upload of a seeded clip drops (whole-clip hamming would miss
    it), a fresh clip survives and its window set joins the index,
    and a later trim of that survivor drops across batches."""
    import glob
    import random
    import shutil

    from cqs_spark.operators.multimodal import encode_wav
    from cqs_spark.streaming.maintain import media_arrivals, seed_media_index

    W, NW = 256, 8
    rnd = random.Random(77)

    def clip(seed):
        r = random.Random(seed)
        return [r.randrange(-32768, 32768) for _ in range(NW * W)]

    backlog = spark.createDataFrame(
        [(1, bytearray(encode_wav(clip(1)))), (2, bytearray(encode_wav(clip(2))))],
        "media_id long, data binary",
    )
    idx = str(tmp_path / "awindex")
    seed_media_index(spark, backlog, idx, kind="audio_windowed", window=W)

    arr = tmp_path / "awarr"
    arr.mkdir()
    stage = tmp_path / "awstage"
    spark.createDataFrame(
        [
            # prefix-trimmed re-upload of seeded 1 -> 6 shared -> dup
            (10, bytearray(encode_wav(clip(1)[2 * W :]))),
            # fresh clip -> survives
            (11, bytearray(encode_wav(clip(9)))),
        ],
        "media_id long, data binary",
    ).coalesce(1).write.mode("overwrite").parquet(str(stage))
    shutil.copy(glob.glob(str(stage / "*.parquet"))[0], str(arr / "f1.parquet"))
    # second batch: suffix-trim of SURVIVOR 11 -> dup across batches
    spark.createDataFrame(
        [(20, bytearray(encode_wav(clip(9)[: 5 * W])))],
        "media_id long, data binary",
    ).coalesce(1).write.mode("overwrite").parquet(str(stage))
    shutil.copy(glob.glob(str(stage / "*.parquet"))[0], str(arr / "f2.parquet"))

    out = str(tmp_path / "awout")
    media_arrivals(
        spark, str(arr), idx, out, str(tmp_path / "awck"),
        kind="audio_windowed", window=W,
    )
    assert {r["media_id"] for r in spark.read.parquet(out).collect()} == {11}
    idx_ids = {
        r["media_id"]
        for r in spark.read.parquet(f"{idx}/sigs").select("media_id").distinct().collect()
    }
    assert idx_ids == {1, 2, 11}
    # family marker: continuing with a different window size refuses
    import pytest

    with pytest.raises(ValueError, match="refusing to mix"):
        seed_media_index(spark, backlog, idx, kind="audio_windowed", window=128)


def test_incremental_video_neardup_max_df(spark):
    """The stopword-frame drop counts document frequency across BOTH
    populations: a black frame shared by many indexed clips never fans
    out against a batch that also carries it."""
    from cqs_spark.operators.multimodal import (
        encode_gif,
        incremental_media_neardup,
        media_signatures,
    )

    def px(seed):
        return [[(seed * 131 + r * 16 + c) * 29 % 256 for c in range(16)] for r in range(16)]

    black = [[0] * 16 for _ in range(16)]
    idx_media = spark.createDataFrame(
        [(i, bytearray(encode_gif([black] + [px(i * 10 + j) for j in range(3)])))
         for i in range(5)],
        "media_id long, data binary",
    )
    sigs = media_signatures(idx_media, kind="video").localCheckpoint(eager=True)
    batch = spark.createDataFrame(
        [
            # shares ONLY the black frame with every indexed clip
            (100, bytearray(encode_gif([black] + [px(900 + j) for j in range(3)]))),
            # true clip of indexed 2
            (101, bytearray(encode_gif([px(20 + j) for j in range(3)]))),
        ],
        "media_id long, data binary",
    )
    pairs = {
        (r["a"], r["b"]): r["shared"]
        for r in incremental_media_neardup(
            batch, sigs, kind="video", min_shared=3, max_df=3
        ).collect()
    }
    assert pairs == {(2, 101): 3}
