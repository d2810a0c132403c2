"""r15 optimization internals: deterministic localCheckpoint release
(guide §5 — VERDICT r14 what's-wrong #1), JVM-side takedown-id frames,
and observe-derived takedown stats (VERDICT r14 what's-wrong #3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from impuls_spark.tools.checkpoints import free_local_checkpoint


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _docs(spark, lo, hi):
    # per-doc unique shingles (md5-derived words), so fresh ids
    # classify 'novel' rather than 'near' via shared-prefix bands
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("payload "), F.md5(F.col("id").cast("string")),
            F.lit(" mid "), F.md5((F.col("id") * 7 + 1).cast("string")),
            F.lit(" tail "), F.md5((F.col("id") * 13 + 2).cast("string")),
        ).alias("text"),
    )


def test_free_local_checkpoint_releases_blocks(spark):
    base = _n_persistent(spark)
    cp = spark.range(50).localCheckpoint(eager=True)
    assert _n_persistent(spark) == base + 1
    free_local_checkpoint(cp)
    assert _n_persistent(spark) == base


@pytest.mark.parametrize("wrap", [
    lambda cp: cp.select((F.col("id") * 2).alias("x")),  # Project
    F.broadcast,                                         # ResolvedHint
], ids=["select", "broadcast"])
def test_free_local_checkpoint_sees_through_wrappers(spark, wrap):
    base = _n_persistent(spark)
    cp = spark.range(50).localCheckpoint(eager=True)
    assert free_local_checkpoint(wrap(cp)) == 1
    assert _n_persistent(spark) == base


def test_free_local_checkpoint_skips_plain_frames(spark):
    # not checkpointed, not persisted: a no-op, never an error
    df = spark.range(10).select((F.col("id") * 2).alias("x"))
    free_local_checkpoint(df, None)
    assert df.count() == 10


def test_classify_broadcast_pins_only_the_result(spark, tmp_path):
    """classify(broadcast_new=True) used to leave 3 batch checkpoints
    to Python GC (the d74 rep-spike source); now exactly one pinned
    RDD survives — the materialized status the caller holds — and
    freeing it returns storage to the baseline."""
    from impuls_spark.llm.dedup import DedupIndex

    path = str(tmp_path / "idx")
    DedupIndex.build(_docs(spark, 0, 40), path)
    idx = DedupIndex.load(spark, path)
    base = _n_persistent(spark)
    status = idx.classify(_docs(spark, 35, 45), broadcast_new=True)
    assert _n_persistent(spark) == base + 1
    got = {r["doc_id"]: r["status"] for r in status.collect()}
    assert all(got[i] == "exact" for i in range(35, 40))
    assert all(got[i] == "novel" for i in range(40, 45))
    free_local_checkpoint(status)
    assert _n_persistent(spark) == base


def test_ingest_frees_intermediates_deterministically(spark, tmp_path):
    """ingest() pins exactly one RDD after returning (the status frame
    it hands back) — the append inputs' checkpoints are freed when the
    appends land, in both join modes."""
    from impuls_spark.llm.dedup import DedupIndex

    for mode in (False, True):
        path = str(tmp_path / f"idx_{mode}")
        DedupIndex.build(_docs(spark, 0, 30), path)
        idx = DedupIndex.load(spark, path)
        base = _n_persistent(spark)
        st = idx.ingest(_docs(spark, 25, 35), broadcast_new=mode)
        assert _n_persistent(spark) == base + 1, mode
        assert st.count() == 10
        free_local_checkpoint(st)
        assert _n_persistent(spark) == base, mode


def test_rid_frame_list_path_is_jvm_side(spark):
    from impuls_spark.streaming.compact import _rid_frame

    rid = _rid_frame(spark, [3, 1, 2, 3, 1])
    plan = rid._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan  # no Python-parallelized constant
    assert sorted(r["__rid"] for r in rid.collect()) == ["1", "2", "3"]
    empty = _rid_frame(spark, [])
    assert empty.columns == ["__rid"] and empty.count() == 0
    df_in = _rid_frame(spark, spark.range(3).select(F.col("id")))
    assert sorted(r["__rid"] for r in df_in.collect()) == ["0", "1", "2"]


def test_remove_stats_ride_the_fold_job(spark, tmp_path):
    """DedupIndex.remove derives rows_before/rows_after from observed
    metrics on the fold itself (no extra count() scans) — values must
    equal what independent counts say."""
    from impuls_spark.llm.dedup import DedupIndex

    path = str(tmp_path / "idx")
    DedupIndex.build(_docs(spark, 0, 20), path, track_ids=True)
    idx = DedupIndex.load(spark, path)
    h_before = spark.read.parquet(f"{path}/hashes").count()
    b_before = spark.read.parquet(f"{path}/bands").count()
    stats = idx.remove([3, 7])
    assert stats["hashes"]["rows_before"] == h_before
    assert stats["bands"]["rows_before"] == b_before
    assert stats["hashes"]["rows_after"] == spark.read.parquet(
        f"{path}/hashes").count()
    assert stats["bands"]["rows_after"] == spark.read.parquet(
        f"{path}/bands").count()
    assert stats["hashes"]["rows_before"] - stats["hashes"]["rows_after"] == 2


def _dedup_remove_refused(spark, tmp_path):
    from impuls_spark.llm.dedup import DedupIndex
    from impuls_spark.streaming.compact import compact_marker_path

    path = str(tmp_path / "idx")
    DedupIndex.build(_docs(spark, 0, 20), path, track_ids=True)
    idx = DedupIndex.load(spark, path)
    open(compact_marker_path(path), "w").close()  # a live holder
    return lambda: idx.remove(spark.range(3).select(
        F.col("id").alias("doc_id"))), RuntimeError


def _ann_remove(spark, tmp_path):
    from impuls_spark.llm.similarity import AnnIndex

    from .test_ann_streaming import _build_saved

    path = _build_saved(spark, tmp_path)[0]
    ids = spark.range(3).select(F.col("id").alias("vec_id"))
    return lambda: AnnIndex.remove(spark, path, ids), None


def _corpus_refused(spark, tmp_path):
    from impuls_spark.sources.corpus import remove_from_corpus

    from .test_takedown_fixes import _epoch_corpus

    path = str(tmp_path / "corpus")
    _epoch_corpus(spark, path)
    return lambda: remove_from_corpus(spark, path, [1, 2]), ValueError


def _shards(spark, tmp_path, hit: bool):
    import hashlib
    import os

    from impuls_spark.sources.corpus import (
        remove_from_shards,
        write_training_shards,
    )

    path = str(tmp_path / "shards")
    write_training_shards(
        spark.createDataFrame([(i, f"doc {i}") for i in range(3)],
                              "doc_id long, text string"),
        path, n_shards=256,
    )
    present = {d[len("shard="):] for d in os.listdir(path)
               if d.startswith("shard=")}
    # 3 docs fill at most 3 of 256 shards: find an id hashing elsewhere
    absent = next(i for i in range(1000, 2000) if hashlib.md5(
        f"shard:{i}".encode()).hexdigest()[:2] not in present)
    ids = [0, 1] if hit else [absent]
    return lambda: remove_from_shards(spark, path, ids), None


@pytest.mark.parametrize("case", [
    _dedup_remove_refused,
    _ann_remove,
    _corpus_refused,
    lambda spark, tmp: _shards(spark, tmp, hit=True),
    lambda spark, tmp: _shards(spark, tmp, hit=False),
], ids=["dedup_remove_refused", "ann_remove", "corpus_refused",
        "shards_removed", "shards_no_affected"])
def test_takedowns_release_their_id_checkpoints(spark, tmp_path, case):
    """Every takedown entry point frees the removal-id checkpoint it
    takes — on success, on a refusal and on an early return."""
    run, raises = case(spark, tmp_path)
    base = _n_persistent(spark)
    if raises is None:
        run()
    else:
        with pytest.raises(raises):
            run()
    assert _n_persistent(spark) <= base
