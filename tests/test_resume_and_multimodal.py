"""Checkpoint-resume (resume-equals-fresh) and multimodal plumbing."""

from __future__ import annotations

import os

import pytest

from jaccard_ml_spark.config import DedupConfig
from jaccard_ml_spark.operators.assemble import assemble_conversations
from jaccard_ml_spark.operators.candidates import bucket_stats, lsh_buckets
from jaccard_ml_spark.operators.multimodal import (
    extract_features,
    synthesize_media,
)
from jaccard_ml_spark.plans.checkpoint import CheckpointStore
from jaccard_ml_spark.plans.pipeline import (
    STAGES,
    Checkpoint,
    conversation_docs,
    dedup_pipeline,
    run_stages,
)
from jaccard_ml_spark.plans.resumable import run_resumable_dedup
from jaccard_ml_spark.sources.generator import generate_transcripts
from jaccard_ml_spark.sources.tables import read_transcripts

CFG = DedupConfig()
STAGE_NAMES = [s.name for s in STAGES]


def _clusters(res):
    return sorted((r.id, r.cluster_id) for r in res["clusters"].collect())


def _pairs(res):
    return sorted(tuple(r) for r in res["pairs"].select(
        "id_a", "id_b", "intersection", "size_a", "size_b",
        "jaccard").collect())


class _Killed(Exception):
    pass


class _KillAfter(Checkpoint):
    """The job's checkpoint policy, killed once ``last`` is written."""

    def __init__(self, store, last):
        super().__init__(store)
        self.last = last

    def materialize(self, stage, build):
        out = super().materialize(stage, build)
        if stage.name == self.last:
            raise _Killed(stage.name)
        return out


def test_resume_equals_fresh(spark, tmp_path):
    meta = generate_transcripts(str(tmp_path / "tx"), n_convs=120, seed=11)
    tx = read_transcripts(spark, meta["transcripts"])

    fresh = run_resumable_dedup(spark, tx, CFG, str(tmp_path / "cp_fresh"))

    # simulate a job killed right after the graph's first stage (sets)
    partial_root = str(tmp_path / "cp_partial")
    store = CheckpointStore(spark, partial_root)
    first = STAGES[0].name
    with pytest.raises(_Killed):
        run_stages(conversation_docs(
            assemble_conversations(tx, CFG.text_separator)), CFG,
            _KillAfter(store, first))
    assert [s for s in STAGE_NAMES if store.has(s)] == [first]

    # restart: the completed stage is read, not recomputed
    resumed = run_resumable_dedup(spark, tx, CFG, partial_root)
    assert _clusters(resumed) == _clusters(fresh)
    assert _pairs(resumed) == _pairs(fresh)
    resumed_keys = {r.key for r in spark.read.parquet(
        f"{partial_root}/_metrics").collect()}
    assert f"{first}.resumed" in resumed_keys
    assert not {f"{s}.resumed" for s in STAGE_NAMES[1:]} & resumed_keys

    # the root holds exactly the graph's stages and the side tables
    assert all(store.has(s) for s in STAGE_NAMES)
    assert sorted(os.listdir(partial_root)) == sorted(
        [*STAGE_NAMES, "_lineage", "_metrics"])


def test_resumable_equals_pipeline_on_skewed_corpus(spark, tmp_path):
    """The shipped job and the in-memory pipeline run one stage graph
    under two policies: on a corpus where 40 % of conversations share a
    boilerplate turn, with thresholds lowered so the hot (salted) and
    mega (band-split) pairing branches run, their pairs and clusters
    are identical, and every marker's observed row count is exact.
    Short conversations keep the boilerplate a large share of each hot
    set, so whole bands of their signatures agree."""
    cfg = DedupConfig(salt_threshold_c0=6, band_split_c1=16)
    meta = generate_transcripts(str(tmp_path / "tx"), n_convs=200, seed=5,
                                frac_hot=0.4, min_turns=1, max_turns=2)
    tx = read_transcripts(spark, meta["transcripts"])
    root = str(tmp_path / "cp")
    shipped = run_resumable_dedup(spark, tx, cfg, root)
    ref = dedup_pipeline(tx, cfg)
    try:
        sizes = [r.bucket_size for r in bucket_stats(
            lsh_buckets(ref.signatures, cfg)).collect()]
        assert any(cfg.salt_threshold_c0 < n <= cfg.band_split_c1
                   for n in sizes), "no hot bucket"
        assert max(sizes) > cfg.band_split_c1, "no mega bucket"
        assert _pairs(shipped) == _pairs(vars(ref))
        assert _clusters(shipped) == _clusters(vars(ref))
    finally:
        ref.release()

    store = CheckpointStore(spark, root)
    for st in STAGE_NAMES:
        assert store.rows(st) == store.read(st).count(), st


def test_marker_rows_of_empty_stages(spark, tmp_path):
    """Conversations that share no shingle: the candidates and pairs
    stages are empty, and their markers say 0 rows."""
    tx = spark.createDataFrame(
        [(f"c{i}", 0, "user", " ".join(f"w{i}x{j}" for j in range(12)),
          None, None) for i in range(6)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp")
    root = str(tmp_path / "cp")
    run_resumable_dedup(spark, tx, CFG, root)
    store = CheckpointStore(spark, root)
    assert store.rows("candidates") == store.rows("pairs") == 0
    for st in STAGE_NAMES:
        assert store.rows(st) == store.read(st).count(), st
    empty = store.write_bucketed("empty", spark.range(0), ["id"],
                                 n_buckets=2)
    assert store.rows("empty") == empty.count() == 0
    spark.sql("DROP TABLE IF EXISTS ckpt_run_empty")


def test_bucketed_checkpoint_join_has_no_sets_side_exchange(
        spark, tmp_path):
    """Data-layout hook (reference O3, src/utils.cuh:406-492): the
    shingle-set checkpoint bucketed by id joins the pair table with NO
    exchange above the bucketed scan — only the slim pair side
    shuffles; the fat array side reads in place."""
    meta = generate_transcripts(str(tmp_path / "tx"), n_convs=80, seed=21)
    tx = read_transcripts(spark, meta["transcripts"])
    from jaccard_ml_spark.plans.pipeline import (
        shingle_sets_from_conversations,
    )

    conv = assemble_conversations(tx, CFG.text_separator)
    sets_df = shingle_sets_from_conversations(conv, CFG)

    store = CheckpointStore(spark, str(tmp_path / "cp"), run_id="bkt")
    bucketed = store.write_bucketed("s2_shingles", sets_df,
                                    bucket_cols=["id"], n_buckets=8,
                                    sort_cols=["id"])
    pairs = spark.createDataFrame(
        [(r.id,) for r in bucketed.select("id").limit(20).collect()],
        "id string")
    joined = bucketed.join(pairs.repartition(8, "id"), "id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the bucketed side must not re-shuffle: exactly the pair-side
    # exchange appears (hashpartitioning on the probe side only)
    assert "ckpt_bkt_s2_shingles" in plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, plan
    joined.count()


def test_resume_ignores_new_input(spark, tmp_path):
    """Completed stages win over changed input — snapshot semantics."""
    meta = generate_transcripts(str(tmp_path / "tx"), n_convs=60, seed=3)
    tx = read_transcripts(spark, meta["transcripts"])
    root = str(tmp_path / "cp")
    first = run_resumable_dedup(spark, tx, CFG, root)
    # different input, same checkpoint root → same result (resumed)
    meta2 = generate_transcripts(str(tmp_path / "tx2"), n_convs=30, seed=9)
    tx2 = read_transcripts(spark, meta2["transcripts"])
    second = run_resumable_dedup(spark, tx2, CFG, root)
    assert _clusters(second) == _clusters(first)


def test_multimodal_feature_extraction(spark):
    media = synthesize_media(spark, n=30)
    feats = extract_features(media, dim=16).collect()
    assert len(feats) == 30
    by_id = {r.media_id: r for r in feats}
    assert all(len(r.feature) == 16 for r in feats)
    assert all(0.0 <= x <= 1.0 for r in feats for x in r.feature)
    # deterministic: same payload → same feature
    feats2 = {r.media_id: r for r in
              extract_features(synthesize_media(spark, n=30), 16).collect()}
    assert all(by_id[i].content_hash == feats2[i].content_hash
               for i in by_id)
    assert all(by_id[i].feature == feats2[i].feature for i in by_id)
