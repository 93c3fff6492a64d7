"""The bucketed-sets pipeline variant (``sets_store=``): the fused
sets table is CHECKPOINTED bucketed+sorted by id instead of persisted,
so verify's two joins and the cluster assignment read the fat side
(the shingle arrays — the widest rows in the pipeline) WITHOUT an
exchange; only the slim pair side shuffles.

Two assertions:

* semantics — pairs and clusters are IDENTICAL to the persisted-cache
  pipeline on the same input (the checkpoint replaces the cache
  byte-for-byte, same columns, same moment);
* plan — the verify join's executed plan contains no
  ShuffleExchange whose child scans the bucketed sets relation: the
  FileScan carries ``SelectedBucketsCount`` and feeds the sort-merge
  join through at most a Sort, never an Exchange. The only hash
  exchanges in verify belong to the slim candidate-pair side.

Reference analog: the degree-sort data-layout pass that co-locates
adjacency before the intersection kernels
(/root/reference/src/utils.cuh:406-492); on Iceberg the same layout is
``bucket(N, id)`` partitioning + sort order (SURVEY §P8).
"""

from __future__ import annotations

import pytest

from jaccard_ml_spark.config import DedupConfig
from jaccard_ml_spark.plans.checkpoint import CheckpointStore
from jaccard_ml_spark.plans.pipeline import dedup_pipeline
from jaccard_ml_spark.sources.generator import generate_transcripts
from jaccard_ml_spark.sources.tables import read_transcripts

CFG = DedupConfig()


@pytest.fixture(scope="module")
def transcripts(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("bucketed_tx")
    meta = generate_transcripts(str(out), n_convs=300, seed=7)
    return read_transcripts(spark, meta["transcripts"])


@pytest.fixture(scope="module")
def results(spark, transcripts, tmp_path_factory):
    ckpt = tmp_path_factory.mktemp("bucketed_ckpt")
    store = CheckpointStore(spark, str(ckpt), run_id="tbkt")
    bucketed = dedup_pipeline(transcripts, CFG, sets_store=store,
                              sets_buckets=8)
    cached = dedup_pipeline(transcripts, CFG)
    yield bucketed, cached
    cached.release()
    bucketed.release()
    spark.sql("DROP TABLE IF EXISTS ckpt_tbkt_fused_sets")


def test_bucketed_equals_cached(results):
    bucketed, cached = results
    key = lambda r: (r.id_a, r.id_b)
    assert sorted(((r.id_a, r.id_b, r.intersection, r.size_a, r.size_b)
                   for r in bucketed.pairs.collect())) == \
           sorted(((r.id_a, r.id_b, r.intersection, r.size_a, r.size_b)
                   for r in cached.pairs.collect()))
    assert sorted((r.id, r.cluster_id) for r in
                  bucketed.clusters.collect()) == \
           sorted((r.id, r.cluster_id) for r in
                  cached.clusters.collect())


def test_bucketed_checkpoint_is_bucketed_scan(spark, results):
    """The sets side of the verify join is a bucketed FileScan — the
    bucket spec reached the physical plan (SelectedBucketsCount) and
    the scan is NOT under any ShuffleExchange.

    At this fixture's row count the planner would broadcast the slim
    pair side and skip bucketing entirely ("disabled by query
    planner") — at 45M turns neither side is broadcastable, so the
    sort-merge regime the production run takes is forced here with
    autoBroadcastJoinThreshold=-1 on a freshly planned join."""
    from jaccard_ml_spark.operators.verify import verify_pairs

    bucketed, _ = results
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # keep_below_threshold=True: the pipeline PERSISTED its pairs
        # table, and a byte-identical replan would be swapped for the
        # InMemoryRelation by the cache manager — no FileScan left to
        # assert on. The unfiltered variant shares no cached subtree.
        df = verify_pairs(bucketed.candidates,
                          spark.table("ckpt_tbkt_fused_sets"),
                          CFG.jaccard_threshold,
                          keep_below_threshold=True)
        plan = df._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def walk(node, under_shuffle):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.inputPlan(), under_shuffle)
            return
        if name == "ShuffleExchangeExec":
            under_shuffle = True
        head = node.toString().splitlines()[0]
        if "Scan parquet" in head and "fused_sets" in head:
            scans.append((under_shuffle, head))
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next(), under_shuffle)

    scans = []
    walk(plan, False)
    assert len(scans) == 2, \
        f"expected the two verify-side scans of the bucketed sets " \
        f"table, got {len(scans)}:\n{plan.toString()[:3000]}"
    for under_shuffle, text in scans:
        assert "SelectedBucketsCount" in text, \
            f"sets scan lost its bucket spec:\n{text[:2000]}"
        assert not under_shuffle, \
            f"bucketed sets scan sits under a ShuffleExchange:\n{text[:2000]}"
