"""Resumable end-to-end dedup job: the stage graph of plans/pipeline.py
under the ``Checkpoint`` policy.

Every stage (sets, candidates, pairs, clusters) goes through
CheckpointStore.stage(): a killed job rerun with the same root resumes
after the last completed stage and produces byte-identical output (the
resume-equals-fresh invariant, SURVEY §5). The root holds only those
stages plus the lineage and metrics tables. Conversations are not
checkpointed: only the sets stage reads them, and after a resume the
lazy assembly (one groupBy) rebuilds them on demand.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from jaccard_ml_spark.config import DedupConfig
from jaccard_ml_spark.operators.assemble import assemble_conversations
from jaccard_ml_spark.plans.checkpoint import CheckpointStore
from jaccard_ml_spark.plans.pipeline import (
    Checkpoint,
    conversation_docs,
    run_stages,
)


def run_resumable_dedup(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: DedupConfig,
    checkpoint_root: str,
    run_id: str = "dedup",
    auto_tune: bool = False,
) -> dict[str, DataFrame]:
    """Execute (or resume) the pipeline; returns the stage tables by
    name (``docs`` — the lazily assembled conversations — and one
    checkpoint per stage of ``STAGES``).

    ``auto_tune=True`` derives the skew knobs from the observed
    bucket-size histogram (operators/autotune.py) and records the
    chosen parameters in the run's metrics table — the reference's
    parameters/experiment.json lineage record, derived instead of
    hand-picked.
    """
    store = CheckpointStore(spark, checkpoint_root, run_id)
    docs = conversation_docs(
        assemble_conversations(transcripts, cfg.text_separator))
    tuned: dict = {}
    tables = run_stages(docs, cfg, Checkpoint(store),
                        tuned=tuned if auto_tune else None)
    for k, v in tuned.items():
        store.metric(f"autotune.{k}", float(v))
    store.metric("pairs.count", store.rows("pairs"))
    store.metric("clusters.count", tables["clusters"]
                 .select("cluster_id").distinct().count())
    store.flush_tables()
    return tables
