"""The dedup dataflow, defined once as an ordered stage list.

    docs (id, text)
      sets        fused shingle+MinHash, ONE Arrow pass:
                  (id, items, set_size, signature)
      candidates  LSH bands → skew-classed pairing (id_a, id_b)
      pairs       exact-Jaccard verify ≥ threshold
      clusters    connected components → (id, cluster_id)

``run_stages`` executes ``STAGES`` under a materialization policy:

* ``Persist`` (``dedup_pipeline``, ``dedup_documents``) persists the
  stages read by several consumers (sets, pairs);
* ``Checkpoint`` (``plans/resumable.run_resumable_dedup``, the job
  ``jobs/dedup.py`` ships) writes every stage through
  ``CheckpointStore.stage`` and resumes completed ones.

Shuffle census at scale (SURVEY §3.4): (1) groupBy conv_id for assembly,
(2) band-bucket exchange, (3) candidate distinct, (4+5) verify joins on
id_a/id_b, (6..6+2k) CC rounds. Shingling, MinHash and band hashing are
shuffle-free map stages.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jaccard_ml_spark.config import DedupConfig
from jaccard_ml_spark.functions.hashing import minhash_udf
from jaccard_ml_spark.functions.shingle_arrow import (
    add_shingle_hash_sets_arrow,
    fused_shingle_minhash,
)
from jaccard_ml_spark.functions.text import add_shingle_hash_sets
from jaccard_ml_spark.operators.assemble import assemble_conversations
from jaccard_ml_spark.operators.candidates import candidate_pairs
from jaccard_ml_spark.operators.cluster import (
    assign_clusters,
    connected_components,
)
from jaccard_ml_spark.operators.verify import verify_pairs


def _add_shingles(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    if cfg.shingle_impl == "arrow":
        return add_shingle_hash_sets_arrow(df, "text", cfg.k_shingle)
    return add_shingle_hash_sets(df, "text", cfg.k_shingle)


def conversation_docs(conversations: DataFrame) -> DataFrame:
    return conversations.select(F.col("conv_id").alias("id"), "text")


def shingle_sets_from_conversations(conversations: DataFrame,
                                    cfg: DedupConfig) -> DataFrame:
    return _add_shingles(conversation_docs(conversations),
                         cfg).select("id", "items")


def fused_sets(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(id, text) → (id, items, set_size, signature): the sets stage.
    On the Arrow path (the default) shingling and MinHash are one pass,
    so the element arrays cross the JVM↔Python boundary once
    (shingle_arrow.fused_shingle_minhash). An empty set gets a NULL
    signature and never enters a bucket."""
    if cfg.shingle_impl == "arrow":
        return fused_shingle_minhash(docs, "text", cfg.k_shingle,
                                     cfg.num_perm, cfg.minhash_seed)
    mh = minhash_udf(cfg.num_perm, cfg.minhash_seed)
    return _add_shingles(docs, cfg).select(
        "id", "items", F.size("items").alias("set_size"),
        mh("items").alias("signature"))


def signatures_of(sets: DataFrame) -> DataFrame:
    """The (id, set_size, signature) projection of the sets stage."""
    return (sets.select("id", "set_size", "signature")
            .where(F.col("signature").isNotNull()))


# -- the stage graph ---------------------------------------------------
@dataclass(frozen=True)
class Stage:
    name: str
    inputs: tuple[str, ...]   # earlier stages (or "docs") it reads
    reused: bool              # read by more than one later consumer
    build: Callable[..., DataFrame]   # build(run, *input tables)


@dataclass
class _Run:
    cfg: DedupConfig
    policy: "_Policy"
    tuned: dict | None


def _candidates(run: _Run, sets: DataFrame) -> DataFrame:
    # the sets stage is materialized under either policy, so its
    # signature column needs no second persist inside candidate_pairs
    return candidate_pairs(signatures_of(sets), run.cfg,
                           auto_tune=run.tuned is not None, tuned=run.tuned,
                           signatures_persisted=True,
                           storage_level=run.policy.storage_level,
                           held=run.policy.held)


STAGES: tuple[Stage, ...] = (
    Stage("sets", ("docs",), True,
          lambda run, docs: fused_sets(docs, run.cfg)),
    Stage("candidates", ("sets",), False, _candidates),
    Stage("pairs", ("candidates", "sets"), True,
          lambda run, cands, sets: verify_pairs(
              cands, sets, run.cfg.jaccard_threshold)),
    Stage("clusters", ("sets", "pairs"), False,
          lambda run, sets, pairs: assign_clusters(
              sets, connected_components(pairs,
                                         run.cfg.cc_max_iterations))),
)


class _Policy:
    """Owns every table persisted while the graph runs (``held``): the
    stages' own persists and those candidate_pairs hands back."""

    storage_level = None

    def __init__(self) -> None:
        self.held: list[DataFrame] = []

    def release(self, blocking: bool = False) -> None:
        while self.held:
            self.held.pop().unpersist(blocking)


class Persist(_Policy):
    """Persist the reused stages; the caller releases them.

    ``storage_level`` pins EVERY persist tier of the run, candidate
    fan-out included (default: MEMORY_AND_DISK) — e.g. ``DISK_ONLY`` when
    comparing cluster sizes, so a cache resident at one size and spilled
    at the other does not pass for compute scaling (BENCH/scaling.py).

    ``sets_store`` (a ``CheckpointStore``) writes the sets stage instead
    as a checkpoint bucketed+sorted by id (Iceberg: ``bucket(N, id)``)
    of ``sets_buckets`` buckets (default: the shuffle-partition count,
    so the slim pair side co-partitions with it): verify, the mega-bucket
    signature join and the cluster assignment then read the fat arrays
    WITHOUT an exchange (reference analog: the degree-sort layout pass,
    src/utils.cuh:406-492 of the reference).
    """

    def __init__(self, storage_level=None, sets_store=None,
                 sets_buckets: int | None = None) -> None:
        super().__init__()
        self.storage_level = storage_level
        self.sets_store = sets_store
        self.sets_buckets = sets_buckets

    def materialize(self, stage: Stage, build) -> DataFrame:
        df = build()
        if stage.name == "sets" and self.sets_store is not None:
            n = self.sets_buckets or int(self.sets_store.spark.conf.get(
                "spark.sql.shuffle.partitions"))
            return self.sets_store.write_bucketed(
                "fused_sets", df, ["id"], n_buckets=n, sort_cols=["id"])
        if stage.reused:
            df = (df.persist(self.storage_level) if self.storage_level
                  else df.persist())
            self.held.append(df)
        return df


class Checkpoint(_Policy):
    """Write every stage through ``CheckpointStore.stage``. Later stages
    read the checkpoint, so what a stage's build persisted is released
    as soon as its checkpoint is written."""

    def __init__(self, store) -> None:
        super().__init__()
        self.store = store

    def materialize(self, stage: Stage, build) -> DataFrame:
        out = self.store.stage(stage.name, build)
        self.release()
        return out


def run_stages(docs: DataFrame, cfg: DedupConfig, policy: _Policy,
               tuned: dict | None = None) -> dict[str, DataFrame]:
    """Run ``STAGES`` over ``docs`` (id, text); returns every stage's
    table by name. A ``tuned`` dict turns on candidate_pairs' auto-tune
    and receives the derived skew knobs."""
    run = _Run(cfg, policy, tuned)
    tables = {"docs": docs}
    for st in STAGES:
        args = [tables[name] for name in st.inputs]
        tables[st.name] = policy.materialize(
            st, lambda: st.build(run, *args))
    return tables


@dataclass
class DedupResult:
    conversations: DataFrame | None   # conv_id, n_turns, turns, text
    shingle_sets: DataFrame    # the sets stage: id, items, set_size,
                               # signature
    signatures: DataFrame      # id, set_size, signature
    candidates: DataFrame      # id_a, id_b
    pairs: DataFrame           # id_a, id_b, intersection, sizes, jaccard
    clusters: DataFrame        # id, cluster_id
    policy: _Policy = field(default_factory=_Policy, repr=False)

    def release(self, blocking: bool = False) -> None:
        """Unpersist every table the run cached (sets, pairs and the
        candidate fan-out)."""
        self.policy.release(blocking)


def _result(conversations, tables: dict, policy: _Policy) -> DedupResult:
    return DedupResult(conversations, tables["sets"],
                       signatures_of(tables["sets"]), tables["candidates"],
                       tables["pairs"], tables["clusters"], policy)


def dedup_pipeline(transcripts: DataFrame, cfg: DedupConfig,
                   storage_level=None,
                   sets_store=None,
                   sets_buckets: int | None = None) -> DedupResult:
    """Run the stage graph over transcripts under the ``Persist`` policy
    (see there for ``storage_level``, ``sets_store``, ``sets_buckets``).
    Lazy except for the candidate strategy probe and a ``sets_store``
    write; call ``release()`` on the result when done with it."""
    if sets_store is not None and cfg.shingle_impl != "arrow":
        # the bucketed layout is the fused Arrow table's; silently
        # falling through to the persisted sets would hand the caller
        # an A/B that never ran the B variant
        raise ValueError(
            "sets_store requires cfg.shingle_impl='arrow' "
            f"(got {cfg.shingle_impl!r})")
    conversations = assemble_conversations(transcripts, cfg.text_separator)
    policy = Persist(storage_level, sets_store, sets_buckets)
    tables = run_stages(conversation_docs(conversations), cfg, policy)
    return _result(conversations, tables, policy)


def dedup_documents(docs: DataFrame, cfg: DedupConfig,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DedupResult:
    """The same graph over a flat document table (no assembly stage)."""
    policy = Persist()
    tables = run_stages(docs.select(F.col(id_col).alias("id"),
                                    F.col(text_col).alias("text")),
                        cfg, policy)
    return _result(None, tables, policy)
