"""The benchmark's workloads: inputs, set-up, timed operation, output
checks and traced pass, each through the package's public entry points.

Each workload class has the same five steps. ``generate`` writes the
seeded inputs (before Spark starts). ``setup`` loads them, warms the
JVM and the Python workers, and computes the reference the checks
compare against; it returns the set-up seconds that count toward
``setup_s`` (the references are excluded). ``iterate`` runs the timed
operation once and checks its output. ``traced`` runs the same
operation layer by layer under a ``Tracer`` and returns its per-layer
values with the failures of its own output checks, or ``None`` when it
has none.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

from perfbench import inputs
from perfbench.host import dir_usage

# Sizes: "full" is what the benchmark measures; "tiny" is for the
# self-test only.
SIZES = {
    "full": {"tx_convs": 6000,
             "fold_standing": 4000, "fold_new": 600, "fold_replaced": 600,
             "substring_pool": 64, "substring_budget": 12e6,
             "exact_sample_mod": 2},
    "tiny": {"tx_convs": 200,
             "fold_standing": 150, "fold_new": 20, "fold_replaced": 20,
             "substring_pool": 12, "substring_budget": 2e6,
             "exact_sample_mod": 1},
}

JACCARD_T = 0.5        # exact_jaccard_pairs threshold
CONTAINMENT_T = 0.9    # containment_pairs threshold


def _digest(rows) -> str:
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def _round(x: float) -> float:
    return round(float(x), 12)


def _median_timing(fn) -> float:
    """Median wall of three calls of ``fn``."""
    walls = []
    for _ in range(3):
        t0 = time.monotonic()
        fn()
        walls.append(time.monotonic() - t0)
    return statistics.median(walls)


def _pair_rows(df) -> list[tuple]:
    return [(r.id_a, r.id_b, int(r.intersection), int(r.size_a),
             int(r.size_b), _round(r.jaccard))
            for r in df.select("id_a", "id_b", "intersection", "size_a",
                               "size_b", "jaccard").collect()]


class Workload:
    name = ""
    corrupt = False     # self-test: drop one output pair before checking

    def __init__(self, work: str, seed: int, size: str = "full"):
        self.work = work
        self.seed = seed
        self.size = SIZES[size]
        self.inputs_dir = os.path.join(work, "inputs")
        self.fingerprints: dict[str, dict] = {}
        self.turns = 0
        self.reference_s = 0.0   # set-up time spent on the checks' reference
        self._iter = 0

    def _out_dir(self) -> str:
        self._iter += 1
        path = os.path.join(self.work, "out", f"iter{self._iter}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def _drop_one(self, rows: list) -> list:
        return sorted(rows)[1:] if self.corrupt else rows


# ---------------------------------------------------------------- tx_skew
class TxSkew(Workload):
    """The shipped job (``plans.resumable.run_resumable_dedup``, which
    ``jobs/dedup.py`` calls) on a corpus where 40 % of conversations
    share one verbatim boilerplate system turn."""

    name = "tx_skew"
    # conversations of 2-8 turns, so the shared boilerplate turn is a large
    # share of each hot conversation's shingles
    SHAPE = {"frac_exact": 0.05, "frac_near": 0.05, "frac_contain": 0.05,
             "frac_hot": 0.4, "max_turns": 8}

    def config(self):
        from jaccard_ml_spark.config import DedupConfig
        # The buckets of this corpus stay far below the defaults (c0=64,
        # c1=4096), so with them the band-split branch never runs. The
        # lowered thresholds send the largest boilerplate buckets through
        # the salted (hot) and band-split (mega) branches.
        return DedupConfig(salt_threshold_c0=6, band_split_c1=16)

    def generate(self) -> None:
        self.tx_path, truth = inputs.transcripts(
            os.path.join(self.inputs_dir, "corpus"), self.size["tx_convs"],
            self.seed, **self.SHAPE)
        exact = truth[truth.kind == "exact"]
        self.planted_exact = list(zip(exact.conv_id, exact.group_id))
        self.hot_ids = list(truth[truth.kind == "hot_boiler"].conv_id)
        self.fingerprints = {"transcripts": inputs.fingerprint(self.tx_path)}
        self.turns = self.fingerprints["transcripts"]["rows"]

    def _job(self, tx, root: str):
        """The timed section of jobs/dedup.py."""
        from jaccard_ml_spark.plans.resumable import run_resumable_dedup
        tables = run_resumable_dedup(self.spark, tx, self.cfg, root,
                                     "bench")
        tables["pairs"].count()
        tables["clusters"].select("cluster_id").distinct().count()
        tx.count()
        return tables

    def setup(self, spark) -> dict:
        from jaccard_ml_spark.plans.pipeline import dedup_pipeline
        from jaccard_ml_spark.sources.tables import read_transcripts
        self.spark, self.cfg = spark, self.config()
        self.tx = read_transcripts(spark, self.tx_path)
        timings = {"load_s": _median_timing(self.tx.count)}
        # warm-up: one unchecked run of the job, so that the timed
        # iteration does not pay the JVM's first-use compilation
        t0 = time.monotonic()
        root = self._out_dir()
        self._job(self.tx, root)
        shutil.rmtree(root)
        timings["warmup_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        ref = dedup_pipeline(self.tx, self.cfg)
        self.ref_digest = self._result_digest(
            _pair_rows(ref.pairs), self._clusters(ref.clusters))
        ref.shingle_sets.unpersist()
        ref.pairs.unpersist()
        self.reference_s = time.monotonic() - t0
        return timings

    @staticmethod
    def _result_digest(pair_rows: list, cluster_of: dict) -> str:
        return _digest(pair_rows
                       + [("c", i, c) for i, c in cluster_of.items()])

    @staticmethod
    def _clusters(clusters) -> dict:
        return {r.id: r.cluster_id
                for r in clusters.select("id", "cluster_id").collect()}

    def iterate(self) -> dict:
        root = self._out_dir()
        t0 = time.monotonic()
        tables = self._job(self.tx, root)
        wall = time.monotonic() - t0
        written, _ = dir_usage(root)
        failures = []
        cluster_of = self._clusters(tables["clusters"])
        split = [p for p in self.planted_exact
                 if cluster_of.get(p[0]) != cluster_of.get(p[1])]
        if split:
            failures.append(f"{len(split)} planted exact pairs split")
        hot_clusters = [cluster_of.get(c, c) for c in self.hot_ids]
        if len(set(hot_clusters)) != len(hot_clusters):
            failures.append("hot-boilerplate conversations share a cluster")
        pair_rows = self._drop_one(_pair_rows(tables["pairs"]))
        if self._result_digest(pair_rows, cluster_of) != self.ref_digest:
            failures.append("pairs+clusters differ from dedup_pipeline")
        shutil.rmtree(root)
        return {"wall_s": wall, "written_bytes": written,
                "failures": failures}

    def traced(self, tracer) -> tuple[dict, None]:
        """run_resumable_dedup's stage sequence, one layer per call; each
        layer's output is materialized, then checkpointed under the
        ``checkpoint`` layer, as the job does."""
        from pyspark.sql import functions as F

        from jaccard_ml_spark.operators.assemble import (
            assemble_conversations,
        )
        from jaccard_ml_spark.operators.candidates import (
            bucket_stats,
            candidate_pairs,
            lsh_buckets,
            minhash_signatures,
        )
        from jaccard_ml_spark.operators.cluster import (
            assign_clusters,
            connected_components,
        )
        from jaccard_ml_spark.operators.verify import verify_pairs
        from jaccard_ml_spark.plans.checkpoint import CheckpointStore
        from jaccard_ml_spark.plans.pipeline import (
            shingle_sets_from_conversations,
        )

        cfg, tx = self.cfg, self.tx
        root = self._out_dir()
        store = CheckpointStore(self.spark, root, "bench")
        rows: dict[str, int] = {}

        def stage(ckpt: str, layer: str, build):
            df, rows[ckpt] = tracer.layer(layer, build)
            with tracer.span("checkpoint"):
                out = store.write(ckpt, df)
            df.unpersist()
            return out

        with tracer.span("pass"):
            conv = stage("s1_conversations", "assemble",
                         lambda: assemble_conversations(
                             tx, cfg.text_separator))
            sets = stage("s2_shingles", "shingle_minhash",
                         lambda: shingle_sets_from_conversations(conv, cfg))
            sigs = stage("s3_signatures", "shingle_minhash",
                         lambda: minhash_signatures(sets, cfg))
            cands = stage("s4_candidates", "candidates",
                          lambda: candidate_pairs(sigs, cfg, tuned={}))
            pairs = stage("s5_pairs", "verify",
                          lambda: verify_pairs(cands, sets,
                                               cfg.jaccard_threshold))
            clusters = stage("s6_clusters", "cluster",
                             lambda: assign_clusters(
                                 sets, connected_components(
                                     pairs, cfg.cc_max_iterations)))
            with tracer.span("checkpoint"):
                store.metric("pairs.count", pairs.count())
                store.metric("clusters.count",
                             clusters.select("cluster_id").distinct().count())
                store.flush_tables()
                pairs.count()
                clusters.select("cluster_id").distinct().count()
                tx.count()

        written, files = dir_usage(root)
        sizes = bucket_stats(lsh_buckets(sigs, cfg))
        c0, c1 = cfg.salt_threshold_c0, cfg.band_split_c1
        cls = sizes.select(
            F.sum(((F.col("bucket_size") > c0)
                   & (F.col("bucket_size") <= c1)).cast("long")).alias("hot"),
            F.sum((F.col("bucket_size") > c1).cast("long")).alias("mega"),
        ).first()
        components = (clusters.where(F.col("id") != F.col("cluster_id"))
                      .select("cluster_id").distinct().count())
        shutil.rmtree(root)
        n_cands, n_pairs = rows["s4_candidates"], rows["s5_pairs"]
        return ({
            "assemble.rows_out": rows["s1_conversations"],
            "shingle_minhash.rows_out": rows["s3_signatures"],
            "candidates.rows_out": n_cands,
            "candidates.buckets_hot": cls.hot or 0,
            "candidates.buckets_mega": cls.mega or 0,
            "verify.rows_out": n_pairs,
            "verify.useful_ratio": n_pairs / n_cands if n_cands else 0.0,
            "cluster.edges_in": n_pairs,
            "cluster.components_out": components,
            "checkpoint.written_mb": written / 1e6,
            "checkpoint.files": files,
        }, None)


# ---------------------------------------------------------------- tx_fold
class TxFold(Workload):
    """One ``streaming.incremental.incremental_dedup`` fold of a delta
    batch (new conv_ids plus replacements) into a standing corpus whose
    tables were built and checkpointed in set-up."""

    name = "tx_fold"
    PRIORS = ("sets", "sigs", "buckets", "pairs", "components")
    # standing tables kept bucketed and sorted by these columns
    BUCKETED = {"sets": ["id"], "buckets": ["band_id", "bucket_hash"]}

    def generate(self) -> None:
        s = self.size
        self.standing_path, self.delta_path = inputs.standing_and_delta(
            self.inputs_dir, s["fold_standing"], s["fold_new"],
            s["fold_replaced"], self.seed)
        self.sub_path = inputs.substring_docs(
            os.path.join(self.inputs_dir, "substring"), s["substring_pool"],
            self.seed + 1, s["substring_budget"])
        self.fingerprints = {
            "standing": inputs.fingerprint(self.standing_path),
            "delta": inputs.fingerprint(self.delta_path),
            "substring": inputs.fingerprint(self.sub_path)}
        self.turns = self.fingerprints["delta"]["rows"]

    def setup(self, spark) -> dict:
        from jaccard_ml_spark.config import DedupConfig
        from jaccard_ml_spark.plans.checkpoint import CheckpointStore
        from jaccard_ml_spark.plans.pipeline import dedup_pipeline
        from jaccard_ml_spark.sources.tables import read_transcripts
        from jaccard_ml_spark.streaming.incremental import (
            incremental_dedup,
            release_persisted,
        )

        self.spark, self.cfg = spark, DedupConfig()
        standing = read_transcripts(spark, self.standing_path)
        self.delta = read_transcripts(spark, self.delta_path)
        timings = {"load_s": _median_timing(
            lambda: (standing.count(), self.delta.count()))}

        t0 = time.monotonic()
        built = incremental_dedup(standing, None, None, self.cfg)
        store = CheckpointStore(spark, os.path.join(self.work, "standing"),
                                "standing")
        self.prior = {}
        for key in self.PRIORS:
            cols = self.BUCKETED.get(key)
            self.prior[key] = (
                store.write_bucketed(key, built[key], cols, sort_cols=cols)
                if cols else store.write(key, built[key]))
        release_persisted()
        timings["standing_build_s"] = time.monotonic() - t0

        t0 = time.monotonic()
        merged = (standing.join(self.delta.select("conv_id").distinct(),
                                "conv_id", "left_anti")
                  .unionByName(self.delta))
        ref = dedup_pipeline(merged, self.cfg)
        pairs = _pair_rows(ref.pairs)
        # components cover the ids that appear in some pair
        in_graph = {p[0] for p in pairs} | {p[1] for p in pairs}
        comps = [("c", r.id, r.cluster_id) for r in ref.clusters.collect()
                 if r.id in in_graph]
        self.ref_digest = _digest(pairs + comps)
        ref.shingle_sets.unpersist()
        ref.pairs.unpersist()
        self.reference_s = time.monotonic() - t0
        return timings

    def _fold(self, out: str, cc=None) -> None:
        """The timed operation: fold the delta, write pairs+components.
        ``cc`` replaces the fold's connected_components for the call."""
        from jaccard_ml_spark.streaming import incremental
        p = self.prior
        real_cc = incremental.connected_components
        if cc is not None:
            incremental.connected_components = cc
        try:
            res = incremental.incremental_dedup(
                self.delta, p["sets"], p["pairs"], self.cfg,
                prior_sigs=p["sigs"], prior_buckets=p["buckets"],
                prior_components=p["components"])
            res["pairs"].write.parquet(os.path.join(out, "pairs"))
            res["components"].write.parquet(os.path.join(out, "components"))
        finally:
            incremental.connected_components = real_cc
            incremental.release_persisted()

    def _read_back(self, out: str):
        read = self.spark.read.parquet
        return (read(os.path.join(out, "pairs")),
                read(os.path.join(out, "components")))

    def iterate(self) -> dict:
        out = self._out_dir()
        t0 = time.monotonic()
        self._fold(out)
        wall = time.monotonic() - t0
        written, _ = dir_usage(out)
        pairs, comps = self._read_back(out)
        rows = self._drop_one(_pair_rows(pairs))
        rows += [("c", r.id, r.cluster_id) for r in comps.collect()]
        failures = ([] if _digest(rows) == self.ref_digest else
                    ["pairs+components differ from a from-scratch batch"])
        shutil.rmtree(out)
        return {"wall_s": wall, "written_bytes": written,
                "failures": failures}

    def traced(self, tracer) -> tuple[dict, list[str]]:
        """The fold as one ``fold`` layer; its connected-components call
        (the ``cluster`` layer) is timed separately, after its input
        pairs are materialized inside the fold layer. Then, outside the
        pass, the exact set-similarity operators (``ExactOps``) on a
        sample of the standing corpus' shingle sets."""
        from pyspark.sql import functions as F

        from jaccard_ml_spark.streaming import incremental
        real_cc = incremental.connected_components
        held = []   # (edges in, their components), both persisted

        def traced_cc(pairs, *args, **kwargs):
            pairs = pairs.persist()
            pairs.count()
            with tracer.span("cluster"):
                comps = real_cc(pairs, *args, **kwargs).persist()
                comps.count()
            held.extend([pairs, comps])
            return comps

        out = self._out_dir()
        with tracer.span("pass"):
            with tracer.span("fold"):
                self._fold(out, cc=traced_cc)
        written, _ = dir_usage(out)
        pairs, comps = self._read_back(out)
        result = {
            "fold.pairs_out": pairs.count(),
            "fold.components_out":
                comps.select(F.countDistinct("cluster_id")).first()[0],
            "fold.written_mb": written / 1e6,
        }
        if held:
            cc_in, cc_out = held
            result["cluster.edges_in"] = cc_in.count()
            result["cluster.components_out"] = cc_out.select(
                F.countDistinct("cluster_id")).first()[0]
        for df in held:
            df.unpersist()
        shutil.rmtree(out)

        sets = self.prior["sets"]
        if self.size["exact_sample_mod"] > 1:
            sets = sets.where(F.pmod(F.xxhash64("id"), F.lit(
                self.size["exact_sample_mod"])) == 0)
        ops = ExactOps(self.spark, self.work, sets, self.sub_path)
        out = self._out_dir()
        extra, failures = ops.traced(tracer, out, self._drop_one)
        shutil.rmtree(out)
        result.update(extra)
        return result, failures


# ---------------------------------------------------- exact set similarity
class ExactOps:
    """Exact set-similarity operators without LSH or checkpoints:
    ``exact_jaccard_pairs`` and ``containment_pairs`` over shingle sets,
    and ``substring_pairs`` over a small document set with planted
    turn-prefix containment. Run as layers of the ``tx_fold`` traced
    pass; their outputs are checked against DuckDB."""

    def __init__(self, spark, work: str, sets_df, sub_tx_path: str):
        from pyspark.sql import functions as F

        from jaccard_ml_spark.operators.assemble import (
            assemble_conversations,
        )
        from jaccard_ml_spark.sources.tables import read_transcripts

        self.spark = spark
        self.sets_path = os.path.join(work, "exact_sets")
        self.docs_path = os.path.join(work, "exact_docs")
        sets_df.write.parquet(self.sets_path)
        assemble_conversations(read_transcripts(spark, sub_tx_path)) \
            .select(F.col("conv_id").alias("doc_id"), "text").write \
            .parquet(self.docs_path)
        self.sets = spark.read.parquet(self.sets_path)
        self.docs = spark.read.parquet(self.docs_path)
        self.ref = self._duckdb_reference()

    def _duckdb_reference(self) -> dict[str, list]:
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads TO 1")
        con.execute(f"CREATE VIEW sets AS SELECT * FROM "
                    f"read_parquet('{self.sets_path}/*.parquet')")
        con.execute(f"CREATE VIEW docs AS SELECT * FROM "
                    f"read_parquet('{self.docs_path}/*.parquet')")
        con.execute("""
CREATE TABLE inter AS
WITH p AS (SELECT id, unnest(list_distinct(items)) AS item FROM sets),
     s AS (SELECT id, len(list_distinct(items)) AS sz FROM sets),
     i AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n
           FROM p a JOIN p b ON a.item = b.item AND a.id < b.id
           GROUP BY a.id, b.id)
SELECT i.id_a, i.id_b, i.n, sa.sz AS size_a, sb.sz AS size_b
FROM i JOIN s sa ON sa.id = i.id_a JOIN s sb ON sb.id = i.id_b""")
        exact = con.execute(f"""
SELECT id_a, id_b, n / (size_a + size_b - n) AS j FROM inter
WHERE n / (size_a + size_b - n) >= {JACCARD_T}""").fetchall()
        contain = con.execute(f"""
SELECT CASE WHEN size_a <= size_b THEN id_a ELSE id_b END,
       CASE WHEN size_a <= size_b THEN id_b ELSE id_a END,
       n, least(size_a, size_b), greatest(size_a, size_b),
       n / least(size_a, size_b) AS c
FROM inter WHERE n / least(size_a, size_b) >= {CONTAINMENT_T}""").fetchall()
        substring = con.execute("""
WITH n AS (SELECT doc_id,
                  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
                  AS t FROM docs),
     p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.t AS ta, b.t AS tb
           FROM n a JOIN n b ON a.doc_id < b.doc_id)
SELECT CASE WHEN position(ta IN tb) > 0 THEN ia ELSE ib END,
       CASE WHEN position(ta IN tb) > 0 THEN ib ELSE ia END
FROM p WHERE position(ta IN tb) > 0 OR position(tb IN ta) > 0""").fetchall()
        con.close()
        return {
            "exact_jaccard": sorted((a, b, _round(j)) for a, b, j in exact),
            "containment": sorted((a, b, int(n), int(x), int(y), _round(c))
                                  for a, b, n, x, y, c in contain),
            "substring": sorted(substring),
        }

    def _collect(self, out: str) -> dict[str, list]:
        read = self.spark.read.parquet
        exact = read(os.path.join(out, "exact_jaccard")).collect()
        contain = read(os.path.join(out, "containment")).collect()
        sub = read(os.path.join(out, "substring")).where(
            "is_substring = 1").collect()
        return {
            "exact_jaccard": sorted((r.id_a, r.id_b, _round(r.jaccard))
                                    for r in exact),
            "containment": sorted(
                (r.id_small, r.id_big, int(r.intersection),
                 int(r.size_small), int(r.size_big), _round(r.containment))
                for r in contain),
            "substring": sorted((r.id_small, r.id_big) for r in sub),
        }

    def traced(self, tracer, out: str,
               drop_one=lambda rows: rows) -> tuple[dict, list[str]]:
        """Each operator is a layer; ``substring_pairs`` is split into its
        anchor pass (materialized first) and the join + verify that
        reuses the cached anchors. Returns (metrics, check failures)."""
        from pyspark.sql import functions as F

        from jaccard_ml_spark.operators.dedup import containment_pairs
        from jaccard_ml_spark.operators.setsim import (
            exact_jaccard_pairs,
            posting_lists,
        )
        from jaccard_ml_spark.operators.suffix import (
            anchor_sets,
            substring_pairs,
        )
        with tracer.span("exact_ops"):
            with tracer.span("setsim.exact"):
                exact_jaccard_pairs(self.sets, JACCARD_T).write.parquet(
                    os.path.join(out, "exact_jaccard"))
            with tracer.span("setsim.containment"):
                containment_pairs(self.sets, CONTAINMENT_T).write.parquet(
                    os.path.join(out, "containment"))
            anchors, n_anchors = tracer.layer(
                "suffix.anchors", lambda: anchor_sets(self.docs))
            with tracer.span("suffix.verify"):
                substring_pairs(self.docs).write.parquet(
                    os.path.join(out, "substring"))
        anchors.unpersist()
        got = self._collect(out)
        got["exact_jaccard"] = drop_one(got["exact_jaccard"])
        failures = [f"{op} differs from DuckDB" for op in self.ref
                    if got[op] != self.ref[op]]
        df = posting_lists(self.sets).groupBy("item").count()
        predicted = df.select(F.sum(F.col("count") * (F.col("count") - 1)
                                    / 2)).first()[0]
        return ({"setsim.exact.join_rows_predicted": int(predicted or 0),
                 "suffix.anchors.rows_out": n_anchors}, failures)


WORKLOADS = {w.name: w for w in (TxSkew, TxFold)}
