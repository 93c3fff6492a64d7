"""Per-batch cost of incremental dedup vs standing-corpus size.

VERDICT r3 item 6: the standing-bucket + batch-local-CC incremental
path is plan-asserted at test scale, but no measured number showed
per-batch wall flat as the standing corpus grows. This harness runs a
FIXED delta (4k conversations) against standing corpora of 1x / 4x /
16x (60k / 240k / 960k conversations) and reports the timed delta-
batch wall per corpus size, bracketed by the same calibration probes
bench.py uses (the host is co-tenant; numbers carry their weather).

What is timed: candidate generation against the standing bucket table,
verify, stale-pair invalidation, batch-local CC, and materialization
of the updated pair + component tables (counts). NOT timed: the
standing-corpus build and its checkpointing (one-off setup), and the
corpus-wide `clusters` assignment join — in production that final
assignment is an Iceberg MERGE of the changed rows only, while this
sandbox stand-in would rewrite the whole table and measure nothing but
output volume; it is reported separately as `clusters_sec`.

Run: python BENCH/incremental_curve.py   (writes
BENCH/incremental_curve.json; ~10-25 min depending on weather)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "BENCH"))

from pyspark.sql import functions as F          # noqa: E402

from scaling import probe_min3                  # noqa: E402

N_DELTA = 4_000
CORPUS_SIZES = [60_000, 240_000, 960_000]       # 1x / 4x / 16x
TOTAL = CORPUS_SIZES[-1] + N_DELTA
REPS = int(os.environ.get("CURVE_REPS", "2"))


def main() -> None:
    from jaccard_ml_spark.config import DedupConfig
    from jaccard_ml_spark.plans.checkpoint import CheckpointStore
    from jaccard_ml_spark.session import get_spark, host_cpus
    from jaccard_ml_spark.sources.generator import (
        ensure_generated,
        generate_transcripts_sharded,
    )
    from jaccard_ml_spark.sources.tables import read_transcripts
    from jaccard_ml_spark.streaming.incremental import (
        incremental_dedup,
        release_persisted,
    )

    tx_dir = f"/tmp/spark_graft_curve_{TOTAL}"
    ensure_generated(tx_dir, generate_transcripts_sharded,
                     n_convs=TOTAL, seed=4242, n_shards=32)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())
    spark = get_spark(master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8),
                      app_name="incremental-curve")
    cfg = DedupConfig()
    tx = read_transcripts(spark, f"{tx_dir}/transcripts.parquet")
    delta_lo = f"conv-{CORPUS_SIZES[-1]:08d}"
    delta_tx = tx.where(F.col("conv_id") >= delta_lo).persist()
    n_delta_turns = delta_tx.count()

    results = []
    for k in CORPUS_SIZES:
        corpus_tx = tx.where(F.col("conv_id") < f"conv-{k:08d}")
        standing = incremental_dedup(corpus_tx, None, None, cfg)
        store = CheckpointStore(spark, f"/tmp/curve_ckpt_{k}", "curve")
        # standing sets bucketed+sorted by id — the Iceberg
        # bucket(N, id) layout of the production pair-verify side
        # (VERDICT r4 item 4): the per-batch verify reads the corpus
        # through this checkpoint, scan-only, never shuffled
        prior_sets = store.write_bucketed("sets", standing["sets"],
                                          ["id"], sort_cols=["id"])
        prior_sigs = store.write("sigs", standing["sigs"])
        prior_buckets = store.write_bucketed(
            "buckets", standing["buckets"], ["band_id", "bucket_hash"],
            sort_cols=["band_id", "bucket_hash"])
        prior_pairs = store.write("pairs", standing["pairs"])
        prior_components = store.write("components", standing["components"])
        n_standing_pairs = prior_pairs.count()
        release_persisted()
        spark.catalog.clearCache()

        best = None
        for rep in range(REPS):
            pre = probe_min3()
            t0 = time.monotonic()
            # metrics intentionally omitted (None) in the timed window:
            # the observability counts are three extra driver-blocking
            # jobs (incremental.py) and belong in the untimed pass below
            out = incremental_dedup(
                delta_tx, prior_sets, prior_pairs, cfg,
                prior_sigs=prior_sigs, prior_buckets=prior_buckets,
                prior_components=prior_components)
            n_pairs = out["pairs"].count()
            n_comp = out["components"].count()
            batch_sec = time.monotonic() - t0
            t1 = time.monotonic()
            out["clusters"].count()
            clusters_sec = time.monotonic() - t1
            post = probe_min3()
            release_persisted()
            spark.catalog.clearCache()
            rec = {"corpus_convs": k, "rep": rep,
                   "batch_sec": round(batch_sec, 2),
                   "clusters_sec": round(clusters_sec, 2),
                   "pairs_total": n_pairs, "components_total": n_comp,
                   "standing_pairs": n_standing_pairs,
                   "pre_probe": round(pre, 3), "post_probe": round(post, 3)}
            print(json.dumps(rec), flush=True)
            if best is None or rec["batch_sec"] < best["batch_sec"]:
                best = rec
        # untimed metrics pass for the batch-local CC evidence
        m: dict = {}
        incremental_dedup(delta_tx, prior_sets, prior_pairs, cfg,
                          prior_sigs=prior_sigs,
                          prior_buckets=prior_buckets,
                          prior_components=prior_components,
                          metrics=m)["pairs"].count()
        release_persisted()
        best["cc_metrics"] = m
        results.append(best)

    out_path = os.path.join(REPO, "BENCH", "incremental_curve.json")
    with open(out_path, "w") as f:
        json.dump({"n_delta_convs": N_DELTA,
                   "n_delta_turns": n_delta_turns,
                   "reps": REPS, "results": results}, f, indent=2)
    base = results[0]["batch_sec"]
    for r in results:
        print(f"corpus {r['corpus_convs']:>7} convs: batch "
              f"{r['batch_sec']}s ({r['batch_sec'] / base:.2f}x of 1x), "
              f"clusters {r['clusters_sec']}s, probes "
              f"{r['pre_probe']}→{r['post_probe']}")
    spark.stop()


if __name__ == "__main__":
    main()
