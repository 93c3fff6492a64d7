"""spark-submit entry point for the dedup pipeline.

Runs the stage graph of ``plans/pipeline.py`` under the checkpoint
policy (``plans.resumable.run_resumable_dedup``); rerunning with the
same ``--output`` root resumes after the last completed stage.

Cluster usage (the production shape the north rule mandates):

    python -m zipfile -c dist/jaccard_ml_spark.zip jaccard_ml_spark
    spark-submit --py-files dist/jaccard_ml_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        jobs/dedup.py \
        --input  <path or iceberg table of transcripts> \
        --output <checkpoint root> \
        --threshold 0.8

Local smoke (this sandbox):

    python jobs/dedup.py --input /tmp/tx/transcripts.parquet \
        --output /tmp/dedup_out
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    # CLI defaults come from DedupConfig — the single source of truth.
    # (Hard-coded 128/32 here once contradicted the tuned (96, 16)
    # banding whose comment documents a measured ~75× false-candidate
    # blowup at (32, 4) on boilerplate corpora; defaults must never be
    # able to drift from the pinned config.)
    from jaccard_ml_spark.config import DEFAULT_CONFIG

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="transcripts parquet path or iceberg table")
    ap.add_argument("--output", required=True, help="checkpoint root")
    ap.add_argument("--format", default="parquet")
    ap.add_argument("--threshold", type=float,
                    default=DEFAULT_CONFIG.jaccard_threshold)
    ap.add_argument("--k-shingle", type=int,
                    default=DEFAULT_CONFIG.k_shingle)
    ap.add_argument("--num-perm", type=int,
                    default=DEFAULT_CONFIG.num_perm)
    ap.add_argument("--bands", type=int, default=DEFAULT_CONFIG.bands)
    ap.add_argument("--master", default=None,
                    help="override master (None = from spark-submit)")
    ap.add_argument("--run-id", default="dedup")
    ap.add_argument("--auto-tune", action="store_true",
                    help="derive skew knobs (salt threshold/factor, "
                         "band-split) from observed bucket stats; "
                         "chosen values land in the metrics table")
    args = ap.parse_args()

    from jaccard_ml_spark.config import DedupConfig
    from jaccard_ml_spark.plans.resumable import run_resumable_dedup
    from jaccard_ml_spark.session import get_spark
    from jaccard_ml_spark.sources.tables import read_transcripts

    cfg = DedupConfig(
        k_shingle=args.k_shingle,
        num_perm=args.num_perm,
        bands=args.bands,
        rows_per_band=args.num_perm // args.bands,
        jaccard_threshold=args.threshold,
    )
    spark = get_spark(master=args.master, app_name="dedup-pipeline")
    tx = read_transcripts(spark, args.input, args.format)

    t0 = time.monotonic()
    tables = run_resumable_dedup(spark, tx, cfg, args.output, args.run_id,
                                 auto_tune=args.auto_tune)
    n_pairs = tables["pairs"].count()
    n_clusters = tables["clusters"].select("cluster_id").distinct().count()
    n_turns = tx.count()
    wall = time.monotonic() - t0
    print(json.dumps({
        "run_id": args.run_id,
        "turns": n_turns,
        "pairs": n_pairs,
        "clusters": n_clusters,
        "wall_sec": round(wall, 2),
        "turns_per_sec": round(n_turns / wall, 1),
        "config": cfg.to_dict(),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
