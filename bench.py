"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Also runs the full transcripts dedup pipeline on a deterministic
synthetic transcripts table sized to the scale factor and reports its
turns/sec (the BASELINE.json throughput metric). Scaling-efficiency
evidence (N vs 4N executors) lives in BENCH/scaling.py.

Weather gating (VERDICT r3 item 2): the sandbox host is co-tenant and
turns 2-10x slow in bursts that /proc/stat steal does NOT register —
r3's official 369 s headline was adjudicated as contention noise (the
judge's rerun of identical code gave 229 s with a different hot-query
mix). Every query here is therefore bracketed by the same fixed
CPU+memory calibration probe the scaling harness gates on
(BENCH/scaling.py): the probe time before and after each query lands
in the output JSON, a query whose bracketing probes exceed 2x the
best probe seen is flagged polluted and retried once, and the
best-probe floor itself is reported so any reader can judge whether
the whole run sat in a degraded window. The driver-contract fields
("queries" mapping name -> seconds) are unchanged; weather detail
rides in parallel keys.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "BENCH"))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
from jaccard_ml_spark.session import host_cpus  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())
# polluted-query retries (0 disables); each retry re-brackets with
# fresh probes and the FASTEST clean attempt wins
RETRIES = int(os.environ.get("SPARK_GRAFT_BENCH_RETRIES", "1"))

# headline queries from the driver contract (scale-relevant subset)
HEADLINE = [
    "exact_dedup",
    "token_stats",
    "quality_score",
    "fingerprint",
    "ngram_jaccard_pairs",
    "lsh_near_dup_pairs",
    "dedup_clusters",
    "containment_pairs",
    "cosine_topk",
    "ann_topk",
    "ivf_topk",
    "embedding_near_dup",
    "assemble_convs",
    "decontaminate",
]


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


class Weather:
    """Chained probe samples: one probe between queries serves as the
    post-sample of the finished query and the pre-sample of the next,
    so the probe tax is ~1 sample per query, not 2."""

    def __init__(self) -> None:
        from scaling import calibration_probe
        self._probe = calibration_probe
        # seed: a bench STARTED in a bad window would otherwise adopt
        # the degraded probe as "best" and the gate goes blind. Order:
        # env override, then the checked-in quiet-host floor for this
        # sandbox box (BENCH/probe_floor.json — box-dependent, so it
        # ships with a measurement note; delete it on a different host
        # to fall back to learn-from-scratch).
        self.best = float(os.environ.get("SPARK_GRAFT_PROBE_BEST", "0")) \
            or None
        if self.best is None:
            floor_path = os.path.join(REPO, "BENCH", "probe_floor.json")
            if os.path.exists(floor_path):
                with open(floor_path) as f:
                    self.best = float(json.load(f)["probe_floor"]) or None
        self.last = self.sample()

    def sample(self) -> float:
        p = self._probe()
        if self.best is None or p < self.best:
            self.best = p
        self.last = p
        return p

    def polluted(self, pre: float, post: float) -> bool:
        return max(pre, post) > max(self.best, 0.01) * 2.0


def _timed(fn, weather: Weather) -> dict:
    """Run fn() bracketed by probes; retry while the window is polluted."""
    attempts = []
    for att in range(RETRIES + 1):
        pre = weather.last
        t0 = time.monotonic()
        fn()
        sec = time.monotonic() - t0
        post = weather.sample()
        rec = {"sec": round(sec, 3), "pre_probe": round(pre, 3),
               "post_probe": round(post, 3),
               "polluted": weather.polluted(pre, post)}
        attempts.append(rec)
        if not rec["polluted"]:
            break
    # fastest attempt (clean if any attempt was clean — a polluted
    # window only ever inflates, never deflates, the wall time)
    best = min(attempts, key=lambda a: a["sec"])
    best["attempts"] = len(attempts)
    return best


def _bench_transcripts(spark, sf: float):
    """Full pipeline wall time on a synthetic transcripts table."""
    from jaccard_ml_spark.config import DedupConfig
    from jaccard_ml_spark.plans.pipeline import dedup_pipeline
    from jaccard_ml_spark.sources.generator import (
        ensure_generated,
        generate_transcripts,
    )
    from jaccard_ml_spark.sources.tables import read_transcripts

    n_convs = max(500, int(40000 * sf)) if sf > 0 else 2000
    cache = f"/tmp/spark_graft_bench_tx_{n_convs}"
    ensure_generated(cache, generate_transcripts, n_convs=n_convs, seed=42)
    tx = read_transcripts(spark, f"{cache}/transcripts.parquet")
    n_turns = tx.count()

    def run():
        res = dedup_pipeline(tx, DedupConfig())
        res.pairs.count()
        res.clusters.count()
        res.release()

    return run, n_turns


def main() -> None:
    from jaccard_ml_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark(master=f"local[{CPUS}]",
                      app_name="jaccard-ml-spark-bench",
                      shuffle_partitions=max(CPUS, 8))
    sf = _sf_from_dir(SF_DIR)
    qs = E.queries()
    times: dict[str, float] = {}
    weather: dict[str, dict] = {}
    w = Weather()
    from jaccard_ml_spark.operators.similarity import release_persisted

    def run_one(name, fn):
        rec = _timed(fn, w)
        times[name] = rec.pop("sec")
        weather[name] = rec

    # untimed session warm-up: executor launch, codegen, a parquet
    # footer read and one tiny shuffle. The calibration probes are pure
    # numpy, so without this the FIRST timed query absorbs the whole
    # JVM cold start (~3-4s measured on exact_dedup — a one-window
    # query on 5k rows); the scaling harness warms up the same way
    # (SCALING_WARMUP_MOD).
    from pyspark.sql import functions as F
    (spark.read.parquet(f"{SF_DIR}/documents.parquet")
     .limit(256).groupBy(F.spark_partition_id()).count().count())

    for name in HEADLINE:
        def fn(name=name):
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            # drop the similarity ops' cached vector tables between
            # queries so a bench loop can't accumulate executor storage
            # (ADVICE r2)
            release_persisted()
        run_one(name, fn)

    tx_run, n_turns = _bench_transcripts(spark, sf)
    run_one("transcripts_dedup", tx_run)
    tx_sec = times["transcripts_dedup"]

    total = round(sum(times.values()), 3)
    polluted = sorted(n for n, rec in weather.items() if rec["polluted"])
    record = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": CPUS,
        "transcripts_turns": n_turns,
        "transcripts_turns_per_sec": round(n_turns / tx_sec, 1),
        "weather": weather,
        "probe_best": round(w.best, 3),
        "polluted_queries": polluted,
        "run_clean": not polluted,
    }
    # the stdout JSON line is the driver contract, but Spark progress
    # bars / late log lines make a stdout-tail parse fragile
    # (BENCH_r04.json recorded parsed: null for a successful run) — the
    # file is the self-contained source of truth for the same record
    with open(os.path.join(REPO, "BENCH", "bench_last.json"), "w") as f:
        json.dump(record, f, indent=2)
    print(json.dumps(record))
    spark.stop()


if __name__ == "__main__":
    main()
