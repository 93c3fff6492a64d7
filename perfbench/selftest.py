"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Checks that (1) a traced run of every workload prints every end-to-end
metric of BENCHMARK.json in its record and every per-layer metric in
its result line, (2) the event-log attribution credits each layer with
the shuffle and Python bytes of the stages it ran, also when a later
job lists them as skipped (on a synthetic event log), and (3) a run whose
output has one pair dropped counts every check it reaches as failed.
Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _run(workload: str, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--size", "tiny", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    if out.returncode:
        sys.exit(f"{workload}: exit {out.returncode}\n{out.stderr[-3000:]}")
    record, result = out.stdout.strip().splitlines()[-2:]
    return json.loads(record), json.loads(result)


def _check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        sys.exit(1)


def check_attribution() -> None:
    """A stage that a later job lists as skipped stays with the job group
    whose job ran it (a synthetic event log; no Spark needed)."""
    from perfbench.trace import stage_extras
    ev_dir = os.path.join(ROOT, ".perfbench_work", "selftest-events")
    os.makedirs(ev_dir, exist_ok=True)

    def group(name):
        return {"spark.jobGroup.id": name}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": group("assemble")},
        {"Event": "SparkListenerStageSubmitted", "Stage Info":
         {"Stage ID": 0}, "Properties": group("assemble")},
        # a later job over the same data skips stage 0 but lists it
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": group("checkpoint")},
        {"Event": "SparkListenerStageSubmitted", "Stage Info":
         {"Stage ID": 1}, "Properties": group("checkpoint")},
    ]
    with open(os.path.join(ev_dir, "events_1"), "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in events)
    try:
        extras = stage_extras(ev_dir)
    finally:
        shutil.rmtree(os.path.dirname(ev_dir))
    _check(extras[0]["group"] == "assemble"
           and extras[1]["group"] == "checkpoint",
           "a skipped stage keeps the layer that ran it")


def main() -> None:
    check_attribution()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    traced = {}
    for w in (wl["name"] for wl in bench["workloads"]):
        record, result = _run(w, "--trace", "1")
        traced[w] = {k: v["value"] for k, v in result["metrics"].items()}
        _check(set(record["end_to_end"]) == e2e,
               f"{w}: record holds every end-to-end metric")
        _check(all(v > 0 for v in record["end_to_end"].values()),
               f"{w}: end-to-end metrics are positive")
        _check(set(traced[w]) == layers,
               f"{w}: result line holds every per-layer metric")
        _check(result["failed"] == 0 and result["correct"],
               f"{w}: outputs pass their checks")
    # stages land in the layer that ran them, not in a later layer that
    # skips them
    for name in ("assemble.shuffle_write_mb", "candidates.shuffle_mb",
                 "shingle_minhash.py_bytes_mb"):
        _check(traced["tx_skew"][name] > 0, f"tx_skew: {name} > 0")
    for name in ("fold.wall_s", "cluster.wall_s", "setsim.exact.wall_s",
                 "setsim.containment.wall_s", "suffix.anchors.wall_s",
                 "suffix.verify.wall_s"):
        _check(traced["tx_fold"][name] > 0, f"tx_fold: {name} > 0")
    record, result = _run("tx_skew", "--trace", "0", "--corrupt")
    _check(set(result["metrics"]) == e2e,
           "tx_skew: result line holds every end-to-end metric")
    _check(result["failed"] == result["attempted"] >= 1
           and not result["correct"] and record["error_rate"] == 1.0,
           "tx_skew: a dropped pair fails the iteration (error_rate 1.0)")
    record, result = _run("tx_fold", "--trace", "1", "--corrupt")
    _check(result["failed"] == result["attempted"] >= 2
           and record["iterations"][-1]["failures"]
           == ["exact_jaccard differs from DuckDB"],
           "tx_fold: a dropped pair fails every iteration and the traced "
           "exact-operator check")


if __name__ == "__main__":
    main()
