"""Repository benchmark for jaccard_ml_spark.

Usage, from the repository root:

    python3 perfbench/run.py --workload tx_skew --seed 1 --seconds 5 \
        --trace 0

Generates the workload's inputs from ``--seed``, starts a Spark session
pinned to this host, sets up, then runs the timed operation until
``--seconds`` have passed (at least once), checking every iteration's
output. ``--trace 1``
adds one traced pass, layer by layer, and reports the per-layer metrics
instead of the end-to-end ones.

Prints two JSON lines: the full run record (configuration, input
fingerprints, per-iteration results, every metric), then the result
line ``{"correct", "attempted", "failed", "metrics"}``. The record and
the trace spans are also saved under ``.perfbench_out/``. Exits 2,
without a result, when the package is not beside this directory.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ITERATION_TIMEOUT_S = 100


def bench_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric names with their units, as
    BENCHMARK.json at the repository root lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def _package_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, *p)) for p in (
        ("jaccard_ml_spark", "__init__.py"), ("BENCH", "stage_diag.py"),
        ("BENCH", "scaling.py")))


def _layer_metrics(names, tracer, groups: dict, extra: dict,
                   untraced: float, traced: float) -> dict[str, float]:
    walls = tracer.exclusive_wall()
    out = {}
    for name in names:
        layer, metric = name.rsplit(".", 1)
        g = groups.get(layer, {})
        if name in extra:
            value = extra[name]
        elif metric == "wall_s":
            value = walls.get(layer, 0.0)
        elif metric == "shuffle_mb":
            value = g.get("shuffle_write_mb", 0.0)
        else:
            value = g.get(metric, 0.0)
        out[name] = float(value)
    # coverage counts the layers of the pass that mirrors the timed
    # operation, not layers traced after it
    layers = {name.rsplit(".", 1)[0] for name in names} - {"trace"}
    layer_wall = sum(v for k, v in tracer.exclusive_wall("pass").items()
                     if k in layers)
    out["trace.coverage"] = layer_wall / untraced
    out["trace.overhead_s"] = traced - untraced
    return out


def run(args, work: str) -> dict:
    from BENCH.scaling import calibration_probe
    from perfbench import host, inputs
    from perfbench.workloads import WORKLOADS

    end_to_end, per_layer = bench_metrics()
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace}
    if args.trace:
        record["probe_before_s"] = calibration_probe()
    phases = record["phases"] = {}
    t0 = time.monotonic()
    wl = WORKLOADS[args.workload](work, args.seed, args.size)
    wl.corrupt = args.corrupt
    with inputs.single_threaded():
        wl.generate()
    phases["generate_s"] = time.monotonic() - t0
    record["inputs"] = wl.fingerprints
    record["turns"] = wl.turns

    t0 = time.monotonic()
    spark, conf = host.start_session(work, event_log=bool(args.trace))
    record["conf"] = conf
    setup = {"session_s": time.monotonic() - t0}
    sampler = host.RssSampler()
    try:
        setup.update(wl.setup(spark))
        record["setup"] = setup
        phases["reference_s"] = wl.reference_s
        iterations = []
        t_measure = time.monotonic()
        while not iterations or time.monotonic() - t_measure < args.seconds:
            timer = threading.Timer(ITERATION_TIMEOUT_S,
                                    spark.sparkContext.cancelAllJobs)
            timer.start()
            sampler.on()
            try:
                it = wl.iterate()
            except Exception as exc:   # counted as a failed iteration
                it = {"failures": [f"{type(exc).__name__}: {exc}"[:300]]}
            finally:
                sampler.off()
                timer.cancel()
            if it.get("wall_s", 0) > ITERATION_TIMEOUT_S:
                it["failures"].append("timeout")
            iterations.append(it)
        record["iterations"] = iterations
        phases["measure_s"] = time.monotonic() - t_measure
        done = [it for it in iterations if "wall_s" in it]
        if not done:
            raise RuntimeError(f"no iteration completed: {iterations}")
        wall = statistics.median(it["wall_s"] for it in done)
        e2e = {
            "setup_s": sum(setup.values()),
            "wall_s": wall,
            "turns_per_s": wl.turns / wall,
            "peak_rss_mb": sampler.peak / 1e6,
            "written_mb": statistics.median(
                it["written_bytes"] for it in done) / 1e6,
        }
        record.update(end_to_end=e2e, iterations_run=len(iterations),
                      peak_memory_mb={k: v / 1e6 for k, v in
                                      sampler.peak_by_kind.items()})
        if args.trace:
            from perfbench.trace import Tracer
            t0 = time.monotonic()
            tracer = Tracer(spark)
            tracer.mark()
            extra, failures = wl.traced(tracer)
            if failures is not None:
                # a traced pass with output checks of its own counts as
                # one more attempted operation
                iterations.append({"traced": True, "failures": failures})
            (traced,) = [s["end"] - s["start"] for s in tracer.spans
                         if s["name"] == "pass"]
            phases["trace_s"] = time.monotonic() - t0
    finally:
        t0 = time.monotonic()
        host.stop_session(spark)
        sampler.close()
        phases["stop_s"] = time.monotonic() - t0

    failed = sum(bool(it["failures"]) for it in iterations)
    record["error_rate"] = failed / len(iterations)
    if args.trace:
        from perfbench.trace import group_metrics
        groups = group_metrics(os.path.join(work, "events"), work)
        record["per_layer"] = _layer_metrics(per_layer, tracer, groups,
                                             extra, wall, traced)
        record["spans"] = tracer.spans
        record["job_groups"] = groups
        record["probe_after_s"] = calibration_probe()
    metrics = record["per_layer"] if args.trace else e2e
    units = per_layer if args.trace else end_to_end
    record["result"] = {
        "correct": failed == 0, "attempted": len(iterations),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }
    return record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tx_skew", "tx_fold"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test only: tiny inputs, and one output pair dropped
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not _package_present():
        print(f"perfbench: jaccard_ml_spark and BENCH/ not found under "
              f"{ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:     # another run's work directory is still there
            pass
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record, default=str))
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
