"""Traced run: layer spans, Spark job groups and event-log attribution.

A traced pass calls each layer's public function in the order the
workload's entry point does. Before each call the tracer sets a Spark
job group named after the layer and opens a span (name, start, end,
parent); the call's output is materialized before the span closes, so
the next layer starts from computed data. Spans are kept in memory and
written out once, at the end of the run.

Per-stage task time and shuffle bytes come from the event-log parser
in ``BENCH/stage_diag.py``, imported, not copied. A second pass over
the same log adds what that parser does not keep: which job group ran
each stage (from the stage's own submission, so a stage that a later
job skips keeps the layer that ran it), per-task durations, spill
bytes, and the Arrow SQL metrics
("data sent to / returned from Python workers").
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import time

# job group the stage parser in BENCH/stage_diag.py starts counting at
MARKER_GROUP = "diag-marker"
AUX_GROUP = "trace.aux"
_PY_BYTES = ("data sent to Python workers",
             "data returned from Python workers")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.monotonic()

    def mark(self) -> None:
        """Run the marker job; stages after it belong to the trace."""
        self.spark.sparkContext.setJobGroup(MARKER_GROUP, MARKER_GROUP)
        self.spark.range(1).selectExpr("sum(id)").collect()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        root = self._stack[0] if self._stack else name
        self._stack.append(name)
        self.spark.sparkContext.setJobGroup(name, name)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            self._stack.pop()
            self.spans.append({"name": name, "parent": parent,
                               "root": root,
                               "start": round(start - self._t0, 6),
                               "end": round(end - self._t0, 6)})
            self.spark.sparkContext.setJobGroup(
                parent or AUX_GROUP, parent or AUX_GROUP)

    def layer(self, name: str, build):
        """Call ``build`` inside a span and materialize its output.

        Returns the persisted DataFrame and its row count; the caller
        unpersists it once the next step has consumed it."""
        with self.span(name):
            df = build().persist()
            rows = df.count()
        return df, rows

    def exclusive_wall(self, root: str | None = None) -> dict[str, float]:
        """Seconds per span name, minus the time of its child spans; only
        spans under the top-level span ``root`` when it is given."""
        out: dict[str, float] = {}
        for s in self.spans:
            if root is not None and s["root"] != root:
                continue
            d = s["end"] - s["start"]
            out[s["name"]] = out.get(s["name"], 0.0) + d
            if s["parent"]:
                out[s["parent"]] = out.get(s["parent"], 0.0) - d
        return out


def _event_files(ev_dir: str) -> list[str]:
    files = []
    for dirpath, _, names in os.walk(ev_dir):
        files += [os.path.join(dirpath, n) for n in sorted(names)
                  if not n.startswith(".")]
    return files


def stage_table(ev_dir: str, work_dir: str) -> dict[int, dict]:
    """Per-stage totals from BENCH/stage_diag.parse (run time, shuffle
    MB), keyed by stage id. The parser prints a table and saves JSON to
    a fixed temp path; both are redirected into ``work_dir``."""
    from BENCH import stage_diag

    out_json = os.path.join(work_dir, "stage_diag.json")

    def _open(path, *args, **kwargs):
        if str(path).startswith("/tmp/stage_diag_"):
            path = out_json
        return open(path, *args, **kwargs)

    stage_diag.open = _open
    try:
        (ev_path,) = _event_files(ev_dir)
        with contextlib.redirect_stdout(io.StringIO()):
            stage_diag.parse(0, ev_path, 0.0)
    finally:
        del stage_diag.open
    with open(out_json) as f:
        return {int(k): v for k, v in json.load(f)["stages"].items()}


def stage_extras(ev_dir: str) -> dict[int, dict]:
    """Job group, task durations, spill and Python bytes per stage."""
    extras: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return extras.setdefault(sid, {"group": None, "task_ms": [],
                                       "spill_bytes": 0, "py_bytes": 0})

    for path in _event_files(ev_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    # posted only for stages that run, with the job group
                    # of the job that ran them; a job's "Stage IDs" also
                    # lists the already-computed stages it skips
                    s = stage(ev["Stage Info"]["Stage ID"])
                    if s["group"] is None:
                        s["group"] = (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id")
                elif kind == "SparkListenerTaskEnd":
                    s = stage(ev["Stage ID"])
                    info = ev.get("Task Info") or {}
                    s["task_ms"].append(info.get("Finish Time", 0)
                                        - info.get("Launch Time", 0))
                    m = ev.get("Task Metrics") or {}
                    s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    s = stage(si["Stage ID"])
                    s["py_bytes"] = sum(
                        int(a.get("Value", 0))
                        for a in si.get("Accumulables", ())
                        if a.get("Name") in _PY_BYTES)
    return extras


def group_metrics(ev_dir: str, work_dir: str) -> dict[str, dict]:
    """Task, shuffle, spill and Python-byte totals per job group."""
    base = stage_table(ev_dir, work_dir)
    extras = stage_extras(ev_dir)
    groups: dict[str, dict] = {}
    for sid, s in base.items():
        x = extras.get(sid)
        if x is None or x["group"] is None:
            continue
        g = groups.setdefault(x["group"], {
            "task_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
            "spill_mb": 0.0, "py_bytes_mb": 0.0, "udf_stages": 0,
            "heaviest": (0.0, [])})
        run_s = s["run_ms"] / 1000.0
        g["task_s"] += run_s
        g["shuffle_write_mb"] += s["sh_write_mb"]
        g["shuffle_read_mb"] += s["sh_read_mb"]
        g["spill_mb"] += x["spill_bytes"] / 1e6
        g["py_bytes_mb"] += x["py_bytes"] / 1e6
        g["udf_stages"] += int(x["py_bytes"] > 0)
        if run_s > g["heaviest"][0]:
            g["heaviest"] = (run_s, x["task_ms"])
    for g in groups.values():
        tasks = g.pop("heaviest")[1]
        med = statistics.median(tasks) if tasks else 0
        g["task_max_over_median"] = (max(tasks) / med) if med else 1.0
    return groups
