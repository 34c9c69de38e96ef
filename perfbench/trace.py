"""Spans around public calls, host-noise readings, and the fold of
Spark's event log into per-layer metrics.

The benchmark wraps every public call it times in a span.  In a traced
run the span also sets a Spark job group, so each job in the event log
names the call that launched it; the fold below reads job and task
timing, executor run vs CPU time, GC, spill, shuffle and block updates
from the log and attributes them to the span's layer.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from perfbench.spec import LAYER_UNITS

MB = float(1 << 20)
#: job group of jobs launched between timed calls (input listing and the like)
UNTIMED = "perfbench-untimed"


def steal_s() -> float:
    """Cumulative host steal time of this guest, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def load1() -> float:
    return os.getloadavg()[0]


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants — the JVM, its executor threads and the Python
    workers — counting exited children.  Time the host steals from the
    guest is not charged to a process, so host contention moves this far
    less than wall time (a round with 18 s of steal: dedup wall +75%,
    its CPU seconds +10%)."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited meanwhile
            continue
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    mine, new = set(), {os.getpid()}
    while new:
        mine |= new
        new = {pid for pid, ppid in parent.items() if ppid in new}
    total = sum(ticks.get(pid, 0) for pid in mine)
    return total / os.sysconf("SC_CLK_TCK")


class Spans:
    """Records one span per public call; in traced mode each span is
    also the Spark job group of the jobs the call launches."""

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.done: list[dict] = []

    @contextmanager
    def span(self, layer: str, **meta):
        rec = {"layer": layer, "group": f"{layer}#{len(self.done)}", "meta": meta}
        if self.traced:
            self.sc.setJobGroup(rec["group"], f"perfbench {layer}")
        rec["start_ms"] = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1000.0
            if self.traced:
                self.sc.setJobGroup(UNTIMED, "perfbench: outside timed calls")
            self.done.append(rec)


def _median(xs, default=0.0) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else default


def _skew(tasks) -> float:
    """Maximum task wall time over the mean task wall time."""
    walls = [t["wall"] for t in tasks]
    if not walls:
        return 0.0
    mean = sum(walls) / len(walls)
    return max(walls) / mean if mean > 0 else 1.0


def _python_s(tasks) -> float:
    """Executor run time not spent on the JVM's CPU — the Python/Arrow
    worker's share on mapInArrow and Python RDD stages."""
    return sum(max(0.0, t["run"] - t["cpu"]) for t in tasks)


_KEPT_EVENTS = (
    '"SparkListenerJobStart"',
    '"SparkListenerJobEnd"',
    '"SparkListenerTaskEnd"',
    '"SparkListenerBlockUpdated"',
    '"SparkListenerUnpersistRDD"',
)


def read_event_log(path: Path) -> dict:
    """Jobs (with their tasks), and the peak of cached RDD bytes."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    blocks: dict[str, int] = {}
    cached = peak = 0
    with open(path) as f:
        for line in f:
            if not any(k in line[:64] for k in _KEPT_EVENTS):
                continue
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                props = e.get("Properties") or {}
                jobs[jid] = {
                    "id": jid,
                    "group": props.get("spark.jobGroup.id", ""),
                    "submit": e["Submission Time"],
                    "end": e["Submission Time"],
                    "tasks": [],
                }
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                job = jobs.get(stage_job.get(e["Stage ID"], -1))
                if job is None:
                    continue
                job["tasks"].append(
                    {
                        "wall": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                        "run": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu": m.get("Executor CPU Time", 0) / 1e9,
                        "gc": m.get("JVM GC Time", 0) / 1000.0,
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "shuffle_w": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        "rows_in": m.get("Input Metrics", {}).get("Records Read", 0),
                        "bytes_out": m.get("Output Metrics", {}).get("Bytes Written", 0),
                        "failed": bool(info.get("Failed")),
                    }
                )
            elif ev == "SparkListenerBlockUpdated":
                b = e["Block Updated Info"]
                bid = b["Block ID"]
                if not bid.startswith("rdd_"):
                    continue
                size = b["Memory Size"] + b["Disk Size"]
                cached += size - blocks.get(bid, 0)
                if size:
                    blocks[bid] = size
                else:
                    blocks.pop(bid, None)
                peak = max(peak, cached)
            elif ev == "SparkListenerUnpersistRDD":
                prefix = f"rdd_{e['RDD ID']}_"
                for bid in [b for b in blocks if b.startswith(prefix)]:
                    cached -= blocks.pop(bid)
    return {"jobs": sorted(jobs.values(), key=lambda j: j["id"]), "peak_cached": peak}


def _covered_ms(jobs, lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] covered by at least one job interval."""
    iv = sorted((max(lo, j["submit"]), min(hi, j["end"])) for j in jobs)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _fit_layers(span, jobs) -> dict:
    """Split one fit_kmeans_native call into pack and Lloyd passes.

    The multi-block engine ends with one job per pass (plus one for the
    final report when asked for); every job before the first pass is the
    pack.  When the whole loop ran fused in one single-block job, that
    last job is reported as the one Lloyd job."""
    n_pass = span["meta"]["pass_jobs"]
    if len(jobs) <= n_pass:
        n_pass = 1
    pack, passes = jobs[:-n_pass], jobs[-n_pass:]
    pack_tasks = [t for j in pack for t in j["tasks"]]
    heaviest = max(pack, key=lambda j: sum(t["wall"] for t in j["tasks"]), default=None)
    gaps = [(b["submit"] - a["end"]) / 1000.0 for a, b in zip(passes, passes[1:])]
    return {
        "pack.s": ((passes[0]["submit"] - span["start_ms"]) / 1000.0) if pack else 0.0,
        "pack.python_s": _python_s(pack_tasks),
        "pack.task_skew": _skew(heaviest["tasks"]) if heaviest else 0.0,
        "lloyd.passes": float(len(passes)),
        "lloyd.pass_s": _median([(j["end"] - j["submit"]) / 1000.0 for j in passes]),
        "lloyd.python_s": _python_s([t for j in passes for t in j["tasks"]]),
        "lloyd.driver_gap_s": float(sum(gaps)),
        "lloyd.pass_task_skew": _median([_skew(j["tasks"]) for j in passes]),
        "lloyd.bytes_per_pass": float(span["meta"]["rows"] * span["meta"]["dim"] * 8),
    }


def fold(log: dict, spans: list[dict]) -> dict:
    """Per-layer metrics of one traced section: the median over calls of
    each layer's numbers (counts and sums are per call)."""
    by_group: dict[str, list] = {}
    for j in log["jobs"]:
        by_group.setdefault(j["group"], []).append(j)
    per: dict[str, list] = {}

    def add(name, value):
        per.setdefault(name, []).append(value)

    for s in spans:
        jobs = sorted(by_group.get(s["group"], []), key=lambda j: (j["submit"], j["id"]))
        tasks = [t for j in jobs for t in j["tasks"]]
        layer, meta = s["layer"], s["meta"]
        if layer == "ingest":
            add("ingest.s", s["dur_s"])
            add("ingest.rows_per_s", meta["rows"] / s["dur_s"])
        elif layer == "init":
            add("init.s", s["dur_s"])
            add("init.jobs", float(len(jobs)))
            add("init.cpu_s", sum(t["cpu"] for t in tasks))
        elif layer == "fit" and jobs:
            for k, v in _fit_layers(s, jobs).items():
                add(k, v)
        elif layer == "mllib":
            add("mllib.iterations", float(meta["iterations"]))
            add("mllib.jobs", float(len(jobs)))
            add("mllib.task_skew", _median([_skew(j["tasks"]) for j in jobs if len(j["tasks"]) > 1], 1.0))
        elif layer == "report":
            add("report.s", s["dur_s"])
        elif layer == "sink":
            add("sink.s", s["dur_s"])
            add("sink.bytes", float(sum(t["bytes_out"] for t in tasks)))
        elif layer == "dedup":
            add("dedup.shuffle_mb", sum(t["shuffle_w"] for t in tasks) / MB)
            add("dedup.max_task_s", max((t["wall"] for t in tasks), default=0.0))
        elif layer == "dedup_candidates":
            add("dedup.candidates", float(meta["candidates"]))
            add("dedup.verify_ratio", meta["pairs"] / max(1, meta["candidates"]))
        elif layer == "ivf_build":
            heaviest = max(jobs, key=lambda j: sum(t["wall"] for t in j["tasks"]), default=None)
            add("ivf.write_cpu_s", sum(t["cpu"] for t in tasks))
            add("ivf.write_task_skew", _skew(heaviest["tasks"]) if heaviest else 0.0)
        elif layer == "ivf_query":
            covered = _covered_ms(jobs, s["start_ms"], s["end_ms"])
            add("ivf.query_driver_s", max(0.0, s["end_ms"] - s["start_ms"] - covered) / 1000.0)
            add("ivf.query_rows_read", float(sum(t["rows_in"] for t in tasks)))
    out = {name: _median(per.get(name, [])) for name in LAYER_UNITS}
    # warm-up jobs carry no job group, glue between calls carries UNTIMED
    timed = [j for j in log["jobs"] if j["group"] not in ("", UNTIMED)]
    all_tasks = [t for j in timed for t in j["tasks"]]
    out["cache.peak_mb"] = log["peak_cached"] / MB
    out["jobs"] = float(len(timed))
    out["tasks_failed"] = float(sum(t["failed"] for t in all_tasks))
    out["gc_s"] = sum(t["gc"] for t in all_tasks)
    out["spill_mb"] = sum(t["spill"] for t in all_tasks) / MB
    return out
