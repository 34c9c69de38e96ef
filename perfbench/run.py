"""Seeded, layered benchmark of the clustering engine and its operators.

Run from the repository root:

    python3 perfbench/run.py --workload clustering --seed 1 --seconds 15 --trace 0

Inputs are generated from ``--seed`` (cached per seed under
``.bench_work/inputs``); the program receives only the generated files.
The session is started three times (each start includes forking the
Python workers); the last session then runs a warm-up that calls every
timed public function once on tiny inputs.  ``setup_s`` is the median
start plus that warm-up.  The pipeline then makes its full-size calls
once, untimed.  The workload's round of public calls then repeats, one
client in a closed loop, for about ``--seconds`` (at least one round);
every answer is checked against a numpy or planted oracle, and each
round's host steal is printed beside its samples.  The last line of
stdout is one JSON object.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` warms up
and measures half the window untraced, restarts the session with
Spark's event log on and a job group per public call, measures the
other half, and folds the log into per-layer metrics (written with the
spans to ``.bench_work/trace``).  ``--smoke`` runs tiny inputs and
checks that every metric named in BENCHMARK.json is reported;
``--describe`` prints the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH.parent))

from perfbench import spec  # noqa: E402

SETUPS = 3
DRIVER_MEM = "3g"
KEEP_TRACES = 8


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=spec.WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs; check every named metric is reported")
    ap.add_argument("--describe", action="store_true", help="print workloads and the metric map, then exit")
    args = ap.parse_args(argv)
    if not args.describe and not args.workload:
        ap.error("--workload is required")
    return args


def describe() -> None:
    for w in spec.WORKLOAD_NAMES:
        meaning = ", ".join(f"{k}={v}" for k, v in spec.E2E_MEANING[w].items())
        print(f"workload {w}: setup_s, {meaning}")
    for name, (target, where) in spec.LAYER_MAP.items():
        print(f"layer {name} [{spec.LAYER_UNITS[name]}] -> {target} on {where}")


def set_environment(root: Path, work: Path) -> None:
    """Everything the run writes stays under ``work``; Python workers
    import the package from the checkout; all cores of this process."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dspark.sql.warehouse.dir={work / 'warehouse'}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{java_opts}" pyspark-shell'


def event_log_props(log_dir: Path) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.logBlockUpdates.enabled": "true",
    }


def set_jvm_props(props: dict) -> None:
    """Spark confs read from JVM system properties by the next context —
    how the traced session gets its event log without touching the
    package's session factory."""
    from pyspark import SparkContext

    for k, v in props.items():
        SparkContext._jvm.java.lang.System.setProperty(k, v)


def stop_jvm() -> None:
    """Close the gateway and wait for the JVM (and with it the Python
    workers) to exit, so no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits at end of its stdin
        proc.wait(timeout=60)


def measure(ctxs: dict, wl, seconds: float, label: str) -> dict:
    """Closed loop of rounds for about ``seconds``; returns the samples.
    A new round starts only while the mean round still fits.  Each
    round's sample line carries the host steal over the round and its
    share of the cores' time, so steal-inflated readings show."""
    from perfbench.trace import load1, steal_s
    from perfbench.workloads import RoundAborted

    run = next(iter(ctxs.values())).run
    samples: dict[str, list] = {}
    t0, rounds = time.perf_counter(), 0
    while True:
        r0, s0 = time.perf_counter(), steal_s()
        run.cpu_s = 0.0
        try:
            got = wl.round(ctxs)
            got["cpu_s"] = run.cpu_s
        except RoundAborted:
            got = {}
        rounds += 1
        stolen = steal_s() - s0
        for k, v in got.items():
            samples.setdefault(k, []).extend(v if isinstance(v, list) else [v])
        shown = " ".join(
            f"{k}={','.join(f'{x:.4f}' for x in v) if isinstance(v, list) else f'{v:.4f}'}" for k, v in got.items()
        )
        share = stolen / ((time.perf_counter() - r0) * os.cpu_count())
        print(f"sample {label} round={rounds} {shown} steal_s={stolen:.2f} steal_share={share:.4f} "
              f"load1={load1():.2f}", flush=True)
        elapsed = time.perf_counter() - t0
        if elapsed + elapsed / rounds > seconds:
            return samples


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def named_e2e(samples: dict, setup_s: float, run) -> dict:
    """The human-readable end-to-end numbers of this workload."""
    out = {"setup_s": setup_s}
    for k in spec.NAMED_UNITS:
        if k in samples:
            out[k] = _median(samples[k])
    lat = samples.get("ivf_query_s")
    if lat:
        out["ivf_query_p50_s"] = _median(lat)
        out["ivf_query_p90_s"] = float(sorted(lat)[min(len(lat) - 1, int(0.9 * len(lat)))])
    out["ops_failed_frac"] = run.failed / max(1, run.attempted)
    return out


def print_named(named: dict, samples: dict) -> None:
    for k, v in named.items():
        n = len(samples.get("ivf_query_s" if k.startswith("ivf_query") else k, [])) or 1
        note = f" (n={n})"
        if k == "ivf_query_p90_s" and n < 100:
            note = f" (n={n}; fewer than 10 samples lie beyond p90, so it reads as the slowest batch)"
        print(f"metric {k} {v:.6g} {spec.NAMED_UNITS[k]}{note}")


def prune(base: Path, keep: int) -> None:
    dirs = sorted((d for d in base.iterdir() if d.is_dir()), key=lambda d: d.stat().st_mtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.describe:
        describe()
        return 0
    root = Path.cwd()
    if not (root / "kmeans_mapreduce_spark" / "__init__.py").is_file():
        print(f"perfbench: kmeans_mapreduce_spark not found under {root}; run from the repository root", file=sys.stderr)
        return 2
    work = root / ".bench_work"
    set_environment(root, work)

    from perfbench import trace
    from perfbench.gen import ensure_inputs
    from perfbench.workloads import WORKLOADS, Context, RoundAborted, Run, start_workers

    wl = WORKLOADS[args.workload]
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    scratch = work / "out" / run_id
    scratch.mkdir(parents=True)
    trace_dir = work / "trace" / run_id
    log_dir = trace_dir / "eventlog"
    run = Run(records=work / "records")
    ctxs = {}
    for name, part in wl.parts.items():
        params = part.smoke if args.smoke else part.full
        inputs = ensure_inputs(work / "inputs", name, args.seed, params, "smoke" if args.smoke else "full")
        ctxs[name] = Context(run, params, inputs, scratch, args.seed)
        part.prepare(ctxs[name])

    from kmeans_mapreduce_spark.session import get_spark
    steal0 = trace.steal_s()
    setups, untraced, traced = [], {}, {}
    spark = None

    def warm_up() -> float:
        """Every part's public calls once on tiny inputs before timing
        (first-touch classloading, code generation and imports), timed;
        then the untimed full-size primers.  Outputs are checked like any
        other; a call that raises ends the warm-up."""
        run.spans = trace.Spans(spark.sparkContext, traced=False)
        t0 = time.perf_counter()
        warm_s = None
        try:
            for name, part in wl.parts.items():
                part.warm(ctxs[name])
            spark.catalog.clearCache()
            warm_s = time.perf_counter() - t0
            print(f"warm-up: {warm_s:.3f}s", flush=True)
            for name, part in wl.parts.items():
                if hasattr(part, "prime"):
                    part.prime(ctxs[name])
        except RoundAborted:
            pass
        spark.catalog.clearCache()
        return time.perf_counter() - t0 if warm_s is None else warm_s

    try:
        for i in range(SETUPS):
            last = i == SETUPS - 1
            if args.trace and last:
                log_dir.mkdir(parents=True)
                set_jvm_props(event_log_props(log_dir))
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            start_workers(spark)
            setups.append(time.perf_counter() - t0)
            print(f"setup {i + 1}: session and workers {setups[-1]:.3f}s", flush=True)
            run.spark = spark
            if last:
                # a traced run warmed the JVM in its untraced half already
                if not args.trace:
                    warm_s = warm_up()
                run.spans = trace.Spans(spark.sparkContext, traced=bool(args.trace))
                window = args.seconds / 2 if args.trace else args.seconds
                samples = measure(ctxs, wl, window, "traced" if args.trace else "untraced")
                (traced if args.trace else untraced).update(samples)
            elif args.trace and i == SETUPS - 2:
                warm_s = warm_up()
                run.spans = trace.Spans(spark.sparkContext, traced=False)
                untraced.update(measure(ctxs, wl, args.seconds / 2, "untraced"))
            if not last:
                spark.stop()
        app_id = spark.sparkContext.applicationId
        spans = run.spans.done
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)

    # set-up = session start (median of SETUPS starts) + the one warm-up
    setup_s = _median(setups) + warm_s
    named = named_e2e(untraced, setup_s, run)
    print_named(named, untraced)
    for k, v in run.info.items():
        print(f"info {k} {v}")
    for e in run.errors:
        print(f"FAILED {e}")

    if args.trace:
        log = trace.read_event_log(log_dir / app_id)
        metrics = trace.fold(log, spans)
        metrics["oracle.lloyd_s"] = float(run.info.get("oracle.lloyd_s", 0.0))
        metrics["steal_s"] = trace.steal_s() - steal0
        metrics["load1"] = trace.load1()
        base = _median(untraced.get("job_s", []))
        metrics["trace_overhead_frac"] = _median(traced.get("job_s", [])) / base - 1 if base else 0.0
        units = spec.LAYER_UNITS
        for k, v in metrics.items():
            print(f"layer {k} {v:.6g} {units[k]}")
        (trace_dir / "spans.json").write_text(json.dumps(spans, indent=1))
        (trace_dir / "layers.json").write_text(json.dumps(metrics, indent=1))
        prune(trace_dir.parent, KEEP_TRACES)
    else:
        meaning = spec.E2E_MEANING[args.workload]
        metrics = {"setup_s": setup_s}
        for generic, name in meaning.items():
            metrics[generic] = named.get(name, 0.0)  # absent only if every round failed
        units = spec.E2E_UNITS

    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    if args.smoke:
        bench = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        want = {m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]}
        missing = want ^ set(result["metrics"])
        if missing or not result["correct"]:
            print(f"perfbench smoke: metric names differ from BENCHMARK.json: {sorted(missing)}; "
                  f"correct={result['correct']}", file=sys.stderr)
            return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
