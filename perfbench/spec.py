"""Names, units and the layer map of every metric the benchmark prints.

End-to-end metrics carry generic names so that every workload reports
every one of them; ``E2E_MEANING`` says what each means per workload,
in the names the human-readable lines use.  ``job_s``, ``primary_s``
and ``secondary_s`` are wall times of public calls, so parallelism and
task balance show in them.  ``cpu_s`` is their companion: CPU seconds
of the process tree over every timed call of the round, which host
steal barely moves (stolen time is charged to no process).

The pipeline compares its corpus job (dedup, then the index build) and
prints the probe latency without comparing it: a probe is mostly
driver-side round trips, and under host steal (4-14% of the cores)
its median read up to 60% slower, to an IQR/median of 0.33 over nine
seeds where dedup and the build stayed near 0.15.  Redoing stolen
rounds did not help: every round runs cheaper than the one before it
(CPU seconds per round 37, 29, 27, 25 as the JVM compiles more code),
so a redone round is not comparable with a first one.
"""

from __future__ import annotations

#: the workloads BENCHMARK.json lists, then the split-layout control of
#: clustering's skewed fit, for runs by hand
WORKLOAD_NAMES = ("clustering", "pipeline", "fit_blocks")

#: end-to-end metrics of the final JSON line (untraced runs)
E2E_UNITS = {"setup_s": "s", "job_s": "s", "cpu_s": "s", "primary_s": "s", "secondary_s": "s"}

#: what each generic end-to-end metric is, per workload
E2E_MEANING = {
    "clustering": {"job_s": "job_s", "cpu_s": "cpu_s", "primary_s": "fit_s", "secondary_s": "fit_mllib_s"},
    "pipeline": {"job_s": "corpus_job_s", "cpu_s": "cpu_s", "primary_s": "dedup_s", "secondary_s": "ivf_build_s"},
    "fit_blocks": {"job_s": "fit_job_s", "cpu_s": "cpu_s", "primary_s": "fit_s", "secondary_s": "fit_mllib_s"},
}

#: the named end-to-end numbers printed as human-readable lines
NAMED_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "cpu_s": "s",
    "job_fit_s": "s",
    "init_s": "s",
    "fit_s": "s",
    "fit_mllib_s": "s",
    "fit_job_s": "s",
    "corpus_job_s": "s",
    "dedup_s": "s",
    "dedup_recall": "ratio",
    "ivf_build_s": "s",
    "ivf_query_p50_s": "s",
    "ivf_query_p90_s": "s",
    "ivf_recall_at_10": "ratio",
    "ops_failed_frac": "ratio",
}

#: per-layer metrics of the traced run; a layer the workload does not
#: exercise reports 0
LAYER_UNITS = {
    "ingest.s": "s",
    "ingest.rows_per_s": "1/s",
    "init.s": "s",
    "init.jobs": "count",
    "init.cpu_s": "s",
    "pack.s": "s",
    "pack.python_s": "s",
    "pack.task_skew": "ratio",
    "lloyd.passes": "count",
    "lloyd.pass_s": "s",
    "lloyd.python_s": "s",
    "lloyd.driver_gap_s": "s",
    "lloyd.pass_task_skew": "ratio",
    "lloyd.bytes_per_pass": "bytes",
    "cache.peak_mb": "MB",
    "mllib.iterations": "count",
    "mllib.jobs": "count",
    "mllib.task_skew": "ratio",
    "report.s": "s",
    "sink.s": "s",
    "sink.bytes": "bytes",
    "dedup.candidates": "count",
    "dedup.verify_ratio": "ratio",
    "dedup.shuffle_mb": "MB",
    "dedup.max_task_s": "s",
    "ivf.write_cpu_s": "s",
    "ivf.write_task_skew": "ratio",
    "ivf.query_driver_s": "s",
    "ivf.query_rows_read": "count",
    "oracle.lloyd_s": "s",
    "jobs": "count",
    "tasks_failed": "count",
    "gc_s": "s",
    "spill_mb": "MB",
    "steal_s": "s",
    "load1": "load",
    "trace_overhead_frac": "ratio",
}

#: layer metric -> (end-to-end metric it should move, workload and part).
#: In the clustering workload the client-job part (CSV ingest .. sink,
#: one fused single-block fit) runs first, then the skewed-layout fit;
#: ``fit_blocks`` (by hand) is that fit's evenly split control.
LAYER_MAP = {
    "ingest.s": ("job_s", "clustering: client job"),
    "ingest.rows_per_s": ("job_s", "clustering: client job"),
    "init.s": ("job_s (init_s, the largest step)", "clustering: client job"),
    "init.jobs": ("job_s (init_s); 2k-1 jobs today", "clustering: client job"),
    "init.cpu_s": ("job_s (init_s)", "clustering: client job"),
    "pack.s": ("primary_s (fit_s); time before the first pass", "clustering: skewed fit"),
    "pack.python_s": ("primary_s (fit_s); executor run time minus JVM CPU time", "clustering: skewed fit"),
    "pack.task_skew": ("primary_s (fit_s); max task time / mean task time", "clustering: skewed fit"),
    "lloyd.passes": ("count of pass jobs, incl. the final report pass", "clustering: skewed fit"),
    "lloyd.pass_s": ("primary_s (fit_s); median pass job", "clustering: skewed fit; fit_blocks"),
    "lloyd.python_s": ("primary_s (fit_s)", "clustering: skewed fit; fit_blocks"),
    "lloyd.driver_gap_s": ("primary_s (fit_s); time between pass jobs", "clustering: skewed fit; fit_blocks"),
    "lloyd.pass_task_skew": ("primary_s (fit_s); ~task count when skewed, ~1 split", "clustering: skewed fit"),
    "lloyd.bytes_per_pass": ("computed as rows x dim x 8, not measured", "clustering: skewed fit"),
    "cache.peak_mb": ("peak cached RDD bytes, from block updates", "clustering"),
    "mllib.iterations": ("secondary_s (fit_mllib_s); k-means|| varies with layout", "clustering: skewed fit"),
    "mllib.jobs": ("secondary_s (fit_mllib_s)", "clustering: skewed fit"),
    "mllib.task_skew": ("secondary_s (fit_mllib_s)", "clustering: skewed fit"),
    "report.s": ("job_s", "clustering: client job"),
    "sink.s": ("job_s", "clustering: client job"),
    "sink.bytes": ("job_s", "clustering: client job"),
    "dedup.candidates": ("primary_s (dedup_s); from a traced-only candidates call", "pipeline"),
    "dedup.verify_ratio": ("primary_s (dedup_s); pairs kept / candidates", "pipeline"),
    "dedup.shuffle_mb": ("primary_s (dedup_s)", "pipeline"),
    "dedup.max_task_s": ("primary_s (dedup_s)", "pipeline"),
    "ivf.write_cpu_s": ("secondary_s (ivf_build_s)", "pipeline"),
    "ivf.write_task_skew": ("secondary_s (ivf_build_s)", "pipeline"),
    "ivf.query_driver_s": ("ivf_query_p50_s (printed, not compared); probe wall outside any job", "pipeline"),
    "ivf.query_rows_read": ("ivf_query_p50_s (printed, not compared); shows partition pruning", "pipeline"),
    "oracle.lloyd_s": ("reference only: the numpy Lloyd oracle on the skewed fit", "clustering"),
    "jobs": ("traced section, timed calls only", "all"),
    "tasks_failed": ("traced section, timed calls only", "all"),
    "gc_s": ("traced section, timed calls only", "all"),
    "spill_mb": ("traced section, timed calls only", "all"),
    "steal_s": ("host steal over the whole run, from /proc/stat", "all"),
    "load1": ("1-minute load average at the end of the run", "all"),
    "trace_overhead_frac": ("traced / untraced job_s - 1; reads low: the traced round runs second, on a JVM "
                            "the untraced round warmed", "all"),
}
