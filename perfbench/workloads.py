"""Workloads: each a closed loop of one client calling the package's
public functions on generated inputs, checking every answer.

A workload is one or more parts.  A part has sizes (full and smoke), a
``prepare`` that loads the generator's truth and precomputes what the
oracles can before timing, a ``warm`` that calls the same public
functions on tiny inputs before timing, a ``prime`` that runs untimed
full-size calls where only those make later rounds steady, and a
``round``: one pass of its client flow, every public call timed in a
span and its output checked after the span closes.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from pathlib import Path

import numpy as np

from perfbench import oracles
from perfbench.trace import tree_cpu_s

# Reference stop rule of the paper's engine (mean centroid movement).
DELTA_THRESHOLD = 0.01


class RoundAborted(Exception):
    """A public call raised; the rest of the round depends on its output."""


class Run:
    """State shared by every part of one run: the session, the spans,
    and the operation counters."""

    def __init__(self, records: Path):
        self.spark = None
        self.spans = None
        self.records = records
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.info: dict[str, float] = {}
        self.cpu_s = 0.0  # CPU seconds of the timed calls, summed


class Context:
    """One workload part's inputs, sizes and oracle memo, over the run."""

    def __init__(self, run: Run, params, inputs: Path, scratch: Path, seed: int):
        self.run, self.p, self.inputs, self.scratch, self.seed = run, params, inputs, scratch, seed
        self.memo: dict = {}

    @property
    def spark(self):
        return self.run.spark

    @property
    def spans(self):
        return self.run.spans

    def timed(self, layer: str, fn, **meta):
        """Run one public call in a span; returns (output, seconds).  The
        CPU seconds it used in this process and its descendants add to
        the round's ``cpu_s``."""
        self.run.attempted += 1
        c0 = tree_cpu_s()
        try:
            with self.spans.span(layer, **meta) as s:
                out = fn()
        except Exception as e:  # a raising call is a failed operation
            self.fail(layer, f"raised {type(e).__name__}: {str(e)[:300]}")
            raise RoundAborted from e
        self.run.cpu_s += tree_cpu_s() - c0
        return out, s["dur_s"]

    def fail(self, layer: str, msg: str | None) -> None:
        if msg:
            self.run.failed += 1
            if len(self.run.errors) < 20:
                self.run.errors.append(f"{layer}: {msg}")


def _import_worker_modules(batches):
    import numpy  # noqa: F401
    import pyarrow  # noqa: F401

    import kmeans_mapreduce_spark.operators.kmeans  # noqa: F401

    yield from batches


def start_workers(spark) -> None:
    """One task per core that imports what the engine's Python workers
    need, so every set-up forks and warms the same worker pool."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInArrow(_import_worker_modules, "id long").count()


def _tiny_points(spark, n: int, dim: int):
    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "id long, features array<double>")


# --------------------------------------------------------------------------
# cluster_job: the reference client flow
# --------------------------------------------------------------------------


class ClusterJob:
    """CSV in, k clusters plus a convergence message out: read and cache
    the points, farthest-point init, the Lloyd fit from those centroids,
    the cluster-size report, and the per-cluster CSV sink."""

    # the reference stop rule: mean centroid movement below 0.01, or 100 passes
    full = {"n": 30000, "dim": 16, "k": 6, "sep": 6.0, "spread": 1.0, "scale": 100.0, "max_iter": 100}
    smoke = dict(full, n=600, dim=4, k=3)

    def prepare(self, ctx):
        ctx.memo["X"] = np.load(ctx.inputs / "truth.npz")["X"]

    def warm(self, ctx):
        from kmeans_mapreduce_spark.operators.kmeans import (
            assign_clusters_broadcast,
            farthest_point_init,
            fit_kmeans_native,
        )
        from kmeans_mapreduce_spark.sources.ingest import read_points_csv
        from kmeans_mapreduce_spark.sources.sinks import cluster_size_report, write_clusters_csv

        spark, scratch, p = ctx.spark, ctx.scratch, ctx.p

        csv = scratch / "warm.csv"
        np.savetxt(csv, np.arange(64 * p["dim"], dtype=float).reshape(64, p["dim"]) % 13, delimiter=",")
        pts = read_points_csv(spark, str(csv), p["dim"]).cache()
        pts.count()
        cent = farthest_point_init(pts, 2, seed=1)
        res = fit_kmeans_native(pts, 2, p["dim"], initial_centroids=cent, max_iter=2, cache_input=False)
        assigned = assign_clusters_broadcast(pts, res.centroids)
        cluster_size_report(assigned).collect()
        write_clusters_csv(assigned, str(scratch / "warm_out"))
        pts.unpersist()

    def round(self, ctx) -> dict:
        from kmeans_mapreduce_spark.operators.kmeans import (
            assign_clusters_broadcast,
            farthest_point_init,
            fit_kmeans_native,
        )
        from kmeans_mapreduce_spark.sources.ingest import read_points_csv
        from kmeans_mapreduce_spark.sources.sinks import cluster_size_report, write_clusters_csv

        p, spark, X = ctx.p, ctx.spark, ctx.memo["X"]
        out_dir = ctx.scratch / "clusters"

        def ingest():
            pts = read_points_csv(spark, str(ctx.inputs / "points.csv"), p["dim"]).cache()
            return pts, pts.count()

        (pts, n), ingest_s = ctx.timed("ingest", ingest, rows=len(X))
        try:
            ctx.fail("ingest", None if n == len(X) else f"{n} rows, want {len(X)}")
            cent, init_s = ctx.timed("init", lambda: farthest_point_init(pts, p["k"], seed=ctx.seed))
            ctx.fail("init", self._check_init(ctx, X, cent))
            # its own layer: this fit runs fused as one single-block job,
            # so its numbers must not mix with the multi-block fit's
            res, fit_s = ctx.timed(
                "job_fit",
                lambda: fit_kmeans_native(
                    pts, p["k"], p["dim"], initial_centroids=cent, max_iter=p["max_iter"], cache_input=False
                ),
            )
            ctx.fail("job_fit", self._check_fit(ctx, X, cent, res))

            def report():
                assigned = assign_clusters_broadcast(pts, res.centroids)
                return assigned, cluster_size_report(assigned).collect()

            (assigned, size_rows), report_s = ctx.timed("report", report)
            want = oracles.sizes(X, np.asarray(res.centroids))
            got = {r["cluster_id"]: r["size"] for r in size_rows}
            ctx.fail("report", None if got == {cid: int(v) for cid, v in enumerate(want) if v} else "cluster sizes differ")
            _, sink_s = ctx.timed("sink", lambda: write_clusters_csv(assigned, str(out_dir)))
            ctx.fail("sink", self._check_sink(out_dir, got))
        finally:
            pts.unpersist()
        ctx.run.info["message"] = res.message()
        # the job is its calls back to back; the oracle checks between
        # them are not part of it
        job_s = ingest_s + init_s + fit_s + report_s + sink_s
        return {"job_s": job_s, "job_fit_s": fit_s, "init_s": init_s}

    @staticmethod
    def _check_init(ctx, X, cent):
        C = np.asarray(cent)
        if C.shape != (ctx.p["k"], X.shape[1]):
            return f"init shape {C.shape}"
        first = np.flatnonzero((X == C[0]).all(axis=1))
        if not len(first):
            return "first centroid is not an input point"
        key = ("init", tuple(C[0]))
        if key not in ctx.memo:
            ctx.memo[key] = X[oracles.farthest_points(X, int(first[0]), ctx.p["k"])]
        return None if np.array_equal(C, ctx.memo[key]) else "farthest-point picks differ"

    @staticmethod
    def _check_fit(ctx, X, cent, res):
        key = ("fit", np.asarray(cent).tobytes())
        if key not in ctx.memo:
            t = time.perf_counter()
            ctx.memo[key] = oracles.lloyd(X, np.asarray(cent), DELTA_THRESHOLD, ctx.p["max_iter"])
            ctx.run.info["oracle.job_lloyd_s"] = time.perf_counter() - t
        C, it = ctx.memo[key]
        if res.iterations != it:
            return f"{res.iterations} iterations, numpy Lloyd took {it}"
        err = oracles.rel_err(res.centroids, C)
        return None if err <= 1e-9 else f"centroids differ by {err:.3g} relative"

    @staticmethod
    def _check_sink(out_dir: Path, sizes: dict):
        got = {}
        for d in out_dir.glob("cluster_id=*"):
            got[int(d.name.split("=", 1)[1])] = sum(f.read_bytes().count(b"\n") for f in d.glob("part-*"))
        return None if got == sizes else f"sink rows per cluster {got}, want {sizes}"


# --------------------------------------------------------------------------
# fit_skewed (in clustering) / fit_blocks: the numpy-block Lloyd engine and MLlib
# --------------------------------------------------------------------------


def _sources_digest(root: Path) -> str:
    """Digest of the package and benchmark sources and the core count:
    what MLlib's partition layout, and with it its result, depends on."""
    h = hashlib.sha256(os.environ.get("SPARK_GRAFT_CPUS", "").encode())
    for pkg in ("kmeans_mapreduce_spark", "perfbench"):
        for f in sorted((root / pkg).rglob("*.py")):
            h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()[:16]


class Fit:
    """fit_kmeans_native from seeded explicit centroids, tol 0 and exactly
    ``max_iter`` passes plus the final report; then fit_kmeans_mllib and
    its cluster-size report on the same frame."""

    # 140000 x 64 float64 is just over two 64 MiB blocks: the smallest
    # input the engine runs as multi-block passes.  Blobs overlap
    # (spread 3) so MLlib never converges before mllib_iter.
    full = {"n": 140000, "dim": 64, "k": 4, "spread": 3.0, "files": 8, "max_iter": 6, "mllib_iter": 5}
    smoke = {"n": 3000, "dim": 8, "k": 3, "spread": 3.0, "files": 8, "max_iter": 3, "mllib_iter": 3}

    def prepare(self, ctx):
        t = np.load(ctx.inputs / "truth.npz")
        X, init = t["X"], t["init"]
        ctx.memo.update(X=X, init=init)
        t0 = time.perf_counter()
        ctx.memo["lloyd"] = oracles.lloyd(X, init, 0.0, ctx.p["max_iter"])
        ctx.run.info["oracle.lloyd_s"] = time.perf_counter() - t0
        # MLlib's cluster sizes from an earlier run of the same sources on
        # these inputs; a changed package starts a record of its own
        digest = _sources_digest(Path(__file__).resolve().parent.parent)
        record = ctx.run.records / f"mllib-{digest}-{ctx.inputs.parent.name}-{ctx.inputs.name}.json"
        ctx.memo["mllib_record"] = record
        if record.exists():
            ctx.memo["mllib_sizes"] = json.loads(record.read_text())

    def warm(self, ctx):
        from kmeans_mapreduce_spark.operators.kmeans import fit_kmeans_mllib, fit_kmeans_native
        from kmeans_mapreduce_spark.sources.sinks import cluster_size_report

        spark, p = ctx.spark, ctx.p

        df = _tiny_points(spark, 256, p["dim"])
        init = [r["features"] for r in df.limit(p["k"]).collect()]
        fit_kmeans_native(df, p["k"], p["dim"], tol=0.0, max_iter=2, initial_centroids=init, report_final=True)
        _, assigned = fit_kmeans_mllib(df, p["k"], seed=1, tol=0.0, max_iter=2)
        cluster_size_report(assigned).collect()

    def round(self, ctx) -> dict:
        from kmeans_mapreduce_spark.operators.kmeans import fit_kmeans_mllib, fit_kmeans_native
        from kmeans_mapreduce_spark.sources.sinks import cluster_size_report

        p, X = ctx.p, ctx.memo["X"]
        df = ctx.spark.read.parquet(str(ctx.inputs / "points"))
        init = ctx.memo["init"].tolist()
        res, fit_s = ctx.timed(
            "fit",
            lambda: fit_kmeans_native(
                df, p["k"], p["dim"], tol=0.0, max_iter=p["max_iter"], initial_centroids=init, report_final=True
            ),
            rows=len(X),
            dim=p["dim"],
        )
        ctx.spans.done[-1]["meta"]["pass_jobs"] = res.iterations + 1  # + the final report pass
        ctx.fail("fit", self._check_fit(ctx, X, res))

        def mllib():
            model, assigned = fit_kmeans_mllib(df, p["k"], seed=ctx.seed, tol=0.0, max_iter=p["mllib_iter"])
            rows = cluster_size_report(assigned).collect()
            return model.summary.numIter, [[r["cluster_id"], r["size"]] for r in rows]

        (iters, sizes), mllib_s = ctx.timed("mllib", mllib)
        ctx.spans.done[-1]["meta"]["iterations"] = iters
        ctx.run.info["mllib.iterations"] = iters
        total = sum(s for _, s in sizes)
        if total != len(X):
            ctx.fail("mllib", f"sizes sum to {total}, want {len(X)}")
        elif "mllib_sizes" not in ctx.memo:
            ctx.memo["mllib_sizes"] = sizes
            record = ctx.memo["mllib_record"]
            record.parent.mkdir(parents=True, exist_ok=True)
            record.write_text(json.dumps(sizes))
        elif sizes != ctx.memo["mllib_sizes"]:
            ctx.fail("mllib", "cluster sizes differ between runs of the same sources")
        return {"fit_job_s": fit_s + mllib_s, "fit_s": fit_s, "fit_mllib_s": mllib_s}

    @staticmethod
    def _check_fit(ctx, X, res):
        C, it = ctx.memo["lloyd"]
        if res.iterations != it:
            return f"{res.iterations} iterations, numpy Lloyd took {it}"
        err = oracles.rel_err(res.centroids, C)
        if err > 1e-9:
            return f"centroids differ by {err:.3g} relative"
        want = oracles.sizes(X, np.asarray(res.centroids)).tolist()
        return None if res.final_counts == want else "final cluster sizes differ"


# --------------------------------------------------------------------------
# pipeline: the LLM-data operators (dedup, IVF build and probe)
# --------------------------------------------------------------------------


class Pipeline:
    """MinHash-LSH near-duplicate pairs over planted documents, then an
    IVF index over clustered embeddings and 10-query probe batches.
    Bypasses the numpy Lloyd engine entirely."""

    full = {
        "docs": 6000,
        "doc_len": 40,
        "vocab": 5000,
        "dup_frac": 0.05,
        "vecs": 40000,
        "vdim": 16,
        # 16 cells x 16 dims keeps each probe's driver-side expression
        # building near 2 s, so a round of three batches stays near 12 s
        "cells": 16,
        "vspread": 0.5,
        "files": 4,
        "n_probe": 4,
        "topk": 10,
        "batch": 10,
        "batches": 3,
    }
    smoke = dict(full, docs=300, vocab=500, vecs=2000, vdim=8, cells=8, batches=1)

    def prepare(self, ctx):
        t = np.load(ctx.inputs / "truth.npz")
        truth = json.loads((ctx.inputs / "truth.json").read_text())
        E, cent = t["E"], t["cent"]
        sh = [oracles.shingles(d) for d in truth["docs"]]
        planted = [(a, b) for a, b in truth["planted"] if oracles.jaccard(sh[a], sh[b]) >= 0.8]
        ctx.memo.update(E=E, cent=cent, shingles=sh, planted=planted, batch_no=0)
        ctx.memo["cells"] = oracles.assign(E.astype(np.float64), cent)

    def warm(self, ctx):
        from kmeans_mapreduce_spark.operators.dedup import minhash_dedup_pairs
        from kmeans_mapreduce_spark.operators.similarity import ivf_topk_from_index, write_ivf_index

        spark, scratch, p, memo = ctx.spark, ctx.scratch, ctx.p, ctx.memo

        docs = spark.createDataFrame(
            [(i, " ".join(f"t{(i * 3 + j) % 17}" for j in range(12))) for i in range(128)], "doc_id long, text string"
        )
        minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8).collect()
        spark.catalog.clearCache()
        # a tiny corpus indexed with the run's own centroids, so the
        # first timed probe reuses the compiled cell expressions
        cent = memo["cent"].tolist()
        vecs = spark.createDataFrame(
            [(i, [float(x) for x in memo["E"][i]]) for i in range(256)], "id long, v array<float>"
        )
        path = str(scratch / "warm_ivf")
        write_ivf_index(vecs, cent, path, id_col="id", vec_col="v")
        ivf_topk_from_index(
            spark, path, vecs.limit(p["batch"]), cent, k=p["topk"], n_probe=p["n_probe"], id_col="id", vec_col="v"
        ).collect()

    def prime(self, ctx):
        """The full-size calls once, untimed, outputs checked: after the
        tiny calls alone the first full-size dedup and index build still
        ran 30-80% slower than later ones, by a different amount each run,
        and without a primer probe the first round used ~20% more CPU.
        Later rounds keep getting cheaper as the JVM compiles more code."""
        self.round(ctx, batches=1)

    def round(self, ctx, batches: int | None = None) -> dict:
        from perfbench.gen import query_batch
        from kmeans_mapreduce_spark.operators.dedup import minhash_dedup_pairs, minhash_lsh_candidates
        from kmeans_mapreduce_spark.operators.similarity import ivf_topk_from_index, write_ivf_index

        p, spark, m = ctx.p, ctx.spark, ctx.memo
        docs = spark.read.parquet(str(ctx.inputs / "docs"))
        pairs, dedup_s = ctx.timed(
            "dedup", lambda: minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8).collect()
        )
        # the call leaves its shingle and signature caches registered;
        # drop them so every round measures the whole dedup
        spark.catalog.clearCache()
        recall, err = self._check_dedup(m, pairs)
        ctx.fail("dedup", err)
        out = {"dedup_s": dedup_s, "dedup_recall": recall}
        if ctx.spans.traced:
            with ctx.spans.span("dedup_candidates", candidates=0, pairs=len(pairs)) as s:
                s["meta"]["candidates"] = minhash_lsh_candidates(docs, "doc_id", "text").count()
            spark.catalog.clearCache()

        emb = spark.read.parquet(str(ctx.inputs / "emb"))
        index = str(ctx.scratch / "ivf_index")
        cent = m["cent"].tolist()
        _, out["ivf_build_s"] = ctx.timed(
            "ivf_build", lambda: write_ivf_index(emb, cent, index, id_col="id", vec_col="v")
        )
        lat, recalls = [], []
        for _ in range(batches or p["batches"]):
            qids, Q = query_batch(ctx.seed, m["batch_no"], m["E"], p["batch"])
            m["batch_no"] += 1
            qdf = spark.createDataFrame(
                [(int(i), q.tolist()) for i, q in zip(qids, Q)], "id long, v array<double>"
            )
            rows, q_s = ctx.timed(
                "ivf_query",
                lambda: ivf_topk_from_index(
                    spark, index, qdf, cent, k=p["topk"], n_probe=p["n_probe"], id_col="id", vec_col="v"
                ).collect(),
            )
            lat.append(q_s)
            rows = [(r["query_id"], r["rank"], r["neighbor_id"], r["score"]) for r in rows]
            ctx.fail(
                "ivf_query",
                oracles.ivf_check(qids, Q, m["E"], m["cells"], m["cent"], p["n_probe"], p["topk"], rows),
            )
            exact = oracles.exact_topk(Q, m["E"], p["topk"])
            found: dict[int, set] = {}
            for qid, _, nid, _ in rows:
                found.setdefault(int(qid), set()).add(nid)
            recalls += [len(found.get(int(q), set()) & e) / p["topk"] for q, e in zip(qids, exact)]
        out["ivf_query_s"] = lat
        out["ivf_recall_at_10"] = float(statistics.mean(recalls))
        out["job_s"] = dedup_s + out["ivf_build_s"] + sum(lat)
        out["corpus_job_s"] = dedup_s + out["ivf_build_s"]
        return out

    @staticmethod
    def _check_dedup(m, pairs):
        sh = m["shingles"]
        for r in pairs:
            a, b, j = int(r["id_a"]), int(r["id_b"]), float(r["jaccard"])
            true = oracles.jaccard(sh[a], sh[b])
            if a >= b or abs(true - j) > 1e-6 or true < 0.8:
                return 0.0, f"pair ({a}, {b}) reports {j}, true Jaccard {true:.6f}"
        got = {(int(r["id_a"]), int(r["id_b"])) for r in pairs}
        found = sum((min(a, b), max(a, b)) in got for a, b in m["planted"])
        recall = found / max(1, len(m["planted"]))
        return recall, None if recall >= 0.9 else f"recall {recall:.3f} of planted pairs"


class Composite:
    """Several parts run back to back as one round, each on its own
    generated inputs; the round's samples are the union of theirs."""

    def __init__(self, **parts):
        self.parts = parts

    def round(self, ctxs: dict) -> dict:
        out = {}
        for name, part in self.parts.items():
            out.update(part.round(ctxs[name]))
        return out


#: workload name -> its parts (input generator name -> part); fit_blocks,
#: run by hand, is the evenly split control of clustering's skewed fit
WORKLOADS = {
    "clustering": Composite(cluster_job=ClusterJob(), fit_skewed=Fit()),
    "pipeline": Composite(pipeline=Pipeline()),
    "fit_blocks": Composite(fit_blocks=Fit()),
}
