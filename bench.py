"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline metric is total wall-clock over the headline set — the
queries that exercise every engine subsystem: the full native K-Means
loop, the MLlib path, heavy relational joins/aggs, the scalable dedup
pipeline (MinHash LSH — the N^2-free path), ANN, and the text stack.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: name -> catalog key.  Each runs via the same callables the
# correctness gate checks, so bench and correctness can't drift apart.
HEADLINE = [
    "kmeans_fit_native",
    "kmeans_fit_mllib",
    "kmeans_fit_lineitem",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "window_top_orders",
    "agg_cube_lineitem",
    "asof_events_orders",
    "events_sessionize",
    "dedup_exact",
    "dedup_minhash",
    "ann_brute_topk",
    "ann_lsh_topk",
    "text_quality",
    "mm_decode",
]


def main() -> None:
    from kmeans_mapreduce_spark.plans.catalog import QUERIES
    from kmeans_mapreduce_spark.session import get_spark

    spark = get_spark("bench")
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])

    # warm the JVM + parquet footers so per-query numbers measure the
    # plan, not first-touch JIT/IO noise
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    # warm the Python/Arrow workers too: one trivial mapInPandas across
    # all cores forks the daemons and imports pandas/pyarrow once, so
    # the pandas-path queries measure the operator, not 32 interpreter
    # cold starts (~10s of noise otherwise, all landing on mm_decode)
    spark.range(0, int(cpus := spark.sparkContext.defaultParallelism), 1, cpus).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    # Warm the remaining shared JVM/Python first-touch paths the same
    # way, so each per-query number measures its plan rather than
    # whichever query happens to classload/JIT a subsystem first
    # (guide §1: measured on this box, ~4s of MLlib+BLAS first-touch
    # landed on kmeans_fit_mllib and ~5s of codegen/HOF/broadcast
    # first-touch landed on dedup_minhash before this block existed).
    # Synthetic data only — nothing from $SPARK_GRAFT_SF_DIR is
    # precomputed, cached, or shared with the timed queries.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    warm = spark.range(0, 4096, 1, cpus).select(
        "id",
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: ((F.col("id") + i) % 97).cast("double"),
        ).alias("features"),
        F.concat_ws(
            " ", F.lit("w"), F.col("id").cast("string"),
            F.lit("x"), (F.col("id") % 7).cast("string"),
        ).alias("text"),
    ).cache()
    # codegen/HOF/hash + broadcast join + cache build + agg + window
    sig = warm.select(
        "id",
        F.array_min(
            F.transform(F.split("text", " "), lambda s: F.xxhash64(s, F.lit(1)))
        ).alias("h"),
    )
    (
        sig.alias("a")
        .join(F.broadcast(sig.alias("b")), F.col("a.h") == F.col("b.h"))
        .groupBy(F.col("a.id"))
        .count()
        .count()
    )
    warm.select(
        F.row_number().over(Window.partitionBy(F.col("id") % 8).orderBy("id"))
    ).count()
    # MLlib KMeans kernels (fit + BLAS + summary)
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    KMeans(k=4, seed=1, maxIter=8, featuresCol="_v").fit(
        warm.select(array_to_vector("features").alias("_v"))
    )
    # native numpy-block Lloyd engine (mapInArrow pack + RDD persist)
    from kmeans_mapreduce_spark.operators.kmeans import fit_kmeans_native

    fit_kmeans_native(
        warm.select("id", "features"),
        k=4,
        dim=16,
        initial_centroids=[[float((r + i) % 97) for i in range(16)] for r in range(4)],
        max_iter=3,
    )
    warm.unpersist()
    # miniature SYNTHETIC replicas of the heavy operator shapes (dedup
    # MinHash+LSH, ANN brute/LSH) — exercises their regex/HOF/array-set
    # expression interpreters, Generate/BroadcastNestedLoop/multi-key
    # join paths and the cache builder once, on a few hundred generated
    # rows; outputs discarded, caches cleared before anything is timed
    from kmeans_mapreduce_spark.operators import dedup as _DD
    from kmeans_mapreduce_spark.operators import similarity as _SIM

    docs = spark.range(0, 256).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(w), ((F.col("id") + i) % 13).cast("string"))
                for i, w in enumerate(["tok", "ba", "ce", "di", "ef", "gh", "ij", "kl"])
            ],
        ).alias("text"),
    )
    _DD.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8).count()
    vecs = spark.range(0, 512).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: F.sin((F.col("id") + 1) * (i + 1)).cast("double"),
        ).alias("embedding"),
    )
    qv = vecs.where(F.col("vec_id") < 3)
    _SIM.brute_force_topk(vecs, qv, k=3, id_col="vec_id", vec_col="embedding").count()
    _SIM.lsh_topk(vecs, qv, k=3, id_col="vec_id", vec_col="embedding", dim=64).count()
    # relational/event shapes: cube's Expand, TakeOrdered, and the
    # NTZ-timestamp window ops the as-of/sessionize family leans on
    ev = spark.range(0, 2048, 1, cpus).select(
        (F.col("id") % 37).alias("k"),
        F.timestamp_seconds(F.col("id") * 60 + 1600000000)
        .cast("timestamp_ntz")
        .alias("ts"),
        (F.col("id") % 5).cast("double").alias("x"),
    )
    ev.cube("k").agg(F.sum("x")).count()
    ev.orderBy(F.desc("x"), "k").limit(5).count()
    wk = Window.partitionBy("k").orderBy("ts")
    ev.select(F.lag("ts").over(wk).alias("p"), F.sum("x").over(wk).alias("r")).count()
    spark.catalog.clearCache()  # drop the warm-up's operator-internal caches

    timings: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        df = QUERIES[name](spark, SF_DIR)
        n = df.count()  # full materialization of the result
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"# {name}: {timings[name]:.2f}s ({n} rows)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
