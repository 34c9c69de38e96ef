"""End-to-end clustering CLI: the reference client's full flow as one
scriptable command.

The reference client (client.go:28-120) walks: list the dataset dir ->
pick a dataset -> validate k (0 < k <= #rows, client.go:188-205) ->
send points -> receive clusters + convergence message -> write one CSV
per cluster (client.go:236-256) and the HTML plots (plot/plotter.go).
This CLI reproduces that flow Spark-natively and NON-interactively:
where the reference blocks on stdin (client.go:165-169's Scanf menu),
this prints the same numbered menu and exits asking for ``--choice`` —
scriptable, CI-able, no hidden prompt.

    python -m kmeans_mapreduce_spark.cli data/points.csv --dim 4 --k 3 \
        --out /tmp/clusters --plots /tmp/plots
    python -m kmeans_mapreduce_spark.cli data/  # prints the menu
    python -m kmeans_mapreduce_spark.cli data/ --choice 2 --dim 4 --k 3 ...
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="kmeans-mapreduce-spark",
        description="cluster a numeric CSV/parquet dataset (reference client flow)",
    )
    p.add_argument("dataset", help="CSV/parquet file, or a directory to list")
    p.add_argument("--choice", type=int, help="menu number when dataset is a directory")
    p.add_argument("--k", type=int, help="number of clusters (0 < k <= #rows)")
    p.add_argument("--dim", type=int, help="point dimensionality (required for CSV)")
    p.add_argument("--out", help="output dir for the per-cluster CSV sink")
    p.add_argument("--plots", help="output dir for scatter + size SVG plots")
    p.add_argument(
        "--engine",
        choices=("native", "mllib"),
        default="native",
        help="native = reference-semantics Lloyd loop; mllib = production path",
    )
    p.add_argument("--max-iter", type=int, default=None)
    p.add_argument("--tol", type=float, default=None)
    p.add_argument("--seed", type=int, default=42)
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    from pyspark.sql import functions as F

    from kmeans_mapreduce_spark.operators.kmeans import (
        DELTA_THRESHOLD,
        ITERATION_THRESHOLD,
        _aggregate,
        assign_clusters_broadcast,
        fit_kmeans_mllib,
        fit_kmeans_native,
    )
    from kmeans_mapreduce_spark.sources.ingest import (
        list_datasets,
        pick_dataset,
        read_points_csv,
    )
    from kmeans_mapreduce_spark.sources.sinks import write_clusters_csv

    args = _build_parser().parse_args(argv)
    own_session = spark is None
    if own_session:
        from kmeans_mapreduce_spark.session import get_spark

        spark = get_spark("kmeans-cli")
    try:
        dataset = args.dataset
        # directory -> numbered menu (the client.go:151-170 listing,
        # non-blocking: no stdin, resolve via --choice)
        fs_path = spark._jvm.org.apache.hadoop.fs.Path(dataset)  # noqa: SLF001
        fs = fs_path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
        if fs.exists(fs_path) and fs.getFileStatus(fs_path).isDirectory():
            listing = list_datasets(spark, dataset)
            if args.choice is None:
                print("datasets:")
                for r in listing.collect():
                    print(f"  {r['choice']}) {r['name']}  ({r['size_bytes']} bytes)")
                print("re-run with --choice N to select one")
                return 2
            dataset = dataset.rstrip("/") + "/" + pick_dataset(listing, args.choice)

        # argument-combination errors are rejected BEFORE any work runs
        # (no partial outputs on disk for a knowable-bad invocation)
        if args.plots and args.engine != "native":
            print("--plots requires --engine native", file=sys.stderr)
            return 2
        if dataset.endswith(".parquet"):
            pts = spark.read.parquet(dataset).select("id", "features")
        else:
            if args.dim is None:
                print("--dim is required for CSV input", file=sys.stderr)
                return 2
            pts = read_points_csv(spark, dataset, dim=args.dim)
        pts = pts.cache()
        # one job builds the cache and returns the row count and the
        # width of the first row
        stats = _aggregate(
            pts.select("features", F.monotonically_increasing_id().alias("pos")),
            n=F.count(F.lit(1)),
            width=F.min_by(F.size("features"), "pos"),
        )
        n = stats["n"]
        # k validation = client.go:188-205 (reject, don't re-prompt);
        # runs before dim inference so an empty dataset gets this
        # message, not a missing width
        if args.k is None or not 0 < args.k <= n:
            print(f"--k must satisfy 0 < k <= {n} (rows)", file=sys.stderr)
            return 2
        dim = args.dim or stats["width"]

        # cluster sizes come from the fit itself; the sink and the plots
        # label every row (a lazy assignment, run only by them)
        if args.engine == "mllib":
            model, assigned = fit_kmeans_mllib(
                pts,
                k=args.k,
                seed=args.seed,
                max_iter=args.max_iter
                if args.max_iter is not None
                else ITERATION_THRESHOLD,
            )
            sizes = model.summary.clusterSizes
            centroids = None
            message = "MLlib KMeans fit complete"
        else:
            res = fit_kmeans_native(
                pts,
                k=args.k,
                dim=dim,
                seed=args.seed,
                tol=args.tol if args.tol is not None else DELTA_THRESHOLD,
                max_iter=args.max_iter
                if args.max_iter is not None
                else ITERATION_THRESHOLD,
                report_final=True,
            )
            sizes = res.final_counts
            assigned = assign_clusters_broadcast(pts, res.centroids)
            centroids = res.centroids
            message = res.message()

        # the client.go:211-214 size report + master.go:213-227 message
        for cid, size in enumerate(sizes):
            if size:
                print(f"cluster {cid}: {size} points")
        print(message)

        if args.out:
            write_clusters_csv(assigned, args.out)
            print(f"wrote per-cluster CSV under {args.out}")
        if args.plots:
            from kmeans_mapreduce_spark.sources.plots import write_cluster_plots

            write_cluster_plots(assigned, centroids, dim, args.plots)
            print(f"wrote scatter.svg + sizes.svg under {args.plots}")
        return 0
    finally:
        pts_ = locals().get("pts")
        if pts_ is not None:
            pts_.unpersist()
        if own_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
