"""Capture `.explain("formatted")` for the bench headline queries.

Usage: python tools/capture_plans.py <out_dir> <suffix> [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each headline query (or the
explicit list given; any catalog query name works).  The iterative fit
queries run their loop eagerly and return a local result, so for
``kmeans_fit_native`` and ``kmeans_fit_lineitem`` the tool captures the
plan of the numpy engine's Arrow pack stage instead, and skips the
fits' own frames.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def explain_str(df, mode: str = "formatted") -> str:
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), mode
    )


def _fit_pack_plans(spark, sf_dir: str) -> dict[str, str]:
    """The numpy-block engine's ONLY SQL plans (r15): the one-shot
    mapInArrow pack stage over each fit's input.  After the r15
    optimization the Lloyd iterations are RDD jobs over the cached
    blocks — there is no per-iteration SQL plan any more, so the pack
    stage is what `.explain` can show for the fits' hot path."""
    from pyspark.sql import functions as F

    from kmeans_mapreduce_spark.sources.ingest import (
        points_from_columns,
        points_from_embeddings,
    )

    # plan-shape stand-in for the mapInArrow stage of
    # operators/kmeans._features_blocks over the features alone
    def _pack_stub(batches):
        for batch in batches:
            yield batch

    pieces = "j int, g long, b binary, n long"

    out = {}
    pts = points_from_embeddings(spark, sf_dir, dim=64, parallelize=False)
    out["kmeans_fit_native_pack"] = explain_str(
        pts.select("features").mapInArrow(_pack_stub, schema=pieces)
    )
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "rid", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    zpts = points_from_columns(li, cols, id_col="rid")
    out["kmeans_fit_lineitem_pack"] = explain_str(
        zpts.select("features").mapInArrow(_pack_stub, schema=pieces)
    )
    return out


def main() -> None:
    out_dir = Path(sys.argv[1])
    suffix = sys.argv[2]
    only = sys.argv[3:] or None
    out_dir.mkdir(parents=True, exist_ok=True)

    from kmeans_mapreduce_spark.plans.catalog import QUERIES
    from kmeans_mapreduce_spark.session import get_spark

    import bench

    spark = get_spark("capture-plans")
    names = only or list(bench.HEADLINE)
    for name in names:
        if name in ("kmeans_fit_native", "kmeans_fit_mllib", "kmeans_fit_lineitem"):
            continue  # iterative: the callable returns a local result
        df = QUERIES[name](spark, SF_DIR)
        (out_dir / f"{name}_{suffix}.txt").write_text(explain_str(df))
        print(f"wrote {name}_{suffix}.txt", file=sys.stderr)
    extra: dict[str, str] = {}
    if {"kmeans_fit_native", "kmeans_fit_lineitem"} & set(names):
        # numpy-block engine: the only SQL plan is the pack stage
        extra.update(_fit_pack_plans(spark, SF_DIR))
    for name, text in extra.items():
        (out_dir / f"{name}_{suffix}.txt").write_text(text)
        print(f"wrote {name}_{suffix}.txt", file=sys.stderr)


if __name__ == "__main__":
    main()
