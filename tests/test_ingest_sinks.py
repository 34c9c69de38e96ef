"""Ingest + sink tests (reference S2/S3/S5 parity)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.sources.ingest import (
    points_from_columns,
    points_from_embeddings,
    read_points_csv,
)
from kmeans_mapreduce_spark.sources.sinks import (
    cluster_size_report,
    convergence_message,
    write_clusters_csv,
)


def test_read_points_csv_strict(spark, tmp_path):
    p = tmp_path / "pts.csv"
    p.write_text("1.0,2.0\n3.5,4.5\n-1e3,0.25\n")
    df = read_points_csv(spark, str(p), dim=2)
    rows = df.collect()
    assert len(rows) == 3
    assert all(len(r["features"]) == 2 for r in rows)
    assert len({r["id"] for r in rows}) == 3  # unique ids


def test_read_points_csv_failfast_on_garbage(spark, tmp_path):
    """Parity with reference utils.go:29: non-numeric field aborts."""
    p = tmp_path / "bad.csv"
    p.write_text("1.0,2.0\nnot_a_number,4.5\n")
    df = read_points_csv(spark, str(p), dim=2, strict=True)
    with pytest.raises(Exception):
        df.collect()


def test_points_from_columns(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pts = points_from_columns(li, ["l_quantity", "l_extendedprice"], id_col="l_orderkey")
    r = pts.first()
    assert len(r["features"]) == 2


def test_points_from_embeddings_dim_enforced(spark, sf_dir):
    ok = points_from_embeddings(spark, sf_dir, dim=64)
    assert ok.count() > 0
    bad = points_from_embeddings(spark, sf_dir, dim=63)
    with pytest.raises(Exception):  # raise_error fires on every row
        bad.collect()


def test_cluster_csv_sink(spark, tmp_path, points):
    from kmeans_mapreduce_spark.operators.kmeans import assign_clusters, farthest_point_init

    cents = farthest_point_init(points, 3, seed=42)
    assigned = assign_clusters(points, cents)
    out = str(tmp_path / "clusters")
    write_clusters_csv(assigned, out)
    dirs = sorted(glob.glob(f"{out}/cluster_id=*"))
    assert len(dirs) == 3
    # every point lands exactly once
    back = spark.read.csv(out)
    assert back.count() == points.count()


def _write_clusters_csv_per_column(assigned, path: str) -> None:
    """The per-coordinate cluster CSV writer `write_clusters_csv`
    replaced, kept unchanged as its byte reference: a job to learn the
    width, then one format_string column per coordinate."""
    dim = len(assigned.select("features").head()["features"])
    cols = [F.col("id")] + [
        F.format_string("%E", F.col("features")[i]).alias(f"c{i}") for i in range(dim)
    ]
    (
        assigned.select(F.col("cluster_id"), *cols)
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .option("header", False)
        .csv(path)
    )


def _sink_files(path: str) -> dict:
    """{(cluster dir, part number, file suffix): bytes} of a sink."""
    out = {}
    for f in glob.glob(f"{path}/cluster_id=*/part-*"):
        d, name = f.split("/")[-2:]
        part, _, rest = name[len("part-"):].partition("-")
        out[(d, part, rest.partition(".")[2])] = open(f, "rb").read()
    return out


def test_cluster_csv_sink_bytes_match_per_column_writer(spark, tmp_path):
    """One line column writes the same files, byte for byte, as the
    per-coordinate writer it replaced: NaN, +-inf, -0.0, negative and
    tiny values, a null coordinate and a null id.  A null features
    array is the one difference, and it is pinned: the id alone, where
    the old writer wrote one NULL per coordinate."""
    nan, inf = float("nan"), float("inf")
    rows = [
        (1, [1.5, -2.5e-300, 0.0], 0),
        (2, [nan, -0.0, -7.25], 1),
        (3, [-inf, inf, 1e300], 0),
        (None, [1.0, 2.0, -3.0], 2),
        (5, [None, 3.0, 4.0], 1),
        (-6, [-1.0, -1e-5, 123456789.0], 2),
    ]
    df = spark.createDataFrame(rows, "id long, features array<double>, cluster_id int")
    df = df.repartition(2, "id")
    old, new = str(tmp_path / "old"), str(tmp_path / "new")
    _write_clusters_csv_per_column(df, old)
    write_clusters_csv(df, new)
    want, got = _sink_files(old), _sink_files(new)
    assert got == want
    assert sorted({d for d, _, _ in got}) == ["cluster_id=0", "cluster_id=1", "cluster_id=2"]
    assert {suffix for _, _, suffix in got} == {"c000.csv"}

    null = spark.createDataFrame([(7, None, 0)], "id long, features array<double>, cluster_id int")
    write_clusters_csv(null, str(tmp_path / "null"))
    assert list(_sink_files(str(tmp_path / "null")).values()) == [b"7\n"]


def test_cluster_size_report(points):
    from kmeans_mapreduce_spark.operators.kmeans import assign_clusters, farthest_point_init

    cents = farthest_point_init(points, 4, seed=42)
    rep = cluster_size_report(assign_clusters(points, cents)).collect()
    assert sum(r["size"] for r in rep) == points.count()
    assert [r["cluster_id"] for r in rep] == sorted(r["cluster_id"] for r in rep)


def test_convergence_message_wording():
    m = convergence_message(7, 0.003, 100, 0.01)
    assert "converged" in m and "7" in m
    m2 = convergence_message(100, 0.5, 100, 0.01)
    assert "maximum number of iterations" in m2
