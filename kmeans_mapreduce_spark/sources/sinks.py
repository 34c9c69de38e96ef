"""Sinks: partitioned cluster CSV dump + cluster-size report.

Reference parity:
  * CSV sink (reference main/client/client.go:236-256): one
    ``cluster_<i>.csv`` per cluster, rows ``[id, coord...]``.  Spark-first
    replacement is a single distributed ``partitionBy('cluster_id')``
    write — one directory per cluster, arbitrarily many part files, no
    driver collect (the reference materializes every cluster member on
    the driver, which is exactly what cannot happen at 100 TB).
  * Size report (client.go:211-214, master.go:213-227): cluster sizes +
    convergence message.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_clusters_csv(assigned: DataFrame, path: str, mode: str = "overwrite") -> None:
    """assigned[id, features, cluster_id] -> path/cluster_id=<i>/*.csv.

    Each row is one line ``id,c0,c1,...``, the coordinates in scientific
    notation like the reference's FormatFloat 'E' (client.go:247) via
    format_string.  The line is built as ONE string column and written
    by the CSV writer with a separator no line contains, so no value is
    quoted and no job runs to learn the width.  A null id writes an
    empty first field.  A row whose features array is null writes its
    id alone (the per-coordinate writer this replaced wrote one ``NULL``
    per coordinate).
    """
    line = F.concat_ws(
        ",",
        F.coalesce(F.col("id").cast("string"), F.lit("")),
        F.transform("features", lambda x: F.format_string("%E", x)),
    )
    (
        assigned.select("cluster_id", line.alias("line"))
        .write.mode(mode)
        .partitionBy("cluster_id")
        .option("header", False)
        .option("sep", "\u0001")
        .csv(path)
    )


def cluster_size_report(assigned: DataFrame) -> DataFrame:
    """[cluster_id, size] sorted by cluster id (client.go:211-214)."""
    return (
        assigned.groupBy("cluster_id")
        .agg(F.count("*").alias("size"))
        .orderBy("cluster_id")
    )


def convergence_message(iterations: int, delta: float, max_iter: int, tol: float) -> str:
    """The reference's human-readable stop report (master.go:213-227)."""
    if delta < tol:
        return (
            f"Algorithm converged to a solution after {iterations} iterations "
            f"(delta {delta:.6f} < {tol})"
        )
    return f"Algorithm terminated after reaching the maximum number of iterations ({max_iter})"


def write_jsonl_shards(
    docs: DataFrame,
    path: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> DataFrame:
    """Training-export sink: the corpus as ``shard=<i>/*.json`` JSONL
    files in the deterministic hash-shuffled order of
    pipeline_shuffle_shards, plus a returned per-shard manifest frame
    (the row a dataloader config consumes).

    Order and shard assignment derive from md5(id) — reproducible on
    any engine/partitioning (see pipeline_queries4.pipeline_shuffle_shards).
    The plan is exactly ONE shuffle: repartition on shard, sort WITHIN
    partitions by the digest (no global sort), stream to writers.
    partitionBy('shard') keeps file->shard mapping explicit on disk.

    Spark's json writer emits JSON Lines natively (one object per row)
    — the standard LLM-training interchange format.  At 100 TB, set
    n_shards to O(corpus/target_file_size) and add
    ``maxRecordsPerFile`` if shards must split into bounded files.
    """
    h = F.md5(F.col(id_col).cast("string"))
    shard = (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % n_shards)
    staged = (
        docs.withColumn("shard", shard)
        .withColumn("sort_key", h)
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "sort_key", F.col(id_col))
        .drop("sort_key")
    )
    staged.write.mode(mode).partitionBy("shard").json(path)
    spark = docs.sparkSession
    manifest = (
        spark.read.json(path)
        .groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(F.count("*").alias("n_docs"), F.sum(F.col(id_col)).alias("id_checksum"))
        .orderBy("shard")
    )
    manifest.coalesce(1).write.mode(mode).json(f"{path}_manifest")
    return manifest
