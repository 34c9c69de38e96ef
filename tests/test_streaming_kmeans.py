"""Incremental K-Means: streaming fold must agree with the batch loop.

Pinned properties:
  * decay=1, one batch == exactly one batch-Lloyd iteration (the
    streaming operator degrades to the reference's accumulate-then-fit),
    bit for bit on a one-partition batch;
  * multi-batch drain with decay=1 keeps total weight == row count and
    produces a model whose WSSSE is no worse than the init's;
  * a batch is folded by one Spark job, and an empty one leaves the
    model untouched.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kmeans_mapreduce_spark.operators.kmeans import (
    assign_clusters_broadcast,
    fit_kmeans_native,
)
from kmeans_mapreduce_spark.sources.ingest import points_from_embeddings
from kmeans_mapreduce_spark.streaming.kmeans_stream import (
    StreamingKMeansModel,
    drain_stream_kmeans,
    run_streaming_kmeans,
)

EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def _to_points(df):
    return df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("features"),
    )


def _init(points, k=4):
    return [
        list(r["features"])
        for r in points.where(F.col("id") < k).orderBy("id").collect()
    ]


def _wssse(points, centroids):
    a = assign_clusters_broadcast(points, centroids)
    dim = len(centroids[0])
    cent = [f"array({','.join(repr(float(x)) + 'D' for x in c)})" for c in centroids]
    arr = f"array({','.join(cent)})"
    d2 = (
        f"aggregate(zip_with(features, element_at({arr}, cluster_id + 1), "
        "(x, y) -> (x-y)*(x-y)), 0D, (s, v) -> s+v)"
    )
    return a.select(F.expr(d2).alias("d2")).agg(F.sum("d2")).collect()[0][0]


def test_single_batch_equals_one_lloyd_iteration(spark, sf_dir, points):
    init = _init(points)
    model = StreamingKMeansModel([list(c) for c in init], decay=1.0)
    model.update(points)
    batch = fit_kmeans_native(
        points, k=4, dim=64, initial_centroids=init, max_iter=1
    )
    for got, want in zip(model.centroids, batch.centroids):
        assert got == pytest.approx(want, abs=1e-9)
    assert sum(model.weights) == points.count()
    # one partition: the batch's rows in the order the one-block fit
    # folds them, so the same bits, narrow and wide
    for dim in (3, 64):
        one = points.select("id", F.slice("features", 1, dim).alias("features")).coalesce(1)
        init = _init(one)
        model = StreamingKMeansModel([list(c) for c in init], decay=1.0)
        model.update(one)
        batch = fit_kmeans_native(one, k=4, dim=dim, initial_centroids=init, max_iter=1)
        assert model.centroids == batch.centroids, dim


def test_update_is_one_job_and_skips_an_empty_batch(spark, points):
    """`update` runs one Spark job.  A batch with no rows leaves the
    model as it was: no decay of the weights, ``batches_seen``
    unchanged."""
    model = StreamingKMeansModel(_init(points), decay=0.5)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    assert model.update(points)
    assert len(set(tracker.getJobIdsForGroup()) - before) == 1
    state = ([list(c) for c in model.centroids], list(model.weights), model.batches_seen)
    assert not model.update(points.where(F.col("id") < 0))
    assert (model.centroids, model.weights, model.batches_seen) == state


def test_drain_folds_each_batch_in_one_job(spark, sf_dir, tmp_path, monkeypatch):
    """A drained micro-batch costs one Spark job: the fold runs no
    emptiness check of its own.  Two files, one micro-batch each, the
    second emptied by ``to_points``: it takes its one job, finds no
    rows and leaves the model untouched, so with decay=0.5 the weights
    still sum to the first batch's rows."""
    src = tmp_path / "emb_stream4"
    src.mkdir()
    for i, name in enumerate(("part-000.parquet", "part-001.parquet")):
        shutil.copyfile(f"{sf_dir}/embeddings.parquet", src / name)
        os.utime(src / name, (1_000_000 + i * 100, 1_000_000 + i * 100))
    pts = points_from_embeddings(spark, sf_dir, dim=64)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    folds = []

    def group_jobs():
        return set(tracker.getJobIdsForGroup(sc.getLocalProperty("spark.jobGroup.id")))

    def to_points(df):
        folds.append(group_jobs())
        return _to_points(df).where(~F.input_file_name().endswith("part-001.parquet"))

    update = StreamingKMeansModel.update

    def counted_update(self, batch_df):
        folded = update(self, batch_df)
        folds[-1] = (len(group_jobs() - folds[-1]), folded)
        return folded

    monkeypatch.setattr(StreamingKMeansModel, "update", counted_update)
    model = run_streaming_kmeans(
        spark,
        str(src),
        EMB_SCHEMA,
        to_points,
        _init(pts),
        decay=0.5,
        checkpoint=str(tmp_path / "ckpt4"),
        max_files_per_trigger=1,
    )
    assert folds == [(1, True), (1, False)]
    assert model.batches_seen == 1
    assert sum(model.weights) == pts.count()


def test_streamed_drain_matches_weight_and_improves(spark, sf_dir, tmp_path):
    src = tmp_path / "emb_stream"
    src.mkdir()
    os.link(f"{sf_dir}/embeddings.parquet", src / "part-000.parquet")
    pts = points_from_embeddings(spark, sf_dir, dim=64)
    init = _init(pts)
    model = run_streaming_kmeans(
        spark,
        str(src),
        EMB_SCHEMA,
        _to_points,
        init,
        decay=1.0,
        checkpoint=str(tmp_path / "ckpt"),
    )
    n = pts.count()
    assert model.batches_seen >= 1
    assert sum(model.weights) == pytest.approx(n)
    # a Lloyd step never increases WSSSE relative to the init model
    assert _wssse(pts, model.centroids) <= _wssse(pts, init) + 1e-6


def test_decay_zero_forgets_history(spark, sf_dir, points):
    """decay=0: the model must equal a fresh one-iteration fit on the
    LAST batch alone (total forgetting), regardless of prior batches."""
    init = _init(points)
    m = StreamingKMeansModel([list(c) for c in init], decay=0.0)
    # feed a skewed first batch, then the full corpus
    m.update(points.where(F.col("id") % 3 == 0))
    first_batch_centroids = [list(c) for c in m.centroids]
    m.update(points)
    want = fit_kmeans_native(
        points,
        k=4,
        dim=64,
        initial_centroids=first_batch_centroids,
        max_iter=1,
    )
    for got, exp in zip(m.centroids, want.centroids):
        assert got == pytest.approx(exp, abs=1e-9)
    assert sum(m.weights) == points.count()


def test_multi_batch_drain_conserves_weight(spark, sf_dir, tmp_path):
    """Two source files + maxFilesPerTrigger=1 -> two micro-batches;
    decay=1 total weight must still equal the total row count (the
    replayed file doubles the corpus — this checks batch folding, not
    dedup)."""
    src = tmp_path / "emb_stream2"
    src.mkdir()
    os.link(f"{sf_dir}/embeddings.parquet", src / "part-000.parquet")
    os.link(f"{sf_dir}/embeddings.parquet", src / "part-001.parquet")
    pts = points_from_embeddings(spark, sf_dir, dim=64)
    init = _init(pts)
    model = run_streaming_kmeans(
        spark,
        str(src),
        EMB_SCHEMA,
        _to_points,
        init,
        decay=1.0,
        checkpoint=str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    assert model.batches_seen == 2
    assert sum(model.weights) == pytest.approx(2 * pts.count())


def test_overshoot_raises_instead_of_corrupt_model(spark, sf_dir, tmp_path):
    """expected_rows is a contract, not a stop-early threshold: folding
    MORE rows than the stated source total means a micro-batch was
    double-counted (the at-least-once replay class), and the pacing
    loop must raise rather than hand back a silently corrupted model.
    Forced here by understating expected_rows between two batch
    boundaries (1.5n over a 2-file/2n stream): batch 1 lands at n
    (below target, keep draining), batch 2 lands at 2n > 1.5n."""
    src = tmp_path / "emb_stream3"
    src.mkdir()
    os.link(f"{sf_dir}/embeddings.parquet", src / "part-000.parquet")
    os.link(f"{sf_dir}/embeddings.parquet", src / "part-001.parquet")
    pts = points_from_embeddings(spark, sf_dir, dim=64)
    init = _init(pts)
    n = pts.count()
    reader = (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    with pytest.raises(RuntimeError, match="double-folded"):
        drain_stream_kmeans(
            reader,
            _to_points,
            init,
            checkpoint=str(tmp_path / "ckpt3"),
            expected_rows=n + n // 2,
        )
