"""Incremental (streaming) K-Means: foreachBatch mini-batch Lloyd.

The reference's ingest protocol accumulates chunks until `Last` and then
fits once (client.go:49-89, master.go:71-102).  The streaming-native
generalization keeps a running model and folds each arriving micro-batch
in: one weighted Lloyd step per batch, with exponential forgetting —
the semantics of classic streaming k-means (Spark's old
StreamingKMeans, MacQueen-style sequential updates):

    n_j'  = decay * n_j + batch_count_j
    c_j'  = (decay * n_j * c_j + batch_sum_j) / n_j'

With decay=1.0 and a single batch this is one iteration of the batch
Lloyd loop: bit for bit when the batch is one partition, up to the
order its per-partition sums are added in otherwise (both pinned in
tests/test_streaming_kmeans.py), so the operator degrades gracefully to
the reference's accumulate-then-fit.

Scale shape: per batch, ONE Spark job over the micro-batch only
(`operators.kmeans.cluster_stats`: the fit's `_block_stats` in each of
the batch's own tasks, k x (d+1) partials per task up, merged in
partition order) — state is the k x d centroid matrix plus k counts,
driver-resident, independent of stream length.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from kmeans_mapreduce_spark.operators.kmeans import Centroids, cluster_stats


@dataclass
class StreamingKMeansModel:
    """Running model: centroids + effective per-cluster weights."""

    centroids: Centroids
    decay: float = 1.0
    weights: list[float] = field(default_factory=list)
    batches_seen: int = 0

    def __post_init__(self) -> None:
        if not self.weights:
            self.weights = [0.0] * len(self.centroids)

    def update(self, batch_df: DataFrame) -> bool:
        """Fold one micro-batch into the model (one weighted Lloyd step)
        and return True, or return False for a batch with no rows, which
        leaves the model as it was: no decay, ``batches_seen`` unchanged.

        The batch's per-cluster counts and sums come from ONE Spark job
        (`cluster_stats`, the fit's own `_block_stats`).  Empty clusters
        keep their previous centroid — the reference's empty-cluster
        rule (master.go:581-582) carried over."""
        counts, sums = cluster_stats(batch_df, self.centroids)
        if not counts.sum():
            return False
        for j, (cnt, s) in enumerate(zip(counts.tolist(), sums.tolist())):
            if not cnt:
                self.weights[j] *= self.decay
                continue
            w_old = self.decay * self.weights[j]
            w_new = w_old + cnt
            self.centroids[j] = [
                (w_old * c + sj) / w_new for c, sj in zip(self.centroids[j], s)
            ]
            self.weights[j] = w_new
        self.batches_seen += 1
        return True


def drain_stream_kmeans(
    src: DataFrame,
    to_points,
    initial_centroids: Centroids,
    decay: float = 1.0,
    checkpoint: str | None = None,
    expected_rows: int | None = None,
    timeout_sec: float = 600.0,
) -> StreamingKMeansModel:
    """Drive the incremental model over ANY streaming DataFrame until
    drained: file streams, rate sources, or the synthetic_points
    DataSource's streamReader all plug in here.

    ``to_points(df) -> DataFrame[id, features]`` adapts the raw source
    schema; the model object is driver state exactly like the batch
    loop's centroid list (and like reference master.go's Config).

    Default drain is Trigger.AvailableNow (the reference's until-Last
    framing).  Python DataSourceStreamReader sources fall back to a
    SINGLE batch under availableNow (latestOffset is consulted once —
    same caveat as tests/test_synthetic_source.py), so for bounded
    replay sources pass ``expected_rows``: the stream is then paced
    with a short processingTime trigger and stopped once the model's
    weight mass reaches the target (requires decay == 1.0, where
    weights sum to exactly the rows folded).

    Contract: ``expected_rows`` must be the source's EXACT total row
    count, not a stop-early threshold — with decay=1.0 the weight mass
    equals rows folded, so any overshoot can only mean a micro-batch
    was folded twice (e.g. a fresh model driven against a stale
    checkpoint) and the pacing loop raises instead of returning a
    silently corrupted model."""
    import threading

    model = StreamingKMeansModel(
        [list(c) for c in initial_centroids], decay=decay
    )
    # foreachBatch runs on the streaming thread while the pacing loop
    # below reads model.weights from the caller's thread — serialize
    # both through one lock rather than leaning on the GIL.
    model_lock = threading.Lock()
    # foreachBatch is AT-LEAST-ONCE: after a failure the last
    # uncommitted micro-batch is replayed with the SAME batch_id.  The
    # fold is not idempotent (weights accumulate), so skip ids already
    # folded by this run; cross-run replay against a stale checkpoint
    # is caught by the mass-overshoot check in the pacing loop.
    folded_ids: set[int] = set()

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in folded_ids:
            return
        with model_lock:
            if model.update(to_points(batch_df)):
                folded_ids.add(batch_id)

    writer = src.writeStream.foreachBatch(fold)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if expected_rows is None:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return model
    if decay != 1.0:
        raise ValueError(
            "expected_rows pacing needs decay=1.0 (weight mass == rows)"
        )
    import time

    q = writer.trigger(processingTime="250 milliseconds").start()
    try:
        deadline = time.time() + timeout_sec
        while True:
            with model_lock:
                mass = sum(model.weights)
            if mass > expected_rows:
                # with decay=1.0 the weight mass equals the rows folded;
                # overshoot means rows were folded twice — e.g. a fresh
                # model driven against a checkpoint whose committed
                # offsets no longer match the source (stale checkpoint).
                # Erroring beats returning a silently corrupted model.
                raise RuntimeError(
                    f"folded {mass:.0f} rows but expected exactly "
                    f"{expected_rows} — a micro-batch was double-folded "
                    "(stale checkpoint replay?); model state is invalid"
                )
            if mass >= expected_rows:
                # mass == expected exactly; stop FIRST, then re-check —
                # a fold racing this break could still push mass past
                # expected between the read and the stop, and that
                # overshoot must raise like the in-loop check does.
                # Limitation (documented): an UNDERSTATED expected_rows
                # that lands exactly on a micro-batch boundary is
                # undetectable here — the source's remaining rows were
                # simply never folded, and only the caller knows the
                # true total.  Callers pass the source's exact row count.
                q.stop()
                with model_lock:
                    final_mass = sum(model.weights)
                if final_mass > expected_rows:
                    raise RuntimeError(
                        f"folded {final_mass:.0f} rows but expected "
                        f"exactly {expected_rows} — a micro-batch was "
                        "double-folded (stale checkpoint replay?); "
                        "model state is invalid"
                    )
                break
            # a dead query would otherwise sleep out the whole timeout
            # and mask its real exception behind a TimeoutError
            if not q.isActive:
                exc = q.exception()
                raise RuntimeError(
                    f"stream died after {mass:.0f} of "
                    f"{expected_rows} rows: {exc}"
                )
            if time.time() > deadline:
                raise TimeoutError(
                    f"stream drained {mass:.0f} of "
                    f"{expected_rows} rows in {timeout_sec}s"
                )
            time.sleep(0.25)
    finally:
        q.stop()
    return model


def run_streaming_kmeans(
    spark: SparkSession,
    points_dir: str,
    schema,
    to_points,
    initial_centroids: Centroids,
    decay: float = 1.0,
    checkpoint: str | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingKMeansModel:
    """File-stream face of `drain_stream_kmeans`: drain a parquet
    directory micro-batch by micro-batch (maxFilesPerTrigger controls
    the batch size)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(points_dir)
    return drain_stream_kmeans(
        src,
        to_points,
        initial_centroids,
        decay=decay,
        checkpoint=checkpoint or f"{points_dir}/_skm_ckpt",
    )
