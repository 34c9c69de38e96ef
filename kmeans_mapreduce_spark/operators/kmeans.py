"""K-Means: reference-semantics native loop + MLlib fast path.

This is the heart of the reference engine (the whole of master.go /
worker.go).  The Spark-first re-expression:

  reference (Go MapReduce over RPC)             here (numpy blocks on Spark)
  -------------------------------------------   -------------------------------
  getChunks partitioner (master.go:511-547)     _block_count from the exact
                                                row count; above one block,
                                                _features_blocks lays the
                                                blocks out in the scan's
                                                own tasks, cut at global
                                                row boundaries when the
                                                input is skewed
  worker chunk cache (worker.go:54-60)          one read of the input per
                                                fit, shared by the picks
                                                and the passes.  One block:
                                                none, one task reads the
                                                Arrow batches
                                                (_in_one_task); above one
                                                block: the numpy blocks,
                                                persisted once
                                                (_features_blocks)
  Map: classify (worker.go:288-304)             _block_stats: numpy distances
                                                (_sq_dists) and SQL's argmin
                                                (_argmin_rows) in 16k-row
                                                chunks, one task per block
  Combine partial sums (worker.go:169-189)      _block_stats: per-cluster
                                                count and row-order sums of
                                                each block
  shuffleAndSort (master.go:374-411)            none: k x (d+1) partials per
                                                block go to the driver
                                                (_lloyd_pass), merged in
                                                partition order
  one Map + Combine outside a fit               cluster_stats: _block_stats
    (the streaming update's step)               in each task of one job
                                                over the input's own
                                                partitions, merged as
                                                _lloyd_pass merges them
  Reduce recenter (worker.go:307-319) +         _update_centroids: sum/count
    computeNewCentroids (master.go:579-600)     on the driver; an empty
                                                cluster keeps its centroid
  computeDelta / stop rule (master.go:569-576,  mean centroid movement < 0.01
    :213-228, thresholds :55-56)                or 100 iterations
  kMeanspp farthest-point init                  seeded first pick and row
    (master.go:157-190, worker.go:38-129)       count from one aggregate,
                                                then k-1 numpy farthest
                                                picks: in the fit's one
                                                task for one block, else
                                                one job per pick over the
                                                fit's blocks

Scale posture (the part the reference gets wrong at 100 TB):
  * memberships are NEVER collected — assignment stays a lazy column
    (the reference merges every point into driver RAM, master.go:603-638);
  * driver-resident state is exactly the k x d centroid matrix;
  * per iteration the cluster reads the cached features once and ships
    k x (d+1) partials per block to the driver — bytes independent of N
    (one block runs the whole loop in one task).

DataFrame assignment (`assign_clusters`, `assign_clusters_broadcast`)
labels points for reports and catalog queries; its distance and argmin
come from the SQL-text functions in `functions.distance`.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.functions.distance import (
    argmin_sql,
    centroid_dists_sql,
    centroids_sql_literal,
)

DELTA_THRESHOLD = 0.01  # reference master.go:55
ITERATION_THRESHOLD = 100  # reference master.go:56

Centroids = list[list[float]]


def _dist2_to_centroids(features: str, centroids: Centroids) -> Column:
    """array<double> of squared distances to each centroid.

    Centroids are inlined as one SQL literal: k x d doubles folded into
    the plan, the moral equivalent of a broadcast variable but visible
    to Catalyst (constant-folded, codegen'd).  No crossJoin, no shuffle.
    """
    return F.expr(centroid_dists_sql(features, centroids_sql_literal(centroids)))


def assign_clusters(
    points: DataFrame, centroids: Centroids, features_col: str = "features"
) -> DataFrame:
    """Add ``cluster_id``: index of the nearest centroid (reference
    worker.go:288-304 'classify').

    Ties break to the lowest cluster index — array_position returns the
    first occurrence of the min, matching the reference's strict ``<``.
    Squared distance is used (argmin-equivalent, saves k sqrts/row).

    Built as ONE SQL expression string rather than nested Column objects:
    k x d literals as Column trees cost hundreds of py4j round-trips per
    call, which dominates driver time in the iterative loop (~0.3s/iter
    measured).
    """
    dists = centroid_dists_sql(features_col, centroids_sql_literal(centroids))
    return points.withColumn("cluster_id", F.expr(argmin_sql(dists)))


def assign_clusters_broadcast(
    points: DataFrame, centroids: Centroids, features_col: str = "features"
) -> DataFrame:
    """``assign_clusters`` via a broadcast 1-row centroid relation
    instead of plan literals.

    Same result, different plan economics: the generated code is
    centroid-INDEPENDENT, so repeated calls (the Lloyd loop, a final
    report pass) hit Spark's codegen cache, and the centroid matrix
    ships as broadcast data exactly like the reference ships centroids
    after round 0 (master.go:313-333).  Prefer this form whenever the
    input is cached — measured 5-10x faster than re-codegen'ing a
    literal plan against an InMemoryRelation.

    The one-row ``_C`` relation is built from a ``pyarrow.Table``, which
    Spark turns into a local relation that needs no job of its own (a
    Python list would become a ``parallelize`` RDD, scanned by a job of
    ``defaultParallelism`` tasks)."""
    import pyarrow as pa

    matrix = pa.list_(pa.list_(pa.float64()))
    table = pa.table({"_C": pa.array([[list(c) for c in centroids]], type=matrix)})
    cent_df = points.sparkSession.createDataFrame(table)
    assign = F.expr(argmin_sql(centroid_dists_sql(features_col, "_C")))
    return (
        points.crossJoin(F.broadcast(cent_df))
        .withColumn("cluster_id", assign)
        .drop("_C")
    )


def assign_clusters_auto(
    points: DataFrame, centroids: Centroids, features_col: str = "features"
) -> DataFrame:
    """``assign_clusters`` for up to 8 centroids, where plan literals
    keep the scoring stage in whole-stage codegen with no join node;
    ``assign_clusters_broadcast`` above, where a sqrt(N) x d literal
    plan would blow up codegen.  The cutoff is measured: on the 60k-edge
    kNN-graph build at the 100x stress point the relation path's extra
    join pushed the pair-scoring stage out of codegen and ran 9.6x
    slower (964 s vs 101 s, same output)."""
    if len(centroids) <= 8:
        return assign_clusters(points, centroids, features_col)
    return assign_clusters_broadcast(points, centroids, features_col)


def recenter(assigned: DataFrame, dim: int, features_col: str = "features") -> DataFrame:
    """[cluster_id, cnt, mean: array<double>] — one row per non-empty cluster.

    Reference split across worker.go:307-319 (vector sums) and
    master.go:579-600 (divide by count).  Catalyst runs this as
    partial HashAggregate -> Exchange(cid) -> final HashAggregate: the
    combiner/shuffle/reducer of the reference, for free.
    """
    sums = [F.sum(F.col(features_col)[i]).alias(f"s{i}") for i in range(dim)]
    agg = assigned.groupBy("cluster_id").agg(F.count("*").alias("cnt"), *sums)
    mean = F.array(*[(F.col(f"s{i}") / F.col("cnt")) for i in range(dim)]).alias("mean")
    return agg.select("cluster_id", "cnt", mean)


def compute_delta(old: Centroids, new: Centroids) -> float:
    """Mean Euclidean movement between centroid generations
    (reference master.go:569-576).  k x d doubles — driver math."""
    total = 0.0
    for o, n in zip(old, new):
        total += math.sqrt(sum((a - b) * (a - b) for a, b in zip(o, n)))
    return total / len(old)


def farthest_point_init(
    points: DataFrame,
    k: int,
    seed: int = 42,
    features_col: str = "features",
    id_col: str = "id",
) -> Centroids:
    """Deterministic farthest-point (Gonzalez / maxmin) initialization.

    The reference calls this 'kMeanspp' (master.go:157-190) but it is NOT
    D^2-sampling k-means++: first centroid random, then k-1 rounds of
    "farthest point from current centroid set" (worker.go:38-129).

    Runs on the numpy block engine, over ``(id as long, features)``.
    One aggregate (`_seeded_first`, one Spark job) returns the row count
    and the seeded first pick (unlike the reference's unseeded
    rand.Intn, master.go:160).  Its width and the count feed the fit's
    layout rule (`_block_count`):

    * one block: all k-1 picks run inside ONE task that reads the
      input's Arrow batches itself (`_in_one_task`: no pack, no
      persist), keeping ``md = fmin(md, d2(X, newest pick))`` per row
      (`_init_picks`) — 2 Spark jobs in all;
    * otherwise: the input is laid out once as numpy blocks that carry
      the ids (`_features_blocks`) and one job per pick runs over them
      (`_block_picks`; the first materializes them) — k jobs in all,
      plus a per-partition count on a skewed input whose rows are not
      all in one partition.  The blocks are
      released on return and on error.

    A fit that runs its own init (`fit_kmeans_native` without
    ``initial_centroids``) shares the aggregate, the one-block picks and
    the pick jobs, over the read of the input its Lloyd loop then uses.

    Squared distances are `_sq_dists`, the fold `_block_stats` uses.  The
    farthest row has the largest min distance, NaN counting as largest
    (``fmin`` skips NaN like ``array_min``; a descending sort puts NaN
    first), and ties break to the lowest id, so reruns are bit-identical.
    An empty input raises ``ValueError``.
    """
    rows, total, top, last, first = _seeded_first(points, seed, features_col, id_col)
    if k < 2:
        return [first]
    dim = len(first)
    if _block_count(total, dim) == 1:
        return [first] + _in_one_task(
            rows, dim, lambda pieces: _init_picks(*_consolidate(pieces, dim), first, k - 1)
        )
    blocks = _features_blocks(rows, dim, total, top, last)
    try:
        return _block_picks(blocks, first, k)
    finally:
        blocks.unpersist()


def _seeded_first(points: DataFrame, seed: int, features_col="features", id_col="id"):
    """``(rows, n, top, last, first)``: the points as ``(id as long,
    features)`` rows, their count, the row count of their largest
    partition and the index of their last non-empty one
    (`_partition_layout`), and the seeded first farthest-point pick,
    from ONE `_aggregate`.  The first pick is the row with the
    lowest ``(xxhash64(id, seed), id)``, ties to the earlier row.  An
    empty input, or a null features row as the first pick, raises
    ``ValueError``."""
    ids, feats = F.col(id_col).cast("long").alias("i"), F.col(features_col).alias("x")
    stats = _aggregate(
        points.select(
            ids,
            feats,
            F.xxhash64(F.col(id_col), F.lit(seed)).alias("h"),
            # the row position breaks (hash, id) ties to the earlier row
            F.monotonically_increasing_id().alias("pos"),
        ),
        n=F.count(F.lit(1)),
        **_partition_layout(),
        first=F.min_by("x", F.struct("h", "i", "pos")),
    )
    if not stats["n"]:
        raise ValueError("farthest_point_init: the input points are empty")
    if stats["first"] is None:
        raise ValueError("every features row must hold non-null values: the first pick is null")
    first = [float(v) for v in stats["first"]]
    return points.select(ids, feats), stats["n"], stats["top"], stats["last"], first


def _farthest(md, ids) -> int:
    """Index of the farthest row: largest ``md`` with NaN largest, ties
    to the lowest id."""
    import numpy as np

    nan = np.isnan(md)
    top = np.flatnonzero(nan) if nan.any() else np.flatnonzero(md == md.max())
    return int(top[np.argmin(ids[top])])


def _init_picks(ids, X, first, picks: int):
    """The ``picks`` farthest points after ``first`` among the rows
    ``X`` (ids ``ids``) of the whole (one-block) input, in one task."""
    import numpy as np

    out, md, new = [], None, np.asarray([first], dtype=np.float64)
    for _ in range(picks):
        md = _min_d2(X, new, md)
        j = _farthest(md, ids)
        out.append(X[j].tolist())
        new = X[j : j + 1]
    return out


def _block_picks(blocks, first, k: int):
    """``first`` and the k-1 farthest picks after it, one job per pick
    over ``blocks`` (`_features_blocks` of ``(id, features)``).  Each
    task returns its block's farthest row from the centroids so far
    (InitMap and InitCombine, worker.go:232-285), and the driver keeps
    the farthest of those (InitReduce, worker.go:106-129)."""
    import numpy as np

    centroids = [first]
    for _ in range(k - 1):
        C = np.asarray(centroids, dtype=np.float64)
        cands = blocks.mapPartitions(lambda parts: _init_candidate(parts, C)).collect()
        j = _farthest(np.array([c[0] for c in cands]), np.array([c[1] for c in cands]))
        centroids.append(cands[j][2])
    return centroids


def _init_candidate(parts, C):
    """The farthest row of a block's ``(ids, X)`` from centroids ``C``,
    as ``(min distance, id, features)``; nothing for an empty block."""
    for ids, X in parts:
        md = _min_d2(X, C)
        j = _farthest(md, ids)
        yield float(md[j]), int(ids[j]), X[j].tolist()


@dataclass
class KMeansResult:
    centroids: Centroids
    iterations: int
    delta: float
    converged: bool
    wssse_history: list[float] = field(default_factory=list)
    # one extra assignment pass against the FINAL centroids (on demand:
    # fit_kmeans_native(report_final=True)) — per-cluster member counts
    # and per-dimension coordinate sums, the inputs of the size/centroid
    # reports the catalog fits publish.  None unless requested.
    final_counts: list[int] | None = None
    final_sums: list[list[float]] | None = None

    def message(self) -> str:
        from kmeans_mapreduce_spark.sources.sinks import convergence_message

        return convergence_message(
            self.iterations, self.delta, ITERATION_THRESHOLD, DELTA_THRESHOLD
        )


#: target bytes of float64 features per numpy block.  A small input
#: lays out as ONE block (one task per fit: scheduling overhead, not
#: data, dominates tiny inputs); a large one as about one block per
#: ``_BLOCK_TARGET_BYTES``.
_BLOCK_TARGET_BYTES = 64 << 20


def _block_count(total: int, dim: int) -> int:
    """Blocks of about ``_BLOCK_TARGET_BYTES`` of float64 features that
    ``total`` rows of width ``dim`` want: the one layout rule the fit
    (`_features_blocks`) and the init (`farthest_point_init`) share."""
    return max(1, -(-(total * dim * 8) // _BLOCK_TARGET_BYTES))


def _aggregate(df: DataFrame, **aggs: Column) -> dict:
    """The values of the aggregate columns ``aggs`` over ``df``, by name,
    from ONE Spark job at the input's own parallelism: they are observed
    metrics of a no-op write, merged on the driver.  A DataFrame
    ``agg``/``count`` costs two jobs under AQE (its shuffle stage and
    its result stage)."""
    from pyspark.sql import Observation

    obs = Observation()
    metrics = [c.alias(name) for name, c in aggs.items()]
    df.observe(obs, *metrics).write.format("noop").mode("overwrite").save()
    return obs.get


def _partition_layout() -> dict:
    """Aggregate columns read off a ``pos`` column of
    ``monotonically_increasing_id()``, whose upper 31 bits are the row's
    partition index and whose low 33 bits its index in that partition:
    ``top``, the row count of the largest partition, and ``last``, the
    index of the last non-empty partition — the partition of every row
    when ``top`` is the whole count."""
    pos = F.col("pos")
    top = F.max(pos.bitwiseAND(F.lit((1 << 33) - 1))) + 1
    return {"top": top, "last": F.shiftright(F.max(pos), 33)}


def _batch_arrays(batch, dim: int):
    """One Arrow batch as a tuple of contiguous numpy arrays: the int64
    values of each leading column, the (n x dim) float64 matrix of the
    last (array) column, then the batch's row count n.  THE place an
    Arrow batch becomes a feature matrix, so every fit, init, layout
    and `cluster_stats` shares its check: a features row that is null,
    holds a null or holds other than ``dim`` values raises
    ``ValueError`` (flattened, it would shift the rows after it)."""
    import numpy as np
    import pyarrow.compute as pc

    *scalars, col = batch.columns
    values = col.flatten()
    if col.null_count or values.null_count or (pc.list_value_length(col).to_numpy() != dim).any():
        raise ValueError(f"every features row must hold exactly {dim} non-null values")
    ints = [np.ascontiguousarray(s.to_numpy(zero_copy_only=False), dtype=np.int64) for s in scalars]
    X = np.ascontiguousarray(values.to_numpy(zero_copy_only=False), dtype=np.float64)
    return (*ints, X.reshape(len(col), dim), len(col))


def _per_partition(df: DataFrame, dim: int, fn) -> list:
    """The values ``fn(pieces)`` returns for each partition of ``df``,
    in partition order, from ONE Spark job at the input's own
    parallelism: each Python task reads its partition's Arrow batches
    itself (no pack, no persist).  ``pieces`` are the batches'
    `_batch_arrays` of width ``dim``, in row order; each value comes
    back pickled in one binary cell."""
    import pickle

    import pyarrow as pa

    def _run(batches):
        out = fn(_batch_arrays(batch, dim) for batch in batches)
        yield pa.RecordBatch.from_pydict({"out": [pickle.dumps(out)]})

    return [pickle.loads(r["out"]) for r in df.mapInArrow(_run, "out binary").collect()]


def _in_one_task(df: DataFrame, dim: int, fn):
    """`_per_partition` of ``df.coalesce(1)``: the value ``fn`` returns
    over all the rows of ``df``, in ONE Python task."""
    return _per_partition(df.coalesce(1), dim, fn)[0]


def _consolidate(pieces, dim: int):
    """``(*int64s, float64s, n)`` pieces (byte buffers of the block
    builder, or the arrays of `_batch_arrays`) -> ``(*int64 arrays,
    (n x dim) float64 matrix)`` of all their rows, in row order; None
    when they hold no rows.  The one stacker of the init, the fit and the blocks."""
    import numpy as np

    pieces = [p for p in pieces if p[-1]]
    if not pieces:
        return None
    *ints, feats, ns = zip(*pieces)
    cols = [[np.frombuffer(b, dtype=np.int64) for b in col] for col in ints]
    cols.append([np.frombuffer(b, np.float64).reshape(int(n), dim) for b, n in zip(feats, ns)])
    # one piece is used as it is; concatenate keeps row order, the same
    # fold as iterating the batches
    return tuple(c[0] if len(c) == 1 else np.concatenate(c) for c in cols)


def _block(pieces, dim: int):
    """``pieces`` (`_consolidate`) as a block: a list of at most one
    ``(*int64 arrays, feature matrix)`` tuple."""
    part = _consolidate(pieces, dim)
    return [part] if part else []


def _regroup(rows, dim: int):
    """One cut block from its ``(block, global offset, *bytes, n)``
    pieces, sorted by global row offset: its contents do not depend on
    the order the shuffle fetched them in."""
    return _block((r[2:] for r in sorted(rows, key=lambda r: r[1])), dim)


def _cuts(g: int, n: int, total: int, want: int):
    """``(block, lo, hi)``: the rows ``[g, g + n)`` of ``total`` cut at
    the bounds of ``want`` blocks, block j holding the global rows
    ``[j*total//want, (j+1)*total//want)``; ``lo:hi`` is local."""
    lo = 0
    while lo < n:
        j = ((g + lo + 1) * want - 1) // total
        hi = min(n, (j + 1) * total // want - g)
        yield j, lo, hi
        lo = hi


class PartitionCountMismatch(RuntimeError):
    """A partition of the input holds other rows than the count its
    blocks were cut from: the input is not the same on every read."""


def _partition_counts(rows: DataFrame) -> dict:
    """``{partition id: rows}`` of the non-empty partitions of ``rows``,
    from one JVM-only grouped count.  Each row counts as
    ``coalesce(size(features), 0) * 0 + 1``, which keeps the features in
    the scan (the optimizer turns a count of a never-null column into
    ``count(1)`` and prunes the column): the count must see the input
    split as the cut, which reads the features, sees it."""
    one = F.coalesce(F.size(rows.columns[-1]), F.lit(0)) * 0 + 1
    counts = rows.groupBy(F.spark_partition_id().alias("p")).agg(F.sum(one).alias("n"))
    return {r["p"]: r["n"] for r in counts.collect()}


def _features_blocks(rows: DataFrame, dim: int, total: int, top: int, last: int):
    """Lay ``rows`` (``features``, or ``(id as long, features)`` when
    the picks need the ids) out as numpy blocks, in one pass from the
    scan: an RDD of at most one `_consolidate` tuple per partition,
    ``(X,)`` or ``(ids, X)`` with ``X`` the (n_i x dim) float64 matrix,
    persisted MEMORY_AND_DISK.  The first job that reads it materializes
    it (on a skewed input AQE runs the cut's map stage already when the
    RDD is taken); the caller unpersists it.

    ``total`` rows want ``want`` blocks of about ``_BLOCK_TARGET_BYTES``
    (`_block_count`).  The input is skewed iff its largest partition
    (``top`` rows, `_partition_layout`) holds at least twice the fair
    share of ``min(want, slots)`` tasks: a one-partition input above one
    block, or a file whose single row group lands every row in one
    split.  One ``mapInArrow`` packs each Arrow batch (`_batch_arrays`)
    as ``(block, global offset, *bytes, n)`` pieces:

    * Unskewed: one piece per batch; a narrow ``coalesce`` merges whole
      partitions, each in row order, into ``min(partitions, want)``
      blocks.
    * Skewed: each batch is cut at the bounds of ``want`` equal blocks
      of global rows (`_cuts`), from every partition's exact row count
      (`_partition_counts`; when one partition holds every row,
      ``top == total``, it is partition ``last`` and no count job
      runs), and ``repartitionById`` routes each piece
      to its block, where `_regroup` sorts the pieces by offset.  A
      partition whose rows differ from its count raises
      `PartitionCountMismatch`.  Without the cut every Lloyd pass would
      run on one core.

    Either way the persist freezes the layout, so every pass folds the
    same rows in the same order.
    """
    import pyarrow as pa
    from pyspark import StorageLevel, TaskContext

    want = _block_count(total, dim)
    skewed = top >= 2 * total / min(want, rows.sparkSession.sparkContext.defaultParallelism)
    counts = {}
    if skewed:
        # a partition holding every row is the last non-empty one
        counts = {last: total} if top == total else _partition_counts(rows)
    # partition id -> (global offset of its first row, its row count)
    spans, offset = {}, 0
    for p, n in sorted(counts.items()):
        spans[p], offset = (offset, n), offset + n
    names = [f"c{i}" for i in range(len(rows.columns) - 1)] + ["b"]
    binary = [(c, pa.binary()) for c in names]
    schema = pa.schema([("j", pa.int32()), ("g", pa.int64()), *binary, ("n", pa.int64())])

    def _pack(batches):
        i = TaskContext.get().partitionId()
        start, count = spans.get(i, (0, 0))
        g = start
        for batch in batches:
            *arrays, n = _batch_arrays(batch, dim)
            if skewed and g + n > start + count:
                raise PartitionCountMismatch(f"partition {i} holds more than the {count} rows counted")
            for j, lo, hi in _cuts(g, n, total, want) if skewed else [(0, 0, n)]:
                cols = [[j], [g + lo], *([a[lo:hi].tobytes()] for a in arrays), [hi - lo]]
                yield pa.RecordBatch.from_pydict(dict(zip(schema.names, cols)), schema=schema)
            g += n
        if skewed and g != start + count:
            raise PartitionCountMismatch(f"partition {i} holds {g - start} rows, {count} counted")

    ddl = "j int, g long, " + "".join(f"{c} binary, " for c in names) + "n long"
    pieces = rows.mapInArrow(_pack, ddl)
    if skewed:
        blocks = pieces.repartitionById(want, "j").rdd.mapPartitions(lambda r: _regroup(r, dim))
    else:
        blocks = pieces.coalesce(want).rdd.mapPartitions(lambda r: _block((x[2:] for x in r), dim))
    return blocks.persist(StorageLevel.MEMORY_AND_DISK)


#: rows per distance-scratch chunk (`_chunk_dists`): 16k rows x d=64
#: doubles = 8 MB of transposed rows, and 512 KB per (k=4 x 16k)
#: buffer — small enough that the allocator recycles them without mmap
#: round-trips (first-touch page faults on fresh ~100 MB scratch
#: dominated per-pass time at 64 MB blocks).  8k-16k rows were fastest
#: at d=64 (64k: 25% slower).  Chunking is fold-neutral: see
#: `_block_stats`.
_CHUNK_ROWS = 1 << 14


def _block_stats(X, C, k: int, d: int, want_wssse: bool):
    """Per-block Lloyd statistics: (counts[k], sums[k x d], wssse) of
    one (n x d) float64 matrix against centroid matrix C.  ``X=None``
    (empty block) returns exact zeros.

    This is THE per-pass arithmetic, shared verbatim by the distributed
    pass (`_lloyd_pass`) and the single-block in-task loop
    (`_fit_single_block`), so the two execution shapes cannot drift:
      * squared distance accumulates per-dimension left-to-right
        (`_sq_dists`: the fold order of
        `functions.distance.sq_dist_sql`, shared with farthest-point
        init through `_chunk_dists`);
      * the argmin is SQL's (`_argmin_rows`): ties break to the lowest
        cluster index and NaN distances are skipped;
      * per-cluster sums fold rows in block order — sequential
        accumulation (see `_seq_sum_rows`).

    r15 opt (same FP operations in the same order, fewer allocations —
    measured ~109ms -> ~60ms per 600k x 4 pass):
      * the distance loop reuses one scratch buffer via ufunc ``out=``
        instead of allocating two (n x k) temporaries per dimension;
      * per-cluster sums go through `_seq_sum_rows` (np.sum over axis 0
        of a multi-column matrix — verified bit-identical to the
        cumsum fold it replaces) instead of materializing a full
        (n_c x d) cumsum to read its last row.

    r16 opt (bit-identical by construction, pinned by the reference
    test across chunk boundaries): distances + argmin run in
    ``_CHUNK_ROWS``-row chunks (`_chunk_dists`) over small reused
    scratch instead of two full (n x k) matrices.  Per-row work is independent, so
    chunking changes no fold; the wssse fold stays whole-array (the
    chunks only FILL the per-row min-distance vector, the cumsum runs
    over all n as before).  Why: the full-width scratch was ~100 MB of
    fresh mmap per pass per task at 64 MB blocks — first-touch page
    faults every pass on every worker (measured 15.9 s vs 0.7 s
    steady-state for the IDENTICAL call on this guest; on healthy
    hosts still ~10s of ms per pass per task) — while the chunk
    scratch stays allocator-resident and L2-sized.  Each chunk is
    transposed once, so the per-dimension fold reads contiguous memory
    (one core of a 4-core host: 114 -> 73 ms per 70000 x 64 block at
    k=4, same bits).
    """
    import numpy as np

    cnt = np.zeros(k, dtype=np.int64)
    s = np.zeros((k, d), dtype=np.float64)
    if X is None or not X.size:
        return (cnt, s, 0.0)
    n = X.shape[0]
    a = np.empty(n, dtype=np.int64)
    md = np.empty(n, dtype=np.float64) if want_wssse else None
    for lo, hi, Db in _chunk_dists(X, C):
        ac = _argmin_rows(Db)
        a[lo:hi] = ac
        if want_wssse:
            md[lo:hi] = Db[np.arange(hi - lo), ac]
    for c in range(k):
        idx = np.flatnonzero(a == c)
        if idx.size:
            cnt[c] = idx.size
            s[c] = _seq_sum_rows(X[idx])
    w = float(np.cumsum(md)[-1]) if want_wssse else 0.0
    return (cnt, s, w)


def _sq_dists(Xt, C, out, buf):
    """Squared distances of each column of ``Xt`` (d x m: a chunk of
    rows, transposed) to each row of ``C`` (k x d), written into ``out``
    (k x m, returned); ``buf`` is scratch of the same shape.  THE
    distance kernel of the engine: the per-dimension left-to-right fold
    of the Spark expression `functions.distance.sq_dist_sql` builds.
    Each step reads one contiguous row of ``Xt`` (the rows' dimension j)
    instead of a column of the rows, strided by d doubles."""
    import numpy as np

    out.fill(0.0)
    for j in range(Xt.shape[0]):
        # identical values/order to `out += diff * diff` with
        # diff = Xt[j] - C[:, j, None]; just buffer-reusing
        np.subtract(Xt[j], C[:, j, None], out=buf)
        np.multiply(buf, buf, out=buf)
        out += buf
    return out


def _chunk_dists(X, C):
    """Yield ``(lo, hi, D)`` over ``X`` in ``_CHUNK_ROWS``-row chunks,
    ``D`` the (hi-lo x k) `_sq_dists` of rows ``lo:hi`` to ``C`` (a
    transposed view), computed over a transposed copy of the chunk.  All
    scratch is reused across chunks (valid until the next yield).
    Per-row work is independent, so chunking changes no fold."""
    import numpy as np

    (n, d), k = X.shape, C.shape[0]
    m0 = min(n, _CHUNK_ROWS)
    T, D, buf = np.empty(d * m0), np.empty(k * m0), np.empty(k * m0)
    for lo in range(0, n, _CHUNK_ROWS):
        hi = min(n, lo + _CHUNK_ROWS)
        m = hi - lo
        Xt = T[: d * m].reshape(d, m)
        np.copyto(Xt, X[lo:hi].T)
        yield lo, hi, _sq_dists(Xt, C, D[: k * m].reshape(k, m), buf[: k * m].reshape(k, m)).T


def _argmin_rows(D):
    """Per-row index of the smallest distance, as the SQL argmin
    (`functions.distance.argmin_sql`) picks it: the first minimum,
    NaN skipped, index 0 for an all-NaN row.  ``np.argmin`` agrees
    except where it lands on a NaN (it returns the first NaN); only
    those rows are re-resolved, so finite data never takes the branch."""
    import numpy as np

    ac = D.argmin(axis=1)
    bad = np.flatnonzero(np.isnan(D[np.arange(len(ac)), ac]))
    if bad.size:
        sub = D[bad]
        ac[bad] = np.argmax(sub == np.fmin.reduce(sub, axis=1)[:, None], axis=1)
    return ac


def _min_d2(X, C, md=None):
    """Per-row min squared distance from ``X`` to the rows of ``C``,
    folded into ``md`` when given (in place).  ``np.fmin`` skips NaN as
    Spark's ``array_min`` does; min is exact, so folding the centroids
    in one at a time gives the minimum over all of them."""
    import numpy as np

    if md is None:
        md = np.full(X.shape[0], np.nan)
    for lo, hi, Db in _chunk_dists(X, C):
        np.fmin(md[lo:hi], np.fmin.reduce(Db, axis=1), out=md[lo:hi])
    return md


def _seq_sum_rows(M):
    """Row-wise sequential sum of a (n x d) float64 matrix — the exact
    left-to-right fold ``np.cumsum(M, axis=0)[-1]`` computes, without
    materializing the cumsum.

    For d > 1 the reduction axis is non-contiguous (row stride d*8
    bytes), so numpy's ufunc reduce accumulates strictly sequentially —
    bit-identical to the cumsum fold (verified over shapes/magnitudes
    in tests).  d == 1 IS a contiguous reduction, where numpy switches
    to pairwise summation (different fold), so that case keeps cumsum.
    """
    import numpy as np

    if M.shape[1] > 1:
        return np.sum(M, axis=0)
    return np.cumsum(M, axis=0)[-1]


def _update_centroids(centroids: Centroids, cnt, sums, k: int, dim: int) -> Centroids:
    """Driver math of one Lloyd step: mean per non-empty cluster, empty
    cluster keeps its previous centroid (master.go:581-582)."""
    new = [list(c) for c in centroids]
    for c in range(k):
        if cnt[c] > 0:
            new[c] = [float(sums[c][j]) / int(cnt[c]) for j in range(dim)]
    return new


def _lloyd_iterate(
    pass_fn, centroids: Centroids, k, dim, tol, max_iter, track_wssse, report_final
) -> KMeansResult:
    """The Lloyd control loop (stop rule master.go:123-236), agnostic of
    where ``pass_fn(centroids, want_wssse)`` runs — one definition used
    by both the per-iteration distributed path and the in-task
    single-block path.  ``report_final`` adds one more pass against the
    final centroids for ``final_counts``/``final_sums``."""
    delta = float("inf")
    hist: list[float] = []
    it = 0
    converged = False
    while it < max_iter:
        it += 1
        cnt, sums, wssse = pass_fn(centroids, track_wssse)
        if track_wssse:
            hist.append(float(wssse))
        new_centroids = _update_centroids(centroids, cnt, sums, k, dim)
        delta = compute_delta(centroids, new_centroids)
        centroids = new_centroids
        if delta < tol:
            converged = True
            break
    res = KMeansResult(centroids, it, delta, converged, hist)
    if report_final:
        fcnt, fsums, _ = pass_fn(centroids, False)
        res.final_counts = [int(x) for x in fcnt]
        res.final_sums = [[float(v) for v in row] for row in fsums]
    return res


def _lloyd_pass(blocks, centroids, want_wssse: bool):
    """One distributed Lloyd pass over cached numpy blocks (each a
    `_consolidate` tuple whose last array is the feature matrix):
    returns (counts[k], sums[k x d], wssse) merged across partitions.

    Per-block arithmetic is `_block_stats`; partials are merged in
    partition-index order at the driver — deterministic, where the old
    shuffle merge order was not.

    Shuffle-economics at scale: k x d doubles down (task closure when
    tiny, broadcast variable when big), k x (d+1) partials per
    partition up (merged with treeReduce when the partition count is
    large enough that a driver-side ordered merge would concentrate
    P x k x (d+1) doubles on the driver).
    """
    import numpy as np

    sc = blocks.context
    C = np.asarray(centroids, dtype=np.float64)
    k, d = C.shape
    # k x d doubles ride the task closure when small (k=4..10, d<=64 is
    # ~2-5 KB — a per-iteration sc.broadcast would cost a driver round
    # trip and a cleanup for nothing); a broadcast variable takes over
    # above 4 MB, where per-task closure shipping would multiply bytes
    # by the task count.
    bc = sc.broadcast(C) if C.nbytes > (4 << 20) else None
    Cv = C if bc is None else None

    def step(block):
        Cl = Cv if bc is None else bc.value
        for part in block:
            yield _block_stats(part[-1], Cl, k, d, want_wssse)

    parts = blocks.mapPartitions(step)
    if blocks.getNumPartitions() > 2048:
        # Cluster scale: log-depth partial merge, driver holds O(k*d).
        # treeAggregate, not treeReduce (r15 review fix): treeReduce
        # raises on an all-empty parts RDD (every block filtered out),
        # where seeding with exact zeros — the identity for counts,
        # sums and wssse — returns the correct empty statistics.  Merge
        # order at this depth is arrival-order (same nondeterminism the
        # old shuffle merge had); the <=2048 branch keeps the driver's
        # partition-ordered fold, so local/bench runs stay bit-stable.
        out = parts.treeAggregate(_merge_in_order((), k, d), _merge_stats, _merge_stats, depth=2)
    else:
        out = _merge_in_order(parts.collect(), k, d)
    if bc is not None:
        bc.unpersist()
    return out


def _merge_stats(p, q):
    """The sum of two `_block_stats` partials: the combine step
    (worker.go:169-189) of `_lloyd_pass` and `cluster_stats`."""
    return (p[0] + q[0], p[1] + q[1], p[2] + q[2])


def _merge_in_order(partials, k: int, d: int):
    """``partials`` (`_block_stats`) merged from exact zeros in the
    order given — partition order, so the merge is deterministic."""
    import numpy as np

    out = (np.zeros(k, dtype=np.int64), np.zeros((k, d), dtype=np.float64), 0.0)
    for p in partials:
        out = _merge_stats(out, p)
    return out


def cluster_stats(points: DataFrame, centroids: Centroids):
    """``(counts[k], sums[k x d])`` of the ``features`` of ``points``
    against ``centroids``: per-cluster member counts and coordinate
    sums, as numpy arrays.  One Lloyd step's statistics (classify and
    combine, worker.go:288-319) from ONE Spark job at the input's own
    parallelism, with nothing persisted: each task stacks its
    partition's Arrow batches into one matrix (`_consolidate`) and runs
    `_block_stats` on it, and the partials are merged on the driver in
    partition order (`_merge_in_order`, as `_lloyd_pass` merges them).
    A one-partition input gives the bits of one pass of the one-block
    fit."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    k, d = C.shape

    def stats(pieces):
        part = _consolidate(pieces, d)
        return _block_stats(part[-1] if part else None, C, k, d, False)

    counts, sums, _ = _merge_in_order(_per_partition(points.select("features"), d, stats), k, d)
    return counts, sums


def _fit_single_block(X, centroids0, k, dim, tol, max_iter, track_wssse, report_final):
    """Run the WHOLE Lloyd loop inside one task over its one block ``X``
    (None when empty) — the single-block fast path.  With one block,
    every 'global' reduction is that block's own statistics (merging
    with exact zeros is the identity), so iterating in-task computes the
    bit-identical trajectory of the per-iteration distributed path while
    paying ONE job instead of one per iteration.  Shares `_block_stats`
    and `_lloyd_iterate` with the distributed path, so the semantics
    cannot fork.  Returns a `KMeansResult`."""
    import numpy as np

    def pass_fn(centroids, want_wssse):
        C = np.asarray(centroids, dtype=np.float64)
        return _block_stats(X, C, k, dim, want_wssse)

    return _lloyd_iterate(
        pass_fn, centroids0, k, dim, tol, max_iter, track_wssse, report_final
    )


def fit_kmeans_native(
    points: DataFrame,
    k: int,
    dim: int,
    seed: int = 42,
    tol: float = DELTA_THRESHOLD,
    max_iter: int = ITERATION_THRESHOLD,
    initial_centroids: Centroids | None = None,
    track_wssse: bool = False,
    cache_input: bool = True,
    report_final: bool = False,
) -> KMeansResult:
    """Full reference-semantics Lloyd loop (master.go:123-236).

    Stop rule is the reference's: mean centroid movement < tol (NOT
    MLlib's max squared movement) or max_iter.  Empty clusters keep their
    previous centroid (master.go:581-582 comment).

    ``report_final=True`` runs ONE extra assignment pass against the
    converged centroids before releasing the block cache and attaches
    (final_counts, final_sums) to the result — the per-cluster sizes
    and coordinate sums the catalog reports need, without a separate
    DataFrame aggregation over the corpus.

    Engine: one aggregate job counts the rows, and the layout rule
    (`_block_count`) decides from that exact count, before any Python
    runs.  Without ``initial_centroids`` that aggregate also returns the
    seeded first farthest-point pick (`_seeded_first`, shared with
    `farthest_point_init`), and the other k-1 picks and the Lloyd loop
    run over the same read of the input (the reference's worker chunk
    cache, worker.go:44-60):

    * One block: ONE task reads the input's Arrow batches itself
      (`_in_one_task`: no pack, no persist), makes the picks
      (`_init_picks`) and runs the whole loop, and the final report, on
      them (`_fit_single_block`).  The fit is 2 Spark jobs.
    * Otherwise the input is laid out once as numpy blocks, with the
      ids only when the picks need them (`_features_blocks`: one pass
      from the scan, one persist), the picks run one job each over them
      (`_block_picks`), and each iteration is one RDD job over them:
      k x d centroids down, k x (d+1) partials per block up, bytes
      independent of N, and the per-row distance math vectorized in
      numpy.  The first job over the blocks materializes them; they are
      released in this function's ``finally``, on success and on error.
      A one-slot session lays this out as one block, and the loop runs
      in one task over it, through the same `_fit_single_block`.

    All shapes share `_block_stats` and `_lloyd_iterate`, so they follow
    the same trajectory, which the tests pin bitwise to a
    DataFrame-expression Lloyd loop (kept in the tests).

    ``cache_input`` is accepted and has no effect: the fit reads its
    input once and caches no DataFrame.  A caller that reuses ``points``
    after the fit caches it itself.
    """
    init = initial_centroids is None
    if init:
        rows, total, top, last, first = _seeded_first(points, seed)
        centroids = [first]
    else:
        rows = points.select("features")
        pos = F.monotonically_increasing_id().alias("pos")
        stats = _aggregate(rows.select(pos), n=F.count(F.lit(1)), **_partition_layout())
        total, top, last = stats["n"], stats["top"], stats["last"]
        centroids = [list(c) for c in initial_centroids]

    def fit(X, centroids):
        return _fit_single_block(X, centroids, k, dim, tol, max_iter, track_wssse, report_final)

    if _block_count(total, dim) == 1:

        def picks_and_fit(pieces):
            part = _consolidate(pieces, dim)
            picks = _init_picks(*part, centroids[0], k - 1) if init else []
            return fit(part[-1] if part else None, centroids + picks)

        return _in_one_task(rows, dim, picks_and_fit)
    blocks = _features_blocks(rows, dim, total, top, last)
    try:
        if init:
            centroids = _block_picks(blocks, centroids[0], k)
        if blocks.getNumPartitions() == 1:
            return blocks.mapPartitions(lambda b: [fit(next(b, (None,))[-1], centroids)]).collect()[0]
        return _lloyd_iterate(
            lambda c, w: _lloyd_pass(blocks, c, w),
            centroids, k, dim, tol, max_iter, track_wssse, report_final,
        )
    finally:
        blocks.unpersist()


def fit_kmeans_mllib(
    points: DataFrame,
    k: int,
    seed: int = 42,
    tol: float = 1e-4,
    max_iter: int = ITERATION_THRESHOLD,
    features_col: str = "features",
):
    """MLlib fast path: the production choice at 100 TB.

    Returns (model, assigned_df) where assigned keeps array<double>
    features and gains ``cluster_id``.  Note MLlib's tol semantics differ
    from the reference (max squared-dist movement vs mean movement) —
    documented in SURVEY §7; the native loop owns reference semantics.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vec = points.withColumn("_vec", array_to_vector(F.col(features_col)))
    model = (
        KMeans(k=k, seed=seed, tol=tol, maxIter=max_iter, featuresCol="_vec")
        .fit(vec)
    )
    assigned = (
        model.transform(vec)
        .withColumnRenamed("prediction", "cluster_id")
        .drop("_vec")
    )
    return model, assigned
