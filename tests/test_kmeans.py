"""K-Means invariants (SURVEY §5): clustering output is seed/tie-break
sensitive, so correctness is checked through algorithm-agnostic
invariants rather than golden files:

  (a) every point is assigned to its nearest returned centroid;
  (b) each centroid equals the mean of its members (±1e-9);
  (c) WSSSE is non-increasing across iterations;
  (d) k centroids come back, empty-cluster-keeps-old honored;
  (e) same seed -> identical rerun;
  (f) label agreement (ARI) well above random on the labeled fixture.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.operators.kmeans import (
    DELTA_THRESHOLD,
    ITERATION_THRESHOLD,
    Centroids,
    KMeansResult,
    _dist2_to_centroids,
    assign_clusters,
    assign_clusters_broadcast,
    compute_delta,
    farthest_point_init,
    fit_kmeans_mllib,
    fit_kmeans_native,
    recenter,
)

K, DIM = 6, 64


def _farthest_point_init_df(
    points,
    k: int,
    seed: int = 42,
    features_col: str = "features",
    id_col: str = "id",
):
    """The DataFrame farthest-point init `farthest_point_init` replaced,
    kept unchanged as its bitwise reference: k-1 Catalyst plans, each a
    broadcast crossJoin, a zip_with/aggregate distance and a sort-limit
    top-1 (2k-1 Spark jobs)."""
    from pyspark.sql import types as T

    spark = points.sparkSession
    first = (
        points.select(id_col, features_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(1)
        .collect()[0]
    )
    centroids = [list(first[features_col])]
    # Centroids ride a broadcast 1-row relation (same economics as the
    # Lloyd loop: round-invariant plan + codegen, k x d doubles as
    # broadcast data) rather than plan literals.
    cent_schema = T.StructType(
        [T.StructField("_C", T.ArrayType(T.ArrayType(T.DoubleType())))]
    )
    min_d2 = F.expr(
        "array_min(transform(_C, c -> "
        f"aggregate(zip_with({features_col}, c, (x, y) -> (x-y)*(x-y)), 0D, (s, v) -> s+v)))"
    )
    for _ in range(k - 1):
        cent_df = spark.createDataFrame([(centroids,)], cent_schema)
        # Deterministic tie-break on id so reruns are bit-identical.
        far = (
            points.select(F.col(id_col).alias("id"), features_col)
            .crossJoin(F.broadcast(cent_df))
            .select("id", features_col, min_d2.alias("min_d2"))
            .orderBy(F.desc("min_d2"), F.asc("id"))
            .limit(1)
            .collect()[0]
        )
        centroids.append(list(far[features_col]))
    return centroids


def _fit_kmeans_native_df(
    points: DataFrame,
    k: int,
    dim: int,
    seed: int = 42,
    tol: float = DELTA_THRESHOLD,
    max_iter: int = ITERATION_THRESHOLD,
    initial_centroids: Centroids | None = None,
    track_wssse: bool = False,
    cache_input: bool = True,
) -> KMeansResult:
    """The pre-round-15 DataFrame-expression Lloyd loop, kept verbatim
    as the equivalence reference for the numpy engine (tests pin both
    to the same trajectory).  Same semantics, ~1s/iteration of driver
    overhead (plan re-analysis + broadcast exchange + AQE re-planning
    per iteration) the numpy engine removes.
    """
    # Assignment with centroids as a broadcast 1-row relation, not plan
    # literals (assign_clusters_broadcast): the plan and generated code
    # are IDENTICAL across iterations — only the broadcast data changes —
    # so Spark's codegen cache hits from iteration 2 on.  Literal
    # centroids re-analyzed and re-compiled a fresh k x d-literal plan
    # every iteration (~1s/iter of driver time at d=64).
    points = points.select("id", "features")
    if cache_input:
        points = points.cache()
    try:
        centroids = (
            [list(c) for c in initial_centroids]
            if initial_centroids is not None
            else farthest_point_init(points, k, seed=seed)
        )
        delta = float("inf")
        wssse_hist: list[float] = []
        it = 0
        while it < max_iter:
            it += 1
            assigned = assign_clusters_broadcast(points, centroids)
            if track_wssse:
                dists = _dist2_to_centroids("features", centroids)
                row = assigned.agg(
                    F.sum(F.array_min(dists)).alias("wssse"),
                ).collect()[0]
                wssse_hist.append(float(row["wssse"]))
            # Recenter strategy by dimensionality.  Wide (one sum column
            # per dimension) keeps rows 1:1 and is fastest while the agg
            # stays narrow; posexplode + (cid, pos) trades a d-fold row
            # fan-out for a d-independent plan — at d=64 the
            # analysis/codegen of a 64-column agg dominated driver time.
            # Either way the shuffle carries k x (d+1) partials per
            # partition and k x (d+1) finals reach the driver — bytes
            # independent of N (reference master.go:579-600 driver math).
            new_centroids = [list(c) for c in centroids]  # empty keeps old
            if dim <= 16:
                row_aggs = [F.count("*").alias("cnt")] + [
                    F.sum(F.col("features")[i]).alias(f"s{i}") for i in range(dim)
                ]
                for r in assigned.groupBy("cluster_id").agg(*row_aggs).collect():
                    new_centroids[r["cluster_id"]] = [
                        r[f"s{i}"] / r["cnt"] for i in range(dim)
                    ]
            else:
                stats = (
                    assigned.select(
                        "cluster_id", F.posexplode("features").alias("pos", "x")
                    )
                    .groupBy("cluster_id", "pos")
                    .agg(F.sum("x").alias("s"), F.count("*").alias("cnt"))
                    .collect()
                )
                for r in stats:
                    new_centroids[r["cluster_id"]][r["pos"]] = r["s"] / r["cnt"]
            delta = compute_delta(centroids, new_centroids)
            centroids = new_centroids
            if delta < tol:
                return KMeansResult(centroids, it, delta, True, wssse_hist)
        return KMeansResult(centroids, it, delta, False, wssse_hist)
    finally:
        if cache_input:
            points.unpersist()


@pytest.fixture(scope="module")
def fitted(points):
    res = fit_kmeans_native(points, k=K, dim=DIM, seed=42, track_wssse=True)
    return res


def test_returns_k_centroids(fitted):
    assert len(fitted.centroids) == K
    assert all(len(c) == DIM for c in fitted.centroids)


def test_converged_within_limits(fitted):
    assert fitted.iterations <= 100
    assert fitted.converged or fitted.iterations == 100


def test_assignment_is_nearest_centroid(points, fitted):
    """(a): no point is closer to a different centroid than its own."""
    assigned = assign_clusters(points, fitted.centroids)
    dists = _dist2_to_centroids("features", fitted.centroids)
    viol = assigned.where(
        F.array_min(dists) < dists[F.col("cluster_id")] - F.lit(1e-12)
    ).count()
    assert viol == 0


def test_centroid_is_member_mean(points, fitted):
    """(b): converged centroids are the mean of their members to ~tol.

    (Exact equality holds only at a true fixed point; at the stopping
    delta the drift is bounded by tol, so allow tol slack per coord.)"""
    assigned = assign_clusters(points, fitted.centroids)
    stats = recenter(assigned, DIM).collect()
    for r in stats:
        cent = fitted.centroids[r["cluster_id"]]
        move = math.sqrt(sum((a - b) ** 2 for a, b in zip(cent, r["mean"])))
        assert move < 0.15, f"cluster {r['cluster_id']} drifted {move}"


def test_wssse_non_increasing(fitted):
    """(c): Lloyd iterations never increase within-cluster SSE."""
    hist = fitted.wssse_history
    assert len(hist) >= 2
    for a, b in zip(hist, hist[1:]):
        assert b <= a + 1e-9


def test_seed_reproducible(points):
    """(e): identical rerun with the same seed."""
    r1 = fit_kmeans_native(points, k=3, dim=DIM, seed=7)
    r2 = fit_kmeans_native(points, k=3, dim=DIM, seed=7)
    assert r1.centroids == r2.centroids
    assert r1.iterations == r2.iterations


def test_different_seed_different_init(points):
    c1 = farthest_point_init(points, 3, seed=1)
    c2 = farthest_point_init(points, 3, seed=2)
    assert c1 != c2  # first pick is seeded-random


def test_empty_cluster_keeps_old(spark):
    """(d): a centroid with no members survives unchanged
    (reference master.go:581-582)."""
    rows = [(i, [float(i), 0.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "id long, features array<double>")
    # far-away centroid 2 gets no members and must remain in place
    init = [[0.0, 0.0], [3.0, 0.0], [1000.0, 1000.0]]
    res = fit_kmeans_native(df, k=3, dim=2, initial_centroids=init, max_iter=3)
    assert res.centroids[2] == [1000.0, 1000.0]


def test_delta_math():
    assert compute_delta([[0.0, 0.0]], [[3.0, 4.0]]) == pytest.approx(5.0)
    assert compute_delta([[1.0], [2.0]], [[1.0], [4.0]]) == pytest.approx(1.0)


def test_fit_beats_unoptimized_centroids(points, fitted):
    """(f): the fitted model's WSSSE is measurably below that of an
    arbitrary (first-k-points) centroid set — i.e. Lloyd actually
    optimized.  (The fixture's `label` column carries no geometric
    structure — verified: within-label spread == global spread — so a
    label-agreement/ARI check would only measure noise.)"""

    def wssse(cents):
        dists = _dist2_to_centroids("features", cents)
        return points.agg(F.sum(F.array_min(dists)).alias("w")).collect()[0]["w"]

    naive = [list(r["features"]) for r in points.orderBy("id").limit(K).collect()]
    assert wssse(fitted.centroids) < 0.9 * wssse(naive)


def test_mllib_path(points):
    model, assigned = fit_kmeans_mllib(points, k=K, seed=42)
    sizes = assigned.groupBy("cluster_id").count().collect()
    assert len(sizes) == K
    assert sum(r["count"] for r in sizes) == points.count()
    assert len(model.clusterCenters()) == K


def test_numpy_engine_matches_dataframe_loop(points, monkeypatch):
    """Round-15 optimization gate: the numpy-block Lloyd engine
    (fit_kmeans_native) follows the EXACT trajectory of the original
    DataFrame-expression loop (_fit_kmeans_native_df) — same iteration
    count, same convergence flag, bit-identical centroids and deltas;
    WSSSE agrees to 1e-9 relative (a float sum whose fold order depends
    on the block layout — the DataFrame loop's own shuffle merge order
    was never deterministic, so bit-equality was never its contract).
    The engines share no iteration code, so this pins the fold-order
    contract (per-dim distance accumulation, first-min tie-break,
    row-order cluster sums) the rewrite preserves."""
    import math

    init = [list(r["features"]) for r in points.orderBy("id").limit(3).collect()]
    a = fit_kmeans_native(
        points, k=3, dim=DIM, initial_centroids=init, track_wssse=True
    )
    b = _fit_kmeans_native_df(
        points, k=3, dim=DIM, initial_centroids=init, track_wssse=True
    )
    assert a.iterations == b.iterations
    assert a.converged == b.converged
    assert a.delta == b.delta
    assert a.centroids == b.centroids
    assert len(a.wssse_history) == len(b.wssse_history)
    for wa, wb in zip(a.wssse_history, b.wssse_history):
        assert math.isclose(wa, wb, rel_tol=1e-9)

    # NaN variant: one NaN coordinate makes its row's distances all NaN
    # (it joins cluster 0) and then cluster 0's centroid, whose NaN
    # distance the SQL argmin skips for every other row.  The numpy
    # argmin must skip it too, on one block and on several.  The run
    # cannot converge (delta is NaN), so it is capped.
    import kmeans_mapreduce_spark.operators.kmeans as K_mod

    nan_pts = points.withColumn(
        "features",
        F.when(
            F.col("id") == 57,
            F.expr("transform(features, (x, i) -> IF(i = 5, double('NaN'), x))"),
        ).otherwise(F.col("features")),
    ).cache()
    try:
        ref = _fit_kmeans_native_df(
            nan_pts, k=3, dim=DIM, initial_centroids=init, max_iter=4,
            track_wssse=True,
        )
        assert math.isnan(ref.centroids[0][5])
        for target in (K_mod._BLOCK_TARGET_BYTES, 64 * 1024):
            monkeypatch.setattr(K_mod, "_BLOCK_TARGET_BYTES", target)
            fit = fit_kmeans_native(
                nan_pts, k=3, dim=DIM, initial_centroids=init, max_iter=4,
                track_wssse=True,
            )
            assert fit.iterations == ref.iterations == 4
            assert not fit.converged and not ref.converged
            assert math.isnan(fit.delta) and math.isnan(ref.delta)
            assert np.array_equal(fit.centroids, ref.centroids, equal_nan=True)
            assert np.isnan(fit.wssse_history).all()
            assert np.isnan(ref.wssse_history).all()
    finally:
        nan_pts.unpersist()


def test_nonfinite_centroids_assign_alike(spark):
    """NaN and +-inf centroids give the same cluster ids through the
    literal and broadcast assignments and the numpy `_block_stats`:
    the centroid literal renders them as ``double('NaN')`` and
    ``double('+-Infinity')``, and every argmin skips NaN distances
    (an all-NaN row lands on cluster 0)."""
    from kmeans_mapreduce_spark.operators.kmeans import _block_stats

    nan, inf = float("nan"), float("inf")
    rows = [[0.0, 0.0], [6.0, 6.0], [1.0, 1.0], [nan, 1.0]]
    pts = spark.createDataFrame(
        list(enumerate(rows)), "id long, features array<double>"
    )
    cases = [
        ([[nan, 0.0], [5.0, 5.0]], [1, 1, 1, 0]),
        ([[inf, 0.0], [5.0, 5.0]], [1, 1, 1, 0]),
        ([[-inf, 0.0], [5.0, 5.0]], [1, 1, 1, 0]),
        ([[0.0, 0.0], [nan, nan], [1.0, 1.0]], [0, 2, 2, 0]),
        ([[inf, inf], [nan, 0.0], [-inf, 0.0]], [0, 0, 0, 0]),
    ]
    for cents, want in cases:
        for assign in (assign_clusters, assign_clusters_broadcast):
            got = assign(pts, cents).orderBy("id").collect()
            assert [r["cluster_id"] for r in got] == want, (assign, cents)
        C = np.asarray(cents)
        counts = [_block_stats(np.asarray([r]), C, len(C), 2, False)[0] for r in rows]
        assert [int(np.flatnonzero(c)[0]) for c in counts] == want, cents


def test_broadcast_centroids_are_a_local_relation(points):
    """`assign_clusters_broadcast` ships the centroids as a one-row
    local relation: no RDD scan (and no job of its own) for ``_C``."""
    cents = [list(r["features"]) for r in points.orderBy("id").limit(3).collect()]
    plan = assign_clusters_broadcast(points, cents)._jdf.queryExecution().optimizedPlan()
    text = plan.toString()
    assert "LocalRelation [_C#" in text, text
    assert "LogicalRDD" not in text, text


def test_seq_sum_rows_matches_cumsum_fold():
    """r15 opt gate: `_seq_sum_rows` (np.sum over axis 0 for d > 1,
    cumsum fallback for d == 1) is bit-identical to the sequential
    cumsum fold it replaced, across shapes and magnitudes — including
    the d == 1 case where numpy's pairwise summation would diverge."""
    import numpy as np

    from kmeans_mapreduce_spark.operators.kmeans import _seq_sum_rows

    rng = np.random.default_rng(7)
    for n, d in [(1, 1), (5, 1), (128, 1), (100000, 1), (3, 2), (600, 4),
                 (257, 64), (10000, 8)]:
        M = rng.standard_normal((n, d)) * rng.uniform(1e-6, 1e6)
        assert _seq_sum_rows(M).tobytes() == np.cumsum(M, axis=0)[-1].tobytes(), (n, d)


def test_block_stats_matches_unbuffered_reference():
    """r15 opt gate: the buffer-reusing distance loop + `_seq_sum_rows`
    inside `_block_stats` produce bit-identical (counts, sums, wssse)
    to the straightforward allocation-per-dim / cumsum reference it
    optimized."""
    import numpy as np

    from kmeans_mapreduce_spark.operators.kmeans import _block_stats

    def reference(X, C, k, d, want_wssse):
        cnt = np.zeros(k, dtype=np.int64)
        s = np.zeros((k, d), dtype=np.float64)
        if X is None or not X.size:
            return (cnt, s, 0.0)
        n = X.shape[0]
        D = np.zeros((n, k), dtype=np.float64)
        for j in range(d):
            diff = X[:, j, None] - C[None, :, j]
            D += diff * diff
        a = D.argmin(axis=1)
        for c in range(k):
            idx = np.flatnonzero(a == c)
            if idx.size:
                cnt[c] = idx.size
                s[c] = np.cumsum(X[idx], axis=0)[-1]
        w = float(np.cumsum(D[np.arange(n), a])[-1]) if want_wssse else 0.0
        return (cnt, s, w)

    from kmeans_mapreduce_spark.operators.kmeans import _CHUNK_ROWS

    rng = np.random.default_rng(11)
    # sizes straddle the _CHUNK_ROWS boundary (one-short, one full
    # chunk, one-over, multi-chunk), with d=1 and k=1 on each side — the
    # chunked, transposed distance/argmin path must stay bit-identical
    # to the full-matrix reference on every side of it
    m = _CHUNK_ROWS
    for n, d, k in [(1, 1, 1), (50, 1, 3), (1000, 4, 4), (500, 64, 4),
                    (20000, 4, 7), (333, 16, 2), (65535, 4, 4),
                    (65536, 2, 3), (65537, 4, 4), (200000, 3, 5),
                    (m - 1, 64, 4), (m, 64, 4), (m + 1, 64, 4),
                    (m - 1, 1, 3), (m, 1, 3), (m + 1, 1, 3),
                    (m - 1, 8, 1), (m, 8, 1), (m + 1, 8, 1), (3 * m + 5, 1, 1)]:
        X = rng.standard_normal((n, d)) * rng.uniform(1e-3, 1e3)
        C = rng.standard_normal((k, d))
        for w in (False, True):
            ca, sa, wa = _block_stats(X, C, k, d, w)
            cb, sb, wb = reference(X, C, k, d, w)
            assert ca.tobytes() == cb.tobytes(), (n, d, k, w)
            assert sa.tobytes() == sb.tobytes(), (n, d, k, w)
            assert wa == wb, (n, d, k, w)
    # empty-block identity
    ca, sa, wa = _block_stats(None, np.zeros((2, 3)), 2, 3, True)
    assert int(ca.sum()) == 0 and float(sa.sum()) == 0.0 and wa == 0.0


def test_min_d2_matches_unchunked_fold():
    """`_min_d2` (the init's per-row min distance, chunked and
    transposed like `_block_stats`) is bit-identical to an unchunked
    per-dimension fold followed by an ``fmin`` over the centroids, fed
    all at once or one at a time into the running minimum, for k=1 and
    k>1, across chunk boundaries, with a NaN row (its distances are all
    NaN, and so is its minimum)."""
    import numpy as np

    from kmeans_mapreduce_spark.operators.kmeans import _CHUNK_ROWS, _min_d2

    def reference(X, C):
        D = np.zeros((X.shape[0], C.shape[0]))
        for j in range(X.shape[1]):
            diff = X[:, j, None] - C[None, :, j]
            D += diff * diff
        return np.fmin.reduce(D, axis=1)

    rng = np.random.default_rng(13)
    for n, d, k in [(1, 1, 1), (700, 64, 1), (700, 64, 5), (_CHUNK_ROWS + 1, 3, 1),
                    (2 * _CHUNK_ROWS + 7, 16, 4)]:
        X = rng.standard_normal((n, d)) * rng.uniform(1e-3, 1e3)
        X[n // 2, d - 1] = np.nan
        C = rng.standard_normal((k, d))
        want = reference(X, C)
        assert np.isnan(want[n // 2])
        assert _min_d2(X, C).tobytes() == want.tobytes(), (n, d, k)
        md = None
        for c in range(k):
            md = _min_d2(X, C[c : c + 1], md)
        assert md.tobytes() == want.tobytes(), (n, d, k)


def test_multi_block_engine_matches_single_block(points, monkeypatch):
    """r15 review gate: the MULTI-block distributed path (_lloyd_pass —
    per-partition partials, driver-ordered fold) was previously never
    executed by tests (every fixture sizes to one block).  Force it by shrinking the block target so the
    fixture splits into several blocks, and pin its trajectory against
    the single-block fused path AND the DataFrame loop.

    Exact equality across the different folds is a property of THIS
    fixture (float32-origin values: per-cluster float64 sums of 500
    such values are exact under any grouping), which is precisely what
    makes it usable as a bitwise gate here."""
    import kmeans_mapreduce_spark.operators.kmeans as K_mod

    init = [list(r["features"]) for r in points.orderBy("id").limit(3).collect()]
    single = fit_kmeans_native(
        points, k=3, dim=DIM, initial_centroids=init, track_wssse=True
    )
    monkeypatch.setattr(K_mod, "_BLOCK_TARGET_BYTES", 64 * 1024)
    multi = fit_kmeans_native(
        points, k=3, dim=DIM, initial_centroids=init, track_wssse=True
    )
    assert multi.iterations == single.iterations
    assert multi.converged == single.converged
    assert multi.delta == single.delta
    assert multi.centroids == single.centroids
    assert len(multi.wssse_history) == len(single.wssse_history)
    for wa, wb in zip(multi.wssse_history, single.wssse_history):
        assert math.isclose(wa, wb, rel_tol=1e-9)


def test_one_block_fit_is_one_task_with_no_persist(points, monkeypatch):
    """A one-block fit from explicit centroids runs 2 Spark jobs: the
    row count, and ONE task that reads the input's Arrow batches and
    runs the whole loop.  It persists nothing: no pack, no blocks."""
    from pyspark import RDD

    def no_persist(*_):
        raise AssertionError("a one-block fit persists nothing")

    init = [list(r["features"]) for r in points.orderBy("id").limit(3).collect()]
    monkeypatch.setattr(RDD, "persist", no_persist)
    sc = points.sparkSession.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    persisted = sc._jsc.getPersistentRDDs().size()
    res = fit_kmeans_native(points, k=3, dim=DIM, initial_centroids=init, report_final=True)
    jobs = sorted(set(tracker.getJobIdsForGroup()) - before)
    assert len(jobs) == 2, jobs
    assert sc._jsc.getPersistentRDDs().size() == persisted
    # tasks that ran (the cached input's lineage lists skipped stages)
    stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(jobs[-1]).stageIds]
    assert sum(s.numCompletedTasks for s in stages) == 1
    assert sum(res.final_counts) == points.count()


def test_one_block_fit_with_init_matches_multi_block(points, monkeypatch):
    """A one-block fit that runs farthest-point init itself (both in one
    task each) gives bit-identical centroids to the same call forced
    multi-block by a 64 KiB block target (init then runs one job per
    pick over the blocks, and the loop one job per pass)."""
    import kmeans_mapreduce_spark.operators.kmeans as K_mod

    one = fit_kmeans_native(points, k=4, dim=DIM, seed=7, report_final=True)
    monkeypatch.setattr(K_mod, "_BLOCK_TARGET_BYTES", 64 * 1024)
    multi = fit_kmeans_native(points, k=4, dim=DIM, seed=7, report_final=True)
    assert _bits(one.centroids) == _bits(multi.centroids)
    assert one.iterations == multi.iterations
    assert one.converged == multi.converged
    assert one.delta == multi.delta
    assert one.final_counts == multi.final_counts


@pytest.mark.parametrize("layout", ["one_block", "multi_block", "coalesce1"])
def test_fit_with_init_reads_its_input_once(points, monkeypatch, request, layout):
    """A fit that runs its own init takes the row count and the first
    pick from one aggregate, then makes its picks and its Lloyd passes
    over one read of the input: one task for one block, else one
    `_features_blocks` layout, persisted once and materialized by the
    first pick job (a skewed input adds the cut's map stage; one whose
    rows all sit in one partition needs no per-partition count).  It
    caches no DataFrame.  Exact Spark jobs, `_features_blocks` calls and
    RDD persists at k=4 and 3 passes."""
    from pyspark import RDD

    import kmeans_mapreduce_spark.operators.kmeans as K_mod

    df = points
    if layout == "multi_block":
        # 8 cached partitions within one row of each other: 4 blocks
        df = points.repartition(8).cache()
        request.addfinalizer(df.unpersist)
    elif layout == "coalesce1":
        df = points.coalesce(1)  # one partition above one block: cut
    df.count()
    if layout != "one_block":
        monkeypatch.setattr(K_mod, "_BLOCK_TARGET_BYTES", 64 * 1024)

    layouts, persists = [], []
    features_blocks, rdd_persist = K_mod._features_blocks, RDD.persist

    def counting_layout(*args):
        layouts.append(1)
        return features_blocks(*args)

    def counting_persist(self, *args):
        persists.append(1)
        return rdd_persist(self, *args)

    def no_cache(*_):
        raise AssertionError("a fit caches no DataFrame")

    monkeypatch.setattr(K_mod, "_features_blocks", counting_layout)
    monkeypatch.setattr(RDD, "persist", counting_persist)
    # the session's concrete DataFrame class, which overrides both
    monkeypatch.setattr(type(df), "cache", no_cache)
    monkeypatch.setattr(type(df), "persist", no_cache)
    sc = points.sparkSession.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    persisted = sc._jsc.getPersistentRDDs().size()
    res = fit_kmeans_native(df, k=4, dim=DIM, seed=3, tol=0.0, max_iter=3)
    jobs = set(tracker.getJobIdsForGroup()) - before
    assert res.iterations == 3 and len(res.centroids) == 4
    want = {"one_block": (2, 0, 0), "multi_block": (7, 1, 1), "coalesce1": (8, 1, 1)}
    assert (len(jobs), len(layouts), len(persists)) == want[layout], sorted(jobs)
    assert sc._jsc.getPersistentRDDs().size() == persisted


def _block_rows(blocks):
    """Row count of every block, in partition order."""
    return blocks.mapPartitions(lambda it: [sum(p[-1].shape[0] for p in it)]).collect()


def _read_blocks(*args):
    """Row counts of the blocks ``_features_blocks(*args)`` lays out,
    released after the read."""
    from kmeans_mapreduce_spark.operators.kmeans import _features_blocks

    blocks = _features_blocks(*args)
    try:
        return _block_rows(blocks)
    finally:
        blocks.unpersist()


def _layout(df):
    """``(total, top, last)``: the row count of ``df``, that of its
    largest partition and the index of its last non-empty partition, as
    `_features_blocks` takes them."""
    ns = df.rdd.glom().map(len).collect()
    return sum(ns), max(ns), max(i for i, n in enumerate(ns) if n)


@pytest.fixture
def small_splits(spark):
    """Split files into 32 KiB input partitions for one test."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(32 * 1024))
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("shape", ["coalesced", "one_row_group"])
def test_skewed_input_is_recut_into_even_blocks(
    points, tmp_path, monkeypatch, small_splits, shape
):
    """An input whose rows all sit in one partition, above one block, is
    cut in the scan's own tasks into contiguous blocks of equal row
    count: ``points.coalesce(1)``, and a one-row-group file that Spark
    reads as several splits of which one holds every row.  The blocks
    must hold the input rows in order, and the fit over them must match
    the DataFrame loop bitwise (float32-origin fixture: per-cluster
    float64 sums are exact under any grouping)."""
    import numpy as np

    import kmeans_mapreduce_spark.operators.kmeans as K_mod
    from kmeans_mapreduce_spark.operators.kmeans import _features_blocks

    if shape == "coalesced":
        df = points.coalesce(1)
    else:
        path = str(tmp_path / "one_row_group")
        points.coalesce(1).write.parquet(path)  # one task: one row group
        df = points.sparkSession.read.parquet(path)
        ns = df.rdd.glom().map(len).collect()
        assert len(ns) > 1 and sorted(ns)[-2] == 0, ns
    df = df.select("id", "features")
    monkeypatch.setattr(K_mod, "_BLOCK_TARGET_BYTES", 64 * 1024)
    blocks = _features_blocks(df.select("features"), DIM, *_layout(df))
    try:
        rows = _block_rows(blocks)
        stacked = np.vstack([p[-1] for p in blocks.collect()])
    finally:
        blocks.unpersist()
    assert len(rows) > 1 and max(rows) - min(rows) <= 1, rows
    expected = np.array([r["features"] for r in df.select("features").collect()])
    assert stacked.tobytes() == expected.tobytes()

    init = [list(r["features"]) for r in points.orderBy("id").limit(3).collect()]
    fit = fit_kmeans_native(df, k=3, dim=DIM, initial_centroids=init, track_wssse=True)
    ref = _fit_kmeans_native_df(
        points, k=3, dim=DIM, initial_centroids=init, track_wssse=True
    )
    assert fit.iterations == ref.iterations
    assert fit.converged == ref.converged
    assert fit.delta == ref.delta
    assert fit.centroids == ref.centroids
    for wa, wb in zip(fit.wssse_history, ref.wssse_history):
        assert math.isclose(wa, wb, rel_tol=1e-9)


@pytest.mark.parametrize("shape", ["evenly_split", "one_block"])
def test_unskewed_layout_is_the_coalesced_pack(points, monkeypatch, request, shape):
    """No-change pin: an evenly split input, and one at or below one
    block, keep the layout of a narrow coalesce of the input's
    partitions to min(partitions, want) blocks.  Building the blocks
    runs no Spark job; the first read of them is the one job that packs
    and persists them."""
    from pyspark import StorageLevel

    import kmeans_mapreduce_spark.operators.kmeans as K_mod
    from kmeans_mapreduce_spark.operators.kmeans import _features_blocks

    if shape == "evenly_split":
        # round-robin: 8 partitions within one row of each other, cached
        # so that packing them needs no shuffle job; the 500 x 64 x
        # 8-byte fixture then wants 3 blocks
        df = points.repartition(8).cache()
        request.addfinalizer(df.unpersist)
        df.count()
        monkeypatch.setattr(K_mod, "_BLOCK_TARGET_BYTES", 100_000)
    else:
        df = points
    df = df.select("id", "features")
    total, top, last = _layout(df)
    want = max(1, -(-(total * DIM * 8) // K_mod._BLOCK_TARGET_BYTES))
    assert want == (3 if shape == "evenly_split" else 1)

    # the reference layout: row counts of a cached copy of the input's
    # partitions, narrow-coalesced the same way
    counts = df.rdd.mapPartitions(lambda it: [sum(1 for _ in it)])
    counts = counts.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        counts.count()
        parts = counts.getNumPartitions()
        view = counts.coalesce(want) if want < parts else counts
        expected = view.glom().map(sum).collect()
    finally:
        counts.unpersist()

    sc = points.sparkSession.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup())
    blocks = _features_blocks(df.select("features"), DIM, total, top, last)
    built = set(sc.statusTracker().getJobIdsForGroup()) - before
    try:
        rows = _block_rows(blocks)
    finally:
        blocks.unpersist()
    jobs = set(sc.statusTracker().getJobIdsForGroup()) - before
    assert not built, sorted(built)
    assert len(jobs) == 1, sorted(jobs)
    assert rows == expected
    assert len(rows) == min(parts, want)


def test_skewed_fit_persists_once(points, monkeypatch):
    """A skewed fit from explicit centroids makes ONE RDD persist (its
    blocks) and no DataFrame cache, and leaves the session's persistent
    RDDs as it found them.  Its jobs: the aggregate (which also names
    the one partition that holds every row, so no per-partition count
    runs), the cut's map stage (AQE runs it when the builder takes the
    blocks' RDD), then one job per pass, the first of which
    materializes the blocks."""
    from pyspark import RDD

    import kmeans_mapreduce_spark.operators.kmeans as K_mod

    df = points.coalesce(1)
    init = [list(r["features"]) for r in points.orderBy("id").limit(3).collect()]
    monkeypatch.setattr(K_mod, "_BLOCK_TARGET_BYTES", 64 * 1024)
    persists, rdd_persist = [], RDD.persist

    def counting_persist(self, *args):
        persists.append(1)
        return rdd_persist(self, *args)

    def no_cache(*_):
        raise AssertionError("a fit caches no DataFrame")

    monkeypatch.setattr(RDD, "persist", counting_persist)
    monkeypatch.setattr(type(df), "cache", no_cache)
    monkeypatch.setattr(type(df), "persist", no_cache)
    sc = points.sparkSession.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    persisted = sc._jsc.getPersistentRDDs().size()
    res = fit_kmeans_native(df, k=3, dim=DIM, initial_centroids=init, tol=0.0, max_iter=3)
    jobs = set(tracker.getJobIdsForGroup()) - before
    assert res.iterations == 3
    assert len(persists) == 1
    assert len(jobs) == 1 + 1 + 3, sorted(jobs)
    assert sc._jsc.getPersistentRDDs().size() == persisted


def test_partition_count_mismatch_raises(points, monkeypatch):
    """A cut task whose partition holds more or fewer rows than the
    count its layout was cut from raises `PartitionCountMismatch`: on a
    one-partition input, whose count is the aggregate's total, and on a
    skewed input with several non-empty partitions, whose counts come
    from `_partition_counts`."""
    import kmeans_mapreduce_spark.operators.kmeans as K_mod

    df = points.coalesce(1).select("features")
    total, top, last = _layout(df)
    assert top == total
    monkeypatch.setattr(K_mod, "_BLOCK_TARGET_BYTES", 64 * 1024)
    for counted in (total - 1, total + 1):
        with pytest.raises(Exception, match="PartitionCountMismatch"):
            _read_blocks(df, DIM, counted, counted, last)

    # one partition holds 500 rows, four small ones hold the other 10
    # (a union of two one-partition inputs would be one partition)
    skewed = points.coalesce(1).union(points.where(F.col("id") < 10)).select("features")
    total, top, last = _layout(skewed)
    assert top < total
    partition_counts, calls = K_mod._partition_counts, []
    for delta in (-1, 1):

        def miscounted(rows):
            calls.append(1)
            return {p: n + delta for p, n in partition_counts(rows).items()}

        monkeypatch.setattr(K_mod, "_partition_counts", miscounted)
        with pytest.raises(Exception, match="PartitionCountMismatch"):
            _read_blocks(skewed, DIM, total, top, last)
    assert len(calls) == 2


def test_lloyd_pass_empty_high_partition_rdd(spark):
    """r15 review gate: above the 2048-partition threshold _lloyd_pass
    merges partials with treeAggregate seeded by exact zeros — an
    all-empty blocks RDD (every block filtered away) must return zero
    statistics, not raise (treeReduce, which it replaced, throws
    'Cannot reduce empty RDD' there)."""
    import numpy as np

    from kmeans_mapreduce_spark.operators.kmeans import _lloyd_pass

    empty = spark.sparkContext.parallelize([], 2100)
    cnt, sums, wssse = _lloyd_pass(empty, [[0.0, 0.0], [1.0, 1.0]], True)
    assert int(np.asarray(cnt).sum()) == 0
    assert float(np.abs(np.asarray(sums)).sum()) == 0.0
    assert wssse == 0.0


def test_fit_failure_releases_caches(points, monkeypatch):
    """A failing fit must not leak its blocks: afterwards the session
    holds exactly the persistent RDDs it held before.  dim=63 against
    64-wide features makes every reshape of a packed Arrow batch raise,
    in the first job that packs the input: on the evenly split input
    the first job that reads the blocks (the first pick, or the first
    Lloyd pass); on a one-partition input the cut's map stage, which
    AQE runs when the builder takes the blocks' RDD, before the
    persist.  A pick of the fit's own init that raises releases the
    blocks too (multi-block), or runs in the fit's one task with
    nothing to release (one block)."""
    import kmeans_mapreduce_spark.operators.kmeans as K_mod

    sc = points.sparkSession.sparkContext
    one_block_target = K_mod._BLOCK_TARGET_BYTES
    # a small target makes both inputs multi-block
    monkeypatch.setattr(K_mod, "_BLOCK_TARGET_BYTES", 64 * 1024)
    before = sc._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception):
        fit_kmeans_native(points.repartition(4), k=3, dim=63, seed=1)
    assert sc._jsc.getPersistentRDDs().size() == before
    one_part = points.coalesce(1).select("features")
    with pytest.raises(Exception):
        _read_blocks(one_part, 63, *_layout(one_part))
    assert sc._jsc.getPersistentRDDs().size() == before
    with pytest.raises(Exception):
        fit_kmeans_native(one_part, k=3, dim=63, seed=1)
    assert sc._jsc.getPersistentRDDs().size() == before

    def boom(*_):
        raise RuntimeError("pick failed")

    # the fit's pick closures resolve these names when they are pickled
    monkeypatch.setattr(K_mod, "_init_picks", boom)
    monkeypatch.setattr(K_mod, "_init_candidate", boom)
    for target in (64 * 1024, one_block_target):
        monkeypatch.setattr(K_mod, "_BLOCK_TARGET_BYTES", target)
        with pytest.raises(Exception, match="pick failed"):
            fit_kmeans_native(points.repartition(4), k=3, dim=DIM, seed=1)
        assert sc._jsc.getPersistentRDDs().size() == before


@pytest.fixture(scope="module")
def init_inputs(points):
    """Inputs for the init parity pin, with ids not in row order:

    * ``ties``: 1000 vectors on the integer grid {0..3}^8, so distinct
      rows often sit at the same distance and a pick is a tie the lowest
      id must win.  Every vector appears twice, the lower-id copy later
      in row order.  An int id column (its xxhash64 differs from a
      long's) and array<float> features.
    * ``nan``: the fixture's first 300 vectors, long ids, array<double>
      features, one NaN coordinate."""
    import random

    rng = random.Random(5)
    spark = points.sparkSession
    grid = [[float(rng.randrange(4)) for _ in range(8)] for _ in range(1000)]
    perm = rng.sample(range(len(grid)), len(grid))
    ties = [(2 * p + 1, f) for p, f in zip(perm, grid)]
    ties += [(2 * p, f) for p, f in zip(perm, grid)]
    feats = [list(r["features"]) for r in points.orderBy("id").limit(300).collect()]
    nan = [(p, f) for p, f in zip(rng.sample(range(len(feats)), len(feats)), feats)]
    nan[7][1][3] = float("nan")
    sc = spark.sparkContext
    return {
        "ties": spark.createDataFrame(sc.parallelize(ties, 4), "id int, features array<float>"),
        "nan": spark.createDataFrame(sc.parallelize(nan, 4), "id long, features array<double>"),
    }


def _bits(centroids):
    import numpy as np

    return np.asarray(centroids, dtype=np.float64).tobytes()


@pytest.mark.parametrize("variant", ["ties", "nan"])
@pytest.mark.parametrize("layout", ["one_block", "multi_block", "coalesce1"])
def test_farthest_point_init_matches_dataframe_reference(
    init_inputs, monkeypatch, layout, variant
):
    """The numpy init returns bit-identical picks to the DataFrame init
    it replaced, in one task (one block) and one job per pick (a 64 KiB
    block target, over several partitions or one)."""
    import kmeans_mapreduce_spark.operators.kmeans as K_mod

    df = init_inputs[variant]
    if layout == "coalesce1":
        df = df.coalesce(1)
    if layout != "one_block":
        monkeypatch.setattr(K_mod, "_BLOCK_TARGET_BYTES", 64 * 1024)
    for seed in (3, 11):
        got = farthest_point_init(df, 5, seed=seed)
        want = _farthest_point_init_df(df, 5, seed=seed)
        assert len(got) == len(want) == 5
        assert _bits(got) == _bits(want), (layout, variant, seed)


@pytest.mark.parametrize("layout", ["one_block", "multi_block"])
def test_farthest_point_init_job_count(points, monkeypatch, layout):
    """One block: the aggregate (which also yields the first pick) and
    one fused job for every other pick.  Multi-block: the aggregate plus
    one job per pick over the blocks, k in all."""
    import kmeans_mapreduce_spark.operators.kmeans as K_mod

    if layout == "multi_block":
        monkeypatch.setattr(K_mod, "_BLOCK_TARGET_BYTES", 64 * 1024)
    k = 4
    sc = points.sparkSession.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup())
    got = farthest_point_init(points, k, seed=5)
    jobs = set(sc.statusTracker().getJobIdsForGroup()) - before
    assert len(got) == k
    assert len(jobs) == (2 if layout == "one_block" else k), sorted(jobs)


@pytest.mark.parametrize("layout", ["one_block", "multi_block"])
def test_farthest_point_init_failure_releases_pack(points, monkeypatch, layout):
    """A pick job that raises leaves the session's persistent RDDs as
    they were: the init blocks are released on error."""
    import kmeans_mapreduce_spark.operators.kmeans as K_mod

    def boom(*_):
        raise RuntimeError("pick job failed")

    if layout == "multi_block":
        monkeypatch.setattr(K_mod, "_BLOCK_TARGET_BYTES", 64 * 1024)
    # the pick tasks resolve these names when their closure is pickled
    monkeypatch.setattr(K_mod, "_init_picks", boom)
    monkeypatch.setattr(K_mod, "_init_candidate", boom)
    sc = points.sparkSession.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception, match="pick job failed"):
        farthest_point_init(points, 3, seed=1)
    assert sc._jsc.getPersistentRDDs().size() == before


def test_farthest_point_init_empty_input(points):
    """An empty input raises a ValueError naming it, and persists
    nothing."""
    sc = points.sparkSession.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="empty"):
        farthest_point_init(points.where(F.col("id") < 0), 3)
    assert sc._jsc.getPersistentRDDs().size() == before


def test_regroup_sorts_pieces_by_global_offset():
    """A cut block is assembled in global row order whatever order the
    shuffle fetched its pieces in."""
    import numpy as np

    from kmeans_mapreduce_spark.operators.kmeans import _regroup

    X = np.arange(40.0).reshape(10, 4)
    cuts = [(0, 3), (3, 4), (4, 9), (9, 10)]
    pieces = [(2, lo, X[lo:hi].tobytes(), hi - lo) for lo, hi in cuts]
    out = list(_regroup(reversed(pieces), 4))
    assert len(out) == 1 and out[0][-1].tobytes() == X.tobytes()


@pytest.mark.parametrize("defect", ["widths", "null_row"])
def test_malformed_feature_rows_raise(spark, monkeypatch, defect):
    """A features row that is null, holds a null or holds other than
    ``dim`` values raises a ValueError naming the width where an Arrow
    batch becomes a matrix: in the one-block fit, the multi-block fit
    and the streaming update.  A null row that wins a fit's seeded
    first pick raises a ValueError too.  Unchecked, a 2-wide and a 4-wide row
    flatten to the right total and shift the rows between them into
    the wrong points, and the update's old DataFrame step dropped a
    null row without a word."""
    import kmeans_mapreduce_spark.operators.kmeans as K_mod
    from kmeans_mapreduce_spark.streaming.kmeans_stream import StreamingKMeansModel

    rows = [(i, [float(i), i + 0.5, -float(i)]) for i in range(40)]
    if defect == "widths":
        rows[2] = (2, [2.0, 2.5])
        rows[9] = (9, [9.0, 9.5, -9.0, 1.0])
    else:
        rows[5] = (5, None)
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), "id long, features array<double>"
    )
    init = [[0.0, 0.0, 0.0], [30.0, 30.0, -30.0]]
    for target in (K_mod._BLOCK_TARGET_BYTES, 256):  # one block, then four
        monkeypatch.setattr(K_mod, "_BLOCK_TARGET_BYTES", target)
        with pytest.raises(Exception, match="exactly 3 non-null values"):
            fit_kmeans_native(df, k=2, dim=3, initial_centroids=init)
    with pytest.raises(Exception, match="exactly 3 non-null values"):
        StreamingKMeansModel([list(c) for c in init]).update(df)
    if defect == "null_row":
        # seed 10 makes the null row (id 5) the seeded first pick, which
        # the fit's aggregate returns before any Arrow batch is read
        with pytest.raises(ValueError, match="non-null values: the first pick is null"):
            fit_kmeans_native(df, k=2, dim=3, seed=10)
