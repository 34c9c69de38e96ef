"""K-Means operator queries with exact DuckDB oracles.

Each SQL-expressible stage of the reference pipeline (SURVEY §2.2-2.4)
is exposed as a catalog query over the harness `embeddings` table, with
a *generated* oracle whose floating-point evaluation order matches the
Spark expression fold exactly (left-to-right per dimension), so value
hashes agree bit-for-bit before rounding even enters the picture.

Fixed test centroids: the first K points by vec_id (deterministic,
engine-agnostic, no RNG in the contract surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.functions.distance import argmin_sql, centroid_dists_sql
from kmeans_mapreduce_spark.operators.kmeans import (
    assign_clusters,
    compute_delta,
    recenter,
)
from kmeans_mapreduce_spark.sources.ingest import points_from_embeddings

K = 4
DIM = 64


def _fixed_centroids(spark: SparkSession, sf_dir: str, k: int = K) -> list[list[float]]:
    rows = (
        points_from_embeddings(spark, sf_dir, dim=None)
        .where(F.col("id") < k)
        .orderBy("id")
        .collect()
    )
    return [list(r["features"]) for r in rows]


# --- oracle SQL generators ------------------------------------------------

def _d2_sql(a: str, b: str, dim: int = DIM) -> str:
    """Σ (a[i]-b[i])^2 — explicit left-assoc chain == Spark's fold order."""
    return " + ".join(f"({a}[{i}]-{b}[{i}])*({a}[{i}]-{b}[{i}])" for i in range(1, dim + 1))


_ASSIGN_CTE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < {K}),
d AS (SELECT e.vec_id, cent.cid, {_d2_sql('e.v', 'cent.c')} AS d2 FROM e CROSS JOIN cent),
assign AS (
  SELECT vec_id, CAST(cid AS INT) AS cluster_id FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM d)
  WHERE rn = 1)
"""


def km_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Map/classify step (reference worker.go:288-304): nearest of K
    fixed centroids per point.  Broadcast-by-literal argmin — no join,
    no shuffle; at 100 TB this is a pure map stage over the scan."""
    pts = points_from_embeddings(spark, sf_dir, dim=DIM)
    cents = _fixed_centroids(spark, sf_dir)
    return assign_clusters(pts, cents).select(F.col("id").alias("vec_id"), "cluster_id")


KM_ASSIGN_SQL = _ASSIGN_CTE + "SELECT vec_id, cluster_id FROM assign"


def km_recenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combine+Reduce recenter (worker.go:169-189, 307-319; mean at
    master.go:590-596): per-cluster count and per-dimension mean.
    Partial aggregation shuffles k x (d+1) values per partition."""
    pts = points_from_embeddings(spark, sf_dir, dim=DIM)
    cents = _fixed_centroids(spark, sf_dir)
    rec = recenter(assign_clusters(pts, cents), DIM)
    cols = [F.round(F.col("mean")[i], 6).alias(f"m{i}") for i in range(DIM)]
    return rec.select("cluster_id", "cnt", *cols)


_MEAN_COLS = ", ".join(
    f"ROUND(SUM(v[{i + 1}]) / COUNT(*), 6) AS m{i}" for i in range(DIM)
)
KM_RECENTER_SQL = (
    _ASSIGN_CTE
    + f"""
SELECT cluster_id, COUNT(*) AS cnt, {_MEAN_COLS}
FROM assign JOIN e USING (vec_id)
GROUP BY cluster_id"""
)


def km_farthest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of farthest-point init (InitMap/InitCombine/InitReduce,
    worker.go:38-129): the point maximizing min distance to the K fixed
    centroids.  Distributed top-1 with id tiebreak."""
    pts = points_from_embeddings(spark, sf_dir, dim=DIM)
    cents = _fixed_centroids(spark, sf_dir)
    from kmeans_mapreduce_spark.operators.kmeans import _dist2_to_centroids

    dists = _dist2_to_centroids("features", cents)
    return (
        pts.select(F.col("id").alias("vec_id"), F.round(F.array_min(dists), 6).alias("min_d2"))
        .orderBy(F.desc("min_d2"), F.asc("vec_id"))
        .limit(1)
    )


_MIN_D2 = "LEAST(" + ", ".join(f"d{c}" for c in range(K)) + ")"
_D2_PER_CENT = ", ".join(
    f"({_d2_sql('e.v', f'c{c}.c')}) AS d{c}" for c in range(K)
)
KM_FARTHEST_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{", ".join(f"c{c} AS (SELECT embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id = {c})" for c in range(K))},
d AS (SELECT e.vec_id, {_D2_PER_CENT} FROM e {" ".join(f"CROSS JOIN c{c}" for c in range(K))})
SELECT vec_id, ROUND({_MIN_D2}, 6) AS min_d2
FROM d
ORDER BY {_MIN_D2} DESC, vec_id ASC
LIMIT 1
"""


def km_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence delta (master.go:569-576): mean Euclidean movement
    from the fixed centroids to their recentered means — i.e. one Lloyd
    step's delta.  Single scalar row."""
    pts = points_from_embeddings(spark, sf_dir, dim=DIM)
    cents = _fixed_centroids(spark, sf_dir)
    rec = recenter(assign_clusters(pts, cents), DIM).collect()
    new = [list(c) for c in cents]
    for r in rec:
        new[r["cluster_id"]] = list(r["mean"])
    return spark.createDataFrame([(round(compute_delta(cents, new), 6),)], "delta double")


_MOVE_SQL = " + ".join(
    f"(m.m{i}-cent.c[{i + 1}])*(m.m{i}-cent.c[{i + 1}])" for i in range(DIM)
)
_MEAN_FULL = ", ".join(f"SUM(v[{i + 1}]) / COUNT(*) AS m{i}" for i in range(DIM))
KM_DELTA_SQL = (
    _ASSIGN_CTE
    + f""",
means AS (
  SELECT cluster_id, {_MEAN_FULL}
  FROM assign JOIN e USING (vec_id)
  GROUP BY cluster_id)
SELECT ROUND(SUM(SQRT({_MOVE_SQL})) / {K}, 6) AS delta
FROM means m JOIN cent ON m.cluster_id = cent.cid
"""
)


def km_avg_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetAvgDistance/GetAvgDistanceOfSet (utils.go:57-86): mean nonzero
    pairwise Euclidean distance over the first 100 points.  O(n^2) debug
    metric — bounded subset, exactly like the reference only ever runs
    it on the (small) centroid set."""
    pts = points_from_embeddings(spark, sf_dir, dim=DIM).where(F.col("id") < 100)
    a = pts.select(F.col("id").alias("ida"), F.col("features").alias("va"))
    b = pts.select(F.col("id").alias("idb"), F.col("features").alias("vb"))
    from kmeans_mapreduce_spark.functions.distance import euclidean

    dist = euclidean("va", "vb")
    return (
        a.crossJoin(b)
        .where(F.col("ida") != F.col("idb"))
        .select(dist.alias("d"))
        .where(F.col("d") != 0.0)
        .agg(F.round(F.avg("d"), 6).alias("avg_dist"))
    )


KM_AVG_PAIRWISE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 100)
SELECT ROUND(AVG(d), 6) AS avg_dist FROM (
  SELECT SQRT({_d2_sql('a.v', 'b.v')}) AS d
  FROM e a CROSS JOIN e b WHERE a.vec_id != b.vec_id)
WHERE d != 0.0
"""


def ingest_typed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed projection S3 (utils.go:21-42): relational rows -> points.
    lineitem numeric cols become a 4-d feature vector; the output proves
    the projection (id derivation, dim, content checksum)."""
    from kmeans_mapreduce_spark.sources.ingest import points_from_columns

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "rid", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    pts = points_from_columns(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"], id_col="rid"
    )
    return pts.select(
        "id",
        F.size("features").alias("dim"),
        F.round(
            F.aggregate("features", F.lit(0.0), lambda s, v: s + v), 4
        ).alias("checksum"),
    )


INGEST_SQL = """
SELECT l_orderkey * 10 + l_linenumber AS id, 4 AS dim,
       ROUND(l_quantity + l_extendedprice + l_discount + l_tax, 4) AS checksum
FROM lineitem
"""


def km_reshape_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plot-prep dimensionality reshape (reference plot/plotter.go:114-137):
    average contiguous coordinate blocks to force d -> 2.  Lossy by
    design (the reference's choice; the principled alternative is PCA).
    Block j = mean(features[j*32 .. j*32+31]) for d=64 -> 2 blocks."""
    pts = points_from_embeddings(spark, sf_dir, dim=DIM)
    half = DIM // 2
    return pts.select(
        F.col("id").alias("vec_id"),
        F.round(
            F.aggregate(F.slice("features", 1, half), F.lit(0.0), lambda s, v: s + v)
            / half, 6,
        ).alias("x"),
        F.round(
            F.aggregate(F.slice("features", half + 1, half), F.lit(0.0), lambda s, v: s + v)
            / half, 6,
        ).alias("y"),
    )


_X_SUM = " + ".join(f"v[{i}]" for i in range(1, DIM // 2 + 1))
_Y_SUM = " + ".join(f"v[{i}]" for i in range(DIM // 2 + 1, DIM + 1))
KM_RESHAPE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id, ROUND(({_X_SUM}) / {DIM // 2}, 6) AS x,
       ROUND(({_Y_SUM}) / {DIM // 2}, 6) AS y
FROM e
"""


def km_avg_point_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetAvgDistance (reference utils/utils.go:57-75): per-point mean
    Euclidean distance to every other point, zero distances skipped —
    for the first 10 points (the reference only ever runs this on small
    sets; unbounded it is O(N^2))."""
    pts = points_from_embeddings(spark, sf_dir, dim=DIM)
    probes = pts.where(F.col("id") < 10).select(
        F.col("id").alias("vec_id"), F.col("features").alias("va")
    )
    others = pts.select(F.col("id").alias("idb"), F.col("features").alias("vb"))
    from kmeans_mapreduce_spark.functions.distance import euclidean

    d = euclidean("va", "vb")
    return (
        F.broadcast(probes)
        .crossJoin(others)
        .select("vec_id", d.alias("d"))
        .where(F.col("d") != 0.0)
        .groupBy("vec_id")
        .agg(F.round(F.avg("d"), 6).alias("avg_dist"))
    )


KM_AVG_POINT_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id, ROUND(AVG(d), 6) AS avg_dist FROM (
  SELECT a.vec_id AS vec_id, SQRT({_d2_sql('a.v', 'b.v')}) AS d
  FROM (SELECT * FROM e WHERE vec_id < 10) a CROSS JOIN e b)
WHERE d != 0.0
GROUP BY vec_id
"""


def kmeans_fit_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Lloyd loop at fact-table scale: 4-d standardized features
    from lineitem numerics (600k rows at sf0.1 — 300x the embeddings
    corpus).  Deterministic: z-score standardization, init = 4 lowest-id
    rows, 10-iteration cap.  Output: per-cluster size + rounded centroid.

    The scale story: the features are packed ONCE into the fit's numpy
    block cache; each iteration reads the blocks and ships k x (d+1)
    partials per block to the driver — bytes independent of N.
    Rows-only check (iterative); size/centroid invariants in tests.
    """
    from kmeans_mapreduce_spark.operators.kmeans import fit_kmeans_native
    from kmeans_mapreduce_spark.sources.ingest import points_from_columns

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "rid", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    # ONE DataFrame cache feeds stats + init + the block-build pass
    # (A/B'd in r15: un-cached, each consumer re-pays the
    # ensure_parallelism exchange and the bench-cold scan — 9.5s vs
    # ~4s cached; the cache-build first-touch cost now sits in the
    # bench warm-up where it belongs).  The Lloyd iterations themselves
    # read the numpy block cache, not this one.
    pts = points_from_columns(li, cols, id_col="rid").cache()
    try:
        # z-score per dimension: one tiny agg (materializes the cache),
        # then a map-side transform over the cached rows.
        stats = pts.select(
            *[F.avg(F.col("features")[i]).alias(f"m{i}") for i in range(4)],
            *[F.stddev_pop(F.col("features")[i]).alias(f"s{i}") for i in range(4)],
        ).collect()[0]
        mu = [float(stats[f"m{i}"]) for i in range(4)]
        sd = [float(stats[f"s{i}"]) for i in range(4)]
        z = F.array(
            *[(F.col("features")[i] - F.lit(mu[i])) / F.lit(sd[i]) for i in range(4)]
        )
        zpts = pts.select("id", z.alias("features"))
        # init = 4 lowest-id rows, z-scored on the driver (the top-4
        # read hits the cache).
        init = [
            [(float(x) - m) / s for x, m, s in zip(r["features"], mu, sd)]
            for r in pts.orderBy("id").limit(4).collect()
        ]
        res = fit_kmeans_native(
            zpts, k=4, dim=4, initial_centroids=init, max_iter=10,
            report_final=True,
        )
        # size report from the fit's own final assignment pass
        # (report_final) — one numpy pass instead of a separate
        # assign+groupBy+join over the corpus (r15 opt); c0 is driver
        # math on the converged centroids, exactly as before.
        # old path: centroid pre-rounded with PYTHON round (HALF_EVEN),
        # then F.round of the already-quantized value was an identity —
        # so plain round() reproduces c0 exactly
        rows = [
            (c, size, round(res.centroids[c][0], 6))
            for c, size in enumerate(res.final_counts)
            if size > 0  # groupBy reported occupied clusters only
        ]
        out = spark.createDataFrame(rows, "cluster_id int, size bigint, c0 double")
    finally:
        pts.unpersist()
    return out


def km_two_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained Lloyd steps with an exact SQL oracle.

    The full loop (kmeans_fit_native) is rows-only-checked because its
    iteration count is data-dependent; this query pins the iterative
    semantics themselves: assign -> recenter -> re-assign (against the
    computed means) -> recenter, all from the fixed first-K centroids.
    If the loop's per-iteration algebra drifted (tie-breaks, mean
    arithmetic, empty-cluster handling), this hash would catch it.
    Output: per-cluster count and first mean coordinate after step 2."""
    from kmeans_mapreduce_spark.operators.kmeans import (
        assign_clusters,
        recenter,
    )

    pts = points_from_embeddings(spark, sf_dir, dim=DIM)
    c0 = _fixed_centroids(spark, sf_dir)
    rec1 = recenter(assign_clusters(pts, c0), DIM).collect()
    c1 = [list(c) for c in c0]  # empty cluster keeps old (master.go:581)
    for r in rec1:
        # Quantize the intermediate centroids to 6dp: partial-agg sum
        # order differs across engines in the last ulp, and an
        # unquantized mean could flip a near-tie assignment in step 2.
        # km_recenter proves the rounded means hash-match, so rounded
        # c1 is bit-identical on both sides.
        c1[r["cluster_id"]] = [round(x, 6) for x in r["mean"]]
    out = recenter(assign_clusters(pts, c1), DIM)
    return out.select(
        "cluster_id", "cnt", F.round(F.col("mean")[0], 6).alias("m0")
    )


# Oracle: iteration 1's means become literal-free CTE columns; the
# iteration-2 distance expands over m0..m63 per cluster row.
_D2_TO_MEANS = " + ".join(f"(e.v[{i + 1}]-m.m{i})*(e.v[{i + 1}]-m.m{i})" for i in range(DIM))
KM_TWO_ITER_SQL = (
    _ASSIGN_CTE
    + f""",
means1 AS (
  SELECT cluster_id, {_MEAN_COLS}
  FROM assign JOIN e USING (vec_id)
  GROUP BY cluster_id),
d2 AS (
  SELECT e.vec_id, m.cluster_id AS cid, {_D2_TO_MEANS} AS d2
  FROM e CROSS JOIN means1 m),
assign2 AS (
  SELECT vec_id, CAST(cid AS INT) AS cluster_id FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM d2)
  WHERE rn = 1)
SELECT a.cluster_id, COUNT(*) AS cnt,
       ROUND(SUM(e.v[1]) / COUNT(*), 6) AS m0
FROM assign2 a JOIN e USING (vec_id)
GROUP BY a.cluster_id
"""
)


# --- end-to-end Lloyd loop with an exact oracle ----------------------------
#
# The flagship operator (reference master.go:123-236) oracled END-TO-END:
# quantize coordinates to integer milli-units (the ann_pq_fixed_topk
# recipe), fix the initial centroids (first K points), quantize every
# recentered mean back to integer milli-units with integer division, and
# run a BOUNDED number of Lloyd iterations.  Every assign -> recenter ->
# re-assign step is then exact integer arithmetic on BOTH engines — no
# floating-point accumulation order anywhere — so the full loop
# hash-matches a DuckDB oracle built by unrolling the same iterations as
# chained CTEs.  Early exit: integer centroids make the fixpoint exact;
# once cent_{t+1} == cent_t every later unrolled iteration is the
# identity, so Spark may stop at the fixpoint while the oracle "runs"
# all N — the final states agree by construction.

N_FIT_ITER = 10
_INT_OFFSET = 4096  # shifts milli-unit coords positive: integer division
#                     semantics (trunc vs floor) never diverge on >= 0


def kmeans_fit_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-semantics Lloyd loop, end-to-end, with an exact SQL
    oracle (integer-quantized coordinates, fixed first-K init, N=10
    bounded iterations, empty-cluster-keeps-old, argmin ties to the
    lowest cluster id — master.go:123-236 semantics minus the
    float-valued delta stop, replaced by the exact integer fixpoint).

    Output per non-empty final cluster: size, first two centroid
    coordinates (milli-units), and `stable` = whether the final
    iteration moved that centroid (the convergence signal, exact).

    Scale shape is the production loop's: the points frame is cached
    once; each iteration ships k x d integers down as a broadcast 1-row
    relation and k x (d+1) aggregates up (posexplode + partial agg, a
    d-independent plan); driver state is the k x d centroid matrix.
    Bytes per iteration are independent of N — same posture as
    kmeans_fit_native, now with a driver-checkable hash."""
    from pyspark.sql import types as T

    pts = (
        points_from_embeddings(spark, sf_dir, dim=DIM)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                "features",
                lambda x: F.floor(x * 1000).cast("bigint") + _INT_OFFSET,
            ).alias("v"),
        )
        .cache()
    )
    try:
        # The exact-oracle contract needs every quantized coordinate
        # >= 0 (floor-division == truncating // only on non-negatives).
        # Check it instead of assuming the data bound; this one-row agg
        # also warms the cache before the iteration loop.
        min_q = pts.agg(F.min(F.array_min("v")).alias("m")).collect()[0]["m"]
        if min_q is None or min_q < 0:
            raise ValueError(
                f"kmeans_fit_fixed: quantized coordinate {min_q} < 0 — "
                f"_INT_OFFSET={_INT_OFFSET} too small for this corpus; the "
                "integer-division oracle would diverge (floor vs trunc)"
            )
        cents = [
            list(r["v"])
            for r in pts.where(F.col("vec_id") < K).orderBy("vec_id").collect()
        ]
        cent_schema = T.StructType(
            [T.StructField("_C", T.ArrayType(T.ArrayType(T.LongType())))]
        )
        # iteration-invariant integer argmin (codegen cached, centroids
        # ride broadcast DATA — the assign_clusters_broadcast economics)
        assign_expr = F.expr(argmin_sql(centroid_dists_sql("v", "_C", zero="0L")))

        def _assigned(c: list[list[int]]) -> DataFrame:
            cent_df = spark.createDataFrame([(c,)], cent_schema)
            return pts.crossJoin(F.broadcast(cent_df)).withColumn(
                "cluster_id", assign_expr
            )

        prev = cents
        for _ in range(N_FIT_ITER):
            stats = (
                _assigned(cents)
                .select("cluster_id", F.posexplode("v").alias("pos", "x"))
                .groupBy("cluster_id", "pos")
                .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
                .collect()
            )
            new = [list(c) for c in cents]  # empty cluster keeps old
            for r in stats:
                # exact integer mean quantization; s >= 0 by the offset,
                # so floor == trunc and // matches both engines' div
                new[r["cluster_id"]][r["pos"]] = r["s"] // r["n"]
            prev, cents = cents, new
            if cents == prev:
                break  # exact fixpoint: further iterations are identity
        counts = (
            _assigned(cents).groupBy("cluster_id").agg(F.count("*").alias("cnt"))
        )
        cent_df = spark.createDataFrame(
            [
                (j, cents[j][0], cents[j][1], cents[j] == prev[j])
                for j in range(K)
            ],
            "cluster_id int, m0 bigint, m1 bigint, stable boolean",
        )
        out = (
            counts.join(cent_df, "cluster_id")
            .select("cluster_id", "cnt", "m0", "m1", "stable")
            .orderBy("cluster_id")
        )
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        pts.unpersist()
    return out


def _fit_fixed_sql(n_iter: int = N_FIT_ITER) -> str:
    """Unrolled-iteration oracle for kmeans_fit_fixed: one (distance,
    argmin-assign, recenter) CTE triple per Lloyd iteration, all in
    exact BIGINT arithmetic."""
    d2 = " + ".join(
        f"(p.v[{i + 1}]-c.m{i})*(p.v[{i + 1}]-c.m{i})" for i in range(DIM)
    )
    sums = ", ".join(f"SUM(p.v[{i + 1}]) AS s{i}" for i in range(DIM))
    init_cols = ", ".join(f"v[{i + 1}] AS m{i}" for i in range(DIM))
    upd = ", ".join(
        f"CAST(COALESCE(g.s{i} // g.n, c.m{i}) AS BIGINT) AS m{i}"
        for i in range(DIM)
    )
    # Every per-iteration CTE is MATERIALIZED: cent{t} is referenced
    # twice per level (distance + keep-old), so DuckDB's default CTE
    # inlining would expand the plan tree ~2.5x PER ITERATION (measured:
    # 0.3 / 0.6 / 1.6 s for 1/2/3 unrolled iterations, ~17 min at 10).
    # Materialization makes the oracle linear in n_iter.
    parts = [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS f FROM embeddings),",
        "p AS MATERIALIZED (SELECT vec_id, list_transform(f, x -> "
        f"CAST(FLOOR(x*1000) AS BIGINT) + {_INT_OFFSET}) AS v FROM e),",
        f"cent0 AS MATERIALIZED (SELECT CAST(vec_id AS INT) AS cid, {init_cols} "
        f"FROM p WHERE vec_id < {K}),",
    ]
    for t in range(n_iter):
        parts.append(
            f"d{t} AS MATERIALIZED (SELECT p.vec_id, c.cid, {d2} AS d2 "
            f"FROM p CROSS JOIN cent{t} c),"
        )
        parts.append(
            f"a{t} AS MATERIALIZED (SELECT vec_id, cid FROM (SELECT vec_id, cid, "
            "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC)"
            f" AS rn FROM d{t}) WHERE rn = 1),"
        )
        parts.append(
            f"g{t} AS MATERIALIZED (SELECT cid, COUNT(*) AS n, {sums} "
            f"FROM a{t} JOIN p USING (vec_id) GROUP BY cid),"
        )
        parts.append(
            f"cent{t + 1} AS MATERIALIZED (SELECT c.cid, {upd} "
            f"FROM cent{t} c LEFT JOIN g{t} g USING (cid)),"
        )
    parts.append(
        f"dF AS (SELECT p.vec_id, c.cid, {d2} AS d2 "
        f"FROM p CROSS JOIN cent{n_iter} c),"
    )
    parts.append(
        "aF AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, "
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC)"
        " AS rn FROM dF) WHERE rn = 1)"
    )
    stable = " AND ".join(f"cN.m{i} = cP.m{i}" for i in range(DIM))
    parts.append(
        f"SELECT cN.cid AS cluster_id, CAST(fc.cnt AS BIGINT) AS cnt, "
        f"cN.m0, cN.m1, ({stable}) AS stable "
        f"FROM cent{n_iter} cN "
        f"JOIN cent{n_iter - 1} cP ON cN.cid = cP.cid "
        "JOIN (SELECT cid, COUNT(*) AS cnt FROM aF GROUP BY cid) fc "
        "ON fc.cid = cN.cid "
        "ORDER BY cluster_id"
    )
    return "\n".join(parts)


KM_FIT_FIXED_SQL = _fit_fixed_sql()


# --- trained-fit invariants as driver-visible data --------------------------
#
# The trained paths (kmeans_fit_native/mllib, farthest-point init) are
# rows-only in the driver gate because their outputs are seed/iteration
# sensitive.  Their CONTRACTS, however, are deterministic booleans —
# Lloyd's monotone-descent guarantee, the stop rule, partition-sum
# bookkeeping, seeded-init reproducibility — so this query computes the
# invariant checks IN the engine (distributed aggregates; driver state
# is k x d centroids and a per-iteration scalar history) and returns one
# (check_name, ok) row per invariant.  The oracle is the trivial
# all-true VALUES table: a driver hash-match certifies the engine
# computed TRUE for every contract, every round, without needing a
# bit-exact oracle for the float-valued model itself.

_INVARIANT_CHECKS = (
    "cluster_ids_in_range",
    "converged_within_max_iter",
    "init_seed_reproducible",
    "one_more_step_non_increasing",
    "sizes_sum_to_n",
    "stop_rule_honored",
    "wssse_monotone",
)


def kmeans_fit_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certify the native Lloyd loop's contract invariants end-to-end
    (reference master.go:123-236 semantics) as driver-checkable rows:

    - cluster_ids_in_range: every final assignment id is in [0, K)
    - converged_within_max_iter: the reference stop rule fires before
      the 100-iteration cap on this corpus
    - init_seed_reproducible: two farthest-point inits with the same
      seed produce identical centroids (distributed max_by is
      deterministic, not a tie-broken race)
    - one_more_step_non_increasing: one extra full Lloyd step
      (assign + recenter, composed from the public operators) does not
      increase WSSSE — the monotone-descent guarantee holds across the
      fit/operator boundary, not just inside the fit loop
    - sizes_sum_to_n: final cluster sizes sum to |corpus|
    - stop_rule_honored: converged implies mean movement < tol, else
      iterations == max_iter
    - wssse_monotone: the per-iteration WSSSE history never increases
      (rel tol 1e-9 for float accumulation)

    Scale shape: each check is a distributed aggregate over the cached
    points (k-free or k x (d+1) shuffles — the fit loop's own posture);
    driver state is bounded by k x d + iteration count."""
    from kmeans_mapreduce_spark.operators.kmeans import (
        DELTA_THRESHOLD,
        ITERATION_THRESHOLD,
        _dist2_to_centroids,
        assign_clusters_broadcast,
        farthest_point_init,
        fit_kmeans_native,
    )

    pts = points_from_embeddings(spark, sf_dir, dim=DIM).cache()
    try:
        init = [
            list(r["features"])
            for r in pts.where(F.col("id") < K).orderBy("id").collect()
        ]
        res = fit_kmeans_native(
            pts,
            k=K,
            dim=DIM,
            initial_centroids=init,
            track_wssse=True,
        )
        n_total = pts.count()

        def _wssse(cents: list[list[float]]) -> float:
            return float(
                pts.agg(
                    F.sum(F.array_min(_dist2_to_centroids("features", cents)))
                ).collect()[0][0]
            )

        assigned = assign_clusters_broadcast(pts, res.centroids)
        size_rows = (
            assigned.groupBy("cluster_id").agg(F.count("*").alias("cnt")).collect()
        )
        # one extra full Lloyd step via the public operators
        stats = (
            assigned.select("cluster_id", F.posexplode("features").alias("pos", "x"))
            .groupBy("cluster_id", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        nxt = [list(c) for c in res.centroids]  # empty keeps old
        for r in stats:
            nxt[r["cluster_id"]][r["pos"]] = r["s"] / r["n"]
        w_final, w_next = _wssse(res.centroids), _wssse(nxt)

        hist = res.wssse_history
        # The seed-reproducibility check needs two INDEPENDENT inits
        # (caching one result would gut the check).  Each is 2 Spark
        # jobs, so they run serially: two driver threads measured no
        # faster.
        init_a = farthest_point_init(pts, K, 7)
        init_b = farthest_point_init(pts, K, 7)

        ok = {
            "cluster_ids_in_range": all(
                0 <= r["cluster_id"] < K for r in size_rows
            ),
            "converged_within_max_iter": bool(res.converged),
            "init_seed_reproducible": init_a == init_b,
            "one_more_step_non_increasing": w_next <= w_final * (1 + 1e-9),
            "sizes_sum_to_n": sum(r["cnt"] for r in size_rows) == n_total,
            "stop_rule_honored": (
                res.delta < DELTA_THRESHOLD
                if res.converged
                else res.iterations == ITERATION_THRESHOLD
            ),
            "wssse_monotone": all(
                hist[i + 1] <= hist[i] * (1 + 1e-9)
                for i in range(len(hist) - 1)
            ),
        }
    finally:
        pts.unpersist()
    assert set(ok) == set(_INVARIANT_CHECKS)
    return spark.createDataFrame(
        [(name, bool(ok[name])) for name in sorted(ok)],
        "check_name string, ok boolean",
    )


KM_FIT_INVARIANTS_SQL = (
    "SELECT check_name, ok FROM (VALUES "
    + ", ".join(f"('{c}', true)" for c in sorted(_INVARIANT_CHECKS))
    + ") t(check_name, ok) ORDER BY check_name"
)


_MLLIB_INVARIANT_CHECKS = (
    "lineitem_ids_in_range",
    "lineitem_k_clusters",
    "lineitem_sizes_sum_to_n",
    "mllib_ids_in_range",
    "mllib_k_centers",
    "mllib_no_empty_clusters",
    "mllib_seed_reproducible",
    "mllib_sizes_sum_to_n",
    "mllib_wssse_not_worse_than_native",
)


def mllib_fit_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`kmeans_fit_invariants` sibling for the two remaining rows-only
    fits — the MLlib fast path (catalog `kmeans_fit_mllib`) and the
    lineitem-featurized fit (catalog `kmeans_fit_lineitem`) — so every
    seed/iteration-sensitive path has an in-engine contract certificate:

    - mllib_k_centers / mllib_no_empty_clusters / mllib_ids_in_range /
      mllib_sizes_sum_to_n: the catalog-config MLlib fit (k=10,
      seed=42) returns exactly k centers FROM THE MODEL, assigns every
      id in [0, k) with no cluster left empty, and its cluster sizes
      account for the whole corpus
    - mllib_seed_reproducible: two k=4 fits with the same seed land on
      the same centroids (1e-9 max-abs tolerance — same-session
      aggregation order, not a bit-exactness claim across JVMs)
    - mllib_wssse_not_worse_than_native: on the SAME corpus and k,
      MLlib (k-means|| init, its own stop rule) must not end with
      higher WSSSE than the native loop's deterministic first-K-ids
      init — both costs computed by the SAME in-engine aggregate over
      each model's final centroids, so the comparison is init/loop
      quality, not cost-function skew
    - lineitem_k_clusters / lineitem_ids_in_range /
      lineitem_sizes_sum_to_n: the public lineitem query's 4-row
      output is structurally sound and its sizes sum to |lineitem|

    Scale shape: every check is a distributed aggregate over the cached
    points (the fits' own k x (d+1) posture); driver state is k x d
    centroid lists and the tiny per-cluster size rows."""
    from kmeans_mapreduce_spark.operators.kmeans import (
        _dist2_to_centroids,
        fit_kmeans_mllib,
        fit_kmeans_native,
    )

    pts = points_from_embeddings(spark, sf_dir, dim=DIM).cache()
    try:
        n_total = pts.count()
        # catalog-config structural contract (k=10, seed=42)
        model10, assigned10 = fit_kmeans_mllib(pts, k=10, seed=42)
        sizes10 = (
            assigned10.groupBy("cluster_id")
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        # k=4 pair: seed reproducibility + the native comparison.
        # The two fits are independent by construction (that is the
        # check), so they overlap from two driver threads (guide §2.6)
        # — MLlib's driver-paced iteration turnarounds backfill each
        # other; same jobs, ~half the wall in the compare pass (r16).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fut_a = pool.submit(fit_kmeans_mllib, pts, k=K, seed=7)
            fut_b = pool.submit(fit_kmeans_mllib, pts, k=K, seed=7)
            model_a, _ = fut_a.result()
            model_b, _ = fut_b.result()
        cents_a = [[float(x) for x in c] for c in model_a.clusterCenters()]
        cents_b = [[float(x) for x in c] for c in model_b.clusterCenters()]
        same_shape = len(cents_a) == len(cents_b) == K
        max_dev = max(
            abs(x - y)
            for ca, cb in zip(cents_a, cents_b)
            for x, y in zip(ca, cb)
        )
        init = [
            list(r["features"])
            for r in pts.where(F.col("id") < K).orderBy("id").collect()
        ]
        res = fit_kmeans_native(
            pts, k=K, dim=DIM, initial_centroids=init
        )

        def _wssse(cents: list[list[float]]) -> float:
            return float(
                pts.agg(
                    F.sum(F.array_min(_dist2_to_centroids("features", cents)))
                ).collect()[0][0]
            )

        w_mllib, w_native = _wssse(cents_a), _wssse(res.centroids)
        li_rows = kmeans_fit_lineitem(spark, sf_dir).collect()
        li_n = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

        ok = {
            "lineitem_ids_in_range": all(
                0 <= r["cluster_id"] < 4 for r in li_rows
            ),
            "lineitem_k_clusters": len(
                {r["cluster_id"] for r in li_rows}
            ) == 4,
            "lineitem_sizes_sum_to_n": sum(
                r["size"] for r in li_rows
            ) == li_n,
            "mllib_ids_in_range": all(
                0 <= r["cluster_id"] < 10 for r in sizes10
            ),
            # model-level center count vs assignment-level occupancy
            # are SEPARATE claims: 10 centers can coexist with an empty
            # cluster, and the failures read differently
            "mllib_k_centers": len(model10.clusterCenters()) == 10,
            "mllib_no_empty_clusters": len(
                {r["cluster_id"] for r in sizes10}
            ) == 10,
            "mllib_seed_reproducible": same_shape and max_dev < 1e-9,
            "mllib_sizes_sum_to_n": sum(r["cnt"] for r in sizes10)
            == n_total,
            "mllib_wssse_not_worse_than_native": w_mllib
            <= w_native * (1 + 1e-6),
        }
    finally:
        pts.unpersist()
    assert set(ok) == set(_MLLIB_INVARIANT_CHECKS)
    return spark.createDataFrame(
        [(name, bool(ok[name])) for name in sorted(ok)],
        "check_name string, ok boolean",
    )


MLLIB_FIT_INVARIANTS_SQL = (
    "SELECT check_name, ok FROM (VALUES "
    + ", ".join(f"('{c}', true)" for c in sorted(_MLLIB_INVARIANT_CHECKS))
    + ") t(check_name, ok) ORDER BY check_name"
)
