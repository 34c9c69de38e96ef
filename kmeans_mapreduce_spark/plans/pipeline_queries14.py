"""Round-10 pipeline queries (batch 28): production-knob ANN quality,
driver-visible bucketed co-location, and the remaining mixed-mime
codec-dispatch surfaces.

- ann_ivf_pq_recall: the recall-vs-brute calibration row the IVF-PQ
  path was missing — `ann_ivf_pq_topk` certifies the COMPOSITION at
  fixture parameters (4 cells, first-16 codebooks); this query runs the
  index at the PRODUCTION knobs (k_cells = ceil(sqrt(N)) coarse cells,
  genuinely TRAINED quantized centroids/codebooks, n_probe = 4) and
  reports recall@10 and the distance ratio against the exact brute
  ground truth — the ANN sibling of dedup_minhash_calibration.
- knn_graph_bucketed: the bucketed-by-cell co-location contract made
  driver-visible — write the assigned-cells frame through
  sources/bucketed.write_bucketed_table and run the SAME rank_cell_pairs
  consumer over the table-backed frame; the oracle is the fixture
  KNN_GRAPH_SQL, so the co-located build must hash-match the shuffle
  build (the zero-exchange plan itself stays pinned in
  tests/test_bucketed.py).
- mm_resize_pnm_mixed: the resize/thumbnail transform over MIXED P5/P6
  payloads — the transform path's channel-count dispatch (grayscale
  planes vs interleaved RGB) under a formula-recomputed oracle; the
  decode path got this in round 9, the raster MATH path gets it here.
- mm_pnm_tri_histogram: the corpus pixel histogram over all THREE real
  netpbm arms in one frame (P6 bytes, P5 bytes, P4 unpacked bits with
  padding cropped and PBM 1=black=0 / 0=white=255 semantics).

No analog in the reference (beyond-reference mandated surface); the
IVF machinery deliberately reuses the reference's K-Means assignment
semantics (worker.go:288-304) as index infrastructure, and the one-step
quantized Lloyd trainer mirrors the reference's recenter contract
(master.go:579-600) with floor-quantized means so both engines agree
bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.functions.distance import squared_euclidean
from kmeans_mapreduce_spark.operators import multimodal as MM
from kmeans_mapreduce_spark.plans.pipeline_queries import (
    _docs,
    _embs,
    _ivf_d2_sql,
)
from kmeans_mapreduce_spark.plans.pipeline_queries12 import _DIMS_CTE
from kmeans_mapreduce_spark.plans.pipeline_queries13 import (
    _POPCOUNT,
    _ipq_sub_d2_sql,
)


# --- IVF-PQ recall calibration at the production knobs ----------------------

_RQ_NQUERY = 50   # evaluation sample: first 50 vectors as queries
_RQ_K = 10        # recall@10
_RQ_NPROBE = 4    # probed coarse cells per query
_RQ_M = 8         # PQ subspaces (64 dims / 8)
_RQ_CODES = 16    # codewords per subspace
# probe levels the sweep traces; the shared oracle prefix ranks query
# cells to max(_SWEEP_PROBES), so the fixed-knob queries' n_probe must
# stay within it
_SWEEP_PROBES = (1, 2, 4, 8)
assert _RQ_NPROBE <= max(_SWEEP_PROBES)


def _floor_means(
    grouped: DataFrame, key_cols: list[str], pos_col: str, val_col: str
):
    """floor(mean) per (keys..., position) — the quantized one-Lloyd-step
    recenter both engines can replay exactly: inputs are integer-valued
    doubles, so the sum is exact at ANY accumulation order, the division
    is one correctly-rounded IEEE op on identical operands, and floor of
    that shared double is engine-agnostic.  (Unquantized float means
    would leak summation-order ulps into every downstream argmin.)"""
    return grouped.groupBy(*key_cols, pos_col).agg(
        F.floor(F.sum(val_col) / F.count("*")).cast("double").alias("c")
    )


# One training per corpus per process: the four calibration queries
# (recall, probe sweep, rerank recall, shortlist sweep) share ONE
# trained index by construction — training is a deterministic function
# of the corpus (fixed seeds, quantized one-step Lloyd), so the first
# query in a process trains and the rest reuse the k x d + m x 16 x d/m
# floats of driver state.  The DuckDB oracles still replay training
# per query (each is a self-contained full-pipeline certificate); this
# memo only removes the redundant Spark-side retraining when a gate or
# bench runs the family back-to-back.  Keyed by sf_dir (the stress
# harness trains its own corpus under a different key).
_TRAIN_MEMO: dict[str, tuple] = {}


def _trained_ivfpq(spark: SparkSession, sf_dir: str):
    """Shared trainer for the production-knob ANN calibration queries:
    integer-scaled vectors, one quantized Lloyd step for the
    ceil(sqrt(N)) coarse centroids AND the m=8 x 16 PQ codebooks
    (seeds = first-k corpus vectors / first-16 slices, recenter to
    floor(mean), empty keeps seed — the reference's keep-old rule,
    master.go:594-599).  Returns (e, cents, books, qs) with ``e``
    CACHED — the caller owns the unpersist once this returns; training
    failures unpersist before re-raising.  Deterministic per corpus,
    so results are memoized per sf_dir (see _TRAIN_MEMO)."""
    e = (
        _embs(spark, sf_dir)
        .select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * 1000).cast("double"),
            ).alias("v"),
        )
        .cache()
    )
    if sf_dir in _TRAIN_MEMO:
        return (e, *_TRAIN_MEMO[sf_dir])
    try:
        parts = _train_on(e)
    except BaseException:
        # the caller's try/finally only exists once we RETURN — an
        # assert or job failure mid-training must not leave e pinned
        e.unpersist()
        raise
    _TRAIN_MEMO[sf_dir] = parts
    return (e, *parts)


def _train_on(e: DataFrame):
    from kmeans_mapreduce_spark.operators import similarity as SIM
    from kmeans_mapreduce_spark.plans.pipeline_queries3 import assigned_cells

    n = e.count()
    kc = max(1, math.ceil(n**0.5))
    seeds = [
        list(r["v"])
        for r in e.where(F.col("vec_id") < kc).orderBy("vec_id").collect()
    ]
    assert len(seeds) == kc, f"need dense 0-based ids for {kc} seeds"
    head = [
        list(r["v"])
        for r in e.where(F.col("vec_id") < _RQ_CODES)
        .orderBy("vec_id")
        .collect()
    ]
    assert len(head) == _RQ_CODES
    sub = 64 // _RQ_M

    # one quantized Lloyd step for the coarse centroids (keep-old
    # seeds for empty cells)
    assigned = assigned_cells(e, seeds)
    cents = [list(s) for s in seeds]
    for r in _floor_means(
        assigned.select("cell", F.posexplode("v").alias("j", "x")),
        ["cell"],
        "j",
        "x",
    ).collect():
        cents[r["cell"]][r["j"]] = r["c"]

    # one quantized Lloyd step per PQ subspace (seed codebooks =
    # first-16 vectors' slices, the ann_pq fixture recipe)
    books0 = [
        [head[c][j * sub : (j + 1) * sub] for c in range(_RQ_CODES)]
        for j in range(_RQ_M)
    ]
    enc0 = e.select(
        "v", F.posexplode(SIM._pq_codes_expr("v", books0)).alias("j", "code")
    ).select(
        "j",
        "code",
        F.posexplode(
            F.slice(F.col("v"), F.col("j") * sub + 1, sub)
        ).alias("i", "x"),
    )
    books = [[list(cw) for cw in bj] for bj in books0]
    for r in _floor_means(enc0, ["j", "code"], "i", "x").collect():
        books[r["j"]][r["code"]][r["i"]] = r["c"]

    qs = [
        (r["vec_id"], list(r["v"]))
        for r in e.where(F.col("vec_id") < _RQ_NQUERY)
        .orderBy("vec_id")
        .collect()
    ]
    return cents, books, qs


def _brute_topk(e: DataFrame, qdf: DataFrame) -> DataFrame:
    """Exact brute top-10 per query by true d2 (integer-exact): the
    O(Q*N) ground-truth pass every ANN evaluation pays, Q a constant
    50-vector sample.  [query_id, neighbor_id, d2, rank]."""
    from pyspark.sql import Window

    d2 = squared_euclidean("qv", "v")
    w = Window.partitionBy("query_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    scored = e.join(
        F.broadcast(qdf), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), d2.alias("d2")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= _RQ_K
    )


def ann_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ retrieval quality at the PRODUCTION knobs: k_cells =
    ceil(sqrt(N)) coarse cells and m=8 x 16-codeword codebooks, each
    TRAINED by one quantized Lloyd step (seeds = first-k corpus vectors,
    assign, recenter to floor(mean), empty cells keep their seed — the
    reference's keep-old rule, master.go:594-599), then the composed
    prune -> ADC scan -> rank path from `ivf_pq_topk` at n_probe=4,
    scored against the exact brute-force top-10: per query, hits,
    recall@10, and the true-distance ratio (sum of TRUE d2 of the
    retrieved set over the brute top-|retrieved| — cardinality-matched
    so the ratio is >= 1 by prefix optimality even when the probed
    cells yield fewer than k candidates, and NULL when they yield
    none; 1.0 means perfect, the standard ANN quality readout).

    Exactness: vectors are integer-scaled (floor(x*1000)) and the
    trained centroids/codebooks floor-quantized, so every distance,
    argmin, LUT sum and both top-k rankings are exact integer
    arithmetic — bit-identical across engines (see _floor_means).  The
    oracle replays the ENTIRE pipeline including training, so this is a
    full-path certificate, not an invariants sketch.

    Scale shape: training is two bounded passes (broadcast-relation
    assignment per the measured >8-cell strategy, k x d + m x k x d/m
    floats of driver state — the Lloyd-loop budget); the query path is
    `ivf_pq_topk`'s FAISS layout (no raw vector crosses a shuffle after
    indexing); the brute side is O(Q*N) BY DESIGN with Q a constant
    50-query evaluation sample — ground truth always costs one bounded
    brute pass, at 100 TB exactly as here."""
    from kmeans_mapreduce_spark.operators import similarity as SIM

    e, cents, books, qs = _trained_ivfpq(spark, sf_dir)
    try:
        approx = SIM.ivf_pq_topk(
            e, cents, books, qs, k=_RQ_K, n_probe=_RQ_NPROBE,
            id_col="vec_id", vec_col="v",
        )
        qdf = spark.createDataFrame(qs, "query_id long, qv array<double>")
        brute = _brute_topk(e, qdf)

        hits = (
            brute.join(
                approx.select(
                    "query_id", "neighbor_id", F.col("rank").alias("arank")
                ),
                ["query_id", "neighbor_id"],
                "left",
            )
            .groupBy("query_id")
            .agg(F.count("arank").cast("int").alias("hits"))
        )
        # true d2 of the RETRIEVED set (the approx ranking may pick
        # compression-distorted neighbors — their true cost is what the
        # ratio audits); n_ret makes the denominator CARDINALITY-MATCHED
        # below — a probe set with fewer than k candidates compares
        # against the brute top-|retrieved|, so dist_ratio >= 1 holds by
        # the optimality of the brute prefix at every retrieval size
        sa = (
            approx.join(
                e.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("v").alias("nv"),
                ),
                "neighbor_id",
            )
            .join(F.broadcast(qdf), "query_id")
            .groupBy("query_id")
            .agg(
                F.count("*").alias("n_ret"),
                F.sum(squared_euclidean("qv", "nv")).alias("s_approx"),
            )
        )
        sb = (
            brute.join(sa.select("query_id", "n_ret"), "query_id")
            .where(F.col("rank") <= F.col("n_ret"))
            .groupBy("query_id")
            .agg(F.sum("d2").alias("s_brute"))
        )
        # LEFT joins: a query whose probed cells held NO candidates
        # still reports (hits=0, recall=0, dist_ratio NULL) instead of
        # vanishing from the output
        out = (
            hits.join(sa, "query_id", "left")
            .join(sb, "query_id", "left")
            .select(
                "query_id",
                "hits",
                F.round(F.col("hits") / F.lit(float(_RQ_K)), 6).alias(
                    "recall"
                ),
                F.round(
                    F.col("s_approx") / F.nullif(F.col("s_brute"), F.lit(0.0)),
                    6,
                ).alias("dist_ratio"),
            )
            .orderBy("query_id")
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        e.unpersist()


def _sub_d2_sql(a: str, b: str, sub: int = 8, j: str = "b.j") -> str:
    """8-dim subspace squared distance, left-assoc like the Spark
    expression (exact integer math here, so order is belt-and-braces)."""
    return " + ".join(
        f"({a}[{j}*{sub}+{i}] - {b}[{i}]) * ({a}[{j}*{sub}+{i}] - {b}[{i}])"
        for i in range(1, sub + 1)
    )


# Shared oracle prefix for the production-knob IVF-PQ calibration
# queries: training (quantized one-step Lloyd for cents + books),
# trained cell assignment, corpus codes, ranked query probe lists
# (qcellr keeps the probe rank so the sweep can slice it; the recall
# query filters to its fixed n_probe), per-query ADC LUTs, and the
# exact brute ground truth.
_IVFPQ_TRAINED_CTES = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id AS id,
         list_transform(embedding::DOUBLE[], x -> FLOOR(x*1000)) AS v
  FROM embeddings),
params AS (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS kc FROM e),
seeds AS MATERIALIZED (
  SELECT id AS cid, v AS sv FROM e WHERE id < (SELECT kc FROM params)),
sd AS (SELECT e.id, s.cid, {_ivf_d2_sql('e.v', 's.sv')} AS d2
       FROM e CROSS JOIN seeds s),
assign0 AS (  -- training assignment: nearest seed, lowest cid on ties
  SELECT id, cid FROM (
    SELECT id, cid,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rn
    FROM sd) WHERE rn = 1),
crec AS (  -- quantized recenter: floor(mean) per cell per dim
  SELECT a.cid, u.j, FLOOR(SUM(e.v[u.j]) / COUNT(*)) AS c
  FROM assign0 a JOIN e ON e.id = a.id, UNNEST(range(1, 65)) AS u(j)
  GROUP BY a.cid, u.j),
cagg AS (SELECT cid, list(c ORDER BY j) AS cv FROM crec GROUP BY cid),
cents AS MATERIALIZED (  -- keep-old: empty cells keep their seed
  SELECT s.cid, COALESCE(g.cv, s.sv) AS cv
  FROM seeds s LEFT JOIN cagg g ON g.cid = s.cid),
pseeds AS MATERIALIZED (SELECT id AS code, v FROM e WHERE id < {_RQ_CODES}),
sub AS (SELECT unnest(range({_RQ_M})) AS j),
enc0 AS (  -- seed codeword for (j, code) IS vector `code`'s j-th slice
  SELECT e.id, sb.j, p.code,
         {_ipq_sub_d2_sql('e.v', 'p.v', j='sb.j')} AS d2
  FROM e CROSS JOIN sub sb CROSS JOIN pseeds p),
code0 AS (
  SELECT id, j, code FROM (
    SELECT id, j, code,
           ROW_NUMBER() OVER (PARTITION BY id, j
                              ORDER BY d2 ASC, code ASC) AS rn
    FROM enc0) WHERE rn = 1),
brec AS (  -- per (subspace, code) quantized recenter over 8-dim slices
  SELECT c.j, c.code, u.i, FLOOR(SUM(e.v[c.j*8 + u.i]) / COUNT(*)) AS cw
  FROM code0 c JOIN e ON e.id = c.id, UNNEST(range(1, 9)) AS u(i)
  GROUP BY c.j, c.code, u.i),
bagg AS (SELECT j, code, list(cw ORDER BY i) AS cw FROM brec
         GROUP BY j, code),
books AS MATERIALIZED (  -- keep-old: empty (j, code) keeps its seed slice
  SELECT sb.j, p.code,
         COALESCE(g.cw, list_transform(range(1, 9),
                                       i -> p.v[sb.j*8 + i])) AS cw
  FROM sub sb CROSS JOIN pseeds p
  LEFT JOIN bagg g ON g.j = sb.j AND g.code = p.code),
cd AS (SELECT e.id, c.cid, {_ivf_d2_sql('e.v', 'c.cv')} AS d2
       FROM e CROSS JOIN cents c),
cell AS MATERIALIZED (  -- corpus: nearest trained cell
  SELECT id, cid AS cell FROM (
    SELECT id, cid,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rn
    FROM cd) WHERE rn = 1),
qcellr AS MATERIALIZED (  -- queries: ranked nearest trained cells
  SELECT id, cid AS cell, rn AS probe_rank FROM (
    SELECT id, cid,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rn
    FROM cd WHERE id < {_RQ_NQUERY}) WHERE rn <= {max(_SWEEP_PROBES)}),
enc AS (  -- corpus PQ codes under the TRAINED books
  SELECT e.id, b.j, b.code, {_sub_d2_sql('e.v', 'b.cw')} AS d2
  FROM e CROSS JOIN books b),
codes AS MATERIALIZED (
  SELECT id, j, code FROM (
    SELECT id, j, code,
           ROW_NUMBER() OVER (PARTITION BY id, j
                              ORDER BY d2 ASC, code ASC) AS rn
    FROM enc) WHERE rn = 1),
lut AS (  -- per-query ADC tables under the TRAINED books
  SELECT q.id AS query_id, b.j, b.code, {_sub_d2_sql('q.v', 'b.cw')} AS d2
  FROM e q CROSS JOIN books b WHERE q.id < {_RQ_NQUERY}),
bscored AS (
  SELECT q.id AS query_id, e.id AS neighbor_id,
         {_ivf_d2_sql('q.v', 'e.v')} AS d2
  FROM e q CROSS JOIN e WHERE q.id < {_RQ_NQUERY} AND q.id != e.id),
brute AS MATERIALIZED (
  SELECT query_id, neighbor_id, d2, rank FROM (
    SELECT query_id, neighbor_id, d2,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY d2 ASC, neighbor_id ASC) AS rank
    FROM bscored) WHERE rank <= {_RQ_K})"""


ANN_IVF_PQ_RECALL_SQL = _IVFPQ_TRAINED_CTES + f""",
qcell AS (  -- fixed evaluation knob: {_RQ_NPROBE} nearest cells
  SELECT id, cell FROM qcellr WHERE probe_rank <= {_RQ_NPROBE}),
cand AS (
  SELECT q.id AS query_id, c.id AS neighbor_id
  FROM qcell q JOIN cell c ON q.cell = c.cell AND q.id != c.id),
adc AS (
  SELECT cand.query_id, cand.neighbor_id, SUM(lut.d2) AS approx_d2
  FROM cand
  JOIN codes ON codes.id = cand.neighbor_id
  JOIN lut ON lut.query_id = cand.query_id
          AND lut.j = codes.j AND lut.code = codes.code
  GROUP BY cand.query_id, cand.neighbor_id),
approx AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY approx_d2 ASC, neighbor_id ASC) AS rank
  FROM adc) WHERE rank <= {_RQ_K}),
perq AS (
  SELECT b.query_id, COUNT(a.neighbor_id) AS hits
  FROM brute b LEFT JOIN approx a
    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
  GROUP BY b.query_id),
strue AS MATERIALIZED (  -- true d2 of the retrieved set + its size
  SELECT a.query_id, COUNT(*) AS n_ret,
         SUM({_ivf_d2_sql('q.v', 'n.v')}) AS s_approx
  FROM approx a JOIN e q ON q.id = a.query_id
  JOIN e n ON n.id = a.neighbor_id
  GROUP BY a.query_id),
sbrute AS (  -- cardinality-matched denominator: brute top-|retrieved|
  SELECT b.query_id, SUM(b.d2) AS s_brute
  FROM brute b JOIN strue s
    ON s.query_id = b.query_id AND b.rank <= s.n_ret
  GROUP BY b.query_id)
SELECT p.query_id,
       CAST(p.hits AS INT) AS hits,
       ROUND(p.hits / {float(_RQ_K)}, 6) AS recall,
       ROUND(s.s_approx / NULLIF(sb.s_brute, 0), 6) AS dist_ratio
FROM perq p
LEFT JOIN strue s ON s.query_id = p.query_id
LEFT JOIN sbrute sb ON sb.query_id = p.query_id
ORDER BY p.query_id
"""


# --- bucketed co-location, driver-visible -----------------------------------

def knn_graph_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed-by-cell co-location contract as a catalog row: the
    assigned-cells frame (4-cell fixture, matching KNN_GRAPH_SQL) is
    WRITTEN through sources/bucketed.write_bucketed_table into the
    session warehouse and the SAME rank_cell_pairs consumer runs over
    the table-backed frame — so the co-located build must hash-match
    the shuffle build's edge set exactly.  The zero-hash-exchange plan
    shape stays pinned in tests/test_bucketed.py; this row makes the
    RESULT contract driver-visible (write path + bucketed scan + join
    + rank, end to end).

    Scale shape: this IS the 100 TB layout — the corpus is written
    bucketed-by-cell once, and every downstream within-cell self-join
    (k-NN graph, SemDeDup, ANN verify) reads co-located buckets with
    no exchange before the rank window's.

    Warehouse note: the table name carries a per-process suffix
    (``knn_cells_bucketed_q_<pid>``), so two drivers sharing one
    warehouse dir cannot race the overwrite pre-clean against each
    other's active reader; within one driver, re-runs overwrite their
    own table, and each run first reaps tables/dirs left by DEAD pids
    (best-effort: a recycled pid defers that entry's cleanup to a
    later run — see reap_stale_pid_tables), so warehouse copies stay
    bounded by the handful of live-or-recycled pid entries instead of
    growing with driver churn."""
    import os

    from kmeans_mapreduce_spark.plans.kmeans_queries import _fixed_centroids
    from kmeans_mapreduce_spark.plans.pipeline_queries3 import (
        assigned_cells,
        rank_cell_pairs,
    )
    from kmeans_mapreduce_spark.sources.bucketed import (
        reap_stale_pid_tables,
        write_bucketed_table,
    )

    e = _embs(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    assigned = assigned_cells(e, _fixed_centroids(spark, sf_dir, k=4))
    # legacy_names: the pre-rename fixed-name table/dir a pre-round-12
    # run may have left — the pid-suffix glob never matches it, so
    # without the exact-name sweep that copy leaks forever
    reap_stale_pid_tables(
        spark, "knn_cells_bucketed_q_", legacy_names=("knn_cells_bucketed_q",)
    )
    tbl = write_bucketed_table(
        assigned, f"knn_cells_bucketed_q_{os.getpid()}", "cell", n_buckets=8
    )
    return rank_cell_pairs(tbl, k_neighbors=3)


# --- mixed-mime resize -------------------------------------------------------

def mm_resize_pnm_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode -> nearest-neighbor resize over MIXED P5/P6 payloads
    (odd media_ids grayscale, even RGB): the transform path's
    channel-count branch — raster reshape, NN index math, per-plane
    sums — exercised where it can actually break, under the formula
    oracle.  thumb_c0 is the channel-0 plane sum (== thumb_sum for
    grayscale, the R-plane for RGB), so a dispatch bug that runs a P5
    raster through the 3-channel reshape (or vice versa) breaks both
    columns, not just the total."""
    media = MM.attach_pnm_mixed_payload(_docs(spark, sf_dir), "doc_id", "text")
    res = MM.resize_media(media, max_side=8)
    return res.select(
        "media_id",
        "width",
        "height",
        "thumb_width",
        "thumb_height",
        F.col("thumb_feature")[0].cast("bigint").alias("thumb_c0"),
        F.col("thumb_feature")[3].cast("bigint").alias("thumb_sum"),
    )


MM_RESIZE_PNM_MIXED_SQL = (
    _DIMS_CTE
    + """,
t AS (
  SELECT media_id, w, h,
         CASE WHEN media_id % 2 = 1 THEN 1 ELSE 3 END AS ch,
         greatest(1, (w * 8) // greatest(w, h)) AS tw,
         greatest(1, (h * 8) // greatest(w, h)) AS th
  FROM d)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(tw AS INT) AS thumb_width,
       CAST(th AS INT) AS thumb_height,
       -- NN thumb pixel p: ty = p//tw, tx = p%tw, sy = ty*h//th,
       -- sx = tx*w//tw; channel-0 byte offset = ch*(sy*w + sx)
       CAST(list_sum(list_transform(range(0, tw * th),
            p -> (media_id * 7
                  + ch * ((((p // tw) * h) // th) * w
                          + ((p % tw) * w) // tw)) % 256)) AS BIGINT)
         AS thumb_c0,
       -- all channels: byte k -> pixel p = k//ch, channel c = k%ch
       CAST(list_sum(list_transform(range(0, ch * tw * th),
            k -> (media_id * 7
                  + ch * (((((k // ch) // tw) * h) // th) * w
                          + (((k // ch) % tw) * w) // tw)
                  + k % ch) % 256)) AS BIGINT) AS thumb_sum
FROM t
"""
)


# --- tri-mime pixel histogram ------------------------------------------------

def mm_pnm_tri_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus pixel histogram over ALL THREE real netpbm arms in one
    frame (media_id % 3 cycles P6 / P5 / P4): the P6/P5 arms bin raw
    raster bytes, the P4 arm unpacks bits, crops the row padding, and
    bins them as gray levels per the PBM convention (1 = black = 0,
    0 = white = 255) — so P4 pixels land ONLY in buckets 0 and 15 and
    any padding leak or inverted-bit bug moves exactly those buckets.
    The oracle re-derives byte buckets from the generative formula and
    the bit counts from the padding-masked popcount."""
    media = MM.attach_pnm_tri_payload(_docs(spark, sf_dir), "doc_id", "text")
    return MM.ppm_pixel_histogram(media, n_buckets=16)


MM_PNM_TRI_HISTOGRAM_SQL = (
    _DIMS_CTE
    + """
, c AS (
  SELECT media_id, w, h,
         CASE WHEN media_id % 3 = 0 THEN 3
              WHEN media_id % 3 = 1 THEN 1
              ELSE 0 END AS ch
  FROM d),
bytepx AS (  -- P6/P5 arms: raw raster bytes
  SELECT CAST(((media_id * 7 + u.i) % 256) // 16 AS INT) AS bucket,
         COUNT(*) AS n
  FROM c, UNNEST(range(0, ch * w * h)) AS u(i)
  WHERE ch > 0
  GROUP BY 1),
p AS (SELECT media_id, w, h, (w + 7) // 8 AS bpr, w % 8 AS rem
      FROM d WHERE media_id % 3 = 2),
bts AS (  -- P4 arm: packed bytes, row-tail padding masked
  SELECT ((p.media_id * 7 + u.i) % 256)
         & (CASE WHEN (u.i % p.bpr) = p.bpr - 1 AND p.rem > 0
                 THEN 256 - CAST(POW(2, 8 - p.rem) AS INT)
                 ELSE 255 END) AS m
  FROM p, UNNEST(range(0, p.bpr * p.h)) AS u(i)),
bitpx AS (  -- set bit = black = gray 0 (bucket 0), clear = white = 255
  SELECT 0 AS bucket, COALESCE(SUM({pop}), 0) AS n FROM bts
  UNION ALL
  SELECT 15 AS bucket,
         COALESCE((SELECT SUM(CAST(w AS BIGINT) * h) FROM p), 0)
         - COALESCE((SELECT SUM({pop}) FROM bts), 0) AS n)
SELECT CAST(bucket AS INT) AS bucket, CAST(SUM(n) AS BIGINT) AS n_px
FROM (SELECT bucket, n FROM bytepx UNION ALL
      SELECT bucket, n FROM bitpx)
GROUP BY bucket
HAVING SUM(n) > 0
ORDER BY bucket
""".replace("{pop}", _POPCOUNT)
)


# --- batch 29: the production tuning curves ----------------------------------

def ann_ivf_pq_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The n_probe tuning curve — the artifact an IVF-PQ operator
    actually reads before picking the production probe count: for
    n_probe in 1/2/4/8 over the SAME trained index (`_trained_ivfpq`),
    mean candidates scanned per query (the cost axis) and mean
    recall@10 vs the exact brute ground truth (the quality axis).
    `ann_ivf_pq_recall` reports per-query quality at one knob; this
    query traces the whole cost/quality frontier in one pass.

    One ADC scan at the WIDEST probe depth serves every level: each
    candidate carries the probe rank of its cell, so level p is the
    filter probe_rank <= p — no per-level rescans (prefix-monotone
    probe sets, the same trick an IVF implementation uses to expose
    its own sweep).  All arithmetic integer-exact as in the recall
    query; means divide integer totals by the constant query count, so
    rounding agrees across engines.

    Reading the curve on this corpus: recall FALLS as n_probe grows
    (0.334 at 1 probe -> 0.280 at 8 on sf0.01) — not a bug but the
    classic quantization-limited regime: the one-step-trained 8x16
    codebooks carry enough ADC distortion (dist_ratio ~1.13 in
    `ann_ivf_pq_recall`) that each extra probed cell adds mostly
    noise candidates which outrank true neighbors under approximate
    distance.  The actionable conclusion a pipeline draws from this
    exact shape: spend on codebook quality (more Lloyd steps, more
    codewords, or re-ranking by true distance), not on probes."""
    from kmeans_mapreduce_spark.operators import similarity as SIM
    from pyspark.sql import Window

    e, cents, books, qs = _trained_ivfpq(spark, sf_dir)
    try:
        # the SAME building blocks + candidate/ADC assembly ivf_pq_topk
        # uses (similarity.ivf_pq_adc_scores — one home for tie-breaks,
        # LUT math AND the rounding policy), just probed to the widest
        # sweep level so probe_rank slices every level out
        indexed, qcells, lut = SIM.ivf_pq_index_parts(
            e, cents, books, qs,
            max_probe=max(_SWEEP_PROBES), id_col="vec_id", vec_col="v",
        )
        adc = SIM.ivf_pq_adc_scores(
            indexed, qcells, lut, carry_probe_rank=True
        )
        levels = spark.createDataFrame(
            [(p,) for p in _SWEEP_PROBES], "n_probe int"
        )
        lev = adc.join(
            F.broadcast(levels), F.col("probe_rank") <= F.col("n_probe")
        )
        w = Window.partitionBy("n_probe", "query_id").orderBy(
            F.asc("approx_d2"), F.asc("neighbor_id")
        )
        ranked = lev.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= _RQ_K
        )
        qdf = spark.createDataFrame(qs, "query_id long, qv array<double>")
        brute = _brute_topk(e, qdf).select("query_id", "neighbor_id")
        hitsq = (
            ranked.join(brute, ["query_id", "neighbor_id"])
            .groupBy("n_probe")
            .agg(F.count("*").alias("hits"))
        )
        candsq = lev.groupBy("n_probe").agg(F.count("*").alias("n_cand"))
        out = (
            levels.join(candsq, "n_probe", "left")
            .join(hitsq, "n_probe", "left")
            .select(
                "n_probe",
                F.round(
                    F.coalesce(F.col("n_cand"), F.lit(0)).cast("double")
                    / F.lit(float(_RQ_NQUERY)),
                    6,
                ).alias("mean_candidates"),
                F.round(
                    F.coalesce(F.col("hits"), F.lit(0)).cast("double")
                    / F.lit(float(_RQ_NQUERY * _RQ_K)),
                    6,
                ).alias("mean_recall"),
            )
            .orderBy("n_probe")
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        e.unpersist()


ANN_IVF_PQ_PROBE_SWEEP_SQL = _IVFPQ_TRAINED_CTES + f""",
candr AS (  -- widest probe depth; each candidate keeps its probe rank
  SELECT q.id AS query_id, q.probe_rank, c.id AS neighbor_id
  FROM qcellr q JOIN cell c ON q.cell = c.cell AND q.id != c.id),
adcr AS MATERIALIZED (
  SELECT candr.query_id, candr.neighbor_id, candr.probe_rank,
         SUM(lut.d2) AS approx_d2
  FROM candr
  JOIN codes ON codes.id = candr.neighbor_id
  JOIN lut ON lut.query_id = candr.query_id
          AND lut.j = codes.j AND lut.code = codes.code
  GROUP BY candr.query_id, candr.neighbor_id, candr.probe_rank),
levels AS (SELECT * FROM (VALUES {", ".join(f"({p})" for p in _SWEEP_PROBES)}) AS t(n_probe)),
lev AS MATERIALIZED (
  SELECT l.n_probe, a.query_id, a.neighbor_id, a.approx_d2
  FROM levels l JOIN adcr a ON a.probe_rank <= l.n_probe),
ranked AS (
  SELECT n_probe, query_id, neighbor_id FROM (
    SELECT n_probe, query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY n_probe, query_id
                              ORDER BY approx_d2 ASC, neighbor_id ASC) AS rank
    FROM lev) WHERE rank <= {_RQ_K}),
hitsq AS (
  SELECT r.n_probe, COUNT(*) AS hits
  FROM ranked r JOIN brute b
    ON b.query_id = r.query_id AND b.neighbor_id = r.neighbor_id
  GROUP BY r.n_probe),
candsq AS (SELECT n_probe, COUNT(*) AS n_cand FROM lev GROUP BY n_probe)
SELECT CAST(l.n_probe AS INT) AS n_probe,
       ROUND(CAST(COALESCE(c.n_cand, 0) AS DOUBLE) / {_RQ_NQUERY}, 6)
         AS mean_candidates,
       ROUND(CAST(COALESCE(h.hits, 0) AS DOUBLE) / {_RQ_NQUERY * _RQ_K}, 6)
         AS mean_recall
FROM levels l
LEFT JOIN candsq c ON c.n_probe = l.n_probe
LEFT JOIN hitsq h ON h.n_probe = l.n_probe
ORDER BY n_probe
"""


_BAND_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))
_BS_T = 0.5
_BS_SAMPLE = 2000  # id-prefix calibration sample (whole corpus at sf<=0.01)


def dedup_minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding tuning curve — the dedup sibling of the probe
    sweep: over ONE 16-permutation portable signature set, every
    bands x rows factorization (16x1, 8x2, 4x4, 2x8) generates its own
    candidate pairs; each config reports candidate volume (the cost
    axis), true pairs among them at Jaccard >= 0.5, precision, and
    recall vs the exact ground-truth positive count (the quality axis).
    Shallow bands over-generate (high recall, low precision); deep
    bands under-generate — this row IS the curve a production pipeline
    reads before fixing its banding.

    Scale shape: signatures once (one narrow pass over stored shingle
    arrays); candidates from banded equi self-joins, never all-pairs;
    exact Jaccard verification on the DISTINCT union of candidates
    across configs only.  The ground-truth positive count comes from
    the prefix-filtered PPJoin operator (ngram_jaccard_pairs at t=0.5)
    — a 1-row broadcast onto the 4-row output; the all-pairs scan
    exists ONLY in the DuckDB oracle.  The audit runs on a bounded
    _BS_SAMPLE-doc id-prefix sample — calibration is a sampling
    activity, and the shallow 16x1 config's candidate mass (already
    40k pairs at 500 docs) grows ~quadratically in corpus size, which
    is precisely the cost this curve exists to expose, not to pay."""
    from kmeans_mapreduce_spark.operators import dedup as DD
    from kmeans_mapreduce_spark.plans.pipeline_queries13 import (
        portable_minhash_sigs,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < _BS_SAMPLE)
    sh = DD._shingle_frame(docs, "doc_id", "text", n=2).cache()
    sig = cands = None
    try:
        # cached: the banded frame feeds BOTH sides of the self-join —
        # without the barrier the 16-permutation signature pipeline
        # evaluates twice (the calibration sibling caches for the same
        # reason)
        sig = portable_minhash_sigs(sh).cache()
        entries = []
        for bands, rows in _BAND_CONFIGS:
            for b in range(bands):
                entries.append(
                    F.struct(
                        F.lit(bands).alias("bands"),
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[b * rows + r].cast("string")
                                for r in range(rows)
                            ],
                        ).alias("key"),
                    )
                )
        banded = sig.select(
            "id", F.explode(F.array(*entries)).alias("bk")
        ).select("id", "bk.bands", "bk.band", "bk.key")
        a, b = banded.alias("a"), banded.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.bands") == F.col("b.bands"))
                & (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.bands").alias("bands"),
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
            )
            .distinct()
            .cache()
        )
        # exact Jaccard ONCE per distinct candidate pair (configs share
        # pairs heavily: a 16x1 candidate is a superset generator)
        pairs = cands.select("id_a", "id_b").distinct()
        jac = F.round(
            F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
            / F.size(F.array_union(F.col("sa"), F.col("sb"))).cast("double"),
            6,
        )
        jpairs = (
            pairs.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sa"}), "id_a")
            .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sb"}), "id_b")
            .select("id_a", "id_b", jac.alias("jaccard"))
        )
        scored = cands.join(jpairs, ["id_a", "id_b"])
        # ground truth via the production PPJoin path (no all-pairs)
        npos = DD.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=_BS_T, n=2
        ).agg(F.count("*").alias("n_pos"))
        # carry (bands, rows) PAIRS like the SQL VALUES list — deriving
        # rows as 16/bands would silently misreport if the perm count
        # or a config ever changed
        cfg = spark.createDataFrame(
            list(_BAND_CONFIGS), "bands int, rows_per_band int"
        )
        agg = scored.groupBy("bands").agg(
            F.count("*").alias("n_candidates"),
            F.count_if(F.col("jaccard") >= _BS_T).alias("true_pairs"),
        )
        out = (
            cfg.join(agg, "bands", "left")
            .crossJoin(F.broadcast(npos))
            .select(
                "bands",
                "rows_per_band",
                F.coalesce(F.col("n_candidates"), F.lit(0))
                .cast("bigint")
                .alias("n_candidates"),
                F.coalesce(F.col("true_pairs"), F.lit(0))
                .cast("bigint")
                .alias("true_pairs"),
                F.col("n_pos").cast("bigint").alias("n_pos"),
                F.round(
                    F.col("true_pairs").cast("double")
                    / F.nullif(F.col("n_candidates"), F.lit(0)),
                    6,
                ).alias("prec"),
                F.round(
                    F.coalesce(F.col("true_pairs"), F.lit(0)).cast("double")
                    / F.nullif(F.col("n_pos"), F.lit(0)),
                    6,
                ).alias("recall"),
            )
            .orderBy("bands")
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        if sig is not None:
            sig.unpersist()
        if cands is not None:
            cands.unpersist()
        sh.unpersist()


def _band_sweep_sql() -> str:
    from kmeans_mapreduce_spark.plans.pipeline_queries import _JACCARD_CTE
    from kmeans_mapreduce_spark.plans.pipeline_queries13 import (
        PORTABLE_SIGS_CTE,
    )

    # pairs is referenced twice (candidate verify + ground truth) —
    # MATERIALIZE it or DuckDB recomputes the all-pairs join per use;
    # and the same id-prefix calibration sample as the Spark side.
    # Assert each patch LANDED: a silent no-op here (someone reformats
    # _JACCARD_CTE) would drop the sample filter and diverge engines
    # with nothing but a hash mismatch to debug.
    jcte = _JACCARD_CTE.replace("pairs AS (", "pairs AS MATERIALIZED (", 1)
    assert jcte != _JACCARD_CTE, "MATERIALIZED patch missed pairs CTE"
    sampled = jcte.replace(
        "FROM documents WHERE NOT (",
        f"FROM documents WHERE doc_id < {_BS_SAMPLE} AND NOT (",
        1,
    )
    assert sampled != jcte, "sample-filter patch missed the t CTE"
    jcte = sampled
    return (
        jcte
        + PORTABLE_SIGS_CTE
        + f""",
cfg AS (SELECT * FROM (VALUES (16, 1), (8, 2), (4, 4), (2, 8))
        AS t(bands, rpb)),
bnd AS (
  SELECT g.doc_id, c.bands,
         bb.b,
         array_to_string(list_transform(range(c.rpb),
             r -> CAST(g.sig[bb.b*c.rpb + r + 1] AS VARCHAR)), ',') AS key
  FROM sigs g CROSS JOIN cfg c, UNNEST(range(c.bands)) AS bb(b)),
cand AS MATERIALIZED (
  SELECT DISTINCT a.bands, a.doc_id AS id_a, b.doc_id AS id_b
  FROM bnd a JOIN bnd b
    ON a.bands = b.bands AND a.b = b.b AND a.key = b.key
   AND a.doc_id < b.doc_id),
scoredc AS (
  SELECT c.bands, p.jaccard
  FROM cand c JOIN pairs p ON p.id_a = c.id_a AND p.id_b = c.id_b),
npos AS (SELECT COUNT(*) AS n_pos FROM pairs WHERE jaccard >= {_BS_T}),
agg AS (
  SELECT bands, COUNT(*) AS n_candidates,
         COUNT(*) FILTER (WHERE jaccard >= {_BS_T}) AS true_pairs
  FROM scoredc GROUP BY bands)
SELECT CAST(c.bands AS INT) AS bands,
       CAST(c.rpb AS INT) AS rows_per_band,
       CAST(COALESCE(a.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(a.true_pairs, 0) AS BIGINT) AS true_pairs,
       CAST(n.n_pos AS BIGINT) AS n_pos,
       ROUND(CAST(a.true_pairs AS DOUBLE) / NULLIF(a.n_candidates, 0), 6)
         AS prec,
       ROUND(CAST(COALESCE(a.true_pairs, 0) AS DOUBLE)
             / NULLIF(n.n_pos, 0), 6) AS recall
FROM cfg c CROSS JOIN npos n
LEFT JOIN agg a ON a.bands = c.bands
ORDER BY bands
"""
    )


MINHASH_BAND_SWEEP_SQL = _band_sweep_sql()


# --- exact re-ranking: the fix the probe sweep prescribes --------------------

_RR_SHORTLIST = 50


def ann_ivf_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refine stage, calibrated: same trained index and probes as
    `ann_ivf_pq_recall`, but the ADC scan now produces a 50-candidate
    shortlist whose TRUE distances re-rank the final top-10
    (`operators/similarity.ivf_pq_topk_rerank` — FAISS's refine).  Per
    query: hits and recall@10 for the pure-ADC top-10 AND the reranked
    top-10 side by side — the before/after row that closes the loop
    `ann_ivf_pq_probe_sweep` opens (its falling curve diagnoses
    quantization-limited ranking; this row shows the rerank recovering
    the recall the codebooks lose, since recall becomes shortlist-
    coverage-bounded instead of quantization-error-bounded).

    One compressed scan serves both legs: the ADC top-10 is the
    shortlist's rank<=10 prefix, the rerank reads raw vectors for the
    |queries| x 50 shortlist only (a broadcast-joinable sliver — at
    100 TB the corpus is never read at full width).  All arithmetic
    integer-exact as in the siblings.

    Measured on sf0.01: mean recall 0.312 (ADC) -> 0.638 (reranked) —
    the rerank recovers everything the codebooks lose inside the
    shortlist; the residual gap is probe COVERAGE (true neighbors
    outside the 4 probed cells), the axis the probe sweep prices.
    Per query, hits_rerank >= hits_adc holds by construction: the
    true-top members of the shortlist are exactly its smallest true
    distances, so exact re-ranking can only surface more of them."""
    from kmeans_mapreduce_spark.operators import similarity as SIM

    e, cents, books, qs = _trained_ivfpq(spark, sf_dir)
    try:
        shortlist = SIM.ivf_pq_topk(
            e, cents, books, qs,
            k=_RR_SHORTLIST, n_probe=_RQ_NPROBE,
            id_col="vec_id", vec_col="v",
        )
        qdf = spark.createDataFrame(qs, "query_id long, qv array<double>")
        # the shared refine stage (operators/similarity.exact_rerank) —
        # same fold order / rounding / tie-break as every *_rerank
        rerank = SIM.exact_rerank(
            shortlist, e, qs, k=_RQ_K, id_col="vec_id", vec_col="v"
        ).select("query_id", "neighbor_id")
        adc10 = shortlist.where(F.col("rank") <= _RQ_K).select(
            "query_id", "neighbor_id"
        )
        brute = _brute_topk(e, qdf).select("query_id", "neighbor_id")

        def leg(sel: DataFrame, name: str) -> DataFrame:
            return (
                brute.join(
                    sel.withColumn("m", F.lit(1)),
                    ["query_id", "neighbor_id"],
                    "left",
                )
                .groupBy("query_id")
                .agg(F.count("m").cast("int").alias(name))
            )

        out = (
            leg(adc10, "hits_adc")
            .join(leg(rerank, "hits_rerank"), "query_id")
            .select(
                "query_id",
                "hits_adc",
                "hits_rerank",
                F.round(F.col("hits_adc") / F.lit(float(_RQ_K)), 6).alias(
                    "recall_adc"
                ),
                F.round(
                    F.col("hits_rerank") / F.lit(float(_RQ_K)), 6
                ).alias("recall_rerank"),
            )
            .orderBy("query_id")
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        e.unpersist()


ANN_IVF_PQ_RERANK_SQL = _IVFPQ_TRAINED_CTES + f""",
qcell AS (SELECT id, cell FROM qcellr WHERE probe_rank <= {_RQ_NPROBE}),
cand AS (
  SELECT q.id AS query_id, c.id AS neighbor_id
  FROM qcell q JOIN cell c ON q.cell = c.cell AND q.id != c.id),
adc AS (
  SELECT cand.query_id, cand.neighbor_id, SUM(lut.d2) AS approx_d2
  FROM cand
  JOIN codes ON codes.id = cand.neighbor_id
  JOIN lut ON lut.query_id = cand.query_id
          AND lut.j = codes.j AND lut.code = codes.code
  GROUP BY cand.query_id, cand.neighbor_id),
shortlist AS MATERIALIZED (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY approx_d2 ASC, neighbor_id ASC) AS rank
    FROM adc) WHERE rank <= {_RR_SHORTLIST}),
adc10 AS (SELECT query_id, neighbor_id FROM shortlist
          WHERE rank <= {_RQ_K}),
rr AS (  -- exact re-rank of the shortlist's raw vectors
  SELECT query_id, neighbor_id FROM (
    SELECT s.query_id, s.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY s.query_id
                              ORDER BY {_ivf_d2_sql('q.v', 'n.v')} ASC,
                                       s.neighbor_id ASC) AS r
    FROM shortlist s
    JOIN e q ON q.id = s.query_id
    JOIN e n ON n.id = s.neighbor_id) WHERE r <= {_RQ_K}),
ha AS (
  SELECT b.query_id, COUNT(a.neighbor_id) AS hits_adc
  FROM brute b LEFT JOIN adc10 a
    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
  GROUP BY b.query_id),
hr AS (
  SELECT b.query_id, COUNT(r.neighbor_id) AS hits_rerank
  FROM brute b LEFT JOIN rr r
    ON r.query_id = b.query_id AND r.neighbor_id = b.neighbor_id
  GROUP BY b.query_id)
SELECT ha.query_id,
       CAST(ha.hits_adc AS INT) AS hits_adc,
       CAST(hr.hits_rerank AS INT) AS hits_rerank,
       ROUND(ha.hits_adc / {float(_RQ_K)}, 6) AS recall_adc,
       ROUND(hr.hits_rerank / {float(_RQ_K)}, 6) AS recall_rerank
FROM ha JOIN hr ON hr.query_id = ha.query_id
ORDER BY ha.query_id
"""
