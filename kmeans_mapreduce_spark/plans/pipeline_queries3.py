"""Training-data-pipeline queries, round 4 (second batch): semantic
dedup (SemDeDup-style), k-NN graph construction, language rebalancing,
PII scrubbing, and embedding-distribution stats.

No analog in the reference (its only data surface is the K-Means CSV
ingest, utils.go:12-50); this module extends the mandated
beyond-reference pipeline surface.  The cluster machinery deliberately
reuses the reference's own K-Means primitives (fixed centroids +
nearest-centroid assignment, worker.go:288-304 semantics) as curation
infrastructure, the way ann_ivf_topk does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.functions.distance import cosine_similarity
from kmeans_mapreduce_spark.plans.pipeline_queries import (
    _docs,
    _dot_sql,
    _embs,
)
from kmeans_mapreduce_spark.plans.pipeline_queries2 import _bucket


def _d2_sql(a: str, b: str, dim: int = 64) -> str:
    """Left-assoc squared-euclid chain == the Spark zip_with fold order."""
    return " + ".join(
        f"({a}[{i}]-{b}[{i}])*({a}[{i}]-{b}[{i}])" for i in range(1, dim + 1)
    )


# --- SemDeDup-style semantic dedup ----------------------------------------

_SEM_K = 8          # coarse clusters (first-8-vectors centroids)
_SEM_T = 0.45       # cosine threshold, aligned with dedup_embedding_cosine


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster embeddings with K-Means, then compare pairs ONLY within a
    cluster; a vector is dropped when a lower-id clustermate is within
    cosine >= t (min-id representative, same winner rule as dedup_exact).

    Output: per-cluster audit row — cluster size, drops, and an id
    checksum of the dropped set (so the oracle verifies WHICH vectors
    were dropped, not just how many).

    Scale shape: the candidate set is bounded by the cluster partition,
    not the corpus — assignment is a broadcast-centroid map pass, the
    pair generation an equi-join on cluster_id.  At 100 TB, k grows
    ~sqrt(N) so expected cluster size stays bounded, and the within-
    cluster join is hash-partitioned on a dense int key.  No all-pairs
    comparison anywhere (contrast: dedup_embedding_cosine's oracle).
    Fixed centroids (first _SEM_K vectors) make the whole thing
    SQL-expressible, like ANN_IVF_SQL."""
    from kmeans_mapreduce_spark.operators.kmeans import assign_clusters
    from kmeans_mapreduce_spark.plans.kmeans_queries import _fixed_centroids

    cents = _fixed_centroids(spark, sf_dir, k=_SEM_K)
    e = _embs(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    assigned = assign_clusters(e, cents, features_col="v")
    a = assigned.select(
        "cluster_id", F.col("vec_id").alias("id_a"), F.col("v").alias("va")
    )
    b = assigned.select(
        "cluster_id", F.col("vec_id").alias("id_b"), F.col("v").alias("vb")
    )
    dropped = (
        a.join(b, "cluster_id")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.round(cosine_similarity(F.col("va"), F.col("vb")), 6) >= _SEM_T
        )
        .select("id_b")
        .distinct()
    )
    return (
        assigned.join(dropped, assigned.vec_id == dropped.id_b, "left")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_vectors"),
            F.count("id_b").alias("n_dropped"),
            F.coalesce(F.sum("id_b"), F.lit(0)).alias("dropped_id_sum"),
        )
        .orderBy("cluster_id")
    )


SEMANTIC_DEDUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings
         WHERE vec_id < {_SEM_K}),
cd AS (SELECT e.vec_id, e.v, cent.cid, {_d2_sql('e.v', 'cent.c')} AS d2
       FROM e CROSS JOIN cent),
assigned AS (
  SELECT vec_id, v, CAST(cid AS INT) AS cluster_id FROM (
    SELECT vec_id, v, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM cd) WHERE rn = 1),
dropped AS (
  SELECT DISTINCT a.cluster_id, b.vec_id AS id_b
  FROM assigned a JOIN assigned b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE ROUND(({_dot_sql('a.v', 'b.v')})
              / (SQRT({_dot_sql('a.v', 'a.v')}) * SQRT({_dot_sql('b.v', 'b.v')})), 6)
        >= {_SEM_T})
SELECT a.cluster_id,
       COUNT(*) AS n_vectors,
       COUNT(d.id_b) AS n_dropped,
       CAST(COALESCE(SUM(d.id_b), 0) AS BIGINT) AS dropped_id_sum
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.id_b
GROUP BY a.cluster_id ORDER BY a.cluster_id
"""


# --- k-NN graph over IVF cells --------------------------------------------

def _knn_cell_pairs(e: DataFrame, cents, k_neighbors: int) -> DataFrame:
    """Within-cell top-k cosine ranking shared by the fixture and scale
    paths (ONE ranking rule — 6-dp-rounded score, neighbor_id
    tiebreak): assign each vector to its nearest cell centroid, equi
    self-join on the cell id, rank per node.

    Unlike ivf_topk (which broadcasts its small QUERY side), both join
    sides are the full corpus, so the plan is a plain equi self-join on
    cell id — NO broadcast: Catalyst shuffle-partitions both sides on
    the dense int key.  At 100 TB the corpus is written bucketed-by-cell
    so the self-join is co-located (zero extra shuffle).

    Cell assignment is `assign_clusters_auto`: small (fixture-sized)
    centroid sets inline as PLAN LITERALS, so the whole assign + join +
    score path stays one whole-stage-codegen pipeline; above its 8-cell
    cap they ride the broadcast centroid relation.  Both produce
    first-min/lowest-id assignments."""
    return rank_cell_pairs(assigned_cells(e, cents), k_neighbors)


def assigned_cells(e: DataFrame, cents) -> DataFrame:
    """[vec_id, v, cell]: each vector's nearest-centroid cell id
    (`assign_clusters_auto`: <=8 cells plan literals, above that a
    broadcast centroid relation)."""
    from kmeans_mapreduce_spark.operators.kmeans import assign_clusters_auto

    return assign_clusters_auto(e, cents, features_col="v").select(
        "vec_id", "v", F.col("cluster_id").alias("cell")
    )


def rank_cell_pairs(assigned: DataFrame, k_neighbors: int = 3) -> DataFrame:
    """Within-cell top-k ranking over an ALREADY-ASSIGNED frame
    [vec_id, v, cell] — the consumer face for pre-materialized cell
    layouts: point it at a bucketed-by-cell table
    (sources/bucketed.write_bucketed_table) and the equi self-join
    reads co-located buckets with ZERO hash exchanges (pinned in
    tests/test_bucketed.py) — the exact "written bucketed-by-cell"
    contract the 100 TB story depends on."""
    a = assigned.select(
        "cell", F.col("vec_id").alias("node_id"), F.col("v").alias("va")
    )
    b = assigned.select(
        "cell", F.col("vec_id").alias("neighbor_id"), F.col("v").alias("vb")
    )
    pairs = (
        a.join(b, "cell")
        .where(F.col("node_id") != F.col("neighbor_id"))
        .select(
            "node_id",
            "neighbor_id",
            F.round(
                cosine_similarity(F.col("va"), F.col("vb")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("node_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_neighbors)
        .select("node_id", "rank", "neighbor_id", "score")
    )


def knn_graph_cells(
    spark: SparkSession,
    sf_dir: str,
    k_cells: int | None = None,
    k_neighbors: int = 3,
) -> DataFrame:
    """Corpus k-NN graph (k=3) built within IVF cells: every vector's
    top-k cosine neighbors among its own cell's members (n_probe=1 —
    the standard graph-construction pass behind cluster-based curation
    and graph ANN index bootstrapping).

    ``k_cells`` DEFAULTS to ceil(sqrt(N)) — the measured production
    density knob (stress Phase D: within-cell candidate mass drops
    pagerank 146 s -> 4.1 s vs the 4-cell fixture): sqrt(N) cells bound
    the within-cell self-join at ~N^1.5 total candidates with ~sqrt(N)
    rows per cell.  The 4-cell fixture value survives ONLY at the
    oracle call sites (`knn_graph_cells_fixture`, graph_queries) whose
    DuckDB SQL pins the semantics.  Cell centroids are the first
    k_cells vectors by vec_id — deterministic, engine-agnostic.
    Edge effect: like any n_probe=1 graph, boundary vectors may miss
    cross-cell true neighbors — the documented recall/cost knob."""
    import math

    e = _embs(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    if k_cells is None:
        k_cells = max(1, math.ceil(e.count() ** 0.5))
    # vec_id < k_cells, NOT orderBy.limit: the fixture oracle
    # (KNN_GRAPH_SQL) selects centroids with `WHERE vec_id < 4`, and the
    # two recipes only coincide when vec_ids are 0-based and dense —
    # match the oracle's predicate so non-dense id spaces cannot
    # silently diverge the cell set
    cents = [
        list(r["v"])
        for r in e.where(F.col("vec_id") < k_cells).orderBy("vec_id").collect()
    ]
    # a sparse/non-zero-based id space yields FEWER than k_cells seeds
    # here while knn_edges_scaled's orderBy().limit() recipe would still
    # find k_cells — fail loudly instead of silently building a coarser
    # graph than the production knob promises
    assert len(cents) == k_cells, (
        f"centroid shortfall: {len(cents)} vectors with vec_id < {k_cells} "
        f"(ids must be dense and 0-based for the predicate recipe)"
    )
    return _knn_cell_pairs(e, cents, k_neighbors)


def knn_graph_cells_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle call site: the 4-cell fixture whose DuckDB SQL
    (KNN_GRAPH_SQL) pins the within-cell ranking semantics."""
    return knn_graph_cells(spark, sf_dir, k_cells=4)


def knn_edges_scaled(
    spark: SparkSession,
    sf_dir: str,
    k_cells: int | None = None,
    k_neighbors: int = 3,
) -> DataFrame:
    """`knn_graph_cells` at the PRODUCTION cell-count knob: k_cells
    defaults to ceil(sqrt(N)), the within-cell density setting the
    fixture's 4 cells deliberately violate (4 cells over N vectors
    means N^2/4 candidate pairs; sqrt(N) cells bound the within-cell
    join at ~N^1.5 total candidates with ~sqrt(N) rows per cell).

    Same build as `knn_graph_cells` (it delegates to `_knn_cell_pairs`
    — one ranking rule), with the materialization policy the graph
    loops need: the embedding frame is CACHED for the build (read three
    ways: count, centroid top-k, self-join) and the edge frame comes
    back MATERIALIZED (localCheckpoint) so the cache can be released
    before returning and per-iteration consumers (pagerank, triangles)
    never re-execute the build.  Returns directed edges (src, dst) like
    graph_queries' _knn_edges.  No SQL oracle: this is the
    scale-harness path; the 4-cell fixture pins the semantics."""
    import math

    e = (
        _embs(spark, sf_dir)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .cache()
    )
    try:
        if k_cells is None:
            k_cells = max(1, math.ceil(e.count() ** 0.5))
        cents = [
            list(r["v"]) for r in e.orderBy("vec_id").limit(k_cells).collect()
        ]
        return (
            _knn_cell_pairs(e, cents, k_neighbors)
            .select(
                F.col("node_id").alias("src"),
                F.col("neighbor_id").alias("dst"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        e.unpersist()


KNN_GRAPH_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < 4),
cd AS (SELECT e.vec_id, cent.cid, {_d2_sql('e.v', 'cent.c')} AS d2 FROM e CROSS JOIN cent),
cell AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM cd) WHERE rn = 1),
pairs AS (
  SELECT q.vec_id AS node_id, c.vec_id AS neighbor_id,
         ROUND(({_dot_sql('qe.v', 'ce.v')})
               / (SQRT({_dot_sql('qe.v', 'qe.v')}) * SQRT({_dot_sql('ce.v', 'ce.v')})), 6) AS score
  FROM cell q
  JOIN cell c ON q.cell = c.cell AND q.vec_id != c.vec_id
  JOIN e qe ON qe.vec_id = q.vec_id
  JOIN e ce ON ce.vec_id = c.vec_id)
SELECT node_id, rank, neighbor_id, score FROM (
  SELECT node_id, neighbor_id, score,
         ROW_NUMBER() OVER (PARTITION BY node_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM pairs)
WHERE rank <= 3
"""


# --- language rebalancing --------------------------------------------------

# Deterministic per-language keep rates (the "target mix" knob of a
# multilingual pretraining pipeline — downsample over-represented
# languages).  Buckets reuse the md5 split machinery of
# sample_train_split: keep iff bucket(doc_id) < rate * 65536, so the
# SAME docs are kept on any engine, run, or partitioning.
_LANG_RATES: dict[str, float] = {
    "en": 0.60, "de": 1.00, "fr": 1.00, "es": 0.80, "zh": 0.80,
}
_DEFAULT_RATE = 0.50


def pipeline_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix rebalancing: deterministic per-language downsampling
    toward a target mix.  Map-only (no shuffle before the tiny audit
    agg): every row independently computes keep = md5-bucket(doc_id) <
    rate(lang) * 65536.  Output per language: doc counts before/after,
    achieved keep fraction, and an id checksum of the kept set.

    At 100 TB this is the shape you want: one scan, no repartition, the
    keep decision embarrassingly parallel and reproducible (rand(seed)
    is partition-dependent; md5 of the id is not)."""
    d = _docs(spark, sf_dir)
    # Integer thresholds precomputed in Python: Spark's double->int cast
    # truncates while DuckDB's rounds, so neither engine is allowed to
    # do that conversion itself.
    cut = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(int(v * 65536)))
            for k, v in sorted(_LANG_RATES.items())
        ],
        F.lit(int(_DEFAULT_RATE * 65536)),
    )
    kept = _bucket(F.col("doc_id")) < cut
    return (
        d.select("lang", "doc_id", kept.alias("keep"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if(F.col("keep")).alias("n_kept"),
            F.round(F.count_if(F.col("keep")) / F.count("*"), 4).alias(
                "kept_frac"
            ),
            F.coalesce(
                F.sum(F.when(F.col("keep"), F.col("doc_id"))), F.lit(0)
            ).alias("kept_id_sum"),
        )
        .orderBy("lang")
    )


_CUT_CASE = (
    "CASE "
    + " ".join(
        f"WHEN lang = '{k}' THEN {int(v * 65536)}"
        for k, v in sorted(_LANG_RATES.items())
    )
    + f" ELSE {int(_DEFAULT_RATE * 65536)} END"
)

LANG_REBALANCE_SQL = f"""
WITH flagged AS (
  SELECT lang, doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS INT)
           < ({_CUT_CASE}) AS keep
  FROM documents)
SELECT lang,
       COUNT(*) AS n_docs,
       COUNT(*) FILTER (WHERE keep) AS n_kept,
       ROUND(COUNT(*) FILTER (WHERE keep) / CAST(COUNT(*) AS DOUBLE), 4) AS kept_frac,
       CAST(COALESCE(SUM(CASE WHEN keep THEN doc_id END), 0) AS BIGINT) AS kept_id_sum
FROM flagged GROUP BY lang ORDER BY lang
"""


# --- PII scrubbing ---------------------------------------------------------

from kmeans_mapreduce_spark.functions.text import (  # noqa: E402
    PII_EMAIL as _PAT_EMAIL,
    PII_IPV4 as _PAT_IPV4,
    PII_PHONE as _PAT_PHONE,
    pii_counts,
    pii_scrub,
)


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over text: count and replace emails, IPv4s, and
    phone-shaped tokens with typed placeholders.

    The corpus text is synthetic word soup with no organic PII, so each
    document is first AUGMENTED with deterministic doc_id-derived PII
    (one email, one IP, one phone) — both engines build the identical
    string, then the oracle verifies the scrubber found and removed
    exactly those spans (counts + md5 of the scrubbed text).  The
    augmentation is the test harness; the scrubber itself
    (count/replace expression pair) is the production operator.

    Scale shape: pure map-side regexp expressions inside whole-stage
    codegen — no shuffle, no Python.  Replace order matters and is
    pinned: email first (contains dots/digits), then IPv4 (dotted
    digits), then phone."""
    d = _docs(spark, sf_dir)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit(" call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    base = d.select("doc_id", aug.alias("t"))
    counts = pii_counts("t")
    return base.select(
        "doc_id",
        counts["n_email"].alias("n_email"),
        counts["n_ip"].alias("n_ip"),
        counts["n_phone"].alias("n_phone"),
        F.md5(pii_scrub("t")).alias("scrub_fp"),
    ).orderBy("doc_id")


PII_SCRUB_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.'
              || CAST((doc_id * 7) % 256 AS VARCHAR)
              || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PAT_EMAIL}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(t, '{_PAT_IPV4}')) AS INT) AS n_ip,
       CAST(len(regexp_extract_all(t, '{_PAT_PHONE}')) AS INT) AS n_phone,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(t, '{_PAT_EMAIL}', '<EMAIL>', 'g'),
               '{_PAT_IPV4}', '<IP>', 'g'),
             '{_PAT_PHONE}', '<PHONE>', 'g')) AS scrub_fp
FROM aug ORDER BY doc_id
"""


# --- embedding distribution stats -----------------------------------------

_DIM = 64


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution audit of the embedding column: n,
    mean, sample stddev, min, max for each of the 64 dims — the sanity
    check before any geometric operator (dead dims, scale drift,
    clipped values).

    Plan shape — the Spark-first trick: instead of posexplode (which
    shuffles N x d rows), compute 4 x d scalar aggregates in ONE
    map-side-combining HashAggregate over the array column (sum, sum of
    squares, min, max per dim), producing a single row; the 64-row
    output is then a driver-free posexplode of that one row.  Shuffle
    volume: one partial-agg state per partition, independent of N.
    Stddev is derived from (n, sum, sumsq) with the same formula in
    both engines, so rounding agrees."""
    e = _embs(spark, sf_dir).select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    aggs = [F.count("*").alias("n")]
    for i in range(_DIM):
        c = F.col("v")[i]
        aggs += [
            F.sum(c).alias(f"s{i}"),
            F.sum(c * c).alias(f"q{i}"),
            F.min(c).alias(f"mn{i}"),
            F.max(c).alias(f"mx{i}"),
        ]
    row = e.agg(*aggs)
    zipped = F.arrays_zip(
        F.array(*[F.col(f"s{i}") for i in range(_DIM)]).alias("s"),
        F.array(*[F.col(f"q{i}") for i in range(_DIM)]).alias("q"),
        F.array(*[F.col(f"mn{i}") for i in range(_DIM)]).alias("mn"),
        F.array(*[F.col(f"mx{i}") for i in range(_DIM)]).alias("mx"),
    )
    n = F.col("n")
    exploded = row.select("n", F.posexplode(zipped).alias("d0", "z"))
    mean = F.col("z.s") / n
    var = (F.col("z.q") - F.col("z.s") * F.col("z.s") / n) / (n - 1)
    return exploded.select(
        (F.col("d0") + 1).alias("dim"),
        n.cast("long").alias("n"),
        F.round(mean, 4).alias("mean"),
        F.round(F.sqrt(var), 4).alias("stddev"),
        F.round(F.col("z.mn"), 4).alias("vmin"),
        F.round(F.col("z.mx"), 4).alias("vmax"),
    ).orderBy("dim")


EMB_STATS_SQL = f"""
WITH ex AS (
  SELECT r.range AS dim, embedding[r.range]::DOUBLE AS x
  FROM embeddings CROSS JOIN range(1, {_DIM} + 1) r),
agg AS (
  SELECT dim, COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS q,
         MIN(x) AS mn, MAX(x) AS mx
  FROM ex GROUP BY dim)
SELECT dim, n,
       ROUND(s / n, 4) AS mean,
       ROUND(SQRT((q - s * s / n) / (n - 1)), 4) AS stddev,
       ROUND(mn, 4) AS vmin,
       ROUND(mx, 4) AS vmax
FROM agg ORDER BY dim
"""


# --- grouped-map pandas: per-language quality normalization ----------------

def text_quality_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language z-score normalization of the quality score via
    groupBy().applyInPandas — the batch grouped-map escape hatch
    (§2.11), for when a per-group transform genuinely needs
    whole-group vectorized math.

    Each language group arrives as ONE Arrow-backed pandas frame; the
    UDF normalizes within the group (z = (q - mean) / std, ddof=1).
    Inputs are pre-rounded to 6dp so both engines normalize identical
    values; outputs rounded to 4dp absorb pandas-vs-SQL summation-order
    ulps.  Scale: one shuffle on lang (low-card key — salting applies
    if a language dominates; see operators/skew.py), group size bounded
    by per-lang corpus share.  This exact computation IS SQL-expressible
    (the oracle uses AVG/STDDEV_SAMP windows) — the operator exists to
    pin the grouped-map plumbing against an exact oracle, the same
    contract mm_decode pins for mapInPandas."""
    import pandas as pd

    from kmeans_mapreduce_spark.functions import text as TXT

    d = _docs(spark, sf_dir)
    base = d.select(
        "doc_id", "lang", F.round(TXT.quality_score("text"), 6).alias("q")
    )

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["q"].mean()
        sd = pdf["q"].std(ddof=1)
        z = (pdf["q"] - mu) / sd if sd and sd > 0 else pdf["q"] * 0.0
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "lang": pdf["lang"],
                "quality": pdf["q"],
                "z": z.round(4),
            }
        )

    return (
        base.groupBy("lang")
        .applyInPandas(
            normalize, "doc_id bigint, lang string, quality double, z double"
        )
        .orderBy("doc_id")
    )


_QUALITY_EXPR = (
    "ROUND(0.4 * (LEAST(CAST(" "{ntok}" " AS DOUBLE), 100.0) / 100.0)"
    " + 0.3 * (1.0 - {pr}) + 0.3 * LEAST({swr} * 4.0, 1.0), 6)"
)


def _zscore_sql() -> str:
    from kmeans_mapreduce_spark.plans.pipeline_queries import (
        _NTOK,
        _PUNCT_RATIO,
        _SW_RATIO,
    )

    q = _QUALITY_EXPR.format(ntok=_NTOK, pr=_PUNCT_RATIO, swr=_SW_RATIO)
    return f"""
WITH base AS (SELECT doc_id, lang, {q} AS q FROM documents)
SELECT doc_id, lang, q AS quality,
       ROUND(CASE WHEN STDDEV_SAMP(q) OVER (PARTITION BY lang) > 0
                  THEN (q - AVG(q) OVER (PARTITION BY lang))
                       / STDDEV_SAMP(q) OVER (PARTITION BY lang)
                  ELSE 0.0 END, 4) AS z
FROM base ORDER BY doc_id
"""


QUALITY_ZSCORE_SQL = _zscore_sql()
