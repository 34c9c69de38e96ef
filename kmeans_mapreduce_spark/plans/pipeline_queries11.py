"""Batch-21 pipeline queries: dedup threshold economics, temperature
sampling, embedding QC, context-length planning, domain-shift KL.

Each is a training-data-pipeline planning artifact (what you compute
BEFORE committing a 100 TB job), with an exact DuckDB oracle.  The
cross-engine float discipline throughout: any sum whose addend order
differs between engines is summed as DECIMAL(38,18) casts (exact,
commutative); ln/pow appear only inside per-row terms that both
engines compute from identical rationals, with ROUND(.., 6) at the
output boundary (the lm_bigram_logprob precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.functions import text as TXT
from kmeans_mapreduce_spark.functions.distance import centroid_dists_sql
from kmeans_mapreduce_spark.plans.pipeline_queries import (
    _BLANK,
    _TOKS_ALL,
    _docs,
    _embs,
    _JACCARD_CTE,
)
from kmeans_mapreduce_spark.plans.pipeline_queries8 import _NTOK_SQL as _NTOK


# --- dedup threshold economics ---------------------------------------------

_YIELD_THRESHOLDS = [0.7, 0.8, 0.9]


def pipeline_dedup_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold sensitivity: at each Jaccard threshold, how many
    near-dup pairs exist, how many docs the keep-lowest-id policy would
    drop, and how many tokens that removal costs — the curve you read
    BEFORE picking the production threshold (too low burns unique data,
    too high ships duplicates into training).

    Removal policy (exact, order-free): a doc is removed at threshold t
    iff some LOWER-id doc is within Jaccard >= t of it.  This is the
    PESSIMISTIC (upper) bound on a sequential greedy keep-first pass:
    greedy compares only against already-KEPT docs (for A<B<C with
    B~A, C~B, C!~A it keeps C), while this policy removes any
    dominated doc — every greedy-removed doc has a lower-id neighbor,
    so greedy's removal set is a subset.  The bound is the honest
    order-free quantity for budgeting (the sequential pass is not
    expressible without a driver loop); dedup_components owns the
    transitive-clustering variant.  Pair scores are rounded to 6dp on
    both engines before the threshold compare, so bucket membership is
    engine-exact.

    Scale shape: the pair source here is the exact all-pairs baseline
    (bounded eval corpus BY DESIGN — the same posture as
    ann_lsh_recall/dedup_minhash_recall: threshold tuning pays one
    ground-truth pass on a sample); in production the identical
    aggregation runs over minhash_dedup_pairs candidates instead.  The
    per-threshold rollups are three scans of one cached pair frame,
    each a broadcast-joined small aggregate."""
    from kmeans_mapreduce_spark.operators import dedup as DD

    d = _docs(spark, sf_dir)
    pairs = (
        DD.ngram_jaccard_pairs(
            d, "doc_id", "text", threshold=min(_YIELD_THRESHOLDS), n=2
        )
        .select("id_a", "id_b", "jaccard")
        .cache()
    )
    ntok = d.select(
        F.col("doc_id").alias("id_b"), TXT.token_count("text").alias("n_tok")
    )
    out = None
    try:
        for thr in _YIELD_THRESHOLDS:
            at = pairs.where(F.col("jaccard") >= thr)
            removed = at.select("id_b").distinct().join(ntok, "id_b")
            row = at.agg(F.count("*").alias("n_pairs")).crossJoin(
                removed.agg(
                    F.count("*").alias("n_docs_removed"),
                    F.coalesce(F.sum("n_tok"), F.lit(0))
                    .cast("bigint")
                    .alias("tokens_removed"),
                )
            ).select(
                F.lit(thr).alias("threshold"),
                "n_pairs",
                "n_docs_removed",
                "tokens_removed",
            )
            out = row if out is None else out.unionByName(row)
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        pairs.unpersist()
    return out.orderBy("threshold")


YIELD_CURVE_SQL = (
    _JACCARD_CTE
    + f""",
thr(threshold) AS (VALUES {", ".join(f"(CAST({t} AS DOUBLE))" for t in _YIELD_THRESHOLDS)}),
ntok AS (SELECT doc_id, {_NTOK} AS n_tok FROM documents),
qualifying AS (
  SELECT t.threshold, p.id_a, p.id_b
  FROM thr t JOIN pairs p ON p.jaccard >= t.threshold),
removed AS (
  SELECT threshold, id_b FROM qualifying GROUP BY threshold, id_b)
SELECT t.threshold,
       CAST(COALESCE(q.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(r.n_docs, 0) AS BIGINT) AS n_docs_removed,
       CAST(COALESCE(r.toks, 0) AS BIGINT) AS tokens_removed
FROM thr t
LEFT JOIN (SELECT threshold, COUNT(*) AS n_pairs
           FROM qualifying GROUP BY threshold) q USING (threshold)
LEFT JOIN (SELECT threshold, COUNT(*) AS n_docs, SUM(n.n_tok) AS toks
           FROM removed JOIN ntok n ON n.doc_id = removed.id_b
           GROUP BY threshold) r USING (threshold)
ORDER BY threshold
"""
)


# --- temperature-scaled source sampling ------------------------------------

_TEMP_ALPHA = 0.7


def pipeline_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multinomial sampling plan over sources:
    p_i proportional to (n_i/N)^alpha with alpha=0.7 — the standard
    low-resource upweighting scheme for multi-source/multilingual
    pretraining mixtures (mBERT/XLM-R/mT5 lineage).  Reports each
    source's raw token share, temperature share, and the boost factor
    the temperature applies.

    Float discipline: pow terms are per-row doubles both engines
    compute from identical rationals; their SUM (whose order Spark
    does not fix) runs over DECIMAL(38,18) casts, so the normalizer is
    bit-identical before the final divisions and ROUND(.., 6).

    Scale shape: one partial-agg shuffle on source; everything after
    runs on |sources| rows."""
    per_source = (
        _docs(spark, sf_dir)
        .select("source", TXT.token_count("text").alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("available"),
        )
        # available=0 (all-blank source) would make boost 0/0 — NaN in
        # Spark, NULL in DuckDB; exclude identically on both sides
        # (the pipeline_token_budget_epochs guard)
        .where(F.col("available") > 0)
    )
    w_all = Window.partitionBy()
    dec = "decimal(38,18)"
    powed = per_source.withColumn(
        "total", F.sum("available").over(w_all)
    ).withColumn(
        "p_alpha",
        F.pow(
            F.col("available").cast("double") / F.col("total").cast("double"),
            F.lit(_TEMP_ALPHA),
        ),
    )
    normed = powed.withColumn(
        "z", F.sum(F.col("p_alpha").cast(dec)).over(w_all)
    )
    return normed.select(
        "source",
        "n_docs",
        "available",
        F.round(
            F.col("available").cast("double") / F.col("total").cast("double"),
            6,
        ).alias("raw_share"),
        F.round(
            F.col("p_alpha") / F.col("z").cast("double"), 6
        ).alias("temp_share"),
        F.round(
            (F.col("p_alpha") / F.col("z").cast("double"))
            / (F.col("available").cast("double") / F.col("total").cast("double")),
            6,
        ).alias("boost"),
    ).orderBy("source")


SAMPLE_TEMPERATURE_SQL = f"""
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs, SUM({_NTOK}) AS available
  FROM documents GROUP BY source),
powed AS (
  SELECT source, n_docs, available,
         SUM(available) OVER () AS total,
         POW(CAST(available AS DOUBLE) / CAST(SUM(available) OVER () AS DOUBLE),
             {_TEMP_ALPHA}) AS p_alpha
  FROM per_source WHERE available > 0),
normed AS (
  SELECT *, SUM(CAST(p_alpha AS DECIMAL(38,18))) OVER () AS z FROM powed)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(available AS BIGINT) AS available,
       ROUND(CAST(available AS DOUBLE) / CAST(total AS DOUBLE), 6) AS raw_share,
       ROUND(p_alpha / CAST(z AS DOUBLE), 6) AS temp_share,
       ROUND((p_alpha / CAST(z AS DOUBLE))
             / (CAST(available AS DOUBLE) / CAST(total AS DOUBLE)), 6) AS boost
FROM normed
ORDER BY source
"""


# --- embedding-norm QC gate -------------------------------------------------

_NORM2 = " + ".join(f"v[{i + 1}]*v[{i + 1}]" for i in range(64))


def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QC gate: per label, squared-L2-norm statistics and the
    count of vectors whose norm exceeds 1.5x the label mean — the
    cheap pre-index sanity check that catches un-normalized or
    corrupted embedding batches before they poison an ANN index.

    Exactness: each row's norm2 is a fixed-order 64-term sum (the
    _d2_sql convention — identical fold order on both engines); group
    means come from DECIMAL(38,18) sums (commutative), and the outlier
    compare runs in DECIMAL, so the flag is engine-exact.

    Scale shape: one narrow map over the scan + one partial-agg
    shuffle on label + a broadcast join of the |labels|-row means."""
    e = _embs(spark, sf_dir)
    dec = "decimal(38,18)"
    norm2 = F.expr("aggregate(v, 0D, (s, x) -> s + x*x)")
    base = e.select(
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("norm2", norm2)
    means = base.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum(F.col("norm2").cast(dec)).alias("s_dec"),
        F.round(F.min("norm2"), 6).alias("min_norm2"),
        F.round(F.max("norm2"), 6).alias("max_norm2"),
    )
    joined = base.join(F.broadcast(means), "label")
    # the mean reaches double-land the SAME way on both engines (exact
    # decimal sum -> double -> divide), so the 1.5x compare is a
    # deterministic double-vs-double; Spark decimal ARITHMETIC is
    # avoided entirely (its (38,18)x(38,18) products lose scale).
    mean_d = F.col("s_dec").cast("double") / F.col("n").cast("double")
    return (
        joined.withColumn("is_out", F.col("norm2") > F.lit(1.5) * mean_d)
        .groupBy("label")
        .agg(
            F.first("n").alias("n"),
            F.round(F.first(mean_d), 6).alias("mean_norm2"),
            F.first("min_norm2").alias("min_norm2"),
            F.first("max_norm2").alias("max_norm2"),
            F.sum(F.col("is_out").cast("int")).cast("bigint").alias("n_outliers"),
        )
        .orderBy("label")
    )


EMB_NORM_SQL = f"""
WITH e AS (
  SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
base AS (
  SELECT label, {_NORM2} AS norm2 FROM e),
means AS (
  SELECT label, COUNT(*) AS n,
         SUM(CAST(norm2 AS DECIMAL(38,18))) AS s_dec,
         ROUND(MIN(norm2), 6) AS min_norm2,
         ROUND(MAX(norm2), 6) AS max_norm2
  FROM base GROUP BY label)
SELECT b.label,
       CAST(m.n AS BIGINT) AS n,
       ROUND(CAST(m.s_dec AS DOUBLE) / CAST(m.n AS DOUBLE), 6) AS mean_norm2,
       m.min_norm2, m.max_norm2,
       CAST(SUM(CASE WHEN b.norm2 >
                  1.5 * (CAST(m.s_dec AS DOUBLE) / CAST(m.n AS DOUBLE))
                THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM base b JOIN means m USING (label)
GROUP BY b.label, m.n, m.s_dec, m.min_norm2, m.max_norm2
ORDER BY b.label
"""


# --- context-length planning ------------------------------------------------

_LEN_BUCKETS = [1 << i for i in range(21)]  # 1 .. 2^20
_LEN_OVERFLOW = 1 << 62  # > every real bucket, so it sorts last


def pipeline_context_length_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length planning: docs bucketed by power-of-2 token
    length, with cumulative doc and token shares — the table that picks
    max_seq_len (what fraction of docs/tokens fit at 512? 1024?) and
    sizes the packing stage's expected padding waste.

    All-integer until the final share divisions (exact long sums cast
    to double) -> exact cross-engine.  The bucket edge is an integer
    compare chain, NOT pow(2, ceil(log2(n))): log2 of an exact power
    of two is engine-dependent in the last ulp (JVM computes
    ln(x)/ln(2)), and a 3.0000000000000004 ceils into the wrong
    bucket.  Scale shape: one map + one tiny agg on ~a dozen buckets;
    the cumulative window runs over the bucket rows, never the
    corpus."""
    d = _docs(spark, sf_dir)
    n = TXT.token_count("text")
    bucket = F.when(n <= 0, F.lit(0))
    for b in _LEN_BUCKETS:
        bucket = bucket.when(n <= b, F.lit(b))
    # overflow sentinel sorts LAST (a -1 would sort first and fold the
    # longest docs into every cumulative share, inflating "fits at N")
    bucket = bucket.otherwise(F.lit(_LEN_OVERFLOW)).cast("bigint")
    per = (
        d.select(bucket.alias("len_bucket"), n.alias("n_tok"))
        .groupBy("len_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    w = Window.partitionBy().orderBy("len_bucket")
    w_all = Window.partitionBy()
    return per.select(
        "len_bucket",
        "n_docs",
        "n_tokens",
        F.round(
            F.sum("n_docs").over(w).cast("double")
            / F.sum("n_docs").over(w_all).cast("double"),
            6,
        ).alias("cum_doc_share"),
        F.round(
            F.sum("n_tokens").over(w).cast("double")
            / F.sum("n_tokens").over(w_all).cast("double"),
            6,
        ).alias("cum_token_share"),
    ).orderBy("len_bucket")


_BUCKET_CASE = (
    "CASE WHEN n_tok <= 0 THEN 0 "
    + " ".join(f"WHEN n_tok <= {b} THEN {b}" for b in _LEN_BUCKETS)
    + f" ELSE {_LEN_OVERFLOW} END"
)

CONTEXT_LENGTH_SQL = f"""
WITH per AS (
  SELECT {_BUCKET_CASE} AS len_bucket, n_tok
  FROM (SELECT {_NTOK} AS n_tok FROM documents)),
agg AS (
  SELECT len_bucket, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens
  FROM per GROUP BY len_bucket)
SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(n_docs) OVER (ORDER BY len_bucket) AS DOUBLE)
             / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS cum_doc_share,
       ROUND(CAST(SUM(n_tokens) OVER (ORDER BY len_bucket) AS DOUBLE)
             / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6) AS cum_token_share
FROM agg
ORDER BY len_bucket
"""


# --- unigram KL domain shift -------------------------------------------------


def text_unigram_kl_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-shift metric: KL(source unigram distribution || corpus
    unigram distribution), in nats, per source — the distributional
    cousin of corpus_drift_psi that data-selection papers (DSIR
    lineage) compute to rank domains by distance from the target mix.
    KL >= 0 always; 0 means the source's word usage matches the corpus.

    Every p, q is a ratio of integer counts; each row's
    p*ln(p/q) term is a double both engines compute from the same
    rationals, and the sum over vocabulary runs on DECIMAL(38,18)
    casts (commutative, order-free).  The source distribution's
    support is a subset of the corpus's by construction, so no
    log-of-zero edge exists.

    Scale shape: one (source, token) partial-agg shuffle + one token
    shuffle for the corpus marginal, joined back by token (broadcast
    when the vocab fits; hash join otherwise); the final KL collapse
    is |sources| rows."""
    d = _docs(spark, sf_dir)
    toks = d.select("source", F.explode(TXT.tokens("text")).alias("tok"))
    by_src = toks.groupBy("source", "tok").agg(F.count("*").alias("c_st"))
    n_src = toks.groupBy("source").agg(F.count("*").alias("n_s"))
    by_corpus = toks.groupBy("tok").agg(F.count("*").alias("c_t"))
    n_all = toks.count()
    dec = "decimal(38,18)"
    p = F.col("c_st").cast("double") / F.col("n_s").cast("double")
    q = F.col("c_t").cast("double") / F.lit(float(n_all))
    term = (p * F.log(p / q)).cast(dec)
    return (
        by_src.join(by_corpus, "tok")
        .join(F.broadcast(n_src), "source")
        .groupBy("source")
        .agg(
            F.count("*").alias("vocab"),
            F.round(F.sum(term).cast("double"), 6).alias("kl_nats"),
        )
        .orderBy("source")
    )


UNIGRAM_KL_SQL = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS_ALL}) AS tok FROM documents
  WHERE NOT ({_BLANK})),
by_src AS (SELECT source, tok, COUNT(*) AS c_st FROM toks GROUP BY 1, 2),
n_src AS (SELECT source, COUNT(*) AS n_s FROM toks GROUP BY 1),
by_corpus AS (SELECT tok, COUNT(*) AS c_t FROM toks GROUP BY 1),
n_all AS (SELECT COUNT(*) AS n FROM toks)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       ROUND(CAST(SUM(CAST(
         (CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
         * LN((CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
              / (CAST(c_t AS DOUBLE) / CAST(n_all.n AS DOUBLE)))
         AS DECIMAL(38,18))) AS DOUBLE), 6) AS kl_nats
FROM by_src s
JOIN by_corpus USING (tok)
JOIN n_src USING (source)
CROSS JOIN n_all
GROUP BY s.source
ORDER BY s.source
"""


# --- packing efficiency across budget choices -------------------------------

_PACK_BUDGETS = [512, 1024, 2048]


def pipeline_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste report for the contiguous-prefix packing scheme
    (pipeline_seq_packing's pack_id function) at three sequence-budget
    choices: packs produced, capacity vs used tokens, waste share, and
    how many docs individually overflow the budget (the docs that force
    truncation/splitting decisions).  Read together with
    pipeline_context_length_plan this picks max_seq_len.

    All-integer except the final waste ratio (exact long sums cast to
    double).  Scale shape: ONE per-lang cumulative sum (the same
    distributed prefix-sum layout as pipeline_seq_packing) computed
    before the 3-budget fan-out, then a map-side-combinable rollup per
    budget; the fan-out triples rows of the (doc_id, cum) projection,
    never rescans text."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", "lang", TXT.token_count("text").alias("n_tokens")
    # blank docs occupy no pack space AND would make cum=0 for a lang's
    # leading docs, where Spark floor((cum-1)/b) = -1 diverges from the
    # oracle's truncating (cum-1)//b = 0 — exclude them on both sides
    ).where(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum", F.sum("n_tokens").over(w))
    fanned = cum.select(
        "lang",
        "n_tokens",
        "cum",
        F.explode(
            F.array(*[F.lit(b) for b in _PACK_BUDGETS])
        ).alias("budget"),
    ).withColumn(
        # exact integer division matching the oracle's `//` — double
        # division + floor is exact only while budgets are powers of two
        # and cum < 2^53; `div` holds for any future budget
        "pack_id", F.expr("(cum - 1) div budget").cast("bigint")
    )
    per_budget = fanned.groupBy("budget").agg(
        F.countDistinct("lang", "pack_id").alias("n_packs"),
        F.sum("n_tokens").cast("bigint").alias("used_tokens"),
        F.sum((F.col("n_tokens") > F.col("budget")).cast("int"))
        .cast("bigint")
        .alias("n_overflow_docs"),
    )
    return per_budget.select(
        "budget",
        "n_packs",
        "used_tokens",
        (F.col("n_packs") * F.col("budget")).cast("bigint").alias("capacity"),
        F.round(
            F.lit(1.0)
            - F.col("used_tokens").cast("double")
            / (F.col("n_packs") * F.col("budget")).cast("double"),
            6,
        ).alias("waste_share"),
        "n_overflow_docs",
    ).orderBy("budget")


PACK_EFFICIENCY_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, n_tokens
  FROM (SELECT doc_id, lang, {_NTOK} AS n_tokens FROM documents)
  WHERE n_tokens > 0),
cum AS (
  SELECT lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks),
fanned AS (
  SELECT lang, n_tokens, cum, budget,
         (cum - 1) // budget AS pack_id
  FROM cum CROSS JOIN (VALUES {", ".join(f"({b})" for b in _PACK_BUDGETS)}) b(budget)),
per_budget AS (
  SELECT budget,
         COUNT(DISTINCT (lang, pack_id)) AS n_packs,
         SUM(n_tokens) AS used_tokens,
         SUM(CASE WHEN n_tokens > budget THEN 1 ELSE 0 END) AS n_overflow_docs
  FROM fanned GROUP BY budget)
SELECT CAST(budget AS INT) AS budget,
       CAST(n_packs AS BIGINT) AS n_packs,
       CAST(used_tokens AS BIGINT) AS used_tokens,
       CAST(n_packs * budget AS BIGINT) AS capacity,
       ROUND(1.0 - CAST(used_tokens AS DOUBLE)
                   / CAST(n_packs * budget AS DOUBLE), 6) AS waste_share,
       CAST(n_overflow_docs AS BIGINT) AS n_overflow_docs
FROM per_budget
ORDER BY budget
"""


# --- cross-source duplicate leakage -----------------------------------------


def pipeline_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate leakage: for every unordered source pair,
    how many EXACT (identical md5) and NEAR (shingle-Jaccard >= 0.8 via
    the production MinHash path) duplicate doc pairs span the two
    sources — the audit that catches one crawl republishing another
    (and eval sets leaking into training crawls).  Both sides run over
    the same domain — docs with >= 2 tokens (the shingle path's
    domain) — so near includes exact and n_near >= n_exact holds;
    without the restriction, blank/1-token docs would pair up
    quadratically as "exact" while the near path cannot see them.
    The exact column isolates verbatim republication from
    near-verbatim (template/boilerplate) leakage.

    Scale shape: the exact side is one md5-key shuffle + a digest
    equi-join (candidate volume = true duplicate mass, never N^2); the
    near side is the banded MinHash candidates + exact verify —
    both production paths.  The source tags join back by doc id
    (broadcast when the pair set is small) and the rollup is
    |source-pairs| rows."""
    from kmeans_mapreduce_spark.operators import dedup as DD

    d = _docs(spark, sf_dir)
    # restrict the exact side to the shingle path's domain (>= 2
    # tokens) so the two counts are comparable — see docstring
    fps = d.where(F.size(TXT.tokens("text")) >= 2).select(
        "doc_id", "source", TXT.fingerprint("text").alias("fp")
    )
    a, b = fps.alias("a"), fps.alias("b")
    exact = a.join(
        b,
        (F.col("a.fp") == F.col("b.fp"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.lit("exact").alias("kind"),
    )
    near = (
        DD.minhash_dedup_pairs(d, "doc_id", "text", threshold=0.8)
        .select("id_a", "id_b", F.lit("near").alias("kind"))
    )
    src = d.select("doc_id", "source")
    tagged = (
        exact.unionByName(near)
        .join(src.withColumnRenamed("doc_id", "id_a").withColumnRenamed("source", "src_a"), "id_a")
        .join(src.withColumnRenamed("doc_id", "id_b").withColumnRenamed("source", "src_b"), "id_b")
        .where(F.col("src_a") != F.col("src_b"))
    )
    return (
        tagged.groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(
            F.count(F.when(F.col("kind") == "exact", 1)).alias("n_exact"),
            F.count(F.when(F.col("kind") == "near", 1)).alias("n_near"),
        )
        .orderBy("source_a", "source_b")
    )


CROSS_SOURCE_SQL = (
    _JACCARD_CTE
    + """,
src AS (SELECT doc_id, source FROM documents),
-- exact side restricted to the shingle path's domain (>= 2 tokens):
-- `s` in the Jaccard CTE is exactly that set of doc_ids
fps AS (
  SELECT d.doc_id, d.source, md5(d.text) AS fp
  FROM documents d JOIN s USING (doc_id)),
exact_p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, 'exact' AS kind
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id),
near_p AS (
  SELECT id_a, id_b, 'near' AS kind FROM pairs WHERE jaccard >= 0.8),
tagged AS (
  SELECT kind, sa.source AS src_a, sb.source AS src_b
  FROM (SELECT * FROM exact_p UNION ALL SELECT * FROM near_p) u
  JOIN src sa ON sa.doc_id = u.id_a
  JOIN src sb ON sb.doc_id = u.id_b
  WHERE sa.source != sb.source)
SELECT LEAST(src_a, src_b) AS source_a,
       GREATEST(src_a, src_b) AS source_b,
       CAST(COUNT(CASE WHEN kind = 'exact' THEN 1 END) AS BIGINT) AS n_exact,
       CAST(COUNT(CASE WHEN kind = 'near' THEN 1 END) AS BIGINT) AS n_near
FROM tagged
GROUP BY 1, 2
ORDER BY source_a, source_b
"""
)


# --- PQ quantization distortion ----------------------------------------------


def embedding_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ reconstruction-error report with FIXED codebooks (the
    ann_pq_fixed_topk recipe: first 16 integer-scaled vectors' slices
    are the codewords): per subspace, the mean and max squared
    quantization error over the corpus — the operating metric that
    picks m (subspaces) and k (codes) before committing an ANN index
    build.  Exact cross-engine: integer-valued doubles make every
    distance and argmin exact, and the error sums stay < 2^53.

    Scale shape: the codebook is a plan literal (KB-sized at any
    corpus size); encode+distortion is one map stage over the scan
    plus an 8-row aggregate."""
    e = _embs(spark, sf_dir).select(
        F.col("vec_id").alias("id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 1000).cast("double"),
        ).alias("v"),
    )
    book_rows = e.where(F.col("id") < 16).orderBy("id").collect()
    assert len(book_rows) == 16, "need >= 16 corpus vectors for codewords"
    sub = e.select(
        "id",
        F.explode(
            F.array(*[F.lit(j) for j in range(8)])
        ).alias("j"),
        "v",
    ).select(
        "id",
        "j",
        F.expr("slice(v, j*8 + 1, 8)").alias("s"),
    )
    # d2 to each of the 16 codewords of THIS row's subspace, via one
    # literal array<array<array<double>>> indexed [j][code]
    books_lit = F.array(
        *[
            F.array(
                *[
                    F.array(
                        *[
                            F.lit(float(x))
                            for x in list(r["v"])[j * 8 : (j + 1) * 8]
                        ]
                    )
                    for r in book_rows
                ]
            )
            for j in range(8)
        ]
    )
    d2min = F.expr(f"array_min({centroid_dists_sql('s', 'element_at(_B, j + 1)')})")
    return (
        sub.withColumn("_B", books_lit)
        .select("j", d2min.alias("d2"))
        .groupBy("j")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("d2") / F.count("*"), 6).alias("mean_d2"),
            F.max("d2").cast("bigint").alias("max_d2"),
        )
        .orderBy("j")
    )


def _pq_distortion_sql() -> str:
    d2 = " + ".join(
        f"(p.v[sub.j*8+{i}] - c.v[sub.j*8+{i}])"
        f" * (p.v[sub.j*8+{i}] - c.v[sub.j*8+{i}])"
        for i in range(1, 9)
    )
    return f"""
WITH e AS (
  SELECT vec_id AS id,
         list_transform(embedding::DOUBLE[], x -> FLOOR(x*1000)) AS v
  FROM embeddings),
p AS (SELECT * FROM e),
cb AS (SELECT * FROM e WHERE id < 16),
sub AS (SELECT unnest(range(8)) AS j),
d AS (
  SELECT p.id, sub.j, MIN({d2}) AS d2
  FROM p CROSS JOIN sub JOIN cb c ON true
  GROUP BY p.id, sub.j)
SELECT CAST(j AS INT) AS j,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(d2) / COUNT(*), 6) AS mean_d2,
       CAST(MAX(d2) AS BIGINT) AS max_d2
FROM d
GROUP BY j
ORDER BY j
"""


PQ_DISTORTION_SQL = _pq_distortion_sql()


# --- rank-based quality selection --------------------------------------------

_PRUNE_PCTS = [50, 70, 90]  # integer percents -> exact quotas


def pipeline_quality_prune_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-pruning sweep: for keep-fractions 50/70/90%, keep each
    source's top docs by the integer quality logit (rank ties to the
    lowest doc_id) and report the token cost — the filter-strength
    decision table (prune harder = cleaner but smaller corpus), read
    next to pipeline_dedup_yield_curve's dedup axis.

    Exactness: quotas are integer arithmetic (ceil(pct*n/100) as
    (pct*n + 99) // 100 — no double multiply whose last ulp could move
    a ceil), ranks are deterministic via the doc_id tiebreak, and
    min_z_kept exposes the effective cutoff per cell.

    Scale shape: ONE rank window per source partition (the quality
    score shuffle), fanned out to three quota filters as cheap
    projections; rollup is |sources| x 3 rows."""
    from kmeans_mapreduce_spark.plans.pipeline_queries8 import quality_scored

    scored = quality_scored(_docs(spark, sf_dir))
    w = Window.partitionBy("source").orderBy(F.desc("z"), F.asc("doc_id"))
    w_n = Window.partitionBy("source")
    ranked = scored.withColumn("rnk", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(w_n)
    )
    fanned = ranked.select(
        "source",
        "n_tokens",
        "z",
        "rnk",
        "n",
        F.explode(F.array(*[F.lit(p) for p in _PRUNE_PCTS])).alias("keep_pct"),
    ).withColumn(
        "quota", F.expr("(keep_pct * n + 99) div 100")
    )
    kept = fanned.withColumn("is_kept", F.col("rnk") <= F.col("quota"))
    return (
        kept.groupBy("keep_pct", "source")
        .agg(
            F.first("n").cast("bigint").alias("n_docs"),
            F.sum(F.col("is_kept").cast("int")).cast("bigint").alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_total"),
            F.sum(F.when(F.col("is_kept"), F.col("n_tokens")))
            .cast("bigint")
            .alias("tokens_kept"),
            F.min(F.when(F.col("is_kept"), F.col("z"))).alias("min_z_kept"),
        )
        .withColumn(
            "token_share_kept",
            F.round(
                F.col("tokens_kept").cast("double")
                / F.col("tokens_total").cast("double"),
                6,
            ),
        )
        .orderBy("keep_pct", "source")
    )


def _prune_sweep_sql() -> str:
    from kmeans_mapreduce_spark.plans.pipeline_queries8 import QC_SCORED_CTE

    pcts = ", ".join(f"({p})" for p in _PRUNE_PCTS)
    return (
        QC_SCORED_CTE
        + f""",
ranked AS (
  SELECT source, n_tokens, z,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY z DESC, doc_id ASC)
           AS rnk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM scored),
fanned AS (
  SELECT r.*, p.keep_pct, (p.keep_pct * r.n + 99) // 100 AS quota
  FROM ranked r CROSS JOIN (VALUES {pcts}) p(keep_pct))
SELECT CAST(keep_pct AS INT) AS keep_pct, source,
       CAST(ANY_VALUE(n) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rnk <= quota THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN rnk <= quota THEN n_tokens END) AS BIGINT)
         AS tokens_kept,
       CAST(MIN(CASE WHEN rnk <= quota THEN z END) AS BIGINT) AS min_z_kept,
       ROUND(CAST(SUM(CASE WHEN rnk <= quota THEN n_tokens END) AS DOUBLE)
             / CAST(SUM(n_tokens) AS DOUBLE), 6) AS token_share_kept
FROM fanned
GROUP BY keep_pct, source
ORDER BY keep_pct, source
"""
    )


PRUNE_SWEEP_SQL = _prune_sweep_sql()


def pipeline_quality_terciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing: NTILE(3) per language over the
    integer quality logit (head / middle / tail), with per-bucket doc
    and token mass and the score range — the manifest that routes
    head-bucket data to pretraining and tail to filtering review.

    Deterministic: the NTILE order ties to doc_id, and both engines
    share the standard NTILE fill rule (first n mod k buckets take the
    extra row).  Scale shape: one rank window per lang partition, one
    rollup on (lang, bucket)."""
    from kmeans_mapreduce_spark.plans.pipeline_queries8 import quality_scored

    scored = quality_scored(_docs(spark, sf_dir))
    w = Window.partitionBy("lang").orderBy(F.desc("z"), F.asc("doc_id"))
    return (
        scored.withColumn("bucket", F.ntile(3).over(w))
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
        .orderBy("lang", "bucket")
    )


def _terciles_sql() -> str:
    from kmeans_mapreduce_spark.plans.pipeline_queries8 import QC_SCORED_CTE

    return (
        QC_SCORED_CTE
        + """
SELECT lang, CAST(bucket AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(MIN(z) AS BIGINT) AS z_min,
       CAST(MAX(z) AS BIGINT) AS z_max
FROM (
  SELECT lang, n_tokens, z,
         NTILE(3) OVER (PARTITION BY lang ORDER BY z DESC, doc_id ASC)
           AS bucket
  FROM scored)
GROUP BY lang, bucket
ORDER BY lang, bucket
"""
    )


QUALITY_TERCILES_SQL = _terciles_sql()


# --- shard balance audit ------------------------------------------------------


def pipeline_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard balance audit for the md5 shard layout
    (pipeline_shuffle_shards' assignment, verbatim): per-shard doc and
    TOKEN mass with shares — the check that no training shard is
    starved or bloated before an export commits.  Token balance is the
    number dataloaders feel; the shards manifest only tracked chars.

    Scale shape: one map-side projection + one 8-bucket shuffle; the
    share divisions run on the |shards|-row aggregate (exact long sums
    cast to double)."""
    from kmeans_mapreduce_spark.plans.pipeline_queries4 import shard_expr

    d = _docs(spark, sf_dir)
    shard, _ = shard_expr()
    per = (
        d.select(shard.alias("shard"), TXT.token_count("text").alias("n_tok"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    w_all = Window.partitionBy()
    return per.select(
        "shard",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w_all).cast("double"),
            6,
        ).alias("doc_share"),
        F.round(
            F.col("n_tokens").cast("double")
            / F.sum("n_tokens").over(w_all).cast("double"),
            6,
        ).alias("token_share"),
    ).orderBy("shard")


def _shard_balance_sql() -> str:
    from kmeans_mapreduce_spark.plans.pipeline_queries4 import SHARD_ID_SQL

    return f"""
WITH per AS (
  SELECT {SHARD_ID_SQL} AS shard,
         {_NTOK} AS n_tok
  FROM documents),
agg AS (
  SELECT shard, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens
  FROM per GROUP BY shard)
SELECT shard,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE), 6)
         AS doc_share,
       ROUND(CAST(n_tokens AS DOUBLE)
             / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6) AS token_share
FROM agg
ORDER BY shard
"""


SHARD_BALANCE_SQL = _shard_balance_sql()


# --- SimHash Hamming-distance histogram ---------------------------------------


def dedup_simhash_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance histogram over the SimHash candidate pairs
    (distance <= 6 over 60-bit signatures): how near-dup mass
    distributes across distances — the tuning readout for picking
    max_hamming (a fat tail at 5-6 says the threshold is doing work; an
    empty one says it can tighten).  Adds an id checksum per distance
    so the hash gate pins WHICH pairs, not just how many.

    Same md5-derived machinery as dedup_simhash (fully reproducible in
    SQL); one extra |pairs|-row rollup on top of the banded candidate
    join."""
    from kmeans_mapreduce_spark.operators import dedup as DD

    pairs = DD.simhash_dedup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", max_hamming=6
    )
    return (
        pairs.groupBy("hamming")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("id_a") + F.col("id_b")).cast("bigint").alias("id_sum"),
        )
        .orderBy("hamming")
    )


def _simhash_histogram_sql() -> str:
    from kmeans_mapreduce_spark.plans.pipeline_queries2 import SIMHASH_SQL

    return f"""
SELECT hamming,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(id_a + id_b) AS BIGINT) AS id_sum
FROM ({SIMHASH_SQL}) q
GROUP BY hamming
ORDER BY hamming
"""


SIMHASH_HISTOGRAM_SQL = _simhash_histogram_sql()


# --- deterministic token-budget downsampling -----------------------------------


def pipeline_budget_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut each source to HALF its token mass, reproducibly: docs are
    taken in md5-hash order (the shuffle-shards ordering — content-
    independent, engine/partitioning/rerun-stable) until the next doc
    would exceed the budget; whole docs only.  This is the "give me
    exactly ~X tokens of this source" operation every training-data
    team runs between planning (pipeline_token_budget_epochs /
    pipeline_sample_temperature decide X) and packing.

    All-integer: budget = available div 2, the keep rule is an
    inclusive-cumsum compare, and kept_id_sum pins WHICH docs were
    kept, not just how many.  Scale shape: one hash shuffle per source
    partition for the rank window + cumsum (the distributed prefix-sum
    layout pipeline_seq_packing documents), then a |sources|-row
    rollup."""
    from kmeans_mapreduce_spark.plans.pipeline_queries4 import shard_expr

    d = _docs(spark, sf_dir)
    _, h = shard_expr()  # md5(doc_id) — the canonical shuffle order
    toks = d.select(
        "doc_id",
        "source",
        TXT.token_count("text").alias("n_tok"),
        h.alias("sort_key"),
    )
    w_src = Window.partitionBy("source")
    w_cum = (
        Window.partitionBy("source")
        .orderBy("sort_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = toks.withColumn(
        "budget", F.expr("sum(n_tok) over (partition by source) div 2")
    ).withColumn("cum", F.sum("n_tok").over(w_cum))
    kept = staged.withColumn("is_kept", F.col("cum") <= F.col("budget"))
    return (
        kept.groupBy("source")
        .agg(
            F.first("budget").cast("bigint").alias("budget"),
            F.count("*").alias("n_docs"),
            F.sum(F.col("is_kept").cast("int")).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("is_kept"), F.col("n_tok")))
            .cast("bigint")
            .alias("tokens_kept"),
            F.coalesce(
                F.sum(F.when(F.col("is_kept"), F.col("doc_id"))), F.lit(0)
            )
            .cast("bigint")
            .alias("kept_id_sum"),
        )
        .withColumn(
            "utilization",
            F.when(
                F.col("budget") > 0,
                F.round(
                    F.col("tokens_kept").cast("double")
                    / F.col("budget").cast("double"),
                    6,
                ),
            ),
        )
        .orderBy("source")
    )


BUDGET_DOWNSAMPLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, {_NTOK} AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS sort_key
  FROM documents),
staged AS (
  SELECT *,
         SUM(n_tok) OVER (PARTITION BY source) // 2 AS budget,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY sort_key, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks)
SELECT source,
       CAST(ANY_VALUE(budget) AS BIGINT) AS budget,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(COALESCE(SUM(CASE WHEN cum <= budget THEN n_tok END), 0)
            AS BIGINT) AS tokens_kept,
       CAST(COALESCE(SUM(CASE WHEN cum <= budget THEN doc_id END), 0)
            AS BIGINT) AS kept_id_sum,
       CASE WHEN ANY_VALUE(budget) > 0 THEN
         ROUND(CAST(COALESCE(SUM(CASE WHEN cum <= budget THEN n_tok END), 0)
                    AS DOUBLE) / CAST(ANY_VALUE(budget) AS DOUBLE), 6)
       END AS utilization
FROM staged
GROUP BY source
ORDER BY source
"""
