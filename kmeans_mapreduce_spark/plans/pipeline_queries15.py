"""Round-11 pipeline queries (batch 31): the shortlist axis of the ANN
tuning-curve family, and the RIFF/WAVE real-codec arm.

- ann_rerank_shortlist_sweep: recall@10 vs rerank shortlist size over
  the SAME trained IVF-PQ index — the knob `exact_rerank` actually
  exposes (similarity.py shortlist, default 50) had a single measured
  point; this traces the whole frontier from ONE ADC scan at the widest
  level (the probe sweep's prefix trick applied to ADC ranks).
- mm_wav_features / mm_wav_window_energy: the first REAL non-netpbm
  codec arm — RIFF/WAVE PCM16 payloads with a genuine chunk walk
  (odd-size note chunk => real pad byte, the RIFF alignment trap) ->
  per-file audio features and windowed energy, under formula oracles.

No analog in the reference (beyond-reference mandated surface); the
trained-IVF-PQ machinery reuses the quantized one-step-Lloyd recipe of
`pipeline_queries14._trained_ivfpq` (reference recenter contract,
master.go:579-600) so the DuckDB oracle replays training exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.functions.distance import squared_euclidean
from kmeans_mapreduce_spark.operators import multimodal as MM
from kmeans_mapreduce_spark.plans.pipeline_queries import _docs, _ivf_d2_sql
from kmeans_mapreduce_spark.plans.pipeline_queries14 import (
    _IVFPQ_TRAINED_CTES,
    _RQ_K,
    _RQ_NPROBE,
    _RQ_NQUERY,
    _brute_topk,
    _trained_ivfpq,
)

# --- the shortlist axis of the tuning-curve family ---------------------------

# rerank shortlist levels the sweep traces; 50 is the operator default
# (similarity.exact_rerank callers), so the measured single point stays
# on the curve
_SL_LEVELS = (10, 25, 50, 100)


def ann_rerank_shortlist_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rerank-shortlist tuning curve — the third axis of the ANN
    calibration family (n_probe: `ann_ivf_pq_probe_sweep`, banding:
    `dedup_minhash_band_sweep`, shortlist: here): for shortlist in
    10/25/50/100 over the SAME trained index and probe set
    (`_trained_ivfpq`, n_probe=4), the mean shortlist rows actually
    available (the cost axis: |Q| x shortlist raw-vector fetches is
    what the refine stage pays) and the mean recall@10 of the exact
    re-rank of that shortlist vs the brute ground truth (the quality
    axis).

    One ADC scan at the WIDEST level serves every level: each
    shortlist member carries its ADC rank, so level s is the filter
    rank <= s — the probe sweep's prefix trick applied to the ADC
    ranking; true distances for the widest shortlist are computed ONCE
    and every level's re-rank windows over its own slice.  All
    arithmetic integer-exact as in the siblings.

    Reading the curve on this corpus (sf0.01): recall@10 climbs 0.312
    (shortlist 10 = pure ADC) -> 0.514 (25) -> 0.638 (50) -> 0.674
    (100), while mean_shortlist saturates at 88.56 < 100 — the probed
    cells run out of candidates before the widest level fills.  The
    flattening tail is the actionable readout: past ~50 the shortlist
    has nearly exhausted what 4 probes CONTAIN, so the next recall
    point must come from more probes or better codebooks, not more
    rerank candidates — exactly the hand-off the probe sweep's falling
    curve prices from the other side."""
    from pyspark.sql import Window

    from kmeans_mapreduce_spark.operators import similarity as SIM

    e, cents, books, qs = _trained_ivfpq(spark, sf_dir)
    try:
        widest = SIM.ivf_pq_topk(
            e, cents, books, qs,
            k=max(_SL_LEVELS), n_probe=_RQ_NPROBE,
            id_col="vec_id", vec_col="v",
        )
        qdf = spark.createDataFrame(qs, "query_id long, qv array<double>")
        # TRUE distances for the widest shortlist, once — the
        # |Q| x max(levels) raw-vector sliver every level's re-rank
        # slices (same fold order / rounding as exact_rerank)
        d2 = squared_euclidean("qv", "nv")
        ex = (
            widest.select("query_id", "neighbor_id", "rank")
            .join(
                e.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("v").alias("nv"),
                ),
                "neighbor_id",
            )
            .join(F.broadcast(qdf), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                "rank",
                F.round(d2, 6).alias("exact_d2"),
            )
        )
        levels = spark.createDataFrame(
            [(s,) for s in _SL_LEVELS], "shortlist int"
        )
        lev = ex.join(
            F.broadcast(levels), F.col("rank") <= F.col("shortlist")
        )
        w = Window.partitionBy("shortlist", "query_id").orderBy(
            F.asc("exact_d2"), F.asc("neighbor_id")
        )
        top = lev.withColumn("rr", F.row_number().over(w)).where(
            F.col("rr") <= _RQ_K
        )
        brute = _brute_topk(e, qdf).select("query_id", "neighbor_id")
        hits = (
            top.join(brute, ["query_id", "neighbor_id"])
            .groupBy("shortlist")
            .agg(F.count("*").alias("hits"))
        )
        avail = lev.groupBy("shortlist").agg(
            F.count("*").alias("n_short")
        )
        out = (
            levels.join(avail, "shortlist", "left")
            .join(hits, "shortlist", "left")
            .select(
                "shortlist",
                F.round(
                    F.coalesce(F.col("n_short"), F.lit(0)).cast("double")
                    / F.lit(float(_RQ_NQUERY)),
                    6,
                ).alias("mean_shortlist"),
                F.round(
                    F.coalesce(F.col("hits"), F.lit(0)).cast("double")
                    / F.lit(float(_RQ_NQUERY * _RQ_K)),
                    6,
                ).alias("mean_recall"),
            )
            .orderBy("shortlist")
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        e.unpersist()


ANN_RERANK_SHORTLIST_SWEEP_SQL = _IVFPQ_TRAINED_CTES + f""",
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
widest AS MATERIALIZED (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY approx_d2 ASC, neighbor_id ASC) AS rank
    FROM adc) WHERE rank <= {max(_SL_LEVELS)}),
ex AS MATERIALIZED (  -- true d2 for the widest shortlist, once
  SELECT s.query_id, s.neighbor_id, s.rank,
         {_ivf_d2_sql('q.v', 'n.v')} AS exact_d2
  FROM widest s JOIN e q ON q.id = s.query_id
  JOIN e n ON n.id = s.neighbor_id),
slevels AS (SELECT * FROM (VALUES {", ".join(f"({s})" for s in _SL_LEVELS)})
            AS t(shortlist)),
lev AS MATERIALIZED (
  SELECT l.shortlist, x.query_id, x.neighbor_id, x.exact_d2
  FROM slevels l JOIN ex x ON x.rank <= l.shortlist),
topk AS (
  SELECT shortlist, query_id, neighbor_id FROM (
    SELECT shortlist, query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY shortlist, query_id
                              ORDER BY exact_d2 ASC, neighbor_id ASC) AS rr
    FROM lev) WHERE rr <= {_RQ_K}),
hitsq AS (
  SELECT t.shortlist, COUNT(*) AS hits
  FROM topk t JOIN brute b
    ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
  GROUP BY t.shortlist),
avail AS (SELECT shortlist, COUNT(*) AS n_short FROM lev
          GROUP BY shortlist)
SELECT CAST(l.shortlist AS INT) AS shortlist,
       ROUND(CAST(COALESCE(a.n_short, 0) AS DOUBLE) / {_RQ_NQUERY}, 6)
         AS mean_shortlist,
       ROUND(CAST(COALESCE(h.hits, 0) AS DOUBLE) / {_RQ_NQUERY * _RQ_K}, 6)
         AS mean_recall
FROM slevels l
LEFT JOIN avail a ON a.shortlist = l.shortlist
LEFT JOIN hitsq h ON h.shortlist = l.shortlist
ORDER BY shortlist
"""


# --- the RIFF/WAVE real-codec arm ---------------------------------------------

# shared synthesis-parameter CTE: the WAV sibling of _DIMS_CTE — one
# generative formula (attach_wav_payload) both engines recompute
_WAV_CTE = """
WITH m AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
         octet_length(encode(text)) AS n
  FROM documents),
p AS (
  SELECT media_id,
         64 + n % 128 AS ns,
         8000 + 1000 * (media_id % 3) AS rate,
         1 + media_id % 5 AS note_len
  FROM m)
"""

# the sample formula as a SQL snippet: sample i of media m
_WAV_SAMPLE = "((({m}) * 11 + ({i}) * 7) % 4001 - 2000)"


def mm_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: synthesize genuine RIFF/WAVE PCM16
    payloads from the documents table (odd-sized note chunk between fmt
    and data => a real pad byte in the chunk walk), parse them with the
    pure-Python `_decode_wav`, and report per file the parsed sample
    rate and count (both live PAST the pad byte — a walker that skips
    it wrong never finds them), the serialized byte count (encoder
    pad-sensitive), exact sample sum / energy, and the zero-crossing
    count.  The oracle re-derives every column from the generative
    formula, so a parse-offset bug anywhere in the walk breaks the
    hash.

    Scale shape: synthesis and decode+features are two chained
    mapInPandas stages in ONE task pipeline (no shuffle); at 100 TB
    this is the fetch -> decode -> per-file-stats pattern with the
    decode boundary on real bytes."""
    media = MM.attach_wav_payload(_docs(spark, sf_dir), "doc_id", "text")
    return MM.wav_features(media).orderBy("media_id")


MM_WAV_FEATURES_SQL = (
    _WAV_CTE
    + f""",
s AS (
  SELECT media_id, ns, rate, note_len,
         list_transform(range(0, ns),
                        i -> {_WAV_SAMPLE.format(m='media_id', i='i')}) AS smp
  FROM p)
SELECT media_id,
       CAST(rate AS INT) AS sample_rate,
       CAST(ns AS BIGINT) AS n_samples,
       -- RIFF hdr(12) + fmt(8+16) + note(8 + len + pad) + data(8 + 2*ns)
       CAST(52 + note_len + note_len % 2 + 2 * ns AS BIGINT) AS n_bytes,
       CAST(list_sum(smp) AS BIGINT) AS sum_s,
       CAST(list_sum(list_transform(smp, x -> x * x)) AS BIGINT) AS sum_sq,
       CAST(COALESCE(list_sum(list_transform(range(1, ns),
            i -> CASE WHEN (smp[i] >= 0) != (smp[i+1] >= 0)
                      THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_zero_cross
FROM s
ORDER BY media_id
"""
)


def mm_wav_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> frame -> feature for audio, in one task pipeline: REAL
    WAV decode, then the `audio_pcm_windows` framing grammar (32-sample
    windows every 25), then per-window exact energy (sum of squares)
    and peak |sample| — the windowed-feature stage an ASR pipeline runs
    after the codec, here on genuinely decoded samples (the audio
    sibling of `resize_media`'s decode->transform composition).  The
    oracle replays the framing and window math from the generative
    formula."""
    media = MM.attach_wav_payload(_docs(spark, sf_dir), "doc_id", "text")
    return MM.wav_window_energy(
        media, window_samples=32, hop_samples=25
    ).orderBy("media_id", "window_idx")


MM_WAV_WINDOW_ENERGY_SQL = (
    _WAV_CTE
    + f""",
w AS (SELECT media_id, ns, (ns - 32) // 25 + 1 AS nw
      FROM p WHERE ns >= 32)
SELECT media_id,
       CAST(u.wi AS INT) AS window_idx,
       CAST(u.wi * 25 AS INT) AS start_sample,
       CAST(list_sum(list_transform(range(0, 32),
            j -> {_WAV_SAMPLE.format(m='media_id', i='u.wi * 25 + j')}
                 * {_WAV_SAMPLE.format(m='media_id', i='u.wi * 25 + j')}))
         AS BIGINT) AS win_sum_sq,
       CAST(list_max(list_transform(range(0, 32),
            j -> abs({_WAV_SAMPLE.format(m='media_id', i='u.wi * 25 + j')})))
         AS INT) AS win_peak
FROM w, UNNEST(range(0, w.nw)) AS u(wi)
ORDER BY media_id, window_idx
"""
)
