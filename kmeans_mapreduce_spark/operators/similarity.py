"""Similarity search over embedding columns (array<float|double>).

Beyond-reference surface (mandated): approximate nearest neighbor.

Two paths:
  * brute_force_topk — exact: score every (query, corpus) pair, keep
    top-k per query via partial-aggregated window rank.  The correctness
    baseline; O(Q*N) but fully distributed and shuffle-light when the
    query set is broadcast.
  * lsh_topk — the scale path: random-hyperplane (signed projection)
    bucketing; only same-bucket pairs are scored.  Probes a handful of
    buckets per query; recall measured against brute force in tests.

Random hyperplanes are generated driver-side from a seeded PRNG and
inlined as literals — the Spark-native analog of broadcasting the
projection matrix; nothing here leaves the JVM.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.functions.distance import (
    argmin_sql,
    centroid_dists_sql,
    centroids_sql_literal,
    cosine_similarity,
    dot,
    squared_euclidean,
)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "id",
    vec_col: str = "v",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors per query: [query_id, rank, neighbor_id,
    score(rounded 6)].

    queries is expected to be small (it is broadcast); ranking uses
    row_number over (score desc, neighbor_id asc) — a deterministic
    total order, so results are replayable and oracle-checkable.
    Self-matches (same id) are excluded.
    """
    from kmeans_mapreduce_spark.session import ensure_parallelism

    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv"))
    score = (
        cosine_similarity(F.col("qv"), F.col("cv"))
        if metric == "cosine"
        else dot(F.col("qv"), F.col("cv"))
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(score, 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """SQL for the random-hyperplane bucket id: bit i = sign(v . plane_i).

    One expression string instead of nested Column literals — building
    n_planes x dim F.lit() Columns costs a py4j round-trip each (~1s of
    driver time per LSH table set, measured)."""
    bits = []
    for i, p in enumerate(planes):
        arr = "array(" + ",".join(f"{float(x)!r}D" for x in p) + ")"
        d = f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> x*y), 0D, (s, v) -> s+v)"
        bits.append(f"if({d} >= 0, {1 << i}, 0)")
    return f"cast({' + '.join(bits)} as int)"


def signed_projection_bucket(vec_col, planes: list[list[float]]):
    """Column form of _bucket_sql for a plain column name or Column."""
    vec_sql = vec_col if isinstance(vec_col, str) else None
    if vec_sql is None:
        # Column objects can't be spliced into a SQL string; fall back to
        # the literal-Column build (test/interactive surface only).
        bits = []
        for i, p in enumerate(planes):
            lit = F.array(*[F.lit(float(x)) for x in p])
            bits.append(F.when(dot(vec_col, lit) >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out.cast("int")
    return F.expr(_bucket_sql(vec_sql, planes))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "id",
    vec_col: str = "v",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    Each of `n_tables` independent hash tables buckets vectors by
    `n_planes` sign bits; a query is compared only against corpus rows
    sharing a bucket in >=1 table.  Join key is (table, bucket) — an
    equi-join Catalyst shuffles hash-partitioned, no N^2 anywhere.
    Returns the same shape as brute_force_topk (ranks may hold fewer
    than k rows when buckets are sparse — that's the approximation).

    Parameter guidance: expected bucket occupancy is N / 2^n_planes
    per table, and per-pair recall is 1-(1-p^n_planes)^n_tables with
    p = 1 - angle/pi.  Both knobs must GROW with the corpus:

      n_planes  n_tables  buckets/table  use when
      --------  --------  -------------  ---------------------------
         4         4            16       <=~100k vectors (default —
                                         candidate sets stay large,
                                         recall effectively 1)
         8         8           256       ~10M vectors
        12        16          4096       ~1B vectors; at this depth
                                         recall for 60-degree pairs
                                         is ~35%/table — the table
                                         count is what restores it
        16        32         65536       beyond ~1B, or latency-bound
                                         serving where per-bucket
                                         scan cost must stay flat

    Deeper buckets (n_planes) cut comparisons exponentially but lose
    mid-angle neighbors; more tables buy recall back linearly in scan
    cost.  IVF/PQ (below) are the better trade past ~100M vectors —
    their cells adapt to the data distribution where hyperplanes do
    not.  tests/test_dedup_similarity.py pins recall@5 vs brute force
    at two corpus scales for the default and the 8/8 scale-up.
    """
    def bucketed(df: DataFrame, ident: str) -> DataFrame:
        vec_sql = f"cast({vec_col} as array<double>)"
        structs = ",".join(
            f"struct({t} as tbl, "
            f"{_bucket_sql(vec_sql, _hyperplanes(dim, n_planes, seed + 1000 * t))} as bucket)"
            for t in range(n_tables)
        )
        cols = [F.col(id_col).alias(ident), F.col(vec_col).cast("array<double>").alias(f"{ident}_v")]
        return df.select(
            *cols, F.explode(F.expr(f"array({structs})")).alias("tb")
        ).select(ident, f"{ident}_v", "tb.tbl", "tb.bucket")

    from kmeans_mapreduce_spark.session import ensure_parallelism

    cq = bucketed(queries, "query_id")
    cc = bucketed(ensure_parallelism(corpus), "neighbor_id")
    pairs = (
        cq.join(cc, ["tbl", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity(F.col("query_id_v"), F.col("neighbor_id_v")), 6).alias(
                "score"
            ),
        )
        .distinct()  # same pair can collide in multiple tables
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def assign_ivf_cells(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """(neighbor_id, cv, cell): each vector's nearest coarse centroid —
    THE one cell-assignment implementation, shared by the index build
    (write_ivf_index), the in-memory probe (ivf_topk), the standalone
    index-append stream and the composed pipeline's index stage, so a
    tie-break or layout change has exactly one place to live.
    Delegates to operators/kmeans.assign_clusters: ties to the lowest
    cell, and the k x d distance array is bound ONCE (transform-over-
    singleton) instead of evaluating it separately for array_min and
    array_position."""
    from kmeans_mapreduce_spark.operators.kmeans import assign_clusters

    c = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    return assign_clusters(c, centroids, features_col="cv").withColumnRenamed(
        "cluster_id", "cell"
    )


def write_ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "id",
    vec_col: str = "v",
) -> None:
    """Materialize the IVF inverted file: corpus partitioned BY CELL on
    disk (hive layout `cell=<i>/`).

    This is the 100 TB shape of ivf_topk's cell assignment: the one-time
    nearest-centroid pass is written out partitioned, so every later
    probe with a cell predicate PRUNES AT THE SCAN — a query touching
    n_probe of k cells reads n_probe/k of the corpus bytes, no filter
    execution involved (pinned in tests/test_asof_ivf.py)."""
    c = assign_ivf_cells(corpus, centroids, id_col=id_col, vec_col=vec_col)
    c.write.mode("overwrite").partitionBy("cell").parquet(path)


def _probe_query_cells(
    queries: DataFrame,
    centroids: list[list[float]],
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, qv, cell): one row per probed cell per query — THE
    probe-side derivation every IVF probe shares, so the cell ranking
    and its tie-order have exactly one definition: the ``n_probe``
    nearest cells by (squared distance, cell id), from one SQL
    expression over the centroid literal."""
    dists = centroid_dists_sql("qv", centroids_sql_literal(centroids))
    cells = (
        f"transform(slice(array_sort(transform({dists}, "
        f"(d, i) -> named_struct('d', d, 'i', i))), 1, {n_probe}), s -> s.i)"
    )
    return queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("cell", F.explode(F.expr(cells)))


def _probed_cells(q: DataFrame) -> list:
    """The distinct probed cell ids of `_probe_query_cells` rows (one
    tiny collect over the broadcast-sized query side), for the probes
    that prune an index read by cell."""
    return sorted({r["cell"] for r in q.select("cell").distinct().collect()})


def _score_probed_topk(q: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Join the (broadcast) probe rows to a (neighbor_id, cv, cell)
    corpus on cell, score, and keep the deterministic top-k per query —
    the shared back half of every IVF probe."""
    pairs = (
        F.broadcast(q)
        .join(corpus, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def ivf_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """Probe a written IVF index: same result as ivf_topk, but the cell
    restriction is a PARTITION filter on the index layout, so only the
    probed cells' files are opened."""
    q = _probe_query_cells(queries, centroids, n_probe, id_col, vec_col)
    probed_cells = _probed_cells(q)
    corpus = spark.read.parquet(index_path).where(F.col("cell").isin(probed_cells))
    return _score_probed_topk(q, corpus, k)


def _name_markers(fs, jdir, prefix: str) -> list[int]:
    """Every ``<prefix><int>`` marker file under ``jdir`` — the marker
    value lives in the file NAME, so this is one driver-side listing,
    no stream/byte plumbing.  ONE reader for both marker kinds so the
    hidden-file naming convention cannot drift between them."""
    out: list[int] = []
    for st in fs.listStatus(jdir):
        name = st.getPath().getName()
        if name.startswith(prefix):
            try:
                out.append(int(name[len(prefix):]))
            except ValueError:
                continue
    return out


def _read_compaction_watermark(fs, jdir) -> int | None:
    """The ``_compacted_watermark_<w>`` marker compact_ivf_index staged
    into a base dir.  Single by construction (each staging dir is
    fresh and swaps whole); max() is the single value."""
    ms = _name_markers(fs, jdir, "_compacted_watermark_")
    return max(ms) if ms else None


def _require_live_base(spark, base_dir: str, action: str):
    """(fs, jbase) for a compacted base dir, refusing the two dead
    states both consumers must detect identically: absent with the
    ``__old`` twin parked (a compaction swap in flight or crashed
    mid-promote), and absent outright."""
    from kmeans_mapreduce_spark.sources.maintenance import _fs_path

    fs, jbase = _fs_path(spark, base_dir)
    if not fs.exists(jbase):
        _, jold = _fs_path(spark, base_dir.rstrip("/") + "__old")
        if fs.exists(jold):
            raise RuntimeError(
                f"{base_dir!r} is absent but its __old twin exists — a "
                f"compaction swap is in flight or crashed mid-promote; "
                f"re-run compact_ivf_index (its recovery preamble "
                f"restores the parked copy) before {action}"
            )
        raise FileNotFoundError(base_dir)
    return fs, jbase


def _tree_batch_dirs(fs, jsrc) -> dict[int, object]:
    """{batch id: java Path} for the ``batch=<b>`` dirs under a stream
    tree — one driver-side listing."""
    out: dict[int, object] = {}
    for st in fs.listStatus(jsrc):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("batch=")):
            continue
        try:
            out[int(name.split("=", 1)[1])] = st.getPath()
        except ValueError:
            continue
    return out


def _dir_data_free(fs, jdir) -> bool:
    """True iff the dir holds no data files (names not starting with
    ``_``/``.`` — Spark's own visibility rule); markers and commit
    artifacts don't count.  One recursive driver-side listing."""
    it = fs.listFiles(jdir, True)
    while it.hasNext():
        if not it.next().getPath().getName().startswith(("_", ".")):
            return False
    return True


def _read_retired_through(fs, jsrc) -> int | None:
    """The ``_retired_through_<u>`` marker retire_compacted_batches
    leaves at the tree root — evidence that batches <= u were deleted,
    so the tree alone no longer holds the full history.  MAX across
    markers: retirement's crash window can briefly leave an old marker
    next to the new one, and the STRICTER claim must win (listing
    order is lexicographic, so first-found could be the weaker)."""
    ms = _name_markers(fs, jsrc, "_retired_through_")
    return max(ms) if ms else None


def _tree_source_token(fs, jsrc) -> int:
    """Deterministic identity token for a stream tree: 63 bits of
    sha256 over its fully-qualified URI (scheme + authority + absolute
    path, so relative/trailing-slash spellings of the same dir agree).
    ``compact_ivf_index`` stages it into the base as a
    ``_compacted_source_<token>`` marker; ``retire_compacted_batches``
    recomputes it from the tree it is about to delete from and refuses
    on mismatch — a base compacted from a DIFFERENT tree must never
    authorize deletions here (its watermark proves nothing about this
    tree's rows)."""
    import hashlib

    qual = fs.makeQualified(jsrc).toUri().toString()
    return int.from_bytes(hashlib.sha256(qual.encode()).digest()[:8], "big") >> 1


def ivf_topk_base_plus_delta(
    spark,
    base_dir: str,
    stream_ivf_dir: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "id",
    vec_col: str = "v",
    watermark_batch: int | None = None,
) -> DataFrame:
    """Probe a compacted IVF base PLUS the stream tree's post-compaction
    deltas — the executable continuation ``compact_ivf_index`` promises:
    after a quiescent compaction at watermark ``w``, the stream keeps
    appending ``batch=<b>/`` dirs with ``b > w``, and probes read
    ``base ∪ (tree where batch > w)`` instead of the whole
    small-files tree.  Identical results to probing the uncompacted
    tree (the base holds exactly the rows of batches <= w, the filter
    excludes them from the tree side — no row lost, none doubled);
    equality is pinned in tests/test_asof_ivf.py and measured
    mid-stream at the 50k point in the stress harness.

    Both sides prune at the scan: the base by its ``cell=<i>/``
    partitions, the delta by ``batch > w`` AND the probed cells — so
    the per-probe file count is O(cells) + O(delta batches), not
    O(all batches), which is the point of compacting.

    ``watermark_batch`` defaults to the marker the compaction staged
    into the base (``_compacted_watermark_<w>`` — in the file NAME, so
    reading it is a driver-side listing, and it promotes atomically
    with the data in the same dir swap).  Passing it explicitly
    overrides (e.g. probing against a base built by external
    tooling)."""
    from kmeans_mapreduce_spark.sources.maintenance import _fs_path

    fs, jbase = _require_live_base(spark, base_dir, "probing")
    if watermark_batch is None:
        watermark_batch = _read_compaction_watermark(fs, jbase)
        if watermark_batch is None:
            raise ValueError(
                f"{base_dir!r} carries no _compacted_watermark_<w> "
                f"marker (compacted from a tree without a batch level, "
                f"or not written by compact_ivf_index) — pass "
                f"watermark_batch explicitly"
            )
    q = _probe_query_cells(queries, centroids, n_probe, id_col, vec_col)
    probed_cells = _probed_cells(q)
    base = (
        spark.read.parquet(base_dir)
        .where(F.col("cell").isin(probed_cells))
        .select("neighbor_id", "cv", "cell")
    )
    # a fully-retired tree has no post-watermark batch dirs — probe
    # the base alone instead of letting the parquet read die on schema
    # inference over zero files.  STRICT about everything else: a
    # missing tree (typo'd path) and a batch-less tree that still
    # holds data (a cell-major dir passed by mistake) both raise —
    # silently ignoring physically-present delta rows would serve
    # quietly stale answers.  One driver-side listing.
    # the tree's own fs handle (ADVICE r15 low — the base's fs on the
    # tree path is a "Wrong FS" error on mixed filesystems)
    tfs, jtree = _fs_path(spark, stream_ivf_dir)
    if not tfs.exists(jtree):
        raise FileNotFoundError(stream_ivf_dir)
    # staleness guard, symmetric with compact_ivf_index's merge_base
    # check: if the tree has retired batches PAST this base's
    # watermark, the rows in between exist in neither side — a probe
    # would silently serve an incomplete corpus (the exact quiet-loss
    # this function's strictness comments promise to refuse).
    retired_through = _read_retired_through(tfs, jtree)
    if retired_through is not None and watermark_batch < retired_through:
        raise ValueError(
            f"{base_dir!r} covers batches <= {watermark_batch} but "
            f"{stream_ivf_dir!r} has retired batches <= "
            f"{retired_through} — the rows in between are in neither "
            f"the base nor the tree, so this probe would silently "
            f"miss them; probe the base the retirement was anchored "
            f"on (or re-compact with merge_base first)"
        )
    tree_batches = _tree_batch_dirs(tfs, jtree)
    if not tree_batches and not _dir_data_free(tfs, jtree):
        raise ValueError(
            f"{stream_ivf_dir!r} holds data but no batch=<b> dirs — "
            f"not a batch-major stream tree (did you pass a cell-major "
            f"index?); probe it with ivf_topk_from_index instead"
        )
    if not any(b > watermark_batch for b in tree_batches):
        return _score_probed_topk(q, base, k)
    delta = (
        spark.read.parquet(stream_ivf_dir)
        .where(
            (F.col("batch") > F.lit(watermark_batch))
            & F.col("cell").isin(probed_cells)
        )
        .select("neighbor_id", "cv", "cell")
    )
    return _score_probed_topk(q, base.unionByName(delta), k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """IVF (inverted-file) ANN: corpus rows are assigned to their nearest
    coarse centroid (one pass, done once, cacheable); a query scores only
    rows in its `n_probe` nearest cells.

    `centroids` come from fit_kmeans_native/mllib on a sample — K-Means
    as ANN infrastructure, closing the loop with the reference's core
    algorithm.  Join on cell id is an equi-join; at 100 TB the corpus
    side would be written bucketed-by-cell so probes prune partitions.
    """
    c_cell = assign_ivf_cells(corpus, centroids, id_col=id_col, vec_col=vec_col)
    q = _probe_query_cells(queries, centroids, n_probe, id_col, vec_col)
    return _score_probed_topk(q, c_cell, k)


def stream_append_ivf_index(
    spark,
    source_dir: str,
    index_path: str,
    centroids: list[list[float]],
    checkpoint: str,
    id_col: str = "id",
    vec_col: str = "v",
) -> None:
    """Continuously maintain the IVF inverted file from a vector stream:
    each arriving embedding is assigned its nearest coarse centroid and
    appended to the hive-partitioned (`cell=<i>/`) index that
    ivf_topk_from_index probes.

    This closes the ingestion loop for the 100 TB ANN story: the index
    is not a one-shot artifact but a live table — new vectors become
    searchable after the next micro-batch, exactly-once via the sink's
    checkpoint/_spark_metadata log, and probes keep pruning at the scan
    because the stream writes THROUGH the same partition layout.
    Centroids stay fixed between index rebuilds (the standard IVF
    regime: drift is handled by periodic re-train + re-build, not by
    moving cells under a live index).
    """
    schema = spark.read.parquet(source_dir).schema
    src = spark.readStream.schema(schema).parquet(source_dir)
    c = assign_ivf_cells(src, centroids, id_col=id_col, vec_col=vec_col)
    q = (
        c.writeStream.format("parquet")
        .partitionBy("cell")
        .option("path", index_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def compact_ivf_index(
    spark,
    stream_ivf_dir: str,
    dest: str,
    rows_per_file: int | None = None,
    merge_base: str | None = None,
) -> dict:
    """Compact a STREAMED IVF tree (``batch=<b>/cell=<i>/`` — the
    layout the composed pipeline's index stage and any per-batch
    appender accumulate) into the cell-major layout the batch builder
    writes (``cell=<i>/``, write_ivf_index above), at ``dest``.

    Why: the streamed tree grows one dir-per-cell PER BATCH, so a
    probe of n_probe cells lists and opens O(batches) directories and
    files — the same small-files failure compact_partitions exists
    for, here multiplied by the partition tree's batch level.  The
    compacted artifact holds identical rows with the batch provenance
    dropped, clustered one-task-per-cell (each cell's rows hash to ONE
    task, so each cell dir holds one file; ``rows_per_file`` splits
    hot cells via maxRecordsPerFile, and every split file still holds
    only its cell, so partition pruning survives).  Probes read
    ``dest`` through the same ivf_topk_from_index, with the same
    cell-partition pruning — equality and pruning are pinned in
    tests/test_asof_ivf.py.

    Deliberately NOT in place: the stream tree's batch dirs are the
    writer's exactly-once contract (a replayed micro-batch overwrites
    its own ``batch=<b>``) — rewriting them under a live stream would
    break replay idempotence.  Run this when the stream is quiescent
    (between availableNow drains); afterwards the stream keeps
    appending ``batch=<b>`` dirs and probes continue through
    ``ivf_topk_base_plus_delta`` (``dest`` union ``batch >
    <compacted watermark>``) — the watermark is staged into ``dest``
    as a ``_compacted_watermark_<w>`` marker (watermark in the file
    NAME: reading it back is one driver-side listing, and it promotes
    atomically with the data in the same dir swap; the ``_`` prefix
    makes it invisible to parquet reads).

    ``merge_base`` closes the RETIREMENT cycle: after
    ``retire_compacted_batches`` has deleted the tree's batches <= the
    base's watermark, a later re-compaction can no longer read the
    whole history from the tree alone — pass the existing base (the
    usual call is ``merge_base=dest``) and the rewrite reads
    ``merge_base ∪ (tree where batch > merge_base's watermark)``,
    exactly the row set the probes see.  The tree filter mirrors
    ``ivf_topk_base_plus_delta``'s, so a retired batch that a replayed
    micro-batch recreated (allowed: replay is the writer's contract)
    is excluded instead of double-counted.  The new watermark is
    max(base watermark, tree's max batch id).

    Durability: staged write + whole-dir swap (``dest__staging`` /
    ``dest__old``).  A crash mid-swap leaves dest absent with the old
    copy parked at ``dest__old``; the recovery preamble of the next
    call restores it, so RETRY is the complete repair procedure.
    During the two-rename promote itself ``dest`` is briefly absent —
    a concurrent ``ivf_topk_base_plus_delta`` detects the parked
    ``__old`` twin and refuses with the recovery instruction instead
    of failing on a bare missing path; run probes quiescent or retry
    them around that window.

    Returns {rows, cells, files_before, files_after,
    watermark_batch}."""
    from kmeans_mapreduce_spark.sources.maintenance import _fs_path

    fs, jsrc = _fs_path(spark, stream_ivf_dir)
    if not fs.exists(jsrc):
        raise FileNotFoundError(stream_ivf_dir)
    # dest-side ops get the DEST's FileSystem handle (ADVICE r15 low's
    # class of bug: one dir's fs applied to another dir's path is a
    # "Wrong FS" error on mixed filesystems); staging/old live beside
    # dest by construction, so the whole-dir swap renames stay within
    # one filesystem regardless of where the tree lives
    dfs, jdest = _fs_path(spark, dest)
    staging = dest.rstrip("/") + "__staging"
    old = dest.rstrip("/") + "__old"
    _, jstaging = _fs_path(spark, staging)
    _, jold = _fs_path(spark, old)

    def _checked_rename(src_p, dst_p, what: str) -> None:
        if not dfs.rename(src_p, dst_p):
            raise IOError(f"rename failed ({what}): {src_p} -> {dst_p}")

    # recovery preamble: a crash between the two swap renames leaves
    # dest absent and the previous copy parked — restore it first
    if dfs.exists(jold):
        if not dfs.exists(jdest):
            _checked_rename(jold, jdest, "recover parked dest")
        else:
            dfs.delete(jold, True)
    if dfs.exists(jstaging):
        dfs.delete(jstaging, True)  # incomplete by construction

    def _count_files(fsys, jpath) -> int:
        it = fsys.listFiles(jpath, True)
        n = 0
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    retired_through = _read_retired_through(fs, jsrc)
    base_wm: int | None = None
    bfs = None
    if merge_base is not None:
        # the base's own FileSystem handle: on mixed filesystems the
        # tree's fs applied to the base path throws an unhelpful
        # "Wrong FS" (ADVICE r15 — same class as the retire/probe fix)
        bfs, jbase = _fs_path(spark, merge_base)
        if not bfs.exists(jbase):
            raise FileNotFoundError(merge_base)
        base_wm = _read_compaction_watermark(bfs, jbase)
        if base_wm is None:
            raise ValueError(
                f"{merge_base!r} carries no _compacted_watermark_<w> "
                f"marker — merging a base whose coverage is unknown "
                f"cannot produce a correct new watermark; compact the "
                f"full tree instead"
            )
        if retired_through is not None and base_wm < retired_through:
            raise ValueError(
                f"{merge_base!r} covers batches <= {base_wm} but the "
                f"tree has retired batches <= {retired_through} — "
                f"merging this STALE base would permanently lose the "
                f"rows in between; merge the base the retirement was "
                f"anchored on"
            )
    elif retired_through is not None:
        # the high-consequence misuse: after a retirement the tree
        # alone no longer holds the full history, and a plain
        # compaction would build a partial base, stamp a watermark
        # claiming full coverage, and DELETE the old base (the only
        # remaining copy of the retired rows) in the swap — refuse.
        raise ValueError(
            f"{stream_ivf_dir!r} has retired batches <= "
            f"{retired_through} (_retired_through marker) — a plain "
            f"re-compaction would silently drop their rows and stamp "
            f"a watermark claiming otherwise; pass merge_base=<the "
            f"existing compacted base> so the rewrite reads "
            f"base ∪ post-watermark tree"
        )
    # the distinct cells AND the compaction watermark (max batch id)
    # are enumerable from the partition dirs this listing sees (no
    # extra scan of the data files); the row count rides an
    # observation on the rewrite itself — the compaction reads the
    # tree exactly ONCE
    cells: set[str] = set()
    root_cells = False
    watermark: int | None = base_wm
    post_batches = False
    for st in fs.listStatus(jsrc):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if name.startswith("cell="):
            cells.add(name.split("=", 1)[1])
            root_cells = True
        elif name.startswith("batch="):
            try:
                b = int(name.split("=", 1)[1])
            except ValueError:
                b = None
            if b is not None:
                watermark = b if watermark is None else max(watermark, b)
            if merge_base is not None and (b is None or b <= base_wm):
                continue  # excluded from the rewrite's row set below
            post_batches = True
            for st2 in fs.listStatus(st.getPath()):
                n2 = st2.getPath().getName()
                if st2.isDirectory() and n2.startswith("cell="):
                    cells.add(n2.split("=", 1)[1])
    if merge_base is not None:
        if root_cells:
            raise ValueError(
                f"{stream_ivf_dir!r} has no batch level — merge_base "
                f"only makes sense for a batch-major stream tree"
            )
        # the base must have been compacted from THIS tree (ADVICE r16
        # medium, mirroring retire_compacted_batches; checked after the
        # shape guard above so a cell-major dir keeps its clearer
        # diagnosis): merging a base of a DIFFERENT tree silently
        # excludes this tree's batches <= the foreign watermark from
        # the rewrite (rows the foreign base does not hold) AND stamps
        # a fresh source token naming this tree on the result — which
        # would launder the base past the retirement guard and
        # authorize deleting batches no base absorbed.  Markerless
        # (pre-token) legacy bases keep the watermark-only behavior.
        base_srcs = _name_markers(bfs, jbase, "_compacted_source_")
        if base_srcs and _tree_source_token(fs, jsrc) not in base_srcs:
            raise ValueError(
                f"{merge_base!r} was not compacted from "
                f"{stream_ivf_dir!r} (_compacted_source marker "
                f"mismatch) — merging a foreign base would drop this "
                f"tree's batches <= its watermark from the rewrite and "
                f"stamp a source token vouching for the loss; pass the "
                f"base compacted from THIS tree.  If the tree was "
                f"relocated (the token hashes its qualified URI), "
                f"re-run compact_ivf_index on the tree WITHOUT "
                f"merge_base to re-stamp the token — possible only "
                f"while the tree still holds its full history (no "
                f"_retired_through marker)"
            )
        for st in bfs.listStatus(jbase):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("cell="):
                cells.add(name.split("=", 1)[1])
        if post_batches:
            # mirror the base-plus-delta probe's row set: base rows
            # plus STRICTLY post-watermark tree batches (a retired
            # batch a replay recreated is excluded, not double-counted)
            src = spark.read.parquet(stream_ivf_dir)
            data = (
                src.where(F.col("batch") > F.lit(base_wm))
                .drop("batch")
                .unionByName(spark.read.parquet(merge_base))
            )
        else:
            # a fully-retired tree with nothing new: the rewrite is a
            # re-clustering of the base alone (a clean no-op-shaped
            # pass), not a schema-inference crash over zero tree files
            data = spark.read.parquet(merge_base)
    else:
        src = spark.read.parquet(stream_ivf_dir)
        if "cell" not in src.columns:
            raise ValueError(
                f"{stream_ivf_dir!r} is not an IVF tree: no 'cell' "
                f"column in {src.columns}"
            )
        data = src.drop("batch") if "batch" in src.columns else src
    if not cells:
        raise ValueError(
            f"{stream_ivf_dir!r} holds no cell=<i> partition dirs — "
            f"not a hive-partitioned IVF tree"
        )
    from pyspark.sql import Observation

    from kmeans_mapreduce_spark.functions.observe import observed

    obs = Observation()
    w = (
        data.repartition(len(cells), "cell")
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.mode("overwrite")
    )
    if rows_per_file is not None:
        w = w.option("maxRecordsPerFile", rows_per_file)
    w.partitionBy("cell").parquet(staging)
    # bounded read (functions/observe.py): a lost listener event fails
    # the compaction — whose retry is its complete repair — instead of
    # wedging the maintenance job
    n_rows = observed(obs)["rows"]
    if watermark is not None:
        # staged BEFORE the promote so marker and data swap atomically
        _, jmark = _fs_path(
            spark, f"{staging}/_compacted_watermark_{watermark}"
        )
        dfs.create(jmark, True).close()
        # the SOURCE identity rides with the watermark: a watermark
        # only authorizes retirement on the tree it was computed from
        # (retire_compacted_batches verifies this token), so a swapped
        # argument can never delete batches no base has absorbed
        _, jsmark = _fs_path(
            spark,
            f"{staging}/_compacted_source_{_tree_source_token(fs, jsrc)}",
        )
        dfs.create(jsmark, True).close()
    files_before = _count_files(fs, jsrc)
    files_after = _count_files(dfs, jstaging)
    if dfs.exists(jdest):
        _checked_rename(jdest, jold, "park previous dest")
    try:
        _checked_rename(jstaging, jdest, "promote compacted copy")
    except IOError:
        if dfs.exists(jold):
            _checked_rename(jold, jdest, "restore after failed promote")
        raise
    if dfs.exists(jold):
        dfs.delete(jold, True)
    return {
        "rows": n_rows,
        "cells": len(cells),
        "files_before": files_before,
        "files_after": files_after,
        "watermark_batch": watermark,
    }


def retire_compacted_batches(
    spark,
    stream_ivf_dir: str,
    base_dir: str,
    up_to: int | None = None,
) -> dict:
    """Delete the stream tree's ``batch=<b>`` dirs with ``b <= up_to``
    AFTER a compaction has absorbed them — the space-reclamation half
    of the compact → probe-base-plus-delta → retire cycle.

    Safety is anchored on the base's ``_compacted_watermark_<w>``
    marker: by construction ``compact_ivf_index`` wrote the base from
    every tree row with ``batch <= w`` (plus, on a merge, the prior
    base), so retiring up to ``up_to <= w`` deletes only rows the base
    already holds; a request past the watermark is refused, and so is
    a base whose ``_compacted_source_<token>`` marker names a
    DIFFERENT tree (its watermark proves nothing about this tree's
    rows).  Driver-side dir deletes only — no Spark job.

    Run quiescent like the compaction itself.  Even so, a retired
    batch that a replayed micro-batch later recreates is harmless:
    probes (``ivf_topk_base_plus_delta``) and re-compactions
    (``merge_base=...``) both read the tree STRICTLY past the
    watermark, so the recreated dir is ignored, never double-counted;
    the next retirement sweep removes it again.

    Returns {watermark_batch, retired_batches, remaining_batches}."""
    from kmeans_mapreduce_spark.sources.maintenance import _fs_path

    fs, jbase = _require_live_base(spark, base_dir, "retiring anything")
    wm = _read_compaction_watermark(fs, jbase)
    if wm is None:
        raise ValueError(
            f"{base_dir!r} carries no _compacted_watermark_<w> marker "
            f"— without it nothing proves which batches the base "
            f"holds; refusing to delete any"
        )
    if up_to is None:
        up_to = wm
    if up_to > wm:
        raise ValueError(
            f"cannot retire batches <= {up_to}: the base at "
            f"{base_dir!r} only covers batches <= {wm}"
        )
    # the TREE's own FileSystem handle (ADVICE r15 low): applying the
    # base dir's fs to the tree path throws an unhelpful "Wrong FS" on
    # mixed filesystems, for the token hash, the marker writes AND the
    # batch-dir deletes below
    tfs, jsrc = _fs_path(spark, stream_ivf_dir)
    if not tfs.exists(jsrc):
        raise FileNotFoundError(stream_ivf_dir)
    # the base must have been compacted from THIS tree: its watermark
    # proves coverage of the SOURCE tree's batches only, so a swapped
    # argument (base of tree A, deleting from tree B) would destroy
    # rows no base holds.  Bases predating the source marker carry no
    # token and keep the old (watermark-only) behavior.
    src_tokens = _name_markers(fs, jbase, "_compacted_source_")
    if src_tokens and _tree_source_token(tfs, jsrc) not in src_tokens:
        raise ValueError(
            f"{base_dir!r} was not compacted from {stream_ivf_dir!r} "
            f"(_compacted_source marker mismatch) — its watermark "
            f"says nothing about this tree's rows, and retiring "
            f"against a foreign base would permanently delete batches "
            f"no base has absorbed; pass the base compacted from THIS "
            f"tree.  If the tree was merely relocated (the token "
            f"hashes its qualified URI), re-run compact_ivf_index on "
            f"it first — a fresh compaction re-stamps the source "
            f"token — and retire against that base"
        )
    # leave evidence AT THE TREE that its history is (about to be)
    # partial: the _retired_through_<u> marker is what makes a later
    # PLAIN re-compaction (which would drop the retired rows and stamp
    # a watermark claiming otherwise) refuse and demand merge_base.
    # Ordering is crash-shaped: (1) the new marker lands BEFORE any
    # dir is deleted — a crash mid-delete leaves a partial tree that
    # already carries the claim (over-claiming is refusal-only: probes
    # and merges read strictly past the BASE watermark, which covers
    # everything <= up_to); (2) stale markers are removed LAST, and
    # _read_retired_through takes the max, so every intermediate state
    # asserts the stricter bound.
    prev_marks = _name_markers(tfs, jsrc, "_retired_through_")
    mark = max([up_to, *prev_marks])
    _, jmark = _fs_path(spark, f"{stream_ivf_dir}/_retired_through_{mark}")
    tfs.create(jmark, True).close()
    retired: list[int] = []
    remaining: list[int] = []
    for b, jpath in _tree_batch_dirs(tfs, jsrc).items():
        if b <= up_to:
            if not tfs.delete(jpath, True):
                raise IOError(f"failed to delete {jpath}")
            retired.append(b)
        else:
            remaining.append(b)
    for m in prev_marks:
        if m != mark:
            _, jprev = _fs_path(
                spark, f"{stream_ivf_dir}/_retired_through_{m}"
            )
            tfs.delete(jprev, False)
    return {
        "watermark_batch": wm,
        "retired_batches": sorted(retired),
        "remaining_batches": sorted(remaining),
    }


# --- product quantization (PQ) ----------------------------------------------

# Shared PQ broadcast-codebook plumbing: the per-subspace squared
# distances to every codeword of THIS row's subspace, with the books
# riding a broadcast 1-row relation `_C` (array[m][k][sub]) and the
# row providing `j` (subspace index) and `features` (the sub-slice).
# One definition, used by the trainer, the encoder-side invariant
# checks, and any distortion report — so a tie-break or layout change
# cannot silently diverge between trainer and verifier.
_PQ_D2S = centroid_dists_sql("features", "element_at(_C, j + 1)")


def pq_books_df(spark, books: list[list[list[float]]]) -> DataFrame:
    """The broadcast-side 1-row codebook relation (column `_C`)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(
                "_C", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))
            )
        ]
    )
    return spark.createDataFrame([(books,)], schema)


def pq_assign_expr() -> Column:
    """argmin code over this row's subspace codebook (ties -> lowest
    code, the fit_kmeans_native rule)."""
    return F.expr(argmin_sql(_PQ_D2S))


def pq_min_d2_expr() -> Column:
    """squared distance to this row's nearest codeword (the per-row
    reconstruction-distortion term)."""
    return F.expr(f"array_min({_PQ_D2S})")


def pq_train(
    points: DataFrame,
    dim: int,
    m: int = 8,
    k_codes: int = 16,
    seed: int = 42,
    max_iter: int = 5,
    id_col: str = "id",
    vec_col: str = "v",
    init: str = "farthest",
) -> list[list[list[float]]]:
    """Train PQ codebooks: split the vector into m subspaces and K-Means
    each independently (k_codes codewords per subspace).  Returns
    codebooks[m][k_codes][dim//m].

    Deterministic either way: init="farthest" seeds each subspace's
    farthest-point init from (seed + subspace index); init="first"
    uses the k_codes lowest-id vectors' sub-slices as starting
    codewords — one collect total instead of k_codes-1 distributed
    argmax rounds PER subspace, the right trade when training runs
    inside a latency-bounded job.

    JOINT Lloyd loop: all m subspaces advance in ONE assignment +
    aggregation job per iteration, not m sequential fits.  The input
    explodes once to (id, j, features) — m small rows per vector,
    cached for the loop — and the per-subspace codebooks ride a single
    broadcast relation indexed by j, so the iteration plan (and its
    generated code) is identical every round AND for every subspace.
    Per-subspace semantics are exactly fit_kmeans_native's (same
    argmin/tie rule, wide sum/count recenter, empty-keeps-old, mean-
    movement tol, per-subspace iteration budget — a converged
    subspace's book freezes while others continue).  The sequential
    version cost m * iters jobs of pure scheduling overhead (25.9 s
    for ann_pq_topk at sf0.1, the slowest catalog entry); the joint
    loop costs max_j(iters) jobs over m-fold-smaller rows — the same
    job-count discipline the PageRank re-execution fix encodes."""
    from kmeans_mapreduce_spark.operators.kmeans import (
        DELTA_THRESHOLD,
        compute_delta,
        farthest_point_init,
    )

    spark = points.sparkSession
    sub = dim // m
    base = points.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # (id, j, features): every vector contributes one row per subspace.
    exp = base.select(
        "id",
        F.posexplode(
            F.array(*[F.slice("v", j * sub + 1, sub) for j in range(m)])
        ).alias("j", "features"),
    ).cache()
    try:
        if init == "first":
            first_rows = [
                list(r["v"]) for r in base.orderBy("id").limit(k_codes).collect()
            ]
            books = [
                [first_rows[c][j * sub : (j + 1) * sub] for c in range(k_codes)]
                for j in range(m)
            ]
        else:
            books = [
                farthest_point_init(
                    exp.where(F.col("j") == j).select("id", "features"),
                    k_codes,
                    seed=seed + j,
                )
                for j in range(m)
            ]
        books = [[list(c) for c in bk] for bk in books]
        # same argmin/tie expression as the single-space loop, with the
        # subspace's codebook picked out of the broadcast by j — the
        # SHARED definition (pq_assign_expr) so trainer and verifiers
        # can never disagree on the rule
        assign = pq_assign_expr()
        sums = [F.sum(F.col("features")[i]).alias(f"s{i}") for i in range(sub)]
        active = set(range(m))
        iters = [0] * m
        while active:
            cent_df = pq_books_df(spark, books)
            # No active-set filter: the plan stays bit-identical every
            # iteration (codegen cache); frozen subspaces recompute the
            # same stats, which the update loop below simply ignores.
            stats = (
                exp.crossJoin(F.broadcast(cent_df))
                .withColumn("cluster_id", assign)
                .groupBy("j", "cluster_id")
                .agg(F.count("*").alias("cnt"), *sums)
                .collect()
            )
            by_j: dict[int, list] = {}
            for r in stats:
                by_j.setdefault(r["j"], []).append(r)
            for j in sorted(active):
                new_book = [list(c) for c in books[j]]  # empty keeps old
                for r in by_j.get(j, []):
                    new_book[r["cluster_id"]] = [
                        r[f"s{i}"] / r["cnt"] for i in range(sub)
                    ]
                iters[j] += 1
                delta = compute_delta(books[j], new_book)
                books[j] = new_book
                if delta < DELTA_THRESHOLD or iters[j] >= max_iter:
                    active.discard(j)
    finally:
        exp.unpersist()
    return books


def pq_encode(
    points: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """[id, codes: array<int>] — each vector compressed to m small ints
    (4 bits each at k_codes=16: a 64-dim float64 vector becomes 8
    codes, a 64x compression of the scan payload).

    One pass, pure codegen expressions: per subspace, argmin over the
    codeword literals.  At 100 TB this is the representation you scan
    for candidate generation; raw vectors stay in cold storage for
    optional exact re-ranking."""
    return points.select(
        F.col(id_col).alias("id"),
        _pq_codes_expr(vec_col, codebooks).alias("codes"),
    )


def _pq_codes_expr(vec_col: str, codebooks: list[list[list[float]]]) -> Column:
    """The encode expression behind `pq_encode`, exposed so composed
    indexes (ivf_pq_topk) can compute cell + codes in ONE corpus pass:
    per subspace, argmin over the codeword literals (first-min =
    lowest code id on ties, matching the SQL oracles' rn tiebreak)."""
    sub = len(codebooks[0][0])
    v = f"cast({vec_col} as array<double>)"
    codes = ", ".join(
        argmin_sql(
            centroid_dists_sql(
                f"slice({v}, {j * sub + 1}, {sub})", centroids_sql_literal(book)
            )
        )
        for j, book in enumerate(codebooks)
    )
    return F.expr(f"array({codes})")


def pq_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vectors: list[tuple[int, list[float]]],
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, a
    lookup table lut[subspace][code] = d2(query_sub, codeword) is built
    driver-side (m x k_codes floats — the PQ analog of broadcasting
    centroids), and approx d2(q, x) = sum_j lut[j][codes[j]].

    Plan shape: codes explode to (id, subspace, code) — N*m tiny rows —
    broadcast-joined to the lut relation, then one (query, id) sum and
    a per-query top-k window.  No full-dimension vector ever crosses a
    shuffle; at 100 TB the scan side is the compressed codes table."""
    spark = codes.sparkSession
    m = len(codebooks)
    lut_rows = []
    for qid, qv in query_vectors:
        for j, book in enumerate(codebooks):
            sub = len(book[0])
            qs = qv[j * len(book[0]) : (j + 1) * len(book[0])]
            for c, cw in enumerate(book):
                d2 = sum((a - b) * (a - b) for a, b in zip(qs, cw))
                lut_rows.append((qid, j, c, float(d2)))
    lut = spark.createDataFrame(
        lut_rows, "query_id long, subspace int, code int, d2 double"
    )
    exploded = codes.select(
        F.col("id").alias("neighbor_id"),
        F.posexplode("codes").alias("subspace", "code"),
    )
    scored = (
        exploded.join(F.broadcast(lut), ["subspace", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d2"), 6).alias("approx_d2"))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "approx_d2")
    )


def pq_topk_rerank(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    corpus: DataFrame,
    query_vectors: list[tuple[int, list[float]]],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """PQ with exact re-ranking — the standard production shape: ADC
    over compressed codes produces a `shortlist` of candidates per
    query (cheap, codes-only scan), then ONLY those candidates fetch
    their raw vectors for exact euclidean re-ranking.

    Recall is bounded by shortlist coverage instead of quantization
    error, at the cost of |queries| x shortlist exact distances — at
    100 TB that is the difference between scanning 64-byte codes for
    everything and reading full vectors for a few thousand rows."""
    cand = pq_topk(codes, codebooks, query_vectors, k=shortlist)
    return exact_rerank(
        cand, corpus, query_vectors, k=k, id_col=id_col, vec_col=vec_col
    )


def exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    query_vectors: list[tuple[int, list[float]]],
    k: int = 5,
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """The refine stage shared by every *_rerank operator and the
    rerank calibration query: exact euclidean re-ranking of an
    already-generated candidate frame [query_id, neighbor_id, ...] —
    ONLY those candidates fetch raw vectors (a broadcast query side
    onto a |queries| x shortlist sliver).  One implementation so the
    d2 fold order, rounding and (exact_d2, neighbor_id) tie-break stay
    in one place.  Returns [query_id, rank, neighbor_id, exact_d2]."""
    spark = corpus.sparkSession
    q = spark.createDataFrame(
        [(qid, qv) for qid, qv in query_vectors],
        "query_id long, qv array<double>",
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    d2 = squared_euclidean("qv", "cv")
    w = Window.partitionBy("query_id").orderBy(
        F.asc("exact_d2"), F.asc("neighbor_id")
    )
    return (
        cand.select("query_id", "neighbor_id")
        .join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", F.round(d2, 6).alias("exact_d2"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "exact_d2")
    )


def ivf_pq_topk_rerank(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vectors: list[tuple[int, list[float]]],
    k: int = 5,
    n_probe: int = 2,
    shortlist: int = 50,
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """IVF-PQ with exact re-ranking — the full production retrieval
    stack (FAISS IndexIVFPQ + refine): coarse cells prune the scan,
    ADC over compressed codes ranks a per-query ``shortlist`` (cheap,
    codes-only), and ONLY those candidates fetch raw vectors for exact
    euclidean re-ranking.  Recall becomes shortlist-coverage-bounded
    instead of quantization-error-bounded — the fix for the falling
    recall-vs-n_probe curve `ann_ivf_pq_probe_sweep` diagnoses.

    Cost shape at 100 TB: the exact stage reads |queries| x shortlist
    full vectors (a broadcast-joinable sliver), never the corpus —
    composition of `ivf_pq_topk`'s pruned compressed scan with the
    shared `exact_rerank` refine stage."""
    cand = ivf_pq_topk(
        corpus,
        centroids,
        codebooks,
        query_vectors,
        k=shortlist,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
    )
    return exact_rerank(
        cand, corpus, query_vectors, k=k, id_col=id_col, vec_col=vec_col
    )


def write_pq_index(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "id",
    vec_col: str = "v",
) -> None:
    """Materialize a PQ index as two parquet tables: `{path}/codes`
    (id, 8 small ints per vector — the only thing searches scan) and
    `{path}/codebooks` (subspace, code, codeword vector — KBs total).

    Same posture as write_ivf_index: the index is a TABLE, not an
    in-process artifact — any session (or engine) can reopen it, and
    at 100 TB the codes table is ~1/64th the corpus bytes.  Compose
    with write_ivf_index for IVF-PQ: partition the codes table by IVF
    cell and probes prune at the scan while distances stay ADC."""
    spark = corpus.sparkSession
    pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col).write.mode(
        "overwrite"
    ).parquet(f"{path}/codes")
    rows = [
        (j, c, list(cw))
        for j, book in enumerate(codebooks)
        for c, cw in enumerate(book)
    ]
    spark.createDataFrame(
        rows, "subspace int, code int, codeword array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def pq_topk_from_index(
    spark,
    path: str,
    query_vectors: list[tuple[int, list[float]]],
    k: int = 5,
) -> DataFrame:
    """ADC top-k against a written PQ index: codebooks reload into the
    driver (m x k_codes x sub floats — centroid-sized), codes stream
    from the scan.  Identical results to pq_topk over the in-memory
    frames (pinned in tests)."""
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = max(r["subspace"] for r in cb_rows) + 1
    k_codes = max(r["code"] for r in cb_rows) + 1
    books: list[list[list[float]]] = [
        [None] * k_codes for _ in range(m)  # type: ignore[list-item]
    ]
    for r in cb_rows:
        books[r["subspace"]][r["code"]] = list(r["codeword"])
    codes = spark.read.parquet(f"{path}/codes")
    return pq_topk(codes, books, query_vectors, k=k)


def ivf_pq_topk(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vectors: list[tuple[int, list[float]]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "id",
    vec_col: str = "v",
) -> DataFrame:
    """IVF-PQ: the production ANN index shape at 100 TB — coarse IVF
    cells prune the scan to each query's ``n_probe`` nearest cells, and
    scoring INSIDE the probed cells runs over PQ codes via the
    broadcast ADC lookup table, so after indexing no raw vector is read
    at query time (the composition of `ivf_topk`'s pruning with
    `pq_topk`'s compressed scoring — FAISS's IndexIVFPQ layout,
    re-expressed as Catalyst plans).

    Plan shape: ONE corpus pass computes cell + codes as sibling
    map-side expressions; the per-query probe list and the m x k_codes
    LUT are driver math (k_cells x d and m x k_codes floats — the same
    bounded-broadcast budget as the Lloyd loop); candidates come from a
    broadcast (query, cell) equi-join — at 100 TB the code table is
    written bucketed-by-cell so probes prune partitions and the join is
    co-located.  Scoring explodes candidate codes to (query, id,
    subspace, code) rows against the broadcast LUT: no full-dimension
    vector crosses a shuffle anywhere."""
    indexed, qcells, lut = ivf_pq_index_parts(
        corpus, centroids, codebooks, query_vectors,
        max_probe=n_probe, id_col=id_col, vec_col=vec_col,
    )
    scored = ivf_pq_adc_scores(indexed, qcells, lut)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_d2"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "approx_d2")
    )


def ivf_pq_adc_scores(
    indexed: DataFrame,
    qcells: DataFrame,
    lut: DataFrame,
    carry_probe_rank: bool = False,
) -> DataFrame:
    """Candidate generation + ADC scoring over `ivf_pq_index_parts`'s
    building blocks — the ONE home for the probe join, code explode,
    LUT join and the sum's rounding policy (round to 6 dp before any
    ranking; integer-exact inputs make it a no-op today, but a single
    site keeps every consumer's tie-break identical by construction
    rather than by parallel maintenance).

    ``carry_probe_rank=True`` keeps each candidate's probe rank through
    the aggregation — the sweep queries slice probe levels out of ONE
    widest-depth scan via that column instead of rescanning per level.
    Returns [query_id, neighbor_id, (probe_rank,) approx_d2]."""
    keys = ["query_id", "neighbor_id"] + (
        ["probe_rank"] if carry_probe_rank else []
    )
    q = qcells if carry_probe_rank else qcells.drop("probe_rank")
    cands = (
        F.broadcast(q)
        .join(indexed, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(*keys, F.posexplode("codes").alias("subspace", "code"))
    )
    return (
        cands.join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy(*keys)
        .agg(F.round(F.sum("d2"), 6).alias("approx_d2"))
    )


def ivf_pq_index_parts(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vectors: list[tuple[int, list[float]]],
    max_probe: int,
    id_col: str = "id",
    vec_col: str = "v",
):
    """The three building blocks every IVF-PQ consumer shares —
    `ivf_pq_topk` and the probe-sweep calibration both assemble their
    plans from EXACTLY these, so argmin tie-breaks and LUT math live in
    one place:

    - indexed[neighbor_id, cell, codes]: ONE corpus pass computing cell
      + PQ codes as sibling map-side expressions; cells by
      `assign_clusters_auto` (<=8 cells: plan literals; above: the
      broadcast centroid relation) — the PQ codes stay literal either
      way, m x k_codes x (dim/m) is FIXED, not N-dependent;
    - qcells[query_id, cell, probe_rank]: each query's ``max_probe``
      nearest cells WITH their probe rank (driver math, ties to the
      lowest cell id — matching the corpus argmin and the SQL oracles);
    - lut[query_id, subspace, code, d2]: the per-query ADC tables
      (driver math, m x k_codes floats per query)."""
    from kmeans_mapreduce_spark.operators.kmeans import assign_clusters_auto

    spark = corpus.sparkSession
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    indexed = assign_clusters_auto(cv, centroids, features_col="cv").select(
        "neighbor_id",
        F.col("cluster_id").alias("cell"),
        _pq_codes_expr("cv", codebooks).alias("codes"),
    )
    qcell_rows, lut_rows = [], []
    sub = len(codebooks[0][0])
    for qid, qv in query_vectors:
        d2s = [
            sum((a - b) * (a - b) for a, b in zip(qv, c)) for c in centroids
        ]
        probes = sorted(range(len(centroids)), key=lambda i: (d2s[i], i))
        qcell_rows += [
            (qid, c, r + 1) for r, c in enumerate(probes[:max_probe])
        ]
        for j, book in enumerate(codebooks):
            qs = qv[j * sub : (j + 1) * sub]
            for c, cw in enumerate(book):
                lut_rows.append(
                    (
                        qid,
                        j,
                        c,
                        float(
                            sum((a - b) * (a - b) for a, b in zip(qs, cw))
                        ),
                    )
                )
    qcells = spark.createDataFrame(
        qcell_rows, "query_id long, cell int, probe_rank int"
    )
    lut = spark.createDataFrame(
        lut_rows, "query_id long, subspace int, code int, d2 double"
    )
    return indexed, qcells, lut
