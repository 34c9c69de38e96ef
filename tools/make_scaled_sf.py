"""Generate a LARGER benchmark dataset by key-shifted self-replication
of an existing testdata SF dir (default: sf0.1 x 8 -> "sf0.8").

Round-16 rationale (VERDICT r15 "Next round" #7): at sf0.1 every
headline query is scheduling-bound — the driver's own 8-core run beats
its 32-core run — so the bench demonstrates plan shape, not parallel
scaling.  This tool builds a bigger input so BASELINE.md can record at
least one exclusive data point where the plans' predicted scaling is
visible.  It does NOT touch /root/testdata (read-only, driver-owned);
the output lives elsewhere and is used only for locally-recorded
numbers, never for the driver contract.

Replication rules (keys shifted so joins stay per-copy and nothing
explodes quadratically):
  * lineitem / orders: l_orderkey / o_orderkey += copy * 10^9 — the
    o<->l join stays 1:N per copy (8x work, not 64x); o_custkey is NOT
    shifted, so the shared customer dimension fans out 8x linearly.
  * events: event_id shifted; user_id kept (it is custkey-space — the
    as-of join's key); per-user event density grows 8x.
  * documents: doc_id shifted; text gets a per-copy suffix token so
    MinHash/shingle near-dup candidates do not blow up 64x on exact
    octuplicates (8 identical texts per band bucket -> 28 pairs each).
  * embeddings: vec_id += copy * 10^6; vectors/labels kept — the ANN
    query side (lowest vec_ids) stays copy-0-only, so query count is
    fixed while the corpus scales.
  * dimension tables (customer/supplier/part/nation/region): copied
    unchanged.

Usage: python tools/make_scaled_sf.py [src_sf_dir] [dest_dir] [factor]
Defaults: /root/testdata/sf0.1 /root/scaledata/sf0.8 8
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kmeans_mapreduce_spark.session import get_spark  # noqa: E402

KEY_OFF = 10**9
VEC_OFF = 10**6


def main() -> int:
    from pyspark.sql import functions as F

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dest = sys.argv[2] if len(sys.argv) > 2 else "/root/scaledata/sf0.8"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    spark = get_spark("make-scaled-sf")

    def copies(df, shift_exprs):
        parts = []
        for i in range(factor):
            c = df
            for col, make in shift_exprs.items():
                c = c.withColumn(col, make(i))
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    plans = {
        "lineitem": {"l_orderkey": lambda i: F.col("l_orderkey") + i * KEY_OFF},
        "orders": {"o_orderkey": lambda i: F.col("o_orderkey") + i * KEY_OFF},
        "events": {"event_id": lambda i: F.col("event_id") + i * KEY_OFF},
        "documents": {
            "doc_id": lambda i: F.col("doc_id") + i * KEY_OFF,
            "text": lambda i: F.concat(F.col("text"), F.lit(f" copytok{i}")),
        },
        "embeddings": {"vec_id": lambda i: F.col("vec_id") + i * VEC_OFF},
    }
    passthrough = ("customer", "supplier", "part", "nation", "region")

    # a shifted key collides with another copy's unless every source key
    # is below its offset; check before anything is written
    for t, col, off in (
        ("lineitem", "l_orderkey", KEY_OFF),
        ("orders", "o_orderkey", KEY_OFF),
        ("events", "event_id", KEY_OFF),
        ("documents", "doc_id", KEY_OFF),
        ("embeddings", "vec_id", VEC_OFF),
    ):
        top = spark.read.parquet(f"{src}/{t}.parquet").agg(F.max(col)).first()[0]
        if top is not None and top >= off:
            raise ValueError(f"{t}.{col} max {top} >= offset {off}: copies would collide")

    for t in passthrough:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        df.write.mode("overwrite").parquet(f"{dest}/{t}.parquet")
        print(f"{t}: copied {df.count()} rows")
    for t, shifts in plans.items():
        df = spark.read.parquet(f"{src}/{t}.parquet")
        out = copies(df, shifts)
        # a handful of ~64 MB-target files so the scans parallelize
        # without a thousand tiny splits
        out.repartition(8).write.mode("overwrite").parquet(f"{dest}/{t}.parquet")
        n = spark.read.parquet(f"{dest}/{t}.parquet").count()
        print(f"{t}: {n} rows ({factor}x)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
