"""Seeded input generators, cached per (workload, seed).

Every input the program reads is written here from ``--seed``: the same
seed gives byte-identical files.  Beside the program's files each input
directory holds ``truth.npz``/``truth.json`` — the generator's own copy
of the data and its planted structure.  Only the oracles read those.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: input directories kept per workload; older seeds are evicted so a long
#: series of runs does not fill the checkout's disk
KEEP_SEEDS = 2


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(stream)])


def blobs(rng, n: int, dim: int, k: int, spread: float):
    """(n x dim) float64 Gaussian blobs around k centres drawn from
    N(0, 1); ``spread`` near 1 makes neighbouring blobs overlap, so the
    Lloyd loop keeps moving for many passes."""
    centres = rng.normal(0.0, 1.0, (k, dim))
    labels = rng.integers(0, k, n)
    return centres[labels] + rng.normal(0.0, spread, (n, dim))


def _points_table(X, lo: int = 0) -> pa.Table:
    n, dim = X.shape
    flat = pa.array(np.ascontiguousarray(X).ravel(), type=pa.float64())
    feats = pa.FixedSizeListArray.from_arrays(flat, dim).cast(pa.list_(pa.float64()))
    return pa.table({"id": pa.array(np.arange(lo, lo + n, dtype=np.int64)), "features": feats})


def _gen_cluster_job(out: Path, seed: int, p: dict) -> None:
    rng = _rng(seed, 1)
    # k centres at equal pairwise distance ``sep`` along orthonormal
    # directions: the blobs overlap a little, and most seeds converge
    # under the reference stop rule after 5 to 7 passes at sep 6, spread 1
    # (18 of 20 seeds; the others took 21 and 73), where random centres
    # took anywhere from 4 to 90
    basis, _ = np.linalg.qr(rng.normal(size=(p["dim"], p["k"])))
    centres = basis.T * (p["sep"] / np.sqrt(2.0))
    labels = rng.integers(0, p["k"], p["n"])
    X = (centres[labels] + rng.normal(0.0, p["spread"], (p["n"], p["dim"]))) * p["scale"]
    # %.17g round-trips every double exactly through the CSV parser, so
    # the oracle's copy and the program's parse are the same numbers
    np.savetxt(out / "points.csv", X, delimiter=",", fmt="%.17g")
    np.savez(out / "truth.npz", X=X)


def _gen_fit(out: Path, seed: int, p: dict, files: int) -> None:
    rng = _rng(seed, 2)
    X = blobs(rng, p["n"], p["dim"], p["k"], p["spread"])
    d = out / "points"
    d.mkdir()
    if files == 1:
        # one file, ONE row group: Spark splits the file by bytes per
        # core, but every row lands in the split holding the group's
        # midpoint — the skewed layout
        pq.write_table(_points_table(X), d / "part-0.parquet", row_group_size=len(X))
    else:
        for i, idx in enumerate(np.array_split(np.arange(len(X)), files)):
            pq.write_table(_points_table(X[idx], int(idx[0])), d / f"part-{i}.parquet")
    # seeded explicit initial centroids: k distinct input rows
    init = rng.choice(len(X), p["k"], replace=False)
    np.savez(out / "truth.npz", X=X, init=X[np.sort(init)])


def _gen_pipeline(out: Path, seed: int, p: dict) -> None:
    rng = _rng(seed, 3)
    # documents: random words, plus planted near-duplicates made by one
    # single-token edit of a random source document
    vocab = np.array([f"w{i}" for i in range(p["vocab"])])
    docs = [" ".join(vocab[rng.integers(0, len(vocab), p["doc_len"])]) for _ in range(p["docs"])]
    planted = []
    for j in range(int(p["docs"] * p["dup_frac"])):
        src = int(rng.integers(0, p["docs"]))
        toks = docs[src].split()
        toks[int(rng.integers(0, len(toks)))] = f"edit{j}"
        planted.append([src, len(docs)])
        docs.append(" ".join(toks))
    ids = np.arange(len(docs), dtype=np.int64)
    files = p["files"]
    (out / "docs").mkdir()
    for i, idx in enumerate(np.array_split(ids, files)):
        pq.write_table(
            pa.table({"doc_id": pa.array(idx), "text": pa.array([docs[j] for j in idx])}),
            out / "docs" / f"part-{i}.parquet",
        )
    # embeddings: float32 vectors around `cells` centres
    E = blobs(rng, p["vecs"], p["vdim"], p["cells"], p["vspread"]).astype(np.float32)
    (out / "emb").mkdir()
    for i, idx in enumerate(np.array_split(np.arange(len(E)), files)):
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(idx.astype(np.int64)),
                    "v": pa.FixedSizeListArray.from_arrays(pa.array(E[idx].ravel()), p["vdim"]).cast(
                        pa.list_(pa.float32())
                    ),
                }
            ),
            out / "emb" / f"part-{i}.parquet",
        )
    # IVF coarse centroids: a seeded sample of corpus rows
    cent = E[np.sort(rng.choice(len(E), p["cells"], replace=False))].astype(np.float64)
    np.savez(out / "truth.npz", E=E, cent=cent)
    (out / "truth.json").write_text(json.dumps({"docs": docs, "planted": planted}))


def query_batch(seed: int, batch: int, E, size: int):
    """One closed-loop query batch: ``size`` corpus rows plus small
    noise, ids disjoint from the corpus.  Deterministic in (seed, batch)."""
    rng = _rng(seed, 1000 + batch)
    rows = rng.choice(len(E), size, replace=False)
    Q = (E[rows].astype(np.float64) + rng.normal(0.0, 0.05, (size, E.shape[1]))).astype(np.float32)
    ids = np.arange(size, dtype=np.int64) + 10**9 + batch * size
    return ids, Q.astype(np.float64)


GENERATORS = {
    "cluster_job": _gen_cluster_job,
    "fit_blocks": lambda out, seed, p: _gen_fit(out, seed, p, p["files"]),
    "fit_skewed": lambda out, seed, p: _gen_fit(out, seed, p, 1),
    "pipeline": _gen_pipeline,
}


def ensure_inputs(root: Path, workload: str, seed: int, params: dict, tag: str) -> Path:
    """Generate (or reuse) the inputs of one (workload, seed, size tag)."""
    base = root / workload
    out = base / f"{tag}-{seed}"
    done = out / "DONE"
    if done.exists() and done.read_text() == json.dumps(params):
        os.utime(out)
        return out
    if out.exists():
        shutil.rmtree(out)
    tmp = base / f".tmp-{tag}-{seed}-{os.getpid()}"
    if tmp.exists():
        shutil.rmtree(tmp)
    tmp.mkdir(parents=True)
    GENERATORS[workload](tmp, seed, params)
    (tmp / "DONE").write_text(json.dumps(params))
    tmp.rename(out)
    kept = sorted(
        (d for d in base.iterdir() if d.is_dir() and not d.name.startswith(".")),
        key=lambda d: d.stat().st_mtime,
        reverse=True,
    )
    for old in kept[KEEP_SEEDS:]:
        shutil.rmtree(old, ignore_errors=True)
    return out
