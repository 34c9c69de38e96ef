"""CLI parity: the reference client flow (list -> pick -> validate k ->
cluster -> CSV sink -> plots) end-to-end, non-interactively."""

from __future__ import annotations

import os


def _write_csv(tmp_path, name="pts.csv", n=30, dim=3):
    rows = []
    for i in range(n):
        base = float(i % 3) * 10.0
        rows.append(",".join(f"{base + (i % 5) * 0.1 + j:.3f}" for j in range(dim)))
    p = tmp_path / name
    p.write_text("\n".join(rows) + "\n")
    return str(p)


def test_cli_end_to_end(spark, tmp_path, capsys):
    from kmeans_mapreduce_spark.cli import main

    csv = _write_csv(tmp_path)
    out = str(tmp_path / "clusters")
    plots = str(tmp_path / "plots")
    rc = main(
        [csv, "--dim", "3", "--k", "3", "--out", out, "--plots", plots],
        spark=spark,
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "cluster 0:" in printed
    assert "Algorithm" in printed  # the master.go:213-227 message shape
    # per-cluster CSV layout (client.go:236-256 analog)
    parts = [d for d in os.listdir(out) if d.startswith("cluster_id=")]
    assert len(parts) == 3
    assert os.path.exists(f"{plots}/scatter.svg")
    assert os.path.exists(f"{plots}/sizes.svg")


def test_cli_menu_and_validation(spark, tmp_path, capsys):
    from kmeans_mapreduce_spark.cli import main

    _write_csv(tmp_path, "a.csv")
    _write_csv(tmp_path, "b.csv")
    # directory without --choice: print the menu, exit 2 (no stdin block)
    rc = main([str(tmp_path)], spark=spark)
    assert rc == 2
    menu = capsys.readouterr().out
    assert "1) a.csv" in menu and "2) b.csv" in menu
    # resolve via --choice; reject invalid k (client.go:188-205)
    rc = main(
        [str(tmp_path), "--choice", "2", "--dim", "3", "--k", "0"],
        spark=spark,
    )
    assert rc == 2
    rc = main(
        [str(tmp_path), "--choice", "2", "--dim", "3", "--k", "99999"],
        spark=spark,
    )
    assert rc == 2
    # and a valid run through the menu path
    rc = main(
        [str(tmp_path), "--choice", "1", "--dim", "3", "--k", "2"],
        spark=spark,
    )
    assert rc == 0


def test_cli_native_fit_reads_its_cached_input_once(spark, tmp_path, monkeypatch):
    """The CLI's native run caches its points, and one aggregate job
    builds that cache and returns the row count and the width before the
    fit.  The fit runs its own init: it takes 2 Spark jobs (one
    aggregate, one task), lays out and caches nothing, and leaves the
    CLI's cache in place.  The size report comes from the fit's
    ``final_counts``: without ``--out``/``--plots`` no job runs after
    the fit, 3 in all."""
    from pyspark import StorageLevel

    import kmeans_mapreduce_spark.operators.kmeans as K_mod
    from kmeans_mapreduce_spark.cli import main

    fit = K_mod.fit_kmeans_native
    tracker = spark.sparkContext.statusTracker()
    start = set(tracker.getJobIdsForGroup())
    seen = []

    def no_cache(*_):
        raise AssertionError("the fit caches no DataFrame")

    def no_layout(*_):
        raise AssertionError("a one-block fit lays out no blocks")

    def checked_fit(points, **kw):
        assert points.storageLevel != StorageLevel.NONE
        assert kw.get("initial_centroids") is None
        before = set(tracker.getJobIdsForGroup())
        seen.append(len(before - start))
        with monkeypatch.context() as m:
            m.setattr(type(points), "cache", no_cache)
            m.setattr(type(points), "persist", no_cache)
            m.setattr(K_mod, "_features_blocks", no_layout)
            res = fit(points, **kw)
        seen.append(len(set(tracker.getJobIdsForGroup()) - before))
        assert points.storageLevel != StorageLevel.NONE
        return res

    monkeypatch.setattr(K_mod, "fit_kmeans_native", checked_fit)
    csv = _write_csv(tmp_path)
    assert main([csv, "--dim", "3", "--k", "3"], spark=spark) == 0
    # the CLI's jobs before the fit, then the fit's
    assert seen == [1, 2]
    assert len(set(tracker.getJobIdsForGroup()) - start) == 3


def test_cli_mllib_sizes_match_its_assigned_frame(spark, tmp_path, capsys, monkeypatch):
    """The MLlib run prints its sizes from the model's training summary:
    the same ``cluster i: n points`` lines as `cluster_size_report` of
    the frame the fit assigned."""
    import kmeans_mapreduce_spark.operators.kmeans as K_mod
    from kmeans_mapreduce_spark.cli import main
    from kmeans_mapreduce_spark.sources.sinks import cluster_size_report

    fit, assigned = K_mod.fit_kmeans_mllib, []

    def keeping_fit(*args, **kw):
        model, frame = fit(*args, **kw)
        assigned.append(frame)
        return model, frame

    monkeypatch.setattr(K_mod, "fit_kmeans_mllib", keeping_fit)
    csv = _write_csv(tmp_path)
    assert main([csv, "--dim", "3", "--k", "4", "--engine", "mllib"], spark=spark) == 0
    printed = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("cluster ")]
    want = [
        f"cluster {r['cluster_id']}: {r['size']} points"
        for r in cluster_size_report(assigned[0]).collect()
    ]
    assert printed == want and len(want) > 1
