"""Catalog-wide physical-plan hygiene: no accidental nested-loop joins,
no accidental unpartitioned windows — plus a source pin that every Spark
distance fold and argmin comes from ``functions/distance.py``.

Builds every catalog query's executed plan ONCE at sf0.001 (module
fixture) and asserts
  (a) BroadcastNestedLoopJoin / CartesianProduct appear ONLY on the
      documented allowlist — each entry a deliberate small-side
      broadcast, never a data×data blowup (regression fence for the
      round-3 lesson: dedup_embedding_cosine shipped as an accidental
      all-pairs BNLJ until the verdict flagged it); and
  (b) UNPARTITIONED window specs appear ONLY on the documented
      allowlist — each a bounded frame (|shards|-, |sources|-,
      |stages|- or top-k-row inputs), never the corpus.  The harness
      suppresses Spark's no-partition WARN for these audited sites
      (session.quiet_audited_window_warnings); this test is what keeps
      that suppression honest — a future corpus-sized unpartitioned
      window fails here instead of scrolling by silenced.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

# Every allowlisted BNLJ is a broadcast of a BOUNDED side:
#   events_funnel            1-row conversion-base scalar onto 3 rows
#   dq_validation_report     1-row corpus-total scalars onto the report
#   ann_brute_topk           Q=5 query vectors (documented brute baseline)
#   ann_brute_topk_pandas    same baseline through the pandas-UDF path
#   km_avg_pairwise          k=4 centroids × k=4 centroids (reference F3)
#   km_avg_point_dist        k-row centroid set against points (reference F2)
#   join_range_quantity_bands  3-row band dimension (theta join)
#   hybrid_search_rrf        1-row query vector onto the vector leg
#   corpus_drift_psi         |sources|×|buckets| dense grid (≤ dozens)
#   lm_bigram_logprob        1-row vocabulary-size scalar onto bigrams
#   embedding_pca_power      1-row norm/eigenvalue scalars onto d=64 rows
#   graph_triangle_count     1-row triangle-total scalar onto ≤N nodes
#   pipeline_dsir_select     1-row feature-mass totals onto the stream
#   ann_lsh_recall           Q=50 eval sample through the brute baseline
# (knn_graph_cells' centroid relation only appears on the >8-cell
#  production path; the fixture's 4 cells inline as plan literals, so
#  the catalog entry carries no BNLJ)
ALLOWED_NESTED_LOOP = {
    "pipeline_dsir_select",
    "ann_lsh_recall",
    "events_funnel",
    "dq_validation_report",
    "ann_brute_topk",
    "ann_brute_topk_pandas",
    "km_avg_pairwise",
    "km_avg_point_dist",
    "join_range_quantity_bands",
    "hybrid_search_rrf",
    "corpus_drift_psi",
    "lm_bigram_logprob",
    "embedding_pca_power",
    "graph_triangle_count",
}

# Every allowlisted unpartitioned window runs over a BOUNDED frame —
# per-group/per-bucket aggregates (dozens of rows), never the corpus.
# Audited 2026-08-15 via tools/scan_windows.py; if a query leaves this
# list (plan improved) or joins it (new unpartitioned window), both
# directions fail below and force a re-audit.
ALLOWED_UNPARTITIONED_WINDOW = {
    "pipeline_shard_balance",        # global rank over 8 shards
    "hybrid_search_rrf",             # ranks over k=10 fused candidates
    "window_rows_moving_avg",        # global avg over |dates| buckets
    "pipeline_mixture_schedule",     # cum share over |sources| rows
    "stats_chi2_independence",       # totals over |segment×band| grid
    "orders_pareto_frontier",        # frontier scan over ≤100 topk rows
    "events_rolling_corr",           # corr over |hour buckets| series
    "hist_equidepth_prices",         # quantile cuts over |buckets| rows
    "docs_vocab_coverage",           # cum coverage over topk vocab
    "orders_mom_growth",             # lag over |months| buckets
    "events_user_lifecycle",         # stage rank over |stages| rows
    "customers_rfm_segments",        # terciles over per-customer aggs
    "events_ks_two_sample",          # cum CDFs over |value grid| rows
    "orders_benford_digits",         # share over 9 digit rows
    "events_top_paths",              # rank over ≤ |paths| aggregates
    "parts_brand_share_topn",        # share over |brands| aggregates
    "customers_abc_classes",         # cum share over per-class aggs
    "pipeline_curriculum_stages",    # cum tokens over |stages| rows
    "pipeline_token_budget_epochs",  # cum budget over |sources| rows
    "pipeline_sample_temperature",   # share over |sources| rows
    "pipeline_context_length_plan",  # cum packing over |buckets| rows
    "quality_stump_fit",             # rank over |features|x|values| candidates
}


def unpartitioned_window_specs(plan: str) -> int:
    """Count windowspecdefinition(...) occurrences with an EMPTY
    partition clause.  Spec args print as ``windowspecdefinition(
    part..., order ASC/DESC ..., specifiedwindowframe(...))`` —
    partition expressions never carry a sort direction, so a spec is
    unpartitioned iff its first depth-0 argument is an ordering
    expression (ends with a sort direction) or the frame itself."""
    n_unpart = 0
    for m in re.finditer(r"windowspecdefinition\(", plan):
        i, depth, args, cur = m.end(), 1, [], ""
        while i < len(plan) and depth:
            c = plan[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            if c == "," and depth == 1:
                args.append(cur.strip())
                cur = ""
            else:
                cur += c
            i += 1
        args.append(cur.strip())
        first = args[0] if args else ""
        if first.startswith("specifiedwindowframe") or re.search(
            r"\b(ASC NULLS (FIRST|LAST)|DESC NULLS (FIRST|LAST))$", first
        ):
            n_unpart += 1
    return n_unpart


@pytest.fixture(scope="module")
def catalog_plans(spark, sf_dir) -> dict[str, str]:
    """name -> executed-plan string for every catalog query, built once
    and shared by all hygiene assertions in this module."""
    import __spark_entry__ as e

    return {
        name: fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        for name, fn in e.queries().items()
    }


@pytest.mark.slow
def test_no_accidental_nested_loop_joins(catalog_plans):
    offenders: dict[str, list[str]] = {}
    for name, plan in catalog_plans.items():
        flags = [
            p
            for p in ("BroadcastNestedLoopJoin", "CartesianProduct")
            if p in plan
        ]
        if flags and name not in ALLOWED_NESTED_LOOP:
            offenders[name] = flags
    assert not offenders, offenders


@pytest.mark.slow
def test_nested_loop_allowlist_is_tight(catalog_plans):
    """Every allowlisted name still HAS a nested-loop join — entries
    whose plans improved must leave the allowlist."""
    stale = [
        name
        for name in ALLOWED_NESTED_LOOP
        if "BroadcastNestedLoopJoin" not in catalog_plans[name]
        and "CartesianProduct" not in catalog_plans[name]
    ]
    assert not stale, f"allowlist entries no longer needed: {stale}"


@pytest.mark.slow
def test_no_accidental_unpartitioned_windows(catalog_plans):
    offenders = {
        name: n
        for name, plan in catalog_plans.items()
        if (n := unpartitioned_window_specs(plan))
        and name not in ALLOWED_UNPARTITIONED_WINDOW
    }
    assert not offenders, (
        "unpartitioned window outside the audited bounded-frame list "
        f"(WARNs are suppressed for these — audit before allowlisting): "
        f"{offenders}"
    )


@pytest.mark.slow
def test_unpartitioned_window_allowlist_is_tight(catalog_plans):
    stale = [
        name
        for name in ALLOWED_UNPARTITIONED_WINDOW
        if not unpartitioned_window_specs(catalog_plans[name])
    ]
    assert not stale, f"allowlist entries no longer needed: {stale}"


# --- one distance fold, one argmin ------------------------------------------

PKG = Path(__file__).resolve().parent.parent / "kmeans_mapreduce_spark"

# DuckDB oracle SQL, exempt by the name of the function or constant
# that builds it: the explicit left-to-right (a[i]-b[i])*(a[i]-b[i])
# sums that reproduce the Spark fold on the oracle side, and the
# chi-square oracle's (o - e) * (o - e).
DUCKDB_ORACLE_SQL = {
    "_d2_sql",  # kmeans_queries, pipeline_queries3
    "_ivf_d2_sql",
    "_MOVE_SQL",
    "_D2_TO_MEANS",
    "_fit_fixed_sql",
    "CHI2_SQL",
}

# (A-B)*(A-B) in SQL text, and array_position(ds, array_min(ds))
_SQL_FOLD = re.compile(
    r"\(\s*([^()\s*+-]+)\s*-\s*([^()\s*+-]+)\s*\)\s*\*\s*\(\s*\1\s*-\s*\2\s*\)"
)
_SQL_ARGMIN = re.compile(r"array_position\s*\(\s*(\w+)\s*,\s*array_min\s*\(\s*\1\s*\)")


def _call_name(node) -> str:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")


def _is_sq_diff(node) -> bool:
    """``(a - b) * (a - b)``"""
    return (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Mult)
        and isinstance(node.left, ast.BinOp)
        and isinstance(node.left.op, ast.Sub)
        and ast.dump(node.left) == ast.dump(node.right)
    )


def _text(node) -> str:
    """A string constant, or an f-string with ``{}`` for each field."""
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{}" for v in node.values
        )
    return node.value


def _distance_copies(source: str) -> list[str]:
    """Each hand-written fold or argmin in a module's source, as
    ``"line N: <form> in <owner>"``."""
    found: list[str] = []

    def visit(node, owner: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            owner = node.name
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            owner = names[0] if names else owner
        if owner in DUCKDB_ORACLE_SQL:
            return  # nor anything nested in it
        where = f"line {getattr(node, 'lineno', '?')}:"
        if isinstance(node, ast.JoinedStr) or (
            isinstance(node, ast.Constant) and isinstance(node.value, str)
        ):
            text = _text(node)
            if _SQL_FOLD.search(text) or _SQL_ARGMIN.search(text):
                found.append(f"{where} SQL text in {owner}")
            return  # an f-string's parts are covered by its rendering
        if isinstance(node, ast.Call):
            name = _call_name(node)
            if name == "zip_with" and any(
                isinstance(a, ast.Lambda) and _is_sq_diff(a.body) for a in node.args
            ):
                found.append(f"{where} zip_with lambda in {owner}")
            if name == "array_position" and any(
                isinstance(a, ast.Call) and _call_name(a) == "array_min"
                for a in node.args
            ):
                found.append(f"{where} array_position(array_min) in {owner}")
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    visit(ast.parse(source), "<module>")
    return found


def test_one_distance_fold_and_argmin():
    """Every Spark squared-distance fold and argmin in the package comes
    from the SQL-text functions in ``functions/distance.py``: no
    hand-written ``(x-y)*(x-y)`` in SQL text, no ``(a - b) * (a - b)``
    lambda inside ``zip_with``, no ``array_position(..., array_min(...))``
    anywhere else (DuckDB oracle SQL exempt by name)."""
    home = PKG / "functions" / "distance.py"
    copies = [
        f"{path.relative_to(PKG.parent)} {hit}"
        for path in sorted(PKG.rglob("*.py"))
        if path != home
        for hit in _distance_copies(path.read_text())
    ]
    assert not copies, copies
    # the functions' own module holds the forms the pin bans elsewhere
    assert _distance_copies(home.read_text())


def test_distance_pin_sees_each_form():
    """Each banned form is caught, a dot product is not, and DuckDB
    oracle SQL is exempt only under its listed name."""
    forms = {
        'E = "aggregate(zip_with(v, c, (x, y) -> (x-y)*(x-y)), 0D, (s, t) -> s+t)"': 1,
        "E = F.zip_with('a', 'b', lambda p, q: (p - q) * (p - q))": 1,
        "E = F.zip_with('a', 'b', lambda p, q: p * q)": 0,
        'E = f"cast(array_position(ds, array_min(ds)) - {one} as int)"': 1,
        "E = F.array_position(d, F.array_min(d))": 1,
    }
    for src, want in forms.items():
        assert len(_distance_copies(src)) == want, src
    oracle = "    return ' + '.join(f'({a}[{i}]-{b}[{i}])*({a}[{i}]-{b}[{i}])' for i in R)\n"
    assert _distance_copies("def _d2_sql(a, b):\n" + oracle) == []
    assert len(_distance_copies("def other(a, b):\n" + oracle)) == 1
