from __future__ import annotations

import os
import re
import sys

import pytest

# the checkout holding this conftest, whichever directory it lives in
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from polars_w_inverted_index_spark.session import get_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# ---------------------------------------------------------------------------
# Slow-test marking (r15, r14 VERDICT task 3): the driver's pytest
# verify window cut the ~40-minute full suite at 66% — an inconclusive
# gate is worse than a smaller conclusive one.  Every test here took
# >= ~15 s on the r15 round-start profiled run (pytest --durations=60,
# quiet-machine equivalent ~2/3 of that); together they are ~60% of
# suite wall.  pytest.ini excludes marker `slow` by default; the full
# suite runs with  -m "slow or not slow"  and is executed by the
# builder every round (recorded in OPTIMIZATION_r15.md).  The list is
# centralized here (not per-file decorators) so the default-run budget
# is auditable in one place.
# ---------------------------------------------------------------------------

SLOW_TESTS = {
    "test_semantic_dedup_matches_duckdb",
    "test_serves_overlap_maintenance_interleaved",
    "test_fuzz_ann_ingest_wrapper_crash_windows",
    "test_rebuild_crash_windows_never_break_serving",
    "test_fuzz_ann_maintenance_crash_states_heal",
    "test_fuzz_ann_search_pq_full_rerank_equals_brute_force",
    "test_fuzz_ann_search_full_probe_equals_brute_force",
    "test_serves_overlap_maintenance_threaded",
    "test_fuzz_ivf_gemm_assign_matches_expression_on_bad_elements",
    "test_autocompact_selective_fold_is_per_cell",
    "test_composite_conjunctive_rewrite_end_to_end",
    "test_compact_cells_folds_only_requested",
    "test_fuzz_assign_cells_matches_expression_twin",
    "test_pq_sidecar_full_probe_full_rerank_equals_brute_force",
    "test_cosine_twin_matches_duckdb",
    "test_fuzz_ivf_topk_gemm_assign_matches_expression",
    "test_default_autocompact_dial_bounds_segments",
    "test_index_rewrite_end_to_end",
    "test_streaming_span_scrub_batches",
    "test_fuzz_brute_force_gemm_matches_expression",
    "test_streaming_state_file_count_bounded",
    "test_bm25_inline_equals_served_on_random_corpora",
    "test_fuzz_brute_twins_agree_on_undefined_norm_vectors",
    "test_fuzz_streaming_near_dedup_matches_batch_rule",
    "test_stream_loop_rebuilds_zero_downtime",
    "test_rebuild_from_live_rows_and_marker_carry",
}


_TEST_DEF = re.compile(r"^\s*(?:async\s+)?def\s+(test_\w+)", re.M)


def undefined_slow_tests(tests_dir: str = os.path.dirname(__file__)) -> set:
    """``SLOW_TESTS`` names with no ``def test_…`` in any source file
    under ``tests_dir``.  Read from the sources, not the collected
    items, so a single-file run stays green while a renamed or deleted
    slow test still fails every run."""
    defined: set = set()
    for dirpath, _dn, filenames in os.walk(tests_dir):
        for fn in filenames:
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn)) as f:
                    defined.update(_TEST_DEF.findall(f.read()))
    return SLOW_TESTS - defined


def pytest_collection_modifyitems(config, items):
    missing = undefined_slow_tests()
    if missing:
        raise pytest.UsageError(
            "tests/conftest.py SLOW_TESTS names no test defined under "
            f"tests/: {sorted(missing)}"
        )
    for item in items:
        if item.name.split("[")[0] in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
