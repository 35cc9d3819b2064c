"""Shared pytest fixtures: one local SparkSession + DuckDB oracle
connection per test session (the oracle views mirror
``tools/drive_contract.py``).

Also home of the ``slow`` tier: the full suite is the gate, but
iterating on one operator needs a fast inner loop. The inventory
below centrally marks the expensive tests so

    python -m pytest tests/ -m "not slow" -q

runs the rest quickly. The gate still runs the FULL suite — the tier
exists to tighten the inner loop, never to weaken the gate."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: whole files where essentially every test is expensive by nature
#: (stateful streaming replays)
SLOW_FILES = {
    "test_streaming.py",
}

#: (file, function) pairs ≳1.5 s in a --durations=0 sweep
#: (parametrized functions count as their summed parametrizations —
#: test_query_matches_oracle alone is ~250 s: it IS the oracle sweep).
#: tests/test_properties.py::test_slow_inventory_resolves pins every
#: entry to an existing test so renames can't silently unmark.
SLOW_FUNCS = {
    ("test_oracle_diff.py", "test_query_matches_oracle"),
    ("test_oracle_diff.py", "test_rows_only_queries_run"),
    ("test_semantics.py", "test_sort_spills_gracefully_under_memory_pressure"),
    ("test_semantics.py", "test_native_minhash_agrees_with_spark_ml_lsh"),
    ("test_properties.py", "test_fuzzy_match_groups_match_python_model"),
    ("test_properties.py", "test_minhash_pairs_subset_of_exact"),
    ("test_properties.py", "test_top_token_count_matches_counter"),
    ("test_properties.py", "test_bm25_matches_python_model"),
    ("test_properties.py", "test_word_count_matches_python_model"),
    ("test_properties.py", "test_duplicate_runs_matches_python_model"),
    ("test_properties.py", "test_bpe_pair_counts_matches_python_model"),
    ("test_components.py", "test_components_chain_needs_multiple_rounds"),
    ("test_components.py", "test_pagerank_chunk_cap_invariant"),
    ("test_components.py", "test_components_match_union_find"),
    ("test_components.py", "test_triangle_chunk_cap_invariant"),
    ("test_plans.py", "test_apply_near_label_join_broadcasts"),
    ("test_plans.py", "test_keep_best_quality_window_excludes_unclustered"),
    ("test_plans.py", "test_incremental_minhash_avoids_cartesian"),
    ("test_similarity.py", "test_lsh_cosine_pairs_vs_bruteforce"),
    ("test_similarity.py", "test_ann_recall_vs_bruteforce"),
    ("test_similarity.py", "test_ann_variants_rank_consistently"),
    ("test_similarity.py", "test_semantic_dedup_recall_vs_all_pairs"),
    ("test_sinks_jobs.py", "test_cli_flags_after_args_are_app_args"),
    ("test_sinks_jobs.py", "test_compact_preserves_hive_partitioning"),
    ("test_sinks_jobs.py", "test_compact_small_files"),
    ("test_sinks_jobs.py", "test_zorder_layout_prunes_files_on_both_dimensions"),
    ("test_sinks_jobs.py", "test_process_readback_matches_submit"),
    ("test_catalog_encodings.py", "test_events_ts_encoding_drift"),
    ("test_catalog_encodings.py", "test_catalog_smoke_all_tables"),
    ("test_parity_apps.py", "test_wc_golden"),
    ("test_entry_contract.py", "test_entry_returns_flagship_rows"),
    ("test_skew.py", "test_salted_join_matches_plain"),
}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: expensive test excluded from the fast inner-loop tier "
        "(-m 'not slow'); the full suite runs everything",
    )


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = item.path.name
        func = getattr(item, "originalname", None) or item.name.split("[")[0]
        if fname in SLOW_FILES or (fname, func) in SLOW_FUNCS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from map_reduce_showcase_spark.session import get_spark

    s = get_spark(app_name="mrs-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the catalog tables registered as views
    — the way ``tools/drive_contract.py`` runs ``oracle_sql()``."""
    con = duckdb.connect()
    from map_reduce_showcase_spark.sources.tables import TABLE_NAMES

    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
