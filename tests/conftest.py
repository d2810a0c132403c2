from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.master("local[4]")
        .appName("impuls_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


@pytest.fixture(scope="session")
def gtfs_dir(tmp_path_factory):
    """Deterministic WKD-shaped GTFS feed as a directory of .txt files."""
    from tests.fixtures.make_feed import write_feed

    target = tmp_path_factory.mktemp("feed") / "wkd"
    return write_feed(str(target))


@pytest.fixture(scope="session")
def feed(spark, gtfs_dir):
    from impuls_spark.sources import load_gtfs

    return load_gtfs(spark, gtfs_dir)


# The heavyweight end-to-end/scale tests (>=13 s each, ~1090 s of the
# full suite's 2020 s; measured r15, --durations at HEAD). The DEFAULT
# run deselects them (`-m "not slow"` via addopts) so a plain
# `pytest tests/ -x -q` finishes inside a CI/verify time budget; every
# operator keeps at least one fast test in the default lane. Full
# suite: `pytest tests/ -q -m ""`; only the slow lane: `-m slow`.
_SLOW_TESTS = {
    "test_merge_geo_skew_at_generator_scale",
    "test_warsaw_like_end_to_end",
    "test_warsaw_like_cli",
    "test_refined_never_below_plain_ivfpq",
    "test_remove_unused_entities",
    "test_continuous_corpus_example_end_to_end",
    "test_example_pipeline",
    "test_annindex_topk_matches_direct_ivfpq",
    "test_merge_lineage_cut_modes_identical",
    "test_daily_ingest_retrain_trigger",
    "test_lifecycle_recall_floors",
    "test_multi_file_parallel_intermediates",
    "test_ingest_auto_compaction_bounds_epoch_dirs",
    "test_continuous_ingest_example_end_to_end",
    "test_dedup_index_sequence_invariant_random",
    "test_ingest_with_dedup_end_to_end",
    "test_merge_ten_feeds_renumber",
    "test_takedown_pipeline_compliance_example",
    "test_compact_corpus_end_to_end",
    "test_takedown_then_restore_then_resume_streaming",
    "test_daily_ingest_example_end_to_end",
    "test_takedown_stream_corpus_end_to_end",
    "test_multi_file_failed_build_recovers_incrementally",
    "test_distributed_row_number_property",
    "test_ann_index_retrain_lowers_drift_and_matches_fresh_build",
    "test_multi_file",
    "test_merge_preserves_active_service",
    "test_content_maintenance_refused_until_absorbed",
    "test_absorb_stream_yields_flat_index_equal_to_batch_append",
    "test_radom_like_end_to_end",
    "test_takedown_stream_vectors_mid_stream",
    "test_merge_route_id_conflict_suffix",
    "test_incremental_dedup_near_recall_vs_exact",
    "test_build_training_shards_end_to_end",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name.split("[", 1)[0] in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
    # tests named only by explicit node ids run even when slow: the
    # default `-m 'not slow'` from addopts would otherwise deselect them
    # silently. An -m given on the command line is left as is.
    explicit_m = any(a.startswith("-m") for a in config.invocation_params.args)
    if not explicit_m and config.args and all("::" in a for a in config.args):
        config.option.markexpr = ""
