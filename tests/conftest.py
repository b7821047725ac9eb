from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from data_lakehouse_hygiene_spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def null_sf(tmp_path_factory):
    """The sf0.01 tables with two NULL-text documents appended, one per
    source: doc_ids 500 (even) and 501 (odd)."""
    from .oracle_harness import TABLES

    d = tmp_path_factory.mktemp("sf0.01_null_text")
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_ORACLE}/{t}.parquet", d / f"{t}.parquet")
    docs = pq.read_table(f"{SF_ORACLE}/documents.parquet")
    n = docs.num_rows
    nulls = pa.table(
        {
            "doc_id": [n, n + 1],
            "text": pa.array([None, None], pa.string()),
            "lang": ["en", "en"],
            "source": ["src0", "src1"],
            "n_chars": [0, 0],
        },
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, nulls]), d / "documents.parquet")
    return str(d)


# ---------------------------------------------------------------- test tiers
# Round-9 wall-time tiers (the full suite is ~12.5 min single-process):
#   pytest tests/test_oracle_parity.py -q          oracle-parity gate (~3.5m)
#   pytest tests/ -m "not slow and not streaming"  quick functional tier
#   pytest tests/ -q                               full suite (per-round)
# Marks are applied here centrally (duration-derived from the round-9
# --durations profile) so test files stay mark-free.

_SLOW_MODULES = {"test_properties"}  # hypothesis replay suites
_SLOW_TESTS = {
    # >10 s in the round-9 duration profile
    "test_no_sortmergejoin_or_cartesian_anywhere",   # 56 s plan sweep
    "test_no_unpartitioned_window_anywhere",         # 54 s plan sweep
    "test_pq_ann_structural_invariants",
    "test_star_components_deep_chain_within_log_rounds",
    "test_pq_encode_partition_invariant",
    "test_ann_recall_deterministic_and_pinned",
    "test_simhash_mih_auto_width_preserves_pair_set",
    "test_ivfpq_ann_is_pq_restricted_to_probed_cell",
    "test_robust_stats_null_values_excluded_and_plans_agree",
}


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: >10s plan sweeps / hypothesis replays"
    )
    config.addinivalue_line(
        "markers", "streaming: micro-batch streaming tests"
    )


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1]
        name = item.name.split("[", 1)[0]
        if mod in _SLOW_MODULES or name in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
        if "stream" in name or mod == "test_io_streaming":
            item.add_marker(pytest.mark.streaming)
