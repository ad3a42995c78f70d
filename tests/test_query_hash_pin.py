"""Value-hash pin for ``__spark_entry__.queries()`` (VERDICT r3 #10).

No reorder or refactor of ``__spark_entry__`` may change any query's
semantics. ``scripts/pin_query_hashes.py --write`` captured every query's
order-insensitive sf0.01 value hash into
``tests/fixtures/query_hashes_sf001.json``; this test re-runs a
deterministic sample spread across the query-number range and asserts the
hashes are byte-identical. The full sweep is the script itself (run once
per round; see BENCH_MANIFEST.md) — here we keep the default pytest wall
bounded by pinning the cheap, fully deterministic subset.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from scripts.pin_query_hashes import FIXTURE, query_hash  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

# Cheap deterministic queries spread across q01-q50, q51-q100 and q101+,
# the vector-search, k-means and MinHash operators, and the operators whose
# single-valued parameters are module constants.
PINNED_SAMPLE = [
    "q01_parse_classify",
    "q03_pause_events_sink",
    "q08_conv_state_final",
    "q10_bucket_turn_counts",
    "q13_dedup_exact",
    "q19_ann_bruteforce",
    "q20_ann_lsh",
    "q21_embedding_near_dup",
    "q22_minhash_lsh",
    "q23_simhash_pairs",
    "q28_conv_state_json",
    "q30_hash_split",
    "q32_contamination",
    "q34_ann_ivf",
    "q42_kmeans",
    "q43_tfidf_topk",
    "q44_semdedup",
    "q46_zipf_topk",
    "q52_importance_resample",
    "q53_incremental_dedup",
    "q54_semantic_decontam",
    "q56_pack_sequences",
    "q57_epoch_order",
    "q60_cms_heavy_hitters",
    "q62_asof_join",
    "q77_range_cluster_layout",
    "q79_pricing_summary",
    "q84_weighted_sample",
    "q86_zorder_layout",
    "q87_inverted_index",
    "q100_grouped_hll_distinct",
    "q104_edit_distance_join",
    "q110_benford_audit",
    "q119_ann_recall",
    "q120_near_dup_recall",
    "q127_ahash_near_dup",
    "q128_token_entropy",
    "q130_ann_pq",
    "q131_compaction_apply",
    "q133_hll_set_ops",
    "q135_ann_ivf_pq",
    "q136_rendezvous_reshard",
]


@pytest.fixture(scope="module")
def fixture_hashes():
    if not os.path.exists(FIXTURE):
        pytest.skip("hash fixture not yet written (scripts/pin_query_hashes.py --write)")
    return json.load(open(FIXTURE))


@pytest.fixture(scope="module")
def spark01(spark):
    if not os.path.exists(os.path.join(SF_DIR, "lineitem.parquet")):
        pytest.skip("sf0.01 testdata absent")
    return spark


@pytest.mark.parametrize("name", PINNED_SAMPLE)
def test_hash_unchanged(spark01, fixture_hashes, name):
    assert name in fixture_hashes, f"{name} missing from pin fixture"
    got = query_hash(entrymod.queries()[name](spark01, SF_DIR))
    assert got == fixture_hashes[name], (
        f"{name}: sf0.01 value hash changed vs pre-reorder pin"
    )


def test_rotation_shape():
    """``queries()`` is in query-number order, so q01-q50 come first, and
    every query has an oracle and every oracle a query."""
    names = list(entrymod.queries())
    nums = [int(n[1:n.index("_")]) for n in names]
    assert all(a < b for a, b in zip(nums, nums[1:]))
    assert nums[:50] == list(range(1, 51))
    assert set(names) == set(entrymod.oracle_sql())

