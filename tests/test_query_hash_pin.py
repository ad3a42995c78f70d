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

# Cheap deterministic queries spread across q01-q50, q51-q100 and q101+.
PINNED_SAMPLE = [
    "q01_parse_classify",
    "q03_pause_events_sink",
    "q08_conv_state_final",
    "q10_bucket_turn_counts",
    "q13_dedup_exact",
    "q28_conv_state_json",
    "q30_hash_split",
    "q52_importance_resample",
    "q56_pack_sequences",
    "q60_cms_heavy_hitters",
    "q62_asof_join",
    "q79_pricing_summary",
    "q100_grouped_hll_distinct",
    "q104_edit_distance_join",
    "q110_benford_audit",
    "q128_token_entropy",
    "q133_hll_set_ops",
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


def test_no_complex_typed_output_columns(spark, sf_dir):
    """Driver-canonicalizer conformance (VERDICT r4 task #2): NO
    ``queries()`` entry may emit ArrayType/MapType/StructType columns —
    the driver's pandas canonicalizer sorts cell values and crashes on
    unhashable lists (the r4 q87 red row, `postings` array<long>).
    Binary/Decimal/Null scalars are banned too: they round-trip
    differently (or not at all) through pandas sorting + hashing, and no
    query needs them (hex/round-to-string instead). Schema-only and
    mostly lazy, so the full suite stays cheap."""
    from pyspark.sql import types as T

    banned = (
        T.ArrayType, T.MapType, T.StructType,
        T.BinaryType, T.DecimalType, T.NullType,
    )
    bad = []
    for name, fn in entrymod.queries().items():
        for f in fn(spark, sf_dir).schema.fields:
            if isinstance(f.dataType, banned):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, (
        "driver-canonicalizer-hostile output columns; serialize them "
        "(array_join / to_json / hex / round) instead: " + "; ".join(bad)
    )
