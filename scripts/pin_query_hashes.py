"""Capture per-query value hashes at sf0.01 to pin semantics across refactors.

VERDICT r3 task #10: no reordering of ``queries()`` (query-number order,
derived from the ``qNN_`` definitions) and no refactor of a query body may
change any query's semantics. This script runs every
``__spark_entry__.queries()`` entry at sf0.01 and records a SHA-256 over
the order-insensitive, column-name-sorted normalized rows — the same
normalization the local oracle-parity gate uses — into
``tests/fixtures/query_hashes_sf001.json``.

``tests/test_query_hash_pin.py`` then asserts current results match the
committed fixture, so a reorder (or any refactor) that silently
changes values is caught locally before the driver sees it.

Usage:
    python scripts/pin_query_hashes.py            # verify against fixture
    python scripts/pin_query_hashes.py --write    # (re)write the fixture
    python scripts/pin_query_hashes.py --only q51_foo q52_bar
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXTURE = os.path.join(REPO, "tests", "fixtures", "query_hashes_sf001.json")
SF_DIR = os.environ.get("SPARK_GRAFT_PIN_SF_DIR", "/root/testdata/sf0.01")


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def query_hash(sdf) -> str:
    """Order-insensitive value hash with columns sorted by name.

    Mirrors the driver's compare: columns sorted by (lowercased) name so
    column order never matters, rows sorted by repr so row order never
    matters.
    """
    cols = sorted(sdf.columns, key=str.lower)
    rows = [tuple(r[c] for c in cols) for r in sdf.select(*cols).collect()]
    normed = sorted([tuple(_norm(v) for v in r) for r in rows], key=repr)
    h = hashlib.sha256()
    h.update(repr([c.lower() for c in cols]).encode())
    h.update(repr(normed).encode())
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    from java9_gc_log_parser_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="pin-hashes", master="local[8]",
                      shuffle_partitions=8)
    qs = entrymod.queries()
    names = args.only if args.only else list(qs)

    out: dict[str, str] = {}
    if os.path.exists(FIXTURE):
        out.update(json.load(open(FIXTURE)))

    failures = []
    for name in names:
        t0 = time.time()
        try:
            h = query_hash(qs[name](spark, SF_DIR))
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {e}", flush=True)
            failures.append((name, f"error: {e}"))
            continue
        dt = time.time() - t0
        if args.write:
            out[name] = h
            print(f"{name}: {h[:16]} ({dt:.1f}s)", flush=True)
        else:
            want = out.get(name)
            status = "OK" if h == want else f"MISMATCH want={str(want)[:16]}"
            if h != want:
                failures.append((name, status))
            print(f"{name}: {h[:16]} {status} ({dt:.1f}s)", flush=True)

    if args.write:
        os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
        with open(FIXTURE, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"wrote {len(out)} hashes to {FIXTURE}")
        return 0
    if failures:
        print(f"FAILED: {failures}")
        return 1
    print(f"all {len(names)} pinned hashes match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
