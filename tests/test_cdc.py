"""Unit tests for operators/cdc.py (snapshot diff) and
dedupe.canonical_select — known-answer fixtures in the reference's
table-driven test style (GcLineParserTest.scala:14-79)."""

from __future__ import annotations

from pyspark.sql import functions as F

from java9_gc_log_parser_spark.operators.cdc import (
    snapshot_diff,
    synth_mutated_snapshot,
)
from java9_gc_log_parser_spark.operators.dedupe import canonical_select


def _snap(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_snapshot_diff_classifies_all_change_types(spark):
    old = _snap(spark, [(1, "a"), (2, "b"), (3, "c")])
    new = _snap(spark, [(2, "b"), (3, "c2"), (4, "d")])
    rows = snapshot_diff(old, new).collect()
    got = {r["doc_id"]: r["change_type"] for r in rows}
    assert got == {1: "deleted", 3: "updated", 4: "added"}
    fps = {r["doc_id"]: (r["old_fp"], r["new_fp"]) for r in rows}
    assert fps[3][0] != fps[3][1] and None not in fps[3]


def test_synth_mutated_snapshot_is_deterministic_and_disjoint(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}", "en", "web", 6) for i in range(200)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    a = synth_mutated_snapshot(docs).orderBy("doc_id").collect()
    b = synth_mutated_snapshot(docs).orderBy("doc_id").collect()
    assert a == b
    ids = [r["doc_id"] for r in a]
    assert len(ids) == len(set(ids))  # added ids don't collide with kept
    diff = snapshot_diff(docs, synth_mutated_snapshot(docs))
    kinds = {r["change_type"] for r in diff.collect()}
    assert kinds == {"added", "deleted", "updated"}


def test_canonical_select_prefers_quality_then_min_id(spark):
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7)],
        "doc_id long, cluster_id long",
    )
    scored = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (7, 0.1)],
        "doc_id long, quality_score double",
    )
    rows = canonical_select(clusters, scored).collect()
    canon = sorted(r["doc_id"] for r in rows if r["is_canonical"])
    # doc 2 beats 3 on the id tie-break; singleton 7 is its own canonical
    assert canon == [2, 7]
    assert len(rows) == 4  # one row per doc, non-canonical kept with flag


def test_incremental_refresh_equals_full_recompute(spark):
    from java9_gc_log_parser_spark.operators.cdc import incremental_refresh
    from java9_gc_log_parser_spark.operators.text_analysis import quality_score

    docs = spark.createDataFrame(
        [(i, f"text number {i} with the a words") for i in range(50)],
        "doc_id long, text string",
    )
    old_state = quality_score(docs)
    new = spark.createDataFrame(
        # 0..39 kept (5 updated), 40..49 deleted, 100..104 added
        [(i, f"text number {i} with the a words" + (" upd" if i % 8 == 0 else ""))
         for i in range(40)]
        + [(100 + i, f"brand new doc {i}") for i in range(5)],
        "doc_id long, text string",
    )
    from java9_gc_log_parser_spark.operators.cdc import snapshot_diff

    got = incremental_refresh(
        old_state, snapshot_diff(docs, new), new, quality_score
    )
    want = quality_score(new)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_scd2_build_runs_and_intervals(spark):
    import datetime

    from java9_gc_log_parser_spark.operators.cdc import scd2_build

    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, minutes, user, typ):
        return (eid, t0 + datetime.timedelta(minutes=minutes), user, typ)

    df = spark.createDataFrame(
        [
            # u1: A A B A -> 3 versions (A x2, B, A)
            ev(1, 0, 1, "A"),
            ev(2, 10, 1, "A"),
            ev(3, 20, 1, "B"),
            ev(4, 30, 1, "A"),
            # u2: single event -> one current version
            ev(5, 0, 2, "C"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = {
        (r["user_id"], r["version"]): r
        for r in scd2_build(df).collect()
    }
    assert len(out) == 4
    r11, r12, r13 = out[(1, 1)], out[(1, 2)], out[(1, 3)]
    assert (r11["event_type"], r11["n_events"]) == ("A", 2)
    assert (r12["event_type"], r12["n_events"]) == ("B", 1)
    assert (r13["event_type"], r13["is_current"]) == ("A", True)
    # half-open chaining: each valid_to equals the next valid_from
    assert r11["valid_to"] == r12["valid_from"]
    assert r12["valid_to"] == r13["valid_from"]
    assert r13["valid_to"] is None
    assert not r11["is_current"] and not r12["is_current"]
    u2 = out[(2, 1)]
    assert u2["is_current"] and u2["n_events"] == 1


def test_scd2_build_equal_ts_ordered_by_event_id(spark):
    import datetime

    from java9_gc_log_parser_spark.operators.cdc import scd2_build

    t0 = datetime.datetime(2024, 1, 1)
    # same timestamp: order by event_id decides the run layout (B then A)
    df = spark.createDataFrame(
        [(2, t0, 1, "A"), (1, t0, 1, "B")],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    rows = sorted(scd2_build(df).collect(), key=lambda r: r["version"])
    assert [r["event_type"] for r in rows] == ["B", "A"]
