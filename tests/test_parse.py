"""Per-line grammar tests: the reference's parser spec corpus.

Mirrors the table-driven fixtures of ``GcLineParserTest.scala:14-117`` and
``DurationParsingTest.scala:9-23`` (see FIXTURES.md §4): every positive line
must produce the documented event_class + extracted fields; every negative
line (tag/level vocabulary, JDK8 format, free text) must be unmatched.
"""

from __future__ import annotations

import collections
import functools
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import Row

from java9_gc_log_parser_spark.functions.parse import PARSE_COLUMNS, parse_lines

# (text, expected-field-dict). Only listed fields are asserted (others must be
# null unless listed). Corpus lines from GcLineParserTest.scala:17-74 + logs.
POSITIVE = [
    (
        "[0.010s][info][gc] Using G1",
        {"event_class": "using_g1", "offset_ms": 10, "event_id": None, "tags": ["gc"]},
    ),
    (
        "[0.007s][info][gc,heap] Heap region size: 1M",
        {"event_class": "region_size", "offset_ms": 7, "region_size_mb": 1,
         "tags": ["gc", "heap"]},
    ),
    (
        "[39.708s][info][gc] GC(0) Pause Young (G1 Evacuation Pause)",
        {"event_class": "pause_start", "offset_ms": 39708, "event_id": 0,
         "pause_type": "Young", "reason": "Evacuation"},
    ),
    (  # trailing ')' tolerated: prefix match (GcLineParserTest.scala:26-27)
        "[8.994s][info][gc,start     ] GC(0) Pause Young (G1 Evacuation Pause))",
        {"event_class": "pause_start", "offset_ms": 8994, "event_id": 0,
         "pause_type": "Young", "reason": "Evacuation", "tags": ["gc", "start"]},
    ),
    (
        "[39.708s][info][gc] GC(0) Pause Young (G1 Evacuation Pause) 24M->8M(256M) 6.545ms",
        {"event_class": "pause_end", "pause_type": "Young", "reason": "Evacuation",
         "heap_before": 24, "heap_after": 8, "heap_total": 256, "duration_ms": 6.545},
    ),
    (
        "[8.999s][info][gc,heap      ] GC(0) Eden regions: 25->0(21)",
        {"event_class": "nr_regions", "region": "Eden", "region_before": 25,
         "region_after": 0, "event_id": 0},
    ),
    (
        "[8.999s][info][gc,heap      ] GC(0) Survivor regions: 0->4(21)",
        {"event_class": "nr_regions", "region": "Survivor", "region_before": 0,
         "region_after": 4},
    ),
    (
        "[8.999s][info][gc,heap      ] GC(0) Old regions: 0->4",
        {"event_class": "nr_regions", "region": "Old", "region_before": 0,
         "region_after": 4},
    ),
    (
        "[8.999s][info][gc,heap      ] GC(0) Humongous regions: 0->4",
        {"event_class": "nr_regions", "region": "Humongous", "region_after": 4},
    ),
    (
        "[555.879s][info][gc] GC(8) Pause Initial Mark (G1 Evacuation Pause) "
        "185M->159M(256M) 1.354ms",
        {"event_class": "pause_end", "pause_type": "InitialMark",
         "duration_ms": 1.354, "event_id": 8},
    ),
    (
        "[555.879s][info][gc] GC(9) Concurrent Cycle",
        {"event_class": "concurrent_cycle", "event_id": 9},
    ),
    (  # trailing duration tolerated (gc.log:131, prefix match)
        "[61.397s][info][gc           ] GC(8) Concurrent Cycle 14.069ms",
        {"event_class": "concurrent_cycle", "event_id": 8},
    ),
    (  # Remark end has no reason
        "[613.102s][info][gc] GC(15) Pause Remark 149M->149M(256M) 1.381ms",
        {"event_class": "pause_end", "pause_type": "Remark", "reason": None,
         "heap_before": 149, "duration_ms": 1.381},
    ),
    (  # Cleanup parses fine; it is dropped later by the supported-types filter
        "[513.382s][info][gc] GC(9) Pause Cleanup 202M->39M(312M) 0.369ms",
        {"event_class": "pause_end", "pause_type": "Cleanup", "duration_ms": 0.369},
    ),
    (
        "[711.229s][info][gc] GC(23) Pause Mixed (G1 Evacuation Pause) "
        "159M->151M(312M) 4.898ms",
        {"event_class": "pause_end", "pause_type": "Mixed"},
    ),
    (
        "[2646.462s][info][gc] GC(484) Pause Initial Mark (G1 Humongous Allocation) "
        "813M->817M(876M) 8.092ms",
        {"event_class": "pause_end", "reason": "HumongousAllocation",
         "offset_ms": 2646462},
    ),
    (
        "[83.923s][info][gc] GC(22) Pause Full (Allocation Failure) "
        "256M->230M(256M) 44.683ms",
        {"event_class": "pause_end", "pause_type": "Full",
         "reason": "AllocationFailure", "duration_ms": 44.683},
    ),
    (
        "[83.997s][info][gc] GC(20) To-space exhausted",
        {"event_class": "to_space_exhausted", "event_id": 20},
    ),
    (
        "[4.403s][info][gc,phases    ] GC(0)   Pre Evacuate Collection Set: 0.0ms",
        {"event_class": "phase", "phase_details": "Pre Evacuate Collection Set",
         "phase_ms": 0.0, "tags": ["gc", "phases"]},
    ),
    (  # duration unit-awareness: 0.010s -> 10 ms (DurationParsingTest.scala:14-22)
        "[1.000s][info][gc] GC(3) Pause Young (G1 Evacuation Pause) 1M->1M(2M) 0.010s",
        {"event_class": "pause_end", "duration_ms": 10.0},
    ),
    (  # warn level admitted
        "[1.000s][warn][gc] Using G1",
        {"event_class": "using_g1", "level": "warn"},
    ),
]

NEGATIVE = [  # all must be unmatched (FIXTURES.md §4 negative table)
    "[6.374s][info][gc,task      ] GC(0) Using 8 workers of 8 for evacuation",
    "[6.384s][info][gc,metaspace ] GC(0) Metaspace: 10000K->10000K(1058816K)",
    "[6.384s][info][gc,cpu       ] GC(0) User=0.04s Sys=0.01s Real=0.01s",
    "[61.397s][info][gc,marking   ] GC(8) Concurrent Clear Claimed Marks",
    "[0.028s][info][gc,heap,coops] Heap address: 0x00000005cba00000, size: 8006 MB",
    "2017-07-30T21:11:59.393+0100: 1.314: [GC (Metadata GC Threshold) ...]",
    "please summarize the deployment logs from last night",
    "[0.5s][debug][gc] Using G1",  # debug level not admitted (dead code branch)
    "[1.0s][info][gc] GC(1) 12345",  # header ok, no body production
    "",
]

UNLISTED_REASON = [
    # reason parses but is unlisted -> reference MatchError -> our dead-letter
    "[1.0s][info][gc] GC(1) Pause Young (Metadata GC Threshold) 5M->4M(8M) 1.0ms",
    "[1.0s][info][gc] GC(1) Pause Young (Metadata GC Threshold)",
]

OVERFLOW = [
    # digits exceeding the target type: the reference's String.toLong/toInt
    # would throw and kill the stream; we demote to dead-letter (never
    # fail-stop the job — and Spark 4 ANSI casts would otherwise abort it).
    "[99999999999999999999.9s][info][gc] Using G1",
    "[1.0s][info][gc] GC(99999999999999999999) Pause Young (G1 Evacuation Pause)",
    "[1.0s][info][gc] GC(1) Pause Young (G1 Evacuation Pause) "
    "99999999999999999999M->1M(2M) 1.0ms",
    "[1.0s][info][gc] GC(3000000000) Pause Young (G1 Evacuation Pause)",  # > int32
]


def _parse_one(spark, text):
    df = spark.createDataFrame([Row(text=text)])
    return parse_lines(df).select("text", *PARSE_COLUMNS).collect()[0]


@pytest.fixture(scope="module")
def parsed_all(spark):
    texts = (
        [t for t, _ in POSITIVE] + NEGATIVE + UNLISTED_REASON + OVERFLOW
    )
    df = spark.createDataFrame([Row(idx=i, text=t) for i, t in enumerate(texts)])
    rows = parse_lines(df).orderBy("idx").collect()
    return rows


@pytest.mark.parametrize("i,case", list(enumerate(POSITIVE)), ids=lambda x: str(x)[:40])
def test_positive(parsed_all, i, case):
    text, expected = case
    row = parsed_all[i]
    assert row.text == text  # per-turn text round-trips byte-identically
    for k, v in expected.items():
        got = getattr(row, k)
        if isinstance(v, float):
            assert got == pytest.approx(v, abs=1e-12), (k, text)
        else:
            assert got == v, (k, got, text)
    assert row.reason_code is None


@pytest.mark.parametrize("j", range(len(NEGATIVE)))
def test_negative(parsed_all, j):
    row = parsed_all[len(POSITIVE) + j]
    assert row.event_class == "unmatched", row.text
    assert row.reason_code in ("header_mismatch", "body_mismatch")
    # UnknownLine keeps only the raw text: every parse field is null
    assert row.offset_ms is None and row.event_id is None and row.pause_type is None


@pytest.mark.parametrize("j", range(len(UNLISTED_REASON)))
def test_unlisted_reason(parsed_all, j):
    row = parsed_all[len(POSITIVE) + len(NEGATIVE) + j]
    assert row.event_class == "unmatched"
    assert row.reason_code == "unlisted_reason"


@pytest.mark.parametrize("j", range(len(OVERFLOW)))
def test_numeric_overflow_dead_letters(parsed_all, j):
    row = parsed_all[len(POSITIVE) + len(NEGATIVE) + len(UNLISTED_REASON) + j]
    assert row.event_class == "unmatched"
    assert row.reason_code == "numeric_overflow"


def skip_if_input_missing(test):
    """Skip, rather than fail, a test whose input files are not present.

    Only a read that fails with ``PATH_NOT_FOUND`` becomes a skip; when the
    files exist the test and its assertions run unchanged."""

    @functools.wraps(test)
    def run(*args, **kwargs):
        try:
            return test(*args, **kwargs)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            pytest.skip(f"input files not present: {e.getMessageParameters()}")

    return run


EXCERPT = os.path.join(os.path.dirname(__file__), "fixtures",
                       "reference_excerpt.log")


def test_reference_excerpt_class_counts(spark):
    """Exact class counts over the reference-log lines quoted verbatim in
    FIXTURES.md §4, read as a log file (the full logs are not vendored)."""
    df = spark.read.text(EXCERPT).withColumnRenamed("value", "text")
    rows = parse_lines(df).select(
        "text", "event_class", "reason_code").collect()
    assert len(rows) == 25
    assert collections.Counter(r.event_class for r in rows) == {
        "pause_end": 7,
        "unmatched": 6,
        "nr_regions": 4,
        "pause_start": 2,
        "concurrent_cycle": 2,
        "using_g1": 1,
        "region_size": 1,
        "to_space_exhausted": 1,
        "phase": 1,
    }
    # the JDK8 service-gc.log line has no unified-logging header
    (jdk8,) = [r for r in rows if r.text.startswith("2017-07-30T")]
    assert (jdk8.event_class, jdk8.reason_code) == (
        "unmatched", "header_mismatch")


@skip_if_input_missing
def test_reference_log_files(spark):
    """End-to-end class distribution over the reference's captured logs.

    service-gc.log is JDK8 format: every line unmatched (SURVEY §2.1).
    """
    df = spark.read.text("/root/reference/service-gc.log")
    parsed = parse_lines(df.withColumnRenamed("value", "text"))
    classes = {r.event_class for r in parsed.select("event_class").distinct().collect()}
    assert classes == {"unmatched"}

    df2 = spark.read.text("/root/reference/gc-ga.log")
    counts = {
        r.event_class: r["count"]
        for r in parse_lines(df2.withColumnRenamed("value", "text"))
        .groupBy("event_class").count().collect()
    }
    # gc-ga.log: 100 young evacuation pauses + initial-mark/remark/cleanup cycles
    assert counts["pause_start"] > 0
    assert counts["pause_end"] > 0
    assert counts["nr_regions"] == 4 * counts["pause_end"] + 4 * 0 or counts["nr_regions"] > 0
    assert counts["unmatched"] > 0  # gc,task / gc,cpu / gc,metaspace lines
    total = sum(counts.values())
    assert total == df2.count()
