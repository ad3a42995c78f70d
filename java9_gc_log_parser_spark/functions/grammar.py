"""The JDK9 unified-logging G1 line grammar as an ordered regex cascade.

Re-expresses the reference's parser-combinator grammar
(``core/src/main/scala/info/batey/GcLineParser.scala:10-121``) as data: one
compiled-regex per production, evaluated first-match-wins in the *same
alternation order* as the reference's ``lineDesc`` production
(``GcLineParser.scala:110``):

    nrRegions | pause | pauseStart | concurrentCycle | tooSpace
              | usingG1 | heapEvent | phases

Faithful quirks (each carries a test):
  * **Prefix matching** -- the reference uses ``parse`` (not ``parseAll``), so
    trailing garbage after a successful production is accepted
    (``GcLogStream.scala:55``; fixture with stray ``)`` in
    ``GcLineParserTest.scala:26-27``). All body regexes are therefore
    unanchored at the end.
  * **Closed tag vocabulary** -- only ``gc|start|heap|phases``
    (``GcLineParser.scala:35-43``); a line tagged ``gc,cpu`` / ``gc,task`` /
    ``gc,metaspace`` / ``gc,marking`` / ``gc,heap,coops`` fails the header and
    becomes an unmatched line.
  * **Closed level vocabulary** -- only ``info|warn`` (``GcLineParser.scala:19-26``);
    the Debug/Unknown branches in the reference are dead code.
  * **Header time is unit-aware** -- the header position uses the ``offset``
    production (``float (ms|s)``, ``GcLineParser.scala:45-47``), converted to
    whole millis with truncation like Scala ``Duration.toMillis``.
  * **Closed reason vocabulary** -- the reference's reason mapping is a
    non-exhaustive match that *throws* on an unlisted reason string
    (``GcLineParser.scala:57-61``); we route such lines to the dead-letter sink
    with ``reason_code='unlisted_reason'`` instead of failing the job.
  * **Ordered alternation is semantics** -- a ``Pause ...`` line *with*
    collection stats is an end, *without* is a start.

All patterns avoid lookarounds/backrefs so the same strings compile under
java.util.regex (Spark JVM), Python ``re`` (Arrow UDF variant) and RE2
(DuckDB oracle).
"""

from __future__ import annotations


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal, every quote, backslash and
    non-printable character written as a ``\\uXXXX`` escape."""
    return "'" + "".join(
        c if c.isprintable() and c not in "'\\" else f"\\u{ord(c):04x}"
        for c in s
    ) + "'"


# --- vocabularies (GcLineParser.scala / GCLogFileModel.scala) ---------------

TAGS = ("gc", "start", "heap", "phases")
PAUSE_TYPES = {  # token -> canonical name (GcLineParser.scala:63-70)
    "Young": "Young",
    "Initial Mark": "InitialMark",
    "Remark": "Remark",
    "Mixed": "Mixed",
    "Cleanup": "Cleanup",
    "Full": "Full",
}
# GcLogStream.scala:21 -- Cleanup deliberately absent (quirk parity: Pause
# Cleanup lines never survive the supported-types filter in the reference).
SUPPORTED_PAUSE_TYPES = ("Full", "Young", "InitialMark", "Remark", "Mixed")

REASONS = {  # literal -> enum name (GcLineParser.scala:57-61)
    "G1 Evacuation Pause": "Evacuation",
    "G1 Humongous Allocation": "HumongousAllocation",
    "Allocation Failure": "AllocationFailure",
}
REGIONS = ("Eden", "Survivor", "Old", "Humongous")

EVENT_CLASSES = (
    "nr_regions",
    "pause_end",
    "pause_start",
    "concurrent_cycle",
    "to_space_exhausted",
    "using_g1",
    "region_size",
    "phase",
    "unmatched",
)

# --- header (GcLineParser.scala:45-47) ---------------------------------------
# "[" offset "]" level "[" tag+ "]" opt(eventId)
# groups: 1=int-part 2=frac-part 3=unit 4=level 5=raw tag list 6=event id
_TAG_ALT = "|".join(TAGS)
#: header WITHOUT the trailing body capture; COMBINED_RE appends the body
#: alternation for the single-pass JVM parse
HEADER_PREFIX_RE = (
    r"^\s*\[\s*(\d+)(?:\.(\d+))?(ms|s)\s*\]\s*"
    r"\[\s*(info|warn)\s*\]\s*"
    rf"\[\s*((?:{_TAG_ALT})(?:\s*,\s*(?:{_TAG_ALT}))*\s*,?)\s*\]\s*"
    r"(?:GC\(\s*(\d+)\s*\))?\s*"
)

# --- body productions, in lineDesc alternation order -------------------------
_PTYPE_ALT = "Full|Mixed|Cleanup|Young|Initial Mark|Remark"
# opt(reason), GcLineParser.scala:57-61. Captured WITH parens so downstream can
# distinguish "absent" ('') from present-but-empty "()" (the latter would
# MatchError in the reference).
_REASON = r"(?:(\([a-zA-Z0-9 ]*\))\s*)?"
_DUR = r"(\d+)(?:\.(\d+))?(ms|s)"  # offset production, GcLineParser.scala:28-33

# nrRegions (GcLineParser.scala:106-108); trailing "(n)" target count parsed
# then discarded by the reference (:107) -> we don't capture it.
NR_REGIONS_RE = rf"^({'|'.join(REGIONS)})\s*regions:\s*(\d+)\s*->\s*(\d+)"

# pause end (GcLineParser.scala:72-74): Pause type opt(reason) collectionStats
PAUSE_END_RE = (
    rf"^Pause\s*({_PTYPE_ALT})\s*{_REASON}"
    rf"(\d+)M->\s*(\d+)M\(\s*(\d+)M\)\s*{_DUR}"
)

# pause start (GcLineParser.scala:91-93): Pause type opt(reason)
PAUSE_START_RE = rf"^Pause\s*({_PTYPE_ALT})\s*{_REASON}"

CONCURRENT_CYCLE_RE = r"^Concurrent Cycle"  # :76, prefix => trailing dur ok
TO_SPACE_RE = r"^To-space exhausted"  # :77
USING_G1_RE = r"^Using G1"  # :79
REGION_SIZE_RE = r"^Heap region size:\s*(\d+)M"  # :81-85

# phases catch-all (GcLineParser.scala:87-89): greedy letters/spaces up to ':'
PHASE_RE = rf"^([a-zA-Z ]*):\s*{_DUR}"

# Single-pass body classifier: ONE alternation regex in exactly the
# cascade's order. Java regex alternation tries alternatives left-to-right at
# the anchor, so "first alternative that matches" == "first cascade entry
# that matches" — the reference's lineDesc order (GcLineParser.scala:112-120)
# — while the whole classification costs ONE engine pass per line instead of
# one probe + k group-extract passes per production. Groups of alternatives
# that did not participate substitute as '' in a regexp_replace template.
#
# Group layout (1-based, fixed):
#   1-3   nr_regions: region, before, after
#   4-11  pause_end: ptype, (reason), hb, ha, ht, dur int, dur frac, unit
#   12-13 pause_start: ptype, (reason)
#   14    concurrent_cycle flag   15 to_space flag   16 using_g1 flag
#   17    region_size MB
#   18-21 phase: details, dur int, dur frac, unit
def _unanchored(regex: str) -> str:
    assert regex.startswith("^")
    return regex[1:]


_BODY_ALT = "|".join(
    [
        _unanchored(NR_REGIONS_RE),
        _unanchored(PAUSE_END_RE),
        _unanchored(PAUSE_START_RE),
        f"({_unanchored(CONCURRENT_CYCLE_RE)})",
        f"({_unanchored(TO_SPACE_RE)})",
        f"({_unanchored(USING_G1_RE)})",
        _unanchored(REGION_SIZE_RE),
        _unanchored(PHASE_RE),
    ]
)
MEGA_BODY_GROUPS = 21

# Single-pass line grammar: header prefix + OPTIONAL body alternation, ONE
# engine pass per line. Groups 1-6 = header (time int/frac/unit, level, tags,
# event id); groups 7-27 = the 21 body groups in cascade order. The body is
# optional so "header ok, body unmatched" still matches (all body groups
# substitute as '') and classifies as body_mismatch downstream; a header
# mismatch fails the whole regex. Every body production has at least one
# mandatory non-empty capture, so body participation is detectable from the
# groups alone. Alternation order is preserved, so first-match-wins equals
# the reference's lineDesc cascade exactly.
COMBINED_RE = HEADER_PREFIX_RE + "(?:" + _BODY_ALT + ")?"
COMBINED_GROUPS = 6 + MEGA_BODY_GROUPS

# Reference error strings, kept byte-identical for parity tests
# (CollectPauseLines.scala:32,43).
ERR_END_BEFORE_START = (
    "Received PauseEnd before PauseStart. Either a bug or invalid GC log. "
    "EventId: {event_id}"
)
ERR_MISSING_REGIONS = (
    "Received PauseEnd without receiving region information. Either a bug or "
    "invalid GC log. Regions: {{{regions}}}. EventId: {event_id}"
)
