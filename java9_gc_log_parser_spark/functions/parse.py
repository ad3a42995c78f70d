"""Vectorized parse stage: raw `text` column -> typed wide parse columns.

This is the Spark-first re-expression of the reference's per-line combinator
parse (``GcLineParser.scala:112-120`` applied at ``GcLogStream.scala:55``).
Instead of a row-at-a-time PEG, the whole grammar becomes a *columnar
expression cascade* of built-in ``regexp_extract`` / ``rlike`` calls — pure
JVM, whole-stage-codegen-fused, no Python in the hot path.

Output schema (all nullable; null means "not applicable to this class"):

  event_class   string  -- one of grammar.EVENT_CLASSES
  offset_ms     bigint  -- header time, whole ms (Duration.toMillis truncation)
  level         string  -- info|warn
  tags          array<string> (distinct, sorted)
  event_id      int     -- the GC(n) correlation key, null when absent
  pause_type    string  -- Young|InitialMark|Remark|Mixed|Cleanup|Full
  reason        string  -- Evacuation|HumongousAllocation|AllocationFailure
  heap_before / heap_after / heap_total   bigint (MB)
  duration_ms   double
  region        string  -- Eden|Survivor|Old|Humongous
  region_before / region_after            bigint
  region_size_mb bigint
  phase_details string
  phase_ms      double
  reason_code   string  -- only for event_class='unmatched':
                           header_mismatch | body_mismatch | unlisted_reason

Unmatched lines keep every parse field null and preserve the raw text
(reference ``UnknownLine``, ``GcLineParser.scala:116-118``).

Expression-shape note (measured ~2.5x): the cascade is *staged* — every
regex group is extracted exactly once into a bound intermediate column, and
all classification/typing logic downstream references only those cheap
attributes. Collapsing everything into one Project would inline the
class-resolution subtree (itself ~20 regex ops) into each of the ~15
dependent output columns; Catalyst keeps multiply-referenced non-cheap
producers as separate project stages. Class flags come from mandatory
capture groups (``group != ''``) so no production pays both an ``rlike``
and an extract; class-specific groups are guarded by their flag so
non-matching rows skip the matcher entirely.

Execution-mode note (measured 4.3x): fusing the whole cascade into one
whole-stage-codegen span generates a single consume method far past
HotSpot's 8000-bytecode JIT ceiling (DontCompileHugeMethods), so it runs as
*interpreted bytecode* — 58 s for 15M turns at 8 cores vs 13.3 s for
Spark's interpreted-expression fallback. ``session.get_spark`` therefore
sets ``spark.sql.codegen.hugeMethodLimit=8000`` so exactly such stages fall
back; narrow stages elsewhere in the pipeline keep codegen.

Driver-cost note (measured ~10,000 -> ~1,600 Py4J round trips per
``plans.pipeline.build``): every ``F.col`` / ``F.when`` / operator call on a
``Column`` is a round trip to the JVM (~0.25 ms each), so building the
cascade node by node cost ~4,000 round trips per parse, and the Column-built
stages of ``build`` ~10,000, before any task ran —
paid again by every checkpoint batch and every stream trigger. The
classification and typing stages are therefore SQL text, generated from
``grammar`` in pure Python at import time, and each stage is handed to Spark
in ONE ``selectExpr`` call, which the JVM parses into the same expression
trees (the optimized plans are identical). Only the regex stage stays
Column-built: two columns. Column objects are not cached across calls
instead: their JVM proxies die with the gateway.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import grammar as G

#: unique observation names (two CollectMetrics nodes in one query must not
#: share a name)
_obs_ids = itertools.count()


def _dur_ms(i: str, f: str, unit: str) -> str:
    """offset production -> fractional milliseconds (GcLineParser.scala:28-33)."""
    num = f"try_cast(concat({i}, '.', CASE WHEN {f} = '' THEN '0' ELSE {f} END) AS DOUBLE)"
    return f"CASE WHEN {unit} = 's' THEN {num} * 1000.0D ELSE {num} END"


def _ovf(raw: str, typ: str) -> str:
    """Numeric-overflow demotion: a line whose digits exceed the target type
    would throw in the reference (String.toLong / toInt) and fail-stop the
    stream; here it becomes a dead-letter row instead of failing the job."""
    return f"({raw} != '' AND try_cast({raw} AS {typ}) IS NULL)"


def _inner(raw: str) -> str:
    return f"substring({raw}, 2, length({raw}) - 2)"


# reason: captured *with* parens so "absent" ('') differs from "()" — the
# reference throws a MatchError on any parsed-but-unlisted reason string
# (GcLineParser.scala:57-61); we dead-letter those lines instead.
_LISTED = ", ".join(G.sql_str(r) for r in G.REASONS)


def _reason_unlisted(raw: str) -> str:
    return f"({raw} != '' AND NOT ({_inner(raw)} IN ({_LISTED})))"


def _reason_mapped(raw: str) -> str:
    whens = " ".join(
        f"WHEN {_inner(raw)} = {G.sql_str(lit)} THEN {G.sql_str(name)}"
        for lit, name in G.REASONS.items()
    )
    return (f"CASE WHEN {raw} = '' THEN CAST(NULL AS STRING) {whens} "
            "ELSE CAST(NULL AS STRING) END")


def _p(i: int) -> str:
    """Body group ``i`` (1-based) of the packed split; '' off a match."""
    return f"CASE WHEN _hok THEN element_at(_hp, {6 + i}) ELSE '' END"


# --- stage 3: the header's and the body's groups, each bound once -----------
_HEADER = {
    f"_h{i}": f"CASE WHEN _hok THEN element_at(_hp, {i}) ELSE '' END"
    for i in range(1, 7)
}
_BODY = {
    "_nr1": _p(1), "_nr2": _p(2), "_nr3": _p(3),
    "_e1": _p(4), "_e2": _p(5), "_e3": _p(6), "_e4": _p(7),
    "_e5": _p(8), "_e6": _p(9), "_e7": _p(10), "_e8": _p(11),
    "_s1": _p(12), "_s2": _p(13),
    "_is_cc": f"{_p(14)} != ''", "_is_ts": f"{_p(15)} != ''",
    "_is_g1": f"{_p(16)} != ''",
    "_rs1": _p(17),
    "_ph1": _p(18), "_ph2": _p(19), "_ph3": _p(20), "_ph4": _p(21),
}

# --- stage 4: classification over bound attributes ---------------------------
_END_UNLISTED = f"(_e3 != '' AND {_reason_unlisted('_e2')})"
_START_UNLISTED = f"(NOT (_e3 != '') AND _s1 != '' AND {_reason_unlisted('_s2')})"
_GRAMMAR_CLASS = (
    "CASE WHEN NOT (_h1 != '') THEN 'unmatched'"
    " WHEN _nr1 != '' THEN 'nr_regions'"
    f" WHEN {_END_UNLISTED} OR {_START_UNLISTED} THEN 'unmatched'"
    " WHEN _e3 != '' THEN 'pause_end'"
    " WHEN _s1 != '' THEN 'pause_start'"
    " WHEN _is_cc THEN 'concurrent_cycle'"
    " WHEN _is_ts THEN 'to_space_exhausted'"
    " WHEN _is_g1 THEN 'using_g1'"
    " WHEN _rs1 != '' THEN 'region_size'"
    # PHASE group 1 can match empty; group 2 is \d+
    " WHEN _ph2 != '' THEN 'phase'"
    " ELSE 'unmatched' END"
)


def _ovf_when(cls: str, *raws: str) -> str:
    ovf = " OR ".join(_ovf(r, "BIGINT") for r in raws)
    return f"CASE WHEN ({_GRAMMAR_CLASS}) = '{cls}' THEN ({ovf}) ELSE false END"


_CLASSIFY = {
    "_gclass": _GRAMMAR_CLASS,
    "_unl": f"{_END_UNLISTED} OR {_START_UNLISTED}",
    "_ovfl": " OR ".join([
        _ovf("_h6", "INT"),
        _ovf("_h1", "BIGINT"),
        _ovf_when("pause_end", "_e3", "_e4", "_e5"),
        _ovf_when("nr_regions", "_nr2", "_nr3"),
        _ovf_when("region_size", "_rs1"),
    ]),
}

# --- stage 5: output columns over bound attributes ---------------------------
_DEMOTED = "(_gclass != 'unmatched' AND _ovfl)"
_EVENT_CLASS = f"(CASE WHEN {_DEMOTED} THEN 'unmatched' ELSE _gclass END)"
_REASON_CODE = (
    "CASE WHEN NOT (_h1 != '') THEN 'header_mismatch'"
    " WHEN _unl THEN 'unlisted_reason'"
    f" WHEN {_DEMOTED} THEN 'numeric_overflow'"
    " ELSE 'body_mismatch' END"
)
_PTYPE_MAP = "map(" + ", ".join(
    G.sql_str(x) for kv in G.PAUSE_TYPES.items() for x in kv
) + ")"
# Duration.toMillis truncates sub-ms; for unit 's' that is
# int_part*1000 + first-three fraction digits (zero-padded).
_FRAC3 = "rpad(substring(CASE WHEN _h2 = '' THEN '0' ELSE _h2 END, 1, 3), 3, '0')"
_OFFSET_MS = (
    f"CASE WHEN _h3 = 's' THEN try_cast(_h1 AS BIGINT) * 1000 "
    f"+ CAST({_FRAC3} AS BIGINT) ELSE try_cast(_h1 AS BIGINT) END"
)
# Distinct+sorted tag array WITHOUT higher-order functions: HOFs
# (array_sort/array_distinct/filter with a lambda) are CodegenFallback,
# and ONE such expression evicts the ENTIRE wide output projection from
# whole-stage codegen into interpreted per-row eval — measured ~10x on
# the full parse (52.9s -> ~5s for 15M turns at 8 cores). The tag
# vocabulary is closed (grammar.TAGS), so membership tests + concat_ws
# in alphabetical order rebuild the same distinct-sorted array from
# codegen-friendly primitives; translate (single byte-pass) replaces the
# \s+ regexp_replace. The header regex guarantees >=1 valid tag on
# matched rows, so the array is never empty where `tags` is emitted.
_WHITESPACE = G.sql_str(" \t\n\x0b\f\r")
_TAG_ARR = f"split(translate(_h5, {_WHITESPACE}, ''), ',')"
_TAGS = "split(concat_ws(',', " + ", ".join(
    f"CASE WHEN array_contains({_TAG_ARR}, {G.sql_str(t)}) THEN {G.sql_str(t)} END"
    for t in sorted(G.TAGS)
) + "), ',')"


def _when_class(cls: str, value: str) -> str:
    return f"CASE WHEN {_EVENT_CLASS} = '{cls}' THEN {value} END"


_MATCHED = f"{_EVENT_CLASS} != 'unmatched'"
_OUTPUTS = {
    "event_class": _EVENT_CLASS,
    "offset_ms": f"CASE WHEN {_MATCHED} THEN {_OFFSET_MS} END",
    "level": f"CASE WHEN {_MATCHED} THEN _h4 END",
    "tags": f"CASE WHEN {_MATCHED} THEN {_TAGS} END",
    "event_id": (f"CASE WHEN {_MATCHED} THEN "
                 "CASE WHEN _h6 != '' THEN try_cast(_h6 AS INT) END END"),
    "pause_type": (f"CASE WHEN {_EVENT_CLASS} = 'pause_end' THEN {_PTYPE_MAP}[_e1]"
                   f" WHEN {_EVENT_CLASS} = 'pause_start' THEN {_PTYPE_MAP}[_s1] END"),
    "reason": (f"CASE WHEN {_EVENT_CLASS} = 'pause_end' THEN {_reason_mapped('_e2')}"
               f" WHEN {_EVENT_CLASS} = 'pause_start' THEN {_reason_mapped('_s2')} END"),
    "heap_before": _when_class("pause_end", "try_cast(_e3 AS BIGINT)"),
    "heap_after": _when_class("pause_end", "try_cast(_e4 AS BIGINT)"),
    "heap_total": _when_class("pause_end", "try_cast(_e5 AS BIGINT)"),
    "duration_ms": _when_class("pause_end", _dur_ms("_e6", "_e7", "_e8")),
    "region": _when_class("nr_regions", "_nr1"),
    "region_before": _when_class("nr_regions", "try_cast(_nr2 AS BIGINT)"),
    "region_after": _when_class("nr_regions", "try_cast(_nr3 AS BIGINT)"),
    "region_size_mb": _when_class("region_size", "try_cast(_rs1 AS BIGINT)"),
    "phase_details": _when_class("phase", "_ph1"),
    "phase_ms": _when_class("phase", _dur_ms("_ph2", "_ph3", "_ph4")),
    "reason_code": _when_class("unmatched", _REASON_CODE),
}


def _stage(exprs: dict[str, str]) -> list[str]:
    return [f"{sql} AS `{name}`" for name, sql in exprs.items()]


def parse_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the wide parse-struct columns to ``df`` (staged cascade; see
    module expression-shape, execution-mode and driver-cost notes)."""
    in_cols = df.columns
    clash = [c for c in in_cols if c.startswith("_")]
    if clash:
        raise ValueError(
            f"input carries underscore-prefixed column(s) {clash}, reserved "
            "for the staged parse cascade's intermediates; rename them"
        )
    text = F.col(text_col)

    # --- stages 1+2: header + body, ONE regex pass ---------------------------
    # regexp_extract runs the engine once per GROUP; instead regexp_replace
    # rewrites a matching line to COMBINED_RE's 27 groups (6 header + 21
    # body, grammar.py layout) packed on a separator, and a limit-28 split
    # recovers them (non-participating optional groups pack as ''). The body
    # alternation is optional inside COMBINED_RE, so a valid header with an
    # unrecognized body still matches with all body groups '' (classified
    # body_mismatch below); a header mismatch fails the whole regex and the
    # line passes through regexp_replace unchanged, so "split produced
    # exactly 28 fields" detects the match — guarded by "the raw text does
    # not itself contain the separator": \x01 is not printable and cannot
    # occur in a valid JVM log line; a line carrying it is conservatively
    # demoted to unmatched rather than risking field corruption. The
    # productions are prefix-matchers (no $ anchor): the replacement template
    # ends with a separator so the line's unconsumed tail lands in field 28
    # and is discarded. One pass (vs header pass + body pass) halves the
    # per-row regex scans and intermediate string allocations — the parse is
    # allocation-bound, so this is both a throughput and a scaling win.
    sep = "\x01"
    n_groups = G.COMBINED_GROUPS
    repl = sep.join(f"${i}" for i in range(1, n_groups + 1)) + sep
    df = df.withColumn(
        "_hp",
        F.split(F.regexp_replace(text, G.COMBINED_RE, repl), sep, n_groups + 1),
    )
    # Bound ONCE: inlining this into each of the 27 group extractions would
    # re-scan `text` for the separator 27x per row (contains is O(len), and
    # expression-level CSE does not span the staged projections).
    df = df.withColumn(
        "_hok", (F.size("_hp") == n_groups + 1) & ~text.contains(sep)
    )
    df = df.selectExpr("*", *_stage(_HEADER))
    df = df.selectExpr("*", *_stage(_BODY))
    df = df.selectExpr("*", *_stage(_CLASSIFY))
    # the output stage also drops every staged intermediate
    kept = [f"`{c}`" for c in in_cols if c not in _OUTPUTS]
    out = df.selectExpr(*kept, *_stage(_OUTPUTS))
    # Optimizer barrier (+ free parsed-rows metric): PushDownPredicates does
    # not cross CollectMetrics, so a filter composed above the parse stays
    # above it. Without this, alias substitution through the cascade's
    # project stages expands a pushed condition combinatorially (a single
    # event_class filter over an unpersisted parse took 212 s to *plan* at
    # 1k rows and would re-run the mega-regex per referenced group per row);
    # with it the same query plans instantly and the parse runs once.
    # Pushing a derived-column filter below the parse can never reach the
    # parquet scan anyway, so nothing of value is lost. Column pruning DOES
    # cross the barrier (verified: a select of one output column prunes the
    # scan to ReadSchema<text>), and measured overhead on a 200k-turn parse
    # is ~4%. Names are unique per call so two parses can meet in one query.
    return out.observe(
        f"parse_obs_{next(_obs_ids)}", F.expr("count(1) AS rows")
    )


PARSE_COLUMNS = [
    "event_class",
    "offset_ms",
    "level",
    "tags",
    "event_id",
    "pause_type",
    "reason",
    "heap_before",
    "heap_after",
    "heap_total",
    "duration_ms",
    "region",
    "region_before",
    "region_after",
    "region_size_mb",
    "phase_details",
    "phase_ms",
    "reason_code",
]
