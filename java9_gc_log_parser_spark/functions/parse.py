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
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import grammar as G

#: unique observation names (two CollectMetrics nodes in one query must not
#: share a name)
_obs_ids = itertools.count()


def _dur_ms(i: Column, f: Column, unit: Column) -> Column:
    """offset production -> fractional milliseconds (GcLineParser.scala:28-33)."""
    num = F.concat(i, F.lit("."), F.when(f == "", "0").otherwise(f)).try_cast("double")
    return F.when(unit == "s", num * 1000.0).otherwise(num)


def parse_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the wide parse-struct columns to ``df`` (staged cascade; see
    module expression-shape and execution-mode notes)."""
    clash = [c for c in df.columns if c.startswith("_")]
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
    hdr_ok = F.col("_hok")
    df = df.withColumns(
        {
            f"_h{i}": F.when(hdr_ok, F.element_at("_hp", i)).otherwise("")
            for i in range(1, 7)
        }
    )
    h_int, h_frac, h_unit = F.col("_h1"), F.col("_h2"), F.col("_h3")
    header_ok = h_int != ""

    def _p(i: int) -> Column:
        return F.when(hdr_ok, F.element_at("_hp", 6 + i)).otherwise("")

    df = df.withColumns(
        {
            "_nr1": _p(1), "_nr2": _p(2), "_nr3": _p(3),
            "_e1": _p(4), "_e2": _p(5), "_e3": _p(6), "_e4": _p(7),
            "_e5": _p(8), "_e6": _p(9), "_e7": _p(10), "_e8": _p(11),
            "_s1": _p(12), "_s2": _p(13),
            "_is_cc": _p(14) != "", "_is_ts": _p(15) != "",
            "_is_g1": _p(16) != "",
            "_rs1": _p(17),
            "_ph1": _p(18), "_ph2": _p(19), "_ph3": _p(20), "_ph4": _p(21),
        }
    )
    is_nr = F.col("_nr1") != ""
    is_end = F.col("_e3") != ""
    is_start = F.col("_s1") != ""
    is_rs = F.col("_rs1") != ""
    is_ph = F.col("_ph2") != ""  # PHASE group 1 can match empty; group 2 is \d+

    # --- stage 4: classification over bound attributes ----------------------
    # reason: captured *with* parens so "absent" ('') differs from "()" — the
    # reference throws a MatchError on any parsed-but-unlisted reason string
    # (GcLineParser.scala:57-61); we dead-letter those lines instead.
    end_reason_raw = F.col("_e2")
    start_reason_raw = F.col("_s2")

    def inner(raw: Column) -> Column:
        return F.substring(raw, 2, F.length(raw) - 2)

    listed = list(G.REASONS.keys())

    def reason_unlisted(raw: Column) -> Column:
        return (raw != "") & ~inner(raw).isin(listed)

    end_unlisted = is_end & reason_unlisted(end_reason_raw)
    start_unlisted = (~is_end) & is_start & reason_unlisted(start_reason_raw)

    grammar_class = (
        F.when(~header_ok, "unmatched")
        .when(is_nr, "nr_regions")
        .when(end_unlisted | start_unlisted, "unmatched")
        .when(is_end, "pause_end")
        .when(is_start, "pause_start")
        .when(F.col("_is_cc"), "concurrent_cycle")
        .when(F.col("_is_ts"), "to_space_exhausted")
        .when(F.col("_is_g1"), "using_g1")
        .when(is_rs, "region_size")
        .when(is_ph, "phase")
        .otherwise("unmatched")
    )

    # Numeric-overflow demotion: a line whose digits exceed the target type
    # would throw in the reference (String.toLong / toInt) and fail-stop the
    # stream; here it becomes a dead-letter row instead of failing the job.
    def _ovf(raw: Column, typ: str) -> Column:
        return (raw != "") & raw.try_cast(typ).isNull()

    overflow = (
        _ovf(F.col("_h6"), "int")
        | _ovf(h_int, "long")
        | F.when(
            grammar_class == "pause_end",
            _ovf(F.col("_e3"), "long")
            | _ovf(F.col("_e4"), "long")
            | _ovf(F.col("_e5"), "long"),
        ).otherwise(F.lit(False))
        | F.when(
            grammar_class == "nr_regions",
            _ovf(F.col("_nr2"), "long") | _ovf(F.col("_nr3"), "long"),
        ).otherwise(F.lit(False))
        | F.when(
            grammar_class == "region_size", _ovf(F.col("_rs1"), "long")
        ).otherwise(F.lit(False))
    )

    df = df.withColumns(
        {
            "_gclass": grammar_class,
            "_unl": end_unlisted | start_unlisted,
            "_ovfl": overflow,
        }
    )

    # --- stage 5: output columns over bound attributes ----------------------
    gclass = F.col("_gclass")
    event_class = F.when(
        (gclass != "unmatched") & F.col("_ovfl"), "unmatched"
    ).otherwise(gclass)

    reason_code = (
        F.when(~header_ok, "header_mismatch")
        .when(F.col("_unl"), "unlisted_reason")
        .when((gclass != "unmatched") & F.col("_ovfl"), "numeric_overflow")
        .otherwise("body_mismatch")
    )

    def reason_mapped(raw: Column) -> Column:
        i = inner(raw)
        c = F.when(raw == "", F.lit(None).cast("string"))
        for lit in listed:
            c = c.when(i == lit, G.REASONS[lit])
        return c.otherwise(F.lit(None).cast("string"))

    ptype_map = F.create_map(
        *[F.lit(x) for kv in G.PAUSE_TYPES.items() for x in kv]
    )

    # Duration.toMillis truncates sub-ms; for unit 's' that is
    # int_part*1000 + first-three fraction digits (zero-padded).
    frac3 = F.rpad(F.substring(F.when(h_frac == "", "0").otherwise(h_frac), 1, 3), 3, "0")
    offset_ms = F.when(
        h_unit == "s", h_int.try_cast("long") * 1000 + frac3.cast("long")
    ).otherwise(h_int.try_cast("long"))

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
    _tag_arr = F.split(F.translate(F.col("_h5"), " \t\n\x0b\f\r", ""), ",")
    tags = F.split(
        F.concat_ws(
            ",",
            *[F.when(F.array_contains(_tag_arr, t), t) for t in sorted(G.TAGS)],
        ),
        ",",
    )

    event_id = F.when(F.col("_h6") != "", F.col("_h6").try_cast("int"))
    matched = event_class != "unmatched"
    is_ec_end = event_class == "pause_end"
    is_ec_nr = event_class == "nr_regions"

    out = df.withColumns(
        {
            "event_class": event_class,
            "offset_ms": F.when(matched, offset_ms),
            "level": F.when(matched, F.col("_h4")),
            "tags": F.when(matched, tags),
            "event_id": F.when(matched, event_id),
            "pause_type": F.when(is_ec_end, ptype_map[F.col("_e1")]).when(
                event_class == "pause_start", ptype_map[F.col("_s1")]
            ),
            "reason": F.when(is_ec_end, reason_mapped(end_reason_raw)).when(
                event_class == "pause_start", reason_mapped(start_reason_raw)
            ),
            "heap_before": F.when(is_ec_end, F.col("_e3").try_cast("long")),
            "heap_after": F.when(is_ec_end, F.col("_e4").try_cast("long")),
            "heap_total": F.when(is_ec_end, F.col("_e5").try_cast("long")),
            "duration_ms": F.when(
                is_ec_end, _dur_ms(F.col("_e6"), F.col("_e7"), F.col("_e8"))
            ),
            "region": F.when(is_ec_nr, F.col("_nr1")),
            "region_before": F.when(is_ec_nr, F.col("_nr2").try_cast("long")),
            "region_after": F.when(is_ec_nr, F.col("_nr3").try_cast("long")),
            "region_size_mb": F.when(
                event_class == "region_size", F.col("_rs1").try_cast("long")
            ),
            "phase_details": F.when(event_class == "phase", F.col("_ph1")),
            "phase_ms": F.when(
                event_class == "phase",
                _dur_ms(F.col("_ph2"), F.col("_ph3"), F.col("_ph4")),
            ),
            "reason_code": F.when(event_class == "unmatched", reason_code),
        }
    )
    staging = (
        [f"_h{i}" for i in range(1, 7)]
        + ["_hp", "_hok", "_nr1", "_e3", "_s1", "_rs1", "_ph2",
           "_is_cc", "_is_ts", "_is_g1", "_nr2", "_nr3", "_e1", "_e2", "_e4",
           "_e5", "_e6", "_e7", "_e8", "_s2", "_ph1", "_ph3", "_ph4",
           "_gclass", "_unl", "_ovfl"]
    )
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
    return out.drop(*staging).observe(
        f"parse_obs_{next(_obs_ids)}", F.count(F.lit(1)).alias("rows")
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
