"""parse.py (JVM builtins) and parse_arrow.py (pandas/Arrow) must agree
row-for-row on the grammar corpus, the reference logs, and synthesized
transcripts."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from java9_gc_log_parser_spark.functions.parse import PARSE_COLUMNS, parse_lines
from java9_gc_log_parser_spark.functions.parse_arrow import parse_lines_arrow
from java9_gc_log_parser_spark.sources.transcripts import synth_transcripts

from test_parse import (
    NEGATIVE,
    OVERFLOW,
    POSITIVE,
    UNLISTED_REASON,
    skip_if_input_missing,
)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, list):
        return tuple(v)
    return v


def _rows(df, key_cols):
    cols = key_cols + PARSE_COLUMNS
    return sorted(
        [tuple(_norm(v) for v in r) for r in df.select(*cols).collect()], key=repr
    )


def test_corpus_parity(spark):
    texts = [t for t, _ in POSITIVE] + NEGATIVE + UNLISTED_REASON + OVERFLOW
    df = spark.createDataFrame(
        [Row(idx=i, text=t) for i, t in enumerate(texts)], "idx int, text string"
    )
    assert _rows(parse_lines(df), ["idx"]) == _rows(parse_lines_arrow(df), ["idx"])


@skip_if_input_missing
def test_reference_log_parity(spark):
    df = spark.read.text("/root/reference/gc.log").withColumnRenamed("value", "text")
    a = _rows(parse_lines(df), ["text"])
    b = _rows(parse_lines_arrow(df), ["text"])
    assert a == b


def test_transcripts_parity(spark, sf_dir):
    t = synth_transcripts(spark, sf_dir)
    a = _rows(parse_lines(t), ["conv_id", "turn_idx"])
    b = _rows(parse_lines_arrow(t), ["conv_id", "turn_idx"])
    assert a == b
