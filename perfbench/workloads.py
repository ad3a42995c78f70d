"""The workloads, each driven only through the pipeline's public functions.

Both workloads are closed loop: one client starts the next iteration only
after the previous one has returned. An iteration returns its wall time and
its micro-batch times; its outputs are checked afterwards, outside the timer.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import inputs
from spans import Tracer

#: every sink ``plans.pipeline.build`` returns that ``main.py``-style batch
#: runs write, in write order
BATCH_SINKS = (
    "pause_events", "tool_calls", "dead_letter", "assembled",
    "conv_state", "bucket_turns", "bucket_pauses", "dur_histogram",
)
#: the sinks ``plans.checkpoint.run_batch`` writes per batch
CHECKPOINT_SINKS = (
    "pause_events", "tool_calls", "dead_letter", "assembled", "conv_state",
)
SMALL_SINKS = ("conv_state", "bucket_pauses", "dur_histogram")
STREAM_TIMEOUT_S = 150


@dataclass
class Iteration:
    wall_s: float
    batch_s: list[float]
    root: str
    progress: list[dict] = field(default_factory=list)
    counts: dict = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Spec:
    name: str
    turns: int
    files: int
    warm_files: int

    def dataset(self, spark, work: str, seed: int) -> dict:
        return inputs.dataset(spark, os.path.join(work, "data"), seed,
                              self.turns, self.files, self.warm_files)


class BatchFull(Spec):
    """``build(materialize_table=...)`` then the 8 sinks, one after another."""

    def run(self, spark, source: str, root: str) -> Iteration:
        from java9_gc_log_parser_spark.plans.pipeline import build
        from java9_gc_log_parser_spark.storage import read_table, write_table

        t0 = time.perf_counter()
        dfs = build(read_table(spark, source),
                    materialize_table=os.path.join(root, "parsed"))
        for sink in BATCH_SINKS:
            write_table(dfs[sink], os.path.join(root, "out", sink))
        wall = time.perf_counter() - t0
        # the whole input is one batch
        return Iteration(wall, [wall], root)

    def check(self, spark, it: Iteration, ds: dict) -> list[str]:
        globs = {s: os.path.join(it.root, "out", s, "*.parquet")
                 for s in BATCH_SINKS}
        return inputs.check_sinks(globs, ds["expected"], SMALL_SINKS)


class StreamDrain(Spec):
    """``stream_conv_state(available_now=True)`` over a backlog of files."""

    files_per_trigger: int = 4

    def run(self, spark, source: str, root: str) -> Iteration:
        from java9_gc_log_parser_spark.storage import read_table
        from java9_gc_log_parser_spark.streaming.state_stream import (
            stream_conv_state,
        )

        schema = read_table(spark, source).schema
        # one state partition per core: each partition pays a state-store
        # commit and a Python worker round trip per trigger, so the 32
        # shuffle partitions of the session default would measure mostly that
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
        try:
            t0 = time.perf_counter()
            q = stream_conv_state(spark, source, schema, root,
                                  max_files_per_trigger=self.files_per_trigger,
                                  available_now=True)
            done = q.awaitTermination(STREAM_TIMEOUT_S)
            wall = time.perf_counter() - t0
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if not done:
            q.stop()
            raise TimeoutError(f"stream did not drain in {STREAM_TIMEOUT_S}s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        batch_s = [p["durationMs"]["triggerExecution"] / 1000.0
                   for p in progress]
        return Iteration(wall, batch_s, root, progress)

    def check(self, spark, it: Iteration, ds: dict) -> list[str]:
        import duckdb

        from java9_gc_log_parser_spark.streaming.state_stream import final_state

        exp = ds["expected"]
        errors = []
        con = duckdb.connect()
        con.register("state", final_state(spark, it.root).toPandas())
        want = exp["digests"]["conv_state"]
        got = inputs.digest(con, "SELECT * FROM state", want["cols"])
        con.close()
        if got != want["digest"]:
            errors.append(f"final_state: digest {got} != oracle {want['digest']}")
        with open(os.path.join(it.root, "metrics.jsonl")) as f:
            beats = [json.loads(line) for line in f if line.strip()]
        events = sum(b["events"] for b in beats)
        if events != exp["ok_events"]:
            errors.append(f"heartbeat events {events} != oracle {exp['ok_events']}")
        ids = sorted(b["batch_id"] for b in beats)
        if ids != list(range(len(beats))):
            errors.append(f"heartbeat batch ids {ids} not contiguous")
        return errors


WORKLOADS = {
    "batch_full": BatchFull("batch_full", turns=100_000, files=8, warm_files=2),
    "stream_drain": StreamDrain("stream_drain", turns=8_000, files=8,
                                warm_files=2),
}


def run_checkpoint(spark, tracer: Tracer, source: str, root: str,
                   n_batches: int) -> Iteration:
    """``prepare_source``, a crash after half the batches, then the resume.

    Each ``run_batch`` call that ``run`` makes is wrapped in a span, so the
    per-batch times are the benchmark's own, not the manifest's.
    """
    from java9_gc_log_parser_spark.plans import checkpoint as cp
    from java9_gc_log_parser_spark.storage import read_table

    orig = cp.run_batch
    batch_s: list[float] = []

    def timed_batch(*args, **kwargs):
        t = time.perf_counter()
        with tracer.span("checkpoint.batch"):
            result = orig(*args, **kwargs)
        batch_s.append(time.perf_counter() - t)
        return result

    cp.run_batch = timed_batch
    try:
        t0 = time.perf_counter()
        with tracer.span("checkpoint.prepare"):
            src = cp.prepare_source(spark, read_table(spark, source),
                                    os.path.join(root, "src"), n_batches)
        with tracer.span("checkpoint.run"):
            out = os.path.join(root, "out")
            cp.run(spark, src, out, n_batches=n_batches,
                   stop_after=n_batches // 2)
            cp.run(spark, src, out, n_batches=n_batches)
        wall = time.perf_counter() - t0
    finally:
        cp.run_batch = orig
    return Iteration(wall, batch_s, root)


def check_checkpoint(it: Iteration, ds: dict, n_batches: int) -> list[str]:
    """Sink row counts, the assembled union's digest, one manifest line per
    batch."""
    out = os.path.join(it.root, "out")
    globs = {s: os.path.join(out, s, "batch=*", "*.parquet")
             for s in CHECKPOINT_SINKS}
    errors = inputs.check_sinks(globs, ds["expected"], ("assembled",))
    with open(os.path.join(out, "manifest.jsonl")) as f:
        lines = [json.loads(line) for line in f if line.strip()]
    ids = sorted(r["batch_id"] for r in lines if r.get("status") == "ok")
    if ids != list(range(n_batches)):
        errors.append(f"manifest batch ids {ids}")
    rows = sum(r["rows_in"] for r in lines)
    if rows != ds["turns"]:
        errors.append(f"manifest rows_in {rows} != {ds['turns']} turns")
    return errors


def run_layers(spark, tracer: Tracer, source: str, root: str) -> Iteration:
    """The layers ``build`` runs eagerly, called one by one on the same input.

    Each layer's input is materialized before its span starts, so each span
    holds that layer's work only: parse into a cache, the cached parse
    written through the storage seam, assembly of the stored table into a
    cache, the cached groups written, then routing and the aggregates as
    no-op writes from the stored tables.
    """
    from pyspark.sql import Observation

    from java9_gc_log_parser_spark.functions.parse import parse_lines
    from java9_gc_log_parser_spark.operators.aggregate import (
        bucket_pause_stats,
        bucket_turn_counts,
        conv_state_final,
        conv_state_scan,
        duration_histogram,
    )
    from java9_gc_log_parser_spark.operators.assemble import (
        assemble_groups,
        assembled_pauses_from_groups,
    )
    from java9_gc_log_parser_spark.operators.route import (
        route,
        supported_types_filter,
    )
    from java9_gc_log_parser_spark.storage import read_table, write_table

    counts = {}
    t0 = time.perf_counter()
    transcripts = read_table(spark, source)
    parsed_path = os.path.join(root, "parsed")
    groups_path = os.path.join(root, "groups")
    with tracer.span("parse"):
        parsed = parse_lines(transcripts).persist()
        counts["parse.rows_in"] = parsed.count()
    with tracer.span("storage.parsed_write"):
        write_table(parsed, parsed_path)
    parsed.unpersist()
    table = read_table(spark, parsed_path)
    with tracer.span("assemble"):
        groups = assemble_groups(supported_types_filter(table)).persist()
        counts["assemble.groups_out"] = groups.count()
    with tracer.span("storage.groups_write"):
        write_table(groups, groups_path)
    groups.unpersist()
    with tracer.span("route"):
        rows_out = 0
        for name, df in route(table).items():
            obs = Observation(f"route_{name}")
            _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
            rows_out += obs.get["n"]
        counts["route.rows_out"] = rows_out
    with tracer.span("aggregate"):
        assembled = assembled_pauses_from_groups(read_table(spark, groups_path))
        for fn in (conv_state_final, conv_state_scan, bucket_pause_stats,
                   duration_histogram):
            _noop(fn(assembled))
        _noop(bucket_turn_counts(transcripts))
    return Iteration(time.perf_counter() - t0, [], root, counts=counts)


def check_layers(it: Iteration, ds: dict) -> list[str]:
    """The layer pass's row counts against the oracle: every turn parsed,
    and the three routed sinks' rows."""
    c, exp = it.counts, ds["expected"]["counts"]
    routed = (exp["pause_events"] + exp["tool_calls"]
              + exp["dead_letter"] - exp["assembly_errors"])
    errors = []
    if c["parse.rows_in"] != ds["turns"]:
        errors.append(f"parsed {c['parse.rows_in']} of {ds['turns']} turns")
    if c["route.rows_out"] != routed:
        errors.append(f"routed {c['route.rows_out']} rows, oracle {routed}")
    return errors


def clean(root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
