"""Seeded inputs, the DuckDB oracle and the output checks.

A dataset is one ``(seed, turns, files)`` triple. It lives in its own
directory and is reused once its ``_SUCCESS`` marker exists:

  events.parquet/     seeded ``events`` table (event_id, ts)
  transcripts/        ``sources.transcripts.synth_transcripts`` over it,
                      written as exactly ``files`` parquet files
  warm/               copies of a few of those files, for warmup
  expected.json       the oracle's row counts and digests for every sink

The program reads only ``transcripts/``. The oracle runs the repository's
own DuckDB SQL (``oracle.with_ctes`` through ``__spark_entry__.oracle_sql``)
over the same ``events`` parquet, so it never sees Spark's parse.

Outputs are checked with DuckDB too: row counts per sink, and for the small
sinks an order-insensitive digest (row count plus the sum of per-row hashes,
after integers are widened, doubles rounded to 6 places and timestamps
turned into epoch microseconds, so engine-specific types compare equal).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 8 events make one GC event in the synthesized transcript grammar; the base
#: offset stays a multiple of it so every GC event is whole.
_EVENTS_PER_GC = 8
_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
_SPAN_US = 30 * 86_400 * 10**6

#: sink (or intermediate) name -> oracle queries whose row counts add up to
#: its rows
SINK_ORACLES = {
    "pause_events": ("q03_pause_events_sink",),
    "tool_calls": ("q04_tool_calls_sink",),
    "dead_letter": ("q05_unmatched_sink", "q07_assembly_errors"),
    "assembled": ("q06_assembled_pauses",),
    "conv_state": ("q08_conv_state_final",),
    "bucket_turns": ("q10_bucket_turn_counts",),
    "bucket_pauses": ("q11_bucket_pause_stats",),
    "dur_histogram": ("q12_duration_histogram",),
    "assembly_errors": ("q07_assembly_errors",),
}
#: small sinks compared row by row (through a digest), with their oracle
DIGESTS = {
    "conv_state": "q08_conv_state_final",
    "bucket_pauses": "q11_bucket_pause_stats",
    "dur_histogram": "q12_duration_histogram",
    "assembled": "q27_checkpoint_resume",
}


def write_events(path: str, seed: int, n: int) -> None:
    """Seeded ``events``: consecutive event ids from a seed-chosen base (so
    pause types, errors and durations shift with the seed) and uniform
    timestamps over 30 days."""
    rng = np.random.default_rng(seed)
    base = _EVENTS_PER_GC * int(rng.integers(0, 1 << 20))
    ts = _EPOCH + rng.integers(0, _SPAN_US, n).astype("timedelta64[us]")
    table = pa.table({
        "event_id": pa.array(base + np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _norm_expr(col: str, dtype: str) -> str:
    q = f'"{col}"'
    t = dtype.upper()
    if t.startswith(("DOUBLE", "FLOAT", "REAL", "DECIMAL")):
        return f"round(CAST({q} AS DOUBLE), 6)"
    if t.startswith("TIMESTAMP"):
        return f"epoch_us({q})"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return f"CAST({q} AS BIGINT)"
    return f"CAST({q} AS VARCHAR)"


def digest(con: duckdb.DuckDBPyConnection, relation: str,
           cols: list[str]) -> list[int]:
    """Order-insensitive ``[rows, sum of row hashes]`` of ``cols``."""
    types = dict(
        (r[0], r[1]) for r in con.execute(f"DESCRIBE {relation}").fetchall()
    )
    row = ", ".join(_norm_expr(c, types[c]) for c in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) "
        f"FROM ({relation})"
    ).fetchone()
    return [int(n), int(h)]


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    return con


def oracle_expectations(con: duckdb.DuckDBPyConnection) -> dict:
    """Per-sink row counts, digests and the ok-event count, over the
    ``events`` view of ``con``."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    counts = {
        sink: sum(
            con.execute(f"SELECT count(*) FROM ({sql[q]})").fetchone()[0]
            for q in queries
        )
        for sink, queries in SINK_ORACLES.items()
    }
    digests = {}
    for sink, q in DIGESTS.items():
        cols = [d[0] for d in con.execute(f"DESCRIBE {sql[q]}").fetchall()]
        digests[sink] = {"cols": cols, "digest": digest(con, sql[q], cols)}
    return {"counts": counts, "digests": digests,
            "ok_events": counts["assembled"]}


def dataset(spark, root: str, seed: int, turns: int, files: int,
            warm_files: int) -> dict:
    """Build (or reuse) one dataset; returns its paths and expectations.

    ``warm/`` holds copies of the first ``warm_files`` transcript files: the
    same data shape on a smaller input, for warmup.
    """
    from java9_gc_log_parser_spark.sources.transcripts import synth_transcripts

    d = os.path.join(root, f"s{seed}_n{turns}_f{files}")
    marker = os.path.join(d, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        events = os.path.join(d, "events.parquet")
        write_events(events, seed, turns)
        (synth_transcripts(spark, d).repartition(files)
         .write.parquet(os.path.join(d, "transcripts")))
        os.makedirs(os.path.join(d, "warm"))
        parts = sorted(glob.glob(os.path.join(d, "transcripts", "*.parquet")))
        for part in parts[:warm_files]:
            shutil.copy(part, os.path.join(d, "warm"))
        con = _connect()
        con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                    f"'{events}/*.parquet')")
        expected = oracle_expectations(con)
        con.close()
        with open(os.path.join(d, "expected.json"), "w") as f:
            json.dump(expected, f)
        open(marker, "w").close()
    with open(os.path.join(d, "expected.json")) as f:
        expected = json.load(f)
    return {"transcripts": os.path.join(d, "transcripts"),
            "warm": os.path.join(d, "warm"), "turns": turns, "files": files,
            "expected": expected}


def _parquet(path_glob: str) -> str:
    return f"read_parquet('{path_glob}')"


def check_sinks(sink_globs: dict[str, str], expected: dict,
                digested: tuple[str, ...]) -> list[str]:
    """Compare written sinks with the oracle; returns the mismatches.

    ``sink_globs`` maps a sink to a parquet glob. Every sink's row count is
    checked; the sinks in ``digested`` are also compared by digest.
    """
    con = _connect()
    errors = []
    for sink, g in sink_globs.items():
        if not glob.glob(g):
            errors.append(f"{sink}: no output files")
            continue
        rel = _parquet(g)
        n = con.execute(f"SELECT count(*) FROM {rel}").fetchone()[0]
        if n != expected["counts"][sink]:
            errors.append(f"{sink}: {n} rows, oracle {expected['counts'][sink]}")
        if sink in digested:
            want = expected["digests"][sink]
            got = digest(con, f"SELECT * FROM {rel}", want["cols"])
            if got != want["digest"]:
                errors.append(f"{sink}: digest {got} != oracle {want['digest']}")
    con.close()
    return errors
