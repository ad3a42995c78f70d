"""State-volume scaling check for the stateful paths (round-2 verdict #8).

The batch pipeline's cost is linear by construction (map-side parse +
hash aggs); the two paths with per-run STATE are the streaming assembler
(state store: one entry per open conversation) and the checkpoint runner
(manifest + per-batch overwrite). This script runs both at 1x and Nx the
sf-dir's transcripts (default N=10) and reports per-turn cost at each
volume — if the stateful machinery degraded super-linearly (state-store
commits, snapshot compaction, manifest growth), the Nx per-turn cost
would inflate; the recorded result goes in BASELINE.md's measured table.

Streaming leg mirrors q26's shape (32-file scatter, 16 files/trigger,
8 state partitions, availableNow drain to a parquet sink). Checkpoint leg
mirrors q27's shape minus the crash (prepare_source + 4 pruned batches,
all 5 sinks + manifest).

Usage: python scripts/bench_state_volume.py [--replicate 10]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _stream_drain(spark, src: str, out: str) -> float:
    import __spark_entry__ as entrymod
    from java9_gc_log_parser_spark.operators.assemble import (
        assembled_pauses_from_groups,
    )
    from java9_gc_log_parser_spark.streaming.assembler import assemble_stream

    def emit(closed, batch_id, last):
        assembled_pauses_from_groups(closed).write.mode("overwrite").parquet(
            f"{out}/sink/batch={batch_id}")
        return {}

    t0 = time.perf_counter()
    q = assemble_stream(spark, src, entrymod._INPUT_SCHEMA, out, emit,
                        max_files_per_trigger=16)
    if not q.awaitTermination(3600):
        q.stop()
        raise TimeoutError("stream drain exceeded 3600s")
    return time.perf_counter() - t0


def _checkpoint_run(spark, tdf, root: str) -> float:
    from java9_gc_log_parser_spark.plans import checkpoint as cp

    t0 = time.perf_counter()
    src = cp.prepare_source(spark, tdf, f"{root}/src", n_batches=4)
    cp.run(spark, src, f"{root}/out", n_batches=4)
    return time.perf_counter() - t0


def _leg(spark, sf_dir: str, replicate: int, root: str) -> dict:
    from java9_gc_log_parser_spark.sources.transcripts import synth_transcripts

    shutil.rmtree(root, ignore_errors=True)
    tdf = synth_transcripts(spark, sf_dir, replicate=replicate)
    src = f"{root}/scatter"
    tdf.repartition(32).write.parquet(src)
    n = spark.read.parquet(src).count()

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        stream_s = _stream_drain(spark, src, f"{root}/stream")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    ckpt_s = _checkpoint_run(spark, spark.read.parquet(src), f"{root}/ckpt")
    shutil.rmtree(root, ignore_errors=True)
    return {
        "turns": n,
        "stream_drain_s": round(stream_s, 2),
        "stream_us_per_turn": round(stream_s / n * 1e6, 2),
        "checkpoint_s": round(ckpt_s, 2),
        "checkpoint_us_per_turn": round(ckpt_s / n * 1e6, 2),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicate", type=int, default=10)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from java9_gc_log_parser_spark.session import get_spark

    spark = get_spark(app_name="gclp-state-volume", master="local[32]",
                      shuffle_partitions=32)
    # warmup: pay Python-worker spin-up + JIT outside both measured legs
    _leg(spark, args.sf_dir.replace("sf0.1", "sf0.001"), 1,
         "/tmp/gclp_sv_warm")
    one = _leg(spark, args.sf_dir, 1, "/tmp/gclp_sv_1x")
    big = _leg(spark, args.sf_dir, args.replicate, "/tmp/gclp_sv_Nx")
    print(json.dumps({
        "metric": "state_volume_scaling",
        "sf_dir": args.sf_dir,
        "replicate": args.replicate,
        "x1": one,
        f"x{args.replicate}": big,
        # >1 means the Nx run costs MORE per turn than 1x (super-linear)
        "stream_per_turn_ratio": round(
            big["stream_us_per_turn"] / one["stream_us_per_turn"], 3),
        "checkpoint_per_turn_ratio": round(
            big["checkpoint_us_per_turn"] / one["checkpoint_us_per_turn"], 3),
    }))


if __name__ == "__main__":
    main()
