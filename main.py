"""spark-submit entrypoint.

Packaging (north rule: "packaged for spark-submit --py-files"):

    bash scripts/package.sh                      # builds dist/pipeline.zip
    spark-submit --py-files dist/pipeline.zip main.py \
        --input /path/transcripts.parquet --output /path/out \
        --mode checkpoint --n-batches 64

Modes:
  batch      one-shot pipeline, all sinks written once (parse and assembly
             staged under <output>/stage)
  checkpoint resumable micro-batches with manifest/lineage/metrics (default).
             A fresh run first rewrites the input partitioned by
             batch_bucket under <output>/source, so every micro-batch is a
             pruned 1/n scan; a resume (same --output, same --n-batches)
             reuses that source and runs only the uncommitted batches
  synth      generate a transcripts parquet from an events parquet dir
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="transcript log pipeline")
    p.add_argument("--mode", choices=["batch", "checkpoint", "synth"],
                   default="checkpoint")
    p.add_argument("--input", help="transcripts parquet path (batch/checkpoint)")
    p.add_argument("--output", required=True, help="output root dir")
    p.add_argument("--n-batches", type=int, default=16)
    p.add_argument("--sf-dir", help="events parquet dir (synth mode)")
    p.add_argument("--replicate", type=int, default=1, help="synth scale-up")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from java9_gc_log_parser_spark.plans import checkpoint as cp

    if not args.input and (
        args.mode == "batch"
        or (args.mode == "checkpoint" and not cp.completed_batches(args.output))
    ):
        p.error("--input is required for --mode batch and for a checkpoint "
                "run with no committed batch")
    if args.mode == "synth" and not args.sf_dir:
        p.error("--sf-dir is required for --mode synth")

    from java9_gc_log_parser_spark.session import get_spark

    spark = get_spark(app_name=f"gclp-{args.mode}", master=args.master)

    if args.mode == "synth":
        from java9_gc_log_parser_spark.sources.transcripts import synth_transcripts

        df = synth_transcripts(spark, args.sf_dir, replicate=args.replicate)
        df.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"mode": "synth", "rows": spark.read.parquet(args.output).count()}))
        return

    if args.mode == "batch":
        from java9_gc_log_parser_spark.plans.pipeline import build

        dfs = build(spark.read.parquet(args.input),
                    f"{args.output}/stage/parsed")
        counts = cp.write_sinks(
            dfs, {s: f"{args.output}/{s}" for s in cp.SINKS}
        )
        print(json.dumps({"mode": "batch", "sink_rows": counts}))
        return

    source = f"{args.output}/source"
    if not cp.completed_batches(args.output):
        cp.prepare_source(spark, spark.read.parquet(args.input), source,
                          args.n_batches)
    results = cp.run(spark, source, args.output, n_batches=args.n_batches)
    print(json.dumps({
        "mode": "checkpoint",
        "batches_run": [r.batch_id for r in results],
        "rows_in": sum(r.rows_in for r in results),
        "manifest": f"{args.output}/manifest.jsonl",
    }))


if __name__ == "__main__":
    main()
