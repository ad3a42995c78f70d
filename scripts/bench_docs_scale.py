"""Document-operator volume scaling: per-doc cost at 1x / Nx / N^2x docs.

The sf testdata's documents table is small (hundreds–thousands of rows),
so the doc-side operators' bench numbers are dominated by fixed costs.
This script replicates the table deterministically (doc_id shifted by
k * n per replica; text unchanged, which also makes every n-gram a hot
key — the adversarial case for the gram-shuffle ops) and measures wall
per doc for three representative shapes at increasing volume:

- pack_sequences  (q56 shape: 1 shuffle + running-frame window)
- dup_ngram_gate  (q58 shape: explode -> 3 hash shuffles, hot grams)
- cms_heavy_hitters (q60 shape: token agg -> fixed-size grid -> broadcast)

If any of them degraded super-linearly (window buffering, gram-group
depth, grid contention), the Nx per-doc cost would inflate; the recorded
result goes in BASELINE.md's measured table. Per-doc RATIOS < ~1 mean
fixed costs amortize (sub-linear); ≈1 means linear.

Usage: python scripts/bench_docs_scale.py [--replicates 1,10,100]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _docs(spark, sf_dir: str, replicate: int):
    from pyspark.sql import functions as F

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if replicate <= 1:
        return base
    n = base.count()
    k = spark.range(replicate).select(F.col("id").alias("_k"))
    return (
        base.crossJoin(k)
        .withColumn("doc_id", F.col("doc_id") + F.col("_k") * n)
        .drop("_k")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicates", default="1,10,100")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()
    reps = [int(x) for x in args.replicates.split(",")]

    from java9_gc_log_parser_spark.operators.dedupe import (
        dup_ngram_gate,
        ppjoin_pairs,
    )
    from java9_gc_log_parser_spark.operators.sampling import pack_sequences
    from java9_gc_log_parser_spark.operators.sketches import cms_heavy_hitters
    from java9_gc_log_parser_spark.session import get_spark

    spark = get_spark(app_name="gclp-docs-scale")
    # leg -> (builder, max_replicate). ppjoin is capped at 10x: with
    # UNCHANGED replicated text the TRUE exact answer is quadratic in the
    # replication factor (every copy pairs with every copy), so the 100x
    # point measures output size, not the operator; 1x->10x already shows
    # whether candidate generation stays output-bound.
    from java9_gc_log_parser_spark.operators.multimodal import (
        ahash_near_dup_pairs,
        documents_as_assets,
    )
    from java9_gc_log_parser_spark.operators.text_analysis import (
        classifier_score,
        classifier_weights,
    )
    from java9_gc_log_parser_spark.operators.tokenizer import bpe_learn

    # ahash is capped at 10x for the same reason as ppjoin: replicated
    # text makes every replica pair-identical, so 100x measures the
    # quadratic TRUE answer (candidate pairs within identical-hash
    # buckets), not the operator.
    legs = {
        "pack": (lambda d: pack_sequences(d, 512, 8), None),
        "dupgate": (lambda d: dup_ngram_gate(d), None),
        "cms": (lambda d: cms_heavy_hitters(d, 20), None),
        "ppjoin": (lambda d: ppjoin_pairs(d), 10),
        "classifier": (
            lambda d: classifier_score(d, classifier_weights(spark)),
            None,
        ),
        "ahash": (
            lambda d: ahash_near_dup_pairs(documents_as_assets(d), 16),
            10,
        ),
        "bpe": (lambda d: bpe_learn(spark, d, n_merges=4), None),
    }
    out: dict = {"sf_dir": args.sf_dir, "legs": {}}
    for rep in reps:
        docs = _docs(spark, args.sf_dir, rep).persist()
        n = docs.count()  # materialize the replica outside the timers
        for name, (fn, max_rep) in legs.items():
            if max_rep is not None and rep > max_rep:
                continue
            t0 = time.perf_counter()
            fn(docs).write.mode("overwrite").format("noop").save()
            wall = time.perf_counter() - t0
            out["legs"].setdefault(name, []).append(
                {
                    "replicate": rep,
                    "n_docs": n,
                    "wall_s": round(wall, 3),
                    "us_per_doc": round(wall / n * 1e6, 3),
                }
            )
        docs.unpersist()
    # per-doc ratio largest vs smallest volume, per leg
    for name, rows in out["legs"].items():
        lo, hi = rows[0], rows[-1]
        out.setdefault("ratios", {})[name] = round(
            hi["us_per_doc"] / lo["us_per_doc"], 3
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
