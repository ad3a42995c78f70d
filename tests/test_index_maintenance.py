"""Crash/resume contract of the streaming IVF×PQ index maintenance
(q141's engine, `streaming/index_maintenance.py`).

The commit log is the shared ``commit_log`` module, exercised here under a
REAL injected failure: the first run dies between a generation write and
its commit, the second resumes from the Structured Streaming checkpoint and
re-runs the uncommitted batch, and the final maintained index must equal
the one-shot batch build — the ST3 resumability evidence
(GcService.scala:35-38 has none; the north rule requires it).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from java9_gc_log_parser_spark import commit_log
from java9_gc_log_parser_spark.operators.similarity import (
    ivfpq_encode,
    ivfpq_train,
)
from java9_gc_log_parser_spark.streaming import index_maintenance as im


@pytest.fixture(scope="module")
def trained(spark, sf_dir):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = embs.filter(F.col("vec_id") % 3 != 2)
    cells, books = ivfpq_train(base)
    return embs, base, cells, books


def _index_rows(df):
    return sorted((r.vec_id, r.cell, r.s, r.code) for r in df.collect())


def _last(out_root):
    return commit_log.last_batch(os.path.join(out_root, "commits.jsonl"))


def test_crash_between_batches_then_resume(spark, sf_dir, trained, tmp_path,
                                           monkeypatch):
    embs, base, cells, books = trained
    src = str(tmp_path / "src")
    out_root = str(tmp_path / "gens")
    embs.filter(F.col("vec_id") % 3 == 2).repartition(8).write.parquet(src)
    im.write_base_generation(base, cells, books, out_root)
    cells_rows, books_rows = cells.collect(), books.collect()

    # run 1: the second commit raises, so batch 1's generation is written
    # but never committed
    from pyspark.errors.exceptions.captured import StreamingQueryException

    real_commit = commit_log.commit
    calls = []

    def crash_on_second(log, record):
        calls.append(record["batch_id"])
        if len(calls) == 2:
            raise RuntimeError(f"injected crash before commit {record}")
        real_commit(log, record)

    monkeypatch.setattr(commit_log, "commit", crash_on_second)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        im.maintain_index(
            spark, src, embs.schema, out_root,
            cells_rows, cells.schema, books_rows, books.schema,
        )
    after_crash = _last(out_root)
    assert after_crash == 0  # exactly one generation committed pre-crash
    assert os.path.isdir(f"{out_root}/batch=1")

    # run 2: resume from the checkpoint; the uncommitted batch 1 re-runs
    # over its partial generation, a replay of the committed batch 0 would be
    # DRAINED, not re-applied — then the backlog finishes
    im.maintain_index(
        spark, src, embs.schema, out_root,
        cells_rows, cells.schema, books_rows, books.schema,
    )
    assert calls[:3] == [0, 1, 1] and calls.count(0) == 1
    final = _last(out_root)
    assert final is not None and final > after_crash

    idx = im.read_index(spark, out_root)
    # no vector appears twice (a re-applied replay would duplicate all of
    # batch 0's rows)
    assert (
        idx.groupBy("vec_id", "s").count().filter(F.col("count") > 1).count()
        == 0
    )
    # and the maintained index equals the one-shot batch build
    assert _index_rows(idx) == _index_rows(ivfpq_encode(embs, cells, books))


def test_replay_of_committed_batch_is_skipped(spark, sf_dir, trained,
                                              tmp_path):
    """Deleting the checkpoint (but not the store) forces EVERY batch to
    replay with fresh ids from 0: all of them collide with the last commit or
    rewrite identical content — the store must come out unchanged."""
    import shutil

    embs, base, cells, books = trained
    src = str(tmp_path / "src")
    out_root = str(tmp_path / "gens")
    embs.filter(F.col("vec_id") % 3 == 2).repartition(4).write.parquet(src)
    im.write_base_generation(base, cells, books, out_root)
    cells_rows, books_rows = cells.collect(), books.collect()
    args = (spark, src, embs.schema, out_root,
            cells_rows, cells.schema, books_rows, books.schema)
    im.maintain_index(*args)
    before = _index_rows(im.read_index(spark, out_root))
    shutil.rmtree(f"{out_root}/ckpt")  # lose the stream's own progress
    im.maintain_index(*args)
    after = _index_rows(im.read_index(spark, out_root))
    assert after == before


def test_encode_empty_batch_yields_empty_generation(spark, sf_dir, trained):
    """availableNow can hand foreachBatch an empty final micro-batch; the
    encode of zero vectors must be an empty frame with the index schema,
    not an error."""
    embs, base, cells, books = trained
    empty = embs.filter(F.lit(False))
    out = ivfpq_encode(empty, cells, books)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "cell", "s", "code",
    ]


def test_empty_generation_round_trips(spark, sf_dir, trained, tmp_path):
    """An empty micro-batch's generation holds no part files, only
    ``_SUCCESS``; reading the index back with the base generation's schema
    reads it as zero rows, and the generations around it still count."""
    import glob

    embs, base, cells, books = trained
    out_root = str(tmp_path / "gens")
    im.write_base_generation(base, cells, books, out_root)
    batch = embs.filter(F.col("vec_id") % 3 == 2)
    log = os.path.join(out_root, "commits.jsonl")
    commit_log.commit(log, im.apply_generation(
        ivfpq_encode(batch.filter(F.lit(False)), cells, books), out_root, 0
    ))
    commit_log.commit(
        log, im.apply_generation(ivfpq_encode(batch, cells, books), out_root, 1)
    )
    assert _last(out_root) == 1
    assert glob.glob(f"{out_root}/batch=0/*SUCCESS")
    assert not glob.glob(f"{out_root}/batch=0/**/*.parquet", recursive=True)

    idx = im.read_index(spark, out_root)
    assert _index_rows(idx) == _index_rows(ivfpq_encode(embs, cells, books))
