"""Resumability tests: crash mid-run, resume, identical sinks (SURVEY §7.7)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from java9_gc_log_parser_spark import commit_log
from java9_gc_log_parser_spark.plans import checkpoint as cp
from java9_gc_log_parser_spark.plans.pipeline import build
from java9_gc_log_parser_spark.sources.transcripts import synth_transcripts


@pytest.fixture(scope="module")
def raw_path(spark, sf_dir, tmp_path_factory):
    """The unbucketed transcripts: the single-shot reference's input."""
    p = str(tmp_path_factory.mktemp("ckpt") / "transcripts.parquet")
    synth_transcripts(spark, sf_dir).write.mode("overwrite").parquet(p)
    return p


@pytest.fixture(scope="module")
def source_path(spark, raw_path, tmp_path_factory):
    """``source_path(n)``: the raw table prepared into n batch buckets,
    written once per n."""
    root = tmp_path_factory.mktemp("ckpt_src")
    paths = {}

    def prepared(n_batches):
        if n_batches not in paths:
            paths[n_batches] = str(root / f"n{n_batches}")
            cp.prepare_source(spark, spark.read.parquet(raw_path),
                              paths[n_batches], n_batches)
        return paths[n_batches]

    return prepared


def _collect_sorted(df, cols):
    return sorted([tuple(r) for r in df.select(*cols).collect()], key=repr)


def _manifest(root):
    with open(os.path.join(root, "manifest.jsonl")) as f:
        return [json.loads(line) for line in f]


def _assert_matches_single_shot(spark, raw_path, root):
    """Resumed output == single-shot pipeline output, sink by sink."""
    single = build(spark.read.parquet(raw_path),
                   os.path.join(root, "single_stage"))
    for sink, cols in [
        ("assembled", ["conv_id", "event_id", "pause_type", "duration_ms"]),
        ("pause_events", ["conv_id", "turn_idx", "event_class"]),
        ("dead_letter", ["conv_id", "text", "reason_code"]),
        ("conv_state", ["conv_id", "young_gcs", "remarks", "heap_size"]),
    ]:
        got = _collect_sorted(cp.read_sink(spark, root, sink), cols)
        want = _collect_sorted(single[sink], cols)
        assert got == want, f"{sink}: resumed output differs from single-shot"


def test_crash_resume_identical(spark, raw_path, source_path, tmp_path):
    root = str(tmp_path / "out")
    n_batches = 4
    src = source_path(n_batches)

    # run 2 of 4 batches, then "crash"
    r1 = cp.run(spark, src, root, n_batches, stop_after=2)
    assert len(r1) == 2
    assert cp.completed_batches(root) == {0, 1}

    # resume: only the remaining batches run
    r2 = cp.run(spark, src, root, n_batches)
    assert sorted(b.batch_id for b in r2) == [2, 3]

    _assert_matches_single_shot(spark, raw_path, root)


def test_resume_with_other_n_batches_is_refused(spark, source_path, tmp_path):
    """Neither batches committed under n_batches=4 nor a source prepared
    into 4 buckets with nothing committed yet can run under 3: bucket 3
    would never be read. The refusal comes before any batch runs and leaves
    the manifest as it was."""
    src = source_path(4)
    for committed in (2, 0):
        root = str(tmp_path / f"out_n{committed}")
        if committed:
            cp.run(spark, src, root, 4, stop_after=committed)
        log = os.path.join(root, "manifest.jsonl")
        before = commit_log.records(log)
        with pytest.raises(ValueError, match="n_batches"):
            cp.run(spark, src, root, 3)
        assert commit_log.records(log) == before


def test_unprepared_source_is_refused(spark, raw_path, tmp_path):
    """A source without the batch_bucket partition column would be fully
    scanned by every batch; run_batch refuses it and commits nothing."""
    root = str(tmp_path / "out_raw")
    with pytest.raises(ValueError, match="prepare_source"):
        cp.run_batch(spark, raw_path, root, 0, 2)
    assert cp.completed_batches(root) == set()


def test_crash_between_sink_write_and_commit(spark, raw_path, source_path,
                                             tmp_path, monkeypatch):
    """The second commit raises: batch 1's sinks are written but its
    manifest record is not. The resume re-runs batch 1 over its own partial
    output and must end equal to the single-shot build."""
    root = str(tmp_path / "out_crash")
    n_batches = 3
    src = source_path(n_batches)
    real_commit = commit_log.commit
    calls = []

    def crash_on_second(log, record):
        calls.append(record["batch_id"])
        if len(calls) == 2:
            raise RuntimeError("injected crash before commit")
        real_commit(log, record)

    monkeypatch.setattr(commit_log, "commit", crash_on_second)
    with pytest.raises(RuntimeError, match="injected crash"):
        cp.run(spark, src, root, n_batches)
    monkeypatch.undo()
    assert cp.completed_batches(root) == {0}
    assert os.path.isdir(os.path.join(root, "assembled", "batch=1"))

    resumed = cp.run(spark, src, root, n_batches)
    assert [b.batch_id for b in resumed] == [1, 2]
    recs = _manifest(root)
    assert sorted(r["batch_id"] for r in recs) == list(range(n_batches))
    assert (sum(r["rows_in"] for r in recs)
            == spark.read.parquet(raw_path).count())
    _assert_matches_single_shot(spark, raw_path, root)


def test_rerun_is_idempotent(spark, raw_path, source_path, tmp_path):
    root = str(tmp_path / "out2")
    src = source_path(2)
    cp.run(spark, src, root, 2)
    n_before = cp.read_sink(spark, root, "assembled").count()
    # simulate a crash after sink write but before manifest append: re-run
    # batch 0 directly — overwrite makes it idempotent
    cp.run_batch(spark, src, root, 0, 2)
    assert cp.read_sink(spark, root, "assembled").count() == n_before
    # the re-commit replaced batch 0's record: one record per batch id, and
    # rows_in still partitions the input
    recs = _manifest(root)
    n_in = spark.read.parquet(raw_path).count()
    assert (sorted(r["batch_id"] for r in recs),
            sum(r["rows_in"] for r in recs)) == ([0, 1], n_in)


def test_empty_bucket_commits_zero_rows_in(spark, raw_path, tmp_path):
    """More buckets than conversations: the bucket with no rows still runs
    and commits, and the Observation that counts rows_in reads 0."""
    raw = spark.read.parquet(raw_path)
    conv = raw.select("conv_id").first()[0]
    one = raw.filter(F.col("conv_id") == conv)
    src = cp.prepare_source(spark, one, str(tmp_path / "src_one"), 2)
    root = str(tmp_path / "out_one")
    results = cp.run(spark, src, root, 2)
    assert sorted(r.rows_in for r in results) == [0, one.count()]
    assert cp.completed_batches(root) == {0, 1}


def test_manifest_lineage_and_metrics(spark, raw_path, source_path, tmp_path):
    root = str(tmp_path / "out3")
    src = source_path(2)
    cp.run(spark, src, root, 2)
    with open(os.path.join(root, "manifest.jsonl")) as f:
        recs = [json.loads(l) for l in f]
    assert len(recs) == 2
    for rec in recs:
        assert rec["status"] == "ok"
        assert rec["rows_in"] > 0
        assert "pause_events" in rec["sink_rows"]
        assert rec["wall_s"] > 0
        assert rec["lineage"]["predicate"] == f"batch_bucket = {rec['batch_id']}"
        assert rec["lineage"]["source"] == src
    # batches partition the input exactly
    total_in = sum(r["rows_in"] for r in recs)
    assert total_in == spark.read.parquet(raw_path).count()


def test_prepared_source_prunes_scans(spark, sf_dir, tmp_path):
    """With a bucket-partitioned source each micro-batch scans ~1/n of the
    data (manifest records the pruned file set), and results still equal the
    single-shot pipeline."""
    src = str(tmp_path / "psrc")
    root = str(tmp_path / "pout")
    n_batches = 4
    cp.prepare_source(spark, synth_transcripts(spark, sf_dir), src, n_batches)

    cp.run(spark, src, root, n_batches)
    with open(os.path.join(root, "manifest.jsonl")) as f:
        recs = [json.loads(l) for l in f]
    assert len(recs) == n_batches
    total_bytes = sum(r["lineage"]["scan_bytes"] for r in recs)
    for rec in recs:
        assert rec["lineage"]["predicate"] == f"batch_bucket = {rec['batch_id']}"
        # pruned scan: each batch reads well under half the total source
        assert rec["lineage"]["scan_bytes"] < total_bytes / 2
        assert rec["lineage"]["scan_files"] >= 1

    # batches still partition the input exactly, and outputs match single-shot
    total_in = sum(r["rows_in"] for r in recs)
    plain = synth_transcripts(spark, sf_dir)
    assert total_in == plain.count()
    single = build(plain, str(tmp_path / "single_stage"))
    got = _collect_sorted(
        cp.read_sink(spark, root, "assembled"),
        ["conv_id", "event_id", "pause_type", "duration_ms"],
    )
    want = _collect_sorted(
        single["assembled"], ["conv_id", "event_id", "pause_type", "duration_ms"]
    )
    assert got == want
