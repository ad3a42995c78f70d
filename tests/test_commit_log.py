"""The shared commit log (``commit_log.py``), without a JVM: a stub batch
stands in for the ``foreachBatch`` DataFrame."""

from __future__ import annotations

import json

import pytest

from java9_gc_log_parser_spark import commit_log


class StubBatch:
    def __init__(self):
        self.counts = 0

    def count(self):
        self.counts += 1
        return 0


def test_missing_log_is_empty(tmp_path):
    log = str(tmp_path / "commits.jsonl")
    assert commit_log.records(log) == []
    assert commit_log.last_batch(log) is None


def test_recommit_replaces_record(tmp_path):
    log = str(tmp_path / "commits.jsonl")
    commit_log.commit(log, {"batch_id": 0, "rows": 1})
    commit_log.commit(log, {"batch_id": 1, "rows": 2})
    commit_log.commit(log, {"batch_id": 0, "rows": 3})
    recs = commit_log.records(log)
    assert sorted(r["batch_id"] for r in recs) == [0, 1]
    assert {r["batch_id"]: r["rows"] for r in recs} == {0: 3, 1: 2}
    assert commit_log.last_batch(log) == 1


def test_leftover_tmp_is_ignored_then_overwritten(tmp_path):
    """A crash mid-``commit`` leaves ``<log>.tmp`` beside the intact log."""
    log = str(tmp_path / "commits.jsonl")
    commit_log.commit(log, {"batch_id": 0})
    with open(log + ".tmp", "w") as f:
        f.write(json.dumps({"batch_id": 7}) + "\n{truncated")
    assert commit_log.records(log) == [{"batch_id": 0}]
    assert commit_log.last_batch(log) == 0

    commit_log.commit(log, {"batch_id": 1})
    assert commit_log.records(log) == [{"batch_id": 0}, {"batch_id": 1}]
    assert not (tmp_path / "commits.jsonl.tmp").exists()


def test_once_per_batch_applies_new_ids_and_drains_replays(tmp_path):
    log = str(tmp_path / "commits.jsonl")
    calls = []

    def apply(batch_df, batch_id, last):
        calls.append((batch_id, last))
        return {"batch_id": batch_id}

    on_batch = commit_log.once_per_batch(log, apply)
    for batch_id in (0, 1):
        on_batch(StubBatch(), batch_id)
    assert calls == [(0, None), (1, 0)]
    assert commit_log.last_batch(log) == 1

    # a replay of the last committed id (Spark re-runs the batch its own
    # checkpoint had not committed): drained with one count(), nothing
    # applied or committed
    batch = StubBatch()
    on_batch(batch, 1)
    assert batch.counts == 1
    # an earlier id (a lost stream checkpoint restarts at 0): refused before
    # the batch is read, nothing applied or committed
    batch = StubBatch()
    with pytest.raises(RuntimeError, match="batch 0 arrived after batch 1"):
        on_batch(batch, 0)
    assert batch.counts == 0
    assert calls == [(0, None), (1, 0)]
    assert commit_log.records(log) == [{"batch_id": 0}, {"batch_id": 1}]

    new = StubBatch()
    on_batch(new, 2)
    assert new.counts == 0
    assert calls[-1] == (2, 1)
    assert commit_log.last_batch(log) == 2
