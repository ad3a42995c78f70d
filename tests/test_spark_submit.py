"""True `spark-submit --py-files` smoke test (north rule: "packaged for
spark-submit --py-files ... run via spark-submit on a multi-executor
cluster"). Builds dist/pipeline.zip with scripts/package.sh, then launches a
REAL spark-submit subprocess — package importable only through the zip
(cwd moved away from the repo) — running synth, batch and checkpoint modes
end to end, the checkpoint mode twice (run, then a no-op resume).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess

import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)


def _submit(tmp_path, *args: str) -> dict:
    env = dict(os.environ, SPARK_DRIVER_MEMORY="2g")
    out = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", os.path.join(REPO, "dist", "pipeline.zip"),
            os.path.join(REPO, "main.py"),
            *args,
        ],
        cwd=str(tmp_path),  # NOT the repo: the zip must provide the package
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    # last stdout line is the JSON result
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_package_and_submit_synth_then_batch(tmp_path):
    pkg = subprocess.run(
        ["bash", os.path.join(REPO, "scripts", "package.sh")],
        capture_output=True, text=True, timeout=120,
    )
    assert pkg.returncode == 0, pkg.stderr

    tpath = str(tmp_path / "transcripts")
    r1 = _submit(
        tmp_path, "--mode", "synth", "--sf-dir", SF_DIR, "--output", tpath
    )
    assert r1["mode"] == "synth" and r1["rows"] > 0

    r2 = _submit(
        tmp_path, "--mode", "batch", "--input", tpath,
        "--output", str(tmp_path / "out"),
    )
    assert r2["mode"] == "batch"
    counts = r2["sink_rows"]
    # routed-row conservation: every parsed turn lands in exactly one sink
    assert counts["pause_events"] > 0
    assert counts["tool_calls"] > 0
    assert counts["dead_letter"] > 0
    assert counts["assembled"] > 0
    assert counts["conv_state"] > 0
    # the counts are Observations on the write jobs, not read-backs: each
    # must equal the rows actually committed under out/<sink>
    for sink, n in counts.items():
        files = glob.glob(str(tmp_path / "out" / sink / "*.parquet"))
        assert files, sink
        assert sum(pq.read_metadata(f).num_rows for f in files) == n, sink

    # checkpoint mode: the first run buckets the input under out/source and
    # runs every batch; the second finds them committed and rewrites nothing
    ck = tmp_path / "ckpt"
    r3 = _submit(
        tmp_path, "--mode", "checkpoint", "--n-batches", "2",
        "--input", tpath, "--output", str(ck),
    )
    assert r3["batches_run"] == [0, 1]
    assert (ck / "source" / "batch_bucket=0").is_dir()
    with open(ck / "manifest.jsonl") as f:
        recs = [json.loads(line) for line in f if line.strip()]
    assert sum(r["rows_in"] for r in recs) == r1["rows"]
    success_mtime = os.stat(ck / "source" / "_SUCCESS").st_mtime_ns

    r4 = _submit(
        tmp_path, "--mode", "checkpoint", "--n-batches", "2",
        "--input", tpath, "--output", str(ck),
    )
    assert r4["batches_run"] == []
    assert os.stat(ck / "source" / "_SUCCESS").st_mtime_ns == success_mtime
