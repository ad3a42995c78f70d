"""``main.py`` argument checks that must fail before any Spark session
starts."""

from __future__ import annotations

import pytest

import main
from java9_gc_log_parser_spark import session


@pytest.mark.parametrize("mode", ["batch", "checkpoint", "synth"])
def test_missing_input_is_a_usage_error(mode, tmp_path, monkeypatch):
    """``--input`` is required for a batch run and for a checkpoint run with
    no committed batch, and ``--sf-dir`` for a synth run: argparse exits with
    status 2 instead of Spark failing on a null path."""

    def no_spark(*args, **kwargs):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exit_:
        main.main(["--mode", mode, "--output", str(tmp_path / "out")])
    assert exit_.value.code == 2
