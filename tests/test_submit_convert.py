"""The spark-submit entry (`scripts/submit_convert.py`) run in-process."""

import importlib.util
import os
import sys

SCRIPT = os.path.join(os.path.dirname(__file__), "..", "scripts",
                      "submit_convert.py")


def _run_cli(monkeypatch, *argv):
    spec = importlib.util.spec_from_file_location("submit_convert", SCRIPT)
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    monkeypatch.setattr(sys, "argv", ["submit_convert.py", *argv])
    cli.main()


def test_sharded_is_the_default_call_with_salted_and_progress(
        spark, docs_table, tmp_path, monkeypatch, capsys):
    """--sharded makes the same `convert` call as the default run, so
    --salted and --progress reach it and the archive bytes are the same."""
    from gpq_tiles_spark import pipeline

    calls = []
    real_convert = pipeline.convert

    def spy(*args, **kwargs):
        calls.append(kwargs)
        return real_convert(*args, **kwargs)

    monkeypatch.setattr(pipeline, "convert", spy)
    sharded = str(tmp_path / "sharded.pmtiles")
    default = str(tmp_path / "default.pmtiles")
    _run_cli(monkeypatch, docs_table, sharded, "--max-zoom", "5",
             "--sharded", "--salted", "--progress")
    events = [ln for ln in capsys.readouterr().out.splitlines()
              if ln.startswith("[")]
    _run_cli(monkeypatch, docs_table, default, "--max-zoom", "5")

    assert [c["salted"] for c in calls] == [True, False]
    assert calls[0]["progress"] is not None and calls[1]["progress"] is None
    assert any(ln.startswith("[tiles] complete") for ln in events), events
    assert events[-1].startswith("[archive] complete"), events
    with open(sharded, "rb") as a, open(default, "rb") as b:
        assert a.read() == b.read()
