"""perfbench's traced hooks: every (module, function) a benchmark job
times with --trace 1 runs in that job's encode, so its per-layer metric
(sources.plan, sources.manifest) times real work, not 0."""

import importlib.util
import os
import sys

import pytest

from rle_spark.datagen import token_table

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def perfbench_run(monkeypatch):
    """perfbench/run.py as a module, loaded without running it; the
    sys.path entries it adds are undone after the test."""
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(ROOT, "perfbench", "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("job", ["FilesJob", "DataFrameJob"])
def test_perfbench_hooks_run_in_encode(spark, tmp_path, monkeypatch,
                                       perfbench_run, job):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    token_table(spark, 40, seed=3).repartition(2).write.parquet(src)
    job = (perfbench_run.FilesJob(2) if job == "FilesJob"
           else perfbench_run.DataFrameJob(2, 1))
    calls = []
    for mod, attr, _ in job.hooks:
        def counted(*args, _real=getattr(mod, attr),
                    _name=f"{mod.__name__}.{attr}", **kwargs):
            calls.append(_name)
            return _real(*args, **kwargs)
        monkeypatch.setattr(mod, attr, counted)
    assert job.encode(spark, src, out)["n_docs"] == 40
    assert set(calls) == {f"{mod.__name__}.{attr}"
                          for mod, attr, _ in job.hooks}
