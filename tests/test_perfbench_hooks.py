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


def test_layer_replay_reports_no_failures(tmp_path, monkeypatch):
    """perfbench's layer replay (perfbench/layers.py, what a traced
    benchmark run times) over a ~4 MB corpus reports no failed check.
    It drives the engine internals a traced run reaches:
    _encode_iter_factory, StickySelector, frame_payload, _READ_COLUMNS,
    _SCAN_BATCH_ROWS, and _decode_iter fed 64-row batches of exactly
    payload/doc_ids/doc_lens, its decoded token count checked against
    the `tokens` values of every yielded batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from rle_spark.datagen import generate_docs_pandas
    from rle_spark.engine import EngineConfig

    monkeypatch.setattr(sys, "path",
                        [os.path.join(ROOT, "perfbench"), *sys.path])
    spec = importlib.util.spec_from_file_location(
        "perfbench_layers", os.path.join(ROOT, "perfbench", "layers.py"))
    layers = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(layers)
    spans = importlib.import_module("spans")

    src = tmp_path / "src"
    src.mkdir()
    pdf = generate_docs_pandas(range(160), seed=9)
    assert 3 << 20 < 4 * int(pdf["n_tok"].sum()) < 6 << 20
    pq.write_table(pa.table({
        "doc_id": pdf["doc_id"].tolist(),
        "tokens": pa.array([t for t in pdf["tokens"]], pa.list_(pa.int32())),
        "n_tok": pdf["n_tok"].to_numpy(),
        "source": pdf["source"].tolist()}), str(src / "part-0.parquet"),
        row_group_size=40)
    metrics, attempted, failures = layers.replay(
        str(src), str(tmp_path), EngineConfig(layout="mapside"),
        spans.Tracer("t", True), 2, 4 << 20)
    assert failures == [] and attempted > 0
    assert metrics["engine.decode_kernel_GBps"] > 0


def test_perfbench_process_setup(spark, monkeypatch):
    """perfbench's process set-up: memtune.apply() before the session
    starts, then warm_python_workers(spark, cpus) once per session. The
    warm-up takes no heap size: it only spawns the workers."""
    import inspect

    from rle_spark import engine, memtune

    for k in memtune._VARS:  # the test's environment is restored after
        monkeypatch.delenv(k, raising=False)
    memtune.apply()
    assert memtune._VARS.items() <= os.environ.items()
    assert list(inspect.signature(engine.warm_python_workers).parameters) \
        == ["spark", "cpus"]
    engine.warm_python_workers(spark, 2)
