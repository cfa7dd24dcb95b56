"""The benchmark's own tests: python3 -m pytest perfbench/ -q

Each smoke test launches one benchmark process (one JVM) on 4 MB
corpora, so the file takes a few minutes.
"""

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9_.-]+")
WORKLOADS = ("mixed_files", "incompressible_files", "mixed_dataframe")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _pids() -> set[int]:
    """Live python and java processes: the kinds a run starts."""
    out = set()
    for p in os.listdir("/proc"):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                if re.search(rb"python|java", fh.read()):
                    out.add(int(p))
        except (OSError, ValueError):
            continue  # not a pid, or exited meanwhile
    return out


def _run(*args, cwd=ROOT):
    script = os.path.join(cwd, "perfbench", "run.py")
    p = subprocess.run([sys.executable, script, *args], cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p, (json.loads(lines[-1]) if lines else None)


def test_metric_and_workload_names():
    b = _bench()
    names = [m["name"] for sec in ("end_to_end", "per_layer") for m in b[sec]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_runs_every_workload(trace):
    before = _pids()
    p, res = _run("--workload", "all", "--smoke", "--seconds", "1",
                  "--trace", trace)
    # the JVM and the python workers have ended when the run returns
    assert not _pids() - before
    assert p.returncode == 0, p.stderr[-3000:]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    section = "per_layer" if trace == "1" else "end_to_end"
    want = {f"{w}.{m['name']}" for w in WORKLOADS for m in _bench()[section]}
    assert set(res["metrics"]) == want
    for name, m in res["metrics"].items():
        assert NAME.fullmatch(name)
        assert isinstance(m["value"], float) and m["unit"]


def test_corpus_generation_leaves_no_process(tmp_path):
    sys.path.insert(0, HERE)
    from corpus import get_corpus
    before = _pids()
    c = get_corpus(str(tmp_path), "incompressible", 5, 1)
    assert c["generated"] and c["rows"] > 0
    assert not _pids() - before
    again = get_corpus(str(tmp_path), "incompressible", 5, 1)
    assert not again["generated"] and again["totals"] == c["totals"]


def test_corrupted_block_counts_as_failure():
    p, res = _run("--workload", "mixed_files", "--smoke", "--seconds", "1",
                  "--corrupt-block")
    assert p.returncode == 1
    assert res["correct"] is False and res["failed"] >= 1
    assert "FAILED: bit identity" in p.stderr


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p, res = _run("--workload", "mixed_files", "--seed", "1", "--seconds",
                  "1", "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0 and res is None
