"""Output-shape self-test: BENCHMARK.json obeys the benchmark contract,
the generator's keys are real SURT keys, and every workload, run at a tiny
size in both modes, prints a last line that matches the contract. The last
test runs the benchmark in a directory holding only BENCHMARK.json and
perfbench/, where it must fail without a result.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_spec_follows_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
    assert 1 <= len(spec["paths"]) <= 16
    for p in spec["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p.split("/")
        assert os.path.isdir(os.path.join(ROOT, p))
    cmd = spec["command"]
    assert 1 <= len(cmd) <= 32 and all(len(a) <= 200 for a in cmd)
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    assert 1 <= len(spec["end_to_end"]) <= 16
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert 1 <= len(spec["per_layer"]) <= 128
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in spec[k]]
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    assert all(NAME.match(n) for n in names)
    assert len(set(names)) == len(names)


def test_generated_keys_are_surt_keys():
    """The generator's urlkeys are what the engine's canonicalizer makes of
    its urls, so cdx_query(url) finds the generated captures."""
    sys.path[:0] = [ROOT, BENCH_DIR]
    import cdxgen
    from ia_hadoop_tools_spark.functions.surt import _surt_one

    rows = cdxgen.make_batches(3, 3000)["base"][1]
    pairs = {(r[2], r[0]) for r in rows if not r[0].startswith(("dns:", "filedesc:", "warcinfo:"))}
    assert pairs and all(_surt_one(url) == key for url, key in pairs)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    spec = _spec()
    env = dict(os.environ, PERFBENCH_SCALE="0.05")
    return subprocess.run(
        spec["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                           "--trace", str(trace)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=180,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_result_line(workload, trace):
    spec = _spec()
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    doc = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(doc) == {"correct", "attempted", "failed", "metrics"}
    assert doc["correct"] is True
    assert isinstance(doc["attempted"], int) and doc["attempted"] >= 1
    assert isinstance(doc["failed"], int) and doc["failed"] == 0
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(doc["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = doc["metrics"][m["name"]]
        assert set(got) == {"value", "unit"} and got["unit"] == m["unit"]
        v = got["value"]
        assert isinstance(v, (int, float)) and not isinstance(v, bool)
        assert math.isfinite(v)
        if not trace:
            assert v > 0


def test_fails_without_engine():
    spec = _spec()
    bare = os.path.join(BENCH_DIR, "_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
        proc = _run(bare, spec["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
