"""Tests of the benchmark itself.

    python3 -m pytest xmlbench/tests -q

The smoke tests run every workload once at a tiny scale, in both modes,
through the real command line; each run starts its own Spark, so the
whole file takes a few minutes.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(workload, trace, *extra, cwd=ROOT):
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", "0.02", *extra]
    # the program must come from the checkout in ``cwd``, never from the
    # caller's import path
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(cmd, cwd=cwd, env=env, capture_output=True,
                          text=True, timeout=600)


def last_json(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_shape(result, specs):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    got = result["metrics"]
    assert list(got) == [m["name"] for m in specs]
    for m in specs:
        assert set(got[m["name"]]) == {"value", "unit"}
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_end_to_end(workload):
    result = last_json(run_bench(workload, 0))
    check_shape(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced(workload):
    result = last_json(run_bench(workload, 1))
    check_shape(result, SPEC["per_layer"])
    assert result["correct"] and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["bench.tracing_overhead"] > 0
    assert m["xmlcore.tokenizer.mb_per_s"] > 0
    if workload == "flat_scan":
        assert m["streaming.batches"] >= 1
        assert m["sources.datasource.rows_out"] > 0
    if workload == "nested_infer":
        assert m["sources.api.infer_xml_schema_s"] > 0
    if workload == "write_roundtrip":
        assert m["sources.api.write_xml_s"] > 0
        assert m["functions.xml_functions.python_total_ms"] > 0


def test_corrupted_truth_fails_the_run():
    result = last_json(run_bench(WORKLOADS[0], 0, "--corrupt-truth"))
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert result["metrics"]["ok_frac"]["value"] < 1.0


def test_without_the_program_exits_nonzero(tmp_path):
    """In a directory holding only the benchmark, the command fails fast
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("_work", "_out",
                                                      "__pycache__"))
    proc = run_bench(WORKLOADS[0], 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert not proc.stdout.strip().endswith("}")


def test_generator_is_seeded(tmp_path):
    a = gen.make_nested(str(tmp_path / "a"), 3, 2, 50)
    b = gen.make_nested(str(tmp_path / "b"), 3, 2, 50)
    c = gen.make_nested(str(tmp_path / "c"), 4, 2, 50)
    assert a == b and a != c
    for name in os.listdir(tmp_path / "a"):
        assert ((tmp_path / "a" / name).read_bytes()
                == (tmp_path / "b" / name).read_bytes())
    fa = gen.make_flat(str(tmp_path / "fa"), 3, 2, 100)
    fb = gen.make_flat(str(tmp_path / "fb"), 3, 2, 100)
    assert fa == fb and fa["full_scan"]["count"] == 200


def test_flat_truth_matches_a_stdlib_read(tmp_path):
    """The column-wise flat renderer and its truth agree record by record."""
    import xml.etree.ElementTree as ET

    truth = gen.make_flat(str(tmp_path), 5, 2, 300)
    rows = [el for f in sorted(os.listdir(tmp_path))
            for el in ET.parse(tmp_path / f).getroot().iter("item")]
    assert len(rows) == truth["full_scan"]["count"]
    assert sum(int(r.findtext("qty")) for r in rows) == truth["full_scan"]["sum_qty"]
    assert sum(len(r.findtext("comment")) for r in rows) == \
        truth["full_scan"]["sum_comment_len"]
