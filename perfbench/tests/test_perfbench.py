"""Tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench/tests -q

The last test starts Spark and takes about a minute.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import curate, gen, run, upload  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _digest(d: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_star_schema_and_corpus_are_deterministic_per_seed(tmp_path):
    digests = []
    for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
        d = str(tmp_path / tag)
        gen.star_schema(d, seed, 0.002)
        gen.arrivals(os.path.join(d, "corpus"), os.path.join(d, "documents.parquet"), 3)
        digests.append(_digest(d))
    assert digests[0] == digests[1]
    assert set(digests[0]) == set(digests[2]) and digests[0] != digests[2]
    assert {f"{t}.parquet" for t in gen.TABLES} <= set(digests[0])


def test_documents_follow_the_reference_profile():
    docs = gen.documents(np.random.default_rng(3), 5000)
    toks = docs.text.str.split()
    assert toks.map(len).between(10, 101).all()
    near = docs.text.str.endswith(" dup")
    assert near.sum() == 250  # one doc in 20
    assert set(toks[~near].explode()) == set(gen.WORDS)
    base = docs.text[~near]
    assert len(base) - base.nunique() == 8  # 8 exact copies in 5000 docs
    assert (docs.n_chars == docs.text.str.len()).all()


def test_csv_files_are_deterministic_and_sized():
    for kind in ("small", "latin1", "gzip", "multiline", "garbage"):
        a, b = upload.file_for(3, 7, kind), upload.file_for(3, 7, kind)
        assert a == b
        assert a.data != upload.file_for(4, 7, kind).data
    assert 10_000 <= len(upload.file_for(3, 7, "small").data) <= 200_000
    assert len(upload.file_for(3, 8, "large").data) >= upload.LARGE_BYTES
    assert "price_£" in upload.file_for(3, 7, "latin1").types


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_safe_and_match_benchmark_json():
    spec = _benchmark_json()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layer == run.layer_units()
    for name in list(e2e) + list(layer) + [w["name"] for w in spec["workloads"]]:
        assert NAME.fullmatch(name), name
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert set(curate.LAYER) & set(upload.LAYER) == {"trace.op_overhead_s"}


def test_benchmark_json_schema():
    spec = _benchmark_json()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert 1 <= spec["run_seconds"] <= 60
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and m["better"] in ("lower", "higher")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_result_object_schema():
    b = run.Bench.__new__(run.Bench)
    b.attempted, b.failed = 3, 1
    res = json.loads(json.dumps(b.result({"setup_s": 1.5}, {"setup_s": "s"})))
    assert res == {"correct": False, "attempted": 3, "failed": 1,
                   "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}


def test_cli_fails_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "upload", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""


@pytest.mark.skipif(shutil.which("java") is None, reason="needs a JVM")
def test_forced_failing_upload_is_counted_and_run_completes(tmp_path, monkeypatch):
    file_for = upload.file_for

    def first_op_garbage(seed, i, kind):  # the first timed op: binary garbage
        return file_for(seed, i, "garbage" if i == 100 else kind)

    monkeypatch.setattr(upload, "file_for", first_op_garbage)
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    for var in ("TMPDIR", "JAVA_TOOL_OPTIONS", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS"):
        monkeypatch.delenv(var, raising=False)  # restored after the test
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    res = run.run("upload", 1, 1, False)
    assert res["failed"] == 1 and res["attempted"] > 1
    assert res["correct"] is False
    assert set(res["metrics"]) == set(run.E2E_UNITS)
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert os.listdir(tmp_path / ".perfbench_tmp") == []
