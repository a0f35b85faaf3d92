"""The benchmark's own tests.

    python -m pytest perfbench/test_perfbench.py -q

Run from the repository root. The smoke tests start one Spark session per
run on tiny inputs (about four minutes on 4 cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_counts():
    spec = _spec()
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    assert len(e2e) <= 16 and len(layer) <= 128
    for name in e2e + layer + [w["name"] for w in spec["workloads"]]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert len(set(e2e + layer)) == len(e2e) + len(layer)
    # BENCHMARK.json lists exactly what run.py reports, with the same units
    assert e2e == list(run.END_TO_END)
    assert layer == run.per_layer_names()
    for m in spec["end_to_end"]:
        assert m["unit"] == run.END_TO_END[m["name"]]
    for m in spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"]), m["name"]
    assert [w["name"] for w in spec["workloads"]] == ["citibike_sql", "stream_ingest"]


def test_tail_is_the_highest_percentile_with_ten_beyond():
    assert run.tail(list(range(40))) == (29, 75.0)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)  # too few samples: the maximum


def _digest_dir(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(path)):
        dirnames.sort()
        for name in sorted(filenames):
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _generate(out: str, seed: int) -> str:
    inputs.write_relational(os.path.join(out, "rel"), seed, sf=0.001)
    inputs.write_corpus(os.path.join(out, "corpus"), seed, docs=100, vecs=50, cores=4)
    inputs.stage_stream(os.path.join(out, "stream"), seed, pass_no=0, batches=2, rows=20)
    return _digest_dir(out)


def test_inputs_follow_the_seed(tmp_path):
    a = _generate(str(tmp_path / "a"), seed=5)
    b = _generate(str(tmp_path / "b"), seed=5)
    c = _generate(str(tmp_path / "c"), seed=6)
    assert a == b
    assert a != c


def test_corpus_has_a_row_group_per_core(tmp_path):
    import pyarrow.parquet as pq

    inputs.write_corpus(str(tmp_path), seed=1, docs=1000, vecs=1000, cores=4)
    for t in ("documents", "embeddings"):
        assert pq.ParquetFile(str(tmp_path / f"{t}.parquet")).metadata.num_row_groups >= 4


def _smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["failed"] == 0 and result["correct"], proc.stdout[-3000:]
    return result


@pytest.mark.parametrize("workload", ["citibike_sql", "corpus_x10", "stream_ingest"])
def test_smoke_run_has_no_errors(workload):
    assert set(_smoke(workload, 0)["metrics"]) == set(run.END_TO_END)


@pytest.mark.parametrize("workload", ["corpus_x10", "stream_ingest"])
def test_traced_smoke_run_reports_every_layer(workload):
    metrics = _smoke(workload, 1)["metrics"]
    assert list(metrics) == run.per_layer_names()
    if workload == "corpus_x10":
        assert metrics["plans.build_jobs"]["value"] > 0
        assert metrics["exec.sql_executions"]["value"] >= 6
    else:
        assert metrics["streaming.index_maint.build_s"]["value"] > 0
        assert metrics["streaming.rollup.state_rows"]["value"] > 0
