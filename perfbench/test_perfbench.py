"""Tests of the benchmark itself: seeded inputs, the BENCHMARK.json
contract, the output checks, and a small end-to-end run of each
workload.

    python3 -m pytest perfbench -q

The two smoke runs start Spark and take one to two minutes each.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import tracing  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _parquet_bytes(table, tmp_path, name) -> bytes:
    import pyarrow.parquet as pq
    path = tmp_path / name
    pq.write_table(table, path)
    return path.read_bytes()


def test_same_seed_gives_identical_inputs(tmp_path):
    a = _parquet_bytes(run.bulk_pages(40, 3), tmp_path, "a.parquet")
    b = _parquet_bytes(run.bulk_pages(40, 3), tmp_path, "b.parquet")
    assert a == b
    assert run.doc_stream(3) == run.doc_stream(3)


def test_different_seed_changes_inputs(tmp_path):
    a = _parquet_bytes(run.bulk_pages(40, 3), tmp_path, "a.parquet")
    b = _parquet_bytes(run.bulk_pages(40, 4), tmp_path, "b.parquet")
    assert a != b
    assert run.doc_stream(3)[1] != run.doc_stream(4)[1]


def test_bulk_inputs_hold_every_page_kind():
    from gpml2pvjson_js_spark.corpus import PAGE_MIX
    urls = run.bulk_pages(run.BULK_PAGES, 1).column("url").to_pylist()
    kinds = {u.split("/")[3] for u in urls}
    assert kinds == {k for k, _ in PAGE_MIX} | {"giant"}
    assert any("//hot.example/" in u for u in urls)


def test_benchmark_json_follows_the_contract():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert 1 <= b["run_seconds"] <= 60
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200
               and "\n" not in w["why"] for w in b["workloads"])
    assert 1 <= len(b["end_to_end"]) <= 16
    assert 1 <= len(b["per_layer"]) <= 128
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]), m
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in b["end_to_end"])}]


def test_empty_output_is_a_failure(tmp_path):
    expected = run.load_expected()
    check = run.check_bulk(str(tmp_path), expected)
    assert not check["ok"]
    assert check["got"]["canonical_triples"]["rows"] == 0
    order, _, iri = run.doc_stream(1)
    assert not run.check_doc(order, iri, [], expected)["ok"]


def test_wrong_document_is_a_mismatch():
    expected = run.load_expected()
    order, _, iri = run.doc_stream(1)
    assert not run.check_doc(order, iri, ["{}"] * len(order),
                             expected)["ok"]


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail_s([1.0] * 10) is None
    samples = [float(i) for i in range(1, 21)]
    assert run.tail_s(samples) == 10.0


def test_union_of_spans():
    assert tracing.union_s([]) == 0.0
    assert tracing.union_s([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4.0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def _smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_result(result: dict, declared: list[dict]) -> None:
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in declared}
    units = {m["name"]: m["unit"] for m in declared}
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name]
        assert isinstance(m["value"], (int, float))


@pytest.mark.parametrize("workload,trace", [("bulk", 1), ("doc", 0)])
def test_smoke_run(workload, trace):
    result = _smoke(workload, trace)
    declared = _bench()["per_layer" if trace else "end_to_end"]
    _assert_result(result, declared)
    if trace:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["canonicalize.rows_out"] > 0 and m["export.rows_out"] > 0
        assert m["sources.rows_out"] == run.BULK_PAGES
        assert 0 < m["pipeline.executor_busy_s"]
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
