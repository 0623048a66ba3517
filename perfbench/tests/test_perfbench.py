"""The benchmark's own tests: seeded generators, the expected-count oracle
and the metric names against BENCHMARK.json.  No Spark session is started.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import adtl_inputs as adtl
import ops_inputs as ops
import run
from workloads import WORKLOADS, per_layer_names

BENCH_DIR = Path(__file__).resolve().parent.parent
REPO = BENCH_DIR.parent
TINY = adtl.Shape(subjects=40, yesno=2, numeric=2, dates=1, symptoms=3, followup_days=3)


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_adtl_inputs_deterministic_for_a_seed(tmp_path):
    a = adtl.write_inputs(TINY, 7, tmp_path / "a")
    b = adtl.write_inputs(TINY, 7, tmp_path / "b")
    c = adtl.write_inputs(TINY, 8, tmp_path / "c")
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert a.source_rows == b.source_rows
    assert a.source.read_bytes() != c.source.read_bytes()
    assert json.loads(a.spec.read_text())["adtl"]["tables"]["subject"]["kind"] == "groupBy"


def test_ops_inputs_deterministic_for_a_seed(tmp_path):
    shape = ops.OpsShape(documents=60, lineitems=200, suppliers=10)
    rows = ops.write_inputs(shape, 3, tmp_path / "a")
    ops.write_inputs(shape, 3, tmp_path / "b")
    ops.write_inputs(shape, 4, tmp_path / "c")
    assert rows == {"documents": 60, "lineitem": 200, "supplier": 10}
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")


def _row(**cells) -> dict:
    row = dict.fromkeys(adtl._source_columns(TINY), "")
    row.update(cells)
    return row


def test_expected_counts_tiny_hand_checked():
    rows = [
        # S1: valid; age set on the first row only, blank later
        _row(subjid="S1", age="30", dsstdat="2022-01-02", outcome="1", sym_0="1",
             sym_1="3", oxy_vsorres="95"),
        _row(subjid="S1", outcome="1", oxy_vsorres="0", pao2_lbspec="2", flw_1="0"),
        # S2: last non-empty age 150 is out of range; oxygen 120 too high
        _row(subjid="S2", age="150", dsstdat="2022-02-03", oxy_vsorres="120"),
        # S3: no enrolment date on any row
        _row(subjid="S3", age="40", sym_2="2", flw_2="2", flw_3="1"),
        # S4: outcome code 9 maps outside the enum
        _row(subjid="S4", dsstdat="2022-03-04", outcome="9"),
    ]
    got = adtl.expected_counts(TINY, rows)
    # observations: S1 row 1 -> symptom_0 + oxygen(95); row 2 -> pao2 +
    # fever_followup(flw_1=0); S2 -> oxygen(120, invalid); S3 -> symptom_2 +
    # fever_followup(flw_3=1); flw_2=2 and sym_1=3 are unmapped
    assert got == {
        "rows": {"subject": 4, "observation": 7, "metadata": 1},
        "valid": {"subject": 1, "observation": 6},
    }


def test_expected_counts_from_generated_file(tmp_path):
    inputs = adtl.write_inputs(TINY, 1, tmp_path)
    got = adtl.expected_counts_from_file(TINY, inputs.source)
    assert got["rows"]["subject"] == TINY.subjects
    assert 0 < got["valid"]["subject"] <= TINY.subjects
    assert 0 < got["valid"]["observation"] <= got["rows"]["observation"]


def test_metric_names_match_benchmark_json():
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == per_layer_names()
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)
    assert bench["paths"] == [BENCH_DIR.name]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / BENCH_DIR.name)
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, f"{BENCH_DIR.name}/run.py", "--workload", "adtl_bulk_cli",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
