"""Self-test of the benchmark at toy size (slow: each run starts a JVM).

    python3 -m pytest perfbench/ -q -p no:cacheprovider

Runs each workload once, untraced and traced, through ``run.main`` with
the sizes and round counts shrunk in-process, and checks that every metric
BENCHMARK.json names is reported with its unit. Then checks that the
correctness gate counts an op as failed, and the run goes on, when the
expectation is wrong.
"""

from __future__ import annotations

import io
import json
from contextlib import redirect_stdout
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TOY = {"CORPUS_ROWS": 2000, "BATCH_ROWS": 1000, "SETUP_ROUNDS": 1,
       "MIN_OPS": 1}


@pytest.fixture
def run(monkeypatch):
    from perfbench import run
    for name, value in TOY.items():
        monkeypatch.setattr(run, name, value)
    return run


def _main(run, workload: str, trace: int, seconds: float = 1) -> dict:
    buf = io.StringIO()
    with redirect_stdout(buf):
        code = run.main(["--workload", workload, "--seed", "3",
                         "--seconds", str(seconds), "--trace", str(trace)])
    assert code == 0
    return json.loads(buf.getvalue().strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_reports_every_metric(run, workload, trace):
    out = _main(run, workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["attempted"] >= 1 and out["failed"] == 0
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in out["metrics"].items()}
    for k, v in out["metrics"].items():
        assert isinstance(v["value"], float), k
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_gate_fails_op_on_wrong_expectation(run, monkeypatch):
    from perfbench import oracle

    real = oracle.corpus_expectation

    def off_by_one(n_rows, drift_count):
        exp = real(n_rows, drift_count)
        exp.counts[("REQ-001", "FIELD_REQUIRED")] += 1
        return exp
    monkeypatch.setattr(oracle, "corpus_expectation", off_by_one)
    monkeypatch.setattr(run, "MIN_OPS", 2)
    out = _main(run, "corpus_scan", 0, seconds=0)
    assert out["correct"] is False
    assert out["attempted"] == 2 and out["failed"] == 2


def test_band_arithmetic_matches_duckdb(run, tmp_path):
    """The two independent oracles agree on a dirty corpus without drift
    rows: band arithmetic for the seeded rules, DuckDB over the files."""
    from fhir_data_validation_spark.session import get_spark

    from perfbench import oracle
    from perfbench.workloads import Sizes, generate_inputs
    run.configure_env(tmp_path)
    spark = get_spark(cores=2)
    try:
        generate_inputs(spark, "corpus_scan", Sizes(2000, 1000), 3, 2,
                        tmp_path / "inputs")
    finally:
        run.stop_spark(spark)
    files = sorted(str(p) for p in
                   (tmp_path / "inputs" / "corpus").glob("*.parquet"))
    duck = oracle.delta_expectation(files)
    band = oracle.corpus_expectation(2000, drift_count=0)
    assert duck.counts == band.counts
    # the band expectation has one more rule (Drift) per group
    groups = (band.verdict_rows - 1) // (len(oracle.DEFAULT_CODES) + 1)
    assert duck.verdict_rows == groups * len(oracle.DEFAULT_CODES) + 1
