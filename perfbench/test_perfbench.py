"""Tests of the benchmark itself: the definition file matches the code,
each output check rejects a corrupted result, and a tiny run of each
workload completes correctly.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import checks, gen
from perfbench.common import ROOT, tail
from perfbench.metrics import END_TO_END, MIX, PER_LAYER, WORKLOADS

#: registry entries known to miss their oracle on some generated tables;
#: they are left out of the query mix so that no seed fails a run
KNOWN_DEFECTS = ("tpch_q9_product_profit", "daily_rollup_events", "tpch_q3_shipping_priority")

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_metrics():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert 1 <= b["run_seconds"] <= 60
    assert {w["name"]: w["why"] for w in b["workloads"]} == WORKLOADS
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]] == [
        (k, u, bt, bd) for k, (u, bt, bd, _) in END_TO_END.items()]
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == [(k, u) for k, (u, _) in PER_LAYER.items()]
    names = [w["name"] for w in b["workloads"]] + list(END_TO_END) + list(PER_LAYER)
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert max(b["end_to_end"], key=lambda m: m["bound"])["name"] == "setup_s"


def test_tail_needs_ten_samples_above():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    value, pct, above = tail(xs)
    assert (value, pct, above) == (30.0, 75.0, 10)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def _records():
    return [gen.observation(c, dt.date(2024, 3, 1) + dt.timedelta(days=d), h, 5)
            for c in gen.cities(4, 5) for d in range(2) for h in range(0, 24, 3)]


def _as_rows(expected: dict) -> list[dict]:
    """Daily rows the way the warehouse returns them: one value per column."""
    pick = lambda v: min(v) if isinstance(v, set) else v  # noqa: E731
    return [{"dt": dt.date.fromisoformat(day), **{k: pick(v) for k, v in cols.items()}}
            for day, cols in expected.items()]


def test_daily_check_accepts_reference_and_rejects_tampering():
    expected = checks.reference_daily(_records())
    rows = _as_rows(expected)
    assert checks.check_daily(rows, expected) == []

    tampered = [dict(r) for r in rows]
    tampered[0]["avg_temp"] += 0.01
    assert any("avg_temp" in p for p in checks.check_daily(tampered, expected))
    tampered = [dict(r) for r in rows]
    tampered[1]["till_time"] = "EOD" if tampered[1]["till_time"] != "EOD" else "12:00:00"
    assert any("till_time" in p for p in checks.check_daily(tampered, expected))
    assert any("missing day" in p for p in checks.check_daily(rows[1:], expected))
    assert any("duplicate" in p for p in checks.check_daily(rows + rows[:1], expected))


def test_rounding_accepts_either_neighbour_only_at_a_tie():
    from fractions import Fraction

    assert checks._rounded(Fraction(21845, 1000), 2) == {21.84, 21.85}
    assert checks._rounded(Fraction(21846, 1000), 2) == {21.85}


def test_pipeline_invariants():
    ok = dict(raw_rows=10, expected_raw=10, success_logs=3, nonempty_batches=3,
              error_logs=0, quarantined=0)
    assert checks.check_pipeline(**ok) == []
    for key, bad in [("raw_rows", 20), ("success_logs", 2), ("error_logs", 1), ("quarantined", 4)]:
        assert checks.check_pipeline(**{**ok, key: bad}), key


def test_query_oracle_rejects_dropped_and_changed_rows(tmp_path):
    import pyarrow as pa

    from weather_data_ingestion_gcp_spark.plans import ORACLE

    tables = str(tmp_path / "tables")
    gen.write_query_tables(tables, seed=7, scale=0.05)
    oracle = checks.QueryOracle(tables, ORACLE)
    try:
        name = "daily_rollup_events"
        rel = oracle.con.execute(ORACLE[name])
        good = rel.arrow()
        if isinstance(good, pa.RecordBatchReader):
            good = good.read_all()
        types = {"dt": "date", "avg_value": "double", "max_value": "double",
                 "min_value": "double", "n_events": "bigint", "n_users": "bigint",
                 "month": "bigint", "till_time": "string"}
        assert oracle.check(name, good, types) == []
        assert oracle.check(name, good.slice(1), types)
        changed = good.set_column(
            good.column_names.index("n_events"), "n_events",
            pa.array([v + 1 for v in good.column("n_events").to_pylist()], pa.int64()))
        assert oracle.check(name, changed, types)
        assert oracle.check(name, good, {**types, "n_events": "decimal(38,0)"})
    finally:
        oracle.close()


def test_generators_are_deterministic(tmp_path):
    import pyarrow.parquet as pq

    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_query_tables(str(a), seed=3, scale=0.05)
    gen.write_query_tables(str(b), seed=3, scale=0.05)
    for t in checks.TABLES:
        assert pq.read_table(a / f"{t}.parquet").equals(pq.read_table(b / f"{t}.parquet")), t
    assert gen.write_backfill(str(a / "l"), 2, 3, 2, 9) == gen.write_backfill(str(b / "l"), 2, 3, 2, 9)


def test_new_batches_are_counted_per_cycle():
    from types import SimpleNamespace as NS

    from perfbench.pipeline import _Batches

    query = NS(recentProgress=[NS(batchId=0, numInputRows=5), NS(batchId=1, numInputRows=0)])
    b = _Batches()
    assert b.new_since(query, set(), wait_s=0) == [0]
    query.recentProgress += [NS(batchId=2, numInputRows=1), NS(batchId=3, numInputRows=1)]
    assert b.new_since(query, {0}, wait_s=0) == [2, 3]
    assert b.new_since(query, {0, 2, 3}, wait_s=0) == []


def test_mix_is_in_registry_order():
    from weather_data_ingestion_gcp_spark.plans import ORACLE, QUERIES

    assert MIX == [n for n in QUERIES if n in set(MIX)]
    assert all(n in ORACLE for n in MIX)


def _run(args, cwd=ROOT, timeout=300):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the run
    exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(["--workload", "pipeline", "--seed", "1", "--seconds", "1", "--trace", "0"],
               cwd=tmp_path, timeout=170)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


@pytest.mark.xfail(strict=True, raises=AssertionError, reason=(
    "defect: the entry rounds a double SUM or AVG that lands on an exact tie on "
    "these tables, so Spark and DuckDB round it apart; left out of the query_mix "
    "workload for that reason"))
@pytest.mark.parametrize("entry,seed", [("tpch_q9_product_profit", 1), ("daily_rollup_events", 604),
                                        ("tpch_q3_shipping_priority", 802)])
def test_known_defect_matches_its_oracle_on_generated_tables(tmp_path, entry, seed):
    assert entry in KNOWN_DEFECTS and entry not in MIX
    tables = str(tmp_path / "tables")
    gen.write_query_tables(tables, seed=seed)
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="2g")
    out = subprocess.run([sys.executable, "tools/parity.py", tables, entry],
                         cwd=ROOT, env=env, capture_output=True, text=True, timeout=300)
    if f"{entry}:" not in out.stdout:
        pytest.fail(f"the comparison did not run: {out.stderr[-2000:]}")
    assert out.returncode == 0, out.stdout[-2000:]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_is_correct(workload, trace):
    out = _run(["--workload", workload, "--seed", "2", "--seconds", "1", "--trace", str(trace),
                "--scale", "0.2"])
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    record, result = json.loads(lines[-2])["record"], json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    # no operation fails, and a failure would be reported
    assert result["correct"] and result["failed"] == 0 and not record["problems"], record["problems"]
    if workload == "pipeline":
        assert record["batches_per_cycle"] == [1] * len(record["batches_per_cycle"])
        assert sum(record["day_boundary_cycle_s"]) > 0
    want = PER_LAYER if trace else END_TO_END
    assert list(result["metrics"]) == list(want)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))
