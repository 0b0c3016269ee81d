"""Smoke tests for the benchmark itself, at sf0.001 and a handful of cycles.

Run from the repository root: ``python -m pytest perfbench/test_smoke.py -q``.
All runs share one SparkSession in this process.
"""

from __future__ import annotations

import dataclasses
import json
import shutil
from argparse import Namespace
from pathlib import Path

import pytest

import run

BENCH = json.loads((run.ROOT / "BENCHMARK.json").read_text())
LISTED = {w["name"] for w in BENCH["workloads"]}


@pytest.fixture(scope="module")
def spark():
    run.prepare_environment(run.WORK)
    from weather_etl_spark import get_spark

    session = get_spark("perfbench-smoke", master="local[2]")
    yield session
    session.stop()


@pytest.fixture
def small(monkeypatch):
    import workloads

    monkeypatch.setattr(workloads, "WARMUP_MIN", 2)
    monkeypatch.setattr(workloads, "WARMUP_CAP", 2)


def go(spark, workload, trace):
    args = Namespace(workload=workload, seed=7, seconds=0.1, trace=trace)
    return run.run_workload(args, spark_factory=lambda *a, **k: spark, data="sf0.001")


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_every_declared_metric_is_emitted_with_its_unit(spark, small, workload):
    for trace, declared in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
        record, result = go(spark, workload, trace)
        assert result["failed"] == 0, record["failures"]
        assert result["correct"] and result["attempted"] >= 1
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        want = {m["name"]: m["unit"] for m in declared}
        if workload in LISTED:
            assert got == want
        else:  # a hand-run workload adds its own per-query metrics
            assert want.items() <= got.items()
        assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
        if workload == "incremental_cycles":  # a fixed count, however fast
            import workloads

            assert len(record["timed_s"]) == workloads.timed_blocks(0.1) * workloads.BLOCK
        if trace:
            spans_nest_with_nonnegative_self_time(record["spans"])


def spans_nest_with_nonnegative_self_time(spans):
    from layers import self_times

    assert spans
    by_id = {s["span_id"]: s for s in spans}
    for s in spans:
        assert s["start"] <= s["end"]
        parent = by_id.get(s["parent_id"])
        if s["parent_id"] is not None:
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"], s
    assert all(v >= 0 for v in self_times(spans).values())


def test_planted_wrong_query_result_is_a_failure(spark, small, monkeypatch):
    from weather_etl_spark import registry

    registry.load_all()
    spec = registry.REGISTRY["q_agg_q1"]

    def wrong(session, sf_dir):
        df = spec.fn(session, sf_dir)
        return df.unionByName(df.limit(1))  # one extra row

    monkeypatch.setitem(registry.REGISTRY, "q_agg_q1", dataclasses.replace(spec, fn=wrong))
    record, result = go(spark, "analytics_sf001", 0)
    assert result["failed"] >= 1 and not result["correct"]
    assert {f["kind"] for f in record["failures"]} == {"oracle_mismatch"}
    assert all(f["op"].startswith("q_agg_q1@") for f in record["failures"])


def test_planted_duplicate_sink_row_is_a_failure(spark, small, monkeypatch):
    import workloads

    check = workloads.IncrementalWorkload.check_sink

    def planted(self):
        part = sorted(Path(self.sink).glob("part-*.parquet"))[-1]
        shutil.copy(part, part.with_name("part-planted-duplicate.parquet"))
        return check(self)

    monkeypatch.setattr(workloads.IncrementalWorkload, "check_sink", planted)
    record, result = go(spark, "incremental_cycles", 0)
    assert result["failed"] >= 1 and not result["correct"]
    assert {f["kind"] for f in record["failures"]} == {"sink_keys"}
    assert any("duplicate" in f["detail"] for f in record["failures"])
