"""The benchmark's own checks: its outcome model agrees exactly with the
engine on a tiny seeded log, and its tracing arithmetic is right.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import cdcgen  # noqa: E402
import common  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_generator_is_deterministic_and_mixes_every_case():
    a = cdcgen.generate(7, 3000, 1_790_000_000_000, 500)
    b = cdcgen.generate(7, 3000, 1_790_000_000_000, 500)
    assert a.lines == b.lines and a.outcome.events == b.outcome.events
    o = a.outcome
    types = {t for t, _, _ in o.events.values()}
    assert {"AttendanceMarked", "SalaryAdjusted", "LeaveRequested",
            "EmployeeDataUpdated"} <= types
    assert o.redeliveries > 0 and o.dlq
    # redeliveries are verbatim copies of earlier lines
    lines = [line for _, line in a.lines]
    assert len(lines) - len(set(lines)) == o.redeliveries
    assert cdcgen.generate(8, 3000, 1_790_000_000_000, 500).lines != a.lines


def test_rule_model_on_reference_boundary_cases():
    emp = {"id": 1, "position_id": "IC3", "department_id": 1,
           "manager_id": None, "salary": 120000.0, "status": "active"}
    ev = cdcgen.domain_events
    # salary-only update is not a promotion
    assert ev("employees", "u", emp, {**emp, "salary": 130000.0}) == [
        ("EmployeeDataUpdated", 1)]
    # position change with a salary decrease is not a promotion either
    assert ev("employees", "u", emp,
              {**emp, "position_id": "IC2", "salary": 100000.0}) == [
        ("EmployeeDataUpdated", 1)]
    assert ev("employees", "u", emp,
              {**emp, "position_id": "IC5", "salary": 180000.0}) == [
        ("EmployeePromoted", 1)]
    assert ev("employees", "u", emp, {**emp, "department_id": 3}) == [
        ("EmployeeTransferred", 1)]
    assert ev("employees", "u", emp, {**emp, "manager_id": 9}) == [
        ("ManagerAssigned", 1)]
    assert ev("employees", "d", emp, None) == []
    assert ev("employees", "r", None, emp) == []


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer("t")
    tr.spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0, "name": "p"},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0, "name": "c"},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0, "name": "c"},
        {"id": 4, "parent": 1, "start": 8.0, "end": 12.0, "name": "c"},
    ]
    selfs = tr.self_ms()
    assert selfs[1] == pytest.approx((10 - 5 - 2) * 1000)
    assert selfs[2] == pytest.approx(3000)


def test_percentile_interpolates():
    assert common.pct([1, 2, 3, 4], 50) == 2.5
    assert common.pct([5], 95) == 5
    assert common.pct(range(101), 90) == 90


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from debezium_nats_cdc_spark.session import get_session
    s = get_session("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_model_matches_run_pipeline_until_done(spark, tmp_path):
    """On a tiny seed, the engine's stored events, dead letters and state
    equal the model exactly, and it dropped exactly the redeliveries."""
    import cdc
    from debezium_nats_cdc_spark.streaming.pipeline import (
        PipelineDirs, run_pipeline_until_done)
    # 500 events/s: the 1500 changes span 3 s, so redeliveries (0.5-3 s
    # later) land inside the log
    gen = cdcgen.generate(3, 1500, 1_790_000_000_000, 500)
    log = str(tmp_path / "log")
    cdcgen.write_files(gen.lines, log, 250.0)
    dirs = PipelineDirs.under(str(tmp_path / "out"))
    cdc.seed_state(spark, gen.snapshot, gen.snapshot_ts_ms,
                   str(tmp_path / "snap"), dirs, 2)
    run_pipeline_until_done(spark, log, str(tmp_path / "out"), concurrent=True)
    out = cdc.read_outputs(dirs)
    checks = cdc.check_outputs(dirs, gen.outcome, out)
    assert checks == {"missing": 0, "extra": 0, "duplicated": 0,
                      "dlq_wrong": 0, "state_wrong": 0}
    assert len(out["events"]) == len(gen.outcome.events)
    assert len(out["dlq"]) == len(gen.outcome.dlq) > 0
    assert gen.outcome.redeliveries > 0  # and none of them was stored twice
    # the engine's own read path agrees with the model's current state
    from debezium_nats_cdc_spark.streaming.pipeline import read_state
    got = {r[0] for r in read_state(spark, dirs, "employees")
           .select("id").collect()}
    assert got == set(gen.outcome.live_rows("employees"))
