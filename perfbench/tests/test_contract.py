"""BENCHMARK.json agrees with what the benchmark prints, and the per-layer
reduction accounts for every job span."""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import run, trace

SPEC = os.path.join(run.ROOT, "BENCHMARK.json")


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def test_spec_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(name.match(n) for n in names)
    assert all(unit.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_workloads_match(spec):
    from perfbench import workloads

    assert tuple(w["name"] for w in spec["workloads"]) == workloads.WORKLOADS


def test_end_to_end_names_and_units_match(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS


def _fake_trace():
    """Two passes of one catalog query: job span [0, 10] holding build
    [0, 3], plan [3, 4] and exec [4, 9.5]; one job of the pass runs in the
    build, two in the exec."""
    tracer = trace.Tracer()
    groups = {}
    for p in (0, 1):
        base = 100.0 * p
        job = tracer.open("q", "job", group=f"p{p}|q|job", pinned_rdds=1, pinned_mb=2.0)
        for kind, (s, e) in (("build", (0, 3)), ("plan", (3, 4)), ("exec", (4, 9.5))):
            sid = tracer.open("q", kind, group=f"p{p}|q|{kind}")
            tracer.close(sid)
            tracer.spans[sid].start, tracer.spans[sid].end = base + s, base + e
        tracer.close(job)
        tracer.spans[job].start, tracer.spans[job].end = base, base + 10
        for kind, jobs, (s, e) in (("build", 1, (1, 2)), ("exec", 2, (4, 9))):
            st = trace.GroupStats()
            st.counters["jobs"] = jobs
            st.counters["executor_run_s"] = 8.0 if kind == "exec" else 0.0
            st.job_intervals = [(base + s, base + e)]
            groups[f"p{p}|q|{kind}"] = st
    groups[""] = trace.GroupStats()
    return tracer, groups


def test_per_layer_names_units_and_accounting(spec):
    tracer, groups = _fake_trace()
    passes = [{"wall": 10.0}, {"wall": 10.0}]
    out = run.per_layer(
        tracer, groups, passes, [{"wall": 9.0}], [(1.0, 2.0)], (0.5, 0.1), (900.0, 200.0),
        {"wall": 12.0},
    )
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: run.layer_unit(k) for k in out
    }
    assert out["plans.build_s"] == pytest.approx(3.0)
    assert out["plans.plan_s"] == pytest.approx(1.0)
    assert out["plans.exec_s"] == pytest.approx(5.5)
    assert out["trace.self_s"] == pytest.approx(0.5)
    # The layers account for the whole job span.
    total = out["plans.build_s"] + out["plans.plan_s"] + out["plans.exec_s"] + out["trace.self_s"]
    assert total == pytest.approx(10.0)
    assert out["plans.build_jobs"] == 1 and out["plans.exec_jobs"] == 2
    assert out["spark.jobs"] == 3
    # Jobs cover [1, 2] and [4, 9] of the 10 s span.
    assert out["spark.no_job_s"] == pytest.approx(4.0)
    assert out["spark.core_busy_frac"] == pytest.approx(8.0 / (10.0 * run.cores()))
    assert out["operators.pinned_rdds"] == 1 and out["operators.pinned_mb"] == 2.0
    assert out["trace.overhead_s"] == pytest.approx(1.0)
    assert out["session.start_s"] == 1.0 and out["session.warmup_s"] == 2.0
    assert out["session.cold_pass_s"] == 12.0
