"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import threading
import time
from decimal import Decimal

import pytest

from perfbench import engine, oracle
from perfbench.statusstore import attribute, parse_metric
from perfbench.trace import (Tracer, covered, latency_summary, self_times,
                             tail_percentile)
from perfbench.workloads import LAYERS, WORKLOADS

REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_and_workload_names_use_the_allowed_alphabet(spec):
    names = [w["name"] for w in spec["workloads"]]
    for group in ("end_to_end", "per_layer"):
        for m in spec[group]:
            assert NAME.match(m["name"]), m["name"]
            assert UNIT.match(m["unit"]), m["unit"]
            assert m["better"] in ("lower", "higher")
            names.append(m["name"])
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))


def test_spec_matches_what_the_runner_reports(spec):
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    layer_metrics = {m for row in LAYERS.values() for m in row["metrics"]}
    assert {m["name"] for m in spec["per_layer"]} <= layer_metrics
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


@pytest.mark.parametrize("n, p", [
    (1, 100), (10, 100), (19, 100), (20, 50), (28, 64), (100, 90),
    (250, 96), (1000, 99), (10_000, 99)])
def test_tail_percentile_for_n(n, p):
    assert tail_percentile(n) == p


@pytest.mark.parametrize("n", [20, 21, 28, 57, 100, 333])
def test_tail_leaves_at_least_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    s = latency_summary(values)
    beyond = sum(1 for v in values if v > s["tail"])
    assert beyond >= 10
    # and it is the highest percentile that does
    assert tail_percentile(n) == 100 or \
        (tail_percentile(n) + 1) * n / 100 > n - 10
    assert s["n"] == n and s["p50"] == (n - 1) / 2


def test_small_samples_report_the_maximum():
    s = latency_summary([3.0, 1.0, 2.0])
    assert (s["tail"], s["tail_percentile"]) == (3.0, 100)


def test_span_self_times_sum_to_op_wall():
    tracer = Tracer(True)
    with tracer.span("op"):
        time.sleep(0.002)
        with tracer.span("queries.construct"):
            time.sleep(0.003)
            with tracer.span("materialize"):
                time.sleep(0.002)
        with tracer.span("spark.action"):
            time.sleep(0.004)
        time.sleep(0.001)
    own = self_times(tracer.spans)
    op = tracer.spans[0]
    assert sum(own.values()) == pytest.approx(op["end"] - op["start"],
                                              abs=1e-9)
    assert all(v >= 0 for v in own.values())


def test_threads_nest_their_own_spans():
    tracer = Tracer(True)
    barrier = threading.Barrier(2)

    def client(name):
        with tracer.span("op", client=name):
            barrier.wait(timeout=5)  # both ops are open at once
            with tracer.span("gateway.wait", client=name):
                barrier.wait(timeout=5)

    threads = [threading.Thread(target=client, args=(n,)) for n in "ab"]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    by_id = {s["id"]: s for s in tracer.spans}
    waits = [s for s in tracer.spans if s["name"] == "gateway.wait"]
    assert len(waits) == 2
    for w in waits:
        assert by_id[w["parent"]]["client"] == w["client"]


def test_disabled_tracer_records_nothing():
    tracer = Tracer(False)
    with tracer.span("op") as s:
        assert s is None
    assert tracer.spans == []


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6), (8, 12)], 0, 10) == \
        pytest.approx(6.0)
    assert covered([], 0, 1) == 0.0


def test_jobs_of_overlapping_gateway_clients_go_to_their_own_op():
    ops = [
        {"id": 0, "handle": "h-a", "start": 100.0, "end": 103.0},
        {"id": 1, "handle": "h-b", "start": 101.0, "end": 104.0},
        {"id": 2, "start": 110.0, "end": 111.0},
    ]
    jobs = [
        {"id": 1, "group": "h-b", "submit": 101.5},  # inside both windows
        {"id": 2, "group": "h-a", "submit": 102.5},  # inside both windows
        {"id": 3, "group": "h-a", "submit": 100.2},
        {"id": 4, "group": None, "submit": 102.0},   # ambiguous: dropped
        {"id": 5, "group": None, "submit": 110.5},   # one window
        {"id": 6, "group": "warm-up", "submit": 90.0},
        # an untraced statement of either client, inside op 0's window
        {"id": 7, "group": "h-untraced", "submit": 100.5},
        {"id": 8, "group": "h-untraced", "submit": 110.5},
    ]
    got = {k: sorted(j["id"] for j in v)
           for k, v in attribute(jobs, ops).items()}
    assert got == {0: [2, 3], 1: [1], 2: [5]}


def test_pinned_environment_leaves_engine_settings_at_default(
        tmp_path, monkeypatch):
    for name in engine.ENGINE_DEFAULTS:
        monkeypatch.setenv(name, "caller-value")
    saved, saved_tmp = dict(os.environ), tempfile.tempdir
    try:
        engine.pin_environment(str(tmp_path))
        env = engine.describe()
    finally:
        os.environ.clear()
        os.environ.update(saved)
        tempfile.tempdir = saved_tmp
    assert env["master"] == f"local[{engine.cpus()}]"
    assert env["engine_env"]["SPARK_GRAFT_CPUS"] == str(engine.cpus())
    assert all(env["engine_env"][name] is None
               for name in engine.ENGINE_DEFAULTS)


ROWS = [(1, "a", 0.5), (2, "b", 1.25), (3, "c", None)]
COLS = ["k", "name", "v"]


def _expected(rows):
    return {"rows": len(rows), "digest": oracle.digest(rows, COLS)}


def test_check_accepts_the_oracle_result_in_any_order():
    exp = _expected(ROWS)
    assert oracle.check_rows("q", list(reversed(ROWS)), COLS, exp) is None
    # column order does not matter either
    swapped = [(r[1], r[0], r[2]) for r in ROWS]
    assert oracle.check_rows("q", swapped, ["name", "k", "v"], exp) is None


@pytest.mark.parametrize("variant", [
    [(1, "a", 0.5), (2, "b", 1.5), (3, "c", None)],  # perturbed
    ROWS[:2],                                       # dropped
    [],                                             # empty
    [*ROWS, ROWS[0]],                               # duplicated
])
def test_check_flags_wrong_results(variant):
    assert oracle.check_rows("q", variant, COLS, _expected(ROWS))


def test_self_test_flags_perturbed_dropped_and_empty():
    exp = _expected(ROWS)
    assert oracle.self_test(
        ROWS, lambda v: oracle.check_rows("q", v, COLS, exp) is not None) == []


def test_self_test_reports_a_check_that_flags_nothing():
    assert oracle.self_test(ROWS, lambda v: False) == [
        "perturbed row", "dropped row", "empty result"]


def test_gateway_results_compare_exactly_across_engines():
    types = ["BIGINT", "DECIMAL(28,4)", "DOUBLE", "STRING"]
    gateway = [[3, "12.5000", 0.1, "x"], [1, None, 2.0, "y"]]
    duck = [(1, None, 2.0, "y"), (3, Decimal("12.5000"), 0.1, "x")]
    cols = ["n", "total", "hi", "name"]
    assert oracle.canonical_result(cols, types, gateway) == \
        oracle.canonical_result(cols, types, duck)
    duck[1] = (3, Decimal("12.5001"), 0.1, "x")
    assert oracle.canonical_result(cols, types, gateway) != \
        oracle.canonical_result(cols, types, duck)


@pytest.mark.parametrize("text, value", [
    ("849 ms", 0.849), ("2.3 s", 2.3), ("1.5 m", 90.0), ("6,000", 6000.0),
    ("63.6 KiB", 63.6 / 1024), ("2.0 MiB", 2.0),
    ("total (min, med, max (stageId: taskId))\n7.1 s (1.7 s, 1.8 s, 1.9 s "
     "(stage 3.0: task 5))", 7.1),
])
def test_parse_sql_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_stored_digests_cover_every_batch_query():
    from perfbench.workloads import BATCH, SF

    stored = oracle.load_digests(oracle.fixtures_dir(SF))
    for names in BATCH.values():
        assert set(names) <= set(stored)
