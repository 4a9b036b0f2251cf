"""Tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from decimal import Decimal
from itertools import islice

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from core import (  # noqa: E402
    MALFORMED,
    WarehouseModel,
    digest,
    iter_runs,
    seeded_order,
    tail,
    timed,
)
from instruments import Tracer, _cpu_ticks, attribute_jobs, self_times, tree_cpu_s  # noqa: E402
from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import STREAM_JOBS, WORKLOADS, Workload  # noqa: E402

# ---------------------------------------------------------------- tail rule


def test_tail_keeps_ten_samples_beyond_and_records_pct_and_n():
    values = [float(i) for i in range(1, 101)]
    t = tail(values)
    assert t == {"value": 90.0, "pct": 90, "n": 100}
    assert sum(v > t["value"] for v in values) == 10


@pytest.mark.parametrize("n", [11, 12, 20, 37, 64, 250, 1000])
def test_tail_is_the_highest_percentile_with_ten_beyond(n):
    values = [float(i) for i in range(n)]
    t = tail(values)
    assert t["n"] == n
    assert sum(v > t["value"] for v in values) >= 10
    # One percentile higher would leave fewer than ten samples beyond.
    rank = math.ceil((t["pct"] + 1) / 100.0 * n)
    assert n - rank < 10


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)
    assert tail([1.0] * 11)["pct"] == 9


def test_tail_ignores_input_order():
    values = [3.0, 1.0, 2.0] * 7
    assert tail(values) == tail(sorted(values))


# ------------------------------------------------------- seed determinism


def _runs(seed, n=4):
    return [(r.base, r.fetched_at, r.payload, r.probe_code) for r in islice(iter_runs(seed), n)]


def test_payloads_repeat_for_a_seed_and_differ_across_seeds():
    assert _runs(7) == _runs(7)
    assert _runs(7) != _runs(8)


def test_payloads_carry_malformed_values_and_replays():
    runs = list(islice(iter_runs(3), 60))
    quotes = [v for r in runs for v in r.payload["quotes"].values()]
    bad = sum(v in MALFORMED for v in quotes) / len(quotes)
    assert 0.005 < bad < 0.02
    assert all(1900 <= len(r.payload["quotes"]) <= 2100 for r in runs)
    replays = sum(r.fetched_at < runs[i - 1].fetched_at for i, r in enumerate(runs) if i)
    assert replays >= 1
    for r in runs:
        assert set(r.valid) == {
            k[len(r.base):] for k, v in r.payload["quotes"].items() if v not in MALFORMED
        }


def test_request_order_repeats_for_a_seed():
    jobs = list(STREAM_JOBS)
    assert seeded_order(jobs, 5, "jobs") == seeded_order(jobs, 5, "jobs")
    assert sorted(seeded_order(jobs, 5, "jobs")) == sorted(jobs)
    orders = {tuple(seeded_order(jobs, s, "jobs")) for s in range(20)}
    assert len(orders) > 1


# ------------------------------------------------------------------ model


def test_model_is_strict_newest_wins():
    (run0, run1) = islice(iter_runs(11), 2)
    m = WarehouseModel()
    assert m.load(run0) == len(run0.valid)
    # The same delivery again: equal timestamps keep the existing rows.
    assert m.load(run0) == 0
    older = type(run0)(9, run0.base, "2000-01-01 00:00:00", run0.payload, dict.fromkeys(run0.valid, 1.0), run0.probe_code)
    assert m.load(older) == 0
    key = (run0.base, run0.probe_code)
    assert m.current[key][0] == run0.valid[run0.probe_code]
    assert m.history_rows == 3 * len(run0.valid)
    assert m.history_as_of(key, "1999-12-31 23:59:59") is None
    assert m.history_as_of(key, "2000-01-01 00:00:00") == ("2000-01-01 00:00:00", 1.0)


# ---------------------------------------------------------------- digests


def test_digest_ignores_column_and_row_order():
    a = digest(["x", "y"], [(1, "a"), (2, "b")])
    assert a == digest(["y", "x"], [("b", 2), ("a", 1)])
    assert a != digest(["x", "y"], [(1, "a"), (2, "c")])


def test_digest_canonicalizes_like_the_oracle_harness():
    assert digest(["v"], [(-0.0,)]) == digest(["v"], [(0.0,)])
    assert digest(["v"], [(float("nan"),)]) == digest(["v"], [(None,)])
    assert digest(["v"], [(True,)]) == digest(["v"], [(1,)])
    assert digest(["v"], [(Decimal("1.50"),)]) == digest(["v"], [(Decimal("1.5"),)])
    assert digest(["v"], [(5,)]) == digest(["v"], [(Decimal(5),)]) == digest(["v"], [(5.0,)])
    assert digest(["v"], [(0.1,)]) != digest(["v"], [(0.2,)])
    assert digest(["v"], [(None,)]) != digest(["v"], [("N",)])


# ------------------------------------------------- counters outside timing


def test_counters_are_read_after_the_timed_region_closes():
    events = []
    ticks = iter([10.0, 12.5])

    def clock():
        events.append("clock")
        return next(ticks)

    seconds, result, counters = timed(
        lambda: events.append("op") or "out",
        after=lambda: events.append("counters") or {"jobs": 3},
        clock=clock,
    )
    assert events == ["clock", "op", "clock", "counters"]
    assert (seconds, result, counters) == (2.5, "out", {"jobs": 3})


def test_workload_ops_read_counters_outside_the_timed_region():
    events = []

    class FakeCounters:
        def since(self, mark):
            events.append(("since", mark))
            time.sleep(0.2)
            return {"jobs": 1}

    w = Workload(None, "", "", 0, Tracer(False))
    w.counters = FakeCounters()
    seconds, result, cpu, counters = w._timed_op(lambda: events.append("op") or 42, mark=(1, 2))
    assert events == ["op", ("since", (1, 2))]
    assert (result, counters) == (42, {"jobs": 1})
    assert seconds < 0.1 and cpu >= 0.0
    # Untraced ops read no counters at all.
    assert w._timed_op(lambda: None, mark=None)[3] is None


# ------------------------------------------------------------------ spans


def _span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "request": "r",
            "start": start, "end": end, "wall_start": start, "wall_end": end}


def test_cpu_ticks_reads_a_thread_name_with_spaces_and_parentheses():
    fields = ["S", *["0"] * 10, "700", "42", "5", "6"]
    comm, ticks = _cpu_ticks("4711 (C2 CompilerThre) " + " ".join(fields))
    assert (comm, ticks) == ("C2 CompilerThre", 742)
    comm, ticks = _cpu_ticks("12 (a) b (c)) " + " ".join(fields))
    assert (comm, ticks) == ("a) b (c)", 742)


def test_tree_cpu_counts_this_process():
    t0 = tree_cpu_s(os.getpid())
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    assert 0.2 <= tree_cpu_s(os.getpid()) - t0 <= 1.0


def test_self_time_subtracts_children():
    spans = [_span(0, "run", None, 0.0, 10.0), _span(1, "a", 0, 1.0, 4.0), _span(2, "b", 0, 5.0, 9.0)]
    assert self_times(spans) == {"run": 3.0, "a": 3.0, "b": 4.0}


def test_jobs_go_to_the_innermost_span():
    spans = [_span(0, "run", None, 0.0, 10.0), _span(1, "a", 0, 1.0, 4.0)]
    jobs = [{"submitted": 2.0}, {"submitted": 6.0}, {"submitted": 11.0}]
    assert attribute_jobs(spans, jobs) == {"a": 1, "run": 1, "(outside spans)": 1}


# ---------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert spec["command"] == ["python3", "perfbench/run.py"]
