"""Spark-free unit tests of the benchmark's helpers.

    python3 -m pytest perfbench
"""

from __future__ import annotations

import pytest

from perfbench import gen
from perfbench.stats import (
    check_chain,
    check_exactly_once,
    fixed_tail,
    self_time,
    self_times,
)
from perfbench.trace import Tracer


# ---- the >=10-beyond percentile rule --------------------------------------


def test_fixed_tail_percentile_does_not_move_with_sample_count():
    # p90 at n=100: exactly 10 beyond with 100 samples, 100 beyond with 1000
    assert fixed_tail(list(range(100)), 100) == 89
    assert fixed_tail(list(range(1000)), 100) == 899
    values = list(range(250))
    k = fixed_tail(values, 100)
    assert sum(v > k for v in values) >= 10


def test_fixed_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        fixed_tail(list(range(99)), 100)


# ---- span self time -------------------------------------------------------


def _span(i, start, end, parent=None):
    return {"id": i, "start": start, "end": end, "parent": parent}


def test_self_time_without_children_is_duration():
    assert self_time(_span(0, 2.0, 5.0), []) == 3.0


def test_self_time_counts_overlapping_children_once():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0)]
    assert self_time(parent, kids) == pytest.approx(6.0)


def test_self_time_clips_children_to_the_parent():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 8.0, 12.0, 0), _span(2, -3.0, -1.0, 0)]
    assert self_time(parent, kids) == pytest.approx(8.0)


def test_self_times_uses_direct_children_only():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 9.0, 0),
        _span(2, 2.0, 8.0, 1),
    ]
    own = self_times(spans)
    assert own == pytest.approx({0: 2.0, 1: 2.0, 2: 6.0})


# ---- exactly-once delivery ------------------------------------------------


def test_exactly_once_accepts_an_ordered_complete_delivery():
    produced = {"a": [1, 3, 5], "b": [2, 4]}
    delivered = [("a", 1), ("b", 2), ("a", 3), ("b", 4), ("a", 5)]
    assert check_exactly_once(produced, delivered) == []


def test_exactly_once_flags_a_duplicate():
    problems = check_exactly_once({"a": [1, 2]}, [("a", 1), ("a", 1), ("a", 2)])
    assert any("duplicate" in p for p in problems)


def test_exactly_once_flags_a_lost_event():
    problems = check_exactly_once({"a": [1, 2], "b": [3]}, [("a", 1), ("a", 2)])
    assert problems == ["b: 1 offsets lost"]


def test_exactly_once_flags_reordering_within_a_partition():
    problems = check_exactly_once({"a": [1, 2]}, [("a", 2), ("a", 1)])
    assert any("out of offset order" in p for p in problems)


def test_exactly_once_flags_an_event_never_produced():
    problems = check_exactly_once({"a": [1]}, [("a", 1), ("a", 7)])
    assert any("never produced" in p for p in problems)


def test_exactly_once_allows_interleaving_across_partitions():
    produced = {"a": [1, 2], "b": [3, 4]}
    assert check_exactly_once(produced, [("b", 3), ("a", 1), ("b", 4), ("a", 2)]) == []


# ---- previous_id chains ---------------------------------------------------


def _ev(eid, prev, off):
    return {"event_id": eid, "previous_id": prev, "offset": off}


def test_chain_accepts_an_intact_stream():
    assert check_chain([_ev("x", None, 1), _ev("y", "x", 4), _ev("z", "y", 9)]) == []


def test_chain_requires_a_null_first_previous_id():
    assert check_chain([_ev("x", "w", 1)])


def test_chain_flags_a_broken_link():
    problems = check_chain([_ev("x", None, 1), _ev("y", "q", 2)])
    assert len(problems) == 1 and "previous_id" in problems[0]


def test_chain_flags_offsets_that_do_not_ascend():
    problems = check_chain([_ev("x", None, 5), _ev("y", "x", 5)])
    assert len(problems) == 1 and "offset" in problems[0]


# ---- tracer ---------------------------------------------------------------


def test_tracer_records_parents_and_restores_classes():
    class Layer:
        def outer(self):
            return self.inner()

        def inner(self):
            return [1, 2, 3]

        def _private(self):
            return None

    original = Layer.__dict__["outer"]
    tracer = Tracer()
    tracer.wrap_class(Layer, "layer")
    assert Layer().outer() == [1, 2, 3]
    Layer()._private()
    tracer.unwrap()
    assert Layer.__dict__["outer"] is original
    by_name = {s["name"]: s for s in tracer.spans}
    assert set(by_name) == {"layer.outer", "layer.inner"}
    assert by_name["layer.inner"]["parent"] == by_name["layer.outer"]["id"]
    assert by_name["layer.inner"]["n"] == 3
    assert by_name["layer.outer"]["start"] <= by_name["layer.inner"]["start"]


def test_tracer_span_carries_the_phase():
    tracer = Tracer()
    tracer.phase = "measure"
    with tracer.span("x"):
        pass
    assert tracer.spans[0]["phase"] == "measure"


# ---- generators -----------------------------------------------------------


def test_command_script_is_seeded():
    a, b = gen.command_script(5), gen.command_script(5)
    assert a.seed_rows == b.seed_rows and a.commands == b.commands
    assert gen.command_script(6).commands != a.commands


def test_command_script_mix_and_stale_targets():
    script = gen.command_script(3, n_streams=50, stream_len=3, n_commands=64)
    kinds = [c.kind for c in script.commands]
    assert kinds.count("new") == 64 // 8
    assert kinds.count("stale") == 64 // 16
    assert kinds[:16] == list(gen.KIND_CYCLE)
    seeded = {r["decider_id"] for r in script.seed_rows}
    assert all(c.decider_id in seeded for c in script.commands if c.kind == "stale")
    ids = [r["event_id"] for r in script.seed_rows] + [c.event_id for c in script.commands]
    assert len(ids) == len(set(ids))


def test_pipeline_batches_chain_across_batches():
    p = gen.PipelineGenerator(1, n_streams=7)
    rows = p.batch(20, clock=lambda: 0.0) + p.batch(20, clock=lambda: 0.0)
    for did in p.streams:
        mine = [r for r in rows if r["decider_id"] == did]
        assert mine[0]["previous_id"] is None
        assert all(b["previous_id"] == a["event_id"] for a, b in zip(mine, mine[1:]))
        assert p.tails[did] == mine[-1]["event_id"]


def test_pipeline_ids_differ_from_command_ids():
    script = gen.command_script(2, n_streams=10, n_commands=10)
    rows = gen.PipelineGenerator(2, n_streams=5).batch(50, clock=lambda: 0.0)
    seeded = {r["event_id"] for r in script.seed_rows}
    assert seeded.isdisjoint(r["event_id"] for r in rows)


def test_command_prefix_checks_every_kind():
    kinds = list(gen.KIND_CYCLE[:gen.MIN_COMMANDS])
    assert "stale" in kinds and "new" in kinds
    assert kinds.count("extend") >= 3


def test_query_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(11)]
    a = gen.query_order(4, names)
    assert a == gen.query_order(4, names)
    assert sorted(a) == sorted(names)
    assert gen.query_order(5, names) != a
