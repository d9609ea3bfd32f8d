"""Spark-free helpers of the benchmark: percentiles, span self time and the
output checkers.  Everything here is pure Python so it can be unit-tested
without a JVM (``python3 -m pytest perfbench``)."""

from __future__ import annotations

import statistics

# A tail is the highest percentile with at least this many samples beyond it.
TAIL_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def fixed_tail(values, n: int, beyond: int = TAIL_BEYOND) -> float:
    """The value at the fixed percentile ``1 - beyond/n`` — the tail of an
    ``n``-sample run — taken over all of ``values``, so that percentile
    stays the same whatever the sample count, and at least ``beyond``
    samples lie beyond it.  Raises when fewer than ``n`` samples were
    taken."""
    if len(values) < n:
        raise ValueError(f"need {n} samples for the fixed tail, got {len(values)}")
    ordered = sorted(values)
    k = len(ordered) * (n - beyond) // n - 1
    return float(ordered[k])


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of its interval that its children
    cover.  Overlapping children count once; child time outside the
    parent's interval is clipped."""
    start, end = span["start"], span["end"]
    intervals = sorted(
        (max(c["start"], start), min(c["end"], end))
        for c in children
        if c["end"] > start and c["start"] < end
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in intervals:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span, keyed by span id (spans carry ``id`` and
    ``parent``)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: self_time(s, kids.get(s["id"], [])) for s in spans}


def check_exactly_once(
    produced: dict[str, list[int]], delivered: list[tuple[str, int]]
) -> list[str]:
    """Problems with a delivery, empty when it is exactly-once and ordered.

    ``produced`` maps each partition to the offsets the producer appended;
    ``delivered`` lists (partition, offset) in the order the consumer
    received them.  Each produced offset must arrive once, nothing else may
    arrive, and each partition's offsets must arrive in ascending order."""
    problems: list[str] = []
    seen: dict[str, list[int]] = {}
    for part, off in delivered:
        seen.setdefault(part, []).append(off)
    for part, offs in seen.items():
        if any(b <= a for a, b in zip(offs, offs[1:])):
            if len(set(offs)) != len(offs):
                problems.append(f"{part}: duplicate delivery")
            else:
                problems.append(f"{part}: delivered out of offset order")
        extra = set(offs) - set(produced.get(part, ()))
        if extra:
            problems.append(f"{part}: {len(extra)} offsets never produced")
    for part, offs in produced.items():
        lost = set(offs) - set(seen.get(part, ()))
        if lost:
            problems.append(f"{part}: {len(lost)} offsets lost")
    return problems


def check_chain(events: list[dict]) -> list[str]:
    """Problems with one stream's replay, empty when its ``previous_id``
    chain is intact and its offsets strictly ascend.  ``events`` is the
    stream in replay order, each with ``event_id``, ``previous_id`` and
    ``offset``."""
    problems: list[str] = []
    prev_id = None
    prev_off = None
    for i, e in enumerate(events):
        if e["previous_id"] != prev_id:
            problems.append(
                f"event {i}: previous_id {e['previous_id']!r} != {prev_id!r}"
            )
        if prev_off is not None and e["offset"] <= prev_off:
            problems.append(f"event {i}: offset {e['offset']} <= {prev_off}")
        prev_id, prev_off = e["event_id"], e["offset"]
    return problems
