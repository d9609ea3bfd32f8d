"""Seeded input generators.  The same seed gives the same inputs; the program
under test receives only what these functions return or write."""

from __future__ import annotations

import json
import random
import uuid
from dataclasses import dataclass, field

DECIDER = "account"
EVENTS = ("opened", "deposited", "withdrawn")


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def _event(rng, decider_id: str, event: str, previous_id, data: dict) -> dict:
    return {
        "event": event,
        "event_id": _uuid(rng),
        "event_version": 1,
        "decider": DECIDER,
        "decider_id": decider_id,
        "data": json.dumps(data, separators=(",", ":")),
        "command_id": _uuid(rng),
        "previous_id": previous_id,
        "final": False,
    }


# --------------------------------------------------------------------------
# event_store: command phase
# --------------------------------------------------------------------------


@dataclass
class Command:
    """One command of the event-sourcing loop.  ``kind`` is ``extend`` (append
    after the replayed tail), ``new`` (first event of a new stream) or
    ``stale`` (re-send the replayed tail's predecessor as ``previous_id``,
    which the store must reject)."""

    kind: str
    decider_id: str
    event: str
    event_id: str
    command_id: str
    data: str


@dataclass
class CommandScript:
    seed_rows: list[dict]
    commands: list[Command] = field(default_factory=list)


# Command kinds in a fixed cycle of 16: 2 new streams (1 in 8) and 1 stale
# previous_id (1 in 16).  Every run sees the same mix in the same places,
# so the mix does not vary with the seed or with how many commands fit in
# the measured time.  The first MIN_COMMANDS hold one stale and one new
# command, so every run checks a rejection and the T6 lock insert, and at
# least three extends, from which the headline command median is taken.
KIND_CYCLE = (
    "extend", "stale", "extend", "new", "extend", "extend", "extend", "extend",
    "extend", "extend", "new", "extend", "extend", "extend", "extend", "extend",
)
MIN_COMMANDS = 5


def command_script(
    seed: int,
    n_streams: int = 200,
    stream_len: int = 3,
    n_commands: int = 400,
) -> CommandScript:
    """A seeded store of ``n_streams`` chained streams of ``stream_len``
    events, and a command sequence whose kinds follow ``KIND_CYCLE``; the
    streams, ids and payloads come from the seed.  Stale commands target
    seeded streams, which have at least two events, so the stale id always
    has a successor."""
    rng = random.Random(seed)
    rows: list[dict] = []
    streams: list[str] = []
    for i in range(n_streams):
        did = f"acct-{seed}-{i:05d}"
        prev = None
        for j in range(stream_len):
            ev = _event(rng, did, EVENTS[min(j, 1)], prev, {"amount": rng.randint(1, 999)})
            rows.append(ev)
            prev = ev["event_id"]
        streams.append(did)
    script = CommandScript(rows)
    n_new = 0
    for i in range(n_commands):
        kind = KIND_CYCLE[i % len(KIND_CYCLE)]
        if kind == "new":
            did = f"acct-{seed}-n{n_new:05d}"
            n_new += 1
        elif kind == "stale":
            did = streams[rng.randrange(n_streams)]
        else:
            did = streams[rng.randrange(len(streams))]
        event = "opened" if kind == "new" else rng.choice(EVENTS[1:])
        data = json.dumps({"amount": rng.randint(1, 999)}, separators=(",", ":"))
        script.commands.append(
            Command(kind, did, event, _uuid(rng), _uuid(rng), data)
        )
        if kind == "new":
            streams.append(did)
    return script


# --------------------------------------------------------------------------
# event_store: pipeline phase
# --------------------------------------------------------------------------


class PipelineGenerator:
    """Batches of chained events over a fixed set of streams.  Each event's
    ``data`` carries the generator's creation timestamp (``ts``, seconds on
    the benchmark's clock), from which delivery lag is measured."""

    def __init__(self, seed: int, n_streams: int):
        self.rng = random.Random(f"pipeline-{seed}")
        self.streams = [f"feed-{seed}-{i:05d}" for i in range(n_streams)]
        self.tails: dict[str, str | None] = {s: None for s in self.streams}

    def batch(self, n_events: int, clock) -> list[dict]:
        rows = []
        for i in range(n_events):
            # every stream gets an event before any gets a second one
            did = self.streams[i % len(self.streams)]
            prev = self.tails[did]
            ev = _event(
                self.rng, did, "opened" if prev is None else "deposited", prev,
                {"amount": self.rng.randint(1, 999), "ts": clock()},
            )
            rows.append(ev)
            self.tails[did] = ev["event_id"]
        return rows


# --------------------------------------------------------------------------
# analytics
# --------------------------------------------------------------------------


def query_order(seed: int, names) -> list[str]:
    """The order in which the analytics passes send their queries.  The
    tables are fixed (a copy of the sf0.01 test data), so the request
    sequence is the seeded input."""
    names = list(names)
    random.Random(f"analytics-{seed}").shuffle(names)
    return names
