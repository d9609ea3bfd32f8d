"""The two workloads.  Each is a closed loop with one client: the next call
is sent only after the previous one returned.

A workload function gets a ``Run`` and fills in its ``e2e`` metrics, its
``layers`` metrics (traced run only) and its ``detail`` record, and counts
operations attempted and failed (a correctness failure is a failed
operation)."""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.stats import check_chain, check_exactly_once, fixed_tail, median

# Sizes, recorded in the detail file of every run.
CMD_STREAMS = 200          # seeded streams for the command phase
CMD_STREAM_LEN = 3         # events per seeded stream
PIPE_STREAMS = 3000        # > EventStore.PREFETCH_PARTITIONS (2,000)
PIPE_BATCH = 10_000        # events per producer batch
PIPE_LIMIT = 100           # stream_events(limit=...)
# A copy of eight tables of the sf0.01 test data in TESTDATA.md (60,000
# lineitem rows), read in place; run.py --tables points the workload elsewhere.
ANALYTICS_TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                    "data", "sf0.01")
ANALYTICS_QUERIES = (
    "q1_pricing_summary", "q5_nation_revenue", "window_function_family",
    "user_sessions", "skew_salted_hot_revenue", "dedup_minhash_lsh_pairs",
    "ann_blocked_topk", "vocab_top_terms", "multimodal_features",
    "es_stream_next_offset", "triangle_count",
)
REOPENS = 3                # store opens per run; setup_s takes their median
# Tails of delivery rounds and lags are taken at a fixed percentile, the
# one that leaves ten samples beyond it at the smallest sample count a run
# yields: ~110 rounds and 10,000 lags per batch.
ROUND_TAIL_N = 100         # p90
LAG_TAIL_N = 1000          # p99
PIPE_MAX_S = 120           # a drain that takes longer counts as stalled


@dataclass
class Run:
    spark: object
    workdir: str
    seed: int
    seconds: float
    tracer: object = None        # perfbench.trace.Tracer in the traced run
    counters: object = None      # perfbench.trace.SparkCounters likewise
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    session_start_s: float = 0.0
    tables: str = ANALYTICS_TABLES_DIR

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.problems) < 50:
            self.problems.append(msg)

    def call(self, name: str, fn, group: bool = False):
        """Run one client call; in the traced run inside a span (and, with
        ``group``, a Spark job group).  Returns (result, seconds)."""
        if self.tracer is None:
            t = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t
        with self.tracer.span(name) as rec:
            if group:
                with self.counters.group(rec):
                    out = fn()
            else:
                out = fn()
        return out, rec["end"] - rec["start"]

    def measured(self, name: str) -> list[dict]:
        return [s for s in self.tracer.named(name) if s.get("phase") == "measure"]


# --------------------------------------------------------------------------
# event store helpers
# --------------------------------------------------------------------------


def _bootstrap(run: Run, path: str):
    """Create a store with the registry and one view: the set-up a service
    does before its first command."""
    from fstore_sql_spark import EventStore

    def create():
        store = EventStore(run.spark, path)
        for ev in gen.EVENTS:
            store.register_decider_event(gen.DECIDER, ev, f"{ev} event")
        store.register_view("consumer", start_at="2000-01-01T00:00:00")
        return store

    store, bootstrap_s = run.call("setup.bootstrap", create)
    run.detail["bootstrap_s"] = bootstrap_s
    return store, bootstrap_s


def _reopen_median(run: Run, path: str) -> float:
    """Median time of opening the existing store again, as a restarted
    service would."""
    from fstore_sql_spark import EventStore

    times = [run.call("setup.open", lambda: EventStore(run.spark, path))[1]
             for _ in range(REOPENS)]
    run.detail["open_s"] = times
    return median(times)


def _log_size(path: str) -> tuple[int, int]:
    from fstore_sql_spark.storage import current_log_dir

    d = current_log_dir(path, "events")
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(os.path.join(d, f)) for f in files)


def memory_mb() -> dict:
    """Peak resident memory (VmHWM) of this Python driver and of the Spark
    JVM."""
    from pyspark import SparkContext

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    return {
        "python_hwm_mb": hwm_kb("self") / 1024,
        "jvm_hwm_mb": hwm_kb(SparkContext._gateway.proc.pid) / 1024,
    }


def _span_layers(run: Run) -> None:
    """Per-call medians and counts of the wrapped layer methods, over the
    measured window."""
    L = run.layers

    def med(name):
        return median(s["end"] - s["start"] for s in run.measured(name))

    for name in ("store.ack_events", "ledger.claim", "ledger.ack",
                 "ledger.insert_missing", "hwm.merge_batch", "hwm.sync",
                 "hwm.lookup", "storage.append_log", "storage.write_manifest",
                 "storage.read_manifest", "storage.write_state_delta"):
        L[f"{name}.s"] = med(name)
    claims = run.measured("ledger.claim")
    L["ledger.claim.calls"] = len(claims)
    L["ledger.claim.yield"] = (
        sum(s.get("n", 0) for s in claims) / (len(claims) * PIPE_LIMIT) if claims else 0.0
    )
    L["storage.read_log.calls"] = len(run.measured("storage.read_log"))
    deltas = run.measured("storage.write_state_delta")
    L["storage.write_state_delta.calls"] = len(deltas)
    L["storage.write_state_delta.bytes"] = sum(s.get("bytes", 0) for s in deltas)


PROFILE_PHASES = ("candidates_s", "validate_s", "t6_locks_s", "offset_number_s",
                  "hwm_merge_s", "parquet_write_s", "marker_publish_s")


def _append_layers(run: Run, client_span: str, profiles: list[dict], prefix: str) -> None:
    """``<prefix>_batch.s`` from the store's own ``append_batch`` spans
    inside the accepted client calls, ``<prefix>.<phase>`` from the phase
    times the store reports in ``last_append_profile`` (so the phases plus
    ``<prefix>.unaccounted_s`` make up ``<prefix>_batch.s``), and the Spark
    counts from the client calls' job groups."""
    L = run.layers
    spans = [s for s in run.measured(client_span) if s.get("accepted", True)]
    # counts of a warm append that extends a stream: the fewest over the
    # phase's extending appends (the first one sometimes runs one job more)
    extend = [s for s in spans if s.get("kind", "extend") == "extend"]
    for k in ("spark_jobs", "spark_stages", "spark_tasks"):
        L[f"{prefix}_batch.{k}"] = min((s.get(k, 0) for s in extend), default=0)
    for p in PROFILE_PHASES:
        L[f"{prefix}.{p}"] = median(prof.get(p, 0.0) for prof in profiles)
    # the store's own append_batch span inside each accepted client call,
    # in call order, pairs with that call's profile
    accepted = {s["id"] for s in spans}
    parent = {s["id"]: s["parent"] for s in run.tracer.spans}

    def under_accepted(sid):
        while sid is not None:
            if sid in accepted:
                return True
            sid = parent.get(sid)
        return False

    batch = sorted(
        (s for s in run.measured("store.append_batch") if under_accepted(s["id"])),
        key=lambda s: s["start"],
    )
    L[f"{prefix}_batch.s"] = median(s["end"] - s["start"] for s in batch)
    L[f"{prefix}.unaccounted_s"] = median(
        (s["end"] - s["start"]) - sum(prof.get(p, 0.0) for p in PROFILE_PHASES)
        for s, prof in zip(batch, profiles)
    )


# --------------------------------------------------------------------------
# event_store: a command phase, then a pipeline phase, on one store
# --------------------------------------------------------------------------


def event_store(run: Run) -> None:
    """One store, two phases.

    Commands, for ``run.seconds`` and at least ``gen.MIN_COMMANDS``: the
    event-sourcing command loop.  Each command replays a stream with
    ``get_events`` and appends after its tail with ``append_event``.  1 in
    8 commands opens a new stream (the T6 lock insert); 1 in 16 re-sends a
    stale ``previous_id`` and must be rejected with ``OptimisticLockError``
    (``gen.KIND_CYCLE``).  The write path's fixed per-call cost dominates.

    Pipeline: a producer appends one batch of PIPE_BATCH events over
    PIPE_STREAMS streams, then a consumer drains it (and the events of the
    command phase) with ``stream_events(limit=100)`` and
    ``ack_events(returning=False)`` rounds.  Per-event write work and the
    delivery path dominate; the fixed per-call cost is amortised.  This
    phase is a fixed amount of work, so its round and lag tails always
    rest on the same sample counts.

    Checked afterwards: a store reopened on the same path replays every
    stream exactly as acknowledged, with intact chains and ascending
    offsets; every event was delivered exactly once, in per-partition
    offset order; every stale command was rejected."""
    from fstore_sql_spark import EventStore

    script = gen.command_script(run.seed, CMD_STREAMS, CMD_STREAM_LEN)
    producer = gen.PipelineGenerator(run.seed, PIPE_STREAMS)
    path = os.path.join(run.workdir, "store")
    store, bootstrap_s = _bootstrap(run, path)
    run.call("setup.seed", lambda: store.append_batch(script.seed_rows))
    setup_s = run.session_start_s + bootstrap_s + _reopen_median(run, path)

    # the client's record of every stream: acknowledged event ids in order
    model: dict[str, list[str]] = {}
    for r in script.seed_rows:
        model.setdefault(r["decider_id"], []).append(r["event_id"])
    if run.tracer is not None:
        run.tracer.phase = "measure"
    commands = _command_phase(run, store, script, model)
    pipeline = _pipeline_phase(run, store, producer, model)
    if run.tracer is not None:
        run.tracer.phase = "check"

    reopened = EventStore(run.spark, path)
    log = [r.asDict() for r in reopened.events()
           .select("decider_id", "event_id", "previous_id", "offset").collect()]
    by_stream: dict[str, list[dict]] = {}
    for r in sorted(log, key=lambda r: r["offset"]):
        by_stream.setdefault(r["decider_id"], []).append(r)
    for did in set(model) | set(by_stream):
        events = by_stream.get(did, [])
        problems = check_chain(events)
        if [e["event_id"] for e in events] != model.get(did, []):
            problems.append("log differs from acknowledged appends")
        if problems:
            run.fail(f"{did}: {problems[0]}")
    offset_of = {r["event_id"]: r["offset"] for r in log}
    for part, eid, off in pipeline["delivered"]:
        if offset_of.get(eid) != off:
            run.fail(f"{part}: delivered {eid} at offset {off}, the log has it elsewhere")
    produced = {did: [offset_of.get(e, -1) for e in eids] for did, eids in model.items()}
    delivered = [(p, o) for p, _, o in pipeline["delivered"]]
    for msg in check_exactly_once(produced, delivered)[:20]:
        run.fail(msg)

    run.e2e.update(
        setup_s=setup_s,
        op_p50_s=commands["extend_command_p50_s"],
        throughput_per_s=pipeline["throughput_per_s"],
        batch_s=pipeline["ingest_s"],
    )
    run.detail.update(commands=commands, pipeline={k: v for k, v in pipeline.items()
                                                   if k != "delivered"})
    files, size = _log_size(path)
    run.detail.update(log_files=files, log_bytes=size, log_events=len(log),
                      log_bytes_per_event=size / len(log))
    if run.tracer is not None:
        L = run.layers
        L.update({
            "storage.log_files": files, "storage.log_bytes": size,
            "store.log_bytes_per_event": size / len(log),
            "command.p50_s": commands["command_p50_s"],
            "command.append_p50_s": commands["append_p50_s"],
            "command.replay_p50_s": commands["replay_p50_s"],
            "pipeline.ingest_events_per_s": pipeline["ingest_events_per_s"],
            "pipeline.deliver_events_per_s": pipeline["deliver_events_per_s"],
            "pipeline.deliver_round_p50_s": pipeline["deliver_round_p50_s"],
            "pipeline.deliver_round_p90_s": pipeline["deliver_round_tail_s"] or 0.0,
            "pipeline.delivery_lag_p50_s": pipeline["delivery_lag_p50_s"],
            "pipeline.delivery_lag_p99_s": pipeline["delivery_lag_tail_s"] or 0.0,
        })
        _append_layers(run, "append", commands["profiles"], "store.append")
        _append_layers(run, "ingest", [pipeline["profile"]], "store.ingest")
        replays = run.measured("replay")
        L["store.get_events.s"] = median(s["end"] - s["start"] for s in replays)
        L["store.get_events.spark_jobs"] = replays[0].get("spark_jobs", 0)  # first call
        rounds = run.measured("round")
        L["store.stream_events.s"] = median(
            s["end"] - s["start"] for s in run.measured("store.stream_events"))
        # hit rounds run no Spark job, so the count is the drain's total
        L["store.stream_events.spark_jobs"] = sum(s.get("spark_jobs", 0) for s in rounds)
        L["store.stream_events.hit_round_p50_s"] = pipeline["hit_round_p50_s"]
        L["store.stream_events.refill_round_p50_s"] = pipeline["refill_round_p50_s"]
        pf = pipeline["prefetch"]
        L["store.prefetch.hits"] = pf["hits"]
        L["store.prefetch.misses"] = pf["misses"]
        L["store.prefetch.refills"] = pf["refills"]
        L["store.prefetch.lookups"] = pf["hits"] + pf["misses"]
        L["store.prefetch.hit_rate"] = (
            pf["hits"] / (pf["hits"] + pf["misses"]) if pf["hits"] + pf["misses"] else 0.0)
        _span_layers(run)


def _command_phase(run: Run, store, script, model) -> dict:
    from fstore_sql_spark import errors

    command_s, append_s, replay_s, profiles = [], [], [], []
    extend_s = []   # commands that extend an existing stream
    kinds = {"extend": 0, "new": 0, "stale": 0}
    start = time.perf_counter()
    for i, cmd in enumerate(script.commands):
        # a fixed prefix always runs, so every run holds every kind
        if i >= gen.MIN_COMMANDS and time.perf_counter() - start >= run.seconds:
            break
        run.attempted += 1
        kinds[cmd.kind] += 1
        t0 = time.perf_counter()
        rows, dt = run.call(
            "replay", lambda: store.get_events(cmd.decider_id, gen.DECIDER).collect(),
            group=True,
        )
        replay_s.append(dt)
        ids = [r["event_id"] for r in rows]
        if ids != model.get(cmd.decider_id, []):
            run.fail(f"replay of {cmd.decider_id} differs from acknowledged appends")
            continue
        previous_id = ids[-2] if cmd.kind == "stale" else (ids[-1] if ids else None)

        def append():
            try:
                store.append_event(
                    cmd.event, cmd.event_id, gen.DECIDER, cmd.decider_id,
                    data=cmd.data, command_id=cmd.command_id, previous_id=previous_id,
                )
            except errors.OptimisticLockError as e:
                return e
            return None

        rejected, dt = run.call("append", append, group=True)
        if run.tracer is not None:
            run.tracer.spans[-1].update(accepted=rejected is None, kind=cmd.kind)
        command_s.append(time.perf_counter() - t0)
        if cmd.kind == "extend":
            extend_s.append(command_s[-1])
        if cmd.kind == "stale":
            if rejected is None:
                run.fail(f"stale previous_id on {cmd.decider_id} was accepted")
                model[cmd.decider_id].append(cmd.event_id)
            continue
        if rejected is not None:
            run.fail(f"append to {cmd.decider_id} rejected: {rejected}")
            continue
        append_s.append(dt)
        profiles.append(dict(store.last_append_profile))
        model.setdefault(cmd.decider_id, []).append(cmd.event_id)
    return {
        "commands": len(command_s), "kinds": kinds,
        "command_p50_s": median(command_s),
        "extend_command_p50_s": median(extend_s),
        "append_p50_s": median(append_s), "replay_p50_s": median(replay_s),
        "command_s": command_s, "append_s": append_s, "replay_s": replay_s,
        "profiles": profiles,
    }


def _pipeline_phase(run: Run, store, producer, model) -> dict:
    clock = time.time
    delivered: list[tuple[str, str, int]] = []   # (partition, event_id, offset)
    lags: list[float] = []
    rounds: list[tuple[float, bool]] = []        # (seconds, refilled)

    def deliver_round():
        rows = store.stream_events("consumer", limit=PIPE_LIMIT).collect()
        got = clock()
        if rows:
            store.ack_events(
                "consumer", [(r["decider_id"], r["offset"]) for r in rows], returning=False
            )
        return rows, got

    def one_round() -> int:
        refills = store.prefetch_counters["refills"]
        (rows, got), dt = run.call("round", deliver_round, group=True)
        for r in rows:
            delivered.append((r["decider_id"], r["event_id"], r["offset"]))
            ts = json.loads(r["data"]).get("ts")
            if ts is not None:
                lags.append(got - ts)
        run.attempted += 1
        rounds.append((dt, store.prefetch_counters["refills"] > refills))
        return len(rows)

    pending = sum(len(v) for v in model.values())   # appended, not delivered
    counters0 = dict(store.prefetch_counters)
    rows = producer.batch(PIPE_BATCH, clock)
    run.attempted += 1
    start = time.perf_counter()
    _, ingest_s = run.call("ingest", lambda: store.append_batch(rows), group=True)
    profile = dict(store.last_append_profile)
    for r in rows:
        model.setdefault(r["decider_id"], []).append(r["event_id"])
    pending += len(rows)
    while pending > 0:
        n = one_round()
        if n == 0 or time.perf_counter() - start > PIPE_MAX_S:
            run.fail(f"delivery stalled with {pending} events outstanding")
            break
        pending -= n
    elapsed = time.perf_counter() - start
    counters1 = dict(store.prefetch_counters)
    round_s = [r for r, _ in rounds]
    if pending == 0 and one_round():
        run.fail("more events delivered than were appended")

    return {
        "delivered": delivered,
        "events": len(rows), "streams": len(producer.streams),
        "ingest_s": ingest_s,
        "ingest_events_per_s": len(rows) / ingest_s,
        "throughput_per_s": len(delivered) / elapsed,
        "events_delivered": len(delivered), "rounds": len(rounds),
        "deliver_events_per_s": len(delivered) / sum(round_s) if round_s else 0.0,
        "deliver_round_p50_s": median(round_s),
        "deliver_round_tail_s": (fixed_tail(round_s, ROUND_TAIL_N)
                                 if len(round_s) >= ROUND_TAIL_N else None),
        "hit_round_p50_s": median(r for r, f in rounds[:len(round_s)] if not f),
        "refill_round_p50_s": median(r for r, f in rounds[:len(round_s)] if f),
        "refill_rounds": sum(1 for _, f in rounds[:len(round_s)] if f),
        "delivery_lag_p50_s": median(lags),
        "delivery_lag_tail_s": fixed_tail(lags, LAG_TAIL_N) if len(lags) >= LAG_TAIL_N else None,
        "prefetch": {k: counters1[k] - counters0[k] for k in counters0},
        "profile": profile, "round_s": round_s,
    }


# --------------------------------------------------------------------------
# analytics
# --------------------------------------------------------------------------

ANALYTICS_TABLES = ("region", "nation", "customer", "orders", "lineitem",
                    "events", "documents", "embeddings")


def analytics(run: Run) -> None:
    """The registry queries over a copy of the sf0.01 test tables,
    read-only, each forced with a ``noop`` write: one cold pass, then warm
    passes until the time is up.  The seed orders the queries of a pass.
    Each query's result is checked once, untimed, against its DuckDB
    oracle."""
    import fstore_sql_spark.operators  # noqa: F401  (registers the operators)
    from fstore_sql_spark.queries import QUERIES

    data = run.tables
    order = gen.query_order(run.seed, ANALYTICS_QUERIES)
    run.detail.update(tables=data, query_order=order)
    traced = run.tracer is not None

    def one_query(name: str) -> dict:
        if not traced:
            t = time.perf_counter()
            df = QUERIES[name](run.spark, data)
            b = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            e = time.perf_counter()
            return {"build_s": b - t, "exec_s": e - b, "s": e - t}
        with run.tracer.span("query", query=name) as rec:
            with run.counters.group(rec, codegen=True, shuffle=True):
                with run.tracer.span("build"):
                    df = QUERIES[name](run.spark, data)
                with run.tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                with run.tracer.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
        kids = {s["name"]: s["end"] - s["start"] for s in run.tracer.spans
                if s["parent"] == rec["id"]}
        return {"build_s": kids["build"], "plan_s": kids["plan"], "exec_s": kids["exec"],
                "s": rec["end"] - rec["start"],
                **{k: rec[k] for k in ("codegen_compiles", "codegen_s", "spark_jobs",
                                       "spark_tasks", "shuffle_bytes")}}

    def one_pass() -> dict[str, dict]:
        out = {}
        for name in order:
            run.attempted += 1
            out[name] = one_query(name)
        return out

    if traced:
        run.tracer.phase = "measure"
    cold = one_pass()
    warm: list[dict[str, dict]] = []
    start = time.perf_counter()
    while not warm or time.perf_counter() - start < run.seconds:
        warm.append(one_pass())
    elapsed = time.perf_counter() - start
    if traced:
        run.tracer.phase = "check"
    _check_oracles(run, data)

    cold_s = sum(q["s"] for q in cold.values())
    warm_queries = [q["s"] for p in warm for q in p.values()]
    run.e2e.update(
        setup_s=run.session_start_s,
        op_p50_s=median(warm_queries),
        throughput_per_s=len(warm_queries) / elapsed,
        batch_s=cold_s,
    )
    run.detail.update(
        analytics_cold_pass_s=cold_s,
        analytics_warm_pass_s=median(sum(q["s"] for q in p.values()) for p in warm),
        warm_passes=len(warm),
        cold=cold, warm=warm,
    )
    if traced:
        L = run.layers
        L["analytics.cold_pass_s"] = run.detail["analytics_cold_pass_s"]
        L["analytics.warm_pass_s"] = run.detail["analytics_warm_pass_s"]
        for label, passes in (("cold", [cold]), ("warm", warm)):
            for k in ("build_s", "plan_s", "exec_s", "codegen_s"):
                L[f"analytics.{label}.{k}"] = median(
                    sum(q[k] for q in p.values()) for p in passes)
            # counts from one fixed pass, so they repeat exactly per seed
            for k in ("codegen_compiles", "spark_jobs", "spark_tasks", "shuffle_bytes"):
                L[f"analytics.{label}.{k}"] = sum(q[k] for q in passes[0].values())


def _check_oracles(run: Run, data: str) -> None:
    import duckdb

    from fstore_sql_spark.queries import ORACLES, QUERIES
    from tools.check_correctness import value_hash

    con = duckdb.connect()
    try:
        for t in ANALYTICS_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        for name in ANALYTICS_QUERIES:
            sdf = QUERIES[name](run.spark, data)
            srows = [tuple(r) for r in sdf.collect()]
            scols = [c.lower() for c in sdf.columns]
            tbl = con.execute(ORACLES[name]).arrow()
            dcols = [c.lower() for c in tbl.column_names]
            cols = [c.to_pylist() for c in tbl.columns]
            drows = list(zip(*cols)) if cols else []
            if sorted(scols) != sorted(dcols):
                run.fail(f"{name}: columns {sorted(scols)} != oracle {sorted(dcols)}")
            elif len(srows) != len(drows):
                run.fail(f"{name}: {len(srows)} rows != oracle {len(drows)}")
            elif value_hash(srows, [scols.index(c) for c in sorted(scols)]) != value_hash(
                drows, [dcols.index(c) for c in sorted(dcols)]
            ):
                run.fail(f"{name}: result hash differs from the oracle")
            run.detail.setdefault("oracle_rows", {})[name] = len(srows)
    finally:
        con.close()


WORKLOADS = {
    "event_store": event_store,
    "analytics": analytics,
}
