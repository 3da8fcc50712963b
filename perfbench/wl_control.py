"""``control_plane``: two closed-loop HTTP clients against a stock
``RestServer`` over ``Engine(records(events))`` with no stream running.

Each client sends its next request when the previous one returns. The
seed fixes each client's request sequence: reads over lag
(``/offsets?as_of_sec``, ``/noprogress``), workload
(``/admin/workloadinfo``), assignment (``/instances``, ``/validation``)
and ``/health``, and about one request in five a write (``POST``/``PUT
/topics``, ``POST``/``DELETE /blacklist``, ``PUT /ratelimiter``), so a
read cache that makes writes pay shows up.

Before the timed window one request of each read kind runs once
(``cold_s``, the first-touch cost). After it, the lag, no-progress,
workload and validation responses are checked against the registry's
DuckDB oracle SQL, and every timed read response must equal the
checked one.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench.common import dict_rows_digest, duck_digest, http_call, median, pct
from perfbench.gen import SNAPSHOT_T1, SNAPSHOT_T2, events_table
from perfbench.host import delta
from perfbench.trace import LANE_HEADER, trace_rest_handlers

EVENTS = 100_000  # the sf0.1 event log
USERS = 1_500
TINY_EVENTS = 2_000
SETUP_REPS = 3
N_CLIENTS = 2
IN_PROCESS_REPS = 5

# (path, oracle registry query or None, weight among reads)
READS = [
    (f"/offsets?as_of_sec={SNAPSHOT_T1}", "consumer_lag", 3),
    (f"/noprogress?t1_sec={SNAPSHOT_T1}&t2_sec={SNAPSHOT_T2}", "no_progress", 2),
    ("/admin/workloadinfo", "workload_windows", 2),
    ("/validation", "validation_counts", 1),
    ("/instances", None, 1),
    ("/health", None, 1),
]
WRITE_SHARE = 0.2
LAYER_METRICS = (
    "api_http.overhead_ms",
    "api.plan_ms",
    "api.collect_ms",
    "operators.lag.ms",
    "operators.workload.ms",
    "operators.assignment.ms",
)
RATES = [1_000, 5_000, 20_000]


def _ops(seed: int, cid: int, n: int) -> list[tuple[str, int]]:
    """A client's request plan: ('read', index into READS) or
    ('write', kind 0..4). Arguments are chosen from the same stream."""
    rng = np.random.default_rng([seed, 3, cid])
    w = np.array([r[2] for r in READS], dtype=float)
    reads = rng.choice(len(READS), n, p=w / w.sum())
    is_write = rng.random(n) < WRITE_SHARE
    kinds = rng.integers(0, 5, n)
    return [("write", int(k)) if iw else ("read", int(r)) for iw, r, k in zip(is_write, reads, kinds)]


class _Client(threading.Thread):
    def __init__(self, cid, port, ops, seed, deadline, tracer) -> None:
        super().__init__(name=f"client{cid}")
        self.cid, self.port, self.ops, self.deadline, self.tracer = cid, port, ops, deadline, tracer
        self.rng = np.random.default_rng([seed, 4, cid])
        self.topics: list[str] = []
        self.blacklisted: list[str] = []
        self.reads: list[tuple[int, float, int, str]] = []  # (read idx, s, status, sha1)
        self.writes: list[tuple[float, int]] = []
        self.bodies: dict[str, object] = {}
        self.error: BaseException | None = None

    def _write(self, kind: int) -> tuple[str, str, dict | None]:
        rng, me = self.rng, f"c{self.cid}"
        if kind == 1 and self.topics:
            t = self.topics[int(rng.integers(0, len(self.topics)))]
            return "PUT", "/topics", {"topic": t, "partitions": int(rng.integers(1, 17))}
        if kind in (0, 1):
            t = f"{me}_topic{int(rng.integers(0, 50))}"
            if t not in self.topics:
                self.topics.append(t)
            return "POST", "/topics", {"topic": t, "dst_topic": t + "_dst", "partitions": int(rng.integers(1, 9))}
        if kind == 3 and self.blacklisted:
            return "DELETE", f"/blacklist/{self.blacklisted.pop(0)}", None
        if kind in (2, 3):
            t = f"{me}_bl{int(rng.integers(0, 50))}"
            self.blacklisted.append(t)
            return "POST", "/blacklist", {"topic": t}
        return "PUT", f"/ratelimiter?messagerate={RATES[int(rng.integers(0, len(RATES)))]}", None

    def run(self) -> None:
        hdr = {LANE_HEADER: self.name}
        try:
            for op, arg in self.ops:
                if time.time() >= self.deadline:
                    return
                if op == "read":
                    path = READS[arg][0]
                    with self.tracer.span("api_http", "GET", lane=self.name):
                        status, body, dt = http_call(self.port, "GET", path, headers=hdr)
                    sha = hashlib.sha1(repr(body).encode()).hexdigest()
                    self.bodies.setdefault(sha, body)
                    self.reads.append((arg, dt, status, sha))
                else:
                    method, path, payload = self._write(arg)
                    with self.tracer.span("api_http", method, lane=self.name):
                        status, _b, dt = http_call(self.port, method, path, payload, headers=hdr)
                    self.writes.append((dt, status))
        except BaseException as e:  # noqa: BLE001 — surfaced by the caller
            self.error = e


def prepare(args, work: str) -> dict:
    """Write the seeded event log (before the session starts)."""
    data = os.path.join(work, "data")
    os.makedirs(data)
    rng = np.random.default_rng([args.seed, 1])
    n_events = TINY_EVENTS if args.size == "tiny" else EVENTS
    pq.write_table(events_table(rng, n_events, USERS), os.path.join(data, "events.parquet"))
    return {"data": data}


def run(spark, args, inputs, tracer, probe, run) -> float:
    """Run the workload into ``run``; return the program-side set-up
    seconds (median of SETUP_REPS builds of the engine and its REST
    server)."""
    import duckdb

    from ureplicator_spark import fixtures as FX
    from ureplicator_spark.api import Engine
    from ureplicator_spark.api_http import RestServer
    from ureplicator_spark.operators import assignment as ASG
    from ureplicator_spark.operators import lag as LAG
    from ureplicator_spark.operators import workload as WKL
    from ureplicator_spark.queries import QUERIES

    data = inputs["data"]
    setups = []
    server = None
    for _ in range(SETUP_REPS):
        if server is not None:
            server.stop()
        t0 = time.perf_counter()
        engine = Engine(spark, FX.records(spark, data))
        server = RestServer(engine).start()
        setups.append(time.perf_counter() - t0)

    if tracer.enabled:
        trace_rest_handlers(tracer)
        for name in ("offsets", "no_progress", "workload", "validate", "assignment_view", "health",
                     "add_topic", "expand_topic", "blacklist_add", "blacklist_remove", "set_rate"):
            tracer.wrap(Engine, name, "api")
        for mod in (LAG, WKL, ASG):
            tracer.wrap_module(mod, "operators", mod.__name__.rsplit(".", 1)[1])
        from pyspark.sql.classic.dataframe import DataFrame

        tracer.wrap(DataFrame, "collect", "api", "collect")

    try:
        # cold round: first touch of every read kind
        t_cold = time.perf_counter()
        for path, _q, _w in READS:
            status, _b, _dt = http_call(server.port, "GET", path)
            run.attempted += 1
            run.fail(int(status != 200), f"cold GET {path} -> {status}")
        cold_s = time.perf_counter() - t_cold

        before = probe.read()
        t_w0 = time.time()
        deadline = t_w0 + args.seconds
        clients = [
            _Client(c, server.port, _ops(args.seed, c, 100_000), args.seed, deadline, tracer)
            for c in range(N_CLIENTS)
        ]
        for c in clients:
            c.start()
        for c in clients:
            c.join(args.seconds + 150)
        t_w1 = time.time()
        after = probe.read()
        for c in clients:
            if c.is_alive() or c.error is not None:
                raise RuntimeError(f"{c.name} failed: {c.error}")

        # -- checks (outside the timed window) ---------------------------
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{data}/events.parquet'")
        truth: dict[int, tuple] = {}
        for i, (path, qname, _w) in enumerate(READS):
            if qname is None:
                continue
            want = duck_digest(con, QUERIES[qname][1])
            status, body, _dt = http_call(server.port, "GET", path)
            run.attempted += 1
            ok = status == 200 and dict_rows_digest(body) == want
            run.fail(int(not ok), f"GET {path} differs from the {qname} oracle")
            truth[i] = want
        con.close()
        digests: dict[str, tuple] = {}
        for c in clients:
            for sha, body in c.bodies.items():
                digests[sha] = dict_rows_digest(body) if isinstance(body, list) else ()
        first_seen: dict[int, tuple] = {}
        reads, writes = [], []
        for c in clients:
            for i, dt, status, sha in c.reads:
                run.attempted += 1
                reads.append(dt)
                ok = status == 200
                if ok and i in truth:
                    ok = digests[sha] == truth[i]
                elif ok and READS[i][0] == "/instances":
                    ok = first_seen.setdefault(i, digests[sha]) == digests[sha] and bool(digests[sha])
                run.fail(int(not ok), f"GET {READS[i][0]} answered wrongly")
            for dt, status in c.writes:
                run.attempted += 1
                writes.append(dt)
                run.fail(int(status not in (200, 201)), f"write -> {status}")

        window = t_w1 - t_w0
        run.e2e.update(
            throughput_per_s=(len(reads) + len(writes)) / window,
            latency_p50_ms=pct(reads, 50) * 1000.0,
            cold_s=cold_s,
        )
        by_path: dict[str, list[float]] = {}
        for c in clients:
            for i, dt, _s, _h in c.reads:
                by_path.setdefault(READS[i][0], []).append(dt)
        run.info.update(
            reads=len(reads),
            writes=len(writes),
            latency_p80_ms=pct(reads, 80) * 1000.0,
            write_p50_ms=pct(writes, 50) * 1000.0 if writes else None,
            window_s=window,
            read_p50_ms={p: round(median(v) * 1000.0, 1) for p, v in by_path.items()},
        )
        run.layer.update(delta(after, before))
        if tracer.enabled:
            run.info["self_s"] = tracer.self_times([c.name for c in clients], t_w0, t_w1)
            tracer.restore()
            _in_process(engine, clients, run)
    finally:
        server.stop()
    return median(setups)


def _in_process(engine, clients, run) -> None:
    """Per-route in-process cost (Engine call, then collect) against the
    same request's REST round trip."""
    calls = {
        0: ("lag", lambda: engine.offsets(SNAPSHOT_T1)),
        1: ("lag", lambda: engine.no_progress(SNAPSHOT_T1, SNAPSHOT_T2)),
        2: ("workload", engine.workload),
        3: ("assignment", engine.validate),
        4: ("assignment", engine.assignment_view),
    }
    plan, coll, per_mod, over = [], [], {}, []
    for i, (mod, fn) in calls.items():
        tot = []
        for _ in range(IN_PROCESS_REPS):
            t0 = time.perf_counter()
            df = fn()
            t1 = time.perf_counter()
            df.collect()
            t2 = time.perf_counter()
            plan.append(t1 - t0)
            coll.append(t2 - t1)
            tot.append(t2 - t0)
        per_mod.setdefault(mod, []).extend(tot)
        rest = [dt for c in clients for j, dt, _s, _h in c.reads if j == i]
        if rest:
            over.append(median(rest) - median(tot))
    run.layer.update(
        {
            "api_http.overhead_ms": median(over) * 1000.0,
            "api.plan_ms": median(plan) * 1000.0,
            "api.collect_ms": median(coll) * 1000.0,
            "operators.lag.ms": median(per_mod["lag"]) * 1000.0,
            "operators.workload.ms": median(per_mod["workload"]) * 1000.0,
            "operators.assignment.ms": median(per_mod["assignment"]) * 1000.0,
        }
    )
