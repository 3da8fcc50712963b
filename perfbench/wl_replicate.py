"""``replicate``: one route created with ``POST /routes`` (Engine.create_route
→ ReplicationJob.start_dynamic) over a files source of Kafka-shaped
records, in two phases.

* Catch-up: the route drains a pre-generated backlog of large files
  (8 files, 320k records per micro-batch), so per-record cost
  dominates. ``throughput_per_s`` is the median, over the batches
  after the first CATCHUP_SKIP, of a batch's records over its trigger
  time: the cold first batch is ``cold_s``, and the second still runs
  well above the steady batch time while the JVM compiles.
* Live tail: one open-loop generator thread publishes a 4,000-record
  file every second (4k records/s). A record's latency runs from its
  due time to the end of the micro-batch that committed it. A warm
  one-file batch takes about 0.6 s on a 4-vCPU host, so the route is
  idle when each file lands, and latency is the time to notice the
  file plus one batch: per-batch fixed overhead.

  The period is kept well above the batch time on purpose. Each file
  adds about 0.2 s to a batch, so at shorter periods a batch takes
  the files that arrived during the previous one, and batch time and
  files per batch feed back into each other: a few seconds of CPU
  steal on a shared host build a queue that outlives them. With a
  1,200-record file every 0.3 s, the p50 of five seeds spread by 28%
  of its median; with 3,000 records every 0.75 s, by 12-13%, while
  single slow seconds still queued files. The first TAIL_WARMUP_S
  seconds of files are not measured: the first small batches after
  catch-up run slower while the JVM still compiles the per-batch
  path.

The run is invalid (one failed operation) when the generator ran late
beyond ``GEN_LATE_BOUND_MS`` at p90, or when the backlog at the end of
the measured tail exceeds the backlog at its start (the route did not
keep up). Outputs are checked against an independent DuckDB re-derivation
of the transform (P1 rename, P2 remap, P3 timestamp normalisation).
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime

from perfbench.common import http_call, median, pct
from perfbench.gen import KafkaFiles
from perfbench.host import delta
from perfbench.trace import LANE_HEADER, trace_rest_handlers

# Catch-up backlog: BACKLOG_FILES files of BACKLOG_RECORDS records;
# throughput leaves out the first CATCHUP_SKIP batches.
BACKLOG_FILES = 64
BACKLOG_RECORDS = 40_000
CATCHUP_SKIP = 2
# Live tail: fixed across commits (see the module docstring); one
# latency sample per file, so ``--seconds`` S gives S samples.
TAIL_PERIOD_S = 1.0
TAIL_RECORDS = 4_000
TAIL_WARMUP_S = 5.0
GEN_LATE_BOUND_MS = 100.0
BACKLOG_WINDOW_S = 2.5
SETUP_REPS = 3
TIMEOUT_S = 120.0

LAYER_METRICS = (
    "sources.latest_offset_ms",
    "sources.get_batch_ms",
    "streaming.query_planning_ms",
    "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms",
    "streaming.add_batch_ms",
    "streaming.first_batch_ms",
    "streaming.batches",
    "streaming.rows_per_batch",
    "streaming.sink_files",
    "streaming.duplicate_ratio",
    "sources.gen_late_ms_p90",
    "sources.backlog_files_end",
    "api_http.overhead_ms",
)

# four catch-up batches (8 + 8 + 8 + 1 files), so a steady batch exists
TINY = {"BACKLOG_FILES": 25, "BACKLOG_RECORDS": 100, "TAIL_RECORDS": 50, "TAIL_WARMUP_S": 1.0}


class _Listener:
    """Collects every progress event of the route (the ``durationMs``
    parts, input rows, trigger start)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.cv = threading.Condition()

    def make(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                row = {
                    "batch_id": int(p.batchId),
                    "start": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                    "rows": int(p.numInputRows),
                    "ms": {k: float(v) for k, v in dict(p.durationMs).items()},
                }
                row["end"] = row["start"] + row["ms"].get("triggerExecution", 0.0) / 1000.0
                with outer.cv:
                    outer.progress.append(row)
                    outer.cv.notify_all()

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        return L()

    def rows(self) -> int:
        with self.cv:
            return sum(p["rows"] for p in self.progress)

    def wait_rows(self, n: int, timeout: float) -> bool:
        deadline = time.time() + timeout
        with self.cv:
            while sum(p["rows"] for p in self.progress) < n:
                left = deadline - time.time()
                if left <= 0:
                    return False
                self.cv.wait(left)
        return True


def _file_batches(checkpoint: str) -> dict[str, int]:
    """file name → micro-batch id, from the files source's own log."""
    out: dict[str, int] = {}
    d = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _check(run, src: str, sink: str, mapping: dict, counts: dict) -> dict:
    """Every generated (topic, partition, offset) must reach the sink
    with the P1–P3 outputs DuckDB derives independently."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE m(src_topic VARCHAR, dst_topic VARCHAR)")
        con.executemany("INSERT INTO m VALUES (?, ?)", list(mapping.items()))
        con.execute("CREATE TABLE c(topic VARCHAR, n INT)")
        con.executemany("INSERT INTO c VALUES (?, ?)", list(counts.items()))
        con.execute(
            f"""CREATE VIEW want AS
            SELECT g.topic, g."partition", g."offset",
                   COALESCE(m.dst_topic, g.topic) AS dst_topic,
                   CASE WHEN c.n IS NOT NULL AND g."partition" >= 0
                        THEN CAST(g."partition" % c.n AS INT) END AS dst_partition,
                   CASE WHEN g.ts_sec <= 0 THEN NULL ELSE g.ts_sec END AS ts_sec
            FROM read_parquet('{src}/*.parquet') g
            LEFT JOIN m ON g.topic = m.src_topic
            LEFT JOIN c ON COALESCE(m.dst_topic, g.topic) = c.topic"""
        )
        con.execute(
            f"""CREATE VIEW got AS SELECT topic, "partition", "offset", dst_topic,
            dst_partition, ts_sec FROM read_parquet('{sink}/*.parquet')"""
        )
        n_want = con.execute("SELECT COUNT(*) FROM want").fetchone()[0]
        sink_rows, sink_keys = con.execute(
            'SELECT COUNT(*), COUNT(DISTINCT (topic, "partition", "offset")) FROM got'
        ).fetchone()
        missing = con.execute(
            'SELECT COUNT(*) FROM want w ANTI JOIN got g USING (topic, "partition", "offset")'
        ).fetchone()[0]
        wrong = con.execute(
            """SELECT COUNT(DISTINCT (w.topic, w."partition", w."offset")) FROM want w
               JOIN got g USING (topic, "partition", "offset")
               WHERE g.dst_topic IS DISTINCT FROM w.dst_topic
                  OR g.dst_partition IS DISTINCT FROM w.dst_partition
                  OR g.ts_sec IS DISTINCT FROM w.ts_sec"""
        ).fetchone()[0]
        remapped = con.execute(
            "SELECT COUNT(DISTINCT dst_topic) FILTER (WHERE dst_topic <> topic), "
            "COUNT(*) FILTER (WHERE dst_partition IS NOT NULL), "
            "COUNT(*) FILTER (WHERE ts_sec IS NULL) FROM want"
        ).fetchone()
    finally:
        con.close()
    run.attempted += n_want
    run.fail(missing, "generated records missing from the sink")
    run.fail(wrong, "sink records whose dst_topic/dst_partition/ts differ from DuckDB")
    return {
        "records": n_want,
        "sink_rows": sink_rows,
        "sink_keys": sink_keys,
        "renamed_topics": remapped[0],
        "remapped_rows": remapped[1],
        "null_ts_rows": remapped[2],
    }


def _sizes(args) -> dict:
    k = dict(
        BACKLOG_FILES=BACKLOG_FILES,
        BACKLOG_RECORDS=BACKLOG_RECORDS,
        TAIL_RECORDS=TAIL_RECORDS,
        TAIL_WARMUP_S=TAIL_WARMUP_S,
    )
    if args.size == "tiny":
        k.update(TINY)
    return k


def prepare(args, work: str) -> dict:
    """Write the catch-up backlog (before the session starts); the same
    generator later publishes the live tail."""
    k = _sizes(args)
    gen = KafkaFiles(os.path.join(work, "src"), args.seed)
    for _ in range(k["BACKLOG_FILES"]):
        gen.write(k["BACKLOG_RECORDS"])
    return {"work": work, "gen": gen, "k": k}


def run(spark, args, inputs, tracer, probe, run) -> float:
    """Run the workload into ``run``; return the program-side set-up
    seconds (median of SETUP_REPS builds of the engine, its REST server
    and the topics table)."""
    from ureplicator_spark import fixtures as FX
    from ureplicator_spark.api import Engine
    from ureplicator_spark.api_http import RestServer
    from ureplicator_spark.operators import replicate as REP
    from ureplicator_spark.streaming.dynamic import ControlDoc, DynamicSink
    from ureplicator_spark.streaming.replication import ReplicationJob

    work, gen, k = inputs["work"], inputs["gen"], inputs["k"]
    src = gen.out_dir
    mapping = dict(FX.TOPIC_MAPPING_ROWS)
    counts = dict(FX.PARTITION_COUNT_ROWS)
    topics = [{"topic": s, "dst_topic": d, "partitions": counts.get(d)} for s, d in FX.TOPIC_MAPPING_ROWS]
    topics += [{"topic": t, "partitions": n} for t, n in FX.PARTITION_COUNT_ROWS if t not in mapping.values()]

    # -- program set-up, repeated; the last build serves the route
    setups = []
    server = None
    for _ in range(SETUP_REPS):
        if server is not None:
            server.stop()
        t0 = time.perf_counter()
        engine = Engine(spark)
        server = RestServer(engine).start()
        for body in topics:
            status, resp, _ = http_call(server.port, "POST", "/topics", body)
            if status >= 300:
                raise RuntimeError(f"POST /topics {body} -> {status} {resp}")
        setups.append(time.perf_counter() - t0)
    listener = _Listener()
    jl = listener.make()
    spark.streams.addListener(jl)

    # -- traced runs only: spans around the public calls on the stream lane
    lane = "stream"
    sink_calls: dict[int, tuple[float, float]] = {}
    if tracer.enabled:
        orig_call = DynamicSink.__call__

        def traced_call(self_, batch_df, batch_id):
            tracer.set_lane(lane)
            t = time.time()
            try:
                with tracer.span("streaming", "add_batch"):
                    return orig_call(self_, batch_df, batch_id)
            finally:
                sink_calls[int(batch_id)] = (t, time.time())

        tracer.patch(DynamicSink, "__call__", traced_call)
        tracer.wrap(REP, "replicate_transform", "operators")
        tracer.wrap(ControlDoc, "read", "streaming", "control_read")
        tracer.wrap(Engine, "create_route", "api")
        tracer.wrap(ReplicationJob, "start_dynamic", "streaming")
        trace_rest_handlers(tracer)

    ckpt = os.path.join(work, "ckpt")
    sink = os.path.join(work, "sink")
    before = probe.read()
    n_backlog = k["BACKLOG_FILES"] * k["BACKLOG_RECORDS"]
    route = None
    try:
        # -- catch-up ------------------------------------------------------
        t_c0 = time.time()
        tracer.set_lane(lane)
        with tracer.span("api_http", "POST /routes"):
            status, body, _ = http_call(
                server.port,
                "POST",
                "/routes",
                {
                    "src_cluster": "src",
                    "dst_cluster": "dst",
                    "route_id": 0,
                    "source_path": src,
                    "checkpoint_dir": ckpt,
                    "out_path": sink,
                },
                headers={LANE_HEADER: lane},
            )
        tracer.set_lane(None)
        if status != 201:
            raise RuntimeError(f"POST /routes -> {status} {body}")
        route = body["route"]
        if not listener.wait_rows(n_backlog, TIMEOUT_S):
            raise RuntimeError("catch-up did not drain the backlog in time")
        with listener.cv:
            catch = sorted(listener.progress, key=lambda p: p["batch_id"])
        if len(catch) <= CATCHUP_SKIP:
            raise RuntimeError("the backlog drained too soon: no steady catch-up batch")
        t_c1 = catch[-1]["end"]
        steady = catch[CATCHUP_SKIP:]
        catchup_rps = median([p["rows"] / (p["ms"]["triggerExecution"] / 1000.0) for p in steady])

        # -- live tail -----------------------------------------------------
        period = TAIL_PERIOD_S
        n_warm = int(round(k["TAIL_WARMUP_S"] / period))
        n_tail = n_warm + max(1, int(round(args.seconds / period)))
        published: list[tuple[str, float, float]] = []  # (name, due, done)
        pub_lock = threading.Lock()
        t_tail0 = time.time() + 0.05
        gen_err: list[BaseException] = []

        def generate() -> None:
            try:
                for i in range(n_tail):
                    due = t_tail0 + i * period
                    wait = due - time.time()
                    if wait > 0:
                        time.sleep(wait)
                    path = gen.write(k["TAIL_RECORDS"], due_ms=int(round(i * period * 1000)))
                    with pub_lock:
                        published.append((os.path.basename(path), due, time.time()))
            except BaseException as e:  # noqa: BLE001 — reported below
                gen_err.append(e)

        th = threading.Thread(target=generate, name="perfbench-gen")
        rows0 = listener.rows()
        th.start()
        backlog: list[tuple[float, float]] = []  # (t, files published − committed)
        while th.is_alive():
            time.sleep(0.25)
            with pub_lock:
                n_pub = len(published)
            done = (listener.rows() - rows0) / k["TAIL_RECORDS"]
            backlog.append((time.time(), n_pub - done))
        th.join()
        if gen_err:
            raise gen_err[0]
        t_tail1 = time.time()
        drained = listener.wait_rows(rows0 + n_tail * k["TAIL_RECORDS"], TIMEOUT_S)
        after = probe.read()
    finally:
        if route is not None:
            http_call(server.port, "DELETE", f"/routes/{route}")
        spark.streams.removeListener(jl)
        server.stop()

    # -- metrics (outside the timed window) -------------------------------
    with listener.cv:
        prog = sorted(listener.progress, key=lambda p: p["batch_id"])
    fb = _file_batches(ckpt)
    end_of = {p["batch_id"]: p["end"] for p in prog}
    measured = published[n_warm:]
    lat_ms = [
        (end_of[fb[name]] - due) * 1000.0
        for name, due, _done in measured
        if name in fb and fb[name] in end_of
    ]
    late_ms = [(done - due) * 1000.0 for _n, due, done in measured]
    tail_ids = {fb[n] for n, _d, _x in published if n in fb}
    tail = [p for p in prog if p["batch_id"] in {fb.get(n) for n, _d, _x in measured}]
    catch_b = [p for p in prog if p["batch_id"] not in tail_ids and p["rows"] > 0]
    # the backlog swings by a batch's worth of files; compare its peak
    # over the first BACKLOG_WINDOW_S of the measured tail with its
    # trough over the last
    t_meas0 = t_tail0 + k["TAIL_WARMUP_S"]
    head = [b for t, b in backlog if t_meas0 <= t < t_meas0 + BACKLOG_WINDOW_S]
    tail_end = [b for t, b in backlog if t > t_tail1 - BACKLOG_WINDOW_S]
    backlog_start = max(head, default=0.0)
    backlog_end = min(tail_end, default=0.0)

    run.attempted += 1  # the live-tail validity check
    gen_late_p90 = pct(late_ms, 90)
    if not drained:
        run.fail(1, "live tail did not drain")
    elif gen_late_p90 > GEN_LATE_BOUND_MS:
        run.fail(1, f"invalid run: generator p90 lateness {gen_late_p90:.1f} ms > {GEN_LATE_BOUND_MS}")
    elif backlog_end > backlog_start:
        run.fail(1, f"invalid run: backlog grew {backlog_start:.1f} -> {backlog_end:.1f} files")
    check = _check(run, src, sink, mapping, counts)
    run.fail(len(measured) - len(lat_ms), "tail files with no committing batch")

    def part(ps, key):
        return median([p["ms"].get(key, 0.0) for p in ps]) if ps else 0.0

    run.e2e.update(
        throughput_per_s=catchup_rps,
        latency_p50_ms=pct(lat_ms, 50),
        cold_s=prog[0]["ms"]["triggerExecution"] / 1000.0 + (prog[0]["start"] - t_c0),
    )
    sink_files = [f for f in os.listdir(sink) if f.endswith(".parquet")]
    run.layer.update(
        {
            "sources.latest_offset_ms": part(tail, "latestOffset"),
            "sources.get_batch_ms": part(tail, "getBatch"),
            "streaming.query_planning_ms": part(tail, "queryPlanning"),
            "streaming.wal_commit_ms": part(tail, "walCommit"),
            "streaming.commit_offsets_ms": part(tail, "commitOffsets"),
            "streaming.add_batch_ms": part(catch_b[1:] or catch_b, "addBatch"),
            "streaming.first_batch_ms": prog[0]["ms"]["triggerExecution"],
            "streaming.batches": float(len([p for p in prog if p["rows"] > 0])),
            "streaming.rows_per_batch": median([p["rows"] for p in prog if p["rows"] > 0]),
            "streaming.sink_files": float(len(sink_files)),
            "streaming.duplicate_ratio": check["sink_rows"] / max(1, check["sink_keys"]),
            "sources.gen_late_ms_p90": gen_late_p90,
            "sources.backlog_files_end": float(backlog_end),
            **delta(after, before),
        }
    )
    run.info.update(
        catchup_s=t_c1 - t_c0,
        catchup_batches=len(catch),
        tail_files_per_batch=median([p["rows"] / k["TAIL_RECORDS"] for p in tail]) if tail else 0.0,
        tail_batch_ms=part(tail, "triggerExecution"),
        tail_files=len(measured),
        latency_p80_ms=pct(lat_ms, 80),
        tail_batches=len(tail),
        backlog_start=backlog_start,
        backlog_end=backlog_end,
        check=check,
        tail_lat_ms=[round(x) for x in lat_ms],
        batches=[(p["batch_id"], p["rows"], p["ms"].get("triggerExecution"), p["ms"].get("addBatch")) for p in prog],
    )

    if tracer.enabled:
        # the durationMs parts around each batch's sink call, laid end
        # to end in engine order, on the stream lane
        order = [
            ("sources", "latest_offset", "latestOffset"),
            ("streaming", "wal_commit", "walCommit"),
            ("sources", "get_batch", "getBatch"),
            ("streaming", "query_planning", "queryPlanning"),
        ]
        for p in prog:
            call = sink_calls.get(p["batch_id"])
            if call is None:
                continue
            t = call[0] - sum(p["ms"].get(key, 0.0) for _l, _n, key in order) / 1000.0
            for layer, name, key in order:
                d = p["ms"].get(key, 0.0) / 1000.0
                tracer.add(layer, name, t, t + d, lane)
                t += d
            d = p["ms"].get("commitOffsets", 0.0) / 1000.0
            tracer.add("streaming", "commit_offsets", call[1], call[1] + d, lane)
        run.info["self_s"] = tracer.self_times([lane], t_c0, t_tail1)
        # POST /routes round trip minus the in-process create_route
        dur = {(s[2], s[3]): s[5] - s[4] for s in tracer.spans if s[1] == lane}
        run.layer["api_http.overhead_ms"] = 1000.0 * (
            dur[("api_http", "POST /routes")] - dur[("api", "create_route")]
        )
    return median(setups)
