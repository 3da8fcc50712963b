"""Benchmark entry point.

    python3 perfbench/run.py --workload <replicate|analytics|control_plane>
        --seed N --seconds S --trace <0|1> [--size full|tiny]

Run from the repository root. Generates the inputs from the seed under
``.perfbench_work/``, starts one Spark process sized from the host,
runs the workload, checks its outputs outside the timed window, and
prints as its LAST stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (spans and the layer table go to
``.perfbench_work/trace-<workload>-<seed>.json``; a layer the workload
never enters reads 0). The line before it holds the chosen sizes and
per-run detail. ``--size tiny`` shrinks every input for smoke tests;
its numbers are not comparable.

Inputs are generated before the Spark session starts and their time
is left out of every metric.

Every workload reports every end-to-end metric, each in its own terms:

=================  =======================  ======================  ======================
metric             replicate                analytics               control_plane
=================  =======================  ======================  ======================
setup_s            process start to a ready Spark session (input generation left out),
                   plus the median of three program-side set-ups (Engine, RestServer
                   and the topics table) where the workload has one
throughput_per_s   catch-up records/s,      queries/s, median       REST requests/s
                   median batch after the   warm sweep
                   first two
latency_p50_ms     live tail: due time to   warm per-query wall     REST read round trip
                   end of committing batch  clock
cold_s             route request to end of  standing-index build    one of each read,
                   first batch              plus cold sweep         first touch
=================  =======================  ======================  ======================

Latency is reported as a median only: one run has too few samples for
a higher percentile with ten samples beyond it (replicate: one per
live-tail file, ``--seconds`` of them; analytics: 24 or so warm query
runs of six queries). The detail line gives p80 and the sample
counts. control_plane prints its REST write p50 on the detail line.
Peak resident memory (JVM plus Python workers) is the per-layer
``process.peak_rss_mib``: it moves with the JVM's heap sizing from run
to run by more than any end-to-end bound allows.

Tracing overhead needs an untraced and a traced run of the same seed;
``perfbench/overhead.py`` makes such pairs and prints the differences.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("replicate", "control_plane", "analytics")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _configure_env(work: str, size: dict) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``.
    The driver heap is fixed at its maximum and touched at start, so
    heap growth and first-touch page faults do not land in timed work."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = f"{size['driver_heap_mib']}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(size["local_cores"])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{size['driver_heap_mib']}m -XX:+AlwaysPreTouch' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception as e:  # noqa: BLE001 — best-effort teardown
                print(f"gateway shutdown: {e}", file=sys.stderr)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        spec = _spec()
        import ureplicator_spark  # noqa: F401
    except (ImportError, OSError) as e:
        print(f"perfbench: cannot load the program under test: {e}", file=sys.stderr)
        return 2

    from perfbench import host
    from perfbench.common import Run
    from perfbench.trace import LAYERS, Tracer, layer_table

    size = host.sizing()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work, size)

    if args.workload == "replicate":
        from perfbench import wl_replicate as wl
    elif args.workload == "control_plane":
        from perfbench import wl_control as wl
    else:
        from perfbench import wl_analytics as wl
    t_gen0 = time.perf_counter()
    inputs = wl.prepare(args, work)
    gen_s = time.perf_counter() - t_gen0

    from ureplicator_spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    run = Run()
    spark = None
    try:
        with tracer.span("session", "get_spark", lane="main"):
            spark = get_spark(
                f"perfbench-{args.workload}",
                master=f"local[{size['local_cores']}]",
                shuffle_partitions=size["shuffle_partitions"],
            )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_PROC0 - gen_s
        probe = host.Probe(spark)
        program_setup_s = wl.run(spark, args, inputs, tracer, probe, run)
        run.e2e["setup_s"] = session_s + program_setup_s
        run.info.update(gen_s=gen_s, session_s=session_s)
        run.layer["process.peak_rss_mib"] = probe.peak_rss_mib()
    finally:
        tracer.restore()
        if spark is not None:
            _stop_spark(spark)

    if args.trace:
        self_s = run.info.pop("self_s", {})
        run.info["e2e_traced"] = run.e2e
        for layer in LAYERS:
            run.layer[f"layer.{layer}.self_s"] = self_s.get(layer, 0.0)
        print(layer_table(self_s), file=sys.stderr)
        tracer.dump(
            os.path.join(base, f"trace-{args.workload}-{args.seed}.json"),
            {"self_s": self_s, "e2e_traced": run.e2e},
        )
    shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    wanted = {m["name"]: m["unit"] for m in spec[section]}
    if args.trace:
        # a layer this workload never enters reads 0; every layer metric
        # the workload declares must have been measured
        owed = set(wl.LAYER_METRICS) | set(host.COUNTERS)
        owed.add("process.peak_rss_mib")
        owed |= {f"layer.{layer}.self_s" for layer in LAYERS}
        missing = sorted(owed - set(run.layer))
        values = {name: run.layer.get(name, 0.0) for name in wanted}
        run.info["layer"] = run.layer
    else:
        missing = sorted(set(wanted) - set(run.e2e))
        values = run.e2e
    print(json.dumps({"sizing": size, **run.info}, default=str))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": int(run.attempted),
                "failed": int(run.failed),
                "metrics": {
                    name: {"value": float(values[name]), "unit": unit}
                    for name, unit in wanted.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
