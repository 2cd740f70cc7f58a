"""Layered benchmark of the autocomplete engine.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload hourly_increment --seed 1 --seconds 20 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace 1``
runs untraced batches, then traced ones, and reports per-layer metrics (see
``perfbench/trace.py``). The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; progress, the host-noise
readings and the batch samples go to standard error and to
``.perfbench/runs/`` in the checkout. Everything the run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
END_TO_END = (
    ("setup_s", "s"),
    ("batch_p50_s", "s"),
    ("batch_tail_s", "s"),
    ("records_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
    ("state_mb", "MB"),
    ("ok_ratio", "fraction"),
)


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}] {msg}", file=sys.stderr, flush=True)


def host_reading() -> dict[str, float]:
    """Load averages and the time of a fixed pure-Python CPU probe, taken
    outside every timed window: spread that moves with these is the host's."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc ^= i * i
    probe = time.perf_counter() - t0
    load1, load5, load15 = os.getloadavg()
    return {"load1": load1, "load5": load5, "load15": load15, "cpu_probe_s": probe}


def tail(samples: list[float]) -> tuple[float, float]:
    """``(value, percentile)`` of the per-batch tail: the highest
    nearest-rank percentile with ten samples above it once a run has more
    than twenty batches. Shorter runs support no such percentile and report
    the highest one with a sample above it (the slowest batch but one)."""
    s = sorted(samples)
    n = len(s)
    above = 10 if n > 20 else 1 if n > 1 else 0
    return s[n - 1 - above], 100.0 * (n - above) / n


def _environment() -> None:
    """Keep every file the engine, Spark and Python workers write inside the
    checkout, and let executor Python workers import the engine and the
    benchmark's sink clients from it."""
    sys.path.insert(0, ROOT)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM Spark launches (launcher and driver) keeps its temporary and
    # perf-data files out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session(event_log: str | None):
    from batch_processing_pipeline_spark.session import get_spark

    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": "-Xms1g -Xmn256m",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        driver_memory="1g", extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def run_batches(workload, seconds: float, min_batches: int, tracer=None):
    """Closed loop, one batch at a time, for ``seconds``: a new batch starts
    only if the last one's cycle (batch plus check) would still end in time.
    With a tracer, batches alternate untraced / traced, so that drift over
    the run (host load, late JIT) cancels out of the tracing overhead.
    Returns the batches, the ``(start, end, wall)`` windows of the untraced
    ones, and the durable-state bytes after the ``min_batches``-th batch
    (a fixed point, so that state size does not depend on batch count)."""
    from perfbench.workloads import Batch

    batches, untraced, state_bytes = [], [], None
    t_end = time.perf_counter() + seconds
    cycle = 0.0
    while len(batches) < min_batches or time.perf_counter() + cycle < t_end:
        t0 = time.perf_counter()
        traced = tracer is not None and len(batches) % 2 == 1
        workload.tracer = tracer if traced else None
        try:
            if traced:
                with tracer.installed():
                    b = workload.batch()
            else:
                b = workload.batch()
                untraced.append((b.started, b.started + b.wall_s, b.wall_s))
        except Exception:  # a failed batch is counted, and ends the run
            log(traceback.format_exc())
            b = Batch(time.time(), 0.0, 0, False, "raised")
        batches.append(b)
        log(f"{workload.name} batch {len(batches)}{' (traced)' if traced else ''}: "
            f"{b.wall_s:.3f} s, {b.records} records" + ("" if b.ok else f", WRONG: {b.note}"))
        if not b.ok:
            break
        if len(batches) == min_batches:
            state_bytes = workload.state_bytes()
        cycle = time.perf_counter() - t0
    return batches, untraced, state_bytes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _environment()
    import batch_processing_pipeline_spark  # noqa: F401  (fails outside a checkout)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(os.path.join(WORK, "work"), ignore_errors=True)
    log("cleared the work directory")
    event_log = os.path.join(WORK, "eventlog", run_id) if args.trace else None
    if event_log:
        shutil.rmtree(event_log, ignore_errors=True)
    record = {"run": run_id, "host_before": host_reading()}

    log("starting Spark")
    t0 = time.perf_counter()
    spark = start_session(event_log)
    try:
        session_s = time.perf_counter() - t0
        workload = WORKLOADS[args.workload](spark, os.path.join(WORK, "work"), args.seed)
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            workload.prepare()
            reps.append(time.perf_counter() - t0)
        log(f"session {session_s:.2f} s, set-up repetitions {[round(r, 2) for r in reps]} s")

        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            batches, untraced, state_bytes = run_batches(workload, args.seconds, 6, tracer)
        else:
            batches, _, state_bytes = run_batches(workload, args.seconds, 3)

        attempted = len(batches)
        failed = sum(not b.ok for b in batches)
        if not failed:
            ok, note = workload.final_check()
            if not ok:
                failed += 1
                log(f"final check: {note}")
        walls = [b.wall_s for b in batches if b.ok]
        if not walls:
            raise RuntimeError("no batch completed")
        tail_s, tail_pct = tail(walls)
        e2e = {
            "setup_s": session_s + statistics.median(reps),
            "batch_p50_s": statistics.median(walls),
            "batch_tail_s": tail_s,
            "records_per_s": sum(b.records for b in batches if b.ok) / sum(walls),
            "peak_rss_mb": jvm_peak_rss_mb(spark),
            "state_mb": (state_bytes or 0) / 1e6,
            "ok_ratio": (attempted - failed) / attempted,
        }
        record.update({
            "session_s": session_s, "setup_reps_s": reps, "batch_walls_s": walls,
            "tail_percentile": tail_pct, "samples": len(walls), "end_to_end": e2e,
        })
    finally:
        log("stopping Spark")
        stop_session(spark)
        log("stopped Spark")

    if args.trace:
        from perfbench.trace import LAYER_MAP, PER_LAYER, dedup_pairs, job_table, layer_metrics, read_event_log

        events = read_event_log(event_log)
        metrics, per_batch = layer_metrics(tracer, job_table(events), dedup_pairs(events), untraced)
        del events
        metrics["session.start_s"] = session_s
        units = dict(PER_LAYER)
        out = {name: {"value": metrics[name], "unit": units[name]} for name, _ in PER_LAYER}
        record.update({
            "per_layer": metrics, "per_batch": per_batch, "spans": tracer.spans, "layer_map": LAYER_MAP,
        })
    else:
        units = dict(END_TO_END)
        out = {name: {"value": e2e[name], "unit": units[name]} for name, _ in END_TO_END}

    record["host_after"] = host_reading()
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    log(f"host before {record['host_before']}, after {record['host_after']}")
    log(f"{len(walls)} batches, tail = p{tail_pct:.0f} of {len(walls)} samples")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
