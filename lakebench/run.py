"""Benchmark entry point.

    python3 lakebench/run.py --workload {ingest,curate} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository.  Generates the
seed's inputs, starts a Spark session with a fixed core count and heap,
sets up and warms the workload, then runs ops in a closed loop (one
client) for ``--seconds`` and checks every op's output.  The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  A run record (environment stamp, op
samples, and with ``--trace 1`` every span) is written under
``.lakebench/records/``.  See ``lakebench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: fixed Spark resources — never taken from the host
CORES = 4
HEAP = "1g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "work_per_s": "1/s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_row": "B/row",
}


def _fail(msg: str, code: int = 2) -> None:
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, trace: bool):
    from aws_datalake_framework_ingestion_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": HEAP,
        # get_session's extraJavaOptions is replaced, not merged: keep
        # the 1 GB JIT code cache, pin the JVM zone to the session zone
        # and keep every JVM-side file inside the work directory.  The
        # heap is only capped (-Xmx from spark.driver.memory), so peak
        # RSS follows the heap the program commits.
        "spark.driver.extraJavaOptions": " ".join([
            "-XX:ReservedCodeCacheSize=1g",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        ]),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_session(
        app_name="lakebench", cpus=CORES, shuffle_partitions=CORES, extra_conf=conf
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(wl, seconds: float, spark, tracer=None, phases=None):
    """Closed loop, one client: run ops until ``seconds`` have passed
    since the first one.  With a tracer, ops alternate traced /
    untraced so the tracing overhead is measured in the same session.
    Returns the op records, the number of failed ops and the failure
    messages."""
    from tracing import cached_mb, jvm_gc_seconds

    ops: list[dict] = []
    failures: list[str] = []
    failed = 0
    i = wl.warmup_ops
    t_first = time.time()
    while True:
        traced = tracer is not None and len(ops) % 2 == 0
        c0 = time.perf_counter()
        wl.before_op(i)
        rec = {"id": i, "traced": traced, "before_s": time.perf_counter() - c0}
        if traced:
            gc0 = jvm_gc_seconds(spark)
            # events of the untimed input delivery must not count
            phases.drain()
            phases.enabled = True
            tracer.begin_op(i)
        rec["start"] = time.time()
        p0 = time.perf_counter()
        try:
            rec["work"] = wl.op(i)
            bad = []
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            rec["work"] = 0
            bad = [f"op {i}: {exc!r}"]
        rec["latency"] = time.perf_counter() - p0
        rec["end"] = time.time()
        if traced:
            tracer.end_op()
            phases.drain()
            phases.enabled = False
            rec["gc_s"] = jvm_gc_seconds(spark) - gc0
            rec["cached_mb"] = cached_mb(spark)
            rec.update(wl.trace_extra(i))
        if not bad:
            c0 = time.perf_counter()
            try:
                bad = wl.check(i)
            except Exception as exc:  # noqa: BLE001
                bad = [f"op {i} check: {exc!r}"]
            rec["check_s"] = time.perf_counter() - c0
        if bad:
            failed += 1
            failures += bad
        ops.append(rec)
        i += 1
        if time.time() - t_first >= seconds:
            return ops, failed, failures


def end_to_end(ops, setup_s: float, peak_mb: float, stored: float):
    from statistics import median

    from stats import tail

    lat = [o["latency"] for o in ops]
    tail_p, tail_v = tail(lat)
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": median(lat),
        "op_tail_s": tail_v,
        "work_per_s": sum(o["work"] for o in ops) / sum(lat),
        "peak_rss_mb": peak_mb,
        "stored_bytes_per_row": stored,
    }
    summary = (
        f"setup_s={setup_s:.3f} op_p50_s={metrics['op_p50_s']:.4f} (n={len(lat)}) "
        f"op_tail_s={tail_v:.4f} (p{tail_p:g}, n={len(lat)}) "
        f"work_per_s={metrics['work_per_s']:.2f} peak_rss_mb={peak_mb:.0f} "
        f"stored_bytes_per_row={stored:.1f}"
    )
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}, summary


def per_layer(ops, tracer, phases, event_dir: str):
    from statistics import median

    from tracing import layer_metrics, read_event_log

    t_ops = [o for o in ops if o["traced"]]
    u_lat = [o["latency"] for o in ops if not o["traced"]]
    metrics = layer_metrics(tracer.spans, t_ops, read_event_log(event_dir), phases.totals)
    metrics["trace.overhead_share"] = (
        median([o["latency"] for o in t_ops]) / median(u_lat) - 1
    )
    summary = (
        f"traced: {len(t_ops)} traced / {len(u_lat)} untraced ops, "
        f"{len(tracer.spans)} spans, overhead {metrics['trace.overhead_share']:+.1%} "
        f"(median traced vs untraced op; wrappers {tracer.wrapper_s:.3f}s)"
    )
    units = {m["name"]: m["unit"] for m in _bench_json()["per_layer"]}
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}, summary


def main(argv=None) -> int:
    args = _parse(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        from stats import RssSampler, dir_bytes, env_stamp, process_start_epoch
    except ImportError as exc:
        _fail(f"cannot import the benchmark's helpers: {exc}")
    proc_start = process_start_epoch()
    sys.path.insert(0, ROOT)
    try:
        import workloads as W
    except ImportError as exc:
        _fail(f"run from the root of a checkout of the repository ({exc})")
    if args.workload not in W.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
    if args.seconds <= 0:
        _fail("--seconds must be positive")

    base = os.path.join(ROOT, ".lakebench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "lake"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM (the spark-submit launcher and the driver): no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    trace = bool(args.trace)
    rss = RssSampler().start()
    spark = None
    try:
        wl = W.WORKLOADS[args.workload](args.seed, work)
        t_gen = time.time()
        wl.generate()
        gen_s = time.time() - t_gen

        t_session = time.time()
        spark = start_spark(work, trace)
        t_session = time.time() - t_session
        spark.sparkContext.setLogLevel("ERROR")
        t_wl = time.time()
        wl.setup(spark)
        t_wl = time.time() - t_wl
        tracer = phases = None
        if trace:
            from tracing import PhaseListener, Tracer

            tracer = Tracer(spark)
            tracer.install(W.targets())
            phases = PhaseListener(spark)
        failures: list[str] = []
        warmup_s = []
        for i in range(wl.warmup_ops):
            wl.before_op(i)
            t_op = time.time()
            wl.op(i)
            warmup_s.append(time.time() - t_op)
            failures += wl.check(i)

        setup_s = time.time() - proc_start - gen_s
        t_first = time.time()
        ops, failed, op_failures = measure(wl, args.seconds, spark, tracer, phases)
        failures += op_failures
        try:
            failures += wl.final_check()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"final check: {exc!r}")
        measure_wall = time.time() - t_first

        stored = wl.stored_bytes() / wl.input_rows()
        stored_by_dir = {
            d: dir_bytes(os.path.join(wl.lake, d)) for d in sorted(os.listdir(wl.lake))
        }
        jvm_heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
        if trace:
            phases.close()
            tracer.uninstall()
        stop_spark(spark)
        spark = None
        peak_mb = rss.stop() / 2**20
        stamp = env_stamp(CORES, HEAP, round(jvm_heap, 1))

        if trace:
            out, summary = per_layer(ops, tracer, phases, os.path.join(work, "events"))
        else:
            out, summary = end_to_end(ops, setup_s, peak_mb, stored)
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "env": stamp, "gen_s": gen_s,
            "import_s": t_gen - proc_start, "session_s": t_session,
            "workload_setup_s": t_wl, "warmup_op_s": warmup_s,
            "measure_wall_s": measure_wall, "total_s": time.time() - proc_start,
            "failures": failures, "ops": ops, "rss_at_peak_mb": rss.at_peak,
            "stored_bytes_by_dir": stored_by_dir,
            "summary": summary, "metrics": out,
        }
        if trace:
            record["spans"] = tracer.spans
        os.makedirs(os.path.join(base, "records"), exist_ok=True)
        with open(os.path.join(
            base, "records",
            f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json",
        ), "w") as f:
            json.dump(record, f, default=str)
        for line in failures[:20]:
            print(f"# FAILED {line}", file=sys.stderr)
        print(json.dumps({"env": stamp}), file=sys.stderr)
        print(
            f"# {args.workload} seed={args.seed}: {summary} | gen_s={gen_s:.2f} "
            f"load1={stamp['load1']} wake_us={stamp['wake_us']}"
        )
        print(json.dumps({
            "correct": not failures,
            "attempted": len(ops),
            "failed": failed,
            "metrics": out,
        }))
        return 0
    except Exception:  # noqa: BLE001 — report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception:  # noqa: BLE001
                pass
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
