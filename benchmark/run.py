"""Benchmark entry point.

    python3 benchmark/run.py --workload export_batch --seed 1 --seconds 5 --trace 0
    python3 benchmark/run.py --write-benchmark-json

Run from the root of a checkout: the program under test is the
``recover_spark`` package found there.  Inputs are generated from
``--seed`` under ``.benchwork/`` in the checkout, which is removed again
at the end (span dumps of traced runs are kept in ``.benchwork/traces``).
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it print
every metric by name and unit, including the workload-specific names
listed in ``benchmark/README.md``.  ``--trace 1`` runs the untraced
measurement first, then a traced one, then the workload's passenger
(``spec.PASSENGERS``) traced, and reports per-layer metrics.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (OSError, ValueError, IndexError):
                continue
    return out


def _start_session(work: str, cores: int, trace: bool):
    from recover_spark.session import get_spark

    conf = {
        "spark.driver.memory": "1536m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms1536m -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("benchmark", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and the Python worker daemon, and wait
    for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _children(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - last resort, the JVM must not outlive the run
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _summarize(ops: list[dict]) -> dict[str, float]:
    lat = [o["latency_s"] for o in ops]
    stored = [o["stored"] for o in ops if o["stored"] is not None]
    return {
        "items_per_s": sum(o["items"] for o in ops) / sum(lat),
        "items_per_cpu_s": sum(o["items"] for o in ops) / sum(o["cpu_s"] for o in ops),
        "op_p50_ms": statistics.median(lat) * 1000,
        # the 95th percentile only once at least ten samples lie beyond it
        "op_p95_ms": statistics.quantiles(lat, n=20)[18] * 1000 if len(lat) >= 200 else None,
        "stored_bytes_per_input_byte": statistics.median(stored) if stored else 0.0,
    }


def _generate(wl, work: str, out: dict) -> None:
    """Generate the inputs.  This is plain Python, so it runs on a thread
    while the session starts."""
    try:
        t0 = time.perf_counter()
        wl.generate(os.path.join(work, "input"))
        out["gen_s"] = time.perf_counter() - t0
    except BaseException as exc:  # noqa: BLE001 - re-raised on the main thread
        out["error"] = exc


def _set_up(wl, tracer, work: str, cores: int, trace: bool):
    """Start the session while the inputs are generated, resolve schemas,
    then build and warm up; returns (session, set-up timings)."""
    prep: dict = {}
    t_setup = time.perf_counter()
    thread = threading.Thread(target=_generate, args=(wl, work, prep))
    thread.start()
    try:
        with tracer.span("session.start"):
            t0 = time.perf_counter()
            spark = _start_session(work, cores, trace)
            session_s = time.perf_counter() - t0
    finally:
        thread.join()
    wl.spark = tracer.spark = spark
    if "error" in prep:
        raise prep["error"]
    with tracer.span("schemas.resolve"):
        t0 = time.perf_counter()
        wl.resolve_schemas()
        schemas_s = time.perf_counter() - t0
    tracer.enabled = False
    t0 = time.perf_counter()
    wl.build()
    wl.warmup()
    warm_s = time.perf_counter() - t0
    tracer.job_counts.clear()
    return spark, {"session_s": session_s, "schemas_s": schemas_s, "gen_s": prep["gen_s"],
                   "warm_s": warm_s, "setup_s": time.perf_counter() - t_setup}


def _measure(wl, tracer, seconds: float, trace: bool):
    """Measure untraced, then traced if asked; returns (timed ops, traced
    ops, end-to-end metrics)."""
    ops = wl.measure(seconds)
    traced = []
    if trace:
        tracer.enabled = True
        traced = wl.measure(seconds)
        tracer.enabled = False
    from pyspark import SparkContext

    pids = [os.getpid()]
    if getattr(SparkContext._gateway, "proc", None) is not None:
        pids.append(SparkContext._gateway.proc.pid)
    metrics = _summarize(ops)
    metrics["peak_rss_mb"] = sum(_vm_hwm_kb(p) for p in pids) / 1024
    return ops, traced, metrics


def _ride(wl, tracer, seconds: float, work: str):
    """Set up and warm up a passenger workload in the host's session, then
    measure it traced; returns (set-up seconds, traced ops)."""
    t0 = time.perf_counter()
    wl.resolve_schemas()
    wl.generate(os.path.join(work, f"{wl.name}-input"))
    wl.build()
    wl.warmup()
    setup_s = time.perf_counter() - t0
    tracer.enabled = True
    traced = wl.measure(seconds)
    tracer.enabled = False
    return setup_s, traced


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-benchmark-json", action="store_true",
                    help="write BENCHMARK.json into the current directory and exit")
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    import spec

    if args.write_benchmark_json:
        with open("BENCHMARK.json", "w") as fh:
            json.dump(spec.benchmark_json(), fh, indent=2)
            fh.write("\n")
        return 0
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    if args.workload not in spec.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(spec.WORKLOADS)}")
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "recover_spark", "__init__.py")):
        print("error: run from a checkout root that holds the recover_spark package", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    def load(name):
        module, cls, _why = spec.WORKLOADS[name]
        return getattr(importlib.import_module(module), cls)

    workload_cls = load(args.workload)
    passenger = spec.PASSENGERS.get(args.workload) if args.trace else None
    from tracing import Tracer

    work = os.path.join(root, ".benchwork", f"{args.workload}-s{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers import recover_spark (zip_ndjson reader, pandas UDFs).
    os.environ["PYTHONPATH"] = os.pathsep.join([root, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = min(3, len(os.sched_getaffinity(0)))
    tracer = Tracer(enabled=bool(args.trace))
    wl = workload_cls(None, work, args.seed, tracer)
    spark = None
    p_traced = []
    try:
        spark, setup = _set_up(wl, tracer, work, cores, bool(args.trace))
        ops, traced, metrics = _measure(wl, tracer, args.seconds, bool(args.trace))
        mark = len(tracer.spans)
        if passenger:
            pwl = load(passenger)(spark, work, args.seed, tracer)
            p_setup_s, p_traced = _ride(pwl, tracer, args.seconds, work)
    except BaseException:
        if wl.spark is not None:
            _stop_session(wl.spark)
        shutil.rmtree(work, ignore_errors=True)
        raise
    _stop_session(spark)
    metrics["setup_s"] = setup["setup_s"]
    session_s = setup["session_s"]

    all_ops = ops + traced + p_traced
    failed = sum(1 for o in all_ops if o["problems"])
    for o in all_ops:
        for p in o["problems"]:
            print(f"check failed: {p}", file=sys.stderr)
    print(f"workload {args.workload}: seed {args.seed}, {len(ops)} timed operations"
          f"{f' + {len(traced)} traced' if traced else ''}, local[{cores}]")
    print(f"  set-up: session {session_s:.3f} s (generation {setup['gen_s']:.3f} s meanwhile), "
          f"schemas {setup['schemas_s']:.3f} s, build + warm-up {setup['warm_s']:.3f} s")
    for name, (unit, _better, _bound) in spec.END_TO_END.items():
        print(f"  {name:42s} {metrics[name]:.6g} {unit}")
    print(f"  {'op_p50_ms':42s} {metrics['op_p50_ms']:.6g} ms")
    print(f"  {'items_per_s':42s} {metrics['items_per_s']:.6g} 1/s")
    for alias, generic, scale, unit in spec.ALIASES[args.workload]:
        if metrics.get(generic) is not None:
            print(f"  {alias:42s} {metrics[generic] * scale:.6g} {unit}")
    for name, (value, unit) in wl.extra_metrics().items():
        print(f"  {name:42s} {value:.6g} {unit}")
    if passenger:
        p = _summarize(p_traced)
        print(f"  passenger {passenger}: set-up + warm-up {p_setup_s:.3f} s, {len(p_traced)} traced operations")
        for alias, generic, scale, unit in spec.ALIASES[passenger]:
            if p.get(generic) is not None:
                print(f"  {alias:42s} {p[generic] * scale:.6g} {unit}")
        for name, (value, unit) in pwl.extra_metrics().items():
            print(f"  {name:42s} {value:.6g} {unit}")
    print(f"  {'failed_frac':42s} {failed / len(all_ops):.6g} ratio")

    if args.trace:
        tracer.attribute_event_log(os.path.join(work, "eventlog"))
        # per traced operation of the workload that made the spans, except
        # the set-up layers, which run once
        layer = {k: v if k.startswith(("session.", "schemas.")) else v / len(traced)
                 for k, v in tracer.layer_totals(tracer.spans[:mark]).items()}
        layer.update(wl.layer_metrics(len(traced)))
        if passenger:
            # the passenger fills in the layers its host does not touch
            host_layers = {s["name"].split(".", 1)[0] for s in tracer.spans[:mark]}
            for k, v in tracer.layer_totals(tracer.spans[mark:]).items():
                if k.split(".", 1)[0] not in host_layers:
                    layer[k] = v / len(p_traced)
            layer.update(pwl.layer_metrics(len(p_traced)))
        layer["session.start_s"] = session_s
        layer["schemas.resolve_s"] = setup["schemas_s"]
        layer["trace_overhead_s"] = (statistics.median(o["latency_s"] for o in traced)
                                     - metrics["op_p50_ms"] / 1000)
        layer["failed_frac"] = failed / len(all_ops)
        traces = os.path.join(root, ".benchwork", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-s{args.seed}.json"))
        units = spec.PER_LAYER
        print("  per layer (traced run, per operation):")
        for name, unit in units.items():
            print(f"  {name:42s} {layer.get(name, 0):.6g} {unit}")
        out = {name: {"value": float(layer.get(name, 0)), "unit": unit} for name, unit in units.items()}
    else:
        out = {name: {"value": float(metrics[name]), "unit": unit}
               for name, (unit, _better, _bound) in spec.END_TO_END.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(all_ops), "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
