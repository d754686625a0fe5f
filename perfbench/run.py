"""Run one benchmark workload (or all of them) and print its metrics.

    python3 perfbench/run.py --workload ingest_ldjson --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. It imports the engine from that
checkout, keeps every file it writes under ``perfbench/work/``, and
prints one line per metric followed, as the last line, by a JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Each run also leaves a record with its host facts under
``perfbench/work/records/`` (see ``compare.py``). See README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
RECORDS = os.path.join(WORK, "records")


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(run_dir: str) -> None:
    """Keep the JVM's and Python's scratch files inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def _import_engine():
    """Import the engine from this checkout, never from anywhere else."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import elastic_freight_spark
    except ImportError as ex:
        raise SystemExit(f"perfbench: engine package not found under {ROOT}: {ex}")
    where = os.path.dirname(os.path.abspath(elastic_freight_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise SystemExit(f"perfbench: engine imported from {where}, not from {ROOT}")


def machine_canary() -> float:
    """Seconds for a fixed pure-Python loop, best of three: a host-speed
    diagnostic for reading two records side by side. Never a metric."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * i) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best


def host_facts(cores: int) -> dict:
    import pyspark

    return {
        "cores": cores,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "machine_canary_s": machine_canary(),
    }


def stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _span_coverage(rec, timed_s: float) -> float:
    """Share of the timed wall time covered by named spans."""
    covered = sum(s.seconds for s in rec.spans if s.phase == "timed")
    return covered / timed_s if timed_s else 0.0


def _trace_metrics(rec, event_dir: str) -> tuple[dict, dict]:
    """Per-call span counters from the event log, plus the raw per-group fold."""
    import eventlog
    import workloads

    logs = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    groups: dict = {}
    for path in logs:
        groups.update(eventlog.read_log(path))
    spans = eventlog.fold_spans(groups)
    out = {}
    for span in workloads.TRACED_SPANS:
        calls = len(rec.timed(span))
        totals = spans.get(span, {})
        for counter in eventlog.COUNTERS:
            out[f"{span}.{counter}"] = totals.get(counter, 0) / calls if calls else 0.0
    return out, groups


def _latest_untraced_record(workload: str, cores: int) -> dict | None:
    paths = sorted(glob.glob(os.path.join(RECORDS, f"{workload}-trace0-*.json")), key=os.path.getmtime)
    for path in reversed(paths):
        with open(path) as fh:
            record = json.load(fh)
        if record["host"]["cores"] == cores:
            return record
    return None


def run_one(args) -> int:
    _import_engine()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _isolate(run_dir)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)} or all")
    cores = len(os.sched_getaffinity(0))
    event_dir = os.path.join(run_dir, "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    env = workloads.Env(
        work_dir=run_dir,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        cores=cores,
        spark_conf=conf,
    )
    result = workloads.Result(args.workload)
    spark = None
    try:
        spark, rec = workloads.WORKLOADS[args.workload](env, result)
    finally:
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        if spark is not None:
            stop_spark(spark)

    layer = {name: 0.0 for name, _, _ in workloads.per_layer_metrics()}
    layer.update(result.layer)
    layer["trace.span_coverage"] = _span_coverage(rec, result.timed_s)
    groups = {}
    if args.trace:
        counters, groups = _trace_metrics(rec, event_dir)
        layer.update(counters)
    e2e = result.end_to_end()
    result.detail["op_p95_ms"] = workloads.p95(result.op_samples_ms)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host_facts(cores),
        "end_to_end": e2e,
        "per_layer": layer,
        "attempted": result.attempted,
        "failed": result.failed,
        "error_rate": result.failed / result.attempted if result.attempted else 1.0,
        "failed_checks": result.checks,
        "setup_timed_wall_s": [result.setup_s, result.timed_s],
        "samples": {"op_ms": result.op_samples_ms, "write_ms": result.write_samples_ms},
        "detail": result.detail,
        "trace_groups": groups,
    }
    if args.trace:
        base = _latest_untraced_record(args.workload, cores)
        record["trace_overhead"] = (
            {k: e2e[k] - base["end_to_end"][k] for k in e2e} if base else None
        )
    os.makedirs(RECORDS, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(RECORDS, f"{args.workload}-trace{args.trace}-{stamp}-{os.getpid()}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    units = {n: u for n, u, _ in workloads.END_TO_END}
    units.update({n: u for n, u, _ in workloads.per_layer_metrics()})
    shown = layer if args.trace else e2e
    for name, value in e2e.items():
        print(f"{args.workload} {name} {value:.6g} {units[name]}")
    if args.trace:
        for name, value in layer.items():
            print(f"{args.workload} {name} {value:.6g} {units[name]}")
        if record["trace_overhead"] is None:
            print(f"{args.workload} trace_overhead: no untraced record at {cores} cores to compare")
        else:
            for name, value in record["trace_overhead"].items():
                print(f"{args.workload} trace_overhead.{name} {value:+.6g} {units[name]}")
    for key in ("op_p95_ms", "lookup_p50_ms", "lookup_p95_ms", "upsert_p50_ms", "ingest_docs_per_s",
                "index_bytes_per_input_byte", "query_total_s", "query_geomean_s"):
        if key in result.detail:
            print(f"{args.workload} {key} {result.detail[key]:.6g}")
    print(f"{args.workload} error_rate {record['error_rate']:.6g} ({result.failed}/{result.attempted})")
    for message in result.checks:
        print(f"{args.workload} FAILED CHECK: {message}")
    print(
        json.dumps(
            {
                "correct": not result.checks and result.failed == 0,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
            }
        ),
        flush=True,
    )
    return 0


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    sys.path.insert(0, HERE)
    import workloads

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode or not lines:
            print(f"{name}: exited with code {proc.returncode}")
            return proc.returncode or 1
        last = json.loads(lines[-1])
        merged["correct"] &= last["correct"]
        merged["attempted"] += last["attempted"]
        merged["failed"] += last["failed"]
        for metric, value in last["metrics"].items():
            merged["metrics"][f"{name}.{metric}"] = value
    print(json.dumps(merged), flush=True)
    return 0


def main(argv=None) -> int:
    args = _parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
