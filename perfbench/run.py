"""Serving benchmark for akumuli_spark.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Runs one seeded workload (``dashboard``, ``analytics`` or ``ingest``, see
``workloads.py``) against Spark local[nproc] in this process, checks every
reply, and prints the metrics: ``# name value unit`` lines first, then
one JSON object as the last line of standard output.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs with spans around the
public calls and reports the per-layer metrics instead, writing the full
trace to ``.perfbench-out/``.  Names, units and bounds are in
``BENCHMARK.json`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: set-up repetitions whose median is charged to ``setup_s``
PREPARE_REPS = 3
#: driver heap, fixed so runs compare: the heap is pre-touched, so this is
#: also most of ``peak_rss_mb``
DRIVER_MEMORY = "1g"
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) for the highest percentile of
    :data:`TAIL_PERCENTILES` with at least ten samples beyond it; the median
    when there are fewer than twenty samples."""
    ordered = sorted(values)
    n = len(ordered)
    for p in TAIL_PERCENTILES:
        if round(n * (100 - p)) >= 1000:   # ten samples beyond p
            break
    rank = p / 100 * (n - 1)
    lo = math.floor(rank)
    hi = min(lo + 1, n - 1)
    return p, ordered[lo] + (ordered[hi] - ordered[lo]) * (rank - lo)


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (MB) of the driver JVM and of this Python
    process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return jvm_kb / 1024, py_kb / 1024


def start_session(tmp: str, cpus: int):
    """The engine's own session factory, with run hygiene on top: Python
    workers import the package from this checkout, every scratch file
    lands in ``tmp``, and no console progress bars."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # launch-time settings must reach spark-submit; get_spark adds the rest
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        # heap committed and touched up front, as production JVMs run: no
        # page-fault stalls mid-request, and peak RSS stops depending on
        # when the collector decided to grow the heap
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "pyspark-shell",
    ])
    from akumuli_spark.session import get_spark

    return get_spark("perfbench", cpus=cpus)


def stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it: the gateway
    JVM exits when its standard input closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("dashboard", "analytics", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "akumuli_spark", "__init__.py")):
        print(f"perfbench: no akumuli_spark package next to {HERE}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    base = os.path.join(ROOT, ".perfbench-tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    spark = None
    try:
        t0 = time.perf_counter()
        cpus = len(os.sched_getaffinity(0))  # what nproc reports
        spark = start_session(tmp, cpus)
        session_s = time.perf_counter() - t0
        result = run(spark, args, tmp, session_s, cpus)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still has its directory there
    print(json.dumps(result))
    return 0


def run(spark, args, tmp: str, session_s: float, cpus: int) -> dict:
    from spans import Tracer
    from workloads import WORKLOADS, Client

    tracer = Tracer(spark) if args.trace else None
    w = WORKLOADS[args.workload](spark, args.seed, tmp, Client(tracer))
    prepare_s = []
    for _ in range(PREPARE_REPS):
        t = time.perf_counter()
        w.prepare()
        prepare_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    warm_calls = w.warm_up()
    warmup_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(prepare_s) + warmup_s

    gc0 = tracer.gc_ms() if tracer else 0.0
    if tracer:
        tracer.reset()
    out = w.measure(args.seconds)
    gc_ms = tracer.gc_ms() - gc0 if tracer else 0.0

    p_tail, op_tail = tail(out.op_ms)
    x = out.extra
    jvm_mb, py_mb = peak_rss_mb(spark)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(out.op_ms), "ms"),
        "op_tail_ms": (op_tail, "ms"),
        "ops_per_s": (len(out.op_ms) / out.busy_s, "1/s"),
        "stored_bytes_per_sample": (x["stored_bytes"] / x["samples"], "B"),
        "peak_rss_mb": (jvm_mb + py_mb, "MB"),
    }

    def say(name, value, unit, note=""):
        print(f"# {args.workload} {name} {value:.6g} {unit}{note}")

    def say_latency(name, values):
        p, v = tail(values)
        say(f"{name}_p50_ms", statistics.median(values), "ms", f" (n={len(values)})")
        say(f"{name}_tail_ms", v, "ms", f" (p{p:g} of n={len(values)})")

    print(f"# {args.workload} seed={args.seed} cpus={cpus} trace={args.trace} "
          f"samples={x['samples']} series={x['series']} "
          f"stored_bytes={x['stored_bytes']} stored_files={x['stored_files']}")
    print(f"# {args.workload} setup: session {session_s:.2f} s + prepare median "
          f"{statistics.median(prepare_s):.2f} s of "
          f"{[round(s, 2) for s in prepare_s]} + warm-up {warmup_s:.2f} s "
          f"({warm_calls} calls)")
    notes = {"op_tail_ms": f" (p{p_tail:g} of n={len(out.op_ms)})",
             "peak_rss_mb": f" (JVM {jvm_mb:.0f} + Python {py_mb:.0f})"}
    for name, (value, unit) in e2e.items():
        say(name, value, unit, notes.get(name, ""))
    print(f"# {args.workload} op_ms {[round(v) for v in out.op_ms]}")
    say_latency("query", out.query_ms)
    say("queries_per_s", len(out.query_ms) / out.busy_s, "1/s")
    say("meta_p50_ms", statistics.median(out.meta_ms), "ms", f" (n={len(out.meta_ms)})")
    say("failed_frac", out.failed / out.attempted, "",
        f" ({out.failed} of {out.attempted})")
    if args.workload == "ingest":
        say("ingest_samples_per_s",
            x["samples_per_batch"] * len(out.op_ms) / out.busy_s, "1/s")
        say_latency("commit", w.commit_ms)
        say("visible_p50_ms", e2e["op_p50_ms"][0], "ms")
    else:
        say("sources.layout.write_s", statistics.median(w.write_s), "s")
        say("sources.layout.bytes_per_sample", e2e["stored_bytes_per_sample"][0], "B")
    for err in out.errors[:20]:
        print(f"# {args.workload} FAILED {err}")

    result = {"correct": out.failed == 0, "attempted": out.attempted,
              "failed": out.failed}
    if not tracer:
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return result
    layers = per_layer(tracer, out, gc_ms)
    if args.workload == "ingest":
        layers_ingest = {
            "sources.resp.parse_samples_per_s": (w.parse_rate(), "1/s"),
            "streaming.ingest.gate_ms": (
                tracer.median_ms("streaming.ingest.gate", self_time=True), "ms"),
            "streaming.ingest.marks_read_ms": (
                tracer.median_ms("streaming.ingest.marks_read"), "ms"),
            "streaming.ingest.marks_advance_ms": (
                tracer.median_ms("streaming.ingest.marks_advance"), "ms"),
            "streaming.ingest.sink_files_per_batch": (x["sink_files_per_batch"], "count"),
            "streaming.ingest.late_frac": (x["rejected"] / x["sent"], ""),
            "streaming.ingest.seed_scans": (x["seed_scans"], "count"),
        }
    else:
        layers_ingest = {}
    for name, (value, unit) in {**layers, **layers_ingest}.items():
        say(name, value, unit)
    summary = {k: v for k, (v, _u) in {**e2e, **layers, **layers_ingest}.items()}
    out_dir = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    tracer.dump(path, summary)
    print(f"# {args.workload} trace written to {os.path.relpath(path, ROOT)}")
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    return result


def per_layer(tr, out, gc_ms: float) -> dict:
    """The per-layer metrics every workload exercises."""
    tr.resolve_counts()
    queries = [rq for rq in tr.requests if rq.kind == "query"]
    metas = [rq for rq in tr.requests if rq.kind == "meta"]

    def mean(rqs, fn):
        return statistics.fmean(fn(rq) for rq in rqs)

    def ratio(rqs):
        return sum(rq.plan["rows_scanned"] for rq in rqs) / max(
            1, sum(rq.rows_out for rq in rqs))

    return {
        "query.parser.parse_us": (tr.median_ms("query.parser.parse") * 1e3, "us"),
        "api.query_build_ms": (tr.median_ms("api.query_build"), "ms"),
        "query.engine.plan_ms": (tr.median_ms("query.engine.plan"), "ms"),
        "query.engine.exec_ms": (tr.median_ms("query.engine.exec"), "ms"),
        "query.engine.jobs_per_query": (mean(queries, lambda r: r.counts["jobs"]), "count"),
        "query.engine.stages_per_query": (mean(queries, lambda r: r.counts["stages"]), "count"),
        "query.engine.tasks_per_query": (mean(queries, lambda r: r.counts["tasks"]), "count"),
        "query.engine.shuffle_bytes_per_query": (
            mean(queries, lambda r: r.plan["shuffle_bytes"]), "B"),
        "query.engine.files_read_per_query": (
            mean(queries, lambda r: r.plan["files"]), "count"),
        "query.engine.rows_scanned_per_row_returned": (ratio(queries), "ratio"),
        "query.metadata.exec_ms": (tr.median_ms("query.metadata.exec"), "ms"),
        "query.metadata.rows_scanned_per_name": (ratio(metas), "ratio"),
        "session.gc_ms_per_op": (gc_ms / len(out.op_ms), "ms"),
        "trace.overhead_ms_per_op": (tr.overhead_s * 1e3 / len(out.op_ms), "ms"),
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
