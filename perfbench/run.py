"""fiveg_spark benchmark: one command, end-to-end and per-layer metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload capture_kpi --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each exists):

- ``capture_kpi``    closed loop: pcap decode → canonical packets → kpi36
- ``forecast_chain`` closed loop: ``hybrid_eval``, then ``hybrid_train_eval``

Inputs are made from ``--seed`` and the testdata copies under
``perfbench/data/`` (``perfbench/datagen.py``) inside ``.perfbench_work/``
under the current directory; nothing outside the checkout is read or
written.  A run starts its own Spark session, stages its inputs and runs
a cold and a warm pass (all counted in ``setup_s``), then repeats its
operation untraced for ``--seconds`` and at least its minimum count
(capture_kpi 5, forecast_chain 2; on four cores that count takes longer
than 10 s, so each run times the same passes of the process and a faster
host does not add a cheaper, later pass), checks every output, and stops Spark
and every process it started.  The number of timed operations and the
seconds of each go to stderr.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``.  With ``--trace 0`` ``metrics`` holds the
end-to-end metrics, which every workload reports:

- ``setup_s``        session start + input staging + the set-up passes
- ``latency_p50_s``  median seconds of one operation in the timed section
                     (capture_kpi: one capture→KPI pass; forecast_chain:
                     ``hybrid_eval`` + ``hybrid_train_eval``, whole calls)
- ``cpu_s``          process-tree CPU seconds (``/proc``, reaped children
                     included) of the timed section, per operation

With ``--trace 1`` it holds the per-layer metrics BENCHMARK.json names
instead; a layer the run does not reach reads 0.  The timed section is
untraced here too.  After it, the run splits one operation call by call
with a span (name, start, end, parent) around each call into a layer,
and reads Spark's status store for tasks, CPU, shuffle and spill.  The
layer numbers come from that split, not from spans around the timed
operations; only ``capture_kpi_s``, ``forecast_s``, ``train_s`` and the
``spark.*`` totals come from the timed section.
``trace.overhead_s`` is what the split costs beyond the untraced
median operation.  Then it runs one probe: the 18 ``bench.HEADLINE``
queries (capture_kpi) or the open-loop streaming KPI query
(forecast_chain).  Spans and numbers are written to
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def load_units() -> tuple[dict[str, str], dict[str, str]]:
    """Units of the end-to-end and per-layer metrics, by name, as
    BENCHMARK.json declares them; it must name a ``query.<name>_s``
    metric for each ``bench.HEADLINE`` query."""
    from bench import HEADLINE

    with open(SPEC) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    missing = sorted({f"query.{n}_s" for n in HEADLINE} - layer.keys())
    if missing:
        raise SystemExit(f"perfbench: BENCHMARK.json lacks per-layer metrics {missing}")
    return e2e, layer


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("capture_kpi", "forecast_chain"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Everything Spark and its workers write goes under ``work``; the
    workers import ``fiveg_spark`` from the checkout."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    tempfile.tempdir = tmp
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={shlex.quote(tmp)} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.ui.retainedStages=5000 "
            "--conf spark.ui.retainedJobs=5000 "
            "--conf "
            + shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            + " "
            "pyspark-shell"
        ),
    })


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait until every process
    of the tree (Python workers included) has ended."""
    from pyspark import SparkContext

    from perfbench.meter import process_tree, start_time

    procs = [(p, start_time(p)) for p in process_tree() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores stdin close
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        alive = [(p, st) for p, st in procs if st is not None and start_time(p) == st]
        if not alive:
            return
        if time.time() > deadline:
            for p, _ in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def run(args) -> dict:
    from perfbench.meter import RssSampler, Tracer, tree_cpu_s
    from perfbench.workloads import WORKLOADS

    e2e_units, layer_units = load_units()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    tracer = Tracer(enabled=bool(args.trace))
    with RssSampler() as rss:
        t_setup = time.perf_counter()
        with tracer.span("session.start"):
            from fiveg_spark.session import get_spark

            spark = get_spark("perfbench")
            spark.range(1).count()
        session_s = time.perf_counter() - t_setup
        try:
            wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, tracer)
            with tracer.span("setup"):
                wl.setup()
            setup_s = time.perf_counter() - t_setup

            # timed section, untraced in every run
            tracer.enabled = False
            wl.mark()
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            n_ops = 0
            while n_ops < wl.min_ops or time.perf_counter() - t0 < args.seconds:
                try:
                    wl.op()
                except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                    wl.fail(f"{type(exc).__name__}: {exc}")
                    traceback.print_exc(file=sys.stderr)
                n_ops += 1
            cpu_s = (tree_cpu_s() - cpu0) / n_ops
            spark_totals = dict(wl.spark_totals)
            print(f"# timed ops: {n_ops}, completed: {len(wl.latencies)}, seconds: "
                  + " ".join(f"{x:.3f}" for x in wl.latencies), file=sys.stderr)

            split_s = None
            if args.trace and wl.latencies:
                tracer.enabled = True
                try:
                    t_split = time.perf_counter()
                    with tracer.span("split"):
                        wl.split()
                    split_s = time.perf_counter() - t_split
                    wl.probe()
                except Exception as exc:  # noqa: BLE001 — report the failure with the numbers
                    wl.fail(f"traced run: {type(exc).__name__}: {exc}")
                    traceback.print_exc(file=sys.stderr)
        finally:
            stop_session(spark)

    if not wl.latencies:
        raise RuntimeError(f"no operation completed: {wl.errors}")
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(wl.latencies),
        "cpu_s": cpu_s,
    }
    if not args.trace:
        metrics, units = e2e, e2e_units
    else:
        unknown = sorted(wl.layer.keys() - layer_units.keys())
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
        layer = {name: 0.0 for name in layer_units}
        layer.update(wl.layer)
        layer["session.start_s"] = session_s
        layer["spark.task_cpu_s"] = spark_totals.get("task_cpu_s", 0.0) / n_ops
        layer["spark.shuffle_write_bytes"] = spark_totals.get("shuffle_write_bytes", 0) / n_ops
        layer["spark.spill_bytes"] = spark_totals.get("spill_bytes", 0) / n_ops
        layer["spark.failed_tasks"] = spark_totals.get("failed_tasks", 0)
        layer["failed_frac"] = wl.failed / max(wl.attempted, 1)
        layer["peak_rss_mb"] = rss.peak_mb
        if split_s is not None:
            # what splitting one operation into traced layer calls costs
            # beyond the untraced operation
            layer["trace.overhead_s"] = split_s - e2e["latency_p50_s"]
        metrics, units = layer, layer_units
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        with open(os.path.join(WORK_ROOT, "traces", f"{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"spans": tracer.spans, "layers": layer, "e2e": e2e, "timed_ops": n_ops}, fh, indent=1)
    if metrics.keys() != units.keys():
        raise RuntimeError(f"metrics {sorted(metrics.keys() ^ units.keys())} disagree with BENCHMARK.json")
    shutil.rmtree(work, ignore_errors=True)
    for err in wl.errors:
        print(f"# check failed: {err}", file=sys.stderr)
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("fiveg_spark/__init__.py", "bench.py", "__spark_entry__.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from the repository root",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
