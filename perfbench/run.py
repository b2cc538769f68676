"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <ingest_drain|query_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The run writes its
inputs from the seed under ``.perfbench_run/`` in the checkout, sets up
the Spark session (session start plus one warm-up unit; ``SETUPS`` times
in an untraced run, where ``setup_s`` is their median, once in a traced
run), runs timed units until ``--seconds`` have passed and at least the
workload's ``min_units`` have run, checks the outputs, and prints as its
last line one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it is the run's detail record
(samples, the tail percentile, generator shares, host stamp). The traced
run traces one of its two timed units and not the other, the traced one
first on an even seed and second on an odd one, so the tracing overhead
is measured within one run and the order effect cancels over seeds; its
spans go to ``.perfbench_out/``. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SETUPS = 2
MAX_FAILED_UNITS = 3
# local[THREADS]: see perfbench/README.md for the spread measurements.
THREADS = 2
JVM_HEAP = "3g"


def _isolate(run_dir: str) -> None:
    """Route every file the run writes into ``run_dir`` and let the Python
    workers the JVM spawns import the package from the checkout."""
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["LIQ_ANN_STORE"] = os.path.join(run_dir, "ann_index")
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP


def _start_session(run_dir: str):
    from liq_stream_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{THREADS}]",
        shuffle_partitions=THREADS,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _calib_ms() -> float:
    """A fixed pure-Python spin, as an informational host-speed stamp."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return (time.perf_counter() - t0) * 1000.0


def _host() -> dict:
    return {"loadavg": list(os.getloadavg()), "calib_ms": round(_calib_ms(), 1),
            "nproc": os.cpu_count(), "threads": THREADS}


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    from perfbench import stats, workloads
    from perfbench.trace import Tracer

    run_id = f"{workload}-{seed}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".perfbench_run", run_id)
    _isolate(run_dir)
    host_before = _host()
    tracer = Tracer(run_id, enabled=trace)
    off = Tracer(run_id, enabled=False)
    spark = None
    setups, starts = [], []
    try:
        wl = workloads.WORKLOADS[workload]()
        t_prep = time.perf_counter()
        info = wl.prepare(run_dir, seed)
        prepare_s = time.perf_counter() - t_prep
        setups_n = 1 if trace else SETUPS
        for k in range(setups_n):
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = _start_session(run_dir)
            t1 = time.perf_counter()
            wl.warmup(spark, off)
            setups.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
            if k < setups_n - 1:
                spark.stop()

        units: list[dict] = []
        untraced: list[dict] = []
        failed_ops = 0
        end = time.perf_counter() + seconds
        i = 0
        # the traced run needs a traced and an untraced unit
        while failed_ops < MAX_FAILED_UNITS and (
            time.perf_counter() < end or len(units) + len(untraced) < wl.min_units
            or (trace and not (units and untraced))
        ):
            # the traced run alternates, starting traced on an even seed
            traced_unit = not trace or (i + seed) % 2 == 0
            unit_span = (tracer.span("bench.unit", index=i) if traced_unit
                         else contextlib.nullcontext())
            with unit_span:
                try:
                    u = wl.unit(spark, tracer if traced_unit else off, i)
                except Exception:  # a failed unit is counted, not fatal
                    traceback.print_exc()
                    failed_ops += 1
                    u = None
            if u is not None:
                (units if traced_unit else untraced).append(u)
            i += 1
        if trace:
            wl.probe(spark, tracer)
        t_check = time.perf_counter()
        bad = wl.check()
        check_s = time.perf_counter() - t_check
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    ops = [x for u in units + untraced for x in u["ops"]]
    attempted = len(ops) + failed_ops
    failed = failed_ops + len(bad)
    if len(ops) > stats.TAIL_BEYOND:
        value, pct, n = stats.tail(ops)
        op_tail = {"value": value, "percentile": round(pct, 2), "n": n}
    else:
        op_tail = None  # no percentile has ten samples beyond it
    detail = {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "units": len(units) + len(untraced),
        "ops": len(ops),
        "op_samples_s": ops,
        "op_tail": op_tail,
        "setup_samples_s": setups,
        "session_start_s": starts,
        "unit_samples_s": [u["unit_s"] for u in units + untraced],
        "check_failures": bad,
        "prepare_s": prepare_s,
        "check_s": check_s,
        "inputs": info,
        "host_before": host_before,
        "host_after": _host(),
    }
    if not trace:
        metrics = {
            "setup_s": (stats.median(setups), "s"),
            "unit_s": (stats.median(u["unit_s"] for u in units), "s"),
            "op_s": (wl.op_s(units), "s"),
        }
    else:
        metrics = _layer_metrics(wl, tracer, units, untraced, starts)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"{run_id}-spans.json"))
    result = {
        "correct": not bad and not failed_ops,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def _layer_metrics(wl, tracer, units, untraced, starts) -> dict:
    """Every per-layer metric of BENCHMARK.json; a layer this workload does
    not call reads 0."""
    from perfbench import stats

    units_of = _per_layer_units()
    m = {n: 0 for n in units_of}
    m["session.start_s"] = starts[0]  # the cold start: JVM launch included
    if units and "storage_mb" in units[-1]:
        m["session.persistent_rdds"] = units[-1]["persistent_rdds"]
        m["session.storage_mb"] = units[-1]["storage_mb"]
    m.update(wl.layer_metrics(tracer))
    for layer, s in tracer.self_times().items():
        key = f"self_s.{layer}"
        if key in m:
            m[key] = s
    m["trace.overhead_s"] = (
        stats.median(u["unit_s"] for u in units)
        - stats.median(u["unit_s"] for u in untraced)
    ) if untraced else 0.0
    unknown = set(m) - set(units_of)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {n: (v, units_of[n]) for n, v in m.items()}


def _per_layer_units() -> dict[str, str]:
    """name -> unit of every per-layer metric in BENCHMARK.json, in order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_drain", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the JVM and
    # remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    result, detail = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
