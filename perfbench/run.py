"""The repo benchmark: one command, three workloads, checked outputs.

Usage (from the repository root)::

    python3 perfbench/run.py --workload f1_dag|mart_serving|curate_ingest \
        --seed N --seconds S --trace 0|1 [--small]

One run makes its inputs from ``--seed`` (``gen.py``), then

1. sets up once — ``get_spark`` on ``local[<cores>]`` (a cold JVM) plus
   the workload's warm-up and model staging or index init: ``setup_s``;
2. runs the workload's timed operation in a closed loop, a fixed number
   of times: ``--seconds`` over the workload's nominal operation time,
   rounded up to whole rounds (or until the workload's input is used up);
3. runs the workload's final steps and checks every output against an
   independent oracle (``checks.py``);
4. prints one summary line naming every figure of the workload with its
   unit and, as the last line of stdout, one JSON object ``{"correct",
   "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` wraps the package functions each workload calls
(``spans.py``), alternates traced and untraced operations, and reports
every per-layer metric — zero where the workload does not reach the
layer — plus ``trace.overhead_pct``, the traced-vs-untraced latency
difference.  ``--small`` shrinks every input for smoke tests.

The exit code is 0 only when every output was correct.  Run from a
directory without the package, the benchmark exits with code 2 before
doing any work.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time

import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "engineering_school_bigdata_project_f1_weather_spark"

QUERIES = [
    "q1_wins", "q2_fastestlap", "q3_filter", "q4_weather", "q5_evopoints",
    "q6_constructor", "q7_pitstops", "q8_circuit_stats", "q9_top10",
]
SPAN = spans.FIELDS
SINK = SPAN + ("files", "output_mb")
# span → fields; every traced run reports all of them.
LAYERS = {
    "session.get_spark": ("wall_s",),
    "pipeline.run": SPAN,
    "sources.sinks.write_parquet": SINK,
    "sources.sinks.write_mart": SINK,
    "plans.f1_model.combined": SPAN,
    **{f"operators.marts.{q}": ("plan_s", "fetch_s", "jobs", "stages")
       for q in QUERIES},
    "operators.curate_index.curate_index_init": SPAN,
    "operators.curate_index.curate_index_update": SPAN,
    "operators.curate_index.curate_resolve": SPAN,
    "functions.snapshots": ("files_written", "mb_written", "commits"),
    "trace": ("overhead_pct",),
}
UNITS = {
    "wall_s": "s", "exec_run_s": "s", "driver_s": "s", "plan_s": "s",
    "fetch_s": "s", "shuffle_mb": "MB", "spill_mb": "MB", "output_mb": "MB",
    "mb_written": "MB", "job_overlap": "ratio", "overhead_pct": "%",
}
END_TO_END = {
    "setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s", "jobs_per_op": "count",
}


def layer_metrics() -> dict[str, str]:
    """Every per-layer metric name → unit."""
    return {
        f"{span}.{f}": UNITS.get(f, "count")
        for span, fields in LAYERS.items()
        for f in fields
    }


def _hygiene(work: str) -> None:
    """Environment for the driver, the JVM and the Python workers: the
    package importable everywhere, all scratch space inside ``work``, no
    console progress bars, and UI retention high enough that no span's
    jobs are evicted before they are read."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's too: temp files under work, and no
    # hsperfdata file (which the JVM writes to /tmp regardless)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    sys.path[:0] = [ROOT, HERE]


def _rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def _stop(spark) -> None:
    """Stop the session and the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def _measure(w, spark, tracer, seconds: float, trace: bool) -> dict:
    """The timed loop, final steps and checks of one workload."""
    lat, lat_traced, lat_plain, items, errors = [], [], [], 0, []
    first_job = spans.next_job_id(spark.sparkContext)
    # A fixed number of ops per run, sized from --seconds by the workload's
    # nominal op time and rounded up to whole rounds: the timed ops sit at
    # the same points of the JVM's warm-up curve in every run, and a slow
    # run does not drop its warmest ops.
    rounds = math.ceil(seconds / (w.nominal_op_s * w.round))
    n_ops = max(w.min_ops, rounds * w.round, 2 * w.trace_unit if trace else 0)
    while len(lat) < n_ops and w.has_more():
        n = len(lat)
        # traced runs alternate untraced and traced ops (mart_serving:
        # whole rounds), so the overhead is measured within one run
        tracer.active = trace and (n // w.trace_unit) % 2 == 1
        t0 = time.perf_counter()
        try:
            items += w.op(n)
        except Exception as e:  # noqa: BLE001 — counted as a failed op
            errors.append(f"op {n}: {type(e).__name__}: {e}"[:500])
            break
        lat.append(time.perf_counter() - t0)
        (lat_traced if tracer.active else lat_plain).append(lat[-1])
    tracer.active = trace
    _log(f"{len(lat)} timed ops: {sum(lat):.2f}s")
    jobs = spans.next_job_id(spark.sparkContext) - first_job
    out = {"lat": lat, "items": items, "errors": errors, "extra": None,
           "jobs_per_op": jobs / max(len(lat), 1),
           "attempted": len(lat) + bool(errors), "failed": len(errors),
           "overhead_pct": 0.0}
    if lat_traced and lat_plain:
        out["overhead_pct"] = 100 * (
            statistics.median(lat_traced) / statistics.median(lat_plain) - 1
        )
    if errors:
        return out
    try:
        out["extra"] = w.finish()
        out["attempted"], out["failed"], errs = w.check()
        errors += errs
        tracer.resolve()
    except Exception as e:  # noqa: BLE001 — reported as an incorrect run
        errors.append(f"finish/check/trace: {type(e).__name__}: {e}"[:500])
        out["failed"] = out["attempted"]
    _log("checks done")
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, small: bool) -> int:
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    _hygiene(work)
    from engineering_school_bigdata_project_f1_weather_spark import get_spark

    tracer = spans.Tracer()
    tracer.active = trace
    w = workloads.WORKLOADS[workload](work, small, tracer)
    w.prepare(seed)
    if trace:
        w.install(tracer)
    _log("inputs ready")

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{workload}", cpus=os.environ["SPARK_GRAFT_CPUS"])
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        tracer.bind(spark)
        tracer.record("session.get_spark", "wall_s", t1 - t0)
        w.setup(spark)
        setup_s = time.perf_counter() - t0
        _log(f"setup: {setup_s:.2f}s (get_spark {t1 - t0:.2f}s)")
        r = _measure(w, spark, tracer, seconds, trace)
        rss = _rss_mb([os.getpid(), spark.sparkContext._gateway.proc.pid])
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch is still there

    lat, errors = r["lat"], r["errors"]
    for e in errors:
        print(f"CHECK FAILED [{workload}] {e}", file=sys.stderr)
    correct = not errors and r["failed"] == 0
    summary = {
        "setup_s": (setup_s, "s"),
        "fail_ratio": (r["failed"] / max(r["attempted"], 1), "ratio"),
        "peak_rss_mb": (rss, "MB"),
        "jobs_per_op": (r["jobs_per_op"], "count"),
        **(w.report(lat, r["items"], r["extra"]) if r["extra"] is not None else {}),
    }
    print(f"{workload} seed={seed} ops={len(lat)} "
          f"op_s={[round(x, 3) for x in lat]} " + " ".join(
              f"{k}={v:.6g} {u}" for k, (v, u) in summary.items()))
    if trace:
        units = layer_metrics()
        metrics = dict.fromkeys(units, 0.0)
        metrics.update({k: v for k, v in tracer.medians().items() if k in units})
        metrics["trace.overhead_pct"] = r["overhead_pct"]
    elif lat:
        units = END_TO_END
        metrics = {
            "setup_s": setup_s,
            "op_p50_ms": statistics.median(lat) * 1e3,
            "items_per_s": r["items"] / sum(lat),
            "jobs_per_op": r["jobs_per_op"],
        }
    else:
        metrics = {}
    print(json.dumps({
        "correct": correct,
        "attempted": max(r["attempted"], 1),
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs, for smoke tests")
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found next to {HERE}",
              file=sys.stderr)
        return 2
    return run(a.workload, a.seed, a.seconds, bool(a.trace), a.small)


if __name__ == "__main__":
    sys.exit(main())
