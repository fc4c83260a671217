"""The run loop shared by every workload.

One run, in one process:

1. three cold set-ups, each launching a JVM and starting a Spark
   session; the first two are stopped with their JVM, the third serves
   the passes; ``setup_s`` is the median of the three;
2. the workload writes its inputs, once, timed on its own
   (``inputs.s``, traced runs only);
3. the Python driver's peak-RSS counter is reset, so ``driver_peak_rss_mb``
   covers the passes only;
4. the first pass, timed on its own (cold: JIT, codegen, file listing);
5. warm passes until ``seconds`` have passed since the first pass began
   (at least one; a pass is not started if the previous one says it
   would end past the limit); the peak RSS is read after the last one;
6. correctness checks on every pass's outputs, untimed.

With tracing on, the first pass is traced and three warm passes run
untraced, traced, untraced, whatever ``seconds`` says; the per-layer
metrics come from the traced warm pass, and the tracing overhead is its
time minus the median (here: mean) of the two untraced warm passes.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field

from perfbench.tracing import NoTracer, Span, Tracer

SETUPS = 3
DRIVER_MEMORY = "2g"


@dataclass
class PassRecord:
    index: int
    traced: bool
    seconds: float = 0.0
    outputs: dict = field(default_factory=dict)
    span: Span | None = None
    error: str | None = None


@dataclass
class CheckResult:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append(f"{what}: {problems[0]}")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_session(work: str):
    """The engine's own session factory, with every scratch path inside
    ``work`` and the console progress bar off."""
    from taxi_data_pipeline_pset2_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_confs={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def prepare_env(work: str, cores: int) -> None:
    """Environment the JVM and Python workers inherit: scratch space
    inside ``work``, the checkout on the workers' import path, and the
    core count the session factory sizes itself from."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, spark-submit's launcher included: temp files and no
    # perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    tempfile.tempdir = os.environ["TMPDIR"]


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _engine_metrics(tracer: Tracer, rec: PassRecord) -> dict[str, float]:
    c = tracer.total_census(rec.span)
    return {
        "engine.task_busy_s": c.task_busy_s,
        "engine.gc_s": c.gc_s,
        "engine.spill_bytes": float(c.spill_bytes),
        "engine.shuffle_write_bytes": float(c.shuffle_write_bytes),
    }


def _medians(per_pass: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for d in per_pass for k in d}
    return {k: _median([d[k] for d in per_pass if k in d]) for k in keys}


def reset_peak_rss() -> None:
    """Restart the kernel's peak-RSS count of this process from its
    current RSS (Linux, ``/proc/self/clear_refs``)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def run_workload(workload, seconds: float, trace: bool, work: str, run_id: str) -> dict:
    """One run; returns the result object the CLI prints."""
    setup_s: list[float] = []
    for k in range(SETUPS):
        if k:
            stop_jvm(spark)
        t0 = time.perf_counter()
        spark = start_session(work)
        setup_s.append(time.perf_counter() - t0)
        log(f"set-up {k + 1}: {setup_s[-1]:.2f} s")
    t0 = time.perf_counter()
    workload.make_inputs(spark, os.path.join(work, "inputs"))
    inputs_s = time.perf_counter() - t0
    log(f"inputs: {inputs_s:.2f} s")

    tracer = Tracer(spark, run_id) if trace else None
    untraced = NoTracer()
    if tracer is not None:
        workload.probe(spark, tracer)

    reset_peak_rss()
    window0 = time.perf_counter()
    first = workload.run_pass(spark, tracer or untraced, 0)
    first.traced = tracer is not None
    log(f"first pass: {first.seconds:.2f} s")
    warm: list[PassRecord] = []

    def warm_pass(traced: bool) -> None:
        rec = workload.run_pass(spark, tracer if traced else untraced, len(warm) + 1)
        rec.traced = traced
        warm.append(rec)
        log(f"warm pass {rec.index}{' (traced)' if traced else ''}: {rec.seconds:.2f} s")

    if tracer is not None:
        # untraced, traced, untraced: a linear warm-up trend cancels out
        # of the traced-minus-untraced overhead
        for traced in (False, True, False):
            warm_pass(traced)
    else:
        while not warm or time.perf_counter() - window0 + warm[-1].seconds <= seconds:
            warm_pass(False)
    driver_peak_rss_mb = peak_rss_mb()

    untraced_warm = [w for w in warm if not w.traced]
    if tracer is not None:
        tracer.collect_census()
        traced_warm = [w for w in warm if w.traced and w.error is None]
        metrics = _medians(
            [{**workload.layer_metrics(tracer, w), **_engine_metrics(tracer, w)} for w in traced_warm]
        )
        metrics.update(workload.probe_metrics(tracer))
        u = _median([w.seconds for w in untraced_warm])
        t = _median([w.seconds for w in traced_warm])
        metrics.update({
            "session.start_s": _median(setup_s),
            "inputs.s": inputs_s,
            "trace.untraced_pass_s": u,
            "trace.traced_pass_s": t,
            "trace.overhead_s": t - u,
        })
        path = os.path.join(os.path.dirname(work), "traces", f"{run_id}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tracer.dump(path)
        log(f"spans written to {path}")
    else:
        metrics = {
            "setup_s": _median(setup_s),
            "first_pass_s": first.seconds,
            "pass_s": _median([w.seconds for w in untraced_warm]),
            "driver_peak_rss_mb": driver_peak_rss_mb,
        }
    t0 = time.perf_counter()
    checks = workload.check([first, *warm])
    log(f"checks: {checks.attempted - checks.failed}/{checks.attempted} passed in {time.perf_counter() - t0:.2f} s")
    for p in checks.problems:
        log(f"FAILED {p}")
    stop_jvm(spark)
    return {"checks": checks, "metrics": metrics}


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(spec: dict, checks: CheckResult, metrics: dict, trace: bool, all_layer_names: list[str]) -> str:
    """The JSON result object. Every metric BENCHMARK.json lists for this
    mode is present; a per-layer metric of a layer this workload does not
    run reads 0."""
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    names = [m["name"] for m in listed]
    if trace:
        unknown = set(metrics) - set(names)
        missing = set(all_layer_names) ^ set(names)
        if unknown or missing:
            raise RuntimeError(f"per-layer names out of sync with BENCHMARK.json: {sorted(unknown | missing)}")
    elif set(metrics) != set(names):
        raise RuntimeError(f"end-to-end names out of sync with BENCHMARK.json: {sorted(set(metrics) ^ set(names))}")
    return json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in listed
        },
    })
