"""Benchmark entry point.

    python3 perfbench/run.py --workload {medallion,catalog_operators} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Progress goes to stderr; the last line of
stdout is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``). Scratch files go under
``.perfbench_work/`` and are removed at the end, except the span files
of traced runs (``.perfbench_work/traces/``).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("medallion", "catalog_operators")


def all_layer_names() -> list[str]:
    from perfbench.catalog import CatalogOperators
    from perfbench.medallion import Medallion

    return [
        "session.start_s", "inputs.s",
        *Medallion.layer_names(),
        *CatalogOperators.layer_names(),
        "engine.task_busy_s", "engine.gc_s", "engine.spill_bytes",
        "engine.shuffle_write_bytes",
        "trace.untraced_pass_s", "trace.traced_pass_s", "trace.overhead_s",
    ]


def make_workload(name: str, seed: int):
    if name == "medallion":
        from perfbench.medallion import Medallion

        return Medallion(seed)
    from perfbench.catalog import CatalogOperators

    return CatalogOperators(seed)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # Fail here, before any process starts, when the engine is not present.
    import taxi_data_pipeline_pset2_spark  # noqa: F401

    from perfbench import harness

    spec = harness.load_spec(ROOT)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    harness.prepare_env(work, len(os.sched_getaffinity(0)))
    try:
        workload = make_workload(args.workload, args.seed)
        out = harness.run_workload(workload, args.seconds, bool(args.trace), work, run_id)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(harness.result_line(spec, out["checks"], out["metrics"], bool(args.trace), all_layer_names()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
