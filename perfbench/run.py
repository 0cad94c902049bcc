"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,headline} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/`` (git-ignored); the program under test only reads the
generated files. Spark is sized for the host through the library's
environment knobs: ``local[nproc]``, a 3g driver, scratch space inside the
work directory.

End-to-end metrics, every one reported by both workloads:

* ``setup_s``: median of three set-ups (session, inputs, a warm-up job);
  the first starts the JVM, the others restart the SparkContext in it.
* ``closed_loop_s``: ingest, the median wall time of the timed drains of
  the fixed backlog; headline, the sum over its queries of each query's
  median wall time (``query_s``).
* ``latency_p50_s`` / ``latency_p90_s``: percentiles of one operation's
  latency. Ingest: a paced file, from its scheduled drop to the return of
  the sink call for its micro-batch; each round's percentile, then their
  median over the rounds. Headline: one timed query execution.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are the ``end_to_end`` ones named in BENCHMARK.json, with
``--trace 1`` the ``per_layer`` ones (a layer the workload does not run
reads 0). The line before it holds the run's details: host context, the
workload's own figures (``rows_per_s``, ``query_s``, per-query times,
generator lateness) and any failures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time

from harness import ROOT, Tracer, configure_env, nproc, require_program, stop_spark

WORKLOADS = ("ingest", "headline")


def main() -> None:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    require_program()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    knobs = configure_env(work)

    import ingest
    import queries

    tracer = Tracer()
    module = {"ingest": ingest, "headline": queries}[args.workload]
    try:
        out = module.run(args.seed, args.seconds, bool(args.trace), work, tracer)
    finally:
        stop_spark()
        # drop the run's files now, not at the next run's start: the
        # kernel then discards most of them unwritten instead of flushing
        # them under the next measurement
        shutil.rmtree(work, ignore_errors=True)
    tracer.write(os.path.join(base, f"trace-{args.workload}-seed{args.seed}-t{args.trace}.json"))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = out.per_layer if args.trace else out.end_to_end
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0)), "unit": m["unit"]} for m in wanted}
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {"nproc": nproc(), **knobs, "canary_s": out.details.get("host.canary_s")},
        "wall_s": time.time() - t_start,
        "end_to_end": out.end_to_end,
        **{k: v for k, v in out.details.items() if k != "host.canary_s"},
    }
    print(json.dumps(details, default=str))
    print(
        json.dumps(
            {"correct": out.failed == 0, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}
        )
    )


if __name__ == "__main__":
    main()
