"""Query profiler.

Times individual registry queries with the noop sink (guide §1.4) after a
warm-up pass, and optionally dumps `.explain("formatted")` to
<plans-dir>/<query>_<tag>.txt (guide §1 "measure first" / §7.2).

Usage:
  python tools/profile_queries.py [--iters N] [--explain TAG --plans-dir DIR] [--sf DIR] q1 q2 ...
  python tools/profile_queries.py --explain before --plans-dir plans/before --all-window   # every cert-window query's plan

Prints one line per query: name, median, all samples. Jobs are labelled
(setJobDescription) so the SQL tab / event logs map back to queries.
"""

from __future__ import annotations

import argparse
import io
import os
import statistics
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--iters", type=int, default=5)
    ap.add_argument("--explain", default=None, help="dump <plans-dir>/<q>_<TAG>.txt")
    ap.add_argument("--plans-dir", default=None, help="directory for --explain dumps")
    ap.add_argument("--sf", default=None)
    ap.add_argument("--all-window", action="store_true")
    ap.add_argument("--no-time", action="store_true", help="explain only, no timing")
    args = ap.parse_args()
    if args.explain and not args.plans_dir:
        ap.error("--explain needs --plans-dir")

    from sparkstreamingflume_spark.plans import REGISTRY, window_queries
    from sparkstreamingflume_spark.session import DEFAULT_SF_DIR, get_session

    sf_dir = args.sf or os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    extra_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    if "spark.cleaner.periodicGC.interval" not in extra_conf:
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = (
            (extra_conf + ";" if extra_conf else "")
            + "spark.cleaner.periodicGC.interval=20s"
        )
    spark = get_session("profile")

    names = list(args.queries)
    if args.all_window:
        names.extend(n for n in sorted(window_queries()) if n not in names)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    if args.explain:
        os.makedirs(args.plans_dir, exist_ok=True)

    def run(name: str) -> float:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.time()
        REGISTRY[name].build(spark, sf_dir).write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        spark.sparkContext.setJobDescription(None)
        # Persist-bearing queries (knn_graph family) register their
        # cache by CANONICALIZED plan, so sample 2 of an unchanged
        # query would silently read sample 1's InMemoryRelation and
        # fake the timing. Every sample must recompute from parquet.
        spark.catalog.clearCache()
        return dt

    # Warm-up pass (JVM/codegen/AQE/file-listing first-touch)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    results: dict[str, list[float]] = {}
    for name in names:
        if args.explain:
            df = REGISTRY[name].build(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.plans_dir, f"{name}_{args.explain}.txt"), "w") as f:
                f.write(buf.getvalue())
        if args.no_time:
            continue
        run(name)  # per-query warm-up
        results[name] = [run(name) for _ in range(args.iters)]

    for name, ts in results.items():
        med = statistics.median(ts)
        print(f"{name:32s} median={med:7.3f}  samples={[round(t, 3) for t in ts]}")
    if results:
        print(f"{'TOTAL':32s} median_sum={sum(statistics.median(t) for t in results.values()):.3f}")


if __name__ == "__main__":
    main()
