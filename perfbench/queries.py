"""The ``headline`` workload: the compute-bound ``bench=True`` registry
queries that read only ``lineitem`` and ``orders`` (scan, shuffle, sort-merge
join, aggregation and codegen'd string work), on seed-generated tables.

One session, one caller, queries in a fixed order, noop sink. An untimed
first pass collects every query and checks it against the DuckDB oracle
(computed once per seed and stored next to the generated tables); after
``PRIME_PASSES`` more untimed passes, timed passes run until ``--seconds``
have elapsed, and each query reports its median wall time. The traced run
adds, in a second session with Spark's event log on, one untimed and one
traced pass, each query of the latter under its own job group, and folds
the log per query.
"""

from __future__ import annotations

import json
import os
import time
from statistics import median

import checks
import eventlog
from harness import SETUP_REPS, Outcome, Tracer, host_canary, jvm_peak_rss_mb, pct, start_session
from inputs import write_tables

# The iterative queries (q_pagerank, q_label_propagation, q_dedup_semantic,
# q_diversity_select) are not measured: at 8-25 s per execution on 4 cores
# only q_diversity_select fits a run, and its per-process time was bimodal
# (2.3 vs 4.0 s a pass, about one process in three slow), too wide for a
# bound. The four below run in the JVM only.
QUERIES = ("q_gprs_pipeline", "q_group_concat", "q_join_bigbig", "q_tpch_q1")
TABLES = ("lineitem", "orders")
# Untimed noop passes after the collect pass: the JIT keeps speeding
# queries up for several executions, and timing that curve spreads runs.
PRIME_PASSES = 2
MB = 1 << 20


def prepare(seed: int, data_dir: str) -> dict:
    """Generate the seed's tables and their oracle answers once; reuse both
    on later runs with the same seed."""
    expected_path = os.path.join(data_dir, "expected.json")
    if os.path.exists(expected_path):
        with open(expected_path) as f:
            return json.load(f)
    import duckdb

    from sparkstreamingflume_spark.oracle import duck_fetch, table_hash
    from sparkstreamingflume_spark.plans import REGISTRY

    tmp = data_dir + ".tmp"
    write_tables(seed, tmp)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp}/{t}.parquet'")
    expected = {}
    for q in QUERIES:
        cols, rows = duck_fetch(con, REGISTRY[q].oracle)
        expected[q] = {"rows": len(rows), "cols": cols, "hash": table_hash(cols, rows)}
    con.close()
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1)
    os.rename(tmp, data_dir)
    return expected


def _held_rdds(spark) -> dict[int, int]:
    """Persisted RDDs the block manager holds: id -> bytes (memory + disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id(): i.memSize() + i.diskSize() for i in infos}


def _timed_pass(spark, data_dir: str, tracer: Tracer, label: str, group: bool) -> dict[str, dict]:
    """One noop pass over QUERIES; per query: wall s, the RDDs it left
    persisted when it returned, and its [start, end] for the event log."""
    from sparkstreamingflume_spark.plans import REGISTRY

    out = {}
    with tracer.span(label) as parent:
        for q in QUERIES:
            if group:
                spark.sparkContext.setJobGroup(f"{label}:{q}", q)
            before = _held_rdds(spark)
            with tracer.span(f"plans.{q}", parent):
                t0 = time.time()
                REGISTRY[q].build(spark, data_dir).write.mode("overwrite").format("noop").save()
                t1 = time.time()
            new = {k: v for k, v in _held_rdds(spark).items() if k not in before}
            out[q] = {"s": t1 - t0, "start": t0, "end": t1, "rdds": len(new), "mb": sum(new.values()) / MB}
            spark.catalog.clearCache()
    return out


def _check_pass(spark, data_dir: str, expected: dict, tracer: Tracer) -> list[str]:
    """Collect each query once (untimed warm-up) and compare with the oracle."""
    from sparkstreamingflume_spark.plans import REGISTRY

    problems = []
    with tracer.span("check"):
        for q in QUERIES:
            try:
                sdf = REGISTRY[q].build(spark, data_dir)
                rows = [tuple(r) for r in sdf.collect()]
                problems += [f"{q}: {p}" for p in checks.rows_match(sdf.columns, rows, expected[q])]
            except Exception as e:  # a failing query is a counted failure, not a crash
                problems.append(f"{q}: {type(e).__name__}: {str(e)[:300]}")
            spark.catalog.clearCache()
    return problems


def run(seed: int, seconds: int, trace: bool, work: str, tracer: Tracer) -> Outcome:
    cache = os.path.join(os.path.dirname(work), "cache")
    data_dir = os.path.join(cache, f"headline-seed{seed}")
    os.makedirs(cache, exist_ok=True)
    with tracer.span("inputs"):
        expected = prepare(seed, data_dir)

    spark = None
    for _ in range(SETUP_REPS):
        with tracer.span("setup") as setup:
            if spark is not None:
                spark.stop()
            with tracer.span("session.get_session", setup):
                spark = start_session("perfbench-headline")
            with tracer.span("warmup", setup):  # file listing + a first job
                for t in TABLES:
                    spark.read.parquet(f"{data_dir}/{t}.parquet").count()
    out = Outcome()
    problems = _check_pass(spark, data_dir, expected, tracer)
    out.attempted += len(QUERIES)
    out.failed += len({p.split(":")[0] for p in problems})

    passes = []
    try:
        for _ in range(PRIME_PASSES):
            out.attempted += len(QUERIES)
            _timed_pass(spark, data_dir, tracer, "prime", group=False)
        t_end = time.time() + seconds
        while not passes or time.time() < t_end:
            out.attempted += len(QUERIES)
            passes.append(_timed_pass(spark, data_dir, tracer, f"pass{len(passes)}", group=False))
    except Exception as e:  # a failing query is a counted failure, not a crash
        problems.append(f"timed pass: {type(e).__name__}: {str(e)[:300]}")
        out.failed += 1
    canaries = host_canary(spark)

    per_query = {q: median([p[q]["s"] for p in passes]) for q in QUERIES} if passes else {}
    query_s = sum(per_query.values()) if passes else float("nan")
    samples = [p[q]["s"] for p in passes for q in QUERIES] or [float("nan")]
    out.end_to_end = {
        "setup_s": median(tracer.durations("setup")),
        "closed_loop_s": query_s,
        "latency_p50_s": pct(samples, 50),
        "latency_p90_s": pct(samples, 90),
    }
    out.details = {
        "query_s": query_s,
        "per_query_s": per_query,
        "passes": len(passes),
        "check_s": tracer.durations("check")[0],
        "problems": problems,
        "host.canary_s": median(canaries),
        "canary_samples": canaries,
    }
    if not trace:
        return out

    layers = {
        "session.get_session_s": median(tracer.durations("session.get_session")),
        "plans.warmup_s": tracer.durations("check")[0],
        "host.canary_s": median(canaries),
    }
    for q in QUERIES:
        layers[f"plans.{q}_s"] = per_query[q]
    for key, name in (("rdds", "plans.cached_rdds_after"), ("mb", "plans.cached_mb_after")):
        layers[name] = median([sum(p[q][key] for q in QUERIES) for p in passes])

    # The traced pass: a fresh session with the event log on, one job
    # group per query, then the log is folded per group.
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    layers["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    spark.stop()
    spark = start_session(
        "perfbench-headline-traced",
        ";".join(
            [
                "spark.eventLog.enabled=true",
                "spark.eventLog.compress=false",
                f"spark.eventLog.dir={log_dir}",
                # plan text is not parsed; keep the log (and its cost) small
                "spark.sql.maxPlanStringLength=1024",
            ]
        ),
    )
    # a new SparkContext starts fresh Python workers: prime them untraced
    _timed_pass(spark, data_dir, tracer, "traced-prime", group=False)
    traced = _timed_pass(spark, data_dir, tracer, "traced", group=True)
    spark.stop()
    stats = eventlog.parse(log_dir)
    groups = [stats.get(f"traced:{q}", eventlog.GroupStats()) for q in QUERIES]

    def total(name: str) -> float:
        return sum(getattr(g, name) for g in groups)

    driver_ms = sum(
        1000 * (traced[q]["end"] - traced[q]["start"])
        - g.busy_ms(1000 * traced[q]["start"], 1000 * traced[q]["end"])
        for q, g in zip(QUERIES, groups)
    )
    layers |= {
        "plans.driver_s": driver_ms / 1000,
        "plans.jobs": total("jobs"),
        "plans.stages": total("stages"),
        "plans.tasks": total("tasks"),
        "plans.executor_run_s": total("executor_run_ms") / 1000,
        "plans.executor_cpu_s": total("executor_cpu_ns") / 1e9,
        "plans.shuffle_write_mb": total("shuffle_write_bytes") / MB,
        "plans.shuffle_read_mb": total("shuffle_read_bytes") / MB,
        "plans.spill_mb": total("spill_bytes") / MB,
        "plans.python_udf_s": total("python_udf_ms") / 1000,
        "plans.broadcast_mb": total("broadcast_bytes") / MB,
        "trace.overhead_s": sum(traced[q]["s"] for q in QUERIES) - query_s,
    }
    out.details["eventlog_mb"] = sum(
        os.path.getsize(f) for f in eventlog.log_files(log_dir)
    ) / MB
    out.per_layer = layers
    return out
