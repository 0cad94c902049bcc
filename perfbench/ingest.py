"""The ``ingest`` workload: CDR lines through file_drop → routed_pipeline_dual
→ start_pipeline → write_partitioned_text, with a checkpoint.

Two phases run against one session, interleaved in ``ROUNDS`` rounds so
that each end-to-end figure samples the whole measured stretch of the run
rather than one slice of it (the host's speed drifts by ±15% over ~10 s):

* **drain** (closed loop): a fixed backlog, ``maxFilesPerTrigger`` files per
  micro-batch, ``availableNow``, each drain with its own checkpoint. First
  ``PRIME_REPS`` untimed drains; each round then times one drain.
  End-to-end: the median wall of the timed drains.
* **paced** (open loop): each round, pre-rendered files are renamed into an
  empty landing dir by one thread on a fixed schedule
  (``PACED_FILES_PER_S`` × ``PACED_LINES`` lines) for a fresh query on its
  default trigger; the rounds share ``--seconds`` of drops. A file's
  latency runs from its scheduled drop time to the return of the
  foreachBatch call for the batch that read it (files are mapped to batch
  ids through the checkpoint's ``sources/0`` log). End-to-end: each
  round's p50 and p90 over its files, and their median over the rounds.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter
from statistics import median

import checks
from harness import SETUP_REPS, Outcome, Tracer, host_canary, jvm_peak_rss_mb, pct, start_session
from inputs import PARTNERS, CdrGenerator, Truth, write_lookups

DRAIN_FILES = 16
DRAIN_LINES = 2500
DRAIN_FILES_PER_TRIGGER = 8
# Untimed drains before the timed ones: the JVM keeps speeding the
# pipeline up for several drains (measured 4.9 -> 3.9 -> 3.7 s over the
# first drains after the set-ups), and timing that curve spreads runs apart.
PRIME_REPS = 2
# Rounds of (timed drain, paced segment), so that each figure samples the
# whole measured stretch of the run: the host's speed drifts over tens of
# seconds, and one ~20 s slice of timed work sees it at one speed.
ROUNDS = 4
WARM_FILES = 2
PACED_FILES_PER_S = 10
PACED_LINES = 720
PACED_LEAD_S = 0.3  # from query start to the first scheduled drop
DRAIN_BASE, WARM_BASE, PACED_BASE = 0, 10_000, 20_000
SETTLE_TIMEOUT_S = 60


def _sink(out_dir: str, done: dict[int, float]):
    from sparkstreamingflume_spark.streaming import sinks

    def sink(batch, batch_id: int) -> None:
        sinks.write_partitioned_text(batch, out_dir, partition_cols=("partner", "tag"))
        done[batch_id] = time.time()

    return sink


def _start(spark, lookups, landing: str, out_dir: str, ckpt: str, done: dict, drain: bool):
    from sparkstreamingflume_spark.streaming import pipeline, sinks, sources

    stream = sources.file_drop(spark, landing, DRAIN_FILES_PER_TRIGGER if drain else None)
    routed = pipeline.routed_pipeline_dual(stream, lookups, how="inner")
    return sinks.start_pipeline(routed, _sink(out_dir, done), ckpt, available_now=drain)


def _drain(spark, lookups, landing: str, run_dir: str) -> tuple[float, list]:
    """Drain ``landing`` to completion; returns (wall s, progress records)."""
    done: dict[int, float] = {}
    t0 = time.time()
    q = _start(spark, lookups, landing, f"{run_dir}/out", f"{run_dir}/ckpt", done, drain=True)
    q.awaitTermination()
    wall = time.time() - t0
    if q.exception() is not None:
        raise RuntimeError(f"drain query failed: {q.exception()}")
    return wall, [json.loads(p.json) for p in q.recentProgress]


def batch_of_file(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log
    (``<id>`` and compacted ``<id>.compact`` files of JSON lines)."""
    log_dir = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _paced(spark, lookups, truth: Truth, run_dir: str) -> dict:
    """One paced segment: ``truth.files`` dropped at ``PACED_FILES_PER_S``
    into a fresh query's landing dir, then settled until every file's batch
    has returned from the sink."""
    landing = f"{run_dir}/landing"
    os.makedirs(landing)
    ckpt = f"{run_dir}/ckpt"
    done: dict[int, float] = {}
    q = _start(spark, lookups, landing, f"{run_dir}/out", ckpt, done, drain=False)
    staged, file_nos = truth.files, list(truth.sink_rows)
    t0 = time.time() + PACED_LEAD_S
    due = [t0 + i / PACED_FILES_PER_S for i in range(len(staged))]
    dropped: list[float] = []

    def generator() -> None:
        for src, at in zip(staged, due):
            time.sleep(max(0.0, at - time.time()))
            os.rename(src, os.path.join(landing, os.path.basename(src)))
            dropped.append(time.time())

    gen = threading.Thread(target=generator, name="perfbench-generator")
    gen.start()
    gen.join(timeout=len(staged) / PACED_FILES_PER_S + 30)
    names = [os.path.basename(s) for s in staged]
    deadline = time.time() + SETTLE_TIMEOUT_S
    while True:
        mapping = batch_of_file(ckpt)
        if all(mapping.get(n) in done for n in names) or time.time() > deadline:
            break
        if q.exception() is not None:
            break
        time.sleep(0.02)
    progress = [json.loads(p.json) for p in q.recentProgress]
    failure = q.exception()
    q.stop()
    gen.join()
    mapping = batch_of_file(ckpt)
    latencies, missing = [], []
    for n, at, file_no in zip(names, due, file_nos):
        b = mapping.get(n)
        if b in done:
            latencies.append(done[b] - at)
        else:
            missing.append(file_no)
    late = [d - a for d, a in zip(dropped, due)]
    # files dropped but not yet in a finished batch, sampled at every event
    events = [(t, 1) for t in dropped]
    per_batch: dict[int, int] = {}
    for n in names:
        if mapping.get(n) in done:
            per_batch[mapping[n]] = per_batch.get(mapping[n], 0) + 1
    events += [(done[b], -k) for b, k in per_batch.items()]
    backlog = peak = 0
    for _t, d in sorted(events):
        backlog += d
        peak = max(peak, backlog)
    return {
        "latencies": latencies,
        "missing": missing,
        "failure": None if failure is None else str(failure),
        "late_s": late,
        "backlog_max": peak,
        "progress": progress,
    }


def _nonempty_durations(progress: list[dict], key: str) -> list[float]:
    return [p["durationMs"].get(key, 0) for p in progress if p.get("numInputRows", 0) > 0]


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _static_layers(spark, lookups, backlog: str, work: str, tracer: Tracer) -> dict[str, float]:
    """Traced-only timings of single layers over a static frame of the
    drain backlog, each written to the noop sink (or to text for sinks)."""
    from pyspark.sql import functions as F

    from sparkstreamingflume_spark.functions import lines as L
    from sparkstreamingflume_spark.schemas import RECORD_TYPES
    from sparkstreamingflume_spark.streaming import pipeline, sinks

    static = spark.read.text(backlog)
    with tracer.span("pipeline.compute"):
        pipeline.routed_pipeline_dual(static, lookups).write.mode("overwrite").format("noop").save()
    rt = RECORD_TYPES["61"]
    with tracer.span("lines.mask"):
        (
            static.filter(F.col("value").startswith("61,"))
            .select(L.mask_fields("value", rt.phone_idx, sep=rt.sep).alias("value"))
            .write.mode("overwrite").format("noop").save()
        )
    cached = pipeline.routed_pipeline_dual(static, lookups).cache()
    cached.count()
    with tracer.span("sinks.write"):
        sinks.write_partitioned_text(cached, f"{work}/static-out", partition_cols=("partner", "tag"))
    cached.unpersist()
    return {
        "pipeline.compute_s": tracer.durations("pipeline.compute")[-1],
        "lines.mask_s": tracer.durations("lines.mask")[-1],
        "sinks.write_s": tracer.durations("sinks.write")[-1],
    }


def run(seed: int, seconds: int, trace: bool, work: str, tracer: Tracer) -> Outcome:
    from sparkstreamingflume_spark.streaming import sources

    inputs = f"{work}/inputs"
    gen = CdrGenerator(seed)
    # the paced files, split into one segment per round
    n_paced = PACED_FILES_PER_S * seconds
    cuts = [PACED_BASE + n_paced * r // ROUNDS for r in range(ROUNDS + 1)]
    with tracer.span("inputs"):
        lookup_paths = write_lookups(seed, gen.keyspace, f"{inputs}/lookups")
        truth = gen.write(range(DRAIN_BASE, DRAIN_BASE + DRAIN_FILES), DRAIN_LINES, f"{inputs}/backlog")
        for r in range(SETUP_REPS):
            first = WARM_BASE + r * WARM_FILES
            gen.write(range(first, first + WARM_FILES), DRAIN_LINES, f"{inputs}/warm{r}")
        paced_truths = [
            gen.write(range(cuts[r], cuts[r + 1]), PACED_LINES, f"{inputs}/staged{r}") for r in range(ROUNDS)
        ]

    out = Outcome()
    spark = None
    for r in range(SETUP_REPS):
        with tracer.span("setup") as setup:
            if spark is not None:
                spark.stop()
            with tracer.span("session.get_session", setup):
                spark = start_session("perfbench-ingest")
            with tracer.span("sources.lookup_load", setup):
                lookups = {
                    "yaxin": sources.load_lookup_yaxin(spark, lookup_paths["yaxin"]),
                    "yiyang": sources.load_lookup_yiyang(spark, lookup_paths["yiyang"]),
                }
            with tracer.span("warmup", setup):
                _drain(spark, lookups, f"{inputs}/warm{r}", f"{work}/warm{r}")
    runs = []
    for r in range(PRIME_REPS):
        with tracer.span("prime"):
            _drain(spark, lookups, f"{inputs}/backlog", f"{work}/prime{r}")
        runs.append((f"prime{r}", truth))
    if trace:  # the same backlog once more, untraced, for the overhead
        with tracer.span("drain.untraced"):
            untraced_s, _ = _drain(spark, lookups, f"{inputs}/backlog", f"{work}/drain-untraced")
        runs.append(("drain-untraced", truth))
    drains, drain_progress, segments = [], [], []
    for r in range(ROUNDS):
        with tracer.span("drain"):
            wall, progress = _drain(spark, lookups, f"{inputs}/backlog", f"{work}/drain{r}")
        drains.append(wall)
        drain_progress += progress
        runs.append((f"drain{r}", truth))
        with tracer.span("paced"):
            segments.append(_paced(spark, lookups, paced_truths[r], f"{work}/paced{r}"))
        runs.append((f"paced{r}", paced_truths[r]))
    drain_s = median(drains)
    paced = {k: [x for seg in segments for x in seg[k]] for k in ("latencies", "late_s", "progress")}
    canaries = host_canary(spark, samples=1)

    failed: set[tuple[str, int]] = set()
    rows: dict[str, int] = {}
    with tracer.span("check"):
        for name, t in runs:
            counts, bad, rows[name] = checks.observe(seed, checks.read_sink(f"{work}/{name}/out"))
            failed |= {(name, f) for f in checks.failed_files(t.sink_rows, counts, bad)}
            out.attempted += len(t.sink_rows)
    for r, seg in enumerate(segments):
        failed |= {(f"paced{r}", file_no) for file_no in seg["missing"]}
    out.failed = len(failed)

    # each round's percentiles, then their median over the rounds: a slow
    # batch moves its own round's tail, not the median round's
    per_round = [seg["latencies"] for seg in segments if seg["latencies"]] or [[float("nan")]]
    drain_lines = sum(truth.lines.values())
    out.end_to_end = {
        "setup_s": median(tracer.durations("setup")),
        "closed_loop_s": drain_s,
        "latency_p50_s": median(pct(lat, 50) for lat in per_round),
        "latency_p90_s": median(pct(lat, 90) for lat in per_round),
    }
    out.details = {
        "rows_per_s": drain_lines / drain_s,
        "drain_lines": drain_lines,
        "drain_s": drains,
        "latency_samples": len(paced["latencies"]),
        "latency_p50_s_by_round": [pct(lat, 50) for lat in per_round],
        "latency_p90_s_by_round": [pct(lat, 90) for lat in per_round],
        "paced_offered_lines_per_s": PACED_FILES_PER_S * PACED_LINES,
        "generator_late_ms_p50": 1000 * pct(paced["late_s"], 50) if paced["late_s"] else None,
        "generator_late_ms_max": 1000 * max(paced["late_s"], default=0.0),
        "paced_missing_files": [seg["missing"] for seg in segments],
        "paced_failure": [seg["failure"] for seg in segments if seg["failure"]],
        "failed_files": sorted(failed),
        "host.canary_s": median(canaries),
        "canary_samples": canaries,
    }
    if not trace:
        return out

    lines = Counter()
    for r in range(ROUNDS):
        lines.update(truth.lines)
        lines.update(paced_truths[r].lines)
    progress = drain_progress + paced["progress"]
    add_batch = _nonempty_durations(progress, "addBatch")
    commits = [
        w + c
        for w, c in zip(_nonempty_durations(progress, "walCommit"), _nonempty_durations(progress, "commitOffsets"))
    ]
    timed = [f"{phase}{r}" for r in range(ROUNDS) for phase in ("drain", "paced")]
    written = [_dir_bytes(f"{work}/{name}/out") for name in timed]
    layers = {
        "session.get_session_s": median(tracer.durations("session.get_session")),
        "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
        "sources.lookup_load_s": median(tracer.durations("sources.lookup_load")),
        "sources.latest_offset_ms_p50": pct(_nonempty_durations(progress, "latestOffset"), 50),
        "sources.get_batch_ms_p50": pct(_nonempty_durations(progress, "getBatch"), 50),
        "sources.backlog_files_max": max(seg["backlog_max"] for seg in segments),
        "sources.generator_late_ms_max": out.details["generator_late_ms_max"],
        "pipeline.rows_in": sum(lines.values()),
        "pipeline.rows_unrouted": lines["unrouted"],
        "pipeline.rows_archive": lines["archive"],
        "pipeline.rows_wrong_width": lines["wrong_width"],
        "pipeline.query_planning_ms_p50": pct(_nonempty_durations(progress, "queryPlanning"), 50),
        "sinks.add_batch_ms_p50": pct(add_batch, 50),
        "sinks.add_batch_ms_p90": pct(add_batch, 90),
        "sinks.commit_ms_p50": pct(commits, 50),
        "sinks.files_written": sum(f for f, _ in written),
        "sinks.bytes_written": sum(b for _, b in written),
        "sinks.batches": len(add_batch),
        "sinks.rows_per_batch_p50": pct([p["numInputRows"] for p in progress if p["numInputRows"] > 0], 50),
        "host.canary_s": median(canaries),
        "trace.overhead_s": drain_s - untraced_s,
    }
    for p in PARTNERS:
        layers[f"pipeline.rows_lookup_miss.{p}"] = lines[f"lookup_miss.{p}"]
    layers["pipeline.rows_out"] = sum(rows[name] for name in timed)
    layers |= _static_layers(spark, lookups, f"{inputs}/backlog", work, tracer)
    out.per_layer = layers
    return out
