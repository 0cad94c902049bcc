"""M3 streaming tests (SURVEY.md §5.2).

Equivalence: the multiset of records out of the streamed pipeline
(file-drop source, micro-batched) must equal the batch pipeline applied
to the same lines — micro-batch boundaries must not change results.
Checkpoint: restarting with the same checkpoint dir processes only new
files (W4). Empty input: no output, no crash (A4). The batch-only
transform tests (routed_pipeline_dual against the composable chain) run
in the fast profile, in tests/test_pipeline.py.
"""

from __future__ import annotations

import socket as pysocket
import threading
import time
from collections import Counter
from pathlib import Path

import pytest

from sparkstreamingflume_spark.streaming import pipeline, sinks, sources
from tests.test_pipeline import (  # noqa: F401 (lookup, lookup2: fixtures)
    corpus,
    crlf_corpus,
    lookup,
    lookup2,
    make_line,
)

# Driver-budget profile (pytest.ini): stream-twin/soak/sweep file —
# excluded from the default selection, always run by tools/run_shards.sh.
pytestmark = pytest.mark.slow


def batch_result(spark, lines: list[str], lookup) -> Counter:
    df = spark.createDataFrame([(ln,) for ln in lines], ["value"])
    rows = pipeline.routed_pipeline_dual(df, {"p": lookup}, how="inner").collect()
    return Counter(tuple(r) for r in rows)


def drain_to_parquet(spark, landing: str, out: str, ckpt: str, lookup) -> None:
    stream = sources.file_drop(spark, landing, max_files_per_trigger=2)
    transformed = pipeline.routed_pipeline_dual(stream, {"p": lookup}, how="inner")

    def sink(batch, batch_id):
        batch.write.mode("append").parquet(out)

    q = sinks.start_pipeline(
        transformed, sink, ckpt, available_now=True, query_name="t_equiv"
    )
    q.awaitTermination(120)


def read_counter(spark, out: str) -> Counter:
    try:
        rows = spark.read.parquet(out).collect()
    except Exception:
        return Counter()
    return Counter(tuple(r) for r in rows)


def test_stream_equals_batch(spark, tmp_path, lookup):
    lines = corpus()
    landing = tmp_path / "landing"
    landing.mkdir()
    # several files -> several micro-batches (maxFilesPerTrigger=2)
    for i in range(5):
        chunk = lines[i::5]
        (landing / f"part{i}.txt").write_text("\n".join(chunk) + "\n")

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    drain_to_parquet(spark, str(landing), out, ckpt, lookup)

    assert read_counter(spark, out) == batch_result(spark, lines, lookup)


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path, lookup):
    landing = tmp_path / "landing"
    landing.mkdir()
    first = [make_line("61", i) for i in range(10)]
    (landing / "a.txt").write_text("\n".join(first) + "\n")

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    drain_to_parquet(spark, str(landing), out, ckpt, lookup)
    n_first = sum(read_counter(spark, out).values())

    second = [make_line("61", i) for i in range(10, 25)]
    (landing / "b.txt").write_text("\n".join(second) + "\n")
    drain_to_parquet(spark, str(landing), out, ckpt, lookup)

    total = read_counter(spark, out)
    expect = batch_result(spark, first + second, lookup)
    assert total == expect  # b.txt processed exactly once, a.txt not re-run
    assert sum(total.values()) > n_first


def test_empty_landing_dir_is_noop(spark, tmp_path, lookup):
    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    drain_to_parquet(spark, str(landing), out, ckpt, lookup)
    assert read_counter(spark, out) == Counter()


def test_socket_source_roundtrip(spark, lookup):
    """S2 — real TCP socket into the routed pipeline (memory sink)."""
    lines = [make_line("61", i) for i in range(8)]
    srv = pysocket.socket(pysocket.AF_INET, pysocket.SOCK_STREAM)
    srv.setsockopt(pysocket.SOL_SOCKET, pysocket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            time.sleep(8)

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    stream = sources.socket(spark, "127.0.0.1", port)
    transformed = pipeline.routed_pipeline_dual(stream, {"p": lookup}, how="left")
    q = (
        transformed.writeStream.format("memory")
        .queryName("t_socket")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        want = len(lines)
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) AS n FROM t_socket").collect()[0].n
            if n >= want:
                break
            time.sleep(1)
        assert n == want
    finally:
        q.stop()
        srv.close()


def test_flume_json_crlf_stream_equals_batch(spark, tmp_path, lookup):
    """CRLF ingestion end-to-end (round-3 verdict task 7). Spark's socket
    and text-file sources strip CRLF at the line reader, so the carrier
    where CR bytes actually survive into ``value`` is a Flume-style event
    body in a JSON envelope (S1/S3). Streamed route→conform→mask→enrich
    output must equal the batch pipeline's multiset on the same
    CR-suffixed values."""
    import json

    cr_lines = crlf_corpus()
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(2):
        chunk = cr_lines[i::2]
        (landing / f"part{i}.json").write_text(
            "\n".join(json.dumps({"value": ln}) for ln in chunk) + "\n"
        )

    stream = spark.readStream.schema("value STRING").option(
        "maxFilesPerTrigger", 1
    ).json(str(landing))
    transformed = pipeline.routed_pipeline_dual(stream, {"p": lookup}, how="left")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def sink(batch, batch_id):
        batch.write.mode("append").parquet(out)

    q = sinks.start_pipeline(
        transformed, sink, ckpt, available_now=True, query_name="t_crlf"
    )
    q.awaitTermination(120)

    df = spark.createDataFrame([(ln,) for ln in cr_lines], ["value"])
    expect = Counter(
        tuple(r)
        for r in pipeline.routed_pipeline_dual(df, {"p": lookup}, how="left").collect()
    )
    got = read_counter(spark, out)
    assert got == expect
    assert sum(got.values()) == len(cr_lines)


def test_flume_pipeline_masks_and_partitions(spark, tmp_path):
    """Entry point #1 (Flume): keyed (filename, value) GPRS records ->
    mask fields 0,1,2,7 -> per-filename dirs (K7 + A2 grouping)."""
    import hashlib
    import json

    from sparkstreamingflume_spark.streaming import sinks as SK

    gprs = "|".join(f"g{j}" for j in range(44))
    rows = [{"filename": f"f{i % 2}", "value": gprs} for i in range(6)]
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    stream = spark.readStream.schema("filename STRING, value STRING").json(
        str(landing)
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def sink(batch, bid):
        SK.write_partitioned_text(batch, out, partition_cols=("filename", "dt"))

    q = SK.start_pipeline(
        pipeline.flume_pipeline(stream), sink, ckpt, available_now=True
    )
    q.awaitTermination(120)

    from pathlib import Path as P

    dirs = sorted(p.name for p in P(out).iterdir() if p.is_dir())
    assert dirs == ["filename=f0", "filename=f1"]
    got = spark.read.text(out).collect()
    assert len(got) == 6
    fields = got[0].value.split("|")
    for i in (0, 1, 2, 7):
        assert fields[i] == hashlib.md5(f"g{i}".encode()).hexdigest()
    assert fields[3] == "g3"  # unmasked fields intact


def test_restart_under_load_exactly_once(spark, tmp_path, lookup, lookup2):
    """W4 under load (round-5 verdict task 7): kill the continuously
    triggering dual-partner pipeline MID-STREAM (files still pending,
    possibly a batch in flight), drop more files while it is down,
    restart from the same checkpoint, and require the final output
    multiset to equal the batch pipeline over ALL input — no loss, no
    replay duplicates. Uses the idempotent per-batch_id sink: the
    append sink is only at-least-once under a mid-stream kill
    (reference analog: ssc.getOrCreate restart,
    src/StreamingFlumeProcess.scala:245-248)."""
    lines = corpus(30)
    maps = {"yaxin": lookup, "yiyang": lookup2}
    landing = tmp_path / "landing"
    landing.mkdir()
    chunks = [lines[i::10] for i in range(10)]
    for i, chunk in enumerate(chunks[:7]):
        (landing / f"pre{i}.txt").write_text("\n".join(chunk) + "\n")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def sink(batch, batch_id):
        sinks.write_batch_parquet_idempotent(batch, batch_id, out)

    stream = sources.file_drop(spark, str(landing), max_files_per_trigger=1)
    q = sinks.start_pipeline(
        pipeline.routed_pipeline_dual(stream, maps, how="inner"),
        sink,
        ckpt,
        query_name="t_restart_load",
    )
    # kill as soon as a couple of batches have committed — 5 files are
    # still pending, so the stop lands mid-stream
    deadline = time.time() + 120
    while time.time() < deadline:
        done = len(list(Path(out).glob("batch_id=*"))) if Path(out).exists() else 0
        if done >= 2:
            break
        time.sleep(0.05)
    q.stop()
    q.awaitTermination(60)

    # data keeps arriving during the outage
    for i, chunk in enumerate(chunks[7:]):
        (landing / f"post{i}.txt").write_text("\n".join(chunk) + "\n")

    stream2 = sources.file_drop(spark, str(landing), max_files_per_trigger=1)
    q2 = sinks.start_pipeline(
        pipeline.routed_pipeline_dual(stream2, maps, how="inner"),
        sink,
        ckpt,
        available_now=True,
        query_name="t_restart_load2",
    )
    q2.awaitTermination(180)

    got = Counter(
        tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()
    )
    df = spark.createDataFrame([(ln,) for ln in lines], ["value"])
    expect = Counter(
        tuple(r)
        for r in pipeline.routed_pipeline_dual(df, maps, how="inner").collect()
    )
    assert got == expect
    # the restart actually resumed (did not reprocess from scratch into
    # fresh batch ids only): pre-kill batch dirs are still part of the set
    assert len(list(Path(out).glob("batch_id=*"))) >= 2


def test_dual_lookup_stream_equals_batch(spark, tmp_path, lookup, lookup2):
    """The dual-partner pipeline streams identically to its batch form."""
    lines = corpus()
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(3):
        (landing / f"part{i}.txt").write_text("\n".join(lines[i::3]) + "\n")
    maps = {"yaxin": lookup, "yiyang": lookup2}

    stream = sources.file_drop(spark, str(landing), max_files_per_trigger=2)
    transformed = pipeline.routed_pipeline_dual(stream, maps, how="inner")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def sink(batch, batch_id):
        batch.write.mode("append").parquet(out)

    q = sinks.start_pipeline(
        transformed, sink, ckpt, available_now=True, query_name="t_dual"
    )
    q.awaitTermination(120)

    df = spark.createDataFrame([(ln,) for ln in lines], ["value"])
    expected = Counter(
        tuple(r)
        for r in pipeline.routed_pipeline_dual(df, maps, how="inner").collect()
    )
    assert read_counter(spark, out) == expected
