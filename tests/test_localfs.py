"""The session's local-host settings: the fork-free local FileSystem and
checkpoint manager (``session`` module docstring), the guard that keeps
them away from a JVM that cannot load them, the committed jar's
staleness pin, and the driver-memory default.

Without the native Hadoop library the stock ``file://`` FileSystem forks
``chmod`` for every file and directory it creates, and the JVM's
reaped-child CPU ticks (``cutime + cstime``, fields 16-17 of
``/proc/<pid>/stat``) grow with every fork; for 100 creates they read 114
ticks on the stock FS. With the override a partitioned write plus a
checkpointed drain must leave them unchanged.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

from sparkstreamingflume_spark import session
from sparkstreamingflume_spark.streaming import sinks, sources

REPO = Path(__file__).resolve().parents[1]
STOCK_FS = "org.apache.hadoop.fs.LocalFileSystem"
# Per-write options that put one write through Hadoop's LocalFileSystem (a
# fresh, uncached instance) instead of the session's. The stock file://
# class, hive-exec's ProxyLocalFileSystem, differs from it only in rename.
STOCK_WRITE = {"fs.file.impl": STOCK_FS, "fs.file.impl.disable.cache": "true"}


def _hadoop_conf(spark):
    return spark._jsparkSession.sessionState().newHadoopConf()


def _child_ticks(spark) -> int:
    """Reaped-child CPU ticks of the Spark JVM."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[13]) + int(fields[14])  # fields 16-17; [0] is field 3


def _tree(root: Path) -> list[tuple[str, str]]:
    """(path with part-file ids blanked, octal mode) for everything under root."""
    out = []
    for p in sorted(root.rglob("*")):
        rel = re.sub(r"part-\d+-[0-9a-f-]+", "part-N", str(p.relative_to(root)))
        out.append((rel, oct(p.stat().st_mode)))
    return sorted(out)


def _cdr_lines(spark, n: int = 400):
    """``value`` lines tagged with 4 partners x 3 tags."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.concat(F.lit("p"), (F.col("id") % 4).cast("string")).alias("partner"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("tag"),
        F.concat(F.lit("61,"), F.col("id").cast("string"), F.lit(",x")).alias("value"),
    )


def test_file_scheme_and_checkpoint_manager(spark, tmp_path):
    jvm = spark._jvm
    conf = _hadoop_conf(spark)
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == session.LOCALFS_CLASS
    # the checksummed FS every FileSystem.getLocal caller casts to
    assert jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf).getClass().getName() == session.LOCALFS_CLASS
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)), conf
    )
    assert manager.getClass().getName() == session.FS_CHECKPOINT_MANAGER


def test_checkpoint_rename_keeps_replay_semantics(spark, tmp_path):
    """``createAtomic`` commits by temp file + rename: an existing file is
    replaced only when the caller allows it (state-store uploads), and a
    log entry that exists already raises (offset and commit logs). Under
    the stock ``file://`` class (hive-exec's ``ProxyLocalFileSystem``,
    whose rename refuses an existing destination) the second upload
    keeps "first" without an error."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        path.getParent(), _hadoop_conf(spark)
    )
    for data in (b"first", b"second"):
        out = manager.createAtomic(path, True)
        out.write(bytearray(data))
        out.close()
    assert (tmp_path / "0").read_bytes() == b"second"
    assert sorted(p.name for p in tmp_path.iterdir()) == [".0.crc", "0"]
    out = manager.createAtomic(path, False)
    out.write(bytearray(b"third"))
    with pytest.raises(Exception, match="FileAlreadyExistsException"):
        out.close()
    assert (tmp_path / "0").read_bytes() == b"second"


def test_modes_and_crc_match_stock_fs(spark, tmp_path):
    """A partitioned write and explicit creates leave the same modes and
    the same ``.crc`` files through either FileSystem, including modes
    outside the 9 rwx bits (the sticky bit takes the stock path)."""
    jvm = spark._jvm
    H = jvm.org.apache.hadoop.fs
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    conf = _hadoop_conf(spark)
    stock = H.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    ours = H.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert stock.getClass().getName() != ours.getClass().getName()

    df = _cdr_lines(spark)
    trees = []
    for name, fs, options in (("stock", stock, STOCK_WRITE), ("nio", ours, {})):
        root = tmp_path / name
        df.write.options(**options).partitionBy("partner", "tag").text(str(root / "sink"))
        fs.create(H.Path(str(root / "plain"))).close()
        fs.create(H.Path(str(root / "private"))).close()
        fs.setPermission(H.Path(str(root / "private")), FsPermission(0o600))
        fs.mkdirs(H.Path(str(root / "a" / "b")))
        fs.mkdirs(H.Path(str(root / "locked")), FsPermission(0o700))
        fs.mkdirs(H.Path(str(root / "shared")))
        fs.setPermission(H.Path(str(root / "shared")), FsPermission(0o1777))
        trees.append(_tree(root))
    assert trees[0] == trees[1]
    modes = dict(trees[1])
    assert modes["private"] == oct(0o100600) and modes["locked"] == oct(0o40700)
    assert modes["shared"] == oct(0o41777)
    assert ".plain.crc" in modes
    assert any(p.endswith(".crc") and "/partner=" in "/" + p for p in modes)


def test_sink_and_checkpoint_spawn_no_process(spark, tmp_path):
    """A ``partner x tag`` partitioned write and an ``availableNow``
    drain on a checkpoint (offset, commit and file-source logs, three
    micro-batches of partitioned sink files) reap no child process."""
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(3):
        (landing / f"f{i}.txt").write_text("".join(f"61,{i},{j},x\n" for j in range(60)))
    df = _cdr_lines(spark)

    def sink(batch, _batch_id: int) -> None:
        from pyspark.sql import functions as F

        tagged = batch.select(
            F.concat(F.lit("p"), F.length("value") % 4).alias("partner"),
            F.concat(F.lit("t"), F.length("value") % 3).alias("tag"),
            "value",
        )
        sinks.write_partitioned_text(tagged, str(tmp_path / "stream-out"), partition_cols=("partner", "tag"))

    before = _child_ticks(spark)
    sinks.write_partitioned_text(df, str(tmp_path / "out"), partition_cols=("partner", "tag"))
    q = sinks.start_pipeline(
        sources.file_drop(spark, str(landing), max_files_per_trigger=1),
        sink,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination()
    after = _child_ticks(spark)
    assert q.exception() is None
    assert len(q.recentProgress) >= 3
    assert spark.read.text(str(tmp_path / "stream-out")).count() == 180
    assert len(list((tmp_path / "out").rglob("part-*"))) >= 12
    assert after - before == 0


def test_conf_is_local_only():
    assert session._localfs_conf("spark://host:7077") == {}
    assert session._localfs_conf("yarn") == {}


_GUARD = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from sparkstreamingflume_spark import session
(SparkSession.builder.master("local[1]").config("spark.driver.memory", "512m")
 .config("spark.ui.enabled", "false").getOrCreate())
spark = session.get_session("guard", master="local[1]")
jvm = spark._jvm
conf = spark._jsparkSession.sessionState().newHadoopConf()
spark.range(3).selectExpr("cast(id as string)").write.text({out!r})
print(json.dumps({{
    "impl": spark.conf.get("spark.hadoop.fs.file.impl", None),
    "manager": spark.conf.get("spark.sql.streaming.checkpointFileManagerClass", None),
    "fs": jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf).getClass().getName(),
    "rows": spark.read.text({out!r}).count(),
}}))
spark.stop()
"""


def test_guard_keeps_a_vanilla_jvm_stock(tmp_path):
    """A JVM started by a plain ``SparkSession.builder`` has no jar on its
    classpath: ``get_session`` must not name the class to it."""
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    script = _GUARD.format(repo=str(REPO), out=str(tmp_path / "out"))
    res = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=300
    )
    assert res.returncode == 0, res.stderr[-3000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    assert got["fs"] != session.LOCALFS_CLASS
    assert (got["impl"], got["manager"], got["rows"]) == (None, None, 3)


def test_committed_jar_is_current(tmp_path):
    """The committed jar holds exactly what ``tools/build_jvm.py`` builds
    from the committed sources."""
    sys.path.insert(0, str(REPO / "tools"))
    import build_jvm

    if build_jvm.javac() is None:
        pytest.skip("no javac on PATH: cannot rebuild the jar to compare it")
    fresh = build_jvm.build(tmp_path / "fresh.jar")
    assert build_jvm.class_bytes(fresh) == build_jvm.class_bytes(Path(session.LOCALFS_JAR))


@pytest.mark.parametrize(
    "phys_gb, expect",
    [(15, f"{15 * 1024 // 2}m"), (32, "16384m"), (64, "16384m"), (4, "2048m")],
)
def test_driver_mem_default(monkeypatch, phys_gb, expect):
    page = 4096
    values = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_gb * (1 << 30) // page}
    monkeypatch.setattr(os, "sysconf", values.__getitem__)
    assert session.default_driver_mem() == expect
