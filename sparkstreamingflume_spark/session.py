"""SparkSession factory.

Centralizes the engine configuration derived from the reference's manual
tuning (SURVEY.md §4.1): what the reference did with Kryo / memoryFraction /
concurrentJobs / repartition(1), modern Spark does with Tungsten, the
unified memory manager, AQE, and ``maxRecordsPerFile``. Everything here is
plain public Spark configuration.

Scale posture: the same builder works on a real cluster — only ``master``
and the shuffle-partition count change (cluster submit sets
``spark.sql.shuffle.partitions`` ~ 2-3x total cores; AQE coalesces down at
runtime, and skew-join splitting handles hot keys).

Local file writes without process spawns: with no native Hadoop library
loaded, the stock ``file://`` FileSystem forks ``chmod`` for every file
and directory it creates (a partitioned sink file is 4: the part file, its
``.crc`` and two partition-dir levels), and the default FileContext
checkpoint manager forks ``readlink`` 8 times per offset/commit-log
write. On a ``local`` master ``get_session`` therefore puts
``jvm/spark-graft-jvm.jar`` on the driver classpath, maps ``file://`` to
``NioLocalFileSystem`` (Hadoop's checksummed ``LocalFileSystem``, setting
the same modes through ``java.nio``) and routes checkpoints (offsets,
commits, file-source logs, state-store uploads) through the
FileSystem-based checkpoint manager, whose temp-file + rename commit is
atomic on POSIX. File modes, ``.crc`` files and replay semantics are
unchanged. The two go together: the stock ``file://`` class of this Spark
build is hive-exec's ``ProxyLocalFileSystem``, whose rename refuses an
existing destination, so under the FileSystem-based manager an
overwriting upload would keep the old file without an error. On a 4-vCPU
VM one perfbench ingest drain (16 files, 2 micro-batches) went from about
850 forks on the host to about 35, and the JVM's reaped-child CPU time
from 84-90 ticks to 0. A cluster master, or a JVM that was started
without the jar, keeps the stock classes. Rebuild the jar with
``python tools/build_jvm.py`` after editing the ``.java`` source.
"""

from __future__ import annotations

import os
import stat

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Built by tools/build_jvm.py from jvm/NioLocalFileSystem.java.
LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "spark-graft-jvm.jar")
LOCALFS_CLASS = "sparkgraft.fs.NioLocalFileSystem"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


def default_driver_mem() -> str:
    """``--driver-memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 16g,
    or half the host's physical RAM when that is less, so that two local
    sessions at once still fit."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // (1 << 20)
    return f"{min(16 << 10, half_mb)}m"


def _localfs_conf(master: str) -> dict[str, str]:
    """The fork-free local FileSystem and checkpoint manager (module
    docstring), or nothing: on a cluster master, or when a JVM already
    running cannot load the class (it was started without the jar, e.g.
    by a plain ``SparkSession.builder``)."""
    if not master.startswith("local"):
        return {}
    jvm = SparkContext._jvm
    if jvm is not None and not jvm.org.apache.spark.util.Utils.classIsLoadable(LOCALFS_CLASS):
        return {}
    # the driver classpath only: a local executor runs in the driver's JVM,
    # and spark.executor.extraClassPath would add the jar to every task's
    # class loader, which cost perfbench headline ~0.2 s per session set-up
    return {
        "spark.driver.extraClassPath": LOCALFS_JAR,
        "spark.hadoop.fs.file.impl": LOCALFS_CLASS,
        "spark.sql.streaming.checkpointFileManagerClass": FS_CHECKPOINT_MANAGER,
    }


def get_session(app_name: str = "sparkstreamingflume_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    AQE on (runtime coalesce + skew-join), Arrow on (fast Pandas-UDF /
    toPandas path), UTC session timezone (deterministic date functions —
    the reference's ``SimpleDateFormat`` was host-tz dependent, see
    src/StreamingFlumeProcess.scala:140-141; we fix that).
    """
    cpus = _cpus()
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the reference replayed its cached socket stream into <=19 output
        # ops (src/StreamingSocketProcess.scala:124); our multi-sink batches
        # persist once per micro-batch instead — keep shuffle tracking on so
        # AQE can reuse exchanges.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # stream-stream join / streaming-agg state lives off-heap in
        # RocksDB with incremental (changelog) checkpoints: multi-GB
        # per-executor state (rate x interval horizon for the interval
        # join) neither pressures the JVM heap nor re-uploads a full
        # snapshot per batch — the default HDFSBackedStateStore keeps
        # every version on heap and showed 1.6x-trigger p99 GC spikes at
        # 50k rows/s/side in tools/soak.py sjoin mode. Measured rows in
        # BASELINE.md (round 5): interval join certified STABLE at 30k
        # rows/s/side (p99 ~15-16 s vs 20 s trigger, state bounded at
        # rate x horizon); at 50k the only p99 driver is the 10-batch
        # RocksDB snapshot cycle (minDeltasForSnapshot), tunable via
        # SPARK_GRAFT_EXTRA_CONF; rollup-upsert MV stable at 200k
        # rows/s with 14 MB plateaued state.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
            ".enabled",
            "true",
        )
        .config("spark.ui.enabled", "false")
        .config(map=_localfs_conf(master))
    )
    # Deployment-specific overrides without code changes (mirrors the
    # reference's property-file knobs, SURVEY.md §4.1): semicolon-separated
    # key=value pairs, e.g.
    #   SPARK_GRAFT_EXTRA_CONF="spark.sql.streaming.stateStore.minDeltasForSnapshot=30"
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in extra.split(";"))):
        k, _, v = pair.partition("=")
        if not _:
            raise ValueError(f"SPARK_GRAFT_EXTRA_CONF entry has no '=': {pair!r}")
        builder = builder.config(k, v)
    # Driver memory must be set BEFORE the JVM launches: builder.config is a
    # no-op once a gateway exists. When launched via plain `python`, export
    # PYSPARK_SUBMIT_ARGS (done here, pre-gateway); on a cluster use
    # spark-submit --driver-memory.
    if "PYSPARK_SUBMIT_ARGS" not in os.environ and SparkSession.getActiveSession() is None:
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} pyspark-shell"
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# The SQL confs that steer what schema Spark infers from a parquet footer
# (ParquetToSparkSchemaConverter): a memoized schema is only reused under
# the same values.
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
# realpath -> (file version and conf values, schema inferred under them);
# one entry per file, so a rewritten file replaces its entry.
_parquet_schemas: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per file
    version: inference starts a Spark job that reads the footer, a
    user-given schema starts none."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)  # not a local file: no version to key on
    real = os.path.realpath(path)
    version = (
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        tuple(spark.conf.get(k) for k in _PARQUET_INFERENCE_CONFS),
    )
    hit = _parquet_schemas.get(real)
    if hit is not None and hit[0] == version:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _parquet_schemas[real] = (version, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (TESTDATA.md) as a DataFrame.

    The parquet schema is inferred once per file version and reused
    afterwards, so a repeated load starts no footer-reading job. The memo
    is keyed on the file's realpath, inode, size and ``st_mtime_ns`` and
    on the values of the SQL confs that steer parquet inference
    (``_PARQUET_INFERENCE_CONFS``); a rewritten file or a flipped conf
    infers again. It keeps one entry per file and holds only
    ``StructType``s: no data and no JVM handles. A path that is not a
    local file is read as before.

    ``events.parquet`` has shipped with two encodings for ``ts`` across
    fixture generations: legacy TIMESTAMP(NANOS) (which Spark's vectorized
    reader only accepts as raw longs via ``nanosAsLong``) and plain
    ``timestamp[us]``. Branch on the inferred dtype: a LongType ``ts`` is
    legacy nanos — truncate to microseconds with integer ``div`` (values
    exceed 2^53, float division would corrupt them), matching DuckDB's
    nanos→micros truncation so oracles agree; a TIMESTAMP_NTZ ``ts`` is
    cast to session-local TIMESTAMP (a pure re-tag under the engine's
    fixed UTC session timezone — same micros, same formatted strings —
    and required because ``unix_micros``/window arithmetic in the query
    surface takes TIMESTAMP, matching what the legacy path always
    produced). ``nanosAsLong`` stays set so BOTH encodings load
    regardless of which generation the fixtures are.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        df = _read_parquet(spark, path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, path)


# Longest suffix first: Spark's JavaUtils.byteStringAs accepts both the
# short and the 'Xb' forms ("128m" AND "128mb"), so "mb" must match
# before the bare trailing "b" swallows it.
_SIZE_SUFFIX = [
    ("pb", 1 << 50),
    ("tb", 1 << 40),
    ("gb", 1 << 30),
    ("mb", 1 << 20),
    ("kb", 1 << 10),
    ("p", 1 << 50),
    ("t", 1 << 40),
    ("g", 1 << 30),
    ("m", 1 << 20),
    ("k", 1 << 10),
    ("b", 1),
]


def _parse_bytes(raw: str) -> int:
    """Spark byte-size conf string ("128m", "256mb", "134217728b") -> bytes."""
    s = raw.strip().lower()
    for suf, mult in _SIZE_SUFFIX:
        if s.endswith(suf) and s[: -len(suf)].isdigit():
            return int(s[: -len(suf)]) * mult
    return int(s)


def input_bytes(df) -> int | None:
    """Total on-disk bytes behind a file-backed frame's scan, or None
    when unknowable cheaply (non-file frames, non-local FS). Uses the
    already-materialized file index (``inputFiles``) + local FS stats —
    no Spark job, no extra planning pass. Callers treating None as
    "assume big" stay conservative on remote filesystems.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        path = uri[len("file:") :] if uri.startswith("file:") else uri
        if not os.path.exists(path):
            return None  # non-local FS
        total += os.path.getsize(path)
    return total


def _estimated_scan_tasks(df) -> int | None:
    """Driver-side estimate of a file-backed frame's scan parallelism:
    ceil(total file bytes / maxPartitionBytes). None for non-file frames
    (range, in-memory, streaming) — callers fall back to the exact probe.
    """
    total = input_bytes(df)
    if total is None:
        return None
    mpb = _parse_bytes(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    return max(1, -(-total // mpb))


def widen_if_narrow(df, min_partitions: int | None = None, cols: list[str] | None = None):
    """Repartition ``df`` up to the cluster width IF its scan is narrower.

    Parquet scan parallelism is bounded by row-group count: a table
    written as one row group yields ONE scan task no matter what
    ``maxPartitionBytes`` says, serializing any CPU-bound per-row chain
    downstream (the fixture files are single-row-group; measured 4.5 s →
    0.6 s on the md5×4 GPRS pipeline at sf0.1 on 32 cores). A real
    100 TB table carries a row group per ~128 MB, the scan is already
    ≥ cluster-width, the guard is false, and this is a NO-OP — so the
    shuffle exists only where the input is pathologically narrow, never
    at scale.

    ``cols``: when the caller names high-cardinality deterministic
    column(s), the widen HASH-partitions on them instead of round-robin.
    Keyless ``repartition(n)`` first pays a LOCAL SORT of its input
    (``spark.sql.execution.sortBeforeRepartition``, on since SPARK-23207
    so retried tasks reproduce the same row placement) — on the one
    narrow scan task that sort is single-threaded and was measured as
    ~half of q_gprs_pipeline's wall at sf0.1 (2.35 → 1.16 s med going
    hash; OPTIMIZATION_r13.md). Hash on a named key needs no sort and
    stays deterministic under task retry (guide §2.5: never derive a
    synthetic key from rand()). Callers must pick keys with far more
    distinct values than partitions (natural row ids here). Without
    ``cols`` the round-robin form remains (row-order-independent
    results only — every certified query compares order-insensitively).

    The narrowness probe is a size estimate over the scan's file list
    (no extra planning pass); only non-file frames pay the exact
    ``rdd.getNumPartitions()`` probe.
    """
    spark = df.sparkSession
    want = min_partitions or spark.sparkContext.defaultParallelism
    width = _estimated_scan_tasks(df)
    if width is None:
        width = df.rdd.getNumPartitions()
    if width < max(2, want // 2):
        return df.repartition(want, *cols) if cols else df.repartition(want)
    return df
