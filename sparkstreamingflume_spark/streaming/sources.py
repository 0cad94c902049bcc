"""Streaming sources + lookup-table loaders (SURVEY.md §2.1).

The reference ingested from Flume polling receivers
(src/StreamingFlumeProcess.scala:95) and raw TCP sockets
(src/StreamingSocketProcess.scala:124). ``spark-streaming-flume`` was
removed in Spark 3.x, so the supported Flume integration is a **file-drop
landing directory** (point a Flume file_roll/HDFS sink at it; S1) — a
replayable, offset-tracked source, strictly more fault-tolerant than the
receiver it replaces. The socket source (S2) is kept for dev/tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkstreamingflume_spark.functions import lines as L


def file_drop(spark: SparkSession, landing_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """S1 — Flume landing-dir source: unbounded text lines from a directory.

    Replaces FlumeUtils.createPollingStream (src/StreamingFlumeProcess.scala:95).
    ``maxFilesPerTrigger`` bounds micro-batch size like the reference's
    ``spark.streaming.maxBatchSize`` (src/StreamingFlumeProcess.scala:57).
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(landing_dir)


def socket(spark: SparkSession, host: str, port: int) -> DataFrame:
    """S2 — TCP line source (src/StreamingSocketProcess.scala:124)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def rate(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Synthetic load source for soak/throughput tests."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


# ---------------------------------------------------------------------------
# Lookup-table loaders (S3/S4/S5) — the broadcast-join dim side
# ---------------------------------------------------------------------------


def _load_map(
    spark: SparkSession,
    path: str,
    partner: str,
    keep: Column,
    key: list[int],
    value: int,
) -> DataFrame:
    """S3 — side-file read (byte-reader readFromHDFS,
    src/StreamingSocketProcess.scala:35-44), loaded once and materialized.

    Each line is split with Java ``split("\\t")`` semantics
    (:func:`functions.lines.line_fields`), so the field count is the
    line's own, not the first line's. An empty field counts as missing.
    ``keep`` guards the fields, then ``key`` fields join with ',' into
    ``map_key`` and field ``value`` becomes ``map_value``.

    The deduplicated frame is written to the block manager by an eager
    ``localCheckpoint()`` before this returns, so the file is read once per
    call and every micro-batch that joins against the map reads the stored
    rows (no file scan, no shuffle) — the reference's startup broadcast
    (src/StreamingSocketProcess.scala:110-120). The blocks are not part of
    the cache, so ``spark.catalog.clearCache()`` does not drop them. On a
    multi-executor cluster a lost executor loses its blocks; a query
    reading them then fails and restarts from its checkpoint, which loads
    the maps again. To refresh a map, load it again and restart the query.
    """
    arr = L.line_fields("value", sep="\t")
    # one partition: the whole map is broadcast to every batch anyway, and
    # one task dedups it without a shuffle
    fields = spark.read.text(path).coalesce(1).select(
        *[F.nullif(F.get(arr, i), F.lit("")).alias(f"f{i}") for i in range(max(*key, value) + 1)],
        F.size(arr).alias("width"),
    )
    lookup = (
        fields.filter(keep)
        .select(
            F.concat_ws(",", *[f"f{i}" for i in key]).alias("map_key"),
            F.col(f"f{value}").alias("map_value"),
        )
        .dropDuplicates(["map_key"])
        .localCheckpoint(eager=True)
    )
    if lookup.isEmpty():
        raise ValueError(f"{partner} lookup {path}: no line passes the field guard")
    return lookup


def load_lookup_yaxin(spark: SparkSession, path: str) -> DataFrame:
    """S4 — ``readFromHDFS11`` (src/StreamingSocketProcess.scala:46-59):
    keep lines of exactly 3 non-empty fields, key = f0 + ',' + f1,
    value = f2.

    Returns (map_key, map_value), one row per key; for a duplicate key the
    value is fixed when the map is loaded (the reference's HashMap kept
    the last line read — §2.8; at scale the dim is made unique explicitly
    so join cardinality is defined). The file is read once per call and
    every micro-batch shares the result; to refresh the map, load it again
    and restart the query. See :func:`_load_map` for where the rows live.
    Raises ``ValueError`` naming the file when no line passes the guard.
    """
    return _load_map(
        spark,
        path,
        "yaxin",
        (F.col("width") == 3) & F.col("f0").isNotNull() & F.col("f1").isNotNull() & F.col("f2").isNotNull(),
        key=[0, 1],
        value=2,
    )


def load_lookup_yiyang(spark: SparkSession, path: str) -> DataFrame:
    """S5 — ``readFromHDFS22`` (src/StreamingSocketProcess.scala:61-74):
    keep lines whose field 5 is present, key = f1 + ',' + f2, value = f5
    (7-field guard as in src/ProcessSums.scala:68).

    Returns (map_key, map_value), one row per key; for a duplicate key the
    value is fixed when the map is loaded. The file is read once per call
    and every micro-batch shares the result; to refresh the map, load it
    again and restart the query. See :func:`_load_map` for where the rows
    live. Raises ``ValueError`` naming the file when no line passes the
    guard.
    """
    return _load_map(spark, path, "yiyang", F.col("f5").isNotNull(), key=[1, 2], value=5)
