"""The route → conform → mask → enrich transformation graph.

Mirrors the reference's socket pipeline
(src/StreamingSocketProcess.scala:138-266): 11-way prefix routing, per-type
dirty-record filtering, phone-field MD5 masking, and broadcast-map
enrichment keyed on ``lac + ',' + ci``
(probe/filter/project: processTable, src/ProcessSums.scala:422-450).

Everything is a pure ``DataFrame -> DataFrame`` function of built-in
expressions, so the SAME code path serves batch frames and streaming
micro-batches — batch≡stream equivalence is a unit test, not a hope.
At scale: routing is a single derived column (one scan, no 11 filters),
masking is per-row expression work (codegen), enrichment is a broadcast
hash join — no shuffle anywhere in the per-record path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkstreamingflume_spark.functions import lines as L
from sparkstreamingflume_spark.schemas import ARCHIVE_PREFIXES, RECORD_TYPES, RecordType


def route(df: DataFrame, value_col: str = "value") -> DataFrame:
    """P2 — derive the 2-char routing prefix once (replaces the reference's
    11 independent ``filter(_.startsWith(...))`` passes over a cached
    stream, src/StreamingSocketProcess.scala:138-159). Unknown prefixes get
    rec_type='??' and flow to the dead-letter path."""
    prefix = F.substring(F.col(value_col), 1, 2)
    known = sorted(RECORD_TYPES) + list(ARCHIVE_PREFIXES)
    return df.withColumn(
        "rec_type", F.when(prefix.isin(known), prefix).otherwise(F.lit("??"))
    )


def conform(df: DataFrame, rt: RecordType, value_col: str = "value") -> DataFrame:
    """P9 — keep records whose split width matches the schema
    (src/ProcessSums.scala:435)."""
    return df.filter(L.dirty_filter(F.col(value_col), rt.n_fields, sep=rt.sep))


def mask(df: DataFrame, rt: RecordType, value_col: str = "value") -> DataFrame:
    """P4/P5 — MD5-mask the type's phone fields in place
    (src/DesenPross.scala:94-115; applied per type as in
    src/StreamingFlumeProcess.scala:146-149)."""
    return df.withColumn(
        value_col, L.mask_fields(F.col(value_col), rt.phone_idx, sep=rt.sep)
    )


def enrich(
    df: DataFrame,
    rt: RecordType,
    lookup: DataFrame,
    how: str = "inner",
    value_col: str = "value",
) -> DataFrame:
    """J1/J2 — broadcast enrichment join on ``lac + ',' + ci``.

    ``inner`` reproduces the reference's getOrElse + non-empty filter
    (drop non-matches, src/ProcessSums.scala:441-446); ``left`` keeps all
    records with flag='' for misses (J2). Output mirrors processTable's
    projection: (value, start_time, flag, tag).
    """
    key = F.concat_ws(
        ",",
        L.field_extract(F.col(value_col), rt.lac_idx, sep=rt.sep),
        L.field_extract(F.col(value_col), rt.ci_idx, sep=rt.sep),
    )
    joined = df.withColumn("lookup_key", key).join(
        F.broadcast(lookup), F.col("lookup_key") == F.col("map_key"), how
    )
    flag = F.col("map_value") if how == "inner" else F.coalesce("map_value", F.lit(""))
    return joined.select(
        F.col(value_col),
        L.field_extract(F.col(value_col), rt.start_time_idx, sep=rt.sep).alias(
            "start_time"
        ),
        flag.alias("flag"),
        F.lit(rt.tag).alias("tag"),
    )


def routed_pipeline_dual(
    df: DataFrame, lookups: dict[str, DataFrame], how: str = "inner"
) -> DataFrame:
    """The production ingest graph: all six socket types in ONE pass over
    the stream, enriched against every partner's map.

    The reference loads TWO broadcast maps (yaxin + yiyang,
    src/StreamingSocketProcess.scala:110-119) and passes both into every
    per-type writer (src/ProcessSums.scala:334; the intended per-partner
    ``processTable(record, mapN)`` calls are at :371-372), each partner's
    enrichment feeding its own sink tree (/yaxin vs /yiyang).

    Here the schema registry becomes literal map columns (rec_type →
    n_fields / phone-index set / lac / ci / start / tag), so routing,
    conforming, masking and key extraction are a single projection over
    one split of the line — no per-type branch-and-union (the reference
    re-filtered its cached stream once per type,
    src/StreamingSocketProcess.scala:138-159), and no re-split per stage
    (chaining the composable ops splits a 97-field line four times per
    record). Each record then fans out to every partner (J3) and is
    enriched against THAT partner's map in a single broadcast join on
    (partner, lookup_key) — the per-partner maps union into one
    partner-tagged broadcast, so N partners still cost one scan + one
    join. Output adds a ``partner`` column for partner-routed sinks (K9).
    Row-equivalence with the composable chain (route, then per type
    conform → mask → enrich, union) once per partner is pinned by
    tests/test_pipeline.py; batch≡stream by tests/test_streaming.py.
    """
    types = sorted(RECORD_TYPES.items())
    m_nf = F.create_map(*[x for p, rt in types for x in (F.lit(p), F.lit(rt.n_fields))])
    m_mask = F.create_map(
        *[
            x
            for p, rt in types
            for x in (F.lit(p), F.array(*[F.lit(i) for i in rt.phone_idx]))
        ]
    )
    m_lac = F.create_map(*[x for p, rt in types for x in (F.lit(p), F.lit(rt.lac_idx))])
    m_ci = F.create_map(*[x for p, rt in types for x in (F.lit(p), F.lit(rt.ci_idx))])
    m_st = F.create_map(
        *[x for p, rt in types for x in (F.lit(p), F.lit(rt.start_time_idx))]
    )
    m_tag = F.create_map(*[x for p, rt in types for x in (F.lit(p), F.lit(rt.tag))])

    sep = types[0][1].sep  # all six socket types are comma-delimited
    routed = route(df).filter(F.col("rec_type").isin(*[p for p, _ in types]))
    rt_col = F.col("rec_type")
    with_arr = routed.withColumn("_arr", L.line_fields("value", sep=sep)).filter(
        F.size("_arr") == F.element_at(m_nf, rt_col)
    )
    mask_set = F.element_at(m_mask, rt_col)
    masked = with_arr.withColumn(
        "_arr",
        F.transform(
            "_arr",
            lambda x, i: F.when(F.array_contains(mask_set, i), F.md5(x)).otherwise(x),
        ),
    )
    key = F.concat_ws(
        ",",
        F.element_at(F.col("_arr"), F.element_at(m_lac, rt_col) + 1),
        F.element_at(F.col("_arr"), F.element_at(m_ci, rt_col) + 1),
    )
    partners = sorted(lookups)
    fan = masked.withColumn("lookup_key", key).withColumn(
        "partner", F.explode(F.array(*[F.lit(p) for p in partners]))
    )
    tagged = None
    for p in partners:
        t = lookups[p].select(
            F.lit(p).alias("_lk_partner"), "map_key", "map_value"
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    joined = fan.join(
        F.broadcast(tagged),
        (F.col("partner") == F.col("_lk_partner"))
        & (F.col("lookup_key") == F.col("map_key")),
        how,
    )
    flag = F.col("map_value") if how == "inner" else F.coalesce("map_value", F.lit(""))
    return joined.select(
        F.array_join("_arr", sep).alias("value"),
        F.element_at(F.col("_arr"), F.element_at(m_st, rt_col) + 1).alias("start_time"),
        flag.alias("flag"),
        F.element_at(m_tag, rt_col).alias("tag"),
        "partner",
    )


def archive_frame(df: DataFrame) -> DataFrame:
    """The raw archive path (types 60/67-70,
    src/StreamingSocketProcess60.scala:134-202): pass-through with routing
    + ingest-time bucketing columns for partitioned sinks (P13)."""
    routed = route(df)
    return routed.filter(F.col("rec_type").isin(*ARCHIVE_PREFIXES)).select(
        "value",
        "rec_type",
        F.date_format(F.current_timestamp(), "yyyyMMdd").alias("dt"),
        F.hour(F.current_timestamp()).alias("hr"),
    )


def flume_pipeline(df: DataFrame, value_col: str = "value") -> DataFrame:
    """The Flume entry-point graph (src/StreamingFlumeProcess.scala:117-155):
    (filename, body) pairs from event headers, GPRS phone fields 0,1,2,7
    MD5-masked (:146-149), day-bucketed for the per-filename text sink
    (saveAsTextFile per filename/day, replaced by partitionBy(filename, dt)).

    Input must have (filename, value) columns — the file-drop JSON landing
    schema; the masked frame is sink-ready for write_partitioned_text with
    partition_cols=('filename', 'dt') (K7: one dir per key)."""
    from sparkstreamingflume_spark.schemas import GPRS

    masked = df.withColumn(
        value_col, L.mask_fields(F.col(value_col), GPRS.phone_idx, sep=GPRS.sep)
    )
    return masked.withColumn(
        "dt", F.date_format(F.current_timestamp(), "yyyyMMdd")
    )
