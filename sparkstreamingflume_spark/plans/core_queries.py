"""Core declared queries — the reference's operator surface (SURVEY.md §2).

Each ``@query`` pairs a Spark DataFrame builder with a DuckDB oracle SQL
statement; the driver runs both at sf=0.01 and compares row count + schema +
order-insensitive value hash.

The reference operates on delimited CDR/GPRS text lines. The synthetic
testdata is relational parquet, so both engines deterministically synthesize
the *same* line corpus from ``lineitem`` (`_cdr_lines` here ≡ `LINES_CTE` in
SQL): an 11-way routing prefix 60..70 (reference
src/StreamingSocketProcess.scala:138-159), 44 fields for clean rows
(the GPRS width, src/DesenPross.scala:181), a short 7-field variant for
dirty rows (~10%), a trailing '|' on ~14% of rows to pin the Java
``split(sep, 0)`` trailing-empty-drop semantics cross-engine, and a
trailing CR (``\\r``) on ~8% of rows — including ``...|\\r`` where the two
overlap — so ``line_fields``' strip of the separator run at the end of
INPUT only (vs a Java ``$`` anchor, which also matches before a final
line terminator and would mis-strip the pipe) is exercised by
DRIVER-certified queries, not just pytest (functions/lines.py
``line_fields``).

Determinism discipline (registry.py): every computed column aliased
identically on both sides; float aggregates scaled to BIGINT cents before
summing; timestamps emitted as formatted strings; int widths normalized to
BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkstreamingflume_spark.functions import lines as L
from sparkstreamingflume_spark.plans.registry import query
from sparkstreamingflume_spark.schemas import GPRS_PROJECTION
from sparkstreamingflume_spark.session import load_table

# ---------------------------------------------------------------------------
# Shared synthesized line corpus (Spark builder ≡ SQL CTE, field by field)
# ---------------------------------------------------------------------------

# Fields 7..43 of a clean 44-field line are fixed fillers f08..f44.
_FILLER = "".join(f"|f{i:02d}" for i in range(8, 45))

LINES_CTE = f"""
lines AS (
    SELECT l_orderkey,
           l_linenumber,
           CAST(60 + l_orderkey % 11 AS VARCHAR) AS rec_type,
           concat_ws('|', 60 + l_orderkey % 11, l_orderkey, l_partkey,
                     l_suppkey, l_linenumber, l_returnflag, l_linestatus)
           || CASE WHEN l_orderkey % 10 = 0 THEN '' ELSE '{_FILLER}' END
           || CASE WHEN l_orderkey % 7 = 0 THEN '|' ELSE '' END
           || CASE WHEN l_orderkey % 13 = 0 THEN chr(13) ELSE '' END AS line
    FROM lineitem
)"""

# Java-split field array of `line` (1-based in DuckDB; trailing empties
# dropped to match functions/lines.py `line_fields`).
_ARR = r"string_split(regexp_replace(line, '\|+$', ''), '|')"


def _cdr_lines(spark: SparkSession, sf_dir: str, widen: bool = True) -> DataFrame:
    """Spark twin of LINES_CTE — must stay field-identical to it.

    The corpus feeds CPU-bound per-row chains (44-way split, md5 masks),
    so the scan is widened to cluster width when the parquet layout is
    single-row-group-narrow (see session.widen_if_narrow: a no-op on
    real row-group-per-128MB tables). Round 13: the widen HASH-partitions
    on (l_orderkey, l_linenumber) — the keyless round-robin form paid a
    single-threaded sort of the whole narrow scan (sortBeforeRepartition)
    measured as ~half of q_gprs_pipeline's wall (2.35 -> 1.16 s med at
    sf0.1, interleaved A/B). Consumers whose first operation collapses or
    re-partitions rows anyway AND whose pre-shuffle work is cheap pass
    ``widen=False`` — for them even the hash exchange is pure overhead
    (round-13 A/B, med: q_count_by_type 0.41 narrow vs 0.66 widened,
    q_union 0.54 vs 0.65, q_count_by_type_salted 0.43 vs 0.98).
    q_cluster_sort is the counterexample that proves the rule: its
    window re-partitions by rec_type, but the full line is SYNTHESIZED
    before that exchange, so widening still won 1.72 -> 1.21 med.
    """
    from sparkstreamingflume_spark.session import widen_if_narrow

    li = load_table(spark, sf_dir, "lineitem")
    if widen:
        li = widen_if_narrow(li, cols=["l_orderkey", "l_linenumber"])
    rec_type = (F.lit(60) + F.col("l_orderkey") % 11).cast("string")
    base = F.concat_ws(
        "|",
        rec_type,
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
    )
    line = F.concat(
        base,
        F.when(F.col("l_orderkey") % 10 == 0, F.lit("")).otherwise(F.lit(_FILLER)),
        F.when(F.col("l_orderkey") % 7 == 0, F.lit("|")).otherwise(F.lit("")),
        F.when(F.col("l_orderkey") % 13 == 0, F.lit("\r")).otherwise(F.lit("")),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rec_type.alias("rec_type"),
        line.alias("line"),
    )


def _stage_arr(df: DataFrame) -> DataFrame:
    """Stage the 44-way split once behind the optimizer barrier
    (functions/barrier.py) — the shared prologue of the line-op family.
    Without it the split re-evaluates per field reference (CSE skips
    conditional subexpressions) and filters over it get pushed below
    the widen exchange onto the single narrow scan task (round-13
    measurements in functions/lines.py)."""
    from sparkstreamingflume_spark.functions.barrier import stage_columns

    return stage_columns(
        df, ["l_orderkey", "l_linenumber", "line"], _arr=L.line_fields("line")
    )


def _events(spark: SparkSession, sf_dir: str, widen: bool = False) -> DataFrame:
    """``widen=True`` consumers run a CPU-bearing per-row chain (md5
    mask after a broadcast probe) straight off the narrow single-row-
    group fixture scan; the hash widen on event_id parallelizes it
    (q_broadcast_join 0.56 -> 0.48 s med at sf0.1, round-13 A/B) and is
    a no-op on real row-group-per-128MB tables. Aggregation-first
    consumers stay narrow — their partial agg collapses rows before any
    exchange, so widening only adds a shuffle."""
    ev = load_table(spark, sf_dir, "events")
    if widen:
        from sparkstreamingflume_spark.session import widen_if_narrow

        ev = widen_if_narrow(ev, cols=["event_id"])
    return ev


# Restricted enrichment dim: drop every third customer so inner-vs-left join
# semantics actually diverge on the events fact (reference J1 drops records
# whose (lac,ci) misses the broadcast map, src/ProcessSums.scala:441-446).
_DIM_SQL = """
dim AS (
    SELECT c.c_custkey, c.c_name, n.n_name
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_custkey % 3 <> 0
)"""


def _dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 != 0)
    nat = load_table(spark, sf_dir, "nation")
    return cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).select(
        "c_custkey", "c_name", "n_name"
    )


# ---------------------------------------------------------------------------
# 2.1 Sources
# ---------------------------------------------------------------------------


@query(
    "q_lookup_build",
    """
    SELECT concat_ws(',', n_nationkey, n_regionkey) AS map_key,
           n_name AS map_value
    FROM nation
    """,
    doc="S4 — lookup-map loader: keyed dim frame, key=f0+','+f1, value=f2 "
    "(reference src/StreamingSocketProcess.scala:46-59).",
    tags=("source", "S4"),
)
def q_lookup_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load_table(spark, sf_dir, "nation")
    return nat.select(
        F.concat_ws(",", "n_nationkey", "n_regionkey").alias("map_key"),
        F.col("n_name").alias("map_value"),
    )


# ---------------------------------------------------------------------------
# 2.2 Projections / filters / per-record transforms
# ---------------------------------------------------------------------------


@query(
    "q_project_kv",
    """
    SELECT event_id, event_type AS filename, props AS value FROM events
    """,
    doc="P1 — event→(routing key, body) projection; Spark side goes through "
    "a map column like the Flume header access "
    "(reference src/StreamingFlumeProcess.scala:117-121).",
    tags=("transform", "P1"),
)
def q_project_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    headers = F.create_map(F.lit("flieName"), F.col("event_type"))
    return ev.select(
        "event_id",
        headers["flieName"].alias("filename"),
        F.col("props").alias("value"),
    )


@query(
    "q_filter_prefix",
    f"WITH {LINES_CTE} SELECT line FROM lines WHERE line LIKE '61%'",
    doc="P2 — prefix predicate routing, the 11-way startsWith fan-out "
    "(reference src/StreamingSocketProcess.scala:138-159).",
    tags=("transform", "P2"),
)
def q_filter_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _cdr_lines(spark, sf_dir)
        .filter(F.col("line").startswith("61"))
        .select("line")
    )


@query(
    "q_field_extract",
    f"""
    WITH {LINES_CTE}
    SELECT l_orderkey, l_linenumber,
           CASE WHEN len({_ARR}) > 5 THEN {_ARR}[6] ELSE 'ERROR' END AS f5,
           'ERROR' AS f_oob
    FROM lines
    """,
    doc="P3 — positional field extract; out-of-range → 'ERROR' sentinel "
    "(reference src/DesenPross.scala:53-64).",
    tags=("transform", "P3"),
)
def q_field_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _cdr_lines(spark, sf_dir)
    # Split staged once (functions/barrier.py): both extracts read the
    # staged array — the line-based form re-split per extract because
    # CSE skips subexpressions under CASE WHEN branches (lines.py note).
    staged = _stage_arr(df)
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        L.field_extract_arr(F.col("_arr"), 5).alias("f5"),
        L.field_extract_arr(F.col("_arr"), 50).alias("f_oob"),
    )


@query(
    "q_md5_mask",
    f"""
    WITH {LINES_CTE}
    SELECT l_orderkey, l_linenumber,
           array_to_string(list_transform({_ARR},
               (x, i) -> CASE WHEN i - 1 = 1 THEN md5(x) ELSE x END), '|') AS masked
    FROM lines
    """,
    doc="P4 — single-field MD5 mask, rebuild joined line "
    "(reference src/DesenPross.scala:94-115; digest src/MD5.java:163-284). "
    "Extra: strict single-field case of q_md5_mask_multi (same mask→rejoin "
    "path, P10 md5 primitive certified byte-identical there).",
    tags=("transform", "P4"),
    extra=True,
)
def q_md5_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _stage_arr(_cdr_lines(spark, sf_dir))
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        L.mask_fields_arr(F.col("_arr"), [1]).alias("masked"),
    )


@query(
    "q_md5_mask_multi",
    f"""
    WITH {LINES_CTE}
    SELECT l_orderkey, l_linenumber,
           array_to_string(list_transform({_ARR},
               (x, i) -> CASE WHEN i - 1 IN (1, 2, 5) THEN md5(x) ELSE x END), '|') AS masked
    FROM lines
    """,
    doc="P5 — multi-field MD5 mask in one pass (reference folds P4, "
    "src/DesenPross.scala:146-153).",
    tags=("transform", "P5"),
)
def q_md5_mask_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _stage_arr(_cdr_lines(spark, sf_dir))
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        L.mask_fields_arr(F.col("_arr"), [1, 2, 5]).alias("masked"),
    )


@query(
    "q_field_drop",
    f"""
    WITH {LINES_CTE}
    SELECT l_orderkey, l_linenumber,
           array_to_string(list_filter(
               list_transform({_ARR},
                   (x, i) -> CASE WHEN i - 1 IN (2, 4) THEN NULL ELSE x END),
               x -> x IS NOT NULL), '|') AS dropped
    FROM lines
    """,
    doc="P6/P7 — drop fields {2,4} in a single pass; the reference's "
    "shifting-index fold (src/DesenPross.scala:123-142,157-165) is "
    "unnecessary in one pass. Extra: same drop-by-index path as the "
    "44→10 projection certified by q_project_44to10.",
    tags=("transform", "P6", "P7"),
    extra=True,
)
def q_field_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _stage_arr(_cdr_lines(spark, sf_dir))
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        L.drop_fields_arr(F.col("_arr"), [2, 4]).alias("dropped"),
    )


_PROJ_SQL = ", ".join(f"{_ARR}[{i + 1}]" for i in GPRS_PROJECTION)


@query(
    "q_project_44to10",
    f"""
    WITH {LINES_CTE}
    SELECT l_orderkey, l_linenumber,
           CASE WHEN len({_ARR}) = 44
                THEN concat_ws('|', {_PROJ_SQL})
                ELSE '' END AS projected
    FROM lines
    """,
    doc="P8 — fixed 44→10 projection; non-44-field lines → '' "
    "(reference processData, src/DesenPross.scala:167-176).",
    tags=("transform", "P8"),
)
def q_project_44to10(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _stage_arr(_cdr_lines(spark, sf_dir))
    return staged.select(
        "l_orderkey",
        "l_linenumber",
        L.project_fields_arr(F.col("_arr"), GPRS_PROJECTION, n_fields=44).alias(
            "projected"
        ),
    )


@query(
    "q_dirty_filter",
    f"WITH {LINES_CTE} SELECT line FROM lines WHERE len({_ARR}) = 44",
    doc="P9 — dirty-record filter: keep records whose Java-split width "
    "matches the schema (reference src/ProcessSums.scala:435). Lines with "
    "a trailing '|' still count 44 — pins split(sep,0) semantics. Extra: "
    "q_gprs_pipeline applies this exact predicate (same 53,962-row result "
    "at sf0.01) as its first stage.",
    tags=("transform", "P9"),
    extra=True,
)
def q_dirty_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingflume_spark.functions.barrier import anchor

    # The anchored staged filter keeps the width predicate ABOVE the
    # widen exchange; the bare filter was pushed below it onto the
    # single narrow scan task, serializing synthesis+split (5.30 ->
    # 0.82 s med at sf0.1, round 13).
    staged = _stage_arr(_cdr_lines(spark, sf_dir))
    return staged.filter(anchor(F.size("_arr") == 44)).select("line")


@query(
    "q_date_bucket",
    """
    SELECT strftime(ts, '%Y%m%d') AS dt,
           CAST(hour(ts) AS BIGINT) AS hr,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
    doc="P13 — timestamp → yyyyMMdd/hour bucketing, the reference's output "
    "path partitioning (src/StreamingFlumeProcess.scala:140-141; "
    "src/ProcessSums.scala:252-255). Extra: the same bucketing is "
    "certified inside q_window_tumbling (hour grain) and q_time_rollup.",
    tags=("transform", "P13"),
    extra=True,
)
def q_date_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        F.date_format("ts", "yyyyMMdd").alias("dt"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(F.count("*").alias("n"))


@query(
    "q_json_extract",
    """
    SELECT event_id,
           CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k
    FROM events
    """,
    doc="P11-adjacent — typed value extraction from the semi-structured "
    "props payload (map-literal lookup analog, src/DesenPross.scala:43-47).",
    tags=("transform", "P11"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.regexp_extract("props", "[0-9]+", 0).cast("long").alias("k"),
    )


# ---------------------------------------------------------------------------
# 2.3 Joins
# ---------------------------------------------------------------------------


@query(
    "q_broadcast_join",
    f"""
    WITH {_DIM_SQL}
    SELECT e.event_id,
           md5(CAST(e.user_id AS VARCHAR)) AS masked_user,
           d.n_name AS flag,
           e.event_type
    FROM events e JOIN dim d ON e.user_id = d.c_custkey
    """,
    doc="J1 — broadcast inner enrichment join on the lookup key + MD5 mask "
    "projection; non-matches dropped (reference broadcast at "
    "src/StreamingSocketProcess.scala:112-120, probe/filter/project at "
    "src/ProcessSums.scala:422-450). Plan must be BroadcastHashJoin.",
    tags=("join", "J1"),
    bench=True,
)
def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir, widen=True)
    dim = _dim(spark, sf_dir)
    return ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey, "inner").select(
        "event_id",
        F.md5(F.col("user_id").cast("string")).alias("masked_user"),
        F.col("n_name").alias("flag"),
        "event_type",
    )


@query(
    "q_left_join_default",
    f"""
    WITH {_DIM_SQL}
    SELECT e.event_id,
           md5(CAST(e.user_id AS VARCHAR)) AS masked_user,
           coalesce(d.n_name, '') AS flag,
           e.event_type
    FROM events e LEFT JOIN dim d ON e.user_id = d.c_custkey
    """,
    doc="J2 — broadcast left-outer probe with ''-default for misses "
    "(the bare getOrElse, reference src/ProcessSums.scala:441).",
    tags=("join", "J2"),
)
def q_left_join_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir, widen=True)
    dim = _dim(spark, sf_dir)
    return ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey, "left").select(
        "event_id",
        F.md5(F.col("user_id").cast("string")).alias("masked_user"),
        F.coalesce("n_name", F.lit("")).alias("flag"),
        "event_type",
    )


@query(
    "q_fanout_dup",
    """
    SELECT e.event_id, p.partner,
           CAST(floor(e.value * 100) AS BIGINT) AS value_cents
    FROM events e CROSS JOIN (VALUES ('yaxin'), ('yiyang')) p(partner)
    """,
    doc="J3 — dual-partner fan-out: every record duplicated into two "
    "independent sink pipelines (reference src/ProcessSums.scala:336-403). "
    "Extra: composition of certified J1 + O1 shapes; row math pinned here "
    "by the pytest oracle gate.",
    tags=("join", "J3"),
    extra=True,
)
def q_fanout_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.explode(F.array(F.lit("yaxin"), F.lit("yiyang"))).alias("partner"),
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    )


# ---------------------------------------------------------------------------
# 2.4 Aggregations
# ---------------------------------------------------------------------------


@query(
    "q_count",
    "SELECT count(*) AS n FROM lineitem",
    doc="A1 — per-batch record count "
    "(reference src/StreamingFlumeProcess.scala:109). Extra: the global "
    "count is the degenerate single-group case of q_count_by_type.",
    tags=("agg", "A1"),
    extra=True,
)
def q_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n"))


@query(
    "q_count_by_type",
    f"""
    WITH {LINES_CTE}
    SELECT rec_type, count(*) AS n FROM lines GROUP BY rec_type
    """,
    doc="A3 — per-routing-prefix counters (reference's 5 hand-rolled "
    "buffers, src/ProcessSums.scala:237-331, become one groupBy).",
    tags=("agg", "A3"),
)
def q_count_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _cdr_lines(spark, sf_dir, widen=False)
        .groupBy("rec_type")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_group_concat",
    f"""
    WITH {LINES_CTE}
    SELECT rec_type,
           string_agg(concat_ws('-', l_orderkey, l_linenumber), ','
                      ORDER BY concat_ws('-', l_orderkey, l_linenumber)) AS payload
    FROM lines GROUP BY rec_type
    """,
    doc="A2 — grouped concatenation of same-key records into one write "
    "payload (reference src/ProcessSum1.scala:268-308; its arrival-order "
    "reversal is dropped — certified order-insensitively via sort).",
    tags=("agg", "A2"),
    bench=True,
)
def q_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen=True since round 13: with the HASH widen (no line column —
    # Catalyst prunes it, so the exchange ships two longs) the partial
    # collect_list runs cluster-wide instead of on the one narrow scan
    # task; measured 1.24 -> 0.86 s med at sf0.1 (interleaved A/B). The
    # old round-robin widen shipped full lines through a sorted
    # exchange and lost (1.26 vs 0.93 narrow, round-8 note).
    # sort_array, not array_sort: array_sort's default comparator is an
    # interpreted lambda per comparison, sort_array a native ordering.
    # collect_list holds no nulls (and concat_ws never returns one), so
    # both give the same order.
    df = _cdr_lines(spark, sf_dir)
    item = F.concat_ws("-", "l_orderkey", "l_linenumber")
    return df.groupBy("rec_type").agg(
        F.array_join(F.sort_array(F.collect_list(item)), ",").alias("payload")
    )


# ---------------------------------------------------------------------------
# 2.5 Windows (batch analogs over event time)
# ---------------------------------------------------------------------------


@query(
    "q_window_tumbling",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
    doc="W3 — tumbling 1h event-time window (the reference's day/hour path "
    "partitioning as a window, src/ProcessSums.scala:252-255). NULL-ts "
    "contract: Spark's window() assigns no window to a NULL timestamp "
    "(the row is dropped); the oracle filters identically so a NULL "
    "group never appears on one engine only.",
    tags=("window", "W3"),
)
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
            "n",
            "value_cents",
        )
    )


@query(
    "q_window_sliding",
    """
    WITH slid AS (
        SELECT CAST(to_timestamp(floor(epoch(ts) / 300) * 300) AS TIMESTAMP) AS w
        FROM events WHERE ts IS NOT NULL
        UNION ALL
        SELECT CAST(to_timestamp(floor(epoch(ts) / 300) * 300 - 300) AS TIMESTAMP)
        FROM events WHERE ts IS NOT NULL
    )
    SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS wstart, count(*) AS n
    FROM slid GROUP BY w
    """,
    doc="W2 — sliding window (10 min window, 5 min slide; reference uses "
    "200 s over the socket stream, src/StreamingSocketProcess60.scala:121). "
    "Each event lands in exactly two windows.",
    tags=("window", "W2"),
    bench=True,
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# 2.6 Set ops / ordering
# ---------------------------------------------------------------------------


@query(
    "q_union",
    f"""
    WITH {LINES_CTE}
    SELECT line FROM lines WHERE rec_type = '61'
    UNION ALL
    SELECT line FROM lines WHERE rec_type = '62'
    """,
    doc="O1 — stream union (reference merges N receiver streams, "
    "src/StreamingFlumeProcess.scala:102).",
    tags=("setop", "O1"),
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen=False: pure scan+filter with NO downstream shuffle — the widen
    # repartition would be the only exchange (measured 0.38 -> 0.26 s)
    df = _cdr_lines(spark, sf_dir, widen=False)
    a = df.filter(F.col("rec_type") == "61").select("line")
    b = df.filter(F.col("rec_type") == "62").select("line")
    return a.unionByName(b)


@query(
    "q_cluster_sort",
    f"""
    WITH {LINES_CTE}
    SELECT rec_type,
           CAST(row_number() OVER (PARTITION BY rec_type
                                   ORDER BY l_orderkey, l_linenumber, line) AS BIGINT) AS rn,
           line
    FROM lines
    """,
    doc="O3 — explicit key-clustered ordering; replaces the reference's "
    "implicit same-key-adjacency assumption "
    "(src/ProcessSum1.scala:271,398,480) with a window rank. Scale "
    "note: row_number over whole rec_types caps parallelism at "
    "|rec_types| (11) — acceptable here because the query certifies O3 "
    "SEMANTICS; the 100 TB form is q_cluster_sort_bucketed, which "
    "range-partitions within key (sort keys carry a bucket prefix).",
    tags=("setop", "O3"),
)
def q_cluster_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # widen=True since round 13: the window's rec_type shuffle
    # re-partitions anyway, but line SYNTHESIS runs before it — on the
    # narrow fixture scan that serialized the concat chain on one task
    # (hash-widen A/B: 1.72 -> 1.21 s med; the round-robin widen this
    # comment once rejected cost 1.21 vs 1.02 because of its sort).
    df = _cdr_lines(spark, sf_dir)
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem —
    # the full line is the final tie-break so rank order is deterministic.
    w = Window.partitionBy("rec_type").orderBy("l_orderkey", "l_linenumber", "line")
    return df.select(
        "rec_type",
        F.row_number().over(w).cast("long").alias("rn"),
        "line",
    )


# Bucket width for q_cluster_sort_bucketed: orderkey range bands. At sf0.001
# (~6k max orderkey) this yields ~12 buckets/type; bucket count grows
# linearly with SF, which is exactly the point.
_SORT_BUCKET_W = 500


@query(
    "q_cluster_sort_bucketed",
    f"""
    WITH {LINES_CTE}
    SELECT rec_type,
           CAST(floor(l_orderkey / {_SORT_BUCKET_W}.0) AS BIGINT) AS bucket,
           CAST(row_number() OVER (
                    PARTITION BY rec_type, floor(l_orderkey / {_SORT_BUCKET_W}.0)
                    ORDER BY l_orderkey, l_linenumber, line) AS BIGINT) AS rn,
           line
    FROM lines
    """,
    doc="O3 at 100 TB — the range-bucketed form q_cluster_sort's docstring "
    "promises: the leading sort key is banded into fixed-width ranges "
    "and row_number runs within (rec_type, bucket), so sort parallelism "
    "is |rec_types| x |buckets| (grows with data) instead of "
    "|rec_types| (fixed at 11). Because the bucket is a RANGE partition "
    "of the leading sort key, (bucket ASC, rn ASC) reconstructs the "
    "exact global per-type order — pinned against q_cluster_sort by "
    "tests/test_contract.py, which also asserts the window exchange "
    "hashes on both columns. Extra: how-variant of q_cluster_sort.",
    tags=("setop", "O3", "scale"),
    extra=True,
)
def q_cluster_sort_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # widen=True, same reasoning as q_cluster_sort (line synthesis runs
    # before the window exchange)
    df = _cdr_lines(spark, sf_dir)
    bucket = F.floor(F.col("l_orderkey") / _SORT_BUCKET_W).cast("long")
    w = Window.partitionBy("rec_type", "bucket").orderBy(
        "l_orderkey", "l_linenumber", "line"
    )
    return df.withColumn("bucket", bucket).select(
        "rec_type",
        "bucket",
        F.row_number().over(w).cast("long").alias("rn"),
        "line",
    )


@query(
    "q_count_by_type_salted",
    f"""
    WITH {LINES_CTE}
    SELECT rec_type, count(*) AS n, max(l_orderkey) AS max_key
    FROM lines GROUP BY rec_type
    """,
    doc="A3 under skew: the same per-prefix counters computed via salted "
    "two-phase aggregation (salt -> partial agg -> de-salt final). The "
    "hot prefix's rows spread over 16 reducers in phase 1 instead of "
    "funneling one; the oracle is the PLAIN groupBy — results must be "
    "identical. This is the aggregation-side answer to the skew the "
    "reference's per-type traffic actually had. Extra: how-variant of "
    "q_count_by_type (identical results by construction).",
    tags=("agg", "A3", "skew"),
    extra=True,
)
def q_count_by_type_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingflume_spark.functions.skew import salted_agg

    # widen=False: phase-1 salt shuffle already spreads the rows; the
    # widen exchange was pure overhead (measured 0.96 -> 0.30 s)
    df = _cdr_lines(spark, sf_dir, widen=False)
    return salted_agg(
        df,
        keys=["rec_type"],
        aggs={"n": ("l_orderkey", "count"), "max_key": ("l_orderkey", "max")},
    )


@query(
    "q_enrich_join_salted",
    f"""
    WITH {_DIM_SQL}
    SELECT e.event_id,
           md5(CAST(e.user_id AS VARCHAR)) AS masked_user,
           d.n_name AS flag,
           e.event_type
    FROM events e JOIN dim d ON e.user_id = d.c_custkey
    """,
    doc="J1 under known skew: the same enrichment join computed via "
    "explicit salting (dim replicated x16, fact salted "
    "deterministically) — functions/skew.py salted_join. The oracle is "
    "the PLAIN join: results must be row-identical. This is the "
    "pre-planned alternative when AQE's runtime skew splitting can't "
    "see the skew (a hot key hiding inside one partition) and the dim "
    "is small enough to replicate but not to broadcast per-executor. "
    "Extra: how-variant of q_broadcast_join (identical results by "
    "construction).",
    tags=("join", "J1", "skew"),
    extra=True,
)
def q_enrich_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingflume_spark.functions.skew import salted_join

    ev = _events(spark, sf_dir)
    dim = _dim(spark, sf_dir).withColumnRenamed("c_custkey", "user_id")
    return salted_join(ev, dim, "user_id").select(
        "event_id",
        F.md5(F.col("user_id").cast("string")).alias("masked_user"),
        F.col("n_name").alias("flag"),
        "event_type",
    )


# Flattened mask+project: because line_fields/_ARR strip the trailing
# separator run BEFORE splitting, the split array never ends in an empty
# field, so mask -> re-join -> re-split -> project is exactly equivalent to
# projecting straight off the original array with md5 applied only where a
# projected index is also a masked one. That turns 44 md5 calls + three
# higher-order lambda passes per row (which fall out of whole-stage
# codegen and get re-evaluated per projected field) into a flat, fully
# codegen'd chain with exactly 4 md5 calls per row — ~50x faster at sf0.1.
_GPRS_FIELD_SQL = ", ".join(
    f"md5({_ARR}[{i + 1}])" if i in (0, 1, 2, 7) else f"{_ARR}[{i + 1}]"
    for i in GPRS_PROJECTION
)


@query(
    "q_gprs_pipeline",
    f"""
    WITH {LINES_CTE}
    SELECT l_orderkey, l_linenumber,
           concat_ws('|', {_GPRS_FIELD_SQL}) AS out_line
    FROM lines
    WHERE len({_ARR}) = 44
    """,
    doc="The reference's full GPRS record pipeline as ONE certified "
    "expression chain: dirty-filter (44 fields, src/ProcessSums.scala:435) "
    "-> mask phone fields 0,1,2,7 (src/StreamingFlumeProcess.scala:146-149) "
    "-> 44->10 projection (processData, src/DesenPross.scala:167-176). "
    "What the reference did in three map passes with re-splits is one "
    "codegen'd projection here, with md5 computed only for the 4 fields "
    "that are both masked and projected (see _GPRS_FIELD_SQL comment for "
    "the equivalence argument).",
    tags=("transform", "P4", "P8", "P9"),
    bench=True,
)
def q_gprs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkstreamingflume_spark.functions.barrier import anchor, stage_columns
    from sparkstreamingflume_spark.schemas import GPRS

    df = _cdr_lines(spark, sf_dir)
    mask = set(GPRS.phone_idx)
    arr = F.col("_arr")
    fields = [
        F.md5(F.get(arr, i)) if i in mask else F.get(arr, i)
        for i in GPRS_PROJECTION
    ]
    # Materialize the split ONCE (functions/barrier.py): the width
    # predicate and the 10-field projection both read the staged array
    # attribute instead of re-evaluating the 44-way split. The filter is
    # over a synthesized column, so no scan pushdown is forfeited; the
    # plan shape (1 split, 4 md5) is pinned by tests/test_contract.py.
    staged = stage_columns(
        df, ["l_orderkey", "l_linenumber"], _arr=L.line_fields("line")
    )
    return staged.filter(anchor(F.size("_arr") == GPRS.n_fields)).select(
        "l_orderkey",
        "l_linenumber",
        F.concat_ws("|", *fields).alias("out_line"),
    )
