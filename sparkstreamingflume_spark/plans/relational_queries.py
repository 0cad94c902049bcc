"""Relational-surface queries (SURVEY.md §2.3 note / §7.5).

The reference has exactly one join shape (broadcast hash, J1/J2) and no
distinct / grouping sets / window functions / set ops — Spark SQL provides
all of them for free. These queries certify that surface so a reference
user gets a strictly larger relational engine. All are pure DataFrame
declarations: Catalyst chooses the physical strategy (sort-merge for
big×big, broadcast under the threshold), AQE re-plans at runtime.

Determinism discipline (registry.py): money aggregates are scaled to
BIGINT cents per row before summing; timestamps formatted as strings;
ranks tie-broken by a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkstreamingflume_spark.plans.registry import query
from sparkstreamingflume_spark.session import input_bytes, load_table

# q_merge_upsert's feed-broadcast guard: the hint is applied only while
# the events source behind the change feed is at most this many on-disk
# bytes (1 GiB of compressed events dedups to well under the default
# executor broadcast budget); larger feeds degrade to an unhinted join
# and let AQE decide from the feed's RUNTIME size. See the query doc.
FEED_BROADCAST_MAX_SRC_BYTES = 1 << 30

# Money → exact integer cents, identically on both engines (floor on
# identical doubles is bit-deterministic; BIGINT sums are order-free).
_CENTS = "CAST(floor({col} * 100) AS BIGINT)"


def _cents(col: str) -> F.Column:
    return F.floor(F.col(col) * 100).cast("long")


@query(
    "q_tpch_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(sum({_CENTS.format(col='l_quantity')}) AS BIGINT) AS sum_qty_c,
           CAST(sum({_CENTS.format(col='l_extendedprice')}) AS BIGINT) AS sum_base_cents,
           CAST(sum({_CENTS.format(col='l_extendedprice * (1 - l_discount)')}) AS BIGINT) AS sum_disc_cents,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Pricing-summary hash aggregate (TPC-H Q1 shape) — the canonical "
    "scan→filter→partial-agg→final-agg pipeline; map-side combine keeps the "
    "shuffle at |groups| rows.",
    tags=("relational", "agg"),
    bench=True,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents("l_quantity")).alias("sum_qty_c"),
            F.sum(_cents("l_extendedprice")).alias("sum_base_cents"),
            F.sum(F.floor(disc * 100).cast("long")).alias("sum_disc_cents"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q_join_bigbig",
    f"""
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           CAST(sum({_CENTS.format(col='l.l_extendedprice')}) AS BIGINT) AS revenue_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Big×big equi-join (orders ⋈ lineitem) + rollup. Both sides exceed "
    "any broadcast threshold at scale → Catalyst picks shuffled sort-merge "
    "join; AQE handles skewed orderkeys. Complements the reference's only "
    "join shape (broadcast J1).",
    tags=("relational", "join"),
    bench=True,
)
def q_join_bigbig(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(_cents("l_extendedprice")).alias("revenue_cents"),
        )
    )


@query(
    "q_semi_join",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
    """,
    doc="Left-semi join: customers with ≥1 recent order. Semi joins ship "
    "only the probe side's columns — no fact-row duplication at scale. "
    "Extra: driver-certified inside q_semi_anti (tagged union).",
    tags=("relational", "join"),
    extra=True,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q_anti_join",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00')
    """,
    doc="Left-anti join: customers with no order since 1997-07-01 (the "
    "date filter keeps the fixture result non-empty — every synthetic "
    "customer has SOME order, so the unfiltered anti-join certifies "
    "nothing). Extra: driver-certified inside q_semi_anti (tagged union).",
    tags=("relational", "join"),
    extra=True,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q_distinct",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="Distinct (hash-aggregate without measures); partial distinct on "
    "the map side bounds the shuffle at |distinct values|. Extra: "
    "distinct-by-key is the grouping half of q_dedup_exact / "
    "q_count_distinct.",
    tags=("relational", "agg"),
    extra=True,
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@query(
    "q_rollup",
    """
    SELECT coalesce(l_returnflag, '<all>') AS returnflag,
           coalesce(l_linestatus, '<all>') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping-sets aggregate with grouping_id disambiguation "
    "(NULL group values coalesced to a sentinel so real NULLs can't alias). "
    "Extra: driver-certified inside q_grouping_sets (tagged union).",
    tags=("relational", "agg"),
    extra=True,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "gid",
            "n",
        )
    )


@query(
    "q_cube",
    """
    SELECT coalesce(o_orderstatus, '<all>') AS orderstatus,
           coalesce(o_orderpriority, '<all>') AS orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping-sets aggregate over orders. Extra: driver-certified "
    "inside q_grouping_sets (tagged union).",
    tags=("relational", "agg"),
    extra=True,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.grouping_id().cast("long").alias("gid"), F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("orderpriority"),
            "gid",
            "n",
        )
    )


@query(
    "q_rank_topn_per_group",
    f"""
    SELECT * FROM (
        SELECT o_orderpriority, o_orderkey,
               {_CENTS.format(col='o_totalprice')} AS price_cents,
               CAST(row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        FROM orders) t
    WHERE rn <= 3
    """,
    doc="Window row_number top-N per group (unique-key tie-break so the "
    "result set is deterministic across engines).",
    tags=("relational", "window"),
)
def q_rank_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            _cents("o_totalprice").alias("price_cents"),
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "q_lag_delta",
    """
    SELECT user_id, event_id,
           coalesce((epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) // 1000000,
               -1) AS gap_s
    FROM events
    """,
    doc="lag() window: per-user inter-event gap in seconds (-1 for the "
    "first event). The sessionization primitive a CDR pipeline needs. "
    "Computed on integer microseconds both sides — second-truncated vs "
    "fractional epoch differ across engines. Extra: q_sessionize's gap "
    "detection is this exact lag computation.",
    tags=("relational", "window"),
    extra=True,
)
def q_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    return ev.select(
        "user_id",
        "event_id",
        gap_us.alias("gap_us"),
    ).select(
        "user_id",
        "event_id",
        F.coalesce(F.expr("gap_us div 1000000"), F.lit(-1)).cast("long").alias("gap_s"),
    )


@query(
    "q_intersect",
    """
    SELECT l_partkey AS partkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    """,
    doc="INTERSECT (distinct) of two part-key sets. Extra: "
    "driver-certified inside q_set_ops (tagged union).",
    tags=("relational", "setop"),
    extra=True,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(F.col("l_partkey").alias("partkey"))
    b = li.filter(F.col("l_returnflag") == "A").select(F.col("l_partkey").alias("partkey"))
    return a.intersect(b)


@query(
    "q_except",
    """
    SELECT p_partkey AS partkey FROM part
    EXCEPT
    SELECT l_partkey FROM lineitem
    WHERE l_quantity >= 48
    """,
    doc="EXCEPT (distinct): parts never shipped in a large quantity "
    "(>=48). The quantity filter keeps the fixture result non-empty at "
    "every SF — every synthetic part ships at least once overall, so "
    "the unfiltered form certifies nothing. Extra: driver-certified "
    "inside q_set_ops (tagged union).",
    tags=("relational", "setop"),
    extra=True,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(F.col("p_partkey").alias("partkey"))
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 48)
        .select(F.col("l_partkey").alias("partkey"))
    )
    return p.subtract(li)


@query(
    "q_topk",
    f"""
    SELECT o_orderkey, {_CENTS.format(col='o_totalprice')} AS price_cents
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="Global top-K by value (TakeOrderedAndProject — per-partition heaps "
    "+ a K-row driver merge, no full sort at scale). Extra: the "
    "TakeOrderedAndProject plan is asserted by tests/test_contract.py; "
    "ordering semantics are certified by q_rank_topn_per_group.",
    tags=("relational", "sort"),
    extra=True,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", _cents("o_totalprice").alias("price_cents"))
        .orderBy(F.col("price_cents").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q_sessionize",
    """
    WITH gaps AS (
        SELECT user_id, event_id, ts,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, event_id,
               sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_no,
               ts
        FROM gaps
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
    FROM sess GROUP BY user_id, session_no
    """,
    doc="Sessionization (batch): 30-min-gap session boundaries via lag + "
    "running sum, rolled up per session. The per-user window shuffle is "
    "the only exchange; at scale it partitions on user_id (hashed, "
    "AQE-skew-splittable). Batch-only: the streaming sessionizer is "
    "streaming/sessions.py, which follows q_session_window's >= gap "
    "boundary, not this query's >.",
    tags=("relational", "window", "session"),
    bench=True,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts IS NOT NULL both engines: Spark window-orders NULLs first,
    # DuckDB last — an unordered event cannot join a session anyway
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    is_start = F.when(
        prev_us.isNull() | (F.unix_micros("ts") - prev_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = ev.select(
        "user_id",
        "ts",
        F.sum(is_start).over(cum).cast("long").alias("session_no"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


@query(
    "q_session_window",
    """
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS is_start
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT user_id, ts,
               sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM gaps
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_no
    """,
    doc="Sessionization via Spark's NATIVE session_window aggregate — the "
    "second sessionizer next to the batch-only lag+cumsum form "
    "(q_sessionize). One combinable shuffle on user_id, merge-on-overlap "
    "semantics: a "
    "new session starts when the gap is >= 30 min (the window END is "
    "last-event + gap, so an event landing exactly at the end does NOT "
    "merge — note the >= vs the > in q_sessionize's boundary rule; the "
    "oracle spells the island form with >= for exactly this reason). "
    "The same expression runs under readStream + watermark as the "
    "streaming sessionizer (streaming/sessions.py), with state eviction "
    "— pinned stream≡batch by tests/test_windowed.py and "
    "tests/test_stream_sessions.py. Extra: how-variant of "
    "q_sessionize.",
    tags=("relational", "window", "session"),
    extra=True,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    sw = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(F.count("*").alias("n_events"))
    return sw.select(
        "user_id",
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


@query(
    "q_scd2_history",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type IS DISTINCT FROM lag(event_type) OVER w
                    THEN 1 ELSE 0 END AS changed
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    regimes AS (
        SELECT user_id, ts, event_type,
               sum(changed) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS regime_no
        FROM flagged
    ),
    intervals AS (
        SELECT user_id, regime_no,
               min(event_type) AS event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               epoch_us(min(ts)) AS valid_from_us
        FROM regimes GROUP BY user_id, regime_no
    )
    SELECT user_id,
           CAST(regime_no AS BIGINT) AS regime_no,
           event_type,
           n_events,
           valid_from_us,
           lead(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY regime_no) AS valid_to_us
    FROM intervals
    """,
    doc="SCD2 / temporal-dimension history build (the warehouse 'type-2 "
    "slowly changing dimension' op): per user, consecutive events with "
    "the same event_type collapse into one validity regime "
    "[valid_from_us, valid_to_us) — change detection via null-safe lag "
    "compare (IS DISTINCT FROM / eqNullSafe, so a NULL type forms its "
    "own regime instead of three-valued-logic leaking rows), island ids "
    "via the running sum of change flags, and the interval close via "
    "lead over the per-regime frame (open current regime => NULL "
    "valid_to_us). 100 TB shape: ONE exchange for the entire plan — "
    "the lag and cumulative-sum windows share a (user_id) hash "
    "partitioning and one sort, and the regime SortAggregate plus the "
    "interval-close lead window both INHERIT that partitioning "
    "(user_id prefixes their keys), so the close window also runs over "
    "the aggregated regimes frame (rows = regime count << event count) "
    "without reshuffling. min(event_type) is exact, "
    "not a choice: the type is constant within a regime by "
    "construction. Extends the reference's per-key stateful rollup "
    "intent (src/StreamingSocketProcess.scala:112-140) to dimension "
    "history. Extra: islands-by-value-change sibling of q_sessionize "
    "(islands-by-time-gap), certified by the pytest oracle gate.",
    tags=("relational", "window"),
    extra=True,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts IS NOT NULL on BOTH engines: an unknown-time event cannot be
    # ordered into a regime, and NULL-first (Spark) vs NULL-last
    # (DuckDB) window ordering would otherwise diverge silently
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = F.when(
        F.col("event_type").eqNullSafe(F.lag("event_type").over(w)), 0
    ).otherwise(1)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    regimes = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.sum(changed).over(cum).alias("regime_no"),
    )
    intervals = regimes.groupBy("user_id", "regime_no").agg(
        F.min("event_type").alias("event_type"),
        F.count("*").alias("n_events"),
        F.unix_micros(F.min("ts")).alias("valid_from_us"),
    )
    close_w = Window.partitionBy("user_id").orderBy("regime_no")
    return intervals.select(
        "user_id",
        F.col("regime_no").cast("long").alias("regime_no"),
        "event_type",
        "n_events",
        "valid_from_us",
        F.lead("valid_from_us").over(close_w).alias("valid_to_us"),
    )


_DAY_US = 24 * 3600 * 1_000_000


@query(
    "q_retention",
    f"""
    WITH ev AS (
        SELECT user_id, epoch_us(ts) // {_DAY_US} AS day FROM events
        WHERE ts IS NOT NULL
    ),
    cohort AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
    SELECT c.cohort_day,
           e.day - c.cohort_day AS offset_days,
           count(DISTINCT e.user_id) AS n_active
    FROM ev e JOIN cohort c USING (user_id)
    GROUP BY c.cohort_day, e.day - c.cohort_day
    """,
    doc="Cohort RETENTION analysis (the product-analytics staple next to "
    "q_funnel): users cohorted by first-activity day, and for each "
    "(cohort_day, offset_days) the count of distinct cohort members "
    "active that day — the retention-triangle input. Day ids are "
    "integer days-since-epoch (epoch_us div 86400e6, exact in both "
    "engines). 100 TB shape: the cohort frame is one combinable min-agg "
    "on user_id, and Catalyst BROADCASTS it back to events (one row "
    "per user, plan-asserted at fixture scale; above the broadcast "
    "threshold AQE degrades to a co-partitioned sort-merge join on the "
    "same key), followed by Spark's canonical two-exchange distinct "
    "expansion whose final key space is (cohorts x offsets) — "
    "calendar-bounded, not data-bounded. Extra: certified by the "
    "pytest oracle gate.",
    tags=("relational", "session"),
    extra=True,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    ).select(
        "user_id",
        F.floor(F.unix_micros("ts") / _DAY_US).cast("long").alias("day"),
    )
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(cohort, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("offset_days")
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@query(
    "q_event_transitions",
    """
    WITH seq AS (
        SELECT event_type AS type_to,
               lag(event_type) OVER w AS type_from,
               row_number() OVER w AS rn
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT type_from, type_to, count(*) AS n_transitions
    FROM seq WHERE rn > 1
    GROUP BY type_from, type_to
    """,
    doc="First-order event-transition matrix (Markov path analysis / the "
    "input to a Sankey diagram): per user, consecutive-event "
    "(type_from, type_to) pairs under the same (ts, event_id) total "
    "order as q_scd2_history, counted over the corpus. Predecessor "
    "existence is tested with row_number > 1, NOT type_from IS NOT "
    "NULL, so a genuine NULL-typed predecessor (null corpus) keeps its "
    "transition row — both engines group NULL keys together in "
    "GROUP BY, making the NULL semantics identical. 100 TB shape: one "
    "user_id window exchange (sorted once) feeding a combinable count "
    "agg on a key space of |event types|^2. Extra: certified by the "
    "pytest oracle gate.",
    tags=("relational", "window"),
    extra=True,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("type_to"),
        F.lag("event_type").over(w).alias("type_from"),
        F.row_number().over(w).alias("rn"),
    )
    return (
        seq.filter(F.col("rn") > 1)
        .groupBy("type_from", "type_to")
        .agg(F.count("*").alias("n_transitions"))
    )


FUNNEL_STAGE_US = 7 * 24 * 3600 * 1_000_000  # per-stage conversion window


@query(
    "q_funnel",
    f"""
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        WHERE ts IS NOT NULL
    ),
    s1 AS (
        SELECT user_id, min(us) AS s1_us
        FROM ev WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.us) AS s2_us
        FROM ev e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click'
          AND e.us > s1_us AND e.us - s1_us <= {FUNNEL_STAGE_US}
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.us) AS s3_us
        FROM ev e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase'
          AND e.us > s2_us AND e.us - s2_us <= {FUNNEL_STAGE_US}
        GROUP BY e.user_id
    )
    SELECT s1.user_id, s1_us, s2_us, s3_us,
           CAST(CASE WHEN s3_us IS NOT NULL THEN 3
                     WHEN s2_us IS NOT NULL THEN 2
                     ELSE 1 END AS BIGINT) AS stage_reached,
           s3_us - s1_us AS convert_us
    FROM s1
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    """,
    doc="Windowed FUNNEL analysis (view -> click -> purchase, each stage "
    "within 7 days of the previous): the ordered-sequence-match op every "
    "product-analytics engine advertises and plain SQL struggles with. "
    "The Spark plan is a SINGLE-SHUFFLE fold: per user, events collect "
    "into one (us, event_id, type)-sorted array and F.aggregate folds "
    "the stage machine over it (earliest qualifying event per stage — "
    "equivalent to the chained conditional-min form because strict "
    "inequalities make tie order irrelevant), entirely in Catalyst "
    "higher-order functions, no Python, no window over raw events, no "
    "per-stage join passes. The ORACLE deliberately takes the other "
    "algorithm — three chained min-CTE joins — so the cross-engine hash "
    "match certifies the fold against an independent formulation, not a "
    "mirrored one. Users who never reach stage 1 are absent (funnel "
    "entry defines the population). 100 TB shape: one exchange on "
    "user_id; per-user memory = that user's event count (activity-"
    "bounded, same contract as the sessionizers); the fold is O(events) "
    "with a 3-field accumulator. Extra: certified by the pytest oracle "
    "gate.",
    tags=("relational", "session"),
    extra=True,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    ).select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("us"),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("ty"),
        ).alias("e"),
    )
    folded = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list("e")).alias("evs")
    )
    nil = F.lit(None).cast("long")
    W = F.lit(FUNNEL_STAGE_US)

    def step(acc, x):
        s1 = F.when(
            acc["s1"].isNull() & (x["ty"] == "view"), x["us"]
        ).otherwise(acc["s1"])
        s2 = F.when(
            acc["s2"].isNull()
            & acc["s1"].isNotNull()
            & (x["ty"] == "click")
            & (x["us"] > acc["s1"])
            & (x["us"] - acc["s1"] <= W),
            x["us"],
        ).otherwise(acc["s2"])
        s3 = F.when(
            acc["s3"].isNull()
            & acc["s2"].isNotNull()
            & (x["ty"] == "purchase")
            & (x["us"] > acc["s2"])
            & (x["us"] - acc["s2"] <= W),
            x["us"],
        ).otherwise(acc["s3"])
        return F.struct(s1.alias("s1"), s2.alias("s2"), s3.alias("s3"))

    st = F.aggregate(
        "evs",
        F.struct(nil.alias("s1"), nil.alias("s2"), nil.alias("s3")),
        step,
    )
    return (
        folded.select("user_id", st.alias("st"))
        .filter(F.col("st.s1").isNotNull())
        .select(
            "user_id",
            F.col("st.s1").alias("s1_us"),
            F.col("st.s2").alias("s2_us"),
            F.col("st.s3").alias("s3_us"),
            F.when(F.col("st.s3").isNotNull(), 3)
            .when(F.col("st.s2").isNotNull(), 2)
            .otherwise(1)
            .cast("long")
            .alias("stage_reached"),
            (F.col("st.s3") - F.col("st.s1")).alias("convert_us"),
        )
    )


@query(
    "q_pivot",
    """
    SELECT strftime(ts, '%Y%m%d') AS dt,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type IS NULL
                         OR event_type NOT IN ('click','view','purchase')
                    THEN 1 ELSE 0 END) AS BIGINT) AS other
    FROM events GROUP BY 1
    """,
    doc="Pivot: per-day event-type matrix. Spark's pivot() compiles to the "
    "same conditional-aggregate shape the SQL spells out — one combinable "
    "shuffle keyed on dt, column count fixed by the pivot value list "
    "(always enumerate values at scale; inference double-scans). A NULL "
    "event_type lands in 'other' — spelled out in the oracle because "
    "NOT IN alone is never true for NULL (three-valued logic) while "
    "Spark's when/otherwise bucketing counts it; tests/test_null_corpus "
    "certifies the agreement.",
    tags=("relational", "agg"),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    known = ["click", "view", "purchase"]
    bucket = F.when(F.col("event_type").isin(known), F.col("event_type")).otherwise(
        "other"
    )
    return (
        ev.select(F.date_format("ts", "yyyyMMdd").alias("dt"), bucket.alias("et"))
        .groupBy("dt")
        .pivot("et", known + ["other"])
        .agg(F.coalesce(F.count(F.lit(1)), F.lit(0)))
        .fillna(0, subset=known + ["other"])
        .select(
            "dt",
            F.col("click").cast("long").alias("click"),
            F.col("view").cast("long").alias("view"),
            F.col("purchase").cast("long").alias("purchase"),
            F.col("other").cast("long").alias("other"),
        )
    )


@query(
    "q_count_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="Exact distinct-count rollup (two-phase: partial distinct on the "
    "map side, exact merge). At 100 TB swap in approx_count_distinct "
    "(HLL++, fixed-size sketches, one pass) when +-2% is acceptable — "
    "same query shape, 10-100x less shuffle.",
    tags=("relational", "agg"),
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


@query(
    "q_asof_join",
    """
    WITH cand AS (
        SELECT p.event_id, p.user_id, p.ts,
               b.event_id AS anchor_id, b.ts AS anchor_ts,
               row_number() OVER (PARTITION BY p.event_id
                                  ORDER BY b.ts DESC, b.event_id DESC) AS rn
        FROM events p
        LEFT JOIN events b
          ON b.user_id = p.user_id AND b.event_type = 'purchase'
         AND b.ts <= p.ts
        WHERE p.ts IS NOT NULL
    )
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           anchor_id, epoch_us(anchor_ts) AS anchor_ts_us
    FROM cand WHERE rn = 1
    """,
    doc="Left as-of join: every event picks the same user's most recent "
    "'purchase' at-or-before its timestamp (ties broken by max event_id; "
    "an event anchors itself). Spark has no ASOF JOIN, and the naive "
    "inequality join is O(events x anchors) per user — instead this is "
    "the union-merge form: tag anchors, union with probes, ONE window "
    "partitioned by user_id ordered by (ts, anchors-first), and "
    "last(anchor, ignorenulls) carries the running most-recent anchor to "
    "each probe. One shuffle on user_id, linear scan per partition — the "
    "only as-of shape that survives 100 TB. Oracle: the quadratic "
    "left-join + row_number spelling of the same semantics.",
    tags=("relational", "join", "asof"),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts IS NOT NULL: an event without a time has no as-of position
    # (and Spark's NULLS FIRST window order would diverge from the
    # oracle's NULL-failing <= predicate)
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    probes = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("struct<aid:bigint,ats:timestamp>").alias("anchor"),
        F.lit(0).alias("is_anchor"),
    )
    anchors = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.struct(
            F.col("event_id").alias("aid"), F.col("ts").alias("ats")
        ).alias("anchor"),
        F.lit(1).alias("is_anchor"),
    )
    # Anchors sort before probes at equal ts (is_anchor DESC) so ts <= ts
    # matches; among equal-ts anchors, ascending event_id makes last() the
    # max — mirroring the oracle's (ts DESC, event_id DESC) rn=1 pick.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_anchor").desc(), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = probes.unionByName(anchors).withColumn(
        "last_anchor", F.last("anchor", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("is_anchor") == 0).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("last_anchor.aid").alias("anchor_id"),
        F.unix_micros("last_anchor.ats").alias("anchor_ts_us"),
    )


_HOUR_US = 3_600_000_000


@query(
    "q_resample_locf",
    f"""
    WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    grid AS (
        SELECT user_id,
               unnest(generate_series(mn // {_HOUR_US}, mx // {_HOUR_US}))
                   AS slot
        FROM (SELECT user_id, min(us) AS mn, max(us) AS mx
              FROM ev GROUP BY user_id)
    ),
    cand AS (
        SELECT g.user_id, g.slot * {_HOUR_US} AS slot_us,
               e.us, e.cents,
               row_number() OVER (PARTITION BY g.user_id, g.slot
                                  ORDER BY e.us DESC, e.event_id DESC) AS rn
        FROM grid g
        LEFT JOIN ev e ON e.user_id = g.user_id
                      AND e.us <= g.slot * {_HOUR_US}
    )
    SELECT user_id, slot_us,
           cents AS value_cents,
           slot_us - us AS staleness_us
    FROM cand WHERE rn = 1
    """,
    doc="Time-series RESAMPLE to a regular hourly grid with "
    "last-observation-carried-forward gap fill (the Flint/tempo-style "
    "op Spark has no native form of): each user gets one row per hour "
    "slot spanning their observed range, valued at the latest "
    "observation at-or-before the slot boundary, with the observation's "
    "staleness attached (slots before a user's first observation carry "
    "NULLs). Same union-merge shape as q_asof_join: the grid explodes "
    "from per-user (min, max) bounds — calendar-bounded, not "
    "event-bounded — then ONE window partitioned by user_id (slots and "
    "observations merged, observations-first at equal instants, "
    "event_id tiebreak mirroring the oracle's DESC/DESC rn=1 pick) "
    "carries the running last value to every slot: one shuffle, linear "
    "scan per partition, never the O(slots x observations) join the "
    "quadratic oracle spells. Contract: ts/value IS NOT NULL on both "
    "engines (a timeless or valueless row is not an observation — and "
    "Spark's last(ignorenulls) would skip a NULL-value anchor the "
    "oracle's rn=1 would pick). Extra: certified by the pytest oracle "
    "gate.",
    tags=("relational", "window", "asof"),
    extra=True,
)
def q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("us"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    bounds = ev.groupBy("user_id").agg(
        F.min("us").alias("mn"), F.max("us").alias("mx")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(
                F.expr(f"mn div {_HOUR_US}"), F.expr(f"mx div {_HOUR_US}")
            )
        ).alias("slot"),
    )
    probes = grid.select(
        "user_id",
        (F.col("slot") * _HOUR_US).alias("t"),
        F.lit(None).cast("struct<us:bigint,cents:bigint>").alias("obs"),
        F.lit(0).alias("is_anchor"),
        F.lit(None).cast("long").alias("eid"),
    )
    anchors = ev.select(
        "user_id",
        F.col("us").alias("t"),
        F.struct("us", "cents").alias("obs"),
        F.lit(1).alias("is_anchor"),
        F.col("event_id").alias("eid"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t"), F.col("is_anchor").desc(), F.col("eid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = probes.unionByName(anchors).withColumn(
        "last_obs", F.last("obs", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("is_anchor") == 0).select(
        "user_id",
        F.col("t").alias("slot_us"),
        F.col("last_obs.cents").alias("value_cents"),
        (F.col("t") - F.col("last_obs.us")).alias("staleness_us"),
    )


@query(
    "q_resample_interp",
    f"""
    WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    grid AS (
        SELECT user_id,
               unnest(generate_series(mn // {_HOUR_US}, mx // {_HOUR_US}))
                   AS slot
        FROM (SELECT user_id, min(us) AS mn, max(us) AS mx
              FROM ev GROUP BY user_id)
    ),
    prevs AS (
        SELECT user_id, slot_us, us AS p_us, cents AS p_c FROM (
            SELECT g.user_id, g.slot * {_HOUR_US} AS slot_us, e.us, e.cents,
                   row_number() OVER (PARTITION BY g.user_id, g.slot
                                      ORDER BY e.us DESC, e.event_id DESC)
                       AS rn
            FROM grid g
            LEFT JOIN ev e ON e.user_id = g.user_id
                          AND e.us <= g.slot * {_HOUR_US}
        ) WHERE rn = 1
    ),
    nexts AS (
        SELECT user_id, slot_us, us AS n_us, cents AS n_c FROM (
            SELECT g.user_id, g.slot * {_HOUR_US} AS slot_us, e.us, e.cents,
                   row_number() OVER (PARTITION BY g.user_id, g.slot
                                      ORDER BY e.us ASC, e.event_id ASC)
                       AS rn
            FROM grid g
            LEFT JOIN ev e ON e.user_id = g.user_id
                          AND e.us >= g.slot * {_HOUR_US}
        ) WHERE rn = 1
    )
    SELECT p.user_id, p.slot_us,
           CASE WHEN p_us IS NULL OR n_us IS NULL THEN NULL
                WHEN n_us = p_us THEN p_c
                ELSE (p_c * (n_us - p.slot_us) + n_c * (p.slot_us - p_us))
                     // (n_us - p_us)
           END AS value_cents,
           n_us - p_us AS span_us
    FROM prevs p JOIN nexts n
      ON n.user_id = p.user_id AND n.slot_us = p.slot_us
    """,
    doc="Time-series resample with LINEAR INTERPOLATION — the companion "
    "to q_resample_locf's step fill: each hourly slot interpolates "
    "between the nearest observation at-or-before and at-or-after it "
    "(NULL outside the observed range: no extrapolation; span_us "
    "exposes the bracketing gap so consumers can reject stale "
    "interpolations). Spark plan: the SAME union-merge window run "
    "twice over one exchange — forward pass carries the previous "
    "observation, a reverse-ordered pass (same user_id partitioning, "
    "second sort only) carries the next — then pure integer "
    "arithmetic: cents x microsecond weights stay under 2^60 and the "
    "weighted mean uses integer division (Spark div and DuckDB // "
    "both truncate, so the engines agree bit-for-bit where "
    "floor(double/double) would lose exactness past 2^53). The oracle "
    "again spells the quadratic two-sided join + rn=1 form. Extra: "
    "certified by the pytest oracle gate.",
    tags=("relational", "window", "asof"),
    extra=True,
)
def q_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("us"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    bounds = ev.groupBy("user_id").agg(
        F.min("us").alias("mn"), F.max("us").alias("mx")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(
                F.expr(f"mn div {_HOUR_US}"), F.expr(f"mx div {_HOUR_US}")
            )
        ).alias("slot"),
    )
    probes = grid.select(
        "user_id",
        (F.col("slot") * _HOUR_US).alias("t"),
        F.lit(None).cast("struct<us:bigint,cents:bigint>").alias("obs"),
        F.lit(0).alias("is_anchor"),
        F.lit(None).cast("long").alias("eid"),
    )
    anchors = ev.select(
        "user_id",
        F.col("us").alias("t"),
        F.struct("us", "cents").alias("obs"),
        F.lit(1).alias("is_anchor"),
        F.col("event_id").alias("eid"),
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t"), F.col("is_anchor").desc(), F.col("eid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # reverse pass: among equal-us anchors the oracle's (us ASC, eid ASC)
    # rn=1 picks the MIN event_id, so the running-last under descending
    # (t, eid) order must see that anchor latest
    bwd = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("t").desc(), F.col("is_anchor").desc(), F.col("eid").desc()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = (
        probes.unionByName(anchors)
        .withColumn("prev", F.last("obs", ignorenulls=True).over(fwd))
        .withColumn("nxt", F.last("obs", ignorenulls=True).over(bwd))
    )
    p_us, p_c = F.col("prev.us"), F.col("prev.cents")
    n_us, n_c = F.col("nxt.us"), F.col("nxt.cents")
    interp = F.expr(
        "(prev.cents * (nxt.us - t) + nxt.cents * (t - prev.us))"
        " div (nxt.us - prev.us)"
    )
    value = (
        F.when(p_us.isNull() | n_us.isNull(), F.lit(None).cast("long"))
        .when(n_us == p_us, p_c)
        .otherwise(interp)
    )
    return merged.filter(F.col("is_anchor") == 0).select(
        "user_id",
        F.col("t").alias("slot_us"),
        value.alias("value_cents"),
        (n_us - p_us).alias("span_us"),
    )


@query(
    "q_range_join",
    """
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           count(c.ts) AS n_clicks
    FROM events e
    LEFT JOIN events c
      ON c.user_id = e.user_id AND c.event_type = 'click'
     AND c.ts >= e.ts AND c.ts < e.ts + INTERVAL 10 MINUTE
    WHERE e.event_type = 'error'
    GROUP BY e.event_id, e.user_id, e.ts
    """,
    doc="Banded range join: per 'error' event, how many same-user clicks "
    "land in the following 10 minutes. A raw interval predicate forces "
    "Spark into BroadcastNestedLoopJoin (O(n*m) comparisons); instead "
    "both sides are bucketed to the 10-minute grid and each probe checks "
    "buckets {b, b+1} — every true match is within one bucket of the "
    "probe (band width == bucket width), so the equi-join on "
    "(user_id, bucket) plus the exact residual predicate is lossless. "
    "Shuffle is keyed, partition-prunable, AQE-skew-splittable: the "
    "standard interval-join decomposition at 100 TB.",
    tags=("relational", "join", "range"),
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    band_us = 600 * 1_000_000
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("cts_us"),
        F.expr(f"unix_micros(ts) div {band_us}").alias("bucket"),
    )
    probe = err.select(
        "*",
        F.explode(
            F.array(
                F.expr(f"ts_us div {band_us}"),
                F.expr(f"ts_us div {band_us} + 1"),
            )
        ).alias("bucket"),
    )
    joined = probe.join(
        clk,
        (F.col("user_id") == F.col("c_user"))
        & (probe["bucket"] == clk["bucket"])
        & (F.col("cts_us") >= F.col("ts_us"))
        & (F.col("cts_us") < F.col("ts_us") + band_us),
        "left",
    )
    return joined.groupBy("event_id", "user_id", "ts_us").agg(
        F.count("cts_us").alias("n_clicks")
    )


@query(
    "q_tpch_q3",
    f"""
    SELECT l_orderkey,
           CAST(sum({_CENTS.format(col='l_extendedprice * (1 - l_discount)')})
               AS BIGINT) AS revenue_cents,
           strftime(o_orderdate, '%Y-%m-%d') AS odate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    """,
    doc="Shipping-priority revenue (TPC-H Q3 shape, dates fit the synthetic "
    "range): a selective dim (filtered customer) chained into two fact "
    "joins. Catalyst pushes both date filters to the scans and broadcasts "
    "the filtered customer side; the lineitem join is the only big "
    "shuffle. Certifies multi-join planning the reference never had.",
    tags=("relational", "join", "agg"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(F.floor(rev * 100).cast("long")).alias("revenue_cents"))
        .select(
            "l_orderkey",
            "revenue_cents",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"),
            "o_orderpriority",
        )
    )


@query(
    "q_tpch_q5",
    f"""
    SELECT n_name,
           CAST(sum({_CENTS.format(col='l_extendedprice * (1 - l_discount)')})
               AS BIGINT) AS revenue_cents
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="Local-supplier revenue (TPC-H Q5 shape): a six-table join tree "
    "where region->nation->supplier collapses to a broadcast chain and "
    "the co-nation predicate (c_nationkey = s_nationkey) rides the "
    "customer join. Exercises Catalyst join reordering + multi-level "
    "broadcast under AQE.",
    tags=("relational", "join", "agg"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(F.floor(rev * 100).cast("long")).alias("revenue_cents"))
    )


@query(
    "q_percentile",
    """
    SELECT l_returnflag,
           CAST(floor(quantile_cont(l_extendedprice, 0.5) * 100) AS BIGINT)
               AS p50_cents,
           CAST(floor(quantile_cont(l_extendedprice, 0.95) * 100) AS BIGINT)
               AS p95_cents
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact grouped percentiles (type-7 linear interpolation — Spark's "
    "percentile() and DuckDB's quantile_cont() agree bit-for-bit). Exact "
    "percentile is a full-sort-per-group aggregate; at 100 TB swap in "
    "approx_percentile (t-digest sketch, mergeable, one pass, bounded "
    "memory) — same query shape, no sort.",
    tags=("relational", "agg"),
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.floor(F.expr("percentile(l_extendedprice, 0.5)") * 100)
        .cast("long")
        .alias("p50_cents"),
        F.floor(F.expr("percentile(l_extendedprice, 0.95)") * 100)
        .cast("long")
        .alias("p95_cents"),
    )


@query(
    "q_approx_count_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events,
           TRUE AS hll_within_5pct
    FROM events GROUP BY event_type
    """,
    doc="HLL++ distinct users per event type — the 100 TB form of "
    "q_count_distinct: fixed-size mergeable sketches, one pass, no "
    "per-key exact dedup shuffle. The sketch estimate itself is "
    "engine-specific, so the certified output is the exact count plus a "
    "Spark-computed tolerance verdict (|est-exact| <= max(1, 5% exact)); "
    "the oracle emits the exact values and literal TRUE — a hash match "
    "genuinely certifies the tolerance claim cross-engine. "
    "tests/test_approx.py additionally pins the raw estimate.",
    tags=("relational", "agg", "approx"),
    extra=True,
)
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same split-frame shape as q_approx_aggs (round 13): keeping the
    # HLL out of the Expand'd distinct aggregation avoids one sketch
    # buffer per distinct user — 2.71 -> 1.10 s med at sf0.1, A/B.
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )
    # NULL-SAFE key, same reason as q_approx_aggs (a NULL event_type
    # group must survive the join).
    sk = ev.groupBy(F.col("event_type").alias("_et")).agg(
        F.approx_count_distinct("user_id", 0.01).alias("_est")
    )
    return exact.join(
        sk, F.col("event_type").eqNullSafe(F.col("_et"))
    ).select(
        "event_type",
        "n_users",
        "n_events",
        (
            F.abs(F.col("_est") - F.col("n_users"))
            <= F.greatest(F.lit(1.0), F.col("n_users").cast("double") * 0.05)
        ).alias("hll_within_5pct"),
    )


@query(
    "q_approx_percentile",
    """
    SELECT l_returnflag,
           CAST(floor(quantile_cont(l_extendedprice, 0.5) * 100) AS BIGINT)
               AS p50_cents,
           CAST(floor(quantile_cont(l_extendedprice, 0.95) * 100) AS BIGINT)
               AS p95_cents,
           TRUE AS p50_within_1pct,
           TRUE AS p95_within_1pct
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="approx_percentile (GK/t-digest-style sketch) per return flag — "
    "the 100 TB form of q_percentile: mergeable, bounded memory, no "
    "per-group sort. Certified output: the exact percentiles (cents, "
    "same bit-deterministic form as q_percentile) plus Spark-computed "
    "tolerance verdicts (|approx-exact| <= 1% exact); the oracle emits "
    "the exact values and literal TRUE, so the driver hash certifies "
    "the sketch-accuracy claim cross-engine.",
    tags=("relational", "agg", "approx"),
    extra=True,
)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    approx = F.expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)")
    e50 = F.expr("percentile(l_extendedprice, 0.5)")
    e95 = F.expr("percentile(l_extendedprice, 0.95)")
    return li.groupBy("l_returnflag").agg(
        F.floor(e50 * 100).cast("long").alias("p50_cents"),
        F.floor(e95 * 100).cast("long").alias("p95_cents"),
        (F.abs(approx[0] - e50) <= e50 * 0.01).alias("p50_within_1pct"),
        (F.abs(approx[1] - e95) <= e95 * 0.01).alias("p95_within_1pct"),
    )


@query(
    "q_time_rollup",
    """
    SELECT coalesce(strftime(ts, '%Y-%m-%d'), '<all>') AS day,
           coalesce(strftime(ts, '%H'), '<all>') AS hour,
           CAST(GROUPING(strftime(ts, '%Y-%m-%d')) * 2
                + GROUPING(strftime(ts, '%H')) AS BIGINT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY ROLLUP (strftime(ts, '%Y-%m-%d'), strftime(ts, '%H'))
    """,
    doc="Hypertable-style continuous-aggregate hierarchy: one ROLLUP pass "
    "produces the hour grain, its day summaries, and the global total "
    "(grouping_id marks the level) — what a time-series store "
    "materializes as cascaded continuous aggregates. Spark computes all "
    "levels in one shuffle with partial aggregation; at 100 TB the "
    "hour-grain output is itself the incremental-refresh input for "
    "coarser grains.",
    tags=("relational", "agg", "window"),
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    hour = F.date_format("ts", "HH")
    return (
        ev.rollup(day.alias("d"), hour.alias("h"))
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.coalesce("d", F.lit("<all>")).alias("day"),
            F.coalesce("h", F.lit("<all>")).alias("hour"),
            "gid",
            "n",
            "value_cents",
            "n_users",
        )
    )


# ---------------------------------------------------------------------------
# Merged certification queries: tagged unions that keep several operators
# driver-certified in one registry slot each (the driver certifies at most
# 50 queries per round; the merged components stay registered as extras,
# pinned by tests/test_oracle_extras.py).
# ---------------------------------------------------------------------------


@query(
    "q_set_ops",
    """
    SELECT 'intersect' AS op, partkey FROM (
        SELECT l_partkey AS partkey FROM lineitem WHERE l_returnflag = 'R'
        INTERSECT
        SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A')
    UNION ALL
    SELECT 'except' AS op, partkey FROM (
        SELECT p_partkey AS partkey FROM part
        EXCEPT
        SELECT l_partkey FROM lineitem WHERE l_quantity >= 48)
    """,
    doc="INTERSECT + EXCEPT certified in one result (tagged union): "
    "part keys returned under both 'R' and 'A' flags, and parts never "
    "shipped in quantity >=48 (the filter keeps the except side "
    "non-empty at every SF). Both set ops hash-shuffle on the full row "
    "with partial distinct map-side — |distinct| exchange, same scale "
    "shape as an aggregate.",
    tags=("relational", "setop"),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter = q_intersect(spark, sf_dir).select(
        F.lit("intersect").alias("op"), "partkey"
    )
    exc = q_except(spark, sf_dir).select(F.lit("except").alias("op"), "partkey")
    return inter.unionByName(exc)


@query(
    "q_grouping_sets",
    """
    SELECT 'rollup' AS op,
           coalesce(l_returnflag, '<all>') AS k1,
           coalesce(l_linestatus, '<all>') AS k2,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube' AS op,
           coalesce(o_orderstatus, '<all>') AS k1,
           coalesce(o_orderpriority, '<all>') AS k2,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP + CUBE grouping sets certified in one result (tagged "
    "union, generic k1/k2 key columns): the lineitem flag/status rollup "
    "and the orders status/priority cube, each with grouping_id "
    "disambiguation and NULLs coalesced to a sentinel. One expanded "
    "aggregate per side — Spark computes all grouping sets in a single "
    "shuffle with partial aggregation.",
    tags=("relational", "agg"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    roll = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().cast("long").alias("gid"), F.count("*").alias("n"))
        .select(
            F.lit("rollup").alias("op"),
            F.coalesce("l_returnflag", F.lit("<all>")).alias("k1"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("k2"),
            "gid",
            "n",
        )
    )
    cub = (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.grouping_id().cast("long").alias("gid"), F.count("*").alias("n"))
        .select(
            F.lit("cube").alias("op"),
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("k1"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("k2"),
            "gid",
            "n",
        )
    )
    return roll.unionByName(cub)


@query(
    "q_semi_anti",
    """
    SELECT 'semi' AS op, c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')
    UNION ALL
    SELECT 'anti' AS op, c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00')
    """,
    doc="Left-semi + left-anti joins certified in one result (tagged "
    "union): customers with a recent order, and customers with no order "
    "since 1997-07-01 (both date-filtered so neither side is vacuous). "
    "Semi/anti ship only probe-side columns — no fact duplication at "
    "scale; both broadcast the filtered orders key set under AQE.",
    tags=("relational", "join"),
)
def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    semi = q_semi_join(spark, sf_dir).select(
        F.lit("semi").alias("op"), "c_custkey", "c_name"
    )
    anti = q_anti_join(spark, sf_dir).select(
        F.lit("anti").alias("op"), "c_custkey", "c_name"
    )
    return semi.unionByName(anti)


@query(
    "q_approx_aggs",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events,
           TRUE AS hll_within_5pct,
           TRUE AS p50_within_1pct,
           TRUE AS p95_within_1pct
    FROM events GROUP BY event_type
    """,
    doc="Approximate aggregates in one pass per event type: HLL++ "
    "distinct users (approx_count_distinct, fixed-size mergeable "
    "sketch) and GK-sketch value percentiles (approx_percentile) — the "
    "100 TB forms of q_count_distinct / q_percentile: one scan, bounded "
    "memory, no per-key exact shuffle or per-group sort. Sketch "
    "estimates are engine-specific, so the certified output is the "
    "exact aggregates plus Spark-computed tolerance verdicts "
    "(estimate-vs-exact, both computed Spark-side); the oracle emits "
    "the exact values and literal TRUE — the driver hash genuinely "
    "certifies the tolerance claim cross-engine (round-3 verdict "
    "task 3). The percentile verdicts are RANK-space (estimate inside "
    "the exact ±0.01-quantile band) — that is what GK actually "
    "guarantees; a value-relative band is ill-posed in sparse tails, "
    "where one rank step can exceed any fixed percentage of the value "
    "(observed at sf0.001: the p95 neighbor gap is >1% of p95). "
    "tests/test_approx.py pins the raw estimates too.",
    tags=("relational", "agg", "approx"),
)
def q_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 13: the DISTINCT aggregate is computed in its own subframe
    # and joined back on event_type. Mixing countDistinct with the
    # sketch aggregates planned an Expand whose partial aggregation is
    # keyed on (event_type, user_id, gid) — ONE HLL + GK + percentile
    # buffer PER DISTINCT USER instead of per group (~100k sketch
    # buffers at sf0.1); measured 6.10 -> 0.95 s med (interleaved A/B,
    # results row-identical; the group-count join is broadcast-sized
    # by construction — |event_type| rows).
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    approx_p = F.expr("approx_percentile(value, array(0.5, 0.95), 10000)")
    # exact interpolated quantiles at q ± 0.01: with accuracy 10000 the GK
    # rank error is n/10000 ranks, far inside the ±0.01·n band for any
    # fixture n, and the band additionally absorbs the one-rank
    # discretization between the sketch's discrete element and the
    # interpolated exact percentile (needs n >= ~100 per group; smallest
    # fixture group is 199 at sf0.001)
    bands = F.expr("percentile(value, array(0.49, 0.51, 0.94, 0.96))")
    # NULL-SAFE join key: a NULL event_type is a legitimate GROUP (both
    # engines emit it), but an equi-join on the column would drop it
    # (NULL != NULL) — caught by the null-corpus pytest sweep when this
    # split-frame form landed.
    sk = ev.groupBy(F.col("event_type").alias("_et")).agg(
        F.count("*").alias("n_events"),
        F.approx_count_distinct("user_id", 0.01).alias("_est_users"),
        approx_p.alias("_ap"),
        bands.alias("_bands"),
    )
    return exact.join(
        sk, F.col("event_type").eqNullSafe(F.col("_et"))
    ).select(
        "event_type",
        "n_users",
        "n_events",
        (
            F.abs(F.col("_est_users") - F.col("n_users"))
            <= F.greatest(F.lit(1.0), F.col("n_users").cast("double") * 0.05)
        ).alias("hll_within_5pct"),
        (F.col("_ap")[0].between(F.col("_bands")[0], F.col("_bands")[1])).alias(
            "p50_within_1pct"
        ),
        (F.col("_ap")[1].between(F.col("_bands")[2], F.col("_bands")[3])).alias(
            "p95_within_1pct"
        ),
    )


@query(
    "q_sketch_rollup",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_partials,
           TRUE AS est_within_5pct
    FROM events WHERE ts IS NOT NULL GROUP BY event_type
    """,
    doc="Two-level mergeable-sketch rollup (DataSketches HLL): partial "
    "sketches per (event_type, day) are hll_union_agg'd into per-type "
    "distinct-user estimates. This is the 100 TB continuous-aggregate "
    "maintenance pattern: fixed-size partial sketches are stored per "
    "partition/day as data, new days re-aggregate only their own "
    "partition, and any coarser grain (type, month, global) is a cheap "
    "union of stored sketches — no re-scan of history, unlike exact "
    "count-distinct whose partials are unbounded key sets. Certified "
    "output: exact per-type distinct users + partial count, plus a "
    "Spark-computed tolerance verdict on the merged-sketch estimate "
    "(sketch bytes stay engine-internal); the oracle emits the exact "
    "values and literal TRUE. tests/test_approx.py additionally pins "
    "two-level == one-level (merge loses nothing).",
    tags=("relational", "agg", "approx", "incremental"),
    extra=True,
)
def q_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts IS NOT NULL: partials are per-DAY sketches, and an event with
    # no day belongs to no partial (count(DISTINCT day) would also drop
    # the NULL day oracle-side while Spark's groupBy kept the group)
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    partials = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sketch"))
    merged = partials.groupBy("event_type").agg(
        F.expr("CAST(hll_sketch_estimate(hll_union_agg(sketch)) AS BIGINT)").alias(
            "n_users_est"
        ),
        F.count("*").alias("n_partials"),
    )
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))
    # |event_type| is tiny — broadcast the exact side onto the merged
    # side. eqNullSafe: both aggregates keep a NULL event_type group,
    # and a plain equi-join would silently DROP it (NULL != NULL) —
    # the classic lost-null-group bug in rollup-vs-rollup joins.
    return merged.join(
        F.broadcast(exact),
        merged.event_type.eqNullSafe(exact.event_type),
    ).select(
        merged.event_type.alias("event_type"),
        "n_users",
        "n_partials",
        (
            F.abs(F.col("n_users_est") - F.col("n_users"))
            <= F.greatest(F.lit(1.0), F.col("n_users").cast("double") * 0.05)
        ).alias("est_within_5pct"),
    )


@query(
    "q_window_suite",
    """
    SELECT o_orderkey, o_orderpriority,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS prank_ppm,
           CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cume_ppm
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
    doc="Ranking-window suite: ntile / percent_rank / cume_dist in one "
    "windowed pass (unique (price, orderkey) ordering so every rank is "
    "deterministic; ratio outputs ppm-floored — (rank-1)/(n-1) on "
    "identical ints is bit-identical cross-engine). One shuffle on the "
    "partition key, same scale shape as q_rank_topn_per_group. Extra: "
    "certified by the pytest oracle gate.",
    tags=("relational", "window"),
    extra=True,
)
def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.floor(F.percent_rank().over(w) * 1_000_000).cast("long").alias("prank_ppm"),
        F.floor(F.cume_dist().over(w) * 1_000_000).cast("long").alias("cume_ppm"),
    )


@query(
    "q_moving_window",
    """
    SELECT event_id, user_id,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT)
               AS sum_cents_10m,
           CAST(count(*) OVER w AS BIGINT) AS n_10m,
           CAST(floor(CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT)
                * 1.0 / count(*) OVER w) AS BIGINT) AS avg_cents_10m
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
    """,
    doc="Time-range moving aggregate: per event, the same user's 10-min "
    "trailing sum/count/avg via a RANGE frame over event-time "
    "microseconds — the continuous per-entity rolling metric a "
    "monitoring pipeline computes (vs q_window_sliding's global grid "
    "windows). Exact-integer frame outputs (cents sum, count); the "
    "average is floor(sum*1.0/count) on BOTH engines — never Spark div "
    "vs DuckDB //, which disagree on negatives (truncate vs floor). One "
    "shuffle on user_id; frame state per partition is bounded by the "
    "range horizon. Extra: certified by the pytest oracle gate.",
    tags=("relational", "window"),
    extra=True,
)
def q_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    cents = F.floor(F.col("value") * 100).cast("long")
    s = F.sum(cents).over(w).cast("long")
    n = F.count(F.lit(1)).over(w).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        s.alias("sum_cents_10m"),
        n.alias("n_10m"),
        F.floor(s * 1.0 / n).cast("long").alias("avg_cents_10m"),
    )


@query(
    "q_json_typed",
    """
    SELECT event_id,
           CAST(json_extract_string(props, 'k') AS BIGINT) AS k,
           CAST(CAST(json_extract_string(props, 'k') AS BIGINT) % 10 AS BIGINT)
               AS k_bucket,
           CASE WHEN json_extract_string(props, 'k') IS NULL
                THEN 0 ELSE 1 END AS valid
    FROM events
    """,
    doc="Typed JSON extraction (P11 family): parse the semi-structured "
    "props payload into typed columns + a validity flag — the "
    "schema-on-read step every event pipeline fronts with. Pure "
    "codegen'd path extraction (get_json_object), no shuffle; at scale "
    "prefer from_json with an explicit schema so Catalyst prunes "
    "unused JSON fields at the scan. Extra: certified by the pytest "
    "oracle gate.",
    tags=("relational", "transform", "json"),
    extra=True,
)
def q_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(
        "event_id",
        k.alias("k"),
        (k % 10).cast("long").alias("k_bucket"),
        F.when(k.isNull(), 0).otherwise(1).cast("int").alias("valid"),
    )


@query(
    "q_subqueries",
    """
    SELECT o.o_orderkey,
           CAST(floor(o.o_totalprice * 100) AS BIGINT) AS price_cents,
           CASE WHEN o.o_totalprice >
                     (SELECT avg(o_totalprice) FROM orders) THEN 1 ELSE 0
           END AS above_avg,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE l.l_orderkey = o.o_orderkey) AS BIGINT) AS n_lines
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    """,
    doc="Scalar + correlated subqueries: a scalar aggregate subquery "
    "(global average price, computed once and broadcast as a literal) "
    "and a correlated count subquery that Catalyst decorrelates into a "
    "left outer aggregate join on o_orderkey — the rewrite that makes "
    "per-row subqueries scale (one shuffle join, never a per-row "
    "re-scan). The avg comparison stays a flag (not an output value) "
    "so cross-engine double drift in avg() can't leak into the hash; "
    "the synthetic prices make the flag itself drift-safe. Extra: "
    "certified by the pytest oracle gate.",
    tags=("relational", "subquery"),
    extra=True,
)
def q_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o.createOrReplaceTempView("sq_orders")
    li.createOrReplaceTempView("sq_lineitem")
    return o.sparkSession.sql(
        """
        SELECT o.o_orderkey,
               CAST(floor(o.o_totalprice * 100) AS BIGINT) AS price_cents,
               CASE WHEN o.o_totalprice >
                         (SELECT avg(o_totalprice) FROM sq_orders) THEN 1 ELSE 0
               END AS above_avg,
               (SELECT count(*) FROM sq_lineitem l
                WHERE l.l_orderkey = o.o_orderkey) AS n_lines
        FROM sq_orders o
        WHERE o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        """
    )


@query(
    "q_histogram",
    """
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                     WHEN o_totalprice >= 600000 THEN 25
                     ELSE floor(o_totalprice / 25000.0) + 1 END AS BIGINT)
               AS bucket,
           count(*) AS n,
           CAST(min(floor(o_totalprice * 100)) AS BIGINT) AS min_cents,
           CAST(max(floor(o_totalprice * 100)) AS BIGINT) AS max_cents
    FROM orders GROUP BY 1
    """,
    doc="Value-distribution histogram: order totals binned into 24 "
    "fixed-width [0, 600000) buckets (+ the two SQL-standard overflow "
    "buckets 0/25) with per-bucket count/min/max — the distribution "
    "profile behind skew diagnosis and quality monitoring. The "
    "width_bucket formula is spelled out identically on both engines "
    "(floor(x / width) + 1 with edge guards; DuckDB 1.0 has no "
    "width_bucket builtin, and Spark's builtin divides in a different "
    "order — same-expression-both-sides is the only drift-proof form). "
    "One combinable aggregate, |buckets|-row output. Extra: certified "
    "by the pytest oracle gate.",
    tags=("relational", "agg", "profile"),
    extra=True,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 0, 0)
        .when(F.col("o_totalprice") >= 600000, 25)
        .otherwise(F.floor(F.col("o_totalprice") / 25000.0) + 1)
    )
    return (
        o.groupBy(bucket.cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min(F.floor(F.col("o_totalprice") * 100)).cast("long").alias("min_cents"),
            F.max(F.floor(F.col("o_totalprice") * 100)).cast("long").alias("max_cents"),
        )
    )


# MERGE key shift: events carry user_id 0..(U-1); anchoring the feed at
# max(c_custkey) - U/3 makes the change feed straddle the top of the
# snapshot's key space at EVERY scale factor — the first ~third of the
# feed updates existing keys (or deletes, when the latest event is the
# 'error' tombstone) and the rest inserts past the end. The shift is a
# 1-row aggregate over the two tables (broadcast in Spark, scalar CTE in
# the oracle), never a hard-coded fixture size.


@query(
    "q_merge_upsert",
    """
    WITH shift AS (
        SELECT max(c_custkey)
               - (SELECT count(DISTINCT user_id) FROM events) // 3 AS s
        FROM customer
    ),
    latest AS (
        SELECT user_id + shift.s AS key,
               event_type,
               CAST(floor(value * 100) AS BIGINT) AS new_cents
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM events
        ) CROSS JOIN shift WHERE rn = 1
    ),
    merged AS (
        SELECT coalesce(l.key, c.c_custkey) AS key,
               CASE
                   WHEN l.key IS NOT NULL AND c.c_custkey IS NOT NULL
                        AND l.event_type = 'error' THEN 'delete'
                   WHEN l.key IS NOT NULL AND c.c_custkey IS NOT NULL
                       THEN 'update'
                   WHEN l.key IS NOT NULL THEN 'insert'
                   ELSE 'keep'
               END AS op,
               CASE WHEN l.key IS NOT NULL THEN l.new_cents
                    ELSE CAST(floor(c.c_acctbal * 100) AS BIGINT)
               END AS acctbal_cents,
               coalesce(c.c_name, 'new-' || CAST(l.key AS VARCHAR)) AS name
        FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.key
    )
    SELECT key, op, name, acctbal_cents FROM merged WHERE op <> 'delete'
    """,
    doc="Batch MERGE / upsert (SCD-1 dimension maintenance without a "
    "table format): a change feed — the LATEST event per key, "
    "row_number-deduplicated with a full (ts, event_id) tie-break — is "
    "applied to the customer snapshot through ONE full outer join: "
    "matched rows update (or delete, when the latest event is the "
    "'error' tombstone type), unmatched feed rows insert, unmatched "
    "snapshot rows carry over. This is the nightly-dim-refresh shape "
    "warehouses run as MERGE INTO; on plain parquet the rewritten "
    "snapshot is the new table version. Spark supports no broadcast for "
    "FULL OUTER (hint is rejected, SMJ shuffles the full-width snapshot "
    "— the naive form), so the plan is the two-sided broadcast-merge "
    "decomposition: a LEFT join with the feed BROADCAST handles "
    "update/delete/keep with ZERO snapshot movement, and inserts come "
    "from a LEFT ANTI of the feed against the snapshot's KEY COLUMN "
    "only — the single shuffle moves 8-byte keys, not rows. The "
    "change-feed dedup is a per-key window whose sort is bounded by one "
    "key's events. The feed broadcast is SIZE-GUARDED, not forced: the "
    "hint applies only while the events scan behind the feed totals "
    "<= FEED_BROADCAST_MAX_SRC_BYTES (a daily dim feed; the post-dedup "
    "feed is strictly smaller than its source), and DEGRADES to an "
    "unhinted join beyond it — a month-long catch-up replay or a 100x "
    "key space would otherwise push a driver-side build of |active "
    "keys| rows; unhinted, AQE still broadcasts at runtime when the "
    "deduped feed actually fits, and falls back to a shuffle join when "
    "it does not. Reference contrast: its only state evolution was "
    "overwrite-by-directory (src/ProcessSums.scala:237-331); this gives "
    "its users keyed row-level upsert semantics. Extra: certified by "
    "the pytest oracle gate.",
    tags=("relational", "join", "pipeline"),
    extra=True,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    # feed-fits guard (see docstring): probe the source scan's file
    # bytes — no job, no planning pass — and only hint broadcast under
    # the cap; None (non-file / remote FS) is treated as "assume big"
    src_bytes = input_bytes(ev)
    feed_fits = src_bytes is not None and src_bytes <= FEED_BROADCAST_MAX_SRC_BYTES
    shift = (
        c.agg(F.max("c_custkey").alias("mx"))
        .crossJoin(F.broadcast(ev.agg(F.countDistinct("user_id").alias("u"))))
        .select(F.expr("mx - u div 3").alias("s"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .crossJoin(F.broadcast(shift))
        .select(
            (F.col("user_id") + F.col("s")).alias("key"),
            "event_type",
            _cents("value").alias("new_cents"),
        )
    )
    upd = (
        c.join(
            F.broadcast(latest) if feed_fits else latest,
            c.c_custkey == latest.key,
            "left",
        )
        .select(
            c.c_custkey.alias("key"),
            F.when(
                latest.key.isNotNull() & (F.col("event_type") == "error"),
                "delete",
            )
            .when(latest.key.isNotNull(), "update")
            .otherwise("keep")
            .alias("op"),
            F.col("c_name").alias("name"),
            F.when(latest.key.isNotNull(), F.col("new_cents"))
            .otherwise(_cents("c_acctbal"))
            .alias("acctbal_cents"),
        )
        .filter(F.col("op") != "delete")
    )
    ins = latest.join(
        c.select("c_custkey"), latest.key == F.col("c_custkey"), "left_anti"
    ).select(
        "key",
        F.lit("insert").alias("op"),
        F.concat(F.lit("new-"), F.col("key").cast("string")).alias("name"),
        F.col("new_cents").alias("acctbal_cents"),
    )
    return upd.unionByName(ins).select("key", "op", "name", "acctbal_cents")


# ---------------------------------------------------------------------------
# Anomaly detection (population z-score, exact integer arithmetic)
# ---------------------------------------------------------------------------

# Flag events whose value deviates from the per-type mean by more than
# Z_NUM/Z_DEN population standard deviations. 1.5 sigma (not the
# production-usual 3) because the fixture's value distribution is
# uniform: |z| never exceeds sqrt(3) ~ 1.73 on uniform data, so a
# 3-sigma gate would certify an always-empty result. The threshold is a
# constant; the SHAPE (one combinable moment aggregate + broadcast
# join-back + per-row integer test) is what scales.
Z_NUM, Z_DEN = 3, 2


@query(
    "q_anomaly_zscore",
    f"""
    WITH ev AS (
        SELECT event_id, event_type,
               {_CENTS.format(col='value')} AS cents
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    stats AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s,
               CAST(sum(cents * cents) AS BIGINT) AS ss
        FROM ev GROUP BY event_type
    ),
    m AS (
        SELECT event_type,
               s // n AS mean_c,
               (ss // n) - (s // n) * (s // n) AS var_cc
        FROM stats
    )
    SELECT e.event_id, e.event_type, e.cents,
           e.cents - m.mean_c AS dev_c,
           ((e.cents - m.mean_c) * (e.cents - m.mean_c) * 1000000)
               // m.var_cc AS z2_ppm
    FROM ev e JOIN m ON m.event_type = e.event_type
    WHERE m.var_cc > 0
      AND {Z_DEN * Z_DEN} * (e.cents - m.mean_c) * (e.cents - m.mean_c)
            > {Z_NUM * Z_NUM} * m.var_cc
    """,
    doc="Per-event-type z-score anomaly flags, exact-integer variant: "
    "value -> cents (floor x100, bit-deterministic on identical "
    "doubles), per-type moments n / sum / sum-of-squares in one "
    "combinable aggregate, then mean_c = s div n and var_cc = "
    "(ss div n) - mean_c^2 via FLOORED integer division (the floored-"
    "moment z^2 test: both engines floor identically, so the flag "
    "cannot drift at a boundary the way float sqrt/stddev can), and "
    "flag = DEN^2*dev^2 > NUM^2*var_cc, i.e. |z| > 1.5 cross-"
    "multiplied so no division appears in the predicate at all. "
    "z2_ppm reports the squared z-score in ppm for ranking. "
    "100 TB shape: the moment aggregate is map-side combinable on a "
    "low-cardinality key (event types, not rows or users — the stats "
    "frame stays KB-sized at any corpus scale, hence the broadcast "
    "join-back), the per-row test is pure codegen, and nothing else "
    "shuffles. Magnitude bound: cents <= ~5e4 so cents^2 <= 2.5e9; "
    "ss stays in BIGINT up to ~3e9 rows per type — beyond that, cast "
    "the two sums to DECIMAL(38,0) (the comparison itself never "
    "exceeds 9 * var_cc <= ~2.2e10). Extra: certified by the pytest "
    "oracle gate.",
    tags=("events", "analytics"),
    extra=True,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_id",
            "event_type",
            _cents("value").alias("cents"),
        )
    )
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )
    m = stats.select(
        "event_type",
        F.expr("s div n").alias("mean_c"),
        F.expr("(ss div n) - (s div n) * (s div n)").alias("var_cc"),
    )
    dev = F.col("cents") - F.col("mean_c")
    return (
        ev.join(F.broadcast(m), "event_type")
        .filter(
            (F.col("var_cc") > 0)
            & (F.lit(Z_DEN * Z_DEN) * dev * dev > F.lit(Z_NUM * Z_NUM) * F.col("var_cc"))
        )
        .select(
            "event_id",
            "event_type",
            "cents",
            dev.alias("dev_c"),
            F.expr(
                "((cents - mean_c) * (cents - mean_c) * 1000000) div var_cc"
            ).alias("z2_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Portable Bloom-gated join pruning
# ---------------------------------------------------------------------------

from sparkstreamingflume_spark.functions.bloom import (  # noqa: E402
    BF_BITS,
    BF_K,
    BF_WORD_BITS,
    BF_WORDS,
    bloom_member,
    bloom_member_sql,
    bloom_positions,
    bloom_positions_sql,
)

BF_SEGMENT = "BUILDING"


def _bloom_oracle() -> str:
    build_pos = bloom_positions_sql("k")
    probe_pos = bloom_positions_sql("k")
    pos_cols = ", ".join(
        f"{p} AS pos{i}" for i, p in enumerate(probe_pos)
    )
    member = " AND ".join(
        bloom_member_sql("bf.bf", f"pos{i}") for i in range(BF_K)
    )
    return f"""
    WITH keys AS (
        SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k
        FROM customer
        WHERE c_mktsegment = '{BF_SEGMENT}' AND c_custkey IS NOT NULL
    ),
    bits AS (
        SELECT unnest([{', '.join(build_pos)}]) AS pos FROM keys
    ),
    words AS (
        SELECT pos // {BF_WORD_BITS} AS word,
               bit_or(1::BIGINT << CAST(pos % {BF_WORD_BITS} AS INT)) AS w
        FROM bits GROUP BY 1
    ),
    bf AS (
        SELECT list(COALESCE(w, 0) ORDER BY t.word) AS bf
        FROM range({BF_WORDS}) AS t(word)
        LEFT JOIN words ON t.word = words.word
    ),
    probe0 AS (
        SELECT o_orderpriority, CAST(o_custkey AS VARCHAR) AS k FROM orders
    ),
    probe AS (
        SELECT o_orderpriority, k, {pos_cols} FROM probe0
    ),
    flagged AS (
        SELECT p.o_orderpriority,
               COALESCE({member}, FALSE) AS bp,
               (keys.k IS NOT NULL) AS tm
        FROM probe p
        CROSS JOIN bf
        LEFT JOIN keys ON p.k = keys.k
    ),
    agg AS (
        SELECT o_orderpriority,
               count(*) AS n_orders,
               sum(CASE WHEN bp THEN 1 ELSE 0 END) AS n_bloom_pass,
               sum(CASE WHEN tm THEN 1 ELSE 0 END) AS n_true,
               sum(CASE WHEN bp AND NOT tm THEN 1 ELSE 0 END)
                   AS n_false_pos,
               sum(CASE WHEN tm AND NOT bp THEN 1 ELSE 0 END) AS n_missed
        FROM flagged GROUP BY 1
    )
    SELECT o_orderpriority,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(n_bloom_pass AS BIGINT) AS n_bloom_pass,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_false_pos AS BIGINT) AS n_false_pos,
           CAST(n_missed AS BIGINT) AS n_missed,
           CAST(CASE WHEN n_orders - n_true > 0
                     THEN n_false_pos * 1000000 // (n_orders - n_true)
                     ELSE 0 END AS BIGINT) AS fp_ppm
    FROM agg
    """


@query(
    "q_bloom_filter_join",
    _bloom_oracle(),
    doc="Bloom-gated join pruning with a CERTIFIED false-positive rate "
    "(functions/bloom.py; Bloom 1970): build a portable bitmap over "
    "the selective dim side's join keys (customers in one segment), "
    "evaluate all K membership bits on the fact side as pure "
    "expressions against ONE broadcast dense-word row, and emit per "
    "order priority the pass/true/false-positive/missed counts — "
    "n_missed is the no-false-negative invariant (must be 0) and "
    "fp_ppm the measured error, both oracle-hash-certified because "
    "the bit positions derive from the cross-engine h32 primitive. "
    "This is the portable twin of Spark's engine-internal runtime "
    "bloom filter (injected by AQE for shuffle pruning): the shape a "
    "100 TB fact-dim join wants — the fact side is scanned ONCE with "
    "zero pre-join shuffle (the final groupBy is map-side "
    "combinable), the filter build is one combinable BIT_OR agg onto "
    "<= ceil(BF_BITS/63) words regardless of dim cardinality, and "
    "the dense row (built over a fixed range frame so an EMPTY dim "
    "still yields one all-zero row) broadcasts at O(BF_BITS) bytes. "
    "BF_BITS = 2048 is fixture-sized so the certified fp_ppm is "
    "nonzero and visible; scaling it to the dim cardinality changes "
    "no shape. NULL custkeys are non-members on both sides "
    "(coalesce FALSE / join-miss). Extra: certified by the pytest "
    "oracle gate.",
    tags=("relational", "join", "sketch"),
    extra=True,
)
def q_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = (
        load_table(spark, sf_dir, "customer")
        .filter(
            (F.col("c_mktsegment") == BF_SEGMENT)
            & F.col("c_custkey").isNotNull()
        )
        .select(F.col("c_custkey").cast("string").alias("k"))
        .distinct()
    )
    bits = keys.select(
        F.explode(F.array(*bloom_positions(F.col("k")))).alias("pos")
    )
    words = bits.groupBy(
        F.expr(f"pos DIV {BF_WORD_BITS}").alias("word")
    ).agg(
        F.expr(
            f"bit_or(shiftleft(CAST(1 AS BIGINT),"
            f" CAST(pos % {BF_WORD_BITS} AS INT)))"
        ).alias("w")
    )
    bf_row = (
        spark.range(BF_WORDS)
        .select(F.col("id").alias("word"))
        .join(words, "word", "left")
        .select("word", F.coalesce("w", F.lit(0)).cast("long").alias("w"))
        .agg(
            # a struct is never null: sort_array's native ordering, no
            # per-comparison lambda (array_sort's default comparator)
            F.expr(
                "transform(sort_array(collect_list(struct(word, w))),"
                " s -> s.w)"
            ).alias("bf")
        )
    )
    probe = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_custkey").cast("string").alias("k")
    )
    pr = probe.select(
        "o_orderpriority", "k", *bloom_positions(F.col("k"))
    ).crossJoin(F.broadcast(bf_row))
    member = bloom_member("bf", "pos0")
    for i in range(1, BF_K):
        member = member & bloom_member("bf", f"pos{i}")
    flagged = (
        pr.select(
            "o_orderpriority",
            "k",
            F.coalesce(member, F.lit(False)).alias("bp"),
        )
        .join(
            F.broadcast(keys.withColumn("t", F.lit(True))), "k", "left"
        )
        .select(
            "o_orderpriority", "bp", F.coalesce("t", F.lit(False)).alias("tm")
        )
    )
    agg = flagged.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("bp"), 1).otherwise(0)).alias("n_bloom_pass"),
        F.sum(F.when(F.col("tm"), 1).otherwise(0)).alias("n_true"),
        F.sum(F.when(F.col("bp") & ~F.col("tm"), 1).otherwise(0)).alias(
            "n_false_pos"
        ),
        F.sum(F.when(F.col("tm") & ~F.col("bp"), 1).otherwise(0)).alias(
            "n_missed"
        ),
    )
    return agg.select(
        "o_orderpriority",
        "n_orders",
        "n_bloom_pass",
        "n_true",
        "n_false_pos",
        "n_missed",
        F.expr(
            "CAST(CASE WHEN n_orders - n_true > 0"
            " THEN n_false_pos * 1000000 DIV (n_orders - n_true)"
            " ELSE 0 END AS BIGINT)"
        ).alias("fp_ppm"),
    )
