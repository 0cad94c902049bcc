"""The batch ingest transform (streaming/pipeline.py), fast profile.

``routed_pipeline_dual`` is the one production path: it runs inside
every micro-batch of the file-drop pipeline and of the ``ingest``
benchmark. Its reference is the composable chain — ``route``, then per
record type ``conform → mask → enrich``, then union — which re-splits
the line at every stage but states each step on its own. The streamed,
socket and restart tests live in tests/test_streaming.py (``slow``).
"""

from __future__ import annotations

import hashlib
from collections import Counter
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkstreamingflume_spark.schemas import RECORD_TYPES
from sparkstreamingflume_spark.streaming import pipeline


def make_line(prefix: str, i: int) -> str:
    rt = RECORD_TYPES[prefix]
    fields = [f"x{j}" for j in range(rt.n_fields)]
    fields[0] = prefix + f"rec{i}"
    fields[rt.start_time_idx] = f"2024-01-0{1 + i % 9} 10:00:0{i % 10}"
    for p in rt.phone_idx:
        fields[p] = f"1380000{i:04d}"
    fields[rt.lac_idx] = f"L{i % 5}"
    fields[rt.ci_idx] = f"C{i % 3}"
    return rt.sep.join(fields)


def corpus(n_per_type: int = 20) -> list[str]:
    out = []
    for prefix in sorted(RECORD_TYPES):
        out += [make_line(prefix, i) for i in range(n_per_type)]
    out += [f"60raw{i}" for i in range(5)]  # archive-only prefix
    out += [f"99junk{i}" for i in range(3)]  # unknown -> dead letter
    return out


def crlf_corpus() -> list[str]:
    """Records that arrive with a trailing CR, two of them with an empty
    last field so the raw line ends ``,\\r`` — the shape that mis-split
    under the old Java-regex ``$`` trailing-separator strip."""
    lines = [make_line("61", i) for i in range(8)]
    for k in (2, 5):
        fields = lines[k].split(",")
        fields[-1] = ""
        lines[k] = ",".join(fields)
    return [ln + "\r" for ln in lines]


@pytest.fixture(scope="module")
def lookup(spark):
    # keys cover lac L0..L4 x ci C0..C2 minus a few -> inner join drops some
    rows = [
        (f"L{a},C{b}", f"label{a}{b}")
        for a in range(5)
        for b in range(3)
        if not (a == 4 and b == 2)
    ]
    return spark.createDataFrame(rows, ["map_key", "map_value"])


@pytest.fixture(scope="module")
def lookup2(spark):
    # yiyang's map: different coverage + different labels than yaxin's
    rows = [
        (f"L{a},C{b}", f"yy{a}{b}")
        for a in range(5)
        for b in range(3)
        if (a + b) % 2 == 0
    ]
    return spark.createDataFrame(rows, ["map_key", "map_value"])


def _df(spark, lines: list[str]) -> DataFrame:
    return spark.createDataFrame([(ln,) for ln in lines], ["value"])


def _single(df: DataFrame, lookup: DataFrame, how: str) -> DataFrame:
    """The production path with one partner map, partner column dropped."""
    return pipeline.routed_pipeline_dual(df, {"p": lookup}, how=how).drop("partner")


def chain(df: DataFrame, lookup: DataFrame, how: str) -> DataFrame:
    """The composable reference: route, then per type conform → mask →
    enrich, then union."""
    routed = pipeline.route(df)
    parts = [
        pipeline.enrich(
            pipeline.mask(
                pipeline.conform(routed.filter(F.col("rec_type") == p), rt), rt
            ),
            rt,
            lookup,
            how=how,
        )
        for p, rt in sorted(RECORD_TYPES.items())
    ]
    return reduce(DataFrame.unionByName, parts)


def _rows(df: DataFrame) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def test_masking_and_enrichment_content(spark, lookup):
    """Spot-check one record end to end: phones masked, flag from lookup."""
    rt = RECORD_TYPES["61"]
    line = make_line("61", 1)
    row = _single(_df(spark, [line]), lookup, "inner").collect()[0]
    fields = row.value.split(",")
    raw = line.split(",")
    for p in rt.phone_idx:
        assert fields[p] == hashlib.md5(raw[p].encode()).hexdigest()
    assert row.flag == "label11"  # L1,C1
    assert row.tag == "2g_call"
    assert row.start_time == raw[rt.start_time_idx]


def test_inner_drops_left_defaults(spark, lookup):
    """J1 vs J2 semantics on a key missing from the lookup (L4,C2)."""
    df = _df(spark, [make_line("61", 14)])  # i=14 -> L4, C2 (dropped from lookup)
    assert _single(df, lookup, "inner").count() == 0
    left = _single(df, lookup, "left").collect()
    assert len(left) == 1 and left[0].flag == ""


def test_batch_pipeline_crlf_records_conform(spark, lookup):
    """The one-pass router splits the line itself (not through
    functions/lines.py), so it must conform CR-terminated records too:
    Java/Scala split keeps the ``\\r`` as (part of) the last field, so the
    field count is unchanged and no record is dropped as dirty.
    Reference: the Flume event body keeps raw CR bytes
    (src/StreamingSocketProcess.scala:124 reads raw lines)."""
    cr_lines = crlf_corpus()
    rows = _single(_df(spark, cr_lines), lookup, "left").collect()
    assert len(rows) == len(cr_lines)  # every CRLF record conformed
    # the ',\r' records: \r occupies the (empty) last field slot
    ends = sorted(r.value.split(",")[-1] for r in rows)
    assert ends.count("\r") == 2


@pytest.mark.parametrize("partners", [("p",), ("yaxin", "yiyang")])
@pytest.mark.parametrize("how", ["inner", "left"])
def test_dual_equals_chain(spark, lookup, lookup2, partners, how):
    """Each partner's rows of the one-pass production path equal the
    composable chain run against that partner's map, with one map and
    with both (the reference passes both broadcast maps into every
    per-type writer, StreamingSocketProcess.scala:110-119 +
    ProcessSums.scala:334). Junk, archive and CRLF lines included."""
    df = _df(spark, corpus() + crlf_corpus())
    maps = dict(zip(partners, (lookup, lookup2)))
    dual = pipeline.routed_pipeline_dual(df, maps, how=how)
    for partner, lk in maps.items():
        got = _rows(dual.filter(F.col("partner") == partner).drop("partner"))
        assert got == _rows(chain(df, lk, how)), partner
        assert sum(got.values()) > 0
