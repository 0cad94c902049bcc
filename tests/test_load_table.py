"""``session.load_table`` infers a parquet schema once per file version.

Inference starts a Spark job that reads the footer; a memoized schema
starts none. The memo must miss whenever the answer could differ: a
rewritten file, or a flipped SQL conf that steers inference.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sparkstreamingflume_spark.session import load_table

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, group: str, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def nanos_conf(spark):
    before = spark.conf.get(NANOS)
    yield
    spark.conf.set(NANOS, before)


def test_repeated_load_starts_no_job(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(pa.table({"l_orderkey": [1, 2], "l_qty": [3.0, 4.0]}), f"{d}/lineitem.parquet")
    pq.write_table(pa.table({"o_orderkey": [1], "o_note": ["x"]}), f"{d}/orders.parquet")
    first = load_table(spark, d, "lineitem")

    def again():
        return [load_table(spark, d, n) for n in ("lineitem", "orders", "orders")]

    (li, o1, o2), n = _jobs(spark, "load_table_memo", again)
    assert n == 1, f"{n} jobs: only orders' first load should infer"
    assert li.schema == first.schema
    assert o1.schema == o2.schema
    assert sorted(li.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(pa.table({"a": [1, 2]}), f"{d}/t.parquet")
    assert load_table(spark, d, "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), f"{d}/t.parquet")
    df = load_table(spark, d, "t")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_flipped_inference_conf_is_inferred_again(spark, tmp_path, nanos_conf):
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import LongType

    d = str(tmp_path)
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), f"{d}/t.parquet")
    spark.conf.set(NANOS, "true")
    assert isinstance(load_table(spark, d, "t").schema["ts"].dataType, LongType)
    # Without nanosAsLong Spark rejects TIMESTAMP(NANOS): a memo that
    # ignored the conf would hand back the LongType schema instead.
    spark.conf.set(NANOS, "false")
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        load_table(spark, d, "t")
    spark.conf.set(NANOS, "true")
    df, n = _jobs(spark, "load_table_nanos", lambda: load_table(spark, d, "t"))
    assert n == 0 and isinstance(df.schema["ts"].dataType, LongType)


def test_missing_path_raises_as_a_plain_read(spark, tmp_path):
    from pyspark.errors import AnalysisException

    d = str(tmp_path)
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(f"{d}/gone.parquet")
    with pytest.raises(AnalysisException) as memo:
        load_table(spark, d, "gone")
    assert memo.value.getCondition() == plain.value.getCondition() == "PATH_NOT_FOUND"
