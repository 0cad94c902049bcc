"""Streaming corpus-overlap tracker — the streaming twin of
``q_corpus_overlap``.

A MinHash signature is a MERGEABLE summary under component-wise MIN: the
signature of a source's shingle-set union is the min over any partition
of it, so a continuously-ingesting corpus store keeps pairwise overlap
estimates live by appending each micro-batch's PARTIAL per-source
signatures and min-merging at read time. Per-batch cost is
O(|batch shingles|); persisted state is |sources| × N_PERM longs per
batch before compaction, one row per (source, perm) after.

Index layout: ``<index_dir>/sig`` — long-form rows ``(source, j, sig,
batch_id)`` built by the SAME construction the batch query and its
DuckDB oracle certify (``functions.text`` h32 + the MH_AC affine
family).

Idempotency — the instructive contrast with the CMS counter index
(``streaming/sketch.py``): min-merge is IDEMPOTENT (min(x, x) = x), so
a replayed batch's re-appended rows change nothing and no fold
watermark is needed; the counter index needs its watermark precisely
because + is not idempotent. :func:`compact_signatures` exists purely
for file-count/row hygiene (fold to one row per (source, perm) via the
list-first / fold-exactly-the-list / delete-exactly-the-list protocol
of ``streaming/hll.py``) and can run at any time: concurrent appends
land beside the fold and survive it.

The reference never maintained cross-batch aggregates; capability
extension (SURVEY.md §2 LLM-pipeline track).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkstreamingflume_spark.functions.text import (
    MH_AC,
    MH_P,
    N_PERM,
    h32,
    shingles,
    tokens,
)
from sparkstreamingflume_spark.streaming.state import (
    _hadoop_fs,
    _read_index,
    recover_index,
)

SIG_SCHEMA = "source string, j int, sig long, batch_id long"


def _partial_sigs(
    batch: DataFrame, source_col: str, text_col: str
) -> DataFrame:
    """Long-form (source, j, sig) partial signatures for one batch —
    one combinable 16-min agg over the batch's shingles, melted via
    stack() so the index schema is width-independent."""
    sh = batch.filter(F.size(tokens(text_col)) >= 3).select(
        F.col(source_col).alias("source"),
        F.explode(shingles(text_col)).alias("s"),
    )
    hashed = sh.select("source", h32(F.col("s")).alias("h"))
    sigs = hashed.groupBy("source").agg(
        *[
            F.min((F.lit(a) * F.col("h") + c) % MH_P).alias(f"s{j}")
            for j, (a, c) in enumerate(MH_AC)
        ]
    )
    stack = ", ".join(f"{j}, s{j}" for j in range(N_PERM))
    return sigs.selectExpr(
        "source", f"stack({N_PERM}, {stack}) as (j, sig)"
    )


def overlap_update_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    source_col: str = "source",
    text_col: str = "text",
) -> None:
    """foreachBatch callback: append this batch's partial signatures.
    An empty (or all-short/NULL-text) batch appends nothing."""
    (
        _partial_sigs(batch, source_col, text_col)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("append")
        .parquet(f"{index_dir}/sig")
    )


def read_signatures(spark: SparkSession, index_dir: str) -> DataFrame:
    """(source, s0..s15) min-merged over every appended partial — the
    same wide shape the batch query aggregates directly."""
    ix = _read_index(spark, f"{index_dir}/sig", SIG_SCHEMA)
    return ix.groupBy("source").agg(
        *[
            F.min(F.when(F.col("j") == j, F.col("sig"))).alias(f"s{j}")
            for j in range(N_PERM)
        ]
    )


def source_overlap(spark: SparkSession, index_dir: str) -> DataFrame:
    """Pairwise overlap estimates from the live index — the streaming
    counterpart of q_corpus_overlap's output (source_a, source_b,
    n_match, jaccard_est_ppm), same all-pairs BNLJ over the KB-sized
    signature aggregate."""
    sigs = read_signatures(spark, index_dir)
    x, y = sigs.alias("x"), sigs.alias("y")
    matches = None
    for j in range(N_PERM):
        eq = (F.col(f"x.s{j}") == F.col(f"y.s{j}")).cast("long")
        matches = eq if matches is None else matches + eq
    return (
        x.join(F.broadcast(y), F.col("x.source") < F.col("y.source"))
        .select(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
            matches.alias("n_match"),
            (matches * (1_000_000 // N_PERM)).alias("jaccard_est_ppm"),
        )
    )


def compact_signatures(spark: SparkSession, index_dir: str) -> dict:
    """Fold the index to one row per (source, perm) — pure hygiene (see
    module doc: min-merge needs no replay watermark). batch_id keeps the
    MIN batch that contributed — an audit column only.

    Concurrent-append safe, and genuinely so ("can run at any time"):
    the fold LISTS the sig part-files first, folds exactly that list,
    renames the folded file INTO ``sig/`` (the dir is never renamed or
    dropped, so an append landing mid-fold can neither be discarded nor
    recreate the dir under a swap), and deletes exactly the listed
    inputs afterwards. A crash between the rename-in and the deletes
    leaves both folded and raw rows — harmless, min-merge is idempotent.
    Same list-first protocol as :func:`streaming.hll.compact_registers`.
    Returns {rows_before, rows_after, n_files} or {} when there is
    nothing to fold."""
    # sweeps a leaked .sig_compact_tmp and recovers the legacy
    # whole-dir swap's .sig_old (pre-list-first folds only)
    recover_index(spark, index_dir, "sig")
    fs, _ = _hadoop_fs(spark, index_dir)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    path = f"{index_dir}/sig"
    jp = jvm_path(path)
    if not fs.exists(jp):
        return {}
    files = [
        st.getPath().toString()
        for st in fs.listStatus(jp)
        if st.getPath().getName().startswith("part-")
    ]
    if len(files) <= 1:
        return {}
    before = spark.read.schema(SIG_SCHEMA).parquet(*files)
    n_before = before.count()
    folded = before.groupBy("source", "j").agg(
        F.min("sig").alias("sig"), F.min("batch_id").alias("batch_id")
    )
    tmp = f"{index_dir}/.sig_compact_tmp"
    # |sources| x N_PERM rows — one file
    folded.repartition(1).write.mode("overwrite").parquet(tmp)
    n_after = spark.read.parquet(tmp).count()
    # move the folded part-file in beside the live appends (its job-UUID
    # name cannot collide), then retire exactly the inputs it covers
    for st in fs.listStatus(jvm_path(tmp)):
        name = st.getPath().getName()
        if name.startswith("part-"):
            fs.rename(st.getPath(), jvm_path(f"{path}/{name}"))
    fs.delete(jvm_path(tmp), True)
    for f in files:
        fs.delete(jvm_path(f), False)
    return {
        "rows_before": n_before,
        "rows_after": n_after,
        "n_files": len(files),
    }
