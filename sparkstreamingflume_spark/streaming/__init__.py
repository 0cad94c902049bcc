"""Structured Streaming layer (SURVEY.md §2.1/§2.5/§2.7, build plan M3).

``sources`` — file-drop landing dir (the Flume integration point), socket,
rate; plus the S4/S5 lookup-table loaders.
``pipeline`` — the route → conform → mask → enrich transformation graph
(pure DataFrame→DataFrame functions, so batch and streaming share one
code path and equivalence is testable).
``sinks`` — foreachBatch partitioned text/parquet writers with the
reference's layout (rec_type/dt/hr dirs, size-bounded files), dual-write.
``dedup`` / ``neardup`` — streaming dedup: watermark-bounded exact
(dropDuplicatesWithinWatermark) and incremental near-dup against a
persisted content-hash + LSH-band index (the streaming twin of
q_dedup_incremental).
``transitions`` / ``regimes`` / ``funnels`` / ``retentions`` — the
zero-Python foreachBatch twins of q_event_transitions / q_scd2_history
/ q_funnel / q_retention: native window/fold algebra per batch,
cross-batch boundaries through parquet state indexes (keep-2
compaction, replay-exact; retention exact under ANY arrival order via
retraction deltas).
``state`` — the parquet state-index protocols the foreachBatch twins
share: recover/swap, live-or-old reads, keep-N and first-batch
compaction, the list-first fold, and ``attach`` (the one stream
wiring).
``sessions`` — native session_window sessionization under readStream +
watermark (the streaming twin of q_session_window).
"""

from sparkstreamingflume_spark.streaming import (  # noqa: F401
    dedup,
    neardup,
    pipeline,
    sinks,
    sources,
)
