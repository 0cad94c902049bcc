"""Lookup-map loaders (S3/S4/S5): the field guards on the side files, one
row per key, the loud failure on an unusable file, and the read-once
contract — a loaded map is materialized when it is loaded, so the
micro-batches that join against it never go back to the file."""

from __future__ import annotations

from collections import Counter

import pytest

from sparkstreamingflume_spark.schemas import RECORD_TYPES
from sparkstreamingflume_spark.streaming import pipeline, sinks, sources


def _tsv(tmp_path, name: str, lines: list[str]) -> str:
    path = tmp_path / name
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_short_first_line_does_not_set_the_width(spark, tmp_path):
    ya = _tsv(tmp_path, "ya.tsv", ["L0\tC0", "L1\tC1\tv1", "L2\tC2\tv2"])
    assert _rows(sources.load_lookup_yaxin(spark, ya)) == [("L1,C1", "v1"), ("L2,C2", "v2")]
    yi = _tsv(tmp_path, "yi.tsv", ["n0\tL0\tC0", "1\tL1\tC1\tx\ty\tw1\tz", "2\tL2\tC2\tx\ty\tw2"])
    assert _rows(sources.load_lookup_yiyang(spark, yi)) == [("L1,C1", "w1"), ("L2,C2", "w2")]


def test_yaxin_keeps_only_three_field_lines(spark, tmp_path):
    ya = _tsv(
        tmp_path,
        "ya.tsv",
        [
            "L0\tC0\tv0",
            "L1\tC1",  # 2 fields
            "L2\tC2\tv2\textra",  # 4 fields
            "L3\t\tv3",  # empty field counts as missing
            "L4\tC4\tv4\t",  # a trailing tab splits to 3 fields (Java split)
        ],
    )
    assert _rows(sources.load_lookup_yaxin(spark, ya)) == [("L0,C0", "v0"), ("L4,C4", "v4")]


def test_duplicate_keys_give_one_row_per_key(spark, tmp_path):
    ya = _tsv(tmp_path, "ya.tsv", ["L0\tC0\ta", "L0\tC0\tb", "L1\tC1\tc", "L0\tC0\ta"])
    rows = dict(_rows(sources.load_lookup_yaxin(spark, ya)))
    assert len(rows) == 2 and rows["L0,C0"] in {"a", "b"} and rows["L1,C1"] == "c"
    yi = _tsv(tmp_path, "yi.tsv", ["1\tL0\tC0\tx\ty\tw1\tz", "2\tL0\tC0\tx\ty\tw2\tz"])
    assert [k for k, _ in _rows(sources.load_lookup_yiyang(spark, yi))] == ["L0,C0"]


def test_side_file_with_no_usable_line_raises(spark, tmp_path):
    ya = _tsv(tmp_path, "ya_bad.tsv", ["L0\tC0", "L1\tC1\tv1\textra"])
    with pytest.raises(ValueError, match="ya_bad.tsv"):
        sources.load_lookup_yaxin(spark, ya)
    yi = _tsv(tmp_path, "yi_bad.tsv", ["n0\tL0\tC0", "1\tL1\tC1\tx\ty\t\tz"])
    with pytest.raises(ValueError, match="yi_bad.tsv"):
        sources.load_lookup_yiyang(spark, yi)


def _line(prefix: str, i: int) -> str:
    rt = RECORD_TYPES[prefix]
    fields = [f"x{j}" for j in range(rt.n_fields)]
    fields[0] = f"{prefix}rec{i}"
    fields[rt.lac_idx] = f"L{i % 3}"
    fields[rt.ci_idx] = "C0"
    return rt.sep.join(fields)


def test_maps_are_read_once(spark, tmp_path):
    """Both maps survive the deletion of their side files: a micro-batch
    reads the rows stored at load time, and its plan has no shuffle on the
    lookup side — only the broadcast of the stored rows."""
    ya = _tsv(tmp_path, "ya.tsv", ["L0\tC0\ta0", "L2\tC0", "L1\tC0\ta1"])
    yi = _tsv(tmp_path, "yi.tsv", ["0\tL0\tC0\tx\ty\tb0\tz", "n\tL1\tC0"])
    maps = {"yaxin": sources.load_lookup_yaxin(spark, ya), "yiyang": sources.load_lookup_yiyang(spark, yi)}
    (tmp_path / "ya.tsv").unlink()
    (tmp_path / "yi.tsv").unlink()

    landing = tmp_path / "landing"
    landing.mkdir()
    lines = [_line(p, i) for p in sorted(RECORD_TYPES) for i in range(6)]
    lines += ["60raw0", "99junk0"]
    for k in range(3):
        (landing / f"part{k}.txt").write_text("\n".join(lines[k::3]) + "\n")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def sink(batch, batch_id):
        batch.write.mode("append").parquet(out)

    stream = sources.file_drop(spark, str(landing), max_files_per_trigger=1)
    q = sinks.start_pipeline(
        pipeline.routed_pipeline_dual(stream, maps, how="inner"),
        sink,
        ckpt,
        available_now=True,
        query_name="t_read_once",
    )
    q.awaitTermination(120)
    assert q.exception() is None

    got = Counter((r.partner, r.tag) for r in spark.read.parquet(out).collect())
    # per type: i % 3 in {0, 1} hits yaxin (4 of 6), i % 3 == 0 hits yiyang (2 of 6)
    tags = [rt.tag for rt in RECORD_TYPES.values()]
    assert got == Counter({**{("yaxin", t): 4 for t in tags}, **{("yiyang", t): 2 for t in tags}})

    plan = pipeline.routed_pipeline_dual(spark.read.text(str(landing)), maps, how="inner")
    executed = plan._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in executed and ".tsv" not in executed
