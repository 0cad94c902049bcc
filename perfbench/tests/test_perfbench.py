"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import checks  # noqa: E402
import eventlog  # noqa: E402
from inputs import PARTNERS, RECORD_ID_IDX, ROUTED, CdrGenerator, md5_hex, write_lookups  # noqa: E402

FILES = range(3)
LINES = 400


def _generate(seed: int, root: str):
    gen = CdrGenerator(seed)
    lookups = write_lookups(seed, gen.keyspace, os.path.join(root, "lookups"))
    truth = gen.write(FILES, LINES, os.path.join(root, "files"))
    return lookups, truth


def _reference_sink(lookups: dict[str, str], files: list[str], out_dir: str, skip: str | None = None) -> None:
    """The routed dual-partner inner pipeline, written plainly in Python:
    route on the prefix, keep exact-width records, MD5 their phone fields,
    fan out to each partner whose map holds ``lac,ci``."""
    maps = {}
    for p, path in lookups.items():
        with open(path) as f:
            rows = [line.rstrip("\n").split("\t") for line in f]
        if p == "yaxin":
            maps[p] = {f"{r[0]},{r[1]}": r[2] for r in rows if len(r) >= 3}
        else:
            maps[p] = {f"{r[1]},{r[2]}": r[5] for r in rows if len(r) >= 6}
    outputs: dict[tuple[str, str], list[str]] = {}
    for path in files:
        if path == skip:
            continue
        with open(path) as f:
            for line in f:
                fields = line.rstrip("\n").split(",")
                spec = ROUTED.get(fields[0])
                if spec is None or len(fields) != spec[0]:
                    continue
                n_fields, phones, lac_i, ci_i, tag = spec
                key = f"{fields[lac_i]},{fields[ci_i]}"
                masked = [md5_hex(v) if i in phones else v for i, v in enumerate(fields)]
                for p in PARTNERS:
                    if key in maps[p]:
                        outputs.setdefault((p, tag), []).append(",".join(masked))
    for (p, tag), rows in outputs.items():
        d = os.path.join(out_dir, f"partner={p}", f"tag={tag}")
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.txt"), "w") as f:
            f.write("\n".join(rows) + "\n")


def _failed(seed: int, truth, out_dir: str) -> set[int]:
    counts, bad, _n = checks.observe(seed, checks.read_sink(out_dir))
    return checks.failed_files(truth.sink_rows, counts, bad)


def test_generator_pins_the_program_registry():
    from sparkstreamingflume_spark.schemas import ARCHIVE_PREFIXES, RECORD_TYPES

    from inputs import ARCHIVE, UNKNOWN

    for prefix, rt in RECORD_TYPES.items():
        assert ROUTED[prefix] == (rt.n_fields, rt.phone_idx, rt.lac_idx, rt.ci_idx, rt.tag)
        assert rt.sep == ","
    assert set(ROUTED) == set(RECORD_TYPES)
    assert tuple(ARCHIVE) == ARCHIVE_PREFIXES
    assert not set(UNKNOWN) & (set(RECORD_TYPES) | set(ARCHIVE_PREFIXES))


def test_same_seed_same_bytes_and_counts(tmp_path):
    a_lookups, a = _generate(7, str(tmp_path / "a"))
    b_lookups, b = _generate(7, str(tmp_path / "b"))
    for x, y in zip(a.files + list(a_lookups.values()), b.files + list(b_lookups.values())):
        assert filecmp.cmp(x, y, shallow=False), (x, y)
    assert a.lines == b.lines and a.sink_rows == b.sink_rows
    _, c = _generate(8, str(tmp_path / "c"))
    assert not filecmp.cmp(a.files[0], c.files[0], shallow=False)


def test_generator_mix_covers_every_category(tmp_path):
    _, truth = _generate(3, str(tmp_path))
    n = len(FILES) * LINES
    assert sum(truth.lines[k] for k in ("routed", "archive", "unrouted", "wrong_width")) == n
    for k in ("archive", "unrouted", "wrong_width", "lookup_miss.yaxin", "lookup_miss.yiyang"):
        assert truth.lines[k] > 0, k
    # every routed record reaches each partner unless that partner misses
    routed_out = sum(sum(c.values()) for c in truth.sink_rows.values())
    expected = sum(truth.lines["routed"] - truth.lines[f"lookup_miss.{p}"] for p in PARTNERS)
    assert routed_out == expected


def test_ingest_check_accepts_the_reference_output(tmp_path):
    lookups, truth = _generate(5, str(tmp_path))
    out = str(tmp_path / "out")
    _reference_sink(lookups, truth.files, out)
    assert _failed(5, truth, out) == set()


def test_ingest_check_fails_when_a_file_is_withheld(tmp_path):
    lookups, truth = _generate(5, str(tmp_path))
    out = str(tmp_path / "out")
    _reference_sink(lookups, truth.files, out, skip=truth.files[1])
    assert _failed(5, truth, out) == {FILES[1]}


def test_ingest_check_fails_on_a_wrong_mask_digest(tmp_path):
    lookups, truth = _generate(5, str(tmp_path))
    out = str(tmp_path / "out")
    _reference_sink(lookups, truth.files, out)
    first = next(checks.read_sink(out))  # row 0 is always mask-checked
    part = os.path.join(out, f"partner={first[0]}", f"tag={first[1]}", "part-00000.txt")
    with open(part) as f:
        rows = f.read().split("\n")
    fields = rows[0].split(",")
    phone_idx = ROUTED[fields[0]][1][0]
    fields[phone_idx] = md5_hex(fields[phone_idx])  # digest of the digest
    rows[0] = ",".join(fields)
    with open(part, "w") as f:
        f.write("\n".join(rows))
    file_no = int(fields[RECORD_ID_IDX][1:].split("r")[0])
    assert _failed(5, truth, out) == {file_no}


def test_ingest_check_fails_on_rows_from_nowhere(tmp_path):
    lookups, truth = _generate(5, str(tmp_path))
    out = str(tmp_path / "out")
    _reference_sink(lookups, truth.files, out)
    shutil.copy(
        os.path.join(out, "partner=yaxin", "tag=2g_call", "part-00000.txt"),
        os.path.join(out, "partner=yaxin", "tag=2g_call", "part-00001.txt"),
    )
    assert _failed(5, truth, out) == set(FILES)


def test_eventlog_counts_on_a_captured_log():
    """Captured from three job groups on local[2] with AQE off: ``a`` a
    2-partition groupBy (1 job, map + reduce stage), ``b`` a 3-partition
    count (1 job, 2 stages), ``c`` a broadcast join (broadcast job + join
    job, 2 tasks each)."""
    stats = eventlog.parse(os.path.join(HERE, "data", "tiny-eventlog.json"))
    assert sorted(stats) == ["a", "b", "c"]
    assert [(stats[g].jobs, stats[g].stages, stats[g].tasks) for g in "abc"] == [
        (1, 2, 4),
        (1, 2, 4),
        (2, 2, 4),
    ]
    assert stats["a"].shuffle_write_bytes == stats["a"].shuffle_read_bytes > 0
    assert stats["c"].broadcast_bytes > 0 and stats["a"].broadcast_bytes == 0
    assert all(stats[g].executor_run_ms > 0 for g in "abc")


@pytest.mark.parametrize(
    ("spans", "window", "busy"),
    [
        ([(0, 10), (5, 15), (20, 30)], (0, 40), 25),
        ([(0, 10)], (5, 8), 3),
        ([], (0, 5), 0),
        ([(10, 20), (0, 5)], (0, 20), 15),
    ],
)
def test_busy_time_merges_overlapping_jobs(spans, window, busy):
    g = eventlog.GroupStats(job_spans_ms=spans)
    assert g.busy_ms(*window) == busy
