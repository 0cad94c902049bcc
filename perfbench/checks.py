"""Correctness checks, kept free of Spark so the self-tests run without it.

``ingest``: the sink's rows are attributed to their input file through the
record id, counted per ``(partner, tag)`` and compared with the generator's
exact expectation; a sample of rows has its masked phone fields compared
with the MD5 of the generated values. A file fails if any of its counts
differ or any sampled row of it is wrong.

``plans``: a query's collected rows must match the DuckDB oracle's row
count, column set and ``oracle.table_hash``.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict

from inputs import RECORD_ID_IDX, ROUTED, file_no_of, md5_hex, phone

MASK_SAMPLE_EVERY = 97


def _partition_value(part: str, key: str) -> str:
    name, _, value = part.partition("=")
    if name != key:
        raise ValueError(f"unexpected sink partition {part!r}, wanted {key}=")
    return value


def read_sink(out_dir: str):
    """Yield ``(partner, tag, line)`` for every row the text sink wrote
    under ``partner=<p>/tag=<t>/``."""
    if not os.path.isdir(out_dir):
        return
    for p_dir in sorted(os.listdir(out_dir)):
        if p_dir.startswith(("_", ".")):
            continue
        partner = _partition_value(p_dir, "partner")
        for t_dir in sorted(os.listdir(os.path.join(out_dir, p_dir))):
            if t_dir.startswith(("_", ".")):
                continue
            tag = _partition_value(t_dir, "tag")
            leaf = os.path.join(out_dir, p_dir, t_dir)
            for name in sorted(os.listdir(leaf)):
                if name.startswith(("_", ".")):
                    continue
                with open(os.path.join(leaf, name)) as f:
                    for line in f:
                        yield partner, tag, line.rstrip("\n")


def mask_ok(seed: int, line: str) -> bool:
    """A sink row is a correctly masked routed record of its type."""
    fields = line.split(",")
    spec = ROUTED.get(fields[0])
    if spec is None or len(fields) != spec[0]:
        return False
    rid = fields[RECORD_ID_IDX]
    file_no = file_no_of(rid)
    row = int(rid[rid.index("r") + 1 :])
    return all(
        fields[idx] == md5_hex(phone(seed, file_no, row, slot))
        for slot, idx in enumerate(spec[1])
    )


def observe(seed: int, rows) -> tuple[dict[int, Counter], set[int], int]:
    """Count sink rows per file and ``(partner, tag)``; mask-check every
    ``MASK_SAMPLE_EVERY``-th row. Returns (counts, files with a bad row,
    number of rows)."""
    counts: dict[int, Counter] = defaultdict(Counter)
    bad: set[int] = set()
    n = 0
    for partner, tag, line in rows:
        parts = line.split(",", RECORD_ID_IDX + 1)
        try:
            file_no = file_no_of(parts[RECORD_ID_IDX])
        except (IndexError, ValueError):
            bad.add(-1)  # unattributable row: fails the run as a whole
            continue
        counts[file_no][(partner, tag)] += 1
        if n % MASK_SAMPLE_EVERY == 0 and not mask_ok(seed, line):
            bad.add(file_no)
        n += 1
    return counts, bad, n


def failed_files(expected: dict[int, Counter], counts: dict[int, Counter], bad: set[int]) -> set[int]:
    """Files whose sink rows differ from the expectation or hold a bad
    row; rows attributed to a file that was never expected count too."""
    failed = {f for f in expected if +expected[f] != +counts.get(f, Counter())}
    failed |= {f for f in counts if f not in expected}
    return failed | bad


def rows_match(cols: list[str], rows: list[tuple], want: dict) -> list[str]:
    """Compare collected rows with a stored oracle expectation
    ``{"rows": n, "cols": [...], "hash": h}``; returns the problems."""
    from sparkstreamingflume_spark.oracle import table_hash

    problems = []
    if len(rows) != want["rows"]:
        problems.append(f"rows {len(rows)} vs {want['rows']}")
    if sorted(cols) != sorted(want["cols"]):
        problems.append(f"cols {sorted(cols)} vs {sorted(want['cols'])}")
    elif table_hash(cols, rows) != want["hash"]:
        problems.append("value-hash mismatch")
    return problems
