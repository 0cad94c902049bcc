"""Seeded input generators for the benchmark workloads.

Everything here is pure Python (plus pyarrow for the parquet tables): the
program under test never sees the seed, only the files written from it.
The same seed always yields byte-identical files and identical expected
counts (tests/test_perfbench.py pins this).

CDR lines follow the reference-shaped B2 fixture (FIXTURES.md): a 2-char
routing prefix opens field 0, widths and phone / start-time / LAC / CI
positions come from ``schemas.RECORD_TYPES``. Field 2 carries a record id
``f<file>r<row>`` so every sink row can be traced back to its input file.
The two lookup maps are B3-shaped TSVs.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections import Counter
from dataclasses import dataclass, field

# Routed CDR types with their widths and field positions (mirrors
# sparkstreamingflume_spark.schemas.RECORD_TYPES; the self-tests pin the two
# against each other so the generator cannot drift from the program).
ROUTED = {
    "61": (97, (12, 15), 23, 24, "2g_call"),
    "62": (91, (12, 15), 23, 24, "3g_call"),
    "63": (50, (11,), 18, 19, "2g_address"),
    "64": (50, (11,), 18, 19, "3g_address"),
    "65": (61, (13, 16), 21, 22, "2g_sms"),
    "66": (61, (13, 16), 21, 22, "3g_sms"),
}
ARCHIVE = ("60", "67", "68", "69", "70")
UNKNOWN = ("59", "71", "88", "99")
PARTNERS = ("yaxin", "yiyang")
RECORD_ID_IDX = 2

# Fixed line mix (shares of all lines) and per-partner lookup hit rates.
SHARE_ARCHIVE = 0.06
SHARE_UNKNOWN = 0.04
SHARE_WRONG_WIDTH = 0.05
HIT = {"yaxin": 0.8, "yiyang": 0.7}  # independent per line
N_LAC, N_CI = 400, 25  # key universe: 10,000 (lac, ci) pairs


def phone(seed: int, file_no: int, row: int, slot: int) -> str:
    """The generated phone number in a record's ``slot``-th phone field —
    a pure function, so the checker can recompute it from the record id."""
    x = (seed * 1_000_003 + file_no * 100_019 + row * 31 + slot) * 2654435761
    return f"13{x % 10**9:09d}"


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


@dataclass
class Keyspace:
    """The (lac, ci) universe split by which partner maps hold each key."""

    classes: dict[tuple[bool, bool], list[tuple[int, int]]]

    @classmethod
    def build(cls, rng: random.Random) -> Keyspace:
        keys = [(lac, ci) for lac in range(N_LAC) for ci in range(N_CI)]
        rng.shuffle(keys)
        p_both = HIT["yaxin"] * HIT["yiyang"]
        p_ya = HIT["yaxin"] * (1 - HIT["yiyang"])
        p_yi = (1 - HIT["yaxin"]) * HIT["yiyang"]
        cuts = [int(len(keys) * c) for c in (p_both, p_both + p_ya, p_both + p_ya + p_yi)]
        return cls(
            {
                (True, True): keys[: cuts[0]],
                (True, False): keys[cuts[0] : cuts[1]],
                (False, True): keys[cuts[1] : cuts[2]],
                (False, False): keys[cuts[2] :],
            }
        )

    def draw(self, rng: random.Random) -> tuple[tuple[int, int], tuple[bool, bool]]:
        hits = (rng.random() < HIT["yaxin"], rng.random() < HIT["yiyang"])
        return rng.choice(self.classes[hits]), hits

    def holders(self, partner: str) -> list[tuple[int, int]]:
        i = PARTNERS.index(partner)
        return sorted(k for hits, ks in self.classes.items() if hits[i] for k in ks)


def label(partner: str, key: tuple[int, int]) -> str:
    return f"{partner[:2]}{key[0]:03d}{key[1]:02d}"


def write_lookups(seed: int, keyspace: Keyspace, out_dir: str) -> dict[str, str]:
    """Write yaxin.tsv (3 columns) and yiyang.tsv (7 columns), each with a
    few noise lines the loaders must skip or that can never match."""
    rng = random.Random(seed * 7 + 1)
    os.makedirs(out_dir, exist_ok=True)
    paths = {p: os.path.join(out_dir, f"{p}.tsv") for p in PARTNERS}
    ya = [f"L{lac}\tC{ci}\t{label('yaxin', (lac, ci))}" for lac, ci in keyspace.holders("yaxin")]
    # 2-column lines are dropped by the 3-field guard; 4-column lines keep
    # their first three columns but use a LAC outside the drawn universe.
    for i in range(20):
        ya.insert(1 + rng.randrange(len(ya)), f"L{N_LAC + i}\tC{i}")
        ya.insert(1 + rng.randrange(len(ya)), f"L{N_LAC + i}\tC{i}\tnoise{i}\textra")
    yi = [
        f"{n}\tL{lac}\tC{ci}\tx\ty\t{label('yiyang', (lac, ci))}\tz"
        for n, (lac, ci) in enumerate(keyspace.holders("yiyang"))
    ]
    for i in range(20):  # short lines: column 5 is null, so they are dropped
        yi.insert(1 + rng.randrange(len(yi)), f"n{i}\tL{N_LAC + i}\tC{i}")
    for p, rows in (("yaxin", ya), ("yiyang", yi)):
        with open(paths[p], "w") as f:
            f.write("\n".join(rows) + "\n")
    return paths


@dataclass
class Truth:
    """Exact expectations from the generator: per-file routing counts and
    per-(file, partner, tag) sink row counts."""

    files: list[str] = field(default_factory=list)
    lines: Counter = field(default_factory=Counter)  # per category
    sink_rows: dict[int, Counter] = field(default_factory=dict)  # file -> (partner, tag)


class CdrGenerator:
    """Renders numbered CDR files; file ``n`` depends only on (seed, n, lines)."""

    def __init__(self, seed: int):
        self.seed = seed
        self.keyspace = Keyspace.build(random.Random(seed))
        self._filler = {
            p: [f"v{j}" for j in range(spec[0] + 3)] for p, spec in ROUTED.items()
        }

    def render(self, file_no: int, n_lines: int) -> tuple[str, Counter, Counter]:
        """One file's text, its per-category line counts and its expected
        per-(partner, tag) sink rows."""
        rng = random.Random(self.seed * 1_000_003 + file_no)
        out, cats, sink = [], Counter(), Counter()
        prefixes = sorted(ROUTED)
        for row in range(n_lines):
            rid = f"f{file_no}r{row}"
            u = rng.random()
            if u < SHARE_ARCHIVE:
                cats["archive"] += 1
                out.append(f"{rng.choice(ARCHIVE)},raw,{rid},{rng.randrange(10**6)}")
                continue
            if u < SHARE_ARCHIVE + SHARE_UNKNOWN:
                cats["unrouted"] += 1
                out.append(f"{rng.choice(UNKNOWN)},junk,{rid},{rng.randrange(10**6)}")
                continue
            prefix = rng.choice(prefixes)
            n_fields, phones, lac_i, ci_i, tag = ROUTED[prefix]
            wrong = u < SHARE_ARCHIVE + SHARE_UNKNOWN + SHARE_WRONG_WIDTH
            width = n_fields + rng.choice((-3, -1, 1, 2)) if wrong else n_fields
            fields = self._filler[prefix][:width]
            fields[0] = prefix
            fields[1] = f"2024-01-{1 + row % 28:02d} {row % 24:02d}:{file_no % 60:02d}:{row % 60:02d}"
            fields[RECORD_ID_IDX] = rid
            for slot, idx in enumerate(phones):
                if idx < width:
                    fields[idx] = phone(self.seed, file_no, row, slot)
            (lac, ci), hits = self.keyspace.draw(rng)
            if lac_i < width:
                fields[lac_i] = f"L{lac}"
            if ci_i < width:
                fields[ci_i] = f"C{ci}"
            out.append(",".join(fields))
            if wrong:
                cats["wrong_width"] += 1
                continue
            cats["routed"] += 1
            for partner, hit in zip(PARTNERS, hits):
                if hit:
                    sink[(partner, tag)] += 1
                else:
                    cats[f"lookup_miss.{partner}"] += 1
        return "\n".join(out) + "\n", cats, sink

    def write(self, file_nos: range, n_lines: int, out_dir: str) -> Truth:
        os.makedirs(out_dir, exist_ok=True)
        truth = Truth()
        for n in file_nos:
            text, cats, sink = self.render(n, n_lines)
            path = os.path.join(out_dir, f"cdr-{n:05d}.txt")
            with open(path, "w") as f:
                f.write(text)
            truth.files.append(path)
            truth.lines.update(cats)
            truth.sink_rows[n] = sink
        return truth


def file_no_of(record_id: str) -> int:
    return int(record_id[1 : record_id.index("r")])


# ---------------------------------------------------------------------------
# Tables for the plans workload (FIXTURES.md A shapes at sf0.05)
# ---------------------------------------------------------------------------

N_ORDERS, N_LINEITEMS, N_PARTS, N_SUPPLIERS, N_CUSTOMERS = 75_000, 300_000, 10_000, 500, 7_500
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def write_tables(seed: int, out_dir: str) -> None:
    """``orders.parquet`` and ``lineitem.parquet`` shaped like the driver
    fixtures: dates over 1995-2001 at ms precision, prices in cents,
    ``l_extendedprice = l_quantity * (900 + partkey / 10)``, discounts
    0.00-0.10 and taxes 0.00-0.08 in steps of 0.01, one row group each."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    day_ms = 24 * 3600 * 1000
    epoch_1995 = np.datetime64("1995-01-01", "ms")

    def dates(lo_days: int, hi_days: int, n: int):
        return pa.array(epoch_1995 + rng.integers(lo_days, hi_days, n) * day_ms, pa.timestamp("ms"))

    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), N_ORDERS).tolist(), pa.string()),
            "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, N_ORDERS) / 100, pa.float64()),
            "o_orderdate": dates(0, 2404, N_ORDERS),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS).tolist(), pa.string()),
        }
    )
    part = rng.integers(0, N_PARTS, N_LINEITEMS)
    qty = rng.integers(1, 51, N_LINEITEMS)
    price_cents = qty * (90_000 + part * 10)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEMS), pa.int64()),
            "l_partkey": pa.array(part, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, N_LINEITEMS), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEMS), pa.int32()),
            "l_quantity": pa.array(qty.astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(price_cents / 100, pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, N_LINEITEMS) / 100, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, N_LINEITEMS) / 100, pa.float64()),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), N_LINEITEMS).tolist(), pa.string()),
            "l_linestatus": pa.array(rng.choice(("F", "O"), N_LINEITEMS).tolist(), pa.string()),
            "l_shipdate": dates(1, 2499, N_LINEITEMS),
        }
    )
    pq.write_table(orders, os.path.join(out_dir, "orders.parquet"))
    pq.write_table(lineitem, os.path.join(out_dir, "lineitem.parquet"))
