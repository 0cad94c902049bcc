"""Smoke checks of tools/soak.py: every mode row resolves, and one short
compacting twin runs end to end.

Nothing else runs the soak, so a renamed twin function or a broken mode
row would otherwise fail silently. ``hll_compact`` with COMPACT_EVERY=1
at a 2 s trigger compacts from the second batch on inside 25 s.
"""

from __future__ import annotations

import inspect
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

# Starts its own JVM: excluded from the default selection (pytest.ini's
# `slow` marker), always run by tools/run_shards.sh.
pytestmark = pytest.mark.slow

REPO = Path(__file__).resolve().parents[1]


def test_every_mode_row_resolves(spark, tmp_path):
    """Each row's generator analyses against the rate source, and its
    update / compaction / prepare / commit accept the arguments the
    soak passes — without starting a query."""
    from types import SimpleNamespace

    from sparkstreamingflume_spark.streaming import sources

    sys.path.insert(0, str(REPO / "tools"))
    import soak

    c = SimpleNamespace(
        spark=spark,
        rows_per_sec=10,
        rate=sources.rate(spark, rows_per_second=10),
        tmp=str(tmp_path),
        ix=str(tmp_path / "ix"),
        out=str(tmp_path / "out"),
    )
    assert len(soak.MODES) == 18
    for mode, row in soak.MODES.items():
        assert row.gen(c).schema.fields, mode
        if row.update:
            inspect.signature(row.update).bind(None, 0, c.ix, **row.kw(c))
        for fn in (row.compact, row.prepare, row.commit):
            if fn:
                inspect.signature(fn).bind(spark, c.ix)


def test_soak_hll_compact_smoke():
    env = {**os.environ, "COMPACT_EVERY": "1", "SOAK_TRIGGER_S": "2"}
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    run = subprocess.run(
        [sys.executable, "tools/soak.py", "2000", "25", "hll_compact"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    out = json.loads(run.stdout.strip().splitlines()[-1])
    assert {
        "metric", "mode", "rows_per_second_target", "canary_sec",
        "trigger_s", "batches", "batch_s_p50", "batch_s_p99",
        "processed_rows_per_s_mean", "stable", "distinct_expected_per_type",
        "distinct_est", "est_err_ppm_max", "register_rows",
        "index_files_final", "compactions",
    } <= set(out)
    assert out["mode"] == "hll_compact" and out["trigger_s"] == 2
    assert out["compactions"]
    for rec in out["compactions"]:
        assert rec["files_after"] <= rec["files_before"], rec
