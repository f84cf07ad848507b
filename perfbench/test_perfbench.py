"""Smoke test of the benchmark: every workload once, on small inputs
(tables in the sf0.001 shape, 80-row CSV files), checking that
every end-to-end metric is reported with its unit, that no job failed
and that the run left nothing behind under ``data/``.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import workloads  # noqa: E402

SMOKE = {
    "llm_prep": lambda: workloads.QueryWorkload(
        "llm_prep", workloads.LLM_QUERIES, scale=0.01),
    "snapshot_ingest": lambda: workloads.SnapshotWorkload(
        "snapshot_ingest", n_csv=2, rows_per_file=80, n_xlsx=1),
}


@pytest.mark.parametrize("name", workloads.WORKLOADS)
def test_workload_reports_every_metric(name, monkeypatch, capsys):
    monkeypatch.setattr(workloads, "make", lambda n: SMOKE[n]())
    data_before = run.tree_paths(run.DATA)
    code = run.main(["--workload", name, "--seed", "7", "--seconds", "0",
                     "--trace", "0"])
    lines = capsys.readouterr().out.strip().splitlines()
    result, report = json.loads(lines[-1]), json.loads(lines[-2])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert code == 0, report["failures"]
    assert result["correct"] and result["failed"] == 0
    assert report["error_rate"] == 0
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert set(result["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    for m in spec["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0
        assert report["samples"][m["name"]] >= 1
    # the run removed everything it added under data/ (artifact caches)
    assert run.tree_paths(run.DATA) <= data_before
